"""Text analysis: tokenization, stats, language-ID, fingerprinting.

All JVM-side column expressions (whole-stage codegen; no Python in the hot
path) so they hold up on a 100 TB documents table.  Every function here has
an exact ANSI-SQL twin runnable by DuckDB — the driver's correctness oracle
— because the hashing primitive is md5 (bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
#: Restricted to constructs with identical semantics in Java regex (Spark)
#: and RE2 (DuckDB).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholder
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def words(col: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(col), r"\s+")


def word_shingles(col: Column | str, n: int) -> Column:
    """All word n-grams of ``col`` joined by single spaces; shorter texts
    yield their full token string as the single shingle.

    Built from ``transform(sequence(...), slice(...))`` — pure Catalyst
    expressions, no UDF.  The token array is LET-BOUND as the lambda
    variable of an outer single-element ``transform`` before the
    per-position inner lambda runs: higher-order functions evaluate
    interpreted per element, so referencing ``split(text)`` directly
    inside the inner lambda re-splits the text at EVERY position —
    O(tokens²) per document (measured 29 s vs 1.3 s for the same
    explode at the 10× scale tier).  The binding makes it O(tokens).
    """
    toks = words(col)
    grams_bound = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " "))),
        1)
    full = F.array(F.array_join(toks, " "))
    return F.when(F.size(toks) >= n, grams_bound).otherwise(full)


def token_count(col: Column | str,
                pattern: str = TOKEN_PATTERN) -> Column:
    """Count of regex tokens (the BPE-ish tokenizer length proxy)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality stats: lengths, token counts, ratios.

    Quality-scoring features of the usual LLM-data pipelines
    (length/stopword/distinct ratios), all as built-in expressions.
    """
    toks = words(text_col)
    n_toks = F.size(toks)
    stop_hits = F.size(F.array_intersect(toks, F.lit(list(STOPWORDS))))
    return df.select(
        "*",
        F.length(text_col).alias("n_chars_computed"),
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / n_toks).alias("distinct_ratio"),
        ((F.length(text_col) - (n_toks - 1)) / n_toks)
        .alias("avg_token_len"),
        (stop_hits / F.size(F.array_distinct(toks)))
        .alias("stopword_distinct_ratio"),
        token_count(text_col).alias("n_bpe_tokens"),
    )


def unigram_stats(df: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Corpus-statistical quality scoring (two passes over the corpus):
    build the corpus unigram frequency table, then aggregate each
    document's tokens against it — the "how ordinary is this
    document's vocabulary" signal that per-row length/ratio heuristics
    (:func:`text_stats`) cannot see.

    Returns ``(id, n_tokens, avg_token_count, hapax_share)``:
    ``avg_token_count`` is the mean corpus count of the document's
    tokens (high = boilerplate-common vocabulary — a dedup/quality
    flag), ``hapax_share`` the fraction of its tokens appearing exactly
    once in the whole corpus (high = rare or noisy vocabulary).  All
    arithmetic is RATIONAL — integer counts and one exact IEEE double
    division — no transcendental functions, so the DuckDB twin hashes
    bit-identically (a log-probability variant would hinge on two
    libms agreeing beyond the IEEE-guaranteed ops).

    Scale shape: pass 1 is explode → groupBy(token) — one map-side-
    combined shuffle whose output is |vocab| rows, not |corpus|;
    pass 2 re-explodes and equi-joins token → count (AQE broadcasts a
    small vocab; at web scale it is a shuffle join on the token key)
    and re-aggregates per document.  Nothing lands on the driver.

    SIZE-GATED PIN (r17, landing the r16 sf1-crossover measurement):
    the token expansion feeds both passes; on a SMALL corpus
    recomputing it wins (the duplicate explode branches run in
    parallel across idle cores while a persist serializes through a
    materialization barrier — pin lost 0.77→1.34 s at sf0.1), on a
    larger one the pin wins (3.86→3.35 s at the synthetic sf1 tier;
    the crossover sits between 100 k and 1 M docs).  The choice is
    gated on the input's optimizer-estimated scan size
    (driver-side, no job) against config
    ``text.pin_tokens_min_input_bytes`` (``dedup.pin_if_large``); the
    pinned frame releases through the dedup-family caller contract
    (``unpersist_intermediates``), and harnesses that repeat queries
    clear the cache between repeats as before.
    """
    from .dedup import _attach_cached, pin_if_large
    tok_rows, handles = pin_if_large(
        df.select(F.col(id_col), F.explode(words(text_col)).alias("__tok")),
        df, "text.pin_tokens_min_input_bytes")
    vocab = tok_rows.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__cnt"))
    n = F.count(F.lit(1)).cast("double")
    out = (tok_rows.join(vocab, on="__tok")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                (F.sum("__cnt").cast("double") / n)
                .alias("avg_token_count"),
                (F.sum((F.col("__cnt") == 1).cast("long"))
                 .cast("double") / n).alias("hapax_share")))
    return _attach_cached(out, *handles)


def bigram_lm_score(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text",
                    rare_max_count: int = 2) -> DataFrame:
    """Corpus-bigram language-model scoring — the CCNet-style "does
    this document read like the corpus" signal, without an external
    KenLM model: the LM is trained on the corpus itself in the same
    job.

    For every adjacent token pair the conditional MLE
    ``P(w2 | w1) = c(w1 w2) / c(w1·)`` is computed from corpus-wide
    counts, where ``c(w1·)`` is the number of bigram rows whose first
    token is ``w1`` — so the distribution sums to 1 per context and
    every document bigram has count ≥ 1 by construction (it came from
    the corpus; no smoothing needed).  Returns one row per document
    with ≥ 2 tokens:

    - ``n_bigrams`` — adjacent-pair count (exact long);
    - ``mean_cond_p`` — mean conditional probability, rounded to 6 dp
      (high = the document's word transitions are corpus-typical;
      low = unusual phrasing, noise, or another register).  The mean
      of IEEE-exact divisions is summed in engine order, hence the
      rounding — the same device the cosine queries use;
    - ``rare_bigram_share`` — fraction of its bigrams whose corpus
      count is ≤ ``rare_max_count`` (exact: integer counts, one
      division).

    A true perplexity needs ``ln`` and is monotone in these per-pair
    probabilities; the rational form is kept so the DuckDB twin hashes
    bit-identically (same reasoning as :func:`unigram_stats`).

    Scale shape: one explode of adjacent pairs, then TWO map-side-
    combined groupBys over the pair rows (bigram counts, context
    counts) whose outputs are |bigram vocab| / |vocab| rows, joined
    back on the pair key and re-aggregated per document.  AQE
    broadcasts small count tables; at web scale both joins are hash
    shuffles on the token keys.  Nothing lands on the driver.
    """
    pair_rows = (df.where(F.size(words(text_col)) >= 2)
                 .select(F.col(id_col),
                         F.explode(word_shingles(text_col, 2))
                         .alias("__pair")))
    cb = pair_rows.groupBy("__pair").agg(
        F.count(F.lit(1)).alias("__cb"))
    # context counts reduce from the SMALL bigram-count table —
    # c(w1·) = Σ_w2 c(w1 w2) — so the exploded pair table shuffles
    # for exactly one join (on the pair key) instead of two
    cu = (cb.groupBy(F.substring_index("__pair", " ", 1).alias("__w1"))
          .agg(F.sum("__cb").alias("__cu")))
    probs = (cb.withColumn("__w1",
                           F.substring_index("__pair", " ", 1))
             .join(cu, on="__w1")
             .select("__pair", "__cb",
                     (F.col("__cb").cast("double") / F.col("__cu"))
                     .alias("__p")))
    n = F.count(F.lit(1))
    return (pair_rows
            .join(probs, on="__pair")
            .groupBy(id_col)
            .agg(n.cast("long").alias("n_bigrams"),
                 F.round(F.avg("__p"), 6).alias("mean_cond_p"),
                 (F.sum((F.col("__cb") <= rare_max_count).cast("long"))
                  .cast("double") / n.cast("double"))
                 .alias("rare_bigram_share")))


def language_id(df: DataFrame, text_col: str = "text",
                out_col: str = "lang_pred") -> DataFrame:
    """Marker-lexicon language heuristic: score = count of DISTINCT marker
    words present; argmax with lexicographic tie-break.

    The classic fasttext-style langid is out of scope (no model deps); this
    deterministic heuristic exercises the same plumbing and has an exact
    SQL twin.
    """
    toks = F.array_distinct(words(text_col))
    scores = {lang: F.size(F.array_intersect(toks, F.lit(list(markers))))
              for lang, markers in sorted(LANG_MARKERS.items())}
    # argmax with lexicographic tiebreak: fold over sorted langs, strictly
    # greater wins (first/lowest lang wins ties)
    best_lang = F.lit(None).cast("string")
    best_score = F.lit(-1)
    for lang, score in scores.items():
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return df.withColumn(out_col, best_lang)


#: modulus for the rolling fingerprint (2^40 keeps 31*acc+h < 2^63)
FP_MOD = 1 << 40


def fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    md5-hashed tokens, mod 2^40.

    ``fp = fold(tokens, 0, (acc, t) -> (acc*31 + md5_long(t) % M) % M)`` —
    the reference-free analog of a rolling-hash fingerprint, exact-oracle
    reproducible in DuckDB via ``list_reduce``.
    """
    from .dedup import md5_long
    toks = words(col)
    return F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31) + md5_long(t) % F.lit(FP_MOD))
        % F.lit(FP_MOD))


def chunk_documents(df: DataFrame, *, id_col: str, text_col: str,
                    chunk_tokens: int = 512,
                    overlap: int = 0) -> DataFrame:
    """Explode documents into fixed-token training windows:
    ``(id, chunk_id, chunk_text, n_tokens)``, one row per window of
    ``chunk_tokens`` whitespace tokens advancing by
    ``chunk_tokens - overlap`` — the packing step every sequence-model
    pipeline runs before batching.

    Pure Catalyst (``split`` → ``sequence``/``posexplode`` →
    ``slice``/``array_join``): scan-speed at any scale, no UDF, and
    exactly replayable in DuckDB (``generate_series`` +
    ``list_slice``), so chunk boundaries are oracle-checkable.  The
    final window may be shorter; a document shorter than one window
    yields a single chunk; chunking is deterministic in the document
    alone (no partitioning dependence).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    # NULL text: size(split(NULL)) is -1 in Spark, which would emit a
    # negative-n_tokens row; coalesce to '' so a null doc yields the
    # same single empty chunk as an empty doc (DuckDB replay agrees)
    toks = words(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    # windows fully covering n tokens: ceil(max(n - overlap, 1)/stride)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride))
        .cast("int"), F.lit(1))
    starts = F.sequence(F.lit(0), n_chunks - F.lit(1))
    out = (df.select(F.col(id_col), toks.alias("__toks"),
                     F.posexplode(starts).alias("__i", "__start"))
           .select(
               id_col,
               F.col("__i").cast("long").alias("chunk_id"),
               F.array_join(
                   F.slice(F.col("__toks"),
                           F.col("__start") * F.lit(stride) + F.lit(1),
                           F.lit(chunk_tokens)), " ").alias("chunk_text"),
               F.least(
                   F.size(F.col("__toks"))
                   - F.col("__start") * F.lit(stride),
                   F.lit(chunk_tokens)).cast("long").alias("n_tokens")))
    return out


def pack_sequences(df: DataFrame, *, id_col: str,
                   order_col: str, token_col: str,
                   context_len: int) -> DataFrame:
    """Greedy sequence packing: assign each group's chunks (in
    ``order_col`` order) to consecutive training bins of at most
    ``context_len`` tokens — the packing-efficiency step between
    chunking and batching (unpacked short sequences waste context
    window; greedy next-fit recovers most of it at zero shuffle cost
    beyond one hash partition).

    Adds ``bin`` (0-based within the group) and ``bin_fill`` (tokens
    in the bin after placing the chunk).  A chunk larger than
    ``context_len`` gets a bin of its own (never split, never
    dropped).  ``id_col`` is ANY grouping axis: the document id for
    strict per-document isolation, or a deterministic shard key to
    pack chunks from many short documents together -- the usual web
    corpus case, where cross-document packing is the difference
    between ~20% and ~85% context utilization
    (examples/ex_training_corpus.py measures both).

    The scan is inherently sequential PER GROUP (each placement
    depends on the previous fill), but per-group UDF dispatch is NOT
    the right physical shape: real corpora have millions of tiny
    groups and ``groupBy().applyInPandas`` pays a Python invocation
    per group (measured 117 s for 45 k documents at sf1).  Instead
    the frame is hash-repartitioned on ``id_col`` and sorted within
    partitions on ``(id_col, order_col)``; a ``mapInPandas``
    generator then streams whole Arrow batches, carrying
    (group, bin, fill) state across batch boundaries -- the same
    single exchange, ONE Python invocation per partition, and the
    sequential dependency reduced to a cheap row loop (same sf1
    input: 8.4 s end-to-end including the chunking scan).  Groups are
    contiguous within a partition by construction (hash partition +
    sort), so results are identical.  Deterministic in the group's
    rows alone, so the whole operator replays exactly in SQL (a
    per-group recursive CTE) -- the oracle for the graded entry.
    """
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    clash = {"bin", "bin_fill"} & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_sequences adds {sorted(clash)} but the input "
            f"already has such column(s) -- drop or rename them first "
            f"(e.g. when re-packing an already-packed frame)")
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(list(df.schema.fields)
                            + [StructField("bin", LongType()),
                               StructField("bin_fill", LongType())])
    parts = df.repartition(F.col(id_col)) \
        .sortWithinPartitions(id_col, order_col)

    def pack_stream(batches):
        sentinel = object()
        cur_gid, cur_bin, cur_fill = sentinel, 0, 0
        for pdf in batches:
            gids = pdf[id_col].to_numpy()
            toks = pdf[token_col].to_numpy()
            bins = np.empty(len(pdf), dtype=np.int64)
            fills = np.empty(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                gid, n = gids[i], int(toks[i])
                # NULL group ids: Arrow->pandas turns a nullable long
                # column into float64 with NaN, and NaN != NaN would
                # reset the group on EVERY null row — canonicalize to
                # None so all nulls pack as ONE group, matching what a
                # groupBy on the column does (nulls sort together, so
                # they are contiguous here)
                if isinstance(gid, float) and gid != gid:
                    gid = None
                if cur_gid is sentinel or gid != cur_gid:
                    cur_gid, cur_bin, cur_fill = gid, 0, 0
                elif cur_fill and cur_fill + n > context_len:
                    cur_bin += 1
                    cur_fill = 0
                cur_fill += n
                bins[i] = cur_bin
                fills[i] = cur_fill
            out = pdf.copy()
            out["bin"] = bins
            out["bin_fill"] = fills
            yield out

    return parts.mapInPandas(pack_stream, out_schema)


def winnow_fingerprints(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token gram,
    then keep the MINIMUM hash of each window of ``window`` consecutive
    gram hashes.  The selection guarantee is what makes it the classic
    substring-fingerprint scheme: any shared substring of at least
    ``k + window - 1`` tokens contributes at least one IDENTICAL
    fingerprint to both documents, while only ~``2/(window+1)`` of all
    gram hashes are kept — an index ~``(window+1)/2``× smaller than
    full shingling for the same long-match recall.

    Returns exploded ``(id, fp)`` rows, DISTINCT per document —
    shared-fingerprint equi-joins (dedup candidates, plagiarism /
    provenance lookups) compose directly.  Documents with fewer than
    ``k`` tokens have no grams and are absent; with fewer than
    ``window`` grams the single global minimum is kept.  The hash is
    ``md5_long`` (60-bit), so ties inside a window are ~impossible and
    min-by-VALUE selection is deterministic and replayed exactly by
    the DuckDB twin.

    Scale shape: one projection builds the gram-hash array per
    document (token array let-bound — O(tokens), see
    :func:`word_shingles`), the window minima are a per-row array
    expression (no shuffle at all), and the only exchange is whatever
    the CALLER does with the fingerprints.  Per-row cost is
    O(grams × window) comparisons — ``window`` is a small constant.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if window < 1:
        raise ValueError("window must be >= 1")
    from .dedup import md5_long
    hashes = (df.where(F.size(words(text_col)) >= k)
              .select(F.col(id_col),
                      F.transform(word_shingles(text_col, k), md5_long)
                      .alias("__h")))
    mins = F.when(
        F.size("__h") >= window,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size("__h") - F.lit(window - 1)),
            lambda i: F.array_min(F.slice("__h", i, window))))
    ).otherwise(F.array(F.array_min("__h")))
    return (hashes.select(F.col(id_col), F.explode(mins).alias("fp"))
            .distinct())


def lm_quality_buckets(df: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text",
                       cuts: tuple = (1 / 3, 2 / 3),
                       labels: tuple = ("tail", "middle", "head"),
                       rare_max_count: int = 2) -> DataFrame:
    """CCNet-style corpus quality buckets: split the corpus into
    head / middle / tail by language-model score quantiles (Wenzek et
    al. 2020 bucket Common Crawl by KenLM perplexity and train on the
    head; the bucket label is the standard mixing/curriculum knob).
    The LM is :func:`bigram_lm_score`'s corpus-trained conditional
    model — ``mean_cond_p`` is monotone-inverse to perplexity, so
    ``head`` = highest scores = most corpus-typical.

    Returns one row per document with ≥ 2 tokens:
    ``(id_col, lm_score, bucket)`` where ``bucket`` is
    ``labels[i]`` for scores ≤ the ``cuts[i]`` quantile boundary
    (first match wins; the last label catches the rest).  Quantile
    boundaries are EXACT percentiles of the rounded score
    distribution with linear interpolation, ROUNDED to 6 dp before
    comparison: Spark's ``percentile`` computes
    ``a·(h−pos) + b·(pos−l)`` where DuckDB's ``quantile_cont``
    computes ``a + frac·(b−a)`` — algebraically equal, not
    bit-identical, so the raw boundary can differ by 1 ulp; rounding
    both collapses the difference and assignment replays
    bit-identically against the 6-dp score grid.

    Scale shape: the bigram-LM pipeline (two vocab-sized groupBys +
    one pair-key join), then ONE exact-percentile aggregate over the
    per-document scores (map-side partial collection, |docs| rows in,
    one row out — never a global sort of the corpus) broadcast back
    via a cross join.  A global ``orderBy`` + ntile would funnel the
    corpus through one task; the boundary-comparison form touches
    each row once.

    The exact-percentile buffer is bounded by the SCORE GRID, not the
    corpus: ``mean_cond_p`` is rounded to 6 dp at its source
    (:func:`bigram_lm_score`) and lies in [0, 1], so the aggregate
    holds at most 1e6 + 1 distinct (value, count) entries — ≲ 24 MB
    at ANY corpus size.  The rounding is doing real scale work here;
    a score column with unbounded precision would silently inherit an
    unbounded buffer.  test_functions pins that the column entering
    ``F.percentile`` is always pre-rounded.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("labels must have exactly len(cuts) + 1 "
                         "entries (one per quantile slice)")
    if (any(a >= b for a, b in zip(cuts, cuts[1:]))
            or not all(0 < c < 1 for c in cuts)):
        # pairwise strict: sorted() alone accepts duplicate adjacent
        # cuts (e.g. (0.5, 0.5)), which silently empties a bucket
        raise ValueError("cuts must be strictly increasing, in (0, 1)")
    scored = bigram_lm_score(df, id_col=id_col, text_col=text_col,
                             rare_max_count=rare_max_count) \
        .select(id_col, F.col("mean_cond_p").alias("lm_score"))
    bounds = scored.agg(F.transform(
        F.percentile("lm_score", F.lit([float(c) for c in cuts])),
        lambda b: F.round(b, 6)).alias("__b"))
    expr = None
    for i, lab in enumerate(labels[:-1]):
        cond = F.col("lm_score") <= F.element_at("__b", i + 1)
        expr = (F.when(cond, F.lit(lab)) if expr is None
                else expr.when(cond, F.lit(lab)))
    expr = expr.otherwise(F.lit(labels[-1]))
    return (scored.crossJoin(F.broadcast(bounds))
            .select(id_col, "lm_score", expr.alias("bucket")))


def cross_lm_score(df: DataFrame, reference: DataFrame, *,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   ref_text_col: str | None = None) -> DataFrame:
    """Bigram LM scoring under a model trained on a SEPARATE reference
    corpus — the actual CCNet/KenLM deployment shape (Wenzek et al.
    2020 train on Wikipedia and score Common Crawl by perplexity;
    :func:`bigram_lm_score` is the self-trained variant).  The model is
    add-one–smoothed so out-of-reference bigrams score instead of
    dividing by zero:

    ``P(w2 | w1) = (c_ref(w1 w2) + 1) / (c_ref(w1·) + V)``

    with ``V`` = the reference's distinct-token count (the smoothing
    denominator covers every possible continuation, so the distribution
    still sums to ≤ 1 per context and unseen contexts degrade to
    ``1 / V``).  Returns one row per scored document with ≥ 2 tokens:

    - ``n_bigrams`` — adjacent-pair count (exact long);
    - ``mean_cond_p`` — mean smoothed conditional probability under
      the REFERENCE model, rounded to 6 dp (monotone-inverse in
      cross-entropy; high = reads like the reference corpus).  Kept
      rational — integer counts, one division per pair — for the same
      cross-engine bit-parity reasons as :func:`bigram_lm_score`;
    - ``oov_bigram_share`` — fraction of the document's bigrams never
      seen in the reference (exact), the "how much of this is new
      territory for the model" companion signal.

    Scale shape: the reference side reduces to a |ref bigram vocab|
    count table + a |ref vocab|-derived context table (both built with
    map-side combine; the context counts reduce from the SMALL bigram
    table, as in :func:`bigram_lm_score`); the scored side explodes
    adjacent pairs once and LEFT-joins the count tables on the pair
    key — absent rows are the smoothed-zero path, so the join stays an
    equi-join with no corpus-sized fallback.  AQE broadcasts the count
    tables when the reference is small (the Wikipedia-vs-CommonCrawl
    shape); at comparable scales both sides hash-shuffle on token keys.
    Nothing lands on the driver.
    """
    ref_text = ref_text_col or text_col
    ref_pairs = (reference.where(F.size(words(ref_text)) >= 2)
                 .select(F.explode(word_shingles(ref_text, 2))
                         .alias("__pair")))
    cb = ref_pairs.groupBy("__pair").agg(
        F.count(F.lit(1)).alias("__cb"))
    cu = (cb.groupBy(F.substring_index("__pair", " ", 1).alias("__w1"))
          .agg(F.sum("__cb").alias("__cu")))
    vocab = (reference
             .select(F.explode(words(ref_text)).alias("__w"))
             .agg(F.count_distinct("__w").alias("__v")))
    pair_rows = (df.where(F.size(words(text_col)) >= 2)
                 .select(F.col(id_col),
                         F.explode(word_shingles(text_col, 2))
                         .alias("__pair"))
                 .withColumn("__w1",
                             F.substring_index("__pair", " ", 1)))
    n = F.count(F.lit(1))
    scored = (pair_rows
              .join(cb, on="__pair", how="left")
              .join(cu, on="__w1", how="left")
              .crossJoin(F.broadcast(vocab))
              .select(
                  id_col,
                  ((F.coalesce(F.col("__cb"), F.lit(0)).cast("double")
                    + 1.0)
                   / (F.coalesce(F.col("__cu"), F.lit(0)).cast("double")
                      + F.col("__v").cast("double"))).alias("__p"),
                  F.col("__cb").isNull().cast("long").alias("__oov")))
    return (scored.groupBy(id_col)
            .agg(n.cast("long").alias("n_bigrams"),
                 F.round(F.avg("__p"), 6).alias("mean_cond_p"),
                 (F.sum("__oov").cast("double") / n.cast("double"))
                 .alias("oov_bigram_share")))


def cdc_chunks(df: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text", shingle_size: int = 4,
               boundary_mod: int = 8, min_tokens: int = 1) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall where the
    rolling fingerprint of the last ``shingle_size`` tokens hashes to
    0 mod ``boundary_mod`` — so an insertion or deletion reshuffles
    only the chunks it touches, not every downstream boundary (the
    property fixed-stride :func:`chunk_documents` lacks, and the
    reason storage/dedup systems chunk this way).  Chunk-level exact
    dedup over CDC chunks catches duplicated passages that
    stride-chunking splits across windows.  Expected chunk length is
    ``boundary_mod`` tokens; boundaries are a pure function of the
    token stream (no RNG, no partitioning dependence).

    Returns ``(id_col, chunk_id, chunk_text, n_tokens)`` — one row per
    chunk, ``chunk_id`` 0-based in document order; a document shorter
    than ``shingle_size`` tokens yields itself as a single chunk.
    ``min_tokens`` enforces production CDC's minimum chunk size by
    skipping boundaries closer than that to the last accepted one
    (the tail chunk still closes at the document end and may be
    shorter).

    Pure Catalyst: the boundary scan is one ``filter`` over token
    positions hashing the let-bound token array (md5 of the joined
    shingle → first 15 hex chars as int64, the dedup family's shared
    cross-engine primitive), the (start, end] pairing is a
    ``zip_with`` over the boundary array bound ONCE as a lambda
    variable (higher-order functions re-evaluate referenced
    expressions per element — the O(n²) trap documented on
    :func:`word_shingles`).  Exactly replayable in DuckDB
    (``list_filter`` + ``list_slice`` + the same md5 arithmetic), so
    chunk boundaries are oracle-checkable.
    """
    if shingle_size < 1:
        raise ValueError("shingle_size must be >= 1")
    if boundary_mod < 1:
        raise ValueError("boundary_mod must be >= 1")
    if min_tokens < 1:
        raise ValueError("min_tokens must be >= 1")
    k, m = shingle_size, boundary_mod
    toks = words(F.coalesce(F.col(text_col), F.lit("")))

    def gram_hash(t, i):
        return F.conv(
            F.substring(F.md5(F.array_join(F.slice(t, i - F.lit(k - 1),
                                                   k), " ")), 1, 15),
            16, 10).cast("long")

    # boundary positions in [k, n] (token index of each shingle END),
    # always closed by n; n < k degenerates to the single chunk [0, n]
    bounds = F.element_at(
        F.transform(F.array(toks), lambda t: F.when(
            F.size(t) >= k,
            F.filter(F.sequence(F.lit(k), F.size(t)),
                     lambda i: gram_hash(t, i) % m == 0))
            .otherwise(F.array().cast("array<int>"))), 1)
    if min_tokens > 1:
        # production CDC's minimum chunk size: a left fold accepts a
        # boundary only when it is >= min_tokens past the last ACCEPTED
        # one (sequential by nature — expressible as one aggregate over
        # the boundary array, O(|bounds|) per doc).  The tail chunk
        # closes at n regardless and may be shorter (standard CDC).
        bounds = F.aggregate(
            bounds, F.array().cast("array<int>"),
            lambda acc, e: F.when(
                e - F.coalesce(F.try_element_at(acc, F.lit(-1)),
                               F.lit(0))
                >= min_tokens,
                F.concat(acc, F.array(e))).otherwise(acc))
    ends = F.array_union(bounds, F.array(F.size(toks)))
    # (start, end] pairs: ends bound once; starts = 0 ∥ ends[:-1]
    pairs = F.element_at(
        F.transform(F.array(ends), lambda e: F.zip_with(
            F.concat(F.array(F.lit(0)),
                     F.slice(e, 1, F.greatest(F.size(e) - 1, F.lit(0)))),
            e, lambda s, t: F.struct(s.alias("s"), t.alias("t")))), 1)
    return (df.select(F.col(id_col), toks.alias("__toks"),
                      F.posexplode(pairs).alias("__i", "__p"))
            .select(
                id_col,
                F.col("__i").cast("long").alias("chunk_id"),
                F.array_join(
                    F.slice(F.col("__toks"), F.col("__p.s") + 1,
                            F.col("__p.t") - F.col("__p.s")), " ")
                .alias("chunk_text"),
                (F.col("__p.t") - F.col("__p.s")).cast("long")
                .alias("n_tokens")))


def feature_hash_embeddings(df: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text", dim: int = 64,
                            normalize: bool = True) -> DataFrame:
    """Signed feature-hashing document embeddings (Weinberger et al.
    2009, the "hashing trick") — the model-free text→vector path: each
    token adds ±1 to bucket ``md5(token) % dim`` (sign from an
    independent md5 of ``'s:'+token``, which keeps the inner product
    an unbiased kernel estimate), optionally L2-normalized.  The
    output feeds the ANN/semantic-dedup family when no learned
    embedding exists — cosine over these vectors IS weighted token
    overlap, at a fixed ``dim`` regardless of vocabulary size.

    Returns SPARSE rows ``(id_col, dim, value)`` — one row per
    non-empty bucket; null/blank documents yield no rows (``value`` may be 0.0 where signs cancel; a
    fully-cancelled document keeps its raw zeros rather than dividing
    by a zero norm).  ``value`` is rounded to 6 dp; the only
    non-rational step is the L2 norm's ``sqrt``, which IEEE-754
    requires correctly rounded, so the table replays bit-identically
    in DuckDB.

    Scale shape: explode → md5 bucket/sign as WHOLE-STAGE-CODEGEN
    projections (never inside a higher-order lambda, where per-element
    interpretation would re-hash per (token, dim) pair — the
    word_shingles O(n²) trap in a new costume) → ONE map-side-combined
    groupBy on (id, bucket) whose output is ≤ min(tokens, dim) rows
    per document, then a per-document window over those bounded rows
    for the norm.  Nothing lands on the driver.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    from pyspark.sql import Window
    from .dedup import md5_long
    # null/blank documents have no tokens and therefore no rows (the
    # explode of a NULL array already drops them; the filter makes
    # blank-but-nonnull docs behave identically instead of hashing a
    # phantom '' token)
    tok = (df.where(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
           .select(F.col(id_col),
                   F.explode(words(text_col)).alias("__t")))
    hashed = tok.select(
        id_col,
        (md5_long(F.col("__t")) % dim).alias("dim"),
        F.when(md5_long(F.concat(F.lit("s:"), F.col("__t"))) % 2 == 0,
               F.lit(1)).otherwise(F.lit(-1)).alias("__sg"))
    raw = (hashed.groupBy(id_col, "dim")
           .agg(F.sum("__sg").cast("double").alias("__raw")))
    if not normalize:
        return raw.select(id_col, F.col("dim").cast("long").alias("dim"),
                          F.round("__raw", 6).alias("value"))
    w = Window.partitionBy(id_col)
    nrm = F.sqrt(F.sum(F.col("__raw") * F.col("__raw")).over(w))
    return (raw.withColumn("__nrm", nrm)
            .select(id_col,
                    F.col("dim").cast("long").alias("dim"),
                    F.round(F.when(F.col("__nrm") > 0,
                                   F.col("__raw") / F.col("__nrm"))
                            .otherwise(F.col("__raw")), 6)
                    .alias("value")))
