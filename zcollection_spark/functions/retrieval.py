"""Lexical retrieval: BM25 scoring and top-k search over a document
corpus.

Completes the retrieval family: the embedding side (``similarity.py``,
``ann_index.py``) covers dense ANN; this module covers the sparse
term-matching half every retrieval / data-curation stack pairs with it
(hard-negative mining, dedup-aware eval set construction, RAG corpus
probes).

Scale design — the corpus NEVER leaves the executors and nothing is
quadratic:

1. one explode → groupBy(doc, term) builds the term-frequency table
   (map-side combined shuffle, the only pass over full text); the
   document length rides the same expansion (let-bound token array,
   ``max`` through the aggregation) so it never needs its own pass or
   join;
2. the corpus-wide (N, avgdl) scalars reduce in one pass to a single
   row that attaches via a broadcast cross join;
3. the query-term table (small by contract — queries are a probe set,
   not a second corpus) joins the tf table with a broadcast hint, so
   document frequencies and per-(query, doc) scores are computed only
   for matched terms — a stopword-ish query term matches many docs,
   but never more than one row per (term, containing doc);
4. top-k per query runs in two stages (partial top-k per deterministic
   salt bucket, then global), so one query matching half the corpus
   cannot serialize through a single window task.

Every step is built-in Catalyst expressions (whole-stage codegen; no
Python).  Scores use the Robertson/Sparck-Jones BM25 idf
``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always positive — with the
standard ``k1``/``b`` saturation.  ``ln`` is the one non-IEEE-exact
operation in this module: Java's ``Math.log`` and DuckDB's libm ``log``
are each within 1 ulp, so scores are rounded (default 6 dp) BEFORE
ranking, which keeps ranks and values bit-identical across engines in
the oracle twin (the same device the cosine-similarity queries use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _attach_cached, md5_long, pin_if_large
from .text import words

#: salt buckets for the two-stage top-k (stage 1 caps any single
#: window task at ~matched_docs/64 rows; 64 keeps stage 2 at 64*k rows
#: per query — trivially small for any practical k)
_TOPK_SALT_BUCKETS = 64


def bm25_scores(corpus: DataFrame, queries: DataFrame, *,
                id_col: str, text_col: str,
                query_id_col: str = "query_id",
                query_text_col: str = "query_text",
                k1: float = 1.2, b: float = 0.75,
                round_to: int = 6) -> DataFrame:
    """BM25 score for every (query, document) pair sharing ≥1 term.

    Returns ``(query_id_col, id_col, score)``.  Duplicate query terms
    score once (the usual set-of-terms simplification).  Documents
    sharing no term with a query are absent (their BM25 score is 0).

    ``queries`` rides a broadcast hint — it is the probe set and must
    be small (thousands, not millions); the corpus side stays fully
    distributed.  The probe-set contract is ENFORCED, not assumed: the
    exploded (query, term) frame is counted against the
    ``retrieval.broadcast_terms_cap`` config before any broadcast hint
    applies, and an oversized probe set raises a loud
    :class:`~zcollection_spark.errors.DriverBoundExceededError`
    instead of dying as an executor broadcast / driver OOM (the same
    bounded-collect discipline as ``brute_force_topk``).

    The gate makes this call EAGER on ``queries`` and evaluates its
    lineage twice (once for the count, once for the real broadcast) —
    so ``queries`` must be deterministic across evaluations: a
    nondeterministic source (``rand()`` filter, unstable ``limit``
    over an unordered scan) could pass the gate yet exceed the cap in
    the join.  Persist or ``localCheckpoint()`` such a frame before
    calling; a deterministic probe table (the normal case) needs
    nothing.
    """
    if round_to < 0:
        raise ValueError("round_to must be >= 0")
    from .. import config
    from ..errors import DriverBoundExceededError
    # Document length RIDES the token expansion (r17, guide §2.4/§1.2):
    # the token array is let-bound in its own projection (split runs
    # once per row — Catalyst does not collapse a non-cheap alias
    # referenced twice), size() reads the bound array, and __dl is
    # carried through the tf aggregation as max(__dl) (constant per
    # document, so max == the value).  The r16 shape computed a
    # separate per-row dl frame and equi-joined it into the scored
    # rows — one extra full corpus tokenize pass, plus a corpus-sized
    # join on the doc id that at web scale is a shuffle of |docs| rows
    # (locally AQE broadcasts it; either way it is pure overhead).
    # Interleaved A/B at sf0.1: best 1.68→1.34 s, median 1.81→1.44 s,
    # collect() bit-identical.  Null-text documents are absent from
    # the token expansion (explode of a null array yields no rows),
    # matching the old dl frame's isNotNull filter.
    tok = (corpus
           .select(F.col(id_col), words(text_col).alias("__w"))
           .select(F.col(id_col), F.size("__w").alias("__dl"),
                   F.explode("__w").alias("__term")))
    # corpus scalars: one row, exact integer count then one division —
    # deterministic; joined back via a broadcast cross join (no
    # collect).  One scan, no explode, no shuffle (partial agg).
    stats = (corpus.where(F.col(text_col).isNotNull())
             .agg(F.count(F.lit(1)).alias("__n_docs"),
                  F.avg(F.size(words(text_col))).alias("__avgdl")))
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(words(query_text_col)))
        .alias("__term"))
    # size gate: one bounded action over the (small) query frame only —
    # limit(cap+1) keeps even the check itself bounded.  Both broadcast
    # frames below (qterms and the per-term dfreq derived from it) are
    # ≤ this row count, so one gate covers them.
    cap = config.get("retrieval.broadcast_terms_cap")
    if qterms.limit(cap + 1).count() > cap:
        raise DriverBoundExceededError(
            f"bm25_scores broadcasts the exploded (query, term) probe "
            f"frame; it exceeds {cap} rows (config "
            f"'retrieval.broadcast_terms_cap').  The query side is a "
            f"probe set by contract — batch the queries, or raise the "
            f"cap if the cluster's broadcast budget allows.")
    # prune BEFORE the aggregation (r16, guide §3.2/§2.3): the
    # broadcast term filter drops non-matching tokens at the SCAN, so
    # the tf exchange carries only matched tokens — at any corpus
    # size the aggregation shuffles probe-matched rows, never the
    # full token expansion.  Filter-then-count equals the old
    # count-then-semi-join row for row.
    matched = (tok.join(F.broadcast(qterms.select("__term").distinct()),
                        on="__term")
               .groupBy(id_col, "__term")
               .agg(F.count(F.lit(1)).alias("__tf"),
                    F.max("__dl").alias("__dl")))
    # per-term document frequency over the full corpus — counting the
    # matched tf rows per term IS the corpus df (the broadcast
    # term filter above dropped terms, never containing docs)
    dfreq = matched.groupBy("__term").agg(
        F.count(F.lit(1)).alias("__df"))
    scored_terms = (matched
                    .join(F.broadcast(dfreq), on="__term")
                    .crossJoin(F.broadcast(stats))
                    .join(F.broadcast(qterms), on="__term"))
    idf = F.log(F.lit(1.0)
                + (F.col("__n_docs") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5)))
    tf_norm = (F.col("__tf") * F.lit(k1 + 1.0)
               / (F.col("__tf")
                  + F.lit(k1) * (F.lit(1.0 - b)
                                 + F.lit(b) * F.col("__dl")
                                 / F.col("__avgdl"))))
    return (scored_terms
            .groupBy(query_id_col, id_col)
            .agg(F.round(F.sum(idf * tf_norm), round_to).alias("score")))


def bm25_topk(corpus: DataFrame, queries: DataFrame, *,
              id_col: str, text_col: str,
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              round_to: int = 6) -> DataFrame:
    """Top-``k`` documents per query by BM25, deterministic ranks.

    Returns ``(query_id_col, id_col, score, rank)`` with ``rank`` 1-based
    per query; ties in the (rounded) score break by ascending document
    id, so the result is a pure function of the corpus + queries.

    Two-stage top-k: a partial top-k inside each of
    ``_TOPK_SALT_BUCKETS`` deterministic md5 buckets of the doc id,
    then the global rank over the ≤ ``64*k`` survivors per query —
    identical result to a single global window (top-k of bucket top-ks
    is the global top-k under one total order), without ever funneling
    a popular query's full match set through one task.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    scored = bm25_scores(corpus, queries, id_col=id_col,
                         text_col=text_col, query_id_col=query_id_col,
                         query_text_col=query_text_col, k1=k1, b=b,
                         round_to=round_to)
    order = [F.col("score").desc(), F.col(id_col).asc()]
    salt = F.pmod(md5_long(F.col(id_col).cast("string")),
                  F.lit(_TOPK_SALT_BUCKETS))
    stage1 = (scored
              .withColumn("__salt", salt)
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy(query_id_col, "__salt")
                  .orderBy(*order)))
              .where(F.col("__rn") <= k).drop("__salt", "__rn"))
    return _attach_cached(
        stage1
        .withColumn("rank", F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(*order)))
        .where(F.col("rank") <= k),
        *getattr(scored, "_zc_cached", ()))


def rrf_fuse(ranked: list[DataFrame], *, id_col: str,
             query_col: str = "query_id", rank_col: str = "rank",
             k: int = 60, weights: list[float] | None = None,
             topk: int | None = None,
             round_to: int = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of N
    ranked lists — the standard way to combine a sparse (BM25) and a
    dense (ANN) ranking into one hybrid result without score
    calibration, since it consumes only RANKS:

        rrf(q, d) = Σ_i  w_i / (k + rank_i(q, d))

    over the lists that contain ``(q, d)``.  Returns
    ``(query_col, id_col, rrf_score, n_lists, rank)`` — ``n_lists``
    is how many input lists ranked the item (an agreement signal),
    ``rank`` the 1-based fused rank per query with ties broken by
    ascending id.  ``rrf_score`` is rounded BEFORE ranking (each term
    is one exact IEEE division; only the sum is engine-order-
    dependent), so values and ranks replay bit-identically in SQL.

    If one input list carries the same ``(query, id)`` more than once
    (a retriever output unioned across shards, say), its BEST rank
    wins for that list — duplicates never inflate ``rrf_score`` or
    ``n_lists``.  The dedup is one aggregate per list; the lists are
    top-k sized by contract, so the cost is negligible.

    Scale shape: the inputs are already top-k lists (tiny by
    construction), so this is a union + one map-side-combined groupBy
    + one window — negligible next to the component retrievals.
    """
    if not ranked:
        raise ValueError("ranked must contain at least one DataFrame")
    if k < 1:
        raise ValueError("k must be >= 1")
    if weights is not None and len(weights) != len(ranked):
        raise ValueError("weights must match ranked in length")
    if weights is not None and any(w < 0 for w in weights):
        # a negative weight would also invert the best-rank-wins
        # dedup (max contribution would pick the WORST rank)
        raise ValueError("weights must be non-negative")
    parts = []
    for i, df in enumerate(ranked):
        w = 1.0 if weights is None else float(weights[i])
        contrib = F.lit(w) / (F.lit(float(k)) + F.col(rank_col))
        # best-rank-wins within a list: max contribution == min rank
        parts.append(df.groupBy(query_col, id_col)
                     .agg(F.max(contrib).alias("__contrib")))
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = (allc.groupBy(query_col, id_col)
             .agg(F.round(F.sum("__contrib"), round_to)
                  .alias("rrf_score"),
                  F.count(F.lit(1)).cast("long").alias("n_lists")))
    out = fused.withColumn("rank", F.row_number().over(
        Window.partitionBy(query_col)
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())))
    if topk is not None:
        if topk < 1:
            raise ValueError("topk must be >= 1")
        out = out.where(F.col("rank") <= topk)
    # propagate any pinned intermediates from the input lists so the
    # caller's unpersist_intermediates releases them too
    inherited = [h for df in ranked
                 for h in getattr(df, "_zc_cached", ())]
    return _attach_cached(out, *inherited) if inherited else out


def tfidf_topk(corpus: DataFrame, *, id_col: str, text_col: str,
               k: int = 10, round_to: int = 6) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF
    — the classic sparse document representation (keyword extraction,
    topic labeling, cluster naming, index-time term selection).

    Returns ``(id_col, term, tf, score, rank)``: ``tf`` the exact
    in-document term count, ``score = tf · (ln((N+1)/(df+1)) + 1)``
    (the sklearn ``smooth_idf`` form — never negative, never a zero
    divide), rounded to ``round_to`` dp BEFORE ranking; ``rank``
    1-based per document by descending score with ties broken by
    ascending term, so the result is a pure function of the corpus.

    Scale shape: one explode → groupBy(doc, term) builds the tf table
    (the only pass over full text, map-side combined); document
    frequencies reduce from that table (|vocab| rows); N reduces from
    the df rows and rides a broadcast cross join.  The top-k window
    partitions by DOCUMENT — per-group row count is bounded by the
    document's distinct-term count, never by the corpus, so no salt
    stage is needed (unlike the per-query windows in ``bm25_topk``
    where one query can match half the corpus).

    UNIQUE-ID CONTRACT (r16 advice): ``id_col`` must identify each
    corpus row uniquely.  N is a plain count of non-null-text rows
    (equal to the old ``tf.select(id).distinct()`` for unique ids,
    since ``words('')`` is ``['']``); duplicate id rows would inflate
    N while tf/df still merge those rows, silently shifting scores.
    ``bm25_scores`` carries the same implicit assumption (its tf
    aggregation groups on ``id_col``).

    SIZE-GATED PIN (r17): the tf table feeds the df reduction and the
    scoring join; without a pin each consumer re-tokenizes the corpus
    (no cross-branch CSE).  Recompute wins on small corpora (the
    duplicate passes overlap across idle cores — pin lost 1.08→1.32 s
    best at sf0.1) and loses on larger ones (pin won 4.95→3.78 s at
    the synthetic sf1 tier), so the pin engages when the corpus'
    optimizer-estimated scan size reaches config
    ``retrieval.pin_tf_min_input_bytes`` — the same crossover-gated
    device as ``unigram_stats``.  The pinned frame releases through
    the dedup-family caller contract (``unpersist_intermediates``).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if round_to < 0:
        raise ValueError("round_to must be >= 0")
    tok = corpus.select(F.col(id_col),
                        F.explode(words(text_col)).alias("term"))
    tf, handles = pin_if_large(
        tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")),
        corpus, "retrieval.pin_tf_min_input_bytes")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    # N is a plain corpus count (r16, guide §1.2): every non-null-text
    # document contributes ≥1 token (words('') is ['']), so counting
    # rows equals the old tf.select(id).distinct() — without that
    # path's full re-tokenize + explode + distinct shuffle.
    n_docs = (corpus.where(F.col(text_col).isNotNull())
              .agg(F.count(F.lit(1)).cast("double").alias("__n")))
    scored = (tf.join(dfreq, on="term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score", F.round(
                  F.col("tf") * (F.log((F.col("__n") + F.lit(1.0))
                                       / (F.col("__df") + F.lit(1.0)))
                                 + F.lit(1.0)), round_to)))
    return _attach_cached(
        scored
        .withColumn("rank", F.row_number().over(
            Window.partitionBy(id_col)
            .orderBy(F.col("score").desc(), F.col("term").asc())))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score", "rank"),
        *handles)
