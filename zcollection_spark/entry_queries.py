"""Driver-contract query registry: Spark queries + exact DuckDB oracles.

Every operator from SURVEY.md §2 (and the LLM-pipeline extras) gets a
``queries()`` entry returning a DataFrame plus an ``oracle_sql()`` ANSI-SQL
twin the driver runs through DuckDB on the same parquet tables.  Design
rules that make the hash-match hold:

- every computed column aliased identically on both sides;
- float aggregations go through DECIMAL casts (exact arithmetic on both
  engines) or are rounded where bit-parity is expected anyway;
- the hashing primitive everywhere is md5 (bit-identical across engines);
- integer arithmetic stays below 2^63 (Spark 4 runs ANSI mode).

Collections are materialized once per process in a temp dir (deterministic
contents, so caching is sound); queries that MUTATE collection state
(merges, update) build their final state once and only query it afterward.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import (Date, GroupedSequence, Sequence,
               create_collection, upsert_within)
from .data import load_table
from .indexing import Indexer, ranges_for
from .schema import VariableSchema, infer_schema
from .view import View
from .functions import (brute_force_topk, dedup_exact, fingerprint,
                        language_id, lsh_candidate_pairs,
                        minhash_signatures, ngram_jaccard_pairs, text_stats,
                        attach_fake_payload, extract_image_features)
from .functions.text import LANG_MARKERS
from .oracles import (_SPLIT, _dedup_lsh_oracle, _ivf_oracle,
                      _ivfpq_oracle, _lsh_oracle, _minhash_oracle,
                      _semantic_dedup_oracle, _simhash_oracle)
from .oracles_sql import (JACCARD_MAX_DF, ORACLE_ASOF,
                          ORACLE_CLUSTER_REPS, ORACLE_CORPUS_PROFILE,
                          ORACLE_NGRAM_COVERAGE,
                          ORACLE_HASH_EMBEDDINGS, ORACLE_TEXT_KNN,
                          ORACLE_CDC_CHUNKS,
                          ORACLE_COLLECTION_NESTED, ORACLE_CROSS_LM,
                          ORACLE_DOMAIN_MIX,
                          ORACLE_BIGRAM_LM, ORACLE_BIG_ORDERS,
                          ORACLE_BLOOM_SKIP, ORACLE_BM25,
                          ORACLE_BOILERPLATE_STRIP, ORACLE_BROWSE_NO_BUY,
                          ORACLE_CAPPED_SAMPLE, ORACLE_CHANGES,
                          ORACLE_CHUNK_DOCUMENTS, ORACLE_CLUSTERED_WHERE,
                          ORACLE_DECONTAMINATE, ORACLE_DEDUP_CLUSTERS,
                          ORACLE_DEDUP_CONTAINMENT, ORACLE_DEDUP_EMBEDDING,
                          ORACLE_DEDUP_EXACT, ORACLE_DEDUP_JACCARD,
                          ORACLE_DEDUP_KEEP_LATEST, ORACLE_DOC_REPETITION,
                          ORACLE_DSIR_SAMPLE, ORACLE_DUP_SPANS,
                          ORACLE_EMBEDDING_CENTROIDS,
                          ORACLE_EMBEDDING_QUANTIZE, ORACLE_EVENT_GAPS,
                          ORACLE_FINGERPRINT, ORACLE_GROUPED_SEQUENCE,
                          ORACLE_HASH_SPLIT, ORACLE_HYBRID_RRF, ORACLE_INDEX,
                          ORACLE_INTERVAL_MATCH, ORACLE_KNN,
                          ORACLE_LM_BUCKETS, ORACLE_MAP_STATS,
                          ORACLE_MERGE_CONCAT, ORACLE_MERGE_TIME_SERIES,
                          ORACLE_MERGE_UPSERT, ORACLE_MERGE_UPSERT_TOLERANCE,
                          ORACLE_MULTIMODAL, ORACLE_MULTIMODAL_DECODED,
                          ORACLE_NOVELTY_SCORES, ORACLE_ORDER_PRIORITY,
                          ORACLE_PACK_SEQUENCES, ORACLE_PERCENTILES,
                          ORACLE_PRICING, ORACLE_PRIORITY_CLASS,
                          ORACLE_PROJECTION, ORACLE_PROMO_REVENUE,
                          ORACLE_QUERY_PRUNE, ORACLE_REGIONAL_REVENUE,
                          ORACLE_RETAINED_READ, ORACLE_RETURNED_LOSSES,
                          ORACLE_REVENUE_DELTA, ORACLE_REVENUE_ROLLUP,
                          ORACLE_ROLLUP, ORACLE_SEQUENCE, ORACLE_SESSIONS,
                          ORACLE_SHUFFLE_SHARDS, ORACLE_SOURCE_OVERLAP,
                          ORACLE_SOURCE_QUALITY, ORACLE_SPAN_SCRUB,
                          ORACLE_SPLIT_LEAKAGE, ORACLE_STRATIFIED_SAMPLE,
                          ORACLE_STREAMING, ORACLE_STREAMING_CHANGES,
                          ORACLE_STREAMING_DEDUP, ORACLE_STREAMING_SINK,
                          ORACLE_STREAMING_STATEFUL, ORACLE_TEXT_STATS,
                          ORACLE_TFIDF_TOPK, ORACLE_TIME_TRAVEL,
                          ORACLE_TOKEN_BUDGET, ORACLE_TOP_NGRAMS,
                          ORACLE_TOP_REVENUE, ORACLE_TRADE_FLOWS,
                          ORACLE_UNIGRAM_STATS, ORACLE_UPDATE,
                          ORACLE_UPSAMPLE_WEIGHTS, ORACLE_VIEW, ORACLE_WINNOW,
                          ORACLE_ZARR, ORACLE_ZARR_DOCUMENTS,
                          ORACLE_ZONEMAP_SKIP, ORACLE_ZORDER_WHERE)

# ---------------------------------------------------------------------------
# collection cache (deterministic builds, one per process)
# ---------------------------------------------------------------------------

_CACHE: dict = {}
_TMPROOT: list[str] = []


def _tmp() -> str:
    """This process's root for the collections the registry builds:
    made on first use, removed at exit."""
    if not _TMPROOT:
        root = tempfile.mkdtemp(prefix="zcs_entry_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _TMPROOT.append(root)
    return _TMPROOT[0]


def _cached(key, build):
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]


def _events3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("event_id", "ts",
                                                      "value")


def _events_coll(spark: SparkSession, sf_dir: str):
    """Full events table as a Date("D")-partitioned collection."""
    def build():
        events = load_table(spark, sf_dir, "events")
        coll = create_collection(
            spark, f"{_tmp()}/events_d_{abs(hash(sf_dir))}",
            schema=infer_schema(events.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(events)
        return coll
    return _cached(("events_d", sf_dir), build)


# ---------------------------------------------------------------------------
# §2.2 scans, pruning, projection
# ---------------------------------------------------------------------------

def q_collection_query_prune(spark, sf_dir):
    """Partition-predicate pushdown + projection + ordered concat
    (reference ``Collection.query``, collection/base.py:524-595)."""
    coll = _events_coll(spark, sf_dir)
    return coll.query(filters="year == 2024 and month == 1 and "
                              "day in (3, 4, 5)",
                      variables=["event_id", "ts", "value"])


def q_collection_projection(spark, sf_dir):
    """Column whitelist projection (variables=, io/partition.py:250-256)."""
    coll = _events_coll(spark, sf_dir)
    return coll.query(variables=["event_id", "event_type"])


def _nested_coll(spark, sf_dir):
    """Date-partitioned collection with a 3-level group tree (the F5
    hier shape): value and user_id live under ``data_01/ku`` and
    ``data_01/meta`` path-mangled groups."""
    def build():
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts",
            F.col("value").alias("data_01/ku/value"),
            F.col("user_id").alias("data_01/meta/user_id"))
        coll = create_collection(
            spark, f"{_tmp()}/events_nested_{abs(hash(sf_dir))}",
            schema=infer_schema(ev.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(ev)
        return coll
    return _cached(("nested", sf_dir), build)


def q_collection_nested(spark, sf_dir):
    """Struct view of the group tree (NEW r16): ``query(nested=True)``
    rebuilds real ``StructType`` nesting from the path-mangled group
    columns (the reference's attribute-path access,
    data/group.py:218-280), then selects leaves by attribute path —
    ``data_01.ku.value`` — through Catalyst's nested-schema pruning.
    Partition pruning (the filters=) composes with the struct view:
    the projection is applied after the pruned scan."""
    coll = _nested_coll(spark, sf_dir)
    out = coll.query(filters="year == 2024 and month == 1 and day <= 7",
                     nested=True)
    return out.select(
        "event_id",
        F.col("data_01.ku.value").alias("ku_value"),
        F.col("data_01.meta.user_id").alias("meta_user_id"))


def q_collection_zonemap_skip(spark, sf_dir):
    """Zone-map data skipping: per-partition min/max statistics committed
    with each publish prune partitions for a NON-partition-key predicate
    before any file is listed (``query(where=...)``,
    partitioning/zonemap.py).  Beyond the reference's key-only pruning —
    the Delta/Iceberg-style skipping layer for selective predicates at
    100 TB.  The exact predicate is also applied row-level, so the
    result is oracle-exact regardless of which partitions were skipped."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_zm_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"),
            stats_columns=["value"])
        coll.insert(df)
        return coll
    coll = _cached(("events3_zm", sf_dir), build)
    return coll.query(where="value > 150.0",
                      variables=["event_id", "ts", "value"])


def q_collection_clustered_where(spark, sf_dir):
    """Range-clustered file layout (``cluster_by=``, NEW r12): partition
    writes task-locally sort by the hot filter column, so parquet
    row-group min/max become near-disjoint and Spark's native row-group
    pruning skips INSIDE partitions — the layer below zone maps (which
    prune across partitions; measured 1/30 vs 30/30 overlapping row
    groups at 3 M rows, SCALING.md r12).  The exact predicate still runs
    row-level, so the result is oracle-exact regardless of skipping."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_cl_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"),
            stats_columns=["value"], cluster_by=["value"])
        coll.insert(df)
        return coll
    coll = _cached(("events3_cl", sf_dir), build)
    return coll.query(where="value >= 40.0 and value < 60.0",
                      variables=["event_id", "ts", "value"])


def q_collection_zorder_where(spark, sf_dir):
    """Z-order clustered layout (``cluster_mode="zorder"``, NEW r12):
    batch-normalized bucket bits of BOTH cluster columns interleave
    into the write sort key, bounding every row group in every
    clustered column — a 2%-box predicate on (value, event_id) prunes
    9/40 vs 40/40 row groups on the trailing column (SCALING.md r12).
    Result is oracle-exact regardless of skipping."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_zo_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"),
            cluster_by=["value", "event_id"], cluster_mode="zorder")
        coll.insert(df)
        return coll
    coll = _cached(("events3_zo", sf_dir), build)
    return coll.query(where="value >= 40.0 and value < 60.0 and "
                            "event_id >= 1000 and event_id < 60000",
                      variables=["event_id", "ts", "value"])


def q_collection_bloom_skip(spark, sf_dir):
    """Per-partition bloom-filter data skipping (``bloom_columns``,
    collection/stats.py:133, partitioning/zonemap.py): a point lookup
    on a high-cardinality NON-key column prunes every partition whose
    bloom proves the probe absent.  Zone maps cannot do this — daily
    event_id RANGES overlap while the id SETS are disjoint — so this is
    the skipping layer for needle-in-haystack equality at 100 TB (the
    Delta/Iceberg bloom-index analog).  Probes are the min/max event_id
    read from the table itself, so the entry is deterministic at every
    sf; the exact predicate is also applied row-level, keeping the
    result oracle-exact regardless of which partitions were skipped."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_bl_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"),
            bloom_columns=["event_id"])
        coll.insert(df)
        lo, hi = df.agg(F.min("event_id"), F.max("event_id")).first()
        return coll, int(lo), int(hi)
    coll, lo, hi = _cached(("events3_bl", sf_dir), build)
    return coll.query(where=f"event_id in ({lo}, {hi})",
                      variables=["event_id", "ts", "value"])


def q_collection_changes(spark, sf_dir):
    """Incremental partition diff (``Collection.changes``): a consumer
    that processed generation g receives exactly the partitions
    added/replaced since.  Deterministic construction: first insert
    days 1-9, remember the generation, then insert days >= 9 (day 9
    replaced, the rest added) — the diff is the day >= 9 partition
    set."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_chg_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df.where(F.dayofmonth("ts") < 9))
        gen = coll.generation()
        coll.insert(df.where(F.dayofmonth("ts") >= 9))
        return coll, gen
    coll, gen = _cached(("events3_chg", sf_dir), build)
    diff = coll.changes(gen)
    return spark.createDataFrame(
        [(rel,) for rel in diff["added"]], "relpath string")


def q_collection_time_travel(spark, sf_dir):
    """VERSION AS OF (NEW r10): read the collection AS OF a remembered
    generation after later commits — ``query(at_generation=g)``
    resolves the partition list (and zone statistics) from the gen-g
    catalog snapshot, AFTER a staleness gate proves every listed
    partition is physically untouched since (mutable partition dirs:
    the read is exact or it raises, never a silent mix of
    generations).  Build: insert days < 10 of every month (remember
    g), then days >= 10 — pure appends, nothing replaced — and read
    at g: exactly the day < 10 events, whatever landed after."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_tt_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df.where(F.dayofmonth("ts") < 10))
        gen = coll.generation()
        coll.insert(df.where(F.dayofmonth("ts") >= 10))
        return coll, gen
    coll, gen = _cached(("events3_tt", sf_dir), build)
    return (coll.query(at_generation=gen)
            .select("event_id", "value"))


def q_collection_retained_read(spark, sf_dir):
    """Pinned-generation retention (NEW r11): a VERSION-AS-OF read
    that SURVIVES republish.  Build: insert days < 10 (remember and
    PIN g), then OVERWRITE the day-3 partitions with zeroed values —
    without the pin this bricks every historical read of g
    (test_generations pins that refusal); with it, the old content was
    copied aside at publish time (copy-on-republish into
    ``_catalog/retained/``, the icechunk-parity contract) and
    ``query(at_generation=g)`` unions the retained scan with the live
    one.  Expected: the ORIGINAL day < 10 events, bit-identical —
    exactly the time-travel oracle, which is the point: the republish
    must be invisible at generation g."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_rr_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df.where(F.dayofmonth("ts") < 10))
        gen = coll.generation()
        coll.pin_generation(gen)
        coll.insert(df.where(F.dayofmonth("ts") == 3)
                    .withColumn("value", F.lit(0.0)))
        return coll, gen
    coll, gen = _cached(("events3_rr", sf_dir), build)
    return (coll.query(at_generation=gen)
            .select("event_id", "value"))


def q_collection_sequence(spark, sf_dir):
    """Sequence partitioning round-trip + pruning
    (partitioning/sequence.py:20-156)."""
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        coll = create_collection(
            spark, f"{_tmp()}/lineitem_seq_{abs(hash(sf_dir))}",
            schema=infer_schema(li.schema, axis="l_orderkey"),
            axis="l_orderkey", partitioning=Sequence(("l_linenumber",)))
        coll.insert(li)
        return coll
    coll = _cached(("lineitem_seq", sf_dir), build)
    return coll.query(filters="l_linenumber >= 5")


def q_collection_grouped_sequence(spark, sf_dir):
    """GroupedSequence bucketing ((v-start)//size*size+start,
    partitioning/grouped.py:112-114)."""
    def build():
        events = load_table(spark, sf_dir, "events")
        coll = create_collection(
            spark, f"{_tmp()}/events_gseq_{abs(hash(sf_dir))}",
            schema=infer_schema(events.schema, axis="ts"),
            axis="ts",
            partitioning=GroupedSequence(("user_id",), size=50, start=0))
        coll.insert(events)
        return coll
    coll = _cached(("events_gseq", sf_dir), build)
    # bucket 0 exists at every scale factor (user ids start at 0);
    # a higher bucket would make query() return None (quirk Q6) on
    # small corpora while the SQL twin returns 0 rows
    res = coll.query(filters="user_id_bucket == 0",
                     variables=["event_id", "user_id", "value"])
    return res


# ---------------------------------------------------------------------------
# §2.4 merge strategies
# ---------------------------------------------------------------------------

def _batch_ts(spark, sf_dir):
    base = _events3(spark, sf_dir)
    return (base.where(F.dayofmonth("ts").between(8, 12))
            .select((F.col("event_id") + 1000000).alias("event_id"),
                    "ts", (F.col("value") + 1000.0).alias("value")))


def q_merge_time_series(spark, sf_dir):
    """time_series merge: per-partition [min,max] window drop + concat
    (merge.py:132-186)."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/merge_ts_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df.where(F.dayofmonth("ts") <= 10))
        coll.insert(_batch_ts(spark, sf_dir), merge="time_series")
        return coll
    coll = _cached(("merge_ts", sf_dir), build)
    return coll.query()


def q_merge_upsert(spark, sf_dir):
    """upsert: keep existing rows with unmatched axis, else replace
    (merge.py:189-279)."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/merge_up_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df)
        replaced = (df.where(F.dayofmonth("ts").isin(5, 6))
                    .select("event_id", "ts",
                            (F.col("value") + 500.0).alias("value")))
        added = (df.where(F.dayofmonth("ts") == 7)
                 .select((F.col("event_id") + 2000000).alias("event_id"),
                         F.expr("ts + INTERVAL 40 DAYS").alias("ts"),
                         "value"))
        coll.insert(replaced.unionByName(added), merge="upsert")
        return coll
    coll = _cached(("merge_up", sf_dir), build)
    return coll.query()


def q_merge_concat(spark, sf_dir):
    """concat merge: append without dedup (merge.py:109-129)."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/merge_cat_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df)
        batch = (df.where(F.dayofmonth("ts") == 1)
                 .select((F.col("event_id") + 3000000).alias("event_id"),
                         "ts", "value"))
        coll.insert(batch, merge="concat")
        return coll
    coll = _cached(("merge_cat", sf_dir), build)
    return coll.query()


def q_merge_upsert_tolerance(spark, sf_dir):
    """upsert_within(tolerance): nearest-within-tolerance axis matching
    (merge.py:262-272).  Batch = events of day 3 with ts jittered +30 s
    and tolerance 60 s → every jittered row replaces its source row."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/merge_tol_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df)
        batch = (df.where(F.dayofmonth("ts") == 3)
                 .select((F.col("event_id") + 4000000).alias("event_id"),
                         F.expr("ts + INTERVAL 30 SECONDS").alias("ts"),
                         (F.col("value") + 7.0).alias("value")))
        coll.insert(batch, merge=upsert_within(60.0))
        return coll
    coll = _cached(("merge_tol", sf_dir), build)
    return coll.query()


# ---------------------------------------------------------------------------
# §2.5 per-partition UDF surface
# ---------------------------------------------------------------------------

def q_map_partition_stats(spark, sf_dir):
    """Collection.map: per-partition pandas fn (collection/base.py:638-696).
    Emits per-day count + rounded sum."""
    coll = _events_coll(spark, sf_dir)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "year": [int(pdf["year"].iloc[0])],
            "month": [int(pdf["month"].iloc[0])],
            "day": [int(pdf["day"].iloc[0])],
            "n": [len(pdf)],
            "sum_value": [round(float(pdf["value"].sum()), 6)],
        })

    return coll.map(stats,
                    "year bigint, month bigint, day bigint, n bigint, "
                    "sum_value double")


def q_update_derived(spark, sf_dir):
    """Collection.update: read → fn → dynamic-overwrite rewrite
    (collection/base.py:698-794)."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/update_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df)

        def double_value(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.copy()
            pdf["value"] = pdf["value"] * 2.0
            return pdf[["event_id", "ts", "value"]]

        coll.update(double_value, filters="day <= 5")
        return coll
    coll = _cached(("update", sf_dir), build)
    return coll.query(filters="day <= 5",
                      variables=["event_id", "value"])


def q_view_overlay(spark, sf_dir):
    """View overlay: positional (_row_idx) join of derived variables
    (view/base.py:232-407)."""
    def build():
        base = _events_coll(spark, sf_dir)
        view = View.create(
            spark, f"{_tmp()}/view_{abs(hash(sf_dir))}", base=base,
            variables=[VariableSchema(name="derived", dtype="float64",
                                      dimensions=("ts",))])

        def compute(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({"derived": pdf["value"] * 3.0 + 1.0})

        view.update(compute)
        return view
    view = _cached(("view", sf_dir), build)
    return view.query(variables=["event_id", "ts", "value", "derived"])


def q_index_lookup(spark, sf_dir):
    """Secondary index: contiguous-run ranges + pushdown read
    (indexing/parquet.py:65-195)."""
    def build():
        coll = _events_coll(spark, sf_dir)
        indexer = Indexer(spark, f"{_tmp()}/index_{abs(hash(sf_dir))}")
        indexer.build(coll,
                      builder=lambda p: ranges_for(p, ["event_type"]),
                      schema="event_type string")
        return coll, indexer
    coll, indexer = _cached(("index", sf_dir), build)
    return indexer.query(coll, event_type="click",
                         variables=["event_id", "ts", "event_type"])


# ---------------------------------------------------------------------------
# relational showcase (bench headliners)
# ---------------------------------------------------------------------------

def _money(col, dp: int = 2):
    """Exact scaled-long of a ≤``dp``-decimal monetary double.

    The TPC-H money columns are 2-dp values stored as doubles; the
    double is within ~1e-9 of value·10^dp, so ``round`` recovers the
    exact integer.  Long inputs keep the aggregation inside the
    primitive (non-decimal) codegen path — the r10 rollup_hourly
    measurement put the decimal sum at 2-4× the long sum.

    DATA CONTRACT (r16 verdict item 2): inputs MUST be ≤``dp``-decimal
    values — a >``dp``-dp input would be silently *rounded* here where
    the decimal pipeline this replaced degraded exactly.  The contract
    is enforced off the hot path by :func:`money_contract_violations`
    (tests/test_entry_money.py asserts zero violations on every
    testdata tier and that a 3-dp input is caught loudly); ANSI mode
    already makes any long overflow a hard error."""
    return F.round(col * F.lit(float(10 ** dp))).cast("long")


#: Columns covered by the ``_money`` ≤2-dp contract — exactly the
#: inputs the scaled-long rewrite (r16) feeds through ``_money``.
#: NOT ``orders.o_totalprice``: it is a multi-line total with >2-dp
#: values in the data and is never scaled (big_orders sums it as-is).
MONEY_CONTRACT_COLS = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount",
                 "l_tax"],
}


def money_contract_violations(df: DataFrame, cols: list[str],
                              dp: int = 2) -> int:
    """Count rows violating the :func:`_money` ≤``dp``-decimal
    contract: ``|x·10^dp − round(x·10^dp)| > 1e-9`` for any of
    ``cols``.  ONE cheap aggregate (no shuffle beyond the final
    single-row reduce) — the loud-failure guard for the scaled-long
    money sums, run on the oracle/test path, never per query."""
    scale = F.lit(float(10 ** dp))
    viol = None
    for c in cols:
        x = F.col(c) * scale
        bad = (F.abs(x - F.round(x)) > F.lit(1e-9)).cast("long")
        viol = bad if viol is None else viol + bad
    row = df.agg(F.sum(viol).alias("n")).collect()[0]
    return int(row["n"] or 0)


def _scaled_sum_cols(x, scale: int, prefix: str):
    """Partial aggregates of an exact money sum over scaled longs
    (optimization guide §2.3 "narrower types": the decimal(28,4)
    sums this replaces ran outside primitive codegen and carried
    16-byte sum buffers; these are two long sums).

    ``x`` is a scale-``scale`` integer column (product of exact
    cents factors), NON-NEGATIVE by contract: the %/div split is
    trunc-semantics, which matches the oracle's floor-based decimal
    split only for non-negative amounts (a signed caller would still
    reconstruct w·scale+f exactly, but the w/f signs would diverge
    from the floor convention — normalize with pmod before reusing
    this for net-of-returns style signed money).  Summed as TWO longs
    — whole units and residual scaled fraction — so the overflow
    horizon is per-row-value-bounded (~8e13 rows for TPC-H charge
    magnitudes, comfortably past 100 TB), not total-bounded; ANSI
    mode makes any overflow a loud error, never a wrap.  NULL rows
    (conditional sums) null-propagate exactly like the decimal form.
    The per-row whole-unit extraction uses integer ``div`` (r16
    advice): the old ``(x − x%s)/s`` double division was exact only
    below 2^53 per row — ``div`` has no such envelope and is
    bit-identical where both are defined."""
    w_row = F.call_function("div", x, F.lit(scale))
    f_row = x % F.lit(scale)
    return [F.sum(w_row).alias(f"__{prefix}_w"),
            F.sum(f_row).alias(f"__{prefix}_f")]


def _scaled_sum_dbl(prefix: str, scale: int):
    """Exact double of the :func:`_scaled_sum_cols` pair — the same
    split conversion as the decimal form it replaces: integer part
    (< 2^53, exact) + fraction (one exact IEEE division) with ONE
    IEEE add, bit-identical to the DuckDB oracle's decimal cast while
    the whole-unit total < 2^53 (~sf 1e5, the envelope the decimal
    split already had).  ``div`` keeps the combine in long integer
    arithmetic (the fraction sum can exceed 2^53 rows·scale)."""
    w = (F.col(f"__{prefix}_w")
         + F.expr(f"__{prefix}_f div {scale}"))
    f = F.expr(f"__{prefix}_f % {scale}")
    return w.cast("double") + f.cast("double") / F.lit(float(scale))


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation; scaled-LONG sums for exact
    cross-engine arithmetic at primitive-codegen speed (r16
    optimization; formerly decimal(28,4) sums — same exact rationals,
    same split conversion, measured 1.37 → 0.84 s at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Inputs have ≤2 dp, so cents factors are exact integers and their
    # products are the exact scale-4/-6 rationals the old decimal
    # pipeline computed (price·disc exact at 4 dp, ·tax at 6 dp).
    # The final split conversion reproduces the oracle's
    # FLOOR-decimal-split bit-for-bit (see _scaled_sum_dbl).
    qty2 = _money(F.col("l_quantity"))
    price2 = _money(F.col("l_extendedprice"))
    disc2 = _money(F.lit(1.0) - F.col("l_discount"))
    tax2 = _money(F.lit(1.0) + F.col("l_tax"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(*_scaled_sum_cols(qty2, 100, "qty"),
                 *_scaled_sum_cols(price2, 100, "base"),
                 *_scaled_sum_cols(price2 * disc2, 10_000, "disc"),
                 *_scaled_sum_cols(price2 * disc2 * tax2,
                                   1_000_000, "chg"),
                 F.count(F.lit(1)).alias("count_order"))
            .select("l_returnflag", "l_linestatus",
                    _scaled_sum_dbl("qty", 100).alias("sum_qty"),
                    _scaled_sum_dbl("base", 100)
                    .alias("sum_base_price"),
                    _scaled_sum_dbl("disc", 10_000)
                    .alias("sum_disc_price"),
                    _scaled_sum_dbl("chg", 1_000_000)
                    .alias("sum_charge"),
                    "count_order"))


def _rev4():
    """``l_extendedprice · (1 − l_discount)`` as an exact scale-4 long
    (cents × cents) — the scaled-long revenue shared by the TPC-H
    family queries (r16 optimization: long sums replace the decimal
    sums; exact same rationals, see :func:`_scaled_sum_cols`)."""
    return (_money(F.col("l_extendedprice"))
            * _money(F.lit(1.0) - F.col("l_discount")))


def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3-style join: exact revenue over scaled longs,
    deterministic top-10.  No forced broadcasts — AQE picks broadcast
    at small SF and shuffle joins at scale from runtime statistics."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (li
            .join(orders.where(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
                .select("o_orderkey", "o_custkey", "o_orderdate"),
                on=F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust.where(
                F.col("c_mktsegment") == "BUILDING")
                .select("c_custkey"),
                on=F.col("o_custkey") == F.col("c_custkey"))
            .where(F.col("l_shipdate")
                   > F.lit("1998-01-01").cast("date"))
            .groupBy("o_orderkey")
            .agg(*_scaled_sum_cols(_rev4(), 10_000, "r"))
            .select("o_orderkey",
                    _scaled_sum_dbl("r", 10_000).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


def q_revenue_delta(spark, sf_dir):
    """TPC-H Q6-style filter-scan aggregation (predicate pushdown to the
    parquet scan; decimal-exact sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _money(F.col("l_extendedprice")) * _money(F.col("l_discount"))
    return (li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
                     & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
                     & (F.col("l_discount").cast("decimal(12,4)")
                        .between(0.05, 0.07))
                     & (F.col("l_quantity") < 24))
            .agg(*_scaled_sum_cols(rev, 10_000, "r"))
            .select(_scaled_sum_dbl("r", 10_000).alias("revenue")))


def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-style multi-join (customer⋈orders⋈lineitem⋈supplier⋈
    nation⋈region).  Fixed-size dims (nation, region) carry explicit
    broadcast hints; SF-scaling sides are left to AQE — it broadcasts
    them while they fit and shuffle-joins beyond that."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (li
            .join(orders.select("o_orderkey", "o_custkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust.select("c_custkey", "c_nationkey"),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(supp.select("s_suppkey", "s_nationkey"),
                  (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nation.select("n_nationkey", "n_name",
                                            "n_regionkey")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region.where(F.col("r_name") == "ASIA")
                              .select("r_regionkey")),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(*_scaled_sum_cols(_rev4(), 10_000, "r"))
            .select("n_name",
                    _scaled_sum_dbl("r", 10_000).alias("revenue")))


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-style promo revenue by ship year: fact⋈broadcast part
    dim, decimal-exact sums (same widen-only cast discipline as Q1)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _rev4()
    return (li
            .join(part.select("p_partkey", "p_type"),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
            .agg(*_scaled_sum_cols(
                F.when(F.col("p_type") == "PROMO", rev), 10_000, "p"),
                *_scaled_sum_cols(rev, 10_000, "t"))
            .select("ship_year",
                    _scaled_sum_dbl("p", 10_000).alias("promo_revenue"),
                    _scaled_sum_dbl("t", 10_000)
                    .alias("total_revenue")))


def q_rollup_hourly(spark, sf_dir):
    """Hierarchical rollup (day → hour → grand total) — the hypertable
    continuous-aggregate shape on the events stream table.

    Exactness shape (r10): the grand-total row sums EVERY event, and a
    raw double sum is aggregation-order-dependent (the engines disagree
    past ~1M rows — the sf3 streaming_sink lesson).  r9 fixed that with
    a decimal(18,6) sum, which measured 4× the double sum at sf1
    (decimal aggregation runs outside the primitive codegen path).
    Summing SCALED LONGS instead — round(value·10⁶) as micro-units —
    is order-independent AND integer-fast: value-identical to the
    decimal form for any ≤6-decimal data (both round the double to 6
    places first; verified identical at sf0.01/0.1/1/3), 2× faster
    warm at sf1 (0.73 s vs 1.47 s), and ANSI mode turns the ~9·10¹⁸
    micro-unit overflow horizon into a loud error, not a wrap."""
    events = load_table(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1_000_000).cast("long")
    return (events
            .withColumn("day", F.dayofmonth("ts"))
            .withColumn("hour", F.hour("ts"))
            .rollup("day", "hour")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(micro).cast("double") / 1e6, 6)
                 .alias("sum_value")))


def q_user_sessions(spark, sf_dir):
    """Sessionization via window lag: sessions split on >30 min gaps."""
    from pyspark.sql import Window
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(win)
    flagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0))
    return (flagged.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("new_session").cast("long").alias("n_sessions")))


# ---------------------------------------------------------------------------
# LLM-pipeline operators
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: representative (min doc_id) per distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["text"], "doc_id").select("doc_id", "text")


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH candidate pairs — exact oracle via the shared md5
    permutation family."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, id_col="doc_id", text_col="text",
                              num_hashes=8, shingle_size=3)
    return lsh_candidate_pairs(sigs, id_col="doc_id", num_hashes=8,
                               bands=4)


def q_dedup_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs from a shared-shingle join with
    the max_df stop-shingle skew guard on (per-shingle join fan-out
    bounded by max_df²/2 at any corpus size).  When the guard is OFF —
    exact Jaccard over the full vocabulary — the operator auto-switches
    to the lossless AllPairs/PPJoin prefix-filtered join (r10), the
    shape that survives corpus-wide boilerplate: the r11 crossover
    grid (SCALING.md) puts the trade at ~10% boilerplate frequency at
    sf1 (prefix 43 s vs self-join 149 s; clean corpus 40 s vs 30 s),
    degenerating to self-join DNF at corpus-wide boilerplate (the r10
    10-min measurement)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                               shingle_size=5, threshold=0.5,
                               max_df=JACCARD_MAX_DF)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (NEW r13):
    C(A→B) = |A∩B| / |A| over distinct 3-shingles — the
    quote-inclusion / subset-document case Jaccard structurally
    misses (a short doc fully embedded in a long one scores
    J ≈ |A|/|B| but C = 1).  Shared-shingle self-join with the same
    max_df stop-shingle skew guard as dedup_jaccard; max_df is
    REQUIRED by the operator because the asymmetric measure has no
    lossless prefix filter (functions/dedup.py:
    ngram_containment_pairs)."""
    from .functions.dedup import ngram_containment_pairs
    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, id_col="doc_id",
                                   text_col="text", shingle_size=3,
                                   threshold=0.8,
                                   max_df=JACCARD_MAX_DF)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: 48-bit signatures, Hamming distance ≤ 1
    via exact pigeonhole banding (2 bands × 24 bits → equi-join on
    16M-bucket band keys, then a JVM bit_count(xor) ≤ 1 filter) —
    sub-quadratic candidates at every scale, and unlike the previous
    identical-signature join it actually pairs ≤k-bit neighbors."""
    from .functions import simhash_duplicate_pairs
    docs = load_table(spark, sf_dir, "documents")
    return simhash_duplicate_pairs(docs, id_col="doc_id",
                                   text_col="text", n_bits=48,
                                   max_hamming=1)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — exact, fully distributed:
    block × block matmul tasks, no driver collect (method="block")."""
    from .functions import embedding_dup_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, id_col="vec_id", vec_col="embedding",
                                threshold=0.4, method="block")
    return pairs.select("id_a", "id_b",
                        F.round("cosine", 6).alias("cosine"))


def _lsh_dedup_planes(sf_dir: str) -> int:
    """Scale-aware plane count for the graded LSH dedup entry: the
    corpus row count comes straight from the parquet footer (no Spark
    job) and feeds :func:`suggest_lsh_planes`, so the SAME value
    parameterizes the Spark query and its DuckDB oracle — scale-correct
    bucketing (the sf1 gate measured fixed-4-planes at 828 s vs 15 s
    auto) while staying seed-deterministic and oracle-exact.  Falls
    back to 4 (the sf0.01-era config) when the file is unreadable, on
    BOTH sides, keeping query/oracle consistent on synthetic dirs."""
    from .functions.similarity import suggest_lsh_planes
    # missing file AND corrupt footer both degrade to the documented
    # 4-plane fallback (an escaping error would fail the whole oracle
    # map); the footer read itself is shared with _emb_count
    n = _emb_count(sf_dir)
    return 4 if n is None else suggest_lsh_planes(n)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Sub-quadratic near-dup pairs: LSH bucket prefilter + exact cosine
    within buckets.  Seed-deterministic, so the oracle REPLAYS the
    bucketing (like knn_lsh) instead of comparing against exact truth.
    The plane count scales with the corpus (``_lsh_dedup_planes``)."""
    from .functions import embedding_dup_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, id_col="vec_id", vec_col="embedding",
                                threshold=0.45, method="lsh",
                                n_planes=_lsh_dedup_planes(sf_dir),
                                n_tables=8, dim=64)
    return pairs.select("id_a", "id_b",
                        F.round("cosine", 6).alias("cosine"))


SEMANTIC_DEDUP_THRESHOLD = 0.4


def _semantic_dedup_cells(sf_dir: str) -> int:
    """Cell count grows with the corpus (the SemDeDup scale knob —
    same sizing rule as IVF: ~125 vectors per cell) so within-cell
    pair work stays ~n·cell/2, never quadratic: 8 cells at sf0.01,
    16 at sf0.1, 160 at sf1.  Footer-probed, no Spark job; the
    fixed-8 fallback keeps the Spark query and the oracle paired when
    the table is unreadable."""
    n = _emb_count(sf_dir)
    if n is None:
        return 8
    from .functions.similarity import suggest_ivf_config
    return suggest_ivf_config(n)[0]


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup (NEW r13): k-means cells block
    the comparison space, pairs are exact cosine within each cell,
    connected components pick the min-id representative, and every
    corpus row gets ``(rep_id, keep)`` — the low-threshold dedup path
    (cell blocking is threshold-independent; the LSH path's recall
    collapses below cosine ~0.9).  Deterministic: reuses the SAME
    cached centroids knn_ivf trains (bit-identical literals in the
    oracle, which replays cell argmin, within-cell pairs, the
    recursive-CTE closure, and the keep flags exactly).
    functions/similarity.py:semantic_dedup."""
    from .functions.similarity import semantic_dedup
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        threshold=SEMANTIC_DEDUP_THRESHOLD,
        centroids=_ivf_centroids_cached(
            sf_dir, n_cells=_semantic_dedup_cells(sf_dir)))
    return out.select("vec_id",
                      F.col("rep_id").cast("long").alias("rep_id"),
                      "keep")


def q_unigram_stats(spark, sf_dir):
    """Corpus-statistical quality scoring (NEW r13): the corpus
    unigram frequency table, then per-document mean corpus-count and
    hapax share — the vocabulary-ordinariness signal per-row
    heuristics can't see.  Two map-side-combined shuffles + a token
    equi-join, nothing driver-side; all rational arithmetic (no
    transcendentals), so the twin hashes bit-identically
    (functions/text.py:unigram_stats)."""
    from .functions.text import unigram_stats
    docs = load_table(spark, sf_dir, "documents")
    return unigram_stats(docs, id_col="doc_id", text_col="text") \
        .select("doc_id", "n_tokens", "avg_token_count", "hapax_share")


def q_bigram_lm(spark, sf_dir):
    """Corpus-bigram LM scoring (NEW r13): CCNet-style "reads like the
    corpus" signal with the LM trained in the same job — conditional
    MLE P(w2|w1) from corpus-wide pair/context counts, aggregated per
    document.  Rational arithmetic except the 6-dp-rounded mean, so
    the twin hashes bit-identically
    (functions/text.py:bigram_lm_score)."""
    from .functions.text import bigram_lm_score
    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, id_col="doc_id", text_col="text") \
        .select("doc_id", "n_bigrams", "mean_cond_p",
                "rare_bigram_share")


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicated-span stats (NEW r13): the Lee et al.
    2021 exact-substring-dedup signal as a shuffle-native fixed-window
    formulation — per document, how many of its 8-token spans occur
    verbatim in at least one OTHER document.  All integer arithmetic
    plus one exact division (functions/dedup.py:duplicated_span_stats).
    """
    from .functions.dedup import duplicated_span_stats
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, id_col="doc_id",
                                 text_col="text", n=8) \
        .select("doc_id", "n_spans", "n_dup_spans", "dup_ratio")


def q_span_scrub(spark, sf_dir):
    """Duplicated-span REMOVAL (NEW r13): the apply half of dup_spans
    — tokens covered by any 8-token span occurring in ≥ 2 documents
    are cut, both sides of the pair (Lee et al. span removal).  The
    scrubbed text itself is graded (md5), not just counts
    (functions/dedup.py:drop_duplicated_spans)."""
    from .functions.dedup import drop_duplicated_spans
    docs = load_table(spark, sf_dir, "documents")
    out = drop_duplicated_spans(docs, id_col="doc_id",
                                text_col="text", n=8)
    return out.select("doc_id", "n_tokens", "n_tokens_kept",
                      F.md5("text_scrubbed").alias("scrub_md5"))


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (NEW r13, Schleimer et al. 2003 / MOSS):
    per-window-minimum k-gram hash selection — guaranteed to catch any
    shared substring of ≥ k+w-1 tokens from a ~(w+1)/2× smaller index
    than full shingling.  Graded per doc: fingerprint count plus how
    many of its fingerprints appear in ≥ 2 documents (the dedup /
    provenance signal).  All integer arithmetic
    (functions/text.py:winnow_fingerprints)."""
    from .functions.text import winnow_fingerprints
    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, id_col="doc_id", text_col="text",
                              k=5, window=4)
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__nd"))
    return (fps.join(dfreq, on="fp")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_fp"),
                 F.sum((F.col("__nd") >= 2).cast("long"))
                 .alias("n_shared_fp")))


def q_bm25_retrieval(spark, sf_dir):
    """BM25 lexical retrieval (NEW r13): top-10 documents per probe
    query (the first three documents' own text) by Robertson BM25 —
    the sparse half of the retrieval family next to the dense knn_*
    queries.  Scores are rounded to 6 dp BEFORE ranking so ranks and
    values replay bit-identically in DuckDB
    (functions/retrieval.py:bm25_topk)."""
    from .functions.retrieval import bm25_topk
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    out = bm25_topk(docs, probes, id_col="doc_id", text_col="text",
                    k=10)
    return out.select("query_id", "doc_id", "score",
                      F.col("rank").cast("long").alias("rank"))


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (NEW r13): the BM25
    lexical top-10 (documents, probe ids < 3) fused with the dense
    exact-cosine top-10 (embeddings, query ids < 3) — the synthetic
    tables stand in for the usual "same item, two modalities" setup.
    RRF consumes only ranks, so the fused result replays exactly in
    SQL (functions/retrieval.py:rrf_fuse)."""
    from .functions import brute_force_topk
    from .functions.retrieval import bm25_topk, rrf_fuse
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    probes = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    sparse = bm25_topk(docs, probes, id_col="doc_id",
                       text_col="text", k=10) \
        .select("query_id", "doc_id", "rank")
    dense = brute_force_topk(emb, emb.where(F.col("vec_id") < 3),
                             id_col="vec_id", vec_col="embedding",
                             query_id_col="vec_id", k=10) \
        .select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    out = rrf_fuse([sparse, dense], id_col="doc_id")
    return out.select("query_id", "doc_id", "rrf_score", "n_lists",
                      F.col("rank").cast("long").alias("rank"))


def q_text_stats(spark, sf_dir):
    """Quality-scoring stats per doc (all JVM-side expressions)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs)
    return stats.select(
        "doc_id",
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("distinct_ratio"))


def q_language_id(spark, sf_dir):
    """Marker-lexicon language heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred")


def _langid_oracle() -> str:
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = ", ".join(f"'{m}'" for m in markers)
        scores.append(
            f"len(list_intersect(list_distinct({_SPLIT}), [{arr}]))"
            f" AS s_{lang}")
    langs = sorted(LANG_MARKERS)
    greatest = ", ".join(f"s_{lang}" for lang in langs)
    cases = " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs)
    return f"""
WITH scored AS (SELECT doc_id, {', '.join(scores)} FROM documents),
m AS (SELECT doc_id, greatest({greatest}) AS m, * FROM scored)
SELECT doc_id, CASE {cases} END AS lang_pred FROM m
"""


def q_langid_confusion(spark, sf_dir):
    """Classifier evaluation in-engine: confusion counts of the
    language-ID heuristic against the labeled ``lang`` column — the
    model-eval aggregation a corpus pipeline runs after every labeling
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    return (language_id(docs)
            .groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n")))


def _langid_confusion_oracle() -> str:
    base = _langid_oracle().strip().rstrip()
    return f"""
WITH pred AS ({base})
SELECT d.lang, pred.lang_pred, count(*) AS n
FROM documents d JOIN pred ON d.doc_id = pred.doc_id
GROUP BY d.lang, pred.lang_pred
"""


def q_source_quality(spark, sf_dir):
    """Per-source corpus quality dashboard: document counts and exact
    token-count aggregates from the quality-stats pass — one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs)
    return (stats.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("n_tokens").alias("min_tokens"),
                 F.max("n_tokens").alias("max_tokens"),
                 F.sum("n_distinct_tokens").alias("total_distinct")))


def q_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def q_chunk_documents(spark, sf_dir):
    """Fixed-token training windows (32 tokens, 8-token overlap) — the
    sequence-packing step of an LLM data pipeline.  Pure Catalyst
    (split → posexplode(sequence) → slice/array_join): a per-row
    Generate, shuffle-free at any scale (pinned in test_plans), and
    exactly replayable in DuckDB so chunk boundaries hash-match.
    Reference analog: the per-partition UDF surface,
    /root/reference/zcollection/collection/base.py:638-794."""
    from .functions.text import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, id_col="doc_id", text_col="text",
                           chunk_tokens=32, overlap=8) \
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")


def q_hash_split(spark, sf_dir):
    """Deterministic md5 train/val/test assignment (75/12.5/12.5 —
    exact binary fractions so the double-precision thresholds compare
    bit-identically in both engines).  Pure JVM projection: no
    shuffle, no RNG state, same split for a document on every run,
    engine and cluster size — what keeps eval sets uncontaminated
    across corpus rebuilds."""
    from .functions.sampling import hash_split
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, id_col="doc_id",
                      splits={"train": 0.75, "val": 0.125,
                              "test": 0.125}) \
        .select("doc_id", "lang", "split")


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle into training shards (NEW r13):
    ``shard`` = md5 bucket of the doc id, ``shard_pos`` = within-shard
    md5 order — the pre-training shuffle as a pure function of
    (id, salt, n_shards), reproducible across runs, engines, cluster
    sizes, and insertion order (a seeded ``orderBy(rand())`` is none
    of those: it depends on the input's partition layout).  One hash
    exchange + within-shard sort; no global sort, no driver
    materialization (functions/sampling.py:shuffle_to_shards)."""
    from .functions.sampling import shuffle_to_shards
    docs = load_table(spark, sf_dir, "documents")
    return (shuffle_to_shards(docs, id_col="doc_id", n_shards=8)
            .select("doc_id", "lang", "shard",
                    F.col("shard_pos").cast("long").alias("shard_pos")))


def q_embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding corpus
    (NEW r13): the 4x float32->int8 shrink an embedding table takes
    before shipping to an ANN index at 100 TB.  Pure JVM array
    expressions (transform/array_max), shuffle-free, codegens into the
    scan (functions/similarity.py:quantize_embeddings).  The oracle
    replays the exact floor(x/scale + 0.5) arithmetic in DuckDB
    (IEEE double division + floor agree across engines; engine
    round() modes do not) and value-gates per-vector aggregate
    signatures of the quantized arrays."""
    from .functions.similarity import quantize_embeddings
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, vec_col="embedding")
    return q.select(
        "vec_id",
        F.round("qscale", 9).alias("qscale_r"),
        F.aggregate("qvec", F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long")).alias("qsum"),
        F.array_max("qvec").cast("int").alias("qmax"),
        F.array_min("qvec").cast("int").alias("qmin"))


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing after chunking (NEW r9): 32/8 windows
    packed into 96-token training bins per document.  One hash
    exchange + in-partition sort feeding a batch-streaming
    mapInPandas that carries (group, bin, fill) state across Arrow
    batches — one Python invocation per PARTITION, not per group
    (per-group applyInPandas dispatch measured 14× slower at sf1);
    the DuckDB twin replays the exact greedy recurrence as a
    recursive CTE."""
    from .functions.text import chunk_documents, pack_sequences
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, id_col="doc_id", text_col="text",
                             chunk_tokens=32, overlap=8) \
        .select("doc_id", "chunk_id", "n_tokens")
    packed = pack_sequences(chunks, id_col="doc_id",
                            order_col="chunk_id", token_col="n_tokens",
                            context_len=96)
    return packed.select("doc_id", "chunk_id", "n_tokens",
                         "bin", "bin_fill")


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (NEW r9): per-language
    down-sampling where the SAMPLE itself is a pure function of the
    doc id — rebuilds and other engines draw the identical subset
    (Spark's seeded sampleBy cannot be replayed off-engine; this
    md5-draw variant can, so the sample is auditable).  Fractions are
    exact binary (1/2, 1/4, 1/8) so the threshold comparison is
    bit-identical on both engines; unlisted strata drop."""
    from .functions.sampling import stratified_sample_exact
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_exact(
        docs, id_col="doc_id", strata_col="lang",
        fractions={"en": 0.5, "de": 0.25, "fr": 0.125}) \
        .select("doc_id", "lang", "source")


def q_token_budget(spark, sf_dir):
    """Deterministic token-budget sampling (NEW r9; reshaped r10):
    per-language document selection in md5 order until a 20 k-char
    budget is met (the crossing document included) — "give me N tokens
    per language" via a bucketed two-pass prefix sum (per-(lang,
    md5-range-bucket) totals, cutoff buckets broadcast back, running
    sum only inside each bucket), so no stratum ever serializes
    through one task; reproducible on any engine/cluster, exact SQL
    twin (the equivalent single running-sum window)."""
    from .functions.sampling import sample_to_token_budget
    docs = load_table(spark, sf_dir, "documents")
    return sample_to_token_budget(docs, id_col="doc_id",
                                  token_col="n_chars", budget=20_000,
                                  strata_col="lang") \
        .select("doc_id", "lang", F.col("n_chars").cast("long")
                .alias("n_chars"))


def q_upsample_weights(spark, sf_dir):
    """Deterministic weighted upsampling (NEW r10): the "epochs per
    source" data-mixing knob — en ×2.5 (2 copies + an exact md5-drawn
    half), de ×1, fr ×0.25 (exact quarter), others drop.  Every copy
    count is a pure function of (id, weights), so the mixture replays
    bit-identically on any engine; the DuckDB twin unnests the same
    generate_series."""
    from .functions.sampling import upsample_by_weight
    docs = load_table(spark, sf_dir, "documents")
    return upsample_by_weight(docs, id_col="doc_id", strata_col="lang",
                              weights={"en": 2.5, "de": 1.0,
                                       "fr": 0.25}) \
        .select("doc_id", "lang", F.col("copy").cast("long")
                .alias("copy"))


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-10 per query vector (vec_id < 5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    topk = brute_force_topk(emb, queries, id_col="vec_id",
                            vec_col="embedding", query_id_col="vec_id",
                            k=10)
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))


_EMB_DIM_CACHE: dict[str, int] = {}


def _emb_dim(sf_dir: str) -> int | None:
    """Embedding dimensionality straight from the parquet footer+first
    page — no Spark job.  None when the file is absent (synthetic test
    frames): lsh_bucket_topk then samples it with one Spark job."""
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    if path not in _EMB_DIM_CACHE:
        try:
            import pyarrow.parquet as pq
            cell = pq.ParquetFile(path).read_row_group(
                0, columns=["embedding"])["embedding"][0]
            _EMB_DIM_CACHE[path] = len(cell)
        except (OSError, IndexError, KeyError):
            return None
    return _EMB_DIM_CACHE[path]


_EMB_COUNT_CACHE: dict = {}


def _emb_count(sf_dir: str) -> int | None:
    """Corpus row count from the parquet footer (no Spark job, cached
    per path — building one oracle map probes it several times); None
    when unreadable — callers then fall back to the fixed sf0.01-era
    configs on BOTH the Spark and oracle sides, keeping them paired."""
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    if path not in _EMB_COUNT_CACHE:
        try:
            import pyarrow.parquet as pq
            _EMB_COUNT_CACHE[path] = pq.ParquetFile(path) \
                .metadata.num_rows
        except Exception:
            return None  # transient: do not negatively cache
    return _EMB_COUNT_CACHE[path]


def _knn_lsh_config(sf_dir: str) -> tuple[int, int]:
    """Footer-auto-tuned (n_planes, n_tables) for the graded knn_lsh
    entry (r8 sweep follow-up: the old fixed 4×8 sat at recall 0.76
    while 4×16 dominated it on BOTH axes).  suggest_lsh_config targets
    recall 0.9 from the row count alone — (4, 17) at sf0.01/sf0.1,
    measured 0.94 — and the SAME pair parameterizes the DuckDB
    replay."""
    from .functions.similarity import suggest_lsh_config
    n = _emb_count(sf_dir)
    return (4, 8) if n is None else suggest_lsh_config(n)


def q_knn_lsh(spark, sf_dir):
    """Approximate top-k via random-hyperplane LSH buckets — the scale
    path of similarity search.  Approximate but seed-DETERMINISTIC: the
    hyperplanes are a pure function of (dim, n_planes, seed), so
    :func:`_lsh_oracle` replays the exact bucketing in DuckDB.  The
    (planes, tables) operating point is footer-auto-tuned to recall
    ~0.9 (:func:`_knn_lsh_config`)."""
    from .functions import lsh_bucket_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    planes, tables = _knn_lsh_config(sf_dir)
    topk = lsh_bucket_topk(emb, queries_df, id_col="vec_id",
                           vec_col="embedding", query_id_col="vec_id",
                           k=10, n_planes=planes, n_tables=tables,
                           dim=_emb_dim(sf_dir))
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))


def _ivf_centroids(sf_dir: str, n_cells: int = 8, seed: int = 42,
                   train_cap: int = 100_000,
                   iters: int = 10) -> "list[list[float]]":
    """Deterministic IVF centroids for ``{sf_dir}/embeddings.parquet``.

    Trains the same seeded Lloyd loop ``ivf_topk`` uses on the same
    id-ordered sample, read driver-side via DuckDB — so the Spark query
    and the SQL oracle can share BIT-IDENTICAL centroid literals (train
    once, reuse the index: the realistic production flow)."""
    import duckdb
    from .functions.similarity import _lloyd_kmeans
    sample = [r[0] for r in duckdb.sql(
        f"SELECT CAST(embedding AS DOUBLE[]) "
        f"FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {train_cap}").fetchall()]
    return _lloyd_kmeans(sample, n_cells, seed=seed, iters=iters)


_IVF_CENTROID_CACHE: dict = {}


def _ivf_centroids_cached(sf_dir: str,
                          n_cells: int = 8) -> "list[list[float]]":
    key = (sf_dir, n_cells)
    if key not in _IVF_CENTROID_CACHE:
        _IVF_CENTROID_CACHE[key] = _ivf_centroids(sf_dir, n_cells=n_cells)
    return _IVF_CENTROID_CACHE[key]


def _knn_ivf_config(sf_dir: str) -> tuple[int, int]:
    """Footer-auto-tuned (n_cells, n_probe) for the graded knn_ivf
    entry: cells sized to ~125 vectors, probe fraction 1/2 (the
    measured recall-0.90 point at sf0.1) — (8, 4) at sf0.01, (16, 8)
    at sf0.1.  The same pair parameterizes the DuckDB oracle."""
    from .functions.similarity import suggest_ivf_config
    n = _emb_count(sf_dir)
    return (8, 4) if n is None else suggest_ivf_config(n)


def q_knn_ivf(spark, sf_dir):
    """IVF approximate top-k (k-means cells + n_probe search) — the other
    ANN scale path.  Deterministic: reuses the pre-trained centroids from
    :func:`_ivf_centroids`, which :func:`_ivf_oracle` embeds as literals
    so DuckDB replays cell assignment, probing, and ranking exactly.
    The (cells, probes) operating point is footer-auto-tuned
    (:func:`_knn_ivf_config`)."""
    from .functions import ivf_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    cells, probes = _knn_ivf_config(sf_dir)
    topk = ivf_topk(emb, queries_df, id_col="vec_id",
                    vec_col="embedding", query_id_col="vec_id",
                    k=10, n_cells=cells, n_probe=probes,
                    centroids=_ivf_centroids_cached(sf_dir,
                                                    n_cells=cells))
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))


#: Recall-targeted ANN configurations, chosen from the measured
#: recall-vs-seconds sweep (tools/ann_sweep.py → ANN_SWEEP.json,
#: sf0.1): the cheapest grid point with recall@10 >= 0.9 for each
#: method.  The default knn_lsh/knn_ivf entries keep the faster
#: low-recall configs; these are the "I need the right answers" knobs.
LSH_HI = {"n_planes": 4, "n_tables": 16}   # recall 0.94 @ sf0.1
IVF_HI = {"n_cells": 16, "n_probe": 8}     # recall 0.90 @ sf0.1


def q_knn_lsh_hi(spark, sf_dir):
    """High-recall LSH configuration (``LSH_HI``): halving bucket
    selectivity (4 planes) across 16 tables lifts recall@10 to ~0.94 at
    sf0.1 for ~1.4× the candidate-join cost — the measured point from
    the ANN sweep, not a guess."""
    from .functions import lsh_bucket_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    topk = lsh_bucket_topk(emb, queries_df, id_col="vec_id",
                           vec_col="embedding", query_id_col="vec_id",
                           k=10, dim=_emb_dim(sf_dir), **LSH_HI)
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))


def q_knn_ivf_hi(spark, sf_dir):
    """High-recall IVF configuration (``IVF_HI``): probing 8 of 16
    cells reads half the corpus partitions per query — recall@10 ~0.90
    at sf0.1; with the materialized IVF index the probe fraction is
    partition-pruned I/O, so the cost scales with n_probe/n_cells."""
    from .functions import ivf_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    topk = ivf_topk(emb, queries_df, id_col="vec_id",
                    vec_col="embedding", query_id_col="vec_id",
                    k=10, n_cells=IVF_HI["n_cells"],
                    n_probe=IVF_HI["n_probe"],
                    centroids=_ivf_centroids_cached(
                        sf_dir, n_cells=IVF_HI["n_cells"]))
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))


def q_multimodal_features(spark, sf_dir):
    """Binary-payload plumbing: Arrow-batched mapInPandas feature
    extraction over a synthetic payload column."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_fake_payload(docs, text_col="text")
    feats = extract_image_features(payloads, id_col="doc_id")
    return feats.select(F.col("id"),
                        F.col("n_bytes").cast("long").alias("n_bytes"),
                        F.col("first_byte").cast("long").alias("first_byte"))


def q_multimodal_decoded(spark, sf_dir):
    """REAL multimodal decode (not the fake stand-in): each doc gets a
    genuine RIFF/WAV payload (PCM8, 64 samples derived from doc_id),
    ``extract_audio_features(fake=False)`` parses the container — chunk
    walk, fmt header, PCM scaling — and the oracle replays the exact
    sample math in SQL.  Proves the decode path end-to-end, not just
    the plumbing."""
    import struct as _struct

    from .functions.multimodal import extract_audio_features

    def _wav(batches):
        fmt = _struct.pack("<HHIIHH", 1, 1, 16000, 16000, 1, 8)
        head = (b"WAVE" + b"fmt " + _struct.pack("<I", 16) + fmt
                + b"data" + _struct.pack("<I", 64))
        for pdf in batches:
            payloads = [
                b"RIFF" + _struct.pack("<I", len(head) + 64) + head
                + bytes((int(d) * 31 + i * 7) % 256 for i in range(64))
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.mapInPandas(_wav, "doc_id long, payload binary")
    feats = extract_audio_features(payloads, id_col="doc_id", fake=False)
    return feats.select(
        "id",
        F.col("n_samples").cast("int").alias("n_samples"),
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"))


def q_zarr_roundtrip(spark, sf_dir):
    """Zarr v3 custom datasource round-trip: distributed executor-side
    group writes, pruned + projected read through the registered Python
    DataSource (the reference's native storage format — README.rst:21-54)."""
    from .zarr3.collection import create_zarr_collection

    def build():
        df = _events3(spark, sf_dir)
        coll = create_zarr_collection(
            spark, f"{_tmp()}/zarr_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df)
        return coll
    coll = _cached(("zarr", sf_dir), build)
    return coll.query(filters="day in (3, 4, 5)")


def q_streaming_hourly(spark, sf_dir):
    """Structured Streaming (availableNow) hourly event counts — the
    stream path of the engine; batch-equivalent oracle."""
    from .streaming import hourly_event_counts
    return hourly_event_counts(spark, sf_dir)


def _sink_coll(spark: SparkSession, sf_dir: str):
    """events streamed (availableNow) through the exactly-once
    foreachBatch sink into a Date-partitioned collection, then the
    last committed micro-batch FORCE-REPLAYED through the same sink —
    the txn ledger must make the replay a no-op."""
    def build():
        from .streaming import (make_batch_sink, stream_events,
                                write_stream_to_collection)
        ev = _events3(spark, sf_dir)
        root = f"{_tmp()}/sink_{abs(hash(sf_dir))}"
        coll = create_collection(
            spark, f"{root}/coll",
            schema=infer_schema(ev.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        q = write_stream_to_collection(
            stream_events(spark, sf_dir).select("event_id", "ts",
                                                "value"),
            coll, checkpoint_dir=f"{root}/ckpt", app_id="graded-sink")
        q.awaitTermination()
        # forced duplicate delivery: re-run the highest committed batch
        # id through a fresh sink closure.  If the ledger skip failed,
        # every row would land twice and the per-day counts below would
        # double — hash-mismatching the oracle.
        last = coll.txn_version("graded-sink")
        assert last >= 0, "stream committed no batch"
        make_batch_sink(coll, merge=None, app_id="graded-sink")(ev, last)
        return coll
    return _cached(("sink", sf_dir), build)


def q_streaming_sink(spark, sf_dir):
    """Exactly-once streaming SINK graded end-to-end (closing the CDC
    loop: collections are both stream source and stream sink).  The
    events stream lands through the transactional foreachBatch sink
    (txn version committed in the same atomic catalog PUT as the
    partition list — the Delta-sink pattern on the collection catalog),
    a committed batch is force-replayed (must no-op), and the collection
    reads back as per-day counts + value sums.  Duplicate delivery
    would double the counts: exactly-once is VALUE-gated by the oracle,
    not just asserted in pytest."""
    coll = _sink_coll(spark, sf_dir)
    out = coll.query()
    # decimal-exact sum: a raw double sum is order-dependent and the
    # two engines aggregate in different orders — at sf3 (30x rows per
    # day-group) the drift crossed the 6-decimal rounding boundary
    return (out.groupBy(F.month("ts").alias("m"),
                        F.dayofmonth("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                         .cast("double"), 6).alias("sum_value"))
            .orderBy("m", "d"))


_CDC_QUERY_SEQ = [0]


def q_streaming_changes_agg(spark, sf_dir):
    """Changes-stream SOURCE graded end-to-end (r12 verdict task 6 —
    the source half of the CDC loop; the sink half is
    streaming_sink).  A generation range is read through
    ``stream_changes`` (``spark.readStream.format("zchanges")``,
    changes_stream.py) with one availableNow pass into a memory sink,
    then aggregated per change kind.  Deterministic construction:
    insert days < 15 (remember the generation), insert days >= 15
    (pure adds), drop day <= 5 (removes) — streaming from the
    remembered generation must deliver exactly the day >= 15
    partitions as 'added' and the day <= 5 partitions as 'removed',
    which is a pure function of the events table the DuckDB twin
    replays."""
    def build():
        df = _events3(spark, sf_dir)
        coll = create_collection(
            spark, f"{_tmp()}/events3_cdc_{abs(hash(sf_dir))}",
            schema=infer_schema(df.schema, axis="ts"),
            axis="ts", partitioning=Date(("ts",), resolution="D"))
        coll.insert(df.where(F.dayofmonth("ts") < 15))
        gen = coll.generation()
        coll.insert(df.where(F.dayofmonth("ts") >= 15))
        coll.drop_partitions(filters="day <= 5")
        return coll, gen
    coll, gen = _cached(("events3_cdc", sf_dir), build)
    from .changes_stream import stream_changes
    _CDC_QUERY_SEQ[0] += 1
    sink = f"cdc_changes_{abs(hash(sf_dir))}_{_CDC_QUERY_SEQ[0]}"
    q = (stream_changes(spark, coll.path, starting_generation=gen)
         .writeStream.format("memory").queryName(sink)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(sink)
            .groupBy("change")
            .agg(F.count(F.lit(1)).alias("n_partitions"),
                 F.min("relpath").alias("first_relpath"),
                 F.max("relpath").alias("last_relpath"))
            .orderBy("change"))


def q_streaming_stateful(spark, sf_dir):
    """applyInPandasWithState custom stateful operator (per-user running
    totals); with one availableNow batch the final state equals the batch
    aggregation — which is the oracle."""
    from .streaming import stateful_user_totals
    return stateful_user_totals(spark, sf_dir)


def q_order_priority_counts(spark, sf_dir):
    """TPC-H Q4-style EXISTS: orders with at least one line shipped >30
    days after ordering, counted per priority.  Spark expresses the
    correlated EXISTS as a left-semi join on the correlated condition —
    shuffles only the two join columns of lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    cond = ((F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")))
    return (orders.join(li, on=cond, how="left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


def q_returned_item_losses(spark, sf_dir):
    """TPC-H Q10-style: revenue lost to returned items per customer,
    deterministic top-20.  Fact table filtered first; only nation is
    hint-broadcast (fixed 25 rows) — the windowed orders slice and
    customer scale with SF, so AQE picks their join sides."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    window = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))) \
        .select("o_orderkey", "o_custkey")
    return (li.where(F.col("l_returnflag") == "R")
            .join(window,
                  on=F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust.select("c_custkey", "c_name", "c_nationkey"),
                  on=F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  on=F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(*_scaled_sum_cols(_rev4(), 10_000, "r"))
            .select("c_custkey", "c_name", "n_name",
                    _scaled_sum_dbl("r", 10_000).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20))


def q_priority_class_counts(spark, sf_dir):
    """TPC-H Q12-style conditional aggregation: late-shipped lines per
    order status, split into high/low-priority counts with a single
    map-side CASE — one shuffle, two conditional sums."""
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate", "o_orderstatus",
                "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders,
                    on=F.col("l_orderkey") == F.col("o_orderkey"))
            .where(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .groupBy("o_orderstatus")
            .agg(F.sum(F.when(high, 1).otherwise(0))
                 .alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1))
                 .alias("low_line_count")))


def q_asof_enrich(spark, sf_dir):
    """As-of join: each non-purchase event picks up the user's most
    recent purchase value at-or-before its timestamp (the standalone
    generalization of the reference's tolerance-upsert nearest match,
    ``merge.py:262-272``).  One shuffle on ``user_id`` — no range-join
    pair explosion."""
    from .functions.asof import asof_join
    ev = load_table(spark, sf_dir, "events")
    left = (ev.where(F.col("event_type") != "purchase")
            .select("event_id", "user_id", "ts"))
    right = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts",
                     F.col("value").alias("last_purchase_value")))
    return asof_join(left, right, on="ts", by="user_id")


def q_dedup_keep_latest(spark, sf_dir):
    """Snapshot dedup: keep each user's most recent event per type
    (training-data 'latest version wins' compaction) — one window
    shuffle, ties broken on event_id."""
    from .functions.dedup import dedup_keep_latest
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "event_type", "ts", "value")
    return dedup_keep_latest(ev, keys=["user_id", "event_type"],
                             order_col="ts", tiebreak="event_id")


def q_interval_match(spark, sf_dir):
    """Interval join: purchases matched into each user's daily view
    window ([min,max] view ts per user-day) via grid bucketing — an
    equi-join on (user_id, hour bucket), never a nested-loop range
    join."""
    from .functions.interval import interval_join
    ev = load_table(spark, sf_dir, "events")
    windows = (ev.where(F.col("event_type") == "view")
               .groupBy("user_id",
                        F.date_trunc("day", F.col("ts")).alias("day_start"))
               .agg(F.min("ts").alias("win_lo"),
                    F.max("ts").alias("win_hi")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    return interval_join(purchases, windows, on="ts",
                         start="win_lo", end="win_hi", by="user_id",
                         bucket=3600.0)


def q_value_percentiles(spark, sf_dir):
    """Exact continuous percentiles per event type (``F.percentile`` is
    the exact linear-interpolation aggregate; at 100 TB swap in
    ``approx_percentile`` — same plan shape, sketch-mergeable).  Matches
    DuckDB ``quantile_cont`` bit-for-bit after a 6-digit round."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", 0.5), 6).alias("p50"),
                 F.round(F.percentile("value", 0.95), 6).alias("p95"),
                 F.count(F.lit(1)).alias("n")))


def q_revenue_rollup(spark, sf_dir):
    """ROLLUP grouping-sets aggregation with grouping_id — subtotal and
    grand-total rows in ONE pass (Expand + single shuffle), the way a
    100 TB report avoids N separate scans."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 *_scaled_sum_cols(_money(F.col("l_quantity")),
                                   100, "q"),
                 F.grouping_id().alias("gid"))
            .select("l_returnflag", "l_linestatus", "n",
                    _scaled_sum_dbl("q", 100).alias("sum_qty"),
                    "gid"))


def q_streaming_dedup(spark, sf_dir):
    """Streaming dedup (``dropDuplicatesWithinWatermark``): first arrival
    per event_id wins, state expires with the watermark.  One-pass
    deterministic source -> equals batch DISTINCT (the oracle)."""
    from .streaming import deduped_events
    return deduped_events(spark, sf_dir)


def q_embedding_centroids(spark, sf_dir):
    """Per-label centroid accumulators: position-wise quantized sums over
    the embedding column (``posexplode`` + one shuffle on (label, pos)).
    Centroid = qsum / (n * 1e7); the 1e-7 quantization (IEEE double
    multiply + floor, deterministic on both engines) keeps the
    cross-engine hash exact.  At 100 TB this is the map-side-combining
    mean-vector pattern IVF training uses."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (ex.groupBy("label", "pos")
            .agg(F.sum(F.floor(F.col("v").cast("double")
                               * F.lit(10000000.0)).cast("long"))
                 .alias("qsum"),
                 F.count(F.lit(1)).alias("n")))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: jaccard pairs → connected components →
    ``(doc_id, cluster_id)`` with the min doc id as the canonical
    survivor.  The HashMin label-propagation loop is the distributed
    closing step every pair-producing dedup needs; the oracle replays it
    as a recursive CTE."""
    from .functions.graph import dedup_clusters
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                                shingle_size=5, threshold=0.5,
                                max_df=JACCARD_MAX_DF) \
        .select("id_a", "id_b")
    return dedup_clusters(pairs, "id_a", "id_b")


def q_big_orders(spark, sf_dir):
    """TPC-H Q18-style quantified subquery: orders whose total quantity
    exceeds a threshold, joined back for detail.  The HAVING subquery
    becomes an aggregate + self-equi-join; the aggregate output shrinks
    with the predicate, so AQE usually broadcasts it at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
           .agg(*_scaled_sum_cols(_money(F.col("l_quantity")),
                                  100, "q"))
           .select("l_orderkey",
                   _scaled_sum_dbl("q", 100).alias("total_qty"))
           .where(F.col("total_qty") > 180))
    return (orders.join(big,
                        on=F.col("o_orderkey") == F.col("l_orderkey"))
            .select("o_orderkey", "o_custkey", "o_orderdate",
                    "total_qty"))


def q_event_gaps(spark, sf_dir):
    """lead/lag window analytics: seconds between consecutive events per
    user, bucketed into a gap histogram — one window shuffle plus one
    aggregation."""
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond integers: exact on both engines (epoch seconds would
    # truncate sub-second parts differently across engines)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (ev.withColumn("gap_us", gap)
            .where(F.col("gap_us").isNotNull())
            .groupBy((F.floor(F.col("gap_us") / 3600000000))
                     .alias("gap_hours"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.max("gap_us").alias("max_gap_us")))


def q_capped_sample(spark, sf_dir):
    """Budget capping: at most 30 documents per language, chosen by a
    deterministic md5 rank — the reproducible corpus-downsampling
    primitive (exact counts, same sample every run/engine)."""
    from .functions.sampling import cap_per_group
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, keys="lang", id_col="doc_id", n=30) \
        .select("doc_id", "lang", "source")


def q_trade_flows(spark, sf_dir):
    """TPC-H Q7-style nation-pair trade matrix: revenue by (supplier
    nation, customer nation).  lineitem ⋈ orders is fact-to-fact — it
    shuffles (broadcasting an unfiltered fact table would OOM at
    scale); only the fixed-size nation dims carry broadcast hints —
    supplier/customer are left to AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    return (li
            .join(supp,
                  on=F.col("l_suppkey") == F.col("s_suppkey"))
            .join(orders,
                  on=F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust,
                  on=F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation.selectExpr(
                "n_nationkey AS sn_key", "n_name AS supp_nation")),
                on=F.col("s_nationkey") == F.col("sn_key"))
            .join(F.broadcast(nation.selectExpr(
                "n_nationkey AS cn_key", "n_name AS cust_nation")),
                on=F.col("c_nationkey") == F.col("cn_key"))
            .groupBy("supp_nation", "cust_nation")
            .agg(*_scaled_sum_cols(_rev4(), 10_000, "r"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select("supp_nation", "cust_nation",
                    _scaled_sum_dbl("r", 10_000).alias("revenue"),
                    "n_lines"))


def q_zarr_documents(spark, sf_dir):
    """Text corpus stored AS ZARR: documents round-trip through the v3
    ``string`` data type (vlen-utf8 codec) and come back hash-exact —
    the storage proof that the LLM-pipeline operators can run over
    zarr-resident corpora."""
    from .zarr3.collection import create_zarr_collection

    def build():
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text", "lang")
        coll = create_zarr_collection(
            spark, f"{_tmp()}/zarr_docs_{abs(hash(sf_dir))}",
            schema=infer_schema(docs.schema, axis="doc_id"),
            axis="doc_id",
            partitioning=GroupedSequence(("doc_id",), size=50))
        coll.insert(docs)
        return coll
    coll = _cached(("zarr_docs", sf_dir), build)
    return (coll.query()
            .select("doc_id", "lang",
                    F.length("text").alias("n_chars_rt"),
                    F.md5(F.col("text")).alias("text_md5")))


def q_top_ngrams(spark, sf_dir):
    """Corpus-level n-gram document frequencies: top-20 bigrams by the
    number of documents containing them (the shingle-DF table MinHash
    banding and df-cutoff pruning both read from)."""
    from .functions.text import word_shingles
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.explode(F.array_distinct(
                            word_shingles("text", 2))).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.col("df").desc(), F.col("gram"))
            .limit(20))


def q_browse_no_buy(spark, sf_dir):
    """Set-operator family: (user, day) pairs with views but no
    purchases — ``except_`` over distinct keys plans as a left-anti
    aggregate, one shuffle per side (the funnel-gap extraction every
    behavioral pipeline runs)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts").alias("d")
    viewed = (ev.where(F.col("event_type") == "view")
              .select("user_id", day).distinct())
    bought = (ev.where(F.col("event_type") == "purchase")
              .select("user_id", day).distinct())
    return viewed.exceptAll(bought)


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (functions/curation.py): deterministic synthetic
    PII is injected per doc (the synthetic corpus has none), then
    counted and replaced with sentinels — pure JVM regexp expressions,
    scan-speed at any scale.  The oracle replays the same Java/RE2-
    identical patterns in DuckDB."""
    from .functions import scrub_pii
    docs = load_table(spark, sf_dir, "documents")
    inj = docs.select(
        "doc_id",
        F.concat(F.lit("contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10.0.0."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(" ssn 123-45-6789 "), F.col("text"))
        .alias("text"))
    out = scrub_pii(inj)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.length("text_scrubbed").cast("long").alias("n_chars_scrubbed"))


def _pii_oracle() -> str:
    from .functions.curation import PII_PATTERNS, _SCRUB_ORDER
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS BIGINT)"
        f" AS n_{k}" for k in _SCRUB_ORDER)
    scrub = "t"
    for k in _SCRUB_ORDER:
        scrub = (f"regexp_replace({scrub}, '{PII_PATTERNS[k]}', "
                 f"'<{k.upper()}>', 'g')")
    return f"""
WITH inj AS (SELECT doc_id,
  'contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.0.'
  || CAST(doc_id % 256 AS VARCHAR) || ' ssn 123-45-6789 ' || text AS t
  FROM documents)
SELECT doc_id, {counts},
       CAST(length({scrub}) AS BIGINT) AS n_chars_scrubbed
FROM inj
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/curation.py): training docs
    sharing any word 3-gram with the held-out benchmark slice
    (doc_id % 97 == 0) — benchmark shingles broadcast, one scan +
    explode + semi-join over the corpus side."""
    from .functions import contamination
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    out = contamination(train, bench, id_col="doc_id", n=3)
    return out.select("doc_id",
                      F.col("n_overlap").cast("long").alias("n_overlap"))


#: Entry-query thresholds for the Gopher-style filter, tuned to the
#: short synthetic docs so the verdict is genuinely mixed (sf0.01:
#: n in [10,99], stopword hits >= 2 for ~63%, top-token p90 ~ 0.14).
QF_RULES = {"min_words": 20, "min_stopword_hits": 2,
            "max_top_token_ratio": 0.12}


def q_quality_filter(spark, sf_dir):
    """Gopher-style quality filter (functions/curation.py): the
    published heuristic rules (Rae et al. 2021) as one pass of JVM
    expressions — per-rule boolean columns for drop-reason analytics
    plus the conjunction verdict."""
    from .functions import quality_filter
    docs = load_table(spark, sf_dir, "documents")
    out = quality_filter(docs, rules=QF_RULES)
    return out.select("doc_id", "q_word_count", "q_mean_word_len",
                      "q_symbol_ratio", "q_stopwords", "q_repetition",
                      "keep")


def _quality_oracle() -> str:
    from .functions.curation import GOPHER_RULES
    from .functions.text import STOPWORDS
    r = dict(GOPHER_RULES)
    r.update(QF_RULES)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
                      AS w, text FROM documents),
tok AS (SELECT doc_id, unnest(w) AS t, len(w) AS n FROM words),
freq AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
top AS (SELECT doc_id, max(c) AS mx FROM freq GROUP BY doc_id),
base AS (SELECT doc_id, len(w) AS n,
                (length(text) - (len(w) - 1)) / len(w) AS mean_len,
                len(regexp_extract_all(text, '[#…]')) AS symbols,
                len(list_intersect(list_distinct(w),
                                   [{stops}])) AS stop_hits
         FROM words),
q AS (SELECT b.doc_id,
             COALESCE(b.n >= {r['min_words']}
               AND b.n <= {r['max_words']}, FALSE) AS q_word_count,
             COALESCE(b.mean_len >= {r['min_mean_word_len']}
               AND b.mean_len <= {r['max_mean_word_len']}, FALSE)
               AS q_mean_word_len,
             COALESCE(b.symbols / b.n <= {r['max_symbol_ratio']},
               FALSE) AS q_symbol_ratio,
             COALESCE(b.stop_hits >= {r['min_stopword_hits']}, FALSE)
               AS q_stopwords,
             COALESCE(CAST(t.mx AS DOUBLE) / b.n
               <= {r['max_top_token_ratio']}, FALSE) AS q_repetition
      FROM base b JOIN top t ON t.doc_id = b.doc_id)
SELECT doc_id, q_word_count, q_mean_word_len, q_symbol_ratio,
       q_stopwords, q_repetition,
       q_word_count AND q_mean_word_len AND q_symbol_ratio
         AND q_stopwords AND q_repetition AS keep
FROM q
"""


def q_pipeline_funnel(spark, sf_dir):
    """End-to-end corpus-cleaning funnel (NEW r15): per-source
    survivor counts through quality filter -> exact-text dedup ->
    benchmark decontamination (benchmark = the doc_id %% 97 slice,
    the decontaminate entry's convention — present in the raw corpus,
    so the stage also demonstrates self-leak removal).  Each stage IS
    the standalone operator; the funnel adds only four group-sized
    aggregates (functions/curation.py: pipeline_funnel)."""
    from .functions.curation import pipeline_funnel
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return pipeline_funnel(docs, bench, id_col="doc_id",
                           text_col="text", group_col="source",
                           rules=QF_RULES, shingle_size=3) \
        .select("source", "n_raw", "n_quality", "n_unique", "n_clean")


def _pipeline_funnel_oracle() -> str:
    """DuckDB twin of :func:`q_pipeline_funnel`: the quality twin's
    rule CTEs (same QF_RULES literals) -> min-id-per-text dedup ->
    the decontaminate twin's shared-shingle flag -> four per-source
    counts left-joined onto the raw census."""
    from .functions.curation import GOPHER_RULES
    from .functions.text import STOPWORDS
    r = dict(GOPHER_RULES)
    r.update(QF_RULES)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH words AS (SELECT doc_id, source, text,
                      regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents),
tok AS (SELECT doc_id, unnest(w) AS t FROM words),
freq AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
top AS (SELECT doc_id, max(c) AS mx FROM freq GROUP BY doc_id),
base AS (SELECT doc_id, len(w) AS n,
                (length(text) - (len(w) - 1)) / len(w) AS mean_len,
                len(regexp_extract_all(text, '[#…]')) AS symbols,
                len(list_intersect(list_distinct(w),
                                   [{stops}])) AS stop_hits
         FROM words),
keepers AS (SELECT b.doc_id
            FROM base b JOIN top t USING (doc_id)
            WHERE COALESCE(b.n >= {r['min_words']}
                    AND b.n <= {r['max_words']}, FALSE)
              AND COALESCE(b.mean_len >= {r['min_mean_word_len']}
                    AND b.mean_len <= {r['max_mean_word_len']}, FALSE)
              AND COALESCE(b.symbols / b.n <= {r['max_symbol_ratio']},
                    FALSE)
              AND COALESCE(b.stop_hits >= {r['min_stopword_hits']},
                    FALSE)
              AND COALESCE(CAST(t.mx AS DOUBLE) / b.n
                    <= {r['max_top_token_ratio']}, FALSE)),
dedup AS (SELECT min(w.doc_id) AS doc_id
          FROM words w JOIN keepers k USING (doc_id)
          GROUP BY w.text),
shing AS (SELECT DISTINCT doc_id,
            CASE WHEN len(w) >= 3
                 THEN array_to_string(list_slice(w, gs, gs + 2), ' ')
                 ELSE array_to_string(w, ' ') END AS s
          FROM words,
               UNNEST(generate_series(
                 1, CASE WHEN len(w) >= 3 THEN len(w) - 2
                         ELSE 1 END)) u(gs)),
bench AS (SELECT DISTINCT s FROM shing WHERE doc_id % 97 = 0),
flagged AS (SELECT DISTINCT sh2.doc_id
            FROM shing sh2 JOIN dedup USING (doc_id)
                           JOIN bench USING (s)),
clean AS (SELECT doc_id FROM dedup ANTI JOIN flagged USING (doc_id)),
src AS (SELECT doc_id, source FROM documents),
raw AS (SELECT source, count(*) AS n_raw FROM documents
        GROUP BY source),
qc AS (SELECT source, count(*) AS nq FROM keepers JOIN src
       USING (doc_id) GROUP BY source),
dc AS (SELECT source, count(*) AS nu FROM dedup JOIN src
       USING (doc_id) GROUP BY source),
cc AS (SELECT source, count(*) AS nc FROM clean JOIN src
       USING (doc_id) GROUP BY source)
SELECT source, n_raw,
       CAST(coalesce(nq, 0) AS BIGINT) AS n_quality,
       CAST(coalesce(nu, 0) AS BIGINT) AS n_unique,
       CAST(coalesce(nc, 0) AS BIGINT) AS n_clean
FROM raw LEFT JOIN qc USING (source) LEFT JOIN dc USING (source)
         LEFT JOIN cc USING (source)
"""


def q_doc_repetition(spark, sf_dir):
    """Within-document repetition (functions/curation.py):
    top-token share (one aggregate pass over the sorted token array —
    no shuffle) and duplicate-5-gram ratio per document."""
    from .functions import repetition_stats
    docs = load_table(spark, sf_dir, "documents")
    out = repetition_stats(docs, n=5)
    return out.select(
        "doc_id",
        F.round("top_token_ratio", 6).alias("top_token_ratio"),
        F.round("dup_ngram_ratio", 6).alias("dup_ngram_ratio"))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: IVF-PQ production config — chosen from the round-6 sweep
#: (tools/ann_sweep.py → ANN_SWEEP.json): the round-5 m=8/refine=4
#: config plateaued at recall 0.72 regardless of n_probe because (a)
#: 8-dim subspaces quantize isotropic dim-64 embeddings too coarsely
#: and (b) the 40-candidate exact-rerank pool could not recover the
#: ADC misrankings.  m=16 (4-dim subspaces) + refine_factor=8 measures
#: recall@10 = 0.90 at sf0.1; codes stay 16 smallints (32 B) per row.
IVFPQ_CFG = {"n_cells": 16, "n_probe": 8, "m": 16, "n_codes": 64,
             "refine_factor": 8}

_IVFPQ_TRAIN_CACHE: dict = {}


def _ivfpq_trained_cached(sf_dir: str) -> tuple:
    """Deterministic (centroids, codebooks) for ``{sf_dir}/embeddings``
    — the same id-ordered DuckDB-read sample + seeded recipe
    :func:`train_ivfpq` uses, trained driver-side ONCE so the Spark
    query and the SQL oracle replay a bit-identical quantizer (the
    knn_ivf ``_ivf_centroids`` pattern)."""
    if sf_dir not in _IVFPQ_TRAIN_CACHE:
        import duckdb

        from .functions.similarity import train_ivfpq
        sample = [r[0] for r in duckdb.sql(
            f"SELECT CAST(embedding AS DOUBLE[]) "
            f"FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT 100000").fetchall()]
        _IVFPQ_TRAIN_CACHE[sf_dir] = train_ivfpq(
            sample, n_cells=IVFPQ_CFG["n_cells"], m=IVFPQ_CFG["m"],
            n_codes=IVFPQ_CFG["n_codes"], seed=42, iters=10)
    return _IVFPQ_TRAIN_CACHE[sf_dir]


def q_knn_ivfpq(spark, sf_dir):
    """IVF-PQ ANN: coarse cells + product-quantized residual codes with
    exact re-rank of the ADC survivors (similarity.py:ivfpq_topk) — the
    memory-scale ANN path (8x smaller candidate rows than raw float32
    at dim=64).  The oracle replays the full pipeline in DuckDB SQL —
    literal centroid + codebook tables, cell/code argmin, flatten-based
    reconstruction, ADC pool, exact re-rank (:func:`_ivfpq_oracle`)."""
    from .functions.similarity import ivfpq_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.orderBy("vec_id").limit(5)
    topk = ivfpq_topk(emb, queries_df, id_col="vec_id",
                      vec_col="embedding", query_id_col="vec_id",
                      k=10, trained=_ivfpq_trained_cached(sf_dir),
                      **IVFPQ_CFG)
    return topk.select("query_id", "vec_id",
                       F.round("cosine", 6).alias("cosine"),
                       F.col("rank").cast("long").alias("rank"))



def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (NEW r14): documents drawn without
    replacement with probability ∝ exp(bag-of-words log-likelihood
    ratio) under add-one-smoothed unigram LMs of a TARGET corpus (the
    English subset) vs. the full corpus — Data Selection via
    Importance Resampling (Xie et al. 2023), with the Gumbel-top-k
    draw made deterministic through the repo's md5 uniform so the
    SAMPLE is a pure function of (corpus, target, salt).  Two
    map-side-combined vocab groupBys + one token equi-join + a
    k-bounded TakeOrdered; nothing corpus-sized leaves the executors
    (functions/importance.py:importance_resample)."""
    from .functions.importance import importance_resample
    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return (importance_resample(docs, target, id_col="doc_id", k=50)
            .select("doc_id", "n_tokens", "log_weight", "gumbel_key",
                    F.col("rank").cast("long").alias("rank")))


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-k TF-IDF terms (NEW r14): the classic sparse
    document representation — keyword extraction / cluster naming —
    with the sklearn smooth-idf form and round-before-rank
    determinism.  One explode + tf groupBy (the only full-text pass),
    vocab-sized df reduction, and a per-DOCUMENT top-k window whose
    group size is bounded by the document's own distinct terms, never
    the corpus (functions/retrieval.py:tfidf_topk)."""
    from .functions.retrieval import tfidf_topk
    docs = load_table(spark, sf_dir, "documents")
    return (tfidf_topk(docs, id_col="doc_id", text_col="text", k=3)
            .select("doc_id", "term", "tf", "score",
                    F.col("rank").cast("long").alias("rank")))


def q_split_leakage(spark, sf_dir):
    """Cross-split near-duplicate leakage (NEW r14): the quarantine
    list of n-gram Jaccard near-dup pairs whose two sides landed in
    DIFFERENT hash splits — the eval-hygiene signal that held-out
    metrics are measuring memorization.  Composes the bounded
    shared-shingle Jaccard join with hash_split's bit-exact md5
    assignment; the split join touches only the (small) pair list
    (functions/curation.py:split_leakage)."""
    from .functions.curation import split_leakage
    docs = load_table(spark, sf_dir, "documents")
    return split_leakage(
        docs, id_col="doc_id", text_col="text",
        splits={"train": 0.4, "val": 0.3, "test": 0.3},
        shingle_size=3, threshold=0.5, max_df=JACCARD_MAX_DF)


def q_lm_buckets(spark, sf_dir):
    """CCNet-style corpus quality buckets (NEW r14): head/middle/tail
    by corpus-bigram-LM score quantiles (Wenzek et al. 2020 bucket by
    KenLM perplexity and train on the head) — exact percentile
    boundaries, 6-dp-rounded, broadcast back and compared per row;
    never a global sort/ntile funnel
    (functions/text.py:lm_quality_buckets)."""
    from .functions.text import lm_quality_buckets
    docs = load_table(spark, sf_dir, "documents")
    return lm_quality_buckets(docs, id_col="doc_id", text_col="text") \
        .select("doc_id", "lm_score", "bucket")


def q_novelty_scores(spark, sf_dir):
    """Per-document n-gram novelty vs the corpus (NEW r15): fraction
    of a document's distinct 3-grams with corpus document-frequency 1,
    plus the mean log-df boilerplate-density signal.  One distinct
    over (id, md5 hash), a vocabulary-sized df aggregate, one hash
    equi-join back — per-document output, no self-join, no guard
    needed (functions/curation.py: novelty_scores)."""
    from .functions.curation import novelty_scores
    docs = load_table(spark, sf_dir, "documents")
    return (novelty_scores(docs, id_col="doc_id", text_col="text",
                           shingle_size=3)
            .select("doc_id", "n_shingles", "n_unique", "novelty",
                    "mean_log_df"))


def q_source_overlap(spark, sf_dir):
    """Cross-source n-gram contamination matrix (NEW r15): for every
    unordered source pair, the exact Jaccard overlap of their distinct
    word-3-gram sets — the corpus-composition audit run before mixing
    sources into a training run.  One distinct over (source, md5
    shingle hash), a hash equi-join whose per-key fan-out is bounded
    by #sources (never a cartesian), and a sources²-row broadcast join
    against the tiny size table (functions/curation.py:
    source_overlap)."""
    from .functions.curation import source_overlap
    docs = load_table(spark, sf_dir, "documents")
    return (source_overlap(docs, group_col="source", text_col="text",
                           shingle_size=3)
            .select("source_a", "source_b", "n_a", "n_b", "n_common",
                    "jaccard"))


def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style boilerplate removal (NEW r15): passages (4-token
    non-overlapping windows — the paragraph proxy) occurring in ≥ 3
    distinct documents are stripped from every document.  Only (id,
    pos, md5 hash) rows shuffle — never passage text; the kept-position
    set comes from an anti-join against the small boilerplate sliver
    and reassembly is a per-row array expression
    (functions/curation.py: strip_boilerplate)."""
    from .functions.curation import strip_boilerplate
    docs = load_table(spark, sf_dir, "documents")
    return (strip_boilerplate(docs, id_col="doc_id", text_col="text",
                              passage_size=4, min_docs=3)
            .select("doc_id", "n_passages", "n_boilerplate",
                    "clean_text"))


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced diversity sample (NEW r15): k-means cells over
    the embedding corpus, at most 25 rows kept per cell by
    deterministic md5 rank — the semantic-coverage sampling step of an
    embedding pipeline.  Deterministic end to end: reuses the
    pre-trained knn_ivf centroids, so the DuckDB oracle replays cell
    assignment from the same literals (functions/sampling.py:
    cluster_balanced_sample)."""
    from .functions.sampling import cluster_balanced_sample
    emb = load_table(spark, sf_dir, "embeddings")
    return (cluster_balanced_sample(
        emb, id_col="vec_id", vec_col="embedding", per_cell=25,
        n_cells=8, centroids=_ivf_centroids_cached(sf_dir, n_cells=8))
        .select("vec_id", "cell", "cell_rank"))


def _cluster_sample_oracle(centroids: "list[list[float]]",
                           per_cell: int = 25) -> str:
    """Exact DuckDB replay of :func:`q_cluster_sample` with literal
    centroids — the same cell-argmin expansion as ``_ivf_oracle``
    (|c|² embedded as the numpy literal the Spark UDF uses), then a
    per-cell row_number over the shared md5 rank."""
    import numpy as np
    cent_np = np.asarray(centroids, dtype=np.float64)
    cent_sq = (cent_np * cent_np).sum(axis=1)
    vals = []
    for j, c in enumerate(centroids):
        lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        vals.append(f"({j}, CAST({lit} AS DOUBLE[]), "
                    f"{float(cent_sq[j])!r})")
    cents_sql = ",\n".join(vals)
    return f"""
WITH cents(cell, p, csq) AS (VALUES {cents_sql}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cd AS (SELECT vec_id, cell,
              row_number() OVER (
                PARTITION BY vec_id
                ORDER BY -2.0 * list_dot_product(v, p) + csq, cell) AS rn
       FROM c, cents),
cell_of AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell
            FROM cd WHERE rn = 1),
ranked AS (SELECT vec_id, cell,
                  row_number() OVER (
                    PARTITION BY cell
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  AS cell_rank
           FROM cell_of)
SELECT vec_id, cell, CAST(cell_rank AS BIGINT) AS cell_rank
FROM ranked WHERE cell_rank <= {per_cell}
"""


def q_domain_mix(spark, sf_dir):
    """Temperature-flattened domain mixture recipe (NEW r16): the
    per-source token census and the tau=0.5 mixing table — target
    shares and per-domain epoch multipliers — in one group-sized
    aggregate (functions/sampling.py: domain_mix_weights; composes
    with upsample_by_weight to realize the recipe).  sqrt is
    IEEE-correctly-rounded on both engines, so the whole table
    hash-matches."""
    from .functions.sampling import domain_mix_weights
    docs = load_table(spark, sf_dir, "documents")
    return domain_mix_weights(docs, group_col="source",
                              text_col="text", temperature=0.5) \
        .select("source", "n_docs", "n_tokens", "natural_share",
                "target_share", "mix_weight")


def q_cross_lm(spark, sf_dir):
    """Cross-reference bigram LM scoring (NEW r16): an add-one
    smoothed bigram model trained on the src0 slice scores the whole
    corpus (the CCNet/KenLM deployment shape — train on the clean
    reference, score the crawl; functions/text.py: cross_lm_score).
    Kept rational (integer counts, one division per pair) for
    cross-engine bit-parity; mean rounded to 6 dp at the source."""
    from .functions.text import cross_lm_score
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    return cross_lm_score(docs, ref, id_col="doc_id",
                          text_col="text") \
        .select("doc_id", "n_bigrams", "mean_cond_p",
                "oov_bigram_share")


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (NEW r16): boundaries where the
    rolling 4-token fingerprint hashes 0 mod 8, so edits only
    reshuffle the chunks they touch — the dedup-stable alternative to
    fixed-stride chunk_documents (functions/text.py: cdc_chunks).
    Pure Catalyst with the token array let-bound once; md5-int64 is
    the dedup family's shared cross-engine hash, so every boundary
    replays bit-identically in DuckDB."""
    from .functions.text import cdc_chunks
    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, id_col="doc_id", text_col="text",
                      shingle_size=4, boundary_mod=8) \
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")


def q_hash_embeddings(spark, sf_dir):
    """Signed feature-hashing document embeddings (NEW r16): the
    model-free text-to-vector path (hashing trick, dim=32,
    L2-normalized) that feeds the ANN/semantic-dedup family when no
    learned embedding exists (functions/text.py:
    feature_hash_embeddings).  Sparse (doc_id, dim, value) rows; the
    only non-rational step is the IEEE-correctly-rounded sqrt, so the
    table hash-matches cross-engine."""
    from .functions.text import feature_hash_embeddings
    docs = load_table(spark, sf_dir, "documents")
    return feature_hash_embeddings(docs, id_col="doc_id",
                                   text_col="text", dim=32) \
        .select("doc_id", "dim", "value")


def q_text_knn(spark, sf_dir):
    """Hashed-embedding text retrieval (NEW r16, a COMPOSITION query —
    no new operator): feature_hash_embeddings vectors (dim=32,
    L2-normalized sparse rows) self-joined on the bucket dimension to
    score exact cosine of every document against the three probe
    documents (doc_id < 3), top-10 per probe.  The probe side is
    3 docs x <=32 rows — broadcast by construction; the corpus side is
    the one map-side-combined embedding build.  Demonstrates the
    model-free text->vector path feeding retrieval end-to-end."""
    from pyspark.sql import Window
    from .functions.text import feature_hash_embeddings
    docs = load_table(spark, sf_dir, "documents")
    vecs = feature_hash_embeddings(docs, id_col="doc_id",
                                   text_col="text", dim=32)
    probes = (vecs.where(F.col("doc_id") < 3)
              .select(F.col("doc_id").alias("query_id"), "dim",
                      F.col("value").alias("qv")))
    scored = (vecs.join(F.broadcast(probes), on="dim")
              .where(F.col("doc_id") != F.col("query_id"))
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum(F.col("value") * F.col("qv")), 6)
                   .alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("query_id", "doc_id", "score",
                    F.col("rank").cast("long").alias("rank")))


def q_cluster_reps(spark, sf_dir):
    """Quality-aware cluster representatives (NEW r16, a COMPOSITION
    query): near-dup clusters (jaccard pairs -> connected components,
    the dedup_clusters machinery) keep their LONGEST member instead of
    the min-id canonical — what production dedup does (pick the best
    document of each near-dup cluster, drop the rest).  Tie-break on
    doc_id keeps selection deterministic.  One bounded window per
    cluster + one group-sized size join; no new operator."""
    from pyspark.sql import Window
    from .functions.graph import dedup_clusters
    from .functions.text import words
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                                shingle_size=5, threshold=0.5,
                                max_df=JACCARD_MAX_DF) \
        .select("id_a", "id_b")
    clusters = dedup_clusters(pairs, "id_a", "id_b")
    ntok = docs.select("doc_id",
                       F.size(words("text")).alias("n_tokens"))
    joined = clusters.join(ntok, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id"))
    reps = (joined.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .select("cluster_id",
                    F.col("doc_id").alias("rep_id"),
                    F.col("n_tokens").cast("long").alias("rep_tokens")))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return reps.join(sizes, "cluster_id") \
        .select("cluster_id", "rep_id", "rep_tokens", "cluster_size")


def q_ngram_coverage(spark, sf_dir):
    """Fractional benchmark contamination (NEW r16): the share of each
    training document's distinct 5-gram shingles found in the
    benchmark slice (doc_id %% 97, the decontaminate convention) —
    the rank-and-threshold complement to the hard-flag decontaminate
    (functions/curation.py: ngram_coverage).  Broadcast benchmark
    shingle set; exact counts, one rounded division."""
    from .functions.curation import ngram_coverage
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_coverage(docs, bench, id_col="doc_id",
                          text_col="text", n=5) \
        .select("doc_id", "n_shingles", "n_contaminated", "coverage")


def q_corpus_profile(spark, sf_dir):
    """Per-source dataset-card profile (NEW r16): document/token
    census + exact p10/p50/p90 of per-doc token counts + median
    stopword ratio, one row per source (functions/curation.py:
    corpus_profile) — the datasheet numbers a corpus release reports
    per slice.  ONE map-side-combined groupBy; percentile buffers
    bounded by the value grids (the lm_buckets argument)."""
    from .functions.curation import corpus_profile
    docs = load_table(spark, sf_dir, "documents")
    return corpus_profile(docs, group_col="source", text_col="text") \
        .select("source", "n_docs", "n_tokens", "tokens_p10",
                "tokens_p50", "tokens_p90", "stop_ratio_p50")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is load-bearing: the correctness driver records the FIRST
    # 50 entries only, so every operator-bearing query sits in the first
    # 50 and variants whose operator surface is covered by an in-window
    # peer come last.  ROTATION (round 17, executing the r16 ledger +
    # the r16 verdict's task 1 verbatim): the SEVEN r14-green holds
    # return (they were the oldest grade in the registry), the NINE
    # r16-born never-driver-graded ops promote for their first rows,
    # the NINE remaining r16-restructured queries (money family +
    # bm25_retrieval/hybrid_rrf/tfidf_topk — only revenue_rollup got an
    # independent post-change grade in r16) pull in for their
    # independent oracle grades, FOUR queries touched by this round's
    # optimization session stay/return in-window (pipeline_funnel,
    # dedup_containment, split_leakage, unigram_stats), and TWELVE of
    # the thirty remaining r15-green sit-outs return.  The same NINE
    # held-over permanents keep anchoring surfaces with no other
    # in-window peer (see the r16 ledger rationale).  9 + 7 + 9 + 9 +
    # 4 + 12 = 50.  SITTING OUT: the thirty-nine r16-graded rows that
    # age out after their green (freshest grade in the registry) and
    # EIGHTEEN r15-green rows held with in-window family peers
    # (arguments inline below).  The registry count and window split
    # are PINNED in tests/test_tools.py::test_registry_window_invariant
    # (the hand-counted totals in this comment rotted twice — r8 and
    # r9 — so the test owns the numbers).  FUTURE-ROUND ledger note —
    # the eighteen r15-green holds are the oldest grade after this
    # round and MUST return first; the r16-graded sit-outs return
    # next; this round's fifty age out after their green.
    return {
        # --- in-window 50: held-over permanents (9) ---
        "collection_query_prune": q_collection_query_prune,
        "collection_zonemap_skip": q_collection_zonemap_skip,
        "collection_sequence": q_collection_sequence,
        "update_derived": q_update_derived,
        "view_overlay": q_view_overlay,
        "index_lookup": q_index_lookup,
        "multimodal_decoded": q_multimodal_decoded,
        "zarr_roundtrip": q_zarr_roundtrip,
        "streaming_sink": q_streaming_sink,
        # --- r14-green holds RETURNING r17 (the oldest grade in the
        # registry; the r16 ledger scheduled them first) (7) ---
        "knn_lsh_hi": q_knn_lsh_hi,
        "knn_ivf_hi": q_knn_ivf_hi,
        "dedup_embedding": q_dedup_embedding,
        "language_id": q_language_id,
        "stratified_sample": q_stratified_sample,
        "top_revenue_orders": q_top_revenue_orders,
        "trade_flows": q_trade_flows,
        # --- PROMOTED r17: the nine r16-born never-driver-graded ops
        # (first rows, per the rotation discipline) (9) ---
        "collection_nested": q_collection_nested,
        "domain_mix": q_domain_mix,
        "cross_lm": q_cross_lm,
        "cdc_chunks": q_cdc_chunks,
        "hash_embeddings": q_hash_embeddings,
        "text_knn": q_text_knn,
        "cluster_reps": q_cluster_reps,
        "ngram_coverage": q_ngram_coverage,
        "corpus_profile": q_corpus_profile,
        # --- r16-RESTRUCTURED queries pulled in for their independent
        # post-change oracle grades (the r16 verdict's gate item:
        # scaled-long money sums + the BM25/TF-IDF rewrite carried
        # only self-certification) (9) ---
        "pricing_summary": q_pricing_summary,
        "promo_revenue": q_promo_revenue,
        "revenue_delta": q_revenue_delta,
        "regional_revenue": q_regional_revenue,
        "returned_item_losses": q_returned_item_losses,
        "big_orders": q_big_orders,
        "bm25_retrieval": q_bm25_retrieval,
        "hybrid_rrf": q_hybrid_rrf,
        "tfidf_topk": q_tfidf_topk,
        # --- TOUCHED by the r17 optimization session: kept/returned
        # in-window so this round's restructurings are graded in the
        # same round they land (4) ---
        "pipeline_funnel": q_pipeline_funnel,
        "dedup_containment": q_dedup_containment,
        "split_leakage": q_split_leakage,
        "unigram_stats": q_unigram_stats,
        # --- returning r15-green sit-outs (12 of 30; the other 18 hold
        # with in-window family peers, see the ledger note) ---
        "user_sessions": q_user_sessions,
        "asof_enrich": q_asof_enrich,
        "value_percentiles": q_value_percentiles,
        "merge_upsert": q_merge_upsert,
        "collection_clustered_where": q_collection_clustered_where,
        "collection_time_travel": q_collection_time_travel,
        "dedup_exact": q_dedup_exact,
        "bigram_lm": q_bigram_lm,
        "winnow_fingerprint": q_winnow_fingerprint,
        "dsir_sample": q_dsir_sample,
        "quality_filter": q_quality_filter,
        "span_scrub": q_span_scrub,
        # --- entries below fall outside the driver's 50-slot window;
        # every one is driver-green r15 or r16, its operator surface
        # is covered by an in-window peer (ledger note above), and
        # tools/check_oracle.py still gates all of them ---
        # rotated out r17 (driver-green r16; return in a future round):
        "collection_grouped_sequence": q_collection_grouped_sequence,
        "merge_time_series": q_merge_time_series,
        "merge_concat": q_merge_concat,
        "map_partition_stats": q_map_partition_stats,
        "collection_changes": q_collection_changes,
        "knn_ivfpq": q_knn_ivfpq,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "hash_split": q_hash_split,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "knn_bruteforce": q_knn_bruteforce,
        "embedding_centroids": q_embedding_centroids,
        "streaming_hourly": q_streaming_hourly,
        "streaming_stateful": q_streaming_stateful,
        "text_stats": q_text_stats,
        "fingerprint": q_fingerprint,
        "revenue_rollup": q_revenue_rollup,
        "event_gaps": q_event_gaps,
        "source_quality": q_source_quality,
        "dedup_keep_latest": q_dedup_keep_latest,
        "multimodal_features": q_multimodal_features,
        "pack_sequences": q_pack_sequences,
        "token_budget": q_token_budget,
        "merge_upsert_tolerance": q_merge_upsert_tolerance,
        "collection_retained_read": q_collection_retained_read,
        "zarr_documents": q_zarr_documents,
        "collection_bloom_skip": q_collection_bloom_skip,
        "dedup_jaccard": q_dedup_jaccard,
        "interval_match": q_interval_match,
        "streaming_changes_agg": q_streaming_changes_agg,
        "dup_spans": q_dup_spans,
        "source_overlap": q_source_overlap,
        "boilerplate_strip": q_boilerplate_strip,
        "cluster_sample": q_cluster_sample,
        "novelty_score": q_novelty_scores,
        "langid_confusion": q_langid_confusion,
        "top_ngrams": q_top_ngrams,
        # r15-green still sitting out (held with in-window family peers:
        # chunk_documents<-cdc_chunks; doc_repetition<-quality_filter;
        # knn_lsh<-knn_lsh_hi; knn_ivf<-knn_ivf_hi; priority/order
        # counts<-big_orders+dedup_exact semi-join; capped_sample+
        # upsample_weights<-stratified_sample+dsir_sample;
        # browse_no_buy<-dedup_containment anti-join; zorder<-
        # clustered_where; rollup_hourly<-pricing_summary;
        # streaming_dedup<-streaming_sink; dedup_minhash<-
        # dedup_containment+dedup_embedding; shuffle_shards<-
        # hash_embeddings; embedding_quantize<-hash_embeddings+
        # text_knn; dedup_semantic<-dedup_embedding; lm_buckets<-
        # bigram_lm; collection_projection<-collection_query_prune):
        "chunk_documents": q_chunk_documents,
        "doc_repetition": q_doc_repetition,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
        "priority_class_counts": q_priority_class_counts,
        "capped_sample": q_capped_sample,
        "browse_no_buy": q_browse_no_buy,
        "upsample_weights": q_upsample_weights,
        "collection_zorder_where": q_collection_zorder_where,
        "rollup_hourly": q_rollup_hourly,
        "streaming_dedup": q_streaming_dedup,
        "dedup_minhash": q_dedup_minhash,
        "shuffle_shards": q_shuffle_shards,
        "embedding_quantize": q_embedding_quantize,
        "dedup_semantic": q_dedup_semantic,
        "lm_buckets": q_lm_buckets,
        "order_priority_counts": q_order_priority_counts,
        "collection_projection": q_collection_projection,
    }


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB twins for :func:`queries`.

    ``sf_dir`` parameterizes the oracles that embed data-derived literals
    (knn_ivf's trained centroids); it defaults to the driver's comparison
    scale (``$SPARK_GRAFT_ORACLE_SF_DIR`` or ``/root/testdata/sf0.01``).
    A failure to build one data-dependent oracle (missing parquet, say)
    drops that single entry — the driver then records a rows-only check
    for it — instead of failing the whole map.
    """
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                "/root/testdata/sf0.01")
    lsh_planes, lsh_tables = _knn_lsh_config(sf_dir)
    out = {
        "collection_query_prune": ORACLE_QUERY_PRUNE,
        "collection_zonemap_skip": ORACLE_ZONEMAP_SKIP,
        "collection_clustered_where": ORACLE_CLUSTERED_WHERE,
        "collection_zorder_where": ORACLE_ZORDER_WHERE,
        "collection_changes": ORACLE_CHANGES,
        "collection_time_travel": ORACLE_TIME_TRAVEL,
        "collection_retained_read": ORACLE_RETAINED_READ,
        "upsample_weights": ORACLE_UPSAMPLE_WEIGHTS,
        "collection_projection": ORACLE_PROJECTION,
        "collection_nested": ORACLE_COLLECTION_NESTED,
        "domain_mix": ORACLE_DOMAIN_MIX,
        "cross_lm": ORACLE_CROSS_LM,
        "cdc_chunks": ORACLE_CDC_CHUNKS,
        "hash_embeddings": ORACLE_HASH_EMBEDDINGS,
        "text_knn": ORACLE_TEXT_KNN,
        "cluster_reps": ORACLE_CLUSTER_REPS,
        "ngram_coverage": ORACLE_NGRAM_COVERAGE,
        "corpus_profile": ORACLE_CORPUS_PROFILE,
        "collection_sequence": ORACLE_SEQUENCE,
        "collection_grouped_sequence": ORACLE_GROUPED_SEQUENCE,
        "merge_time_series": ORACLE_MERGE_TIME_SERIES,
        "merge_upsert": ORACLE_MERGE_UPSERT,
        "merge_upsert_tolerance": ORACLE_MERGE_UPSERT_TOLERANCE,
        "merge_concat": ORACLE_MERGE_CONCAT,
        "map_partition_stats": ORACLE_MAP_STATS,
        "update_derived": ORACLE_UPDATE,
        "view_overlay": ORACLE_VIEW,
        "index_lookup": ORACLE_INDEX,
        "pricing_summary": ORACLE_PRICING,
        "top_revenue_orders": ORACLE_TOP_REVENUE,
        "regional_revenue": ORACLE_REGIONAL_REVENUE,
        "promo_revenue": ORACLE_PROMO_REVENUE,
        "order_priority_counts": ORACLE_ORDER_PRIORITY,
        "returned_item_losses": ORACLE_RETURNED_LOSSES,
        "trade_flows": ORACLE_TRADE_FLOWS,
        "asof_enrich": ORACLE_ASOF,
        "interval_match": ORACLE_INTERVAL_MATCH,
        "rollup_hourly": ORACLE_ROLLUP,
        "user_sessions": ORACLE_SESSIONS,
        "browse_no_buy": ORACLE_BROWSE_NO_BUY,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_keep_latest": ORACLE_DEDUP_KEEP_LATEST,
        "capped_sample": ORACLE_CAPPED_SAMPLE,
        "dedup_minhash": _minhash_oracle(),
        "dedup_jaccard": ORACLE_DEDUP_JACCARD,
        "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
        "dedup_simhash": _simhash_oracle(48, 1),
        "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
        "dedup_embedding_lsh": _dedup_lsh_oracle(
            n_planes=_lsh_dedup_planes(sf_dir)),
        "text_stats": ORACLE_TEXT_STATS,
        "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
        "hash_split": ORACLE_HASH_SPLIT,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
        "token_budget": ORACLE_TOKEN_BUDGET,
        "language_id": _langid_oracle(),
        "langid_confusion": _langid_confusion_oracle(),
        "source_quality": ORACLE_SOURCE_QUALITY,
        "top_ngrams": ORACLE_TOP_NGRAMS,
        "fingerprint": ORACLE_FINGERPRINT,
        "pii_scrub": _pii_oracle(),
        "decontaminate": ORACLE_DECONTAMINATE,
        "doc_repetition": ORACLE_DOC_REPETITION,
        "quality_filter": _quality_oracle(),
        "knn_bruteforce": ORACLE_KNN,
        "knn_lsh": _lsh_oracle(dim=_emb_dim(sf_dir) or 64,
                               n_planes=lsh_planes,
                               n_tables=lsh_tables),
        "knn_lsh_hi": _lsh_oracle(n_planes=LSH_HI["n_planes"],
                                  n_tables=LSH_HI["n_tables"]),
        "embedding_centroids": ORACLE_EMBEDDING_CENTROIDS,
        "multimodal_features": ORACLE_MULTIMODAL,
        "multimodal_decoded": ORACLE_MULTIMODAL_DECODED,
        "zarr_roundtrip": ORACLE_ZARR,
        "zarr_documents": ORACLE_ZARR_DOCUMENTS,
        "streaming_hourly": ORACLE_STREAMING,
        "streaming_stateful": ORACLE_STREAMING_STATEFUL,
        "streaming_dedup": ORACLE_STREAMING_DEDUP,
        "streaming_sink": ORACLE_STREAMING_SINK,
        "streaming_changes_agg": ORACLE_STREAMING_CHANGES,
        "shuffle_shards": ORACLE_SHUFFLE_SHARDS,
        "embedding_quantize": ORACLE_EMBEDDING_QUANTIZE,
        "unigram_stats": ORACLE_UNIGRAM_STATS,
        "bigram_lm": ORACLE_BIGRAM_LM,
        "dup_spans": ORACLE_DUP_SPANS,
        "span_scrub": ORACLE_SPAN_SCRUB,
        "bm25_retrieval": ORACLE_BM25,
        "hybrid_rrf": ORACLE_HYBRID_RRF,
        "dedup_containment": ORACLE_DEDUP_CONTAINMENT,
        "winnow_fingerprint": ORACLE_WINNOW,
        "revenue_delta": ORACLE_REVENUE_DELTA,
        "priority_class_counts": ORACLE_PRIORITY_CLASS,
        "value_percentiles": ORACLE_PERCENTILES,
        "collection_bloom_skip": ORACLE_BLOOM_SKIP,
        "revenue_rollup": ORACLE_REVENUE_ROLLUP,
        "big_orders": ORACLE_BIG_ORDERS,
        "event_gaps": ORACLE_EVENT_GAPS,
        "dsir_sample": ORACLE_DSIR_SAMPLE,
        "tfidf_topk": ORACLE_TFIDF_TOPK,
        "split_leakage": ORACLE_SPLIT_LEAKAGE,
        "lm_buckets": ORACLE_LM_BUCKETS,
        "source_overlap": ORACLE_SOURCE_OVERLAP,
        "boilerplate_strip": ORACLE_BOILERPLATE_STRIP,
        "novelty_score": ORACLE_NOVELTY_SCORES,
        "pipeline_funnel": _pipeline_funnel_oracle(),
    }
    try:
        # duckdb imported inside the guard: its absence degrades the
        # two data-dependent oracles, never the whole map
        import duckdb as _duckdb
    except ImportError as exc:
        import warnings
        warnings.warn(f"knn_ivf oracle skipped — duckdb "
                      f"unavailable: {exc}")
        return out
    try:
        ivf_cells, ivf_probes = _knn_ivf_config(sf_dir)
        out["knn_ivf"] = _ivf_oracle(
            _ivf_centroids_cached(sf_dir, n_cells=ivf_cells),
            n_probe=ivf_probes)
        out["knn_ivf_hi"] = _ivf_oracle(
            _ivf_centroids_cached(sf_dir, n_cells=IVF_HI["n_cells"]),
            n_probe=IVF_HI["n_probe"])
        cent, books = _ivfpq_trained_cached(sf_dir)
        out["knn_ivfpq"] = _ivfpq_oracle(
            cent, books, n_probe=IVFPQ_CFG["n_probe"], k=10,
            refine_factor=IVFPQ_CFG["refine_factor"])
        out["dedup_semantic"] = _semantic_dedup_oracle(
            _ivf_centroids_cached(
                sf_dir, n_cells=_semantic_dedup_cells(sf_dir)),
            threshold=SEMANTIC_DEDUP_THRESHOLD)
        out["cluster_sample"] = _cluster_sample_oracle(
            _ivf_centroids_cached(sf_dir, n_cells=8), per_cell=25)
    except (FileNotFoundError, OSError, _duckdb.IOException) as exc:
        # missing sf_dir/parquet only: degrade that one query to the
        # driver's rows-only check.  Anything else (a kmeans bug, bad
        # data) must surface loudly, not silently weaken the gate.
        # Synthetic dirs legitimately lack embeddings.parquet: pytest
        # tmp paths AND any sf_dir that does not exist at all (the
        # degradation contract being exercised) — warning there is
        # pure noise in unrelated runs.  A dir that EXISTS but whose
        # embeddings table is unreadable is a real data problem and
        # still warns.
        synthetic = (not os.path.isdir(str(sf_dir))
                     or any(tok in str(sf_dir)
                            for tok in ("/tmp", "pytest")))
        if not synthetic:
            import warnings
            warnings.warn(f"knn_ivf oracle skipped — embeddings table "
                          f"unavailable: {exc}")
    return out
