"""Physical-plan assertions backing the SCALING.md claims.

These tests pin the *shape* of the plans Catalyst produces, not the
results: partition pruning reaches the scan, projection prunes the read
schema, dimension joins broadcast instead of shuffling, aggregations do a
map-side partial pass, and candidate-pair dedup never degrades to a
cartesian product.  A regression here is a 100 TB incident that sf0.001
correctness tests cannot see.
"""

from __future__ import annotations

import re

import pytest

import zcollection_spark as zc
from zcollection_spark import entry_queries as eq

SF_DIR = "/root/testdata/sf0.001"


def executed_plan(df) -> str:
    """Final (post-AQE) physical plan; forces execution first."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def read_schemas(plan: str) -> list[str]:
    """Every ``ReadSchema: struct<...>`` clause in a plan string."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan)


def final_plan(plan: str) -> str:
    """AQE plan strings append an ``== Initial Plan ==`` section that
    duplicates every operator — keep only the executed Final Plan when
    counting operators."""
    return plan.split("== Initial Plan ==")[0]


def count_exchanges(plan: str) -> list[str]:
    return [ln for ln in final_plan(plan).splitlines()
            if "Exchange" in ln and "ReusedExchange" not in ln]


# -- scan-level pruning (SCALING.md "Read path") ----------------------------

def test_query_partition_pruning_reaches_scan(spark, date_collection):
    df = date_collection.query(filters="month == 2")
    plan = executed_plan(df)
    # the catalog pruned at listing time: no filter on the key columns
    # follows, neither a Filter node nor the scan's partition filters
    keys = date_collection.partitioning.keys
    filters = [ln for ln in final_plan(plan).splitlines()
               if re.match(r"[\s+:*-]*Filter\b", ln)]
    filters += re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert not [f for f in filters if any(k in f for k in keys)], plan
    # non-matching partitions are not even listed as input files
    assert df.inputFiles(), "expected pruned-but-nonempty scan"
    assert all("month=2/" in f for f in df.inputFiles())


def test_query_projection_prunes_read_schema(spark, seq_collection):
    df = seq_collection.query(variables=["num"])
    plan = executed_plan(df)
    schemas = read_schemas(plan)
    assert schemas, plan
    assert all("value" not in s for s in schemas), schemas


def test_zarr_pruning_limits_input_partitions(spark, tmp_path):
    import pandas as pd
    import numpy as np
    from zcollection_spark.schema import SchemaBuilder
    from zcollection_spark.zarr3.collection import create_zarr_collection

    times = pd.to_datetime(
        ["2024-01-05", "2024-01-20", "2024-02-03", "2024-03-01"])
    pdf = pd.DataFrame({"time": times,
                        "v": np.arange(4, dtype=np.float64)})
    schema = (SchemaBuilder()
              .add_dimension("time")
              .add_variable("time", "datetime64[us]", ("time",))
              .add_variable("v", "float64", ("time",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "z"), schema=schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    coll.insert(spark.createDataFrame(
        pdf, schema=schema.with_partition_axis("time").to_struct_type()))
    # 3 of 4 rows fall in months 1-2 -> exactly 2 of 3 partition groups
    # become InputPartitions; pruning happens before any chunk I/O
    df = coll.query(filters="month in (1, 2)", ordered=False)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 3


# -- join strategy (SCALING.md "Relational showcase") -----------------------

def test_regional_revenue_broadcasts_every_dimension(spark):
    plan = executed_plan(eq.q_regional_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_promo_revenue_broadcasts_part_dim(spark):
    plan = executed_plan(eq.q_promo_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# -- aggregation shape (map-side combine + codegen) -------------------------

def test_pricing_summary_partial_aggregation(spark):
    plan = executed_plan(eq.q_pricing_summary(spark, SF_DIR))
    assert "partial_" in plan, "no map-side partial aggregation"
    # "*(n)" prefixes mark whole-stage-codegen spans in plan.toString()
    assert "*(1)" in plan, "hot path fell out of whole-stage codegen"


# -- dedup candidate generation never goes quadratic ------------------------

@pytest.mark.parametrize("query", [eq.q_dedup_minhash, eq.q_dedup_jaccard,
                                   eq.q_dedup_simhash])
def test_dedup_candidates_are_equi_joins(spark, query):
    plan = executed_plan(query(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_stop_shingle_filter_is_broadcast_anti_join(spark):
    """The max_df stop-shingle filter must broadcast the (small)
    drop-list into an anti-join — the keep-list semi-join shape
    sort-merge-shuffled the ENTIRE raw shingle expansion on __sh just
    to apply the filter (r11: ~15% warm / 2.5x cold at sf0.1, and at
    100 TB the difference between one bounded broadcast and a
    full-corpus exchange)."""
    from zcollection_spark.functions.dedup import ngram_jaccard_pairs
    from zcollection_spark.data import load_table
    docs = load_table(spark, SF_DIR, "documents")
    pairs = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                                shingle_size=5, threshold=0.5,
                                max_df=100)
    plan = executed_plan(pairs)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "LeftSemi" not in plan
    from zcollection_spark.functions.dedup import unpersist_intermediates
    unpersist_intermediates(pairs)


def test_knn_bruteforce_no_join_partial_topk(spark):
    # exact brute force must NOT plan a join at all: the query matrix is
    # a task broadcast, each Arrow batch emits only its partial top-k,
    # and the rank window sees O(batches x queries x k) rows -- a
    # shuffled or nested-loop cross join would be the scale bug
    plan = executed_plan(eq.q_knn_bruteforce(spark, SF_DIR))
    assert "MapInPandas" in plan
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "Join"):
        assert node not in plan, node


def test_knn_lsh_single_corpus_pass(spark):
    # LSH top-k must (a) keep candidate generation an equi-join (no
    # cartesian), (b) broadcast the query side (corpus never shuffles
    # into the join), and (c) hash the corpus ONCE: the corpus vector
    # rides through the bucket join, so only 3 parquet scans exist
    # (corpus + the two query projections) — a 4th would mean the
    # corpus re-scan/re-hash crept back in
    plan = executed_plan(eq.q_knn_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # AQE plan strings repeat scans in the "Initial Plan" section —
    # count only the final physical plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 3, final.count("Scan parquet")


def test_order_priority_semi_join_shape(spark):
    plan = executed_plan(eq.q_order_priority_counts(spark, SF_DIR))
    assert "LeftSemi" in plan, "EXISTS must plan as a semi-join"
    assert "CartesianProduct" not in plan
    # only the two needed lineitem columns cross the wire
    li_schemas = [s for s in read_schemas(plan) if "l_orderkey" in s]
    assert li_schemas and all("l_extendedprice" not in s
                              for s in li_schemas), li_schemas


def test_returned_losses_broadcasts_dimensions(spark):
    plan = executed_plan(eq.q_returned_item_losses(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # returnflag filter is pushed to the lineitem scan
    assert "PushedFilters" in plan and "l_returnflag" in plan


def test_priority_class_single_shuffle(spark):
    plan = executed_plan(eq.q_priority_class_counts(spark, SF_DIR))
    assert "partial_" in plan, "no map-side partial aggregation"
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark):
    # union+window as-of: ONE shuffle on the by-key and no join operator
    # at all — the range-join pair explosion is designed out
    plan = executed_plan(eq.q_asof_enrich(spark, SF_DIR))
    exchanges = count_exchanges(plan)
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(user_id" in exchanges[0]
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_equi_join(spark):
    # grid bucketing turns the range join into a hash-partitioned
    # equi-join; a BroadcastNestedLoopJoin here is the scale bug
    plan = executed_plan(eq.q_interval_match(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_keep_latest_single_window_pass(spark):
    plan = executed_plan(eq.q_dedup_keep_latest(spark, SF_DIR))
    assert "Window" in plan
    exchanges = count_exchanges(plan)
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(user_id" in exchanges[0]


def test_trade_flows_join_strategy(spark):
    # dims broadcast; the fact-fact lineitem⋈orders edge is NOT
    # broadcast (AQE may still pick a broadcast at tiny SF — assert the
    # plan carries broadcasts for dims and no cartesian, and that the
    # LOGICAL plan does not force a broadcast on orders)
    df = eq.q_trade_flows(spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side combine on the pair key
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly 4 explicit broadcast hints (supp, cust, nation x2)
    assert logical.count("ResolvedHint") <= 4


def test_capped_sample_single_window_shuffle(spark):
    plan = executed_plan(eq.q_capped_sample(spark, SF_DIR))
    assert "Window" in plan
    exchanges = count_exchanges(plan)
    assert len(exchanges) == 1, exchanges


def test_tolerance_upsert_grid_anti_join(spark):
    # the grid rewrite keeps the tolerance anti-join an equi-join —
    # a BroadcastNestedLoopJoin here is the latent large-batch OOM
    plan = executed_plan(eq.q_merge_upsert_tolerance(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() \
        if n else -1


def run_write(spark, action, marker: str) -> tuple[str, int]:
    """Run ``action`` under a job group: the final plan of the one SQL
    execution whose plan holds ``marker`` (the write), and the number
    of Spark jobs ``action`` ran.  Write commands have no DataFrame to
    ask, so the plan comes from the SQL status store, which holds the
    AQE final plan once the listener bus has drained."""
    import uuid
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    since = _last_execution_id(store)
    group = f"write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    recent = store.executionsList(max(0, store.executionsCount() - 50), 50)
    plans = [e.physicalPlanDescription()
             for e in (recent.apply(i) for i in range(recent.size()))
             if e.executionId() > since]
    writes = [p for p in plans if marker in p]
    assert len(writes) == 1, plans
    return final_plan(writes[0]), jobs


@pytest.mark.parametrize("layout", ["parquet", "zarr"])
@pytest.mark.parametrize("merge", ["upsert", "time_series", None])
def test_merge_write_one_exchange_no_join(spark, tmp_path, layout, merge):
    """An exact upsert or time_series insert merges inside the write's
    one shuffle: the merge window partitions by the keys and orders by
    the axis, which is what the parquet ``_row_idx`` window and
    ``partitionBy`` (or the zarr ``groupBy``) need, so the executed
    write plan has exactly one Exchange and no join — as a plain
    (replacing) insert's has.  A one-partition parquet upsert runs 4
    Spark jobs: 2 enumerate the batch's keys, 2 run the write."""
    import numpy as np
    import pandas as pd

    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("time", "datetime64[us]", ("time",))
              .add_variable("v", "float32", ("time",)).build())
    make = (zc.create_collection if layout == "parquet"
            else create_zarr_collection)
    coll = make(spark, str(tmp_path / "c"), schema=schema, axis="time",
                partitioning=zc.Date(("time",), resolution="D"))
    struct = schema.with_partition_axis("time").to_struct_type()

    def batch(start, n):
        return spark.createDataFrame(pd.DataFrame({
            "time": pd.date_range(start, periods=n, freq="h"),
            "v": np.arange(n, dtype=np.float32)}), schema=struct)

    coll.insert(batch("2024-01-01", 72))
    plan, jobs = run_write(
        spark, lambda: coll.insert(batch("2024-01-02 05:00", 10),
                                   merge=merge),
        "WriteFiles" if layout == "parquet" else "FlatMapGroupsInPandas")
    exchanges = count_exchanges(plan)
    assert len(exchanges) == 1, plan
    assert "Join" not in plan, plan
    # and one sort: the merge window's order is the write's order
    sorts = [ln for ln in plan.splitlines() if re.search(r"\bSort\b", ln)]
    assert len(sorts) == 1, plan
    if layout == "parquet" and merge == "upsert":
        assert jobs == 4, jobs
    assert coll.query().count() == (72 if merge else 72 - 24 + 10)


def test_index_query_grid_semi_join(spark):
    plan = executed_plan(eq.q_index_lookup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_dedup_embedding_block_plan(spark):
    """Exact embedding dedup must be the distributed block path: Arrow
    mapInPandas tasks, equi-joined block pairs (no nested-loop join), and
    nothing funneled through the driver."""
    df = eq.queries()["dedup_embedding"](spark, SF_DIR)
    plan = executed_plan(df)
    fp = final_plan(plan)
    assert "MapInPandas" in fp
    assert "BroadcastNestedLoopJoin" not in fp


# -- curation ops (round 6): scan-speed / broadcast shapes ------------------

def test_pii_scrub_no_python_no_shuffle(spark):
    """PII scrubbing is pure JVM regexp expressions: no Python eval
    node, no Exchange — the pass runs at scan speed."""
    plan = executed_plan(eq.q_pii_scrub(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set is the bounded side: broadcast
    semi-equi-join, never a sort-merge or cartesian candidate join."""
    plan = executed_plan(eq.q_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_repetition_shuffle_free(spark):
    """Top-token share runs as ONE aggregate expression over the
    sorted token array — per-row, no Exchange, no Python."""
    plan = executed_plan(eq.q_doc_repetition(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_chunk_documents_shuffle_free_no_python(spark):
    """Sequence packing is split → posexplode → slice per row: a
    Generate node, no Exchange, no Python eval — scan speed at any
    corpus size (graded r9)."""
    plan = executed_plan(eq.q_chunk_documents(spark, SF_DIR))
    assert "Generate" in plan          # the posexplode
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_hash_split_shuffle_free_no_python(spark):
    """Deterministic split assignment is one md5 projection: no
    Exchange, no Python, no RNG state (graded r9)."""
    plan = executed_plan(eq.q_hash_split(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_pack_sequences_one_exchange_streaming_pandas(spark):
    """Greedy packing is sequential per group but NOT per-group UDF
    dispatch (that shape measured 117 s for 45 k tiny groups at sf1):
    the plan is ONE hash exchange + in-partition sort feeding a
    batch-streaming MapInPandas — no per-group FlatMapGroupsInPandas,
    no second shuffle, no row-at-a-time Python eval (graded r9)."""
    plan = executed_plan(eq.q_pack_sequences(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert len(count_exchanges(plan)) == 1


def test_token_budget_no_per_stratum_window(spark):
    """The budget cut must NOT serialize a stratum through one task
    (the r9 shape windowed the FULL input partitioned only by lang —
    one task per language at 100 TB): every window spec in the plan is
    keyed by the md5-range bucket — the only stratum-ordered window
    runs over the aggregated per-bucket totals (metadata-sized) and
    orders BY the bucket — the cutoff table broadcasts back, and the
    full-input shuffle carries (stratum, bucket) keys so cut work
    spreads across num_buckets tasks per stratum."""
    plan = final_plan(executed_plan(eq.q_token_budget(spark, SF_DIR)))
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    assert all("__tb_bucket" in s for s in specs), specs
    assert "BroadcastHashJoin" in plan
    assert any("hashpartitioning(lang" in e and "__tb_bucket" in e
               for e in count_exchanges(plan)), count_exchanges(plan)


def test_knn_ivfpq_broadcast_probes_no_cartesian(spark):
    """IVF-PQ serving shape: the probe side (5 queries x n_probe cells)
    broadcasts into a cell equi-join over code rows; candidates never
    come from a cartesian product, and the exact re-rank joins back by
    id (equi), not by similarity scan."""
    plan = executed_plan(eq.q_knn_ivfpq(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_filter_shuffle_free(spark):
    """The Gopher-rule verdict is one pass of per-row expressions:
    no Exchange, no Python eval nodes."""
    plan = executed_plan(eq.q_quality_filter(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_graded_bloom_skip_reads_two_partitions(spark):
    """The graded collection_bloom_skip entry must actually SKIP: the
    min/max event_id probes live in (at most) two daily partitions, so
    the scan lists at most two partition directories — the bloom layer
    pruned the other ~28 before any file was touched."""
    df = eq.q_collection_bloom_skip(spark, SF_DIR)
    dirs = {f.rsplit("/", 1)[0] for f in df.inputFiles()}
    assert 1 <= len(dirs) <= 2, sorted(dirs)
    assert df.count() == 2


def test_retained_union_read_plans_two_scans_no_join(spark, tmp_path):
    """A pinned-generation read that mixes live and retained partitions
    must plan as exactly (live scan) UNION (retained scan) + the final
    order's range exchange — no join, no extra shuffle, no third scan.
    The union is the whole price of retention on the read side."""
    import pyspark.sql.functions as F

    from zcollection_spark.data import load_table
    from zcollection_spark.schema import infer_schema
    events = load_table(spark, SF_DIR, "events")
    coll = zc.create_collection(
        spark, str(tmp_path / "ret"),
        schema=infer_schema(events.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"))
    coll.insert(events)
    g = coll.generation()
    coll.pin_generation(g)
    day3 = coll.query(filters="day == 3")
    coll.insert(day3.withColumn("value", F.lit(0.0)))
    df = coll.query(filters="day in (3, 4)", at_generation=g)
    assert df.count() > 0
    # AQE's string repeats the plan ("Final" + "Initial") — audit the
    # final section only
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 2
    assert "Union" in plan
    assert "Join" not in plan
    # one exchange only: the query-level final sort
    assert len(re.findall(r"Exchange \w+", plan)) == 1
    assert "rangepartitioning" in plan


def test_jaccard_stop_filter_broadcast_is_size_gated(spark, monkeypatch):
    """max_df is an absolute count, so on a big corpus the stop set
    grows with the VOCABULARY — past the cap the anti-join must fall
    back to a shuffled join instead of forcing a broadcast that would
    die at the driver (the gate, not the hint, is the contract)."""
    import zcollection_spark.functions.dedup as dd
    from zcollection_spark.data import load_table
    monkeypatch.setattr(dd, "_STOP_BROADCAST_CAP", 0)
    docs = load_table(spark, SF_DIR, "documents")
    # max_df=1 makes the stop list genuinely non-empty at sf0.001 (an
    # empty build side would let AQE eliminate the join entirely)
    pairs = dd.ngram_jaccard_pairs(docs, id_col="doc_id",
                                   text_col="text", shingle_size=5,
                                   threshold=0.5, max_df=1)
    # the contract is "no FORCED broadcast hint past the cap" — Spark
    # may still choose broadcast from its own (bounded, stats-based)
    # size estimate, and that estimator is exactly the fallback that
    # backs off when the list is genuinely large.  The planted hint is
    # visible as ResolvedHint in the ANALYZED plan (the optimizer
    # consumes it); the gated path must not plant one.
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" not in analyzed
    assert pairs.count() >= 0              # and it still executes
    dd.unpersist_intermediates(pairs)

    # control: under the default cap the hint IS planted
    monkeypatch.undo()
    pairs2 = dd.ngram_jaccard_pairs(docs, id_col="doc_id",
                                    text_col="text", shingle_size=5,
                                    threshold=0.5, max_df=1)
    analyzed2 = pairs2._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in analyzed2
    dd.unpersist_intermediates(pairs2)


# -- clustered layouts (SCALING.md r12: cluster_by / zorder) ----------------

def test_cluster_sort_adds_no_exchange(spark, tmp_path):
    """The clustered write's claim is "task-local sort, no extra
    shuffle": applying the cluster sort must add ZERO Exchange nodes
    over the unclustered write plan — only a Sort with global=false."""
    import numpy as np
    import pandas as pd

    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("x", "int64", ("i",))
              .add_variable("y", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    for label, kw in (("r", {"cluster_by": ["x"]}),
                      ("z", {"cluster_by": ["x", "y"],
                             "cluster_mode": "zorder"})):
        coll = zc.create_collection(
            spark, str(tmp_path / f"pc{label}"), schema=schema,
            axis="i", partitioning=zc.Sequence(("num",)), **kw)
        rng = np.random.default_rng(1)
        pdf = pd.DataFrame({
            "i": np.arange(300, dtype=np.int64),
            "x": rng.integers(0, 1000, 300).astype(np.int64),
            "y": rng.integers(0, 1000, 300).astype(np.int64),
            "num": np.zeros(300, dtype=np.int64)})
        df = spark.createDataFrame(pdf, schema=coll.schema.to_struct_type())
        keys = list(coll.partitioning.keys)
        derived = coll.partitioning.derive(
            df.select(*[v.name for v in coll.schema.partitioned_variables
                        if v.name in df.columns]))
        base = coll._with_row_idx(derived)
        plain_plan = executed_plan(base)
        sorted_plan = executed_plan(coll._apply_cluster_sort(base, keys))
        assert len(count_exchanges(sorted_plan)) == \
            len(count_exchanges(plain_plan)), (label, sorted_plan)
        # the sort is there and is task-local, never a global sort
        # (SortExec prints as "Sort [keys], <global>, <offset>")
        sorts = re.findall(r"Sort \[[^\]]*\], (\w+), ",
                           final_plan(sorted_plan))
        assert sorts and all(g == "false" for g in sorts), sorted_plan
        # zorder stays entirely JVM-side: no Python eval nodes
        assert "BatchEvalPython" not in sorted_plan
        assert "ArrowEvalPython" not in sorted_plan


def test_shuffle_shards_one_exchange_no_python(spark):
    """The global shuffle is ONE hash exchange (the shard window's
    partitionBy) + a task-local sort: no global Sort/range exchange,
    no Python eval — the md5 bucket and rank are codegen'd JVM
    expressions."""
    plan = executed_plan(eq.q_shuffle_shards(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    ex = count_exchanges(plan)
    assert len(ex) == 1, ex
    assert "hashpartitioning" in ex[0], ex
    assert "rangepartitioning" not in ex[0], ex


def test_embedding_quantize_shuffle_free_no_python(spark):
    """int8 quantization is a pure projection: zero Exchange, zero
    Python eval node — it whole-stage-codegens into the scan."""
    plan = executed_plan(eq.q_embedding_quantize(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_dedup_semantic_cell_equijoin_no_cartesian(spark):
    """Semantic dedup's pair stage is a CELL EQUI-JOIN (the SemDeDup
    blocking) — never a cartesian/nested-loop candidate join; the only
    Python is the Arrow-batched cell assigner shared with ivf_topk."""
    from zcollection_spark.entry_queries import (
        SEMANTIC_DEDUP_THRESHOLD, _ivf_centroids_cached,
        _semantic_dedup_cells)
    from zcollection_spark.functions.similarity import \
        semantic_dedup_pairs
    from zcollection_spark.data import load_table
    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = semantic_dedup_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        threshold=SEMANTIC_DEDUP_THRESHOLD,
        centroids=_ivf_centroids_cached(
            SF_DIR, n_cells=_semantic_dedup_cells(SF_DIR)))
    plan = executed_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan                      # the equi-join key
    assert "BatchEvalPython" not in plan         # Arrow, not row-Python


def test_unigram_stats_no_python_no_cartesian(spark):
    """Corpus-statistical scoring is two map-side-combined shuffles +
    a token equi-join: no Python eval node, no cartesian, and the
    vocab join is an equi-join on the token key."""
    plan = executed_plan(eq.q_unigram_stats(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan       # map-side combine reached


def test_bigram_lm_no_python_no_cartesian(spark):
    """Bigram LM scoring: pair explode + two map-side-combined count
    shuffles + equi-joins on the pair/context keys — no Python, no
    cartesian."""
    plan = executed_plan(eq.q_bigram_lm(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan       # map-side combine reached


def test_dup_spans_no_python_no_cartesian(spark):
    """Duplicated-span stats: shingle explode -> distinct ->
    count-per-span, then an equi-join back on the span key — never a
    self-join of documents, never cartesian, no Python."""
    plan = executed_plan(eq.q_dup_spans(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the ndocs-per-span join keys on the span hash, an equi-join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_bm25_query_terms_broadcast_corpus_distributed(spark):
    """BM25: the probe-term table rides broadcast hash joins (the
    corpus side never re-partitions for the probe set); the only
    nested-loop join is the one-row (N, avgdl) scalar attach; the
    per-(query, doc) aggregation is map-side combined."""
    plan = executed_plan(eq.q_bm25_retrieval(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the scalar-stats cross join is a broadcast nested loop over ONE
    # row — assert it stayed broadcast (never a shuffled NLJ)
    nlj = [ln for ln in final_plan(plan).splitlines()
           if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj
    assert "partial_sum" in plan or "partial_count" in plan


def test_bm25_doc_length_rides_token_expansion(spark):
    """r17: the document length is carried through the tf aggregation
    (``max(__dl)`` over the let-bound token array) instead of a
    separate per-row dl frame equi-joined into the scored rows — one
    fewer corpus tokenize pass, and the scored subtree never joins on
    the document id (at web scale that join is a corpus-sized
    shuffle; here it was one extra broadcast exchange)."""
    plan = final_plan(executed_plan(eq.q_bm25_retrieval(spark, SF_DIR)))
    assert "max(__dl" in plan           # length rides the tf agg
    # every equi-join keys on the probe term; a doc-id join key would
    # mean the dl join crept back in
    keys = re.findall(r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]",
                      plan)
    assert keys and all("__term" in l and "__term" in r
                        for l, r in keys), keys


def test_hybrid_rrf_fuses_topk_lists_only(spark):
    """RRF fusion: the fused stage unions two already-top-k lists —
    one map-side-combined groupBy + windows, no cartesian, and the
    only Python eval is the dense component's Arrow-batched scorer."""
    plan = executed_plan(eq.q_hybrid_rrf(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan    # Arrow batches only
    assert "Union" in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_span_scrub_no_python_no_cartesian(spark):
    """Span removal: the span-count pipeline plus a per-doc start-set
    gather and ONE pure-JVM array rebuild — no Python eval anywhere,
    no cartesian, and the dup-span join is an equi-join on the md5
    span key."""
    plan = executed_plan(eq.q_span_scrub(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_containment_equi_join_guarded(spark):
    """Containment candidates: shared-shingle EQUI-join over the
    max_df-pruned vocabulary — no cartesian, no Python, stop-shingle
    anti-join present."""
    plan = executed_plan(eq.q_dedup_containment(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan          # the max_df stop-shingle guard


def test_winnow_fingerprint_shuffle_shape(spark):
    """Winnowing selection is a pure per-row array expression — the
    only shuffles are the graded query's own dfreq groupBy + join; no
    Python, no cartesian."""
    plan = executed_plan(eq.q_winnow_fingerprint(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_dsir_sample_vocab_joins_takeordered(spark):
    """DSIR resampling: corpus tokens equi-join the vocab-sized
    log-ratio table (hash/SMJ, never cartesian); the only nested-loop
    join is the one-row (V, T_s, T_t) scalar attach, broadcast; the
    global top-k is TakeOrdered (k-bounded), not a full sort; no
    Python anywhere."""
    plan = executed_plan(eq.q_dsir_sample(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in final_plan(plan).splitlines()
           if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_tfidf_topk_per_doc_window_no_python(spark):
    """TF-IDF top-k: one map-side-combined tf groupBy, vocab-sized df
    reduction, broadcast scalar attach, and a per-DOCUMENT window
    (group size bounded by the doc's own terms) — no cartesian, no
    Python."""
    plan = executed_plan(eq.q_tfidf_topk(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in final_plan(plan).splitlines()
           if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj
    assert "Window" in plan
    assert "partial_count" in plan


def test_split_leakage_bounded_join_guarded(spark):
    """Split leakage: the candidate stage is the max_df-guarded
    shared-shingle EQUI-join (anti-join guard present); the split
    assignment is a pure md5 expression joined to the small pair list
    — no cartesian, no Python."""
    plan = executed_plan(eq.q_split_leakage(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan          # the max_df stop-shingle guard
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_lm_buckets_no_global_sort_funnel(spark):
    """Quality buckets: the percentile boundary is ONE aggregate row
    broadcast back — no global Sort/Window funnel of the corpus, no
    cartesian beyond the one-row broadcast NLJ, no Python."""
    plan = executed_plan(eq.q_lm_buckets(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in final_plan(plan).splitlines()
           if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj
    # the per-doc score aggregation is map-side combined; the corpus
    # never funnels through a single-partition global Window
    assert "Window" not in final_plan(plan)
    assert "partial_count" in plan or "partial_sum" in plan


def test_source_overlap_bounded_hash_join(spark):
    """Source overlap: the intersection is a hash EQUI-join of the
    distinct (source, hash) table with itself (fan-out per key ≤
    #groups) feeding a map-side-combined pair count; the only
    non-equi join is the groups²-row size cross — no Python, no
    corpus-sized cartesian."""
    plan = executed_plan(eq.q_source_overlap(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the only non-equi join is the broadcast-hinted groups² size cross
    nlj = [ln for ln in final_plan(plan).splitlines()
           if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan     # map-side combine on the pairs


def test_boilerplate_strip_shuffles_hashes_not_text(spark):
    """Boilerplate strip: passage text never shuffles — the exploded
    exchange carries only (id, pos, 64-bit hash); the boilerplate set
    is removed by an anti-join and reassembly is a per-row array
    expression.  No Python, no cartesian."""
    plan = executed_plan(eq.q_boilerplate_strip(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan          # kept = passages ∉ boilerplate
    # every shuffle of the exploded passage stream carries __key/__pos,
    # never a passage-text column
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "__key" in ln:
            assert "clean_text" not in ln and "passage" not in ln


def test_cluster_sample_one_scan_bounded_window(spark):
    """Cluster-balanced sample: ONE corpus scan through the Arrow
    cell-assigner (the single allowed ArrowEvalPython), then a window
    partitioned BY CELL — never a global (empty-partition) window —
    and no join at all."""
    plan = executed_plan(eq.q_cluster_sample(spark, SF_DIR))
    assert final_plan(plan).count("ArrowEvalPython") == 1  # the assigner
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in final_plan(plan)
    win = [ln for ln in plan.splitlines() if "Window" in ln
           and "windowspecdefinition" in ln]
    assert win and all("cell" in ln for ln in win), win


def test_novelty_scores_no_self_join(spark):
    """Novelty: one distinct explode, a vocabulary-sized df aggregate,
    ONE hash equi-join back, map-side-combined per-doc aggregate — no
    Python, no cartesian, and exactly one join (the hash equi-join):
    per-document semantics need no pair join and no guard."""
    plan = executed_plan(eq.q_novelty_scores(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    fp = final_plan(plan)
    joins = [ln for ln in fp.splitlines()
             if "SortMergeJoin" in ln or "BroadcastHashJoin" in ln]
    assert len(joins) == 1, joins
    assert "partial_count" in plan or "partial_sum" in plan


def test_pipeline_funnel_stage_contracts_hold(spark):
    """Funnel (fused r17): quality is scan-speed expressions (no
    Python), the benchmark shingle set broadcasts into the
    contamination probe join, no join plans a cartesian, and the
    fusion holds — exactly TWO corpus scans (census + dedup) and one
    benchmark scan, where the old stage-per-operator form re-scanned
    the corpus four times (plans/r17/pipeline_funnel_before.txt)."""
    plan = executed_plan(eq.q_pipeline_funnel(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the fusion pin: 2 corpus scans + 1 benchmark scan, no more
    # (the AQE toString prints the final AND the initial plan, so the
    # scan count appears twice)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 3, final.count("Scan parquet")


def test_collection_nested_prunes_partitions_and_leaves(spark):
    """The struct view composes with partition pruning: the scan reads
    only the filtered day range, and nesting is a pure projection —
    no Exchange beyond the final order, no Python."""
    plan = executed_plan(eq.q_collection_nested(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the nested projection never introduces a join or a cartesian
    assert "Join" not in final_plan(plan)


def test_domain_mix_one_corpus_aggregate(spark):
    """Domain mix: ONE map-side-combined groupBy over the corpus; the
    share normalization windows over the |domains|-sized table, never
    the corpus (the corpus-side plan has no Window before the
    aggregate).  No Python, no join."""
    plan = executed_plan(eq.q_domain_mix(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in final_plan(plan)
    assert "partial_count" in plan or "partial_sum" in plan
    # the empty-partition window runs AFTER the group-sized aggregate:
    # every Window node sits above HashAggregate in the tree (text
    # order: Window lines precede the scan-side partial aggregate)
    fp = final_plan(plan)
    first_win = fp.find("Window")
    first_partial = fp.find("partial_sum")
    assert first_win != -1 and first_win < first_partial


def test_cross_lm_left_joins_no_python(spark):
    """Cross-reference LM: the scored side LEFT-joins the reference
    count tables (absent rows take the smoothed-zero path — the join
    never falls back to a corpus-sized non-equi form); the vocab
    scalar broadcasts.  No Python, map-side combine on both count
    tables."""
    plan = executed_plan(eq.q_cross_lm(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    fp = final_plan(plan)
    nlj = [ln for ln in fp.splitlines() if "NestedLoopJoin" in ln]
    assert all("Broadcast" in ln for ln in nlj), nlj  # the 1-row vocab
    assert "LeftOuter" in fp           # the smoothed-zero path
    assert "partial_count" in plan or "partial_sum" in plan


def test_cdc_chunks_shuffle_free_no_python(spark):
    """Content-defined chunking is one Generate over per-row
    expressions (md5 boundary filter + zip_with pairing): no Exchange,
    no Python — scan speed at any corpus size, like the fixed-stride
    chunker it complements."""
    plan = executed_plan(eq.q_cdc_chunks(spark, SF_DIR))
    assert "Generate" in plan          # the posexplode
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert count_exchanges(plan) == []


def test_hash_embeddings_codegen_hash_one_aggregate(spark):
    """Feature hashing: md5 bucket/sign are codegen projections on the
    exploded stream (never inside a higher-order lambda), ONE
    map-side-combined groupBy on (id, bucket), and the norm windows
    over the bounded per-doc bucket rows.  No Python, no join."""
    plan = executed_plan(eq.q_hash_embeddings(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in final_plan(plan)
    assert "partial_sum" in plan       # map-side combine
    assert "Generate" in plan          # the explode


def test_ngram_coverage_broadcast_left_join(spark):
    """Fractional contamination: the benchmark shingle set broadcasts
    into a LEFT join (misses take the zero path — never a corpus-sized
    non-equi fallback); map-side combine on the per-doc count.  No
    Python, no cartesian."""
    plan = executed_plan(eq.q_ngram_coverage(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    fp = final_plan(plan)
    assert "BroadcastHashJoin" in fp and "LeftOuter" in fp
    assert "partial_count" in plan or "partial_sum" in plan


def test_corpus_profile_one_aggregate_no_window(spark):
    """Dataset-card profile: ONE map-side-combined groupBy, exact
    percentiles inside the aggregate (value-grid-bounded buffers) —
    no Window, no join, no Python."""
    plan = executed_plan(eq.q_corpus_profile(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    fp = final_plan(plan)
    assert "Join" not in fp and "Window" not in fp
    assert "partial_count" in plan or "partial_percentile" in plan \
        or "partial_sum" in plan
