"""Unit tests for the repo tools (no Spark session needed)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from bench_guard import compare  # noqa: E402


def _run(a_queries, c_queries, a_total=None, c_total=None, ratio=2.0):
    anchor = {"sf": "0.1", "value": a_total or sum(a_queries.values()),
              "queries": a_queries}
    current = {"sf": "0.1", "value": c_total or sum(c_queries.values()),
               "queries": c_queries}
    return compare(anchor, current, ratio)


def test_guard_passes_within_envelope(capsys):
    assert _run({"q1": 1.0, "q2": 2.0}, {"q1": 1.5, "q2": 3.0}) == 0
    assert "OK" in capsys.readouterr().out


def test_guard_breaches_on_slow_scenario(capsys):
    assert _run({"q1": 1.0, "q2": 2.0}, {"q1": 2.5, "q2": 2.0}) == 1
    assert "BREACH" in capsys.readouterr().out


def test_guard_noise_floor_absorbs_tiny_scenarios(capsys):
    # 0.05s -> 0.2s is 4x but under the 0.3s noise floor -> no breach
    assert _run({"q1": 0.05, "q2": 5.0}, {"q1": 0.2, "q2": 5.0}) == 0


def test_guard_floored_slowdown_never_prints_as_speedup(capsys):
    """r11 verdict: 0.126s -> 0.181s used to print 'x0.60' — a 44%
    slowdown rendered as an apparent improvement.  Floored rows must
    show the RAW ratio and say they are floored; gating unchanged."""
    assert _run({"q1": 0.126, "q2": 5.0}, {"q1": 0.181, "q2": 5.0}) == 0
    out = capsys.readouterr().out
    line = next(ln for ln in out.splitlines() if ln.startswith("q1"))
    assert "x1.44" in line and "floored" in line
    assert "x0.60" not in line.split("gate")[0]
    # un-floored rows keep the plain single-ratio display
    line2 = next(ln for ln in out.splitlines() if ln.startswith("q2"))
    assert "floored" not in line2


def test_guard_flags_dropped_scenarios(capsys):
    assert _run({"q1": 1.0, "q2": 1.0}, {"q1": 1.0}) == 1
    assert "dropped" in capsys.readouterr().out


def test_guard_rejects_sf_mismatch(capsys):
    anchor = {"sf": "0.1", "value": 1.0, "queries": {"q": 1.0}}
    current = {"sf": "0.01", "value": 1.0, "queries": {"q": 1.0}}
    assert compare(anchor, current, 2.0) == 2


def test_guard_total_breach(capsys):
    # every scenario within per-scenario envelope but total blown
    assert _run({f"q{i}": 1.0 for i in range(10)},
                {f"q{i}": 1.9 for i in range(10)},
                a_total=10.0, c_total=21.0) == 1


def test_registry_window_invariant():
    """The correctness driver records only the FIRST 50 queries(): every
    operator-bearing query must stay inside that window; only the
    documented tail may sit beyond it."""
    from zcollection_spark import entry_queries

    names = list(entry_queries.queries())
    # THE registry count lives here, not in prose: the hand-counted
    # totals in the queries() header comment rotted in r8 ("all 66")
    # and again in r9 ("all 71"), so adding a query now forces this
    # pin — and with it the rotation ledger — to be updated.
    assert len(names) == 107, len(names)
    assert len(names[:50]) == len(set(names[:50])) == 50
    # round-17 rotation (executes the r16 ledger + the r16 verdict's
    # task 1 verbatim): the seven r14-green holds return, the nine
    # r16-born never-driver-graded ops promote, the nine remaining
    # r16-restructured queries pull in for independent post-change
    # oracle grades, four r17-optimization-touched queries stay or
    # return in-window, and twelve r15-green sit-outs return.
    # Sitting out: thirty-nine r16-graded rows (freshest grade) and
    # eighteen r15-green rows held with in-window family peers.
    tail_allowed = {
        # rotated out r17 (driver-green r16; return in a future round)
        "collection_grouped_sequence", "merge_time_series",
        "merge_concat", "map_partition_stats", "collection_changes",
        "knn_ivfpq", "dedup_clusters", "dedup_simhash",
        "dedup_embedding_lsh", "hash_split", "pii_scrub",
        "decontaminate", "knn_bruteforce", "embedding_centroids",
        "streaming_hourly", "streaming_stateful", "text_stats",
        "fingerprint", "revenue_rollup", "event_gaps",
        "source_quality", "dedup_keep_latest", "multimodal_features",
        "pack_sequences", "token_budget", "merge_upsert_tolerance",
        "collection_retained_read", "zarr_documents",
        "collection_bloom_skip", "dedup_jaccard", "interval_match",
        "streaming_changes_agg", "dup_spans", "source_overlap",
        "boilerplate_strip", "cluster_sample", "novelty_score",
        "langid_confusion", "top_ngrams",
        # r15-green still sitting out (in-window family peers per the
        # queries() ledger; oldest grade after this round — MUST
        # return first in any future rotation)
        "chunk_documents", "doc_repetition", "knn_lsh", "knn_ivf",
        "priority_class_counts", "capped_sample", "browse_no_buy",
        "upsample_weights", "collection_zorder_where", "rollup_hourly",
        "streaming_dedup", "dedup_minhash", "shuffle_shards",
        "embedding_quantize", "dedup_semantic", "lm_buckets",
        "order_priority_counts", "collection_projection"}
    assert set(names[50:]) <= tail_allowed, names[50:]
    # every operator promoted/returned/pulled by the r16 ledger (and
    # the r16 verdict's task 1) must actually be in-window this round
    for promoted in (
            # the seven r14-green holds returning
            "knn_lsh_hi", "knn_ivf_hi", "dedup_embedding",
            "language_id", "stratified_sample", "top_revenue_orders",
            "trade_flows",
            # the nine r16-born first-time promotions
            "collection_nested", "domain_mix", "cross_lm",
            "cdc_chunks", "hash_embeddings", "text_knn",
            "cluster_reps", "ngram_coverage", "corpus_profile",
            # the nine r16-restructured queries pulled in for their
            # independent post-change oracle grades (verdict task 1)
            "pricing_summary", "promo_revenue", "revenue_delta",
            "regional_revenue", "returned_item_losses", "big_orders",
            "bm25_retrieval", "hybrid_rrf", "tfidf_topk",
            # the four r17-optimization-touched queries
            "pipeline_funnel", "dedup_containment", "split_leakage",
            "unigram_stats",
            # the twelve r15-green returns
            "user_sessions", "asof_enrich", "value_percentiles",
            "merge_upsert", "collection_clustered_where",
            "collection_time_travel", "dedup_exact", "bigram_lm",
            "winnow_fingerprint", "dsir_sample", "quality_filter",
            "span_scrub"):
        assert promoted in names[:50], promoted
    # the nine held-over permanents anchoring surfaces with no other
    # in-window peer
    for must_be_recorded in ("collection_query_prune",
                             "collection_zonemap_skip",
                             "collection_sequence", "update_derived",
                             "view_overlay", "index_lookup",
                             "multimodal_decoded", "zarr_roundtrip",
                             "streaming_sink"):
        assert names.index(must_be_recorded) < 50
    oracles = entry_queries.oracle_sql()
    assert set(oracles) <= set(names)
    # every registry entry has a value-level oracle — knn_ivfpq was the
    # last rows-only entry (closed round 6)
    assert "knn_ivfpq" in oracles
    # a missing data dir degrades the map, never breaks it — and
    # SILENTLY (r7 advice follow-up): a nonexistent sf_dir is the
    # degradation contract working, not a data problem worth a warning
    import warnings as _warnings
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        degraded = entry_queries.oracle_sql("/does/not/exist")
    assert set(degraded) == set(oracles) - {"knn_ivf", "knn_ivf_hi",
                                            "knn_ivfpq",
                                            "dedup_semantic",
                                            "cluster_sample"}


def test_bench_headline_stays_one_small_line():
    """Round-5 regression: inlining the ANN sweep into counters pushed
    the headline JSON past the driver's tail capture ('parsed': null).
    The emitter must (a) stay compact, (b) shed counters before ever
    exceeding the budget, (c) never shed the metric/value/queries."""
    import json

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import bench

    timings = {f"q{i}": 1.234 for i in range(40)}
    line = bench.emit_headline(timings, {"files_read": 1}, "0.1")
    assert "\n" not in line and len(line) < bench.HEADLINE_BUDGET
    doc = json.loads(line)
    assert doc["value"] == round(40 * 1.234, 3)
    assert doc["queries"] == timings
    # a runaway counters blob is shed, not allowed to clip the prefix
    huge = {"curve": [{"recall": 0.9, "sec": 1.0}] * 2000}
    line = json.loads(bench.emit_headline(timings, huge, "0.1"))
    assert line["queries"] == timings
    assert "dropped" in line["counters"]


def test_bench_headline_last_resort_keeps_metric_value():
    """Even a pathological timings map (400+ queries) must never clip
    metric/value: the second shed stage drops the queries block too."""
    import json

    import bench
    timings = {f"a_very_long_query_name_{i}": 1.0 for i in range(500)}
    line = bench.emit_headline(timings, {"x": 1}, "0.1")
    assert len(line) <= bench.HEADLINE_BUDGET
    doc = json.loads(line)
    assert doc["value"] == 500.0
    assert doc["queries"] == {"dropped": 500}


def test_guard_accepts_driver_wrapper_shape(tmp_path, monkeypatch, capsys):
    """VERDICT r6 residual: the driver's BENCH_r0N.json nests the
    headline under 'parsed' in pretty-printed JSON; bench_guard must
    run against it directly, and still accept raw headline lines."""
    import json

    import bench_guard

    headline = {"sf": "0.1", "value": 2.0, "queries": {"q1": 2.0}}
    anchor = tmp_path / "anchor.json"
    anchor.write_text(json.dumps({"sf": "0.1", "value": 1.5,
                                  "queries": {"q1": 1.5}}))
    wrapper = tmp_path / "BENCH_rXX.json"
    wrapper.write_text(json.dumps(
        {"n": 1, "rc": 0, "tail": "...", "parsed": headline}, indent=2))
    monkeypatch.setattr(sys, "argv", ["bench_guard", str(wrapper),
                                      "--anchor", str(anchor)])
    assert bench_guard.main() == 0
    assert "OK" in capsys.readouterr().out
    # raw multi-line stdout capture (log noise + headline last line)
    raw = tmp_path / "raw.json"
    raw.write_text("not json log line\n" + json.dumps(headline) + "\n")
    monkeypatch.setattr(sys, "argv", ["bench_guard", str(raw),
                                      "--anchor", str(anchor)])
    assert bench_guard.main() == 0


def test_scale_gate_headline_parse_guards_empty_stdout():
    """A 0-exit bench with empty / non-JSON / headline-less stdout must
    yield None (gate fails loudly), never IndexError or a poisoned
    BENCH_sf1.json."""
    import scale_gate

    assert scale_gate._parse_headline("") is None
    assert scale_gate._parse_headline("\n  \n") is None
    assert scale_gate._parse_headline("log noise\nnot json") is None
    assert scale_gate._parse_headline('["a", "list"]') is None
    assert scale_gate._parse_headline('{"no_value_key": 1}') is None
    good = '{"metric": "t", "value": 1.5, "queries": {}, "sf": "1"}'
    assert scale_gate._parse_headline("warn line\n" + good) == good


def test_entry_collections_root_removed_at_exit(tmp_path):
    """The registry's collection root exists (with what was built in it)
    while its process runs, and is gone once the process exits."""
    import os
    import subprocess

    root = Path(__file__).resolve().parent.parent
    probe = ("import os\n"
             "from zcollection_spark import entry_queries as eq\n"
             "d = eq._tmp()\n"
             "assert eq._tmp() == d and os.path.isdir(d)\n"
             "os.makedirs(os.path.join(d, 'coll', 'day=1'))\n"
             "print(d, flush=True)\n")
    done = subprocess.run([sys.executable, "-c", probe], cwd=root,
                          env={**os.environ, "TMPDIR": str(tmp_path),
                               "PYTHONPATH": str(root)},
                          capture_output=True, text=True, timeout=120,
                          stdin=subprocess.DEVNULL)
    assert done.returncode == 0, done.stderr[-2000:]
    made = done.stdout.strip().splitlines()[-1]
    assert os.path.dirname(made) == str(tmp_path)
    assert os.path.basename(made).startswith("zcs_entry_")
    assert not os.path.exists(made)
    assert list(tmp_path.iterdir()) == []
