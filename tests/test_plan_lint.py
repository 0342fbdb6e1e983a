"""Sweeping physical-plan lint over EVERY registered operator — the
scale contract as a test: no silent cartesian products, nested-loop
joins only where a broadcast probe/dim is the intended design, no
row-at-a-time Python UDFs outside the two ops that exist to cover that
API surface. A new op that violates these fails CI the day it lands."""

from __future__ import annotations

import contextlib
import io

import pytest

from slowlog2clickhouse_spark.registry import all_ops

OPS = all_ops()

# ops whose builder executes work eagerly (stream start, table writes)
# or reads the fixture log — explain() would run jobs, lint separately
EAGER = {
    "join_bucketed_colocated",
    "sink_parquet",
    "sink_parquet_partitioned",
    "sink_jdbc_clickhouse",
    "scan_csv",
    "stream_file_source",
    "stream_tumbling_agg",
    "stream_sliding_agg",
    "stream_session_window",
    "stream_dedup_watermark",
    "stream_late_data",
    "sink_stream_foreachbatch",
    "stream_slowlog_classes",
    "stream_stateful_counter",
    "stream_slowlog_to_jdbc",
    "stream_static_join",
    "stream_stream_join",
    "stream_transform_with_state",
    "stream_dedup_minhash",
    "stream_rate_source",
    "stream_classes_pctl_merge",  # builder drains the rotation stream + merges state parts
    "stream_slowlog_tail_sharded",  # builder drains two sharded streams eagerly
    "stream_progress_metrics",
    "stream_journey_state",
    "scan_orc",
    "scan_jsonl",
    "sink_compact",
    "sink_partition_overwrite",
    "sink_zorder_parquet",  # builder writes the z-ordered files eagerly
    "scan_schema_evolution",
    "scan_partition_pruned",
    "observe_metrics",
    "sink_v2_writeto",
    "events_pipeline",
    "cache_branch_reuse",
    "dedup_cluster",  # iterative: builder runs label-propagation jobs
    "dedup_keep_best",  # iterative: same label-propagation path

    "vec_kmeans",  # iterative: builder runs Lloyd assignment jobs
    "graph_pagerank",  # iterative: builder runs rank-propagation jobs
}

# intended nested-loop/cartesian designs: K-row broadcast probes/dims
# (the nested loop IS the plan: tiny side × streamed corpus)
ALLOW_NESTED_LOOP = {
    "join_cross",  # small×small cartesian by definition
    "vec_knn_topk",  # broadcast probe set (brute-force baseline)
    "vec_knn_pq_adc",  # broadcast 5-probe panel × coded corpus (ADC scan)
    "ann_recall_eval",  # brute-force truth pass on the fixed probe panel
    "ann_recall_clustered",  # same truth-pass shape on the planted corpus
    "mm_feature_knn",  # broadcast probe panel (brute-force baseline shape)
    "vec_knn_ivf",  # broadcast 16-row centroid table
    "vec_ivf_append",  # broadcast 16-row FROZEN centroid table (append pass)
    "vec_knn_ivf_pq",  # broadcast 16-row centroid table + probe panel
    "text_tfidf",  # broadcast 1-row corpus-size factor
    "agg_hll_daily_merge",  # broadcast 1-row exact-total factor
    "vec_quantize_int8",  # broadcast 1-row dim-stats arrays
    "funnel_events",  # 1-row × 1-row × 1-row stage-count join
    "llm_curation_funnel",  # 1-row × 1-row × 1-row stage-count fold (stack unpivot)
    "agg_histogram",  # broadcast 1-row min/max stats
    "text_unigram_logprob",  # broadcast 1-row corpus-total factor
    "corpus_mix_rebalance",  # broadcast 1-row min-source-count factor
    "qan_filter_dimensions",  # broadcast 1-row total-time factor
    "qan_slo_burn",  # broadcast 1-row stream-head timestamp
    "tpch_q11",  # broadcast 1-row total-value threshold
    "tpch_q22",  # broadcast 1-row avg-balance threshold
    "events_rfm",  # broadcast 1-row stream-head timestamp (recency anchor)
    "orders_pareto",  # broadcast 1-row grand-total + 3-row threshold table
    "slowlog_load_share",  # broadcast 1-row grand-total factor
    "text_idf_keywords",  # broadcast 1-row corpus-size factor (idf)
    "events_ab_lift",  # 2-row group stats folded to one wide row
    "ann_nprobe_sweep",  # brute-force truth pass on the fixed probe panel
    "slowlog_top_tables",  # broadcast 1-row grand-total factor
    "orders_running_share",  # broadcast 1-row grand-total factor
    "corpus_token_budget",  # broadcast 1-row sqrt-token-total factor
    "qan_overview",  # broadcast 1-row grand-total factor (load_share)
    "qan_workload_sample",  # broadcast 1-row grand+kept totals (shares)
    "agg_weighted_percentile",  # broadcast 1-row total-weight factor
    "vec_contamination_probe",  # broadcast probe panel (eval set: small by definition)
    "text_zipf_fit",  # broadcast 1-row corpus-totals aggregate
    "ann_ivfpq_sweep",  # broadcast probe panel truth + 1-row truth_n fold onto the 12-row grid
    "ann_pq_bits_clustered",  # same shape: broadcast probe-panel truth + 1-row truth_n fold onto the 4-row grid
    "ann_opq_rotation",  # same shape: broadcast probe-panel truth + 1-row truth_n fold onto the 4-row grid
    "dedup_lsh_band_sweep",  # 1-row pooled-truth fold onto the 4-row arm table
    "dedup_simhash_radius_sweep",  # 1-row spectrum-totals fold onto the 6-row radius table
}

LAZY_OPS = sorted(set(OPS) - EAGER)


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """One build per lazy op, shared by every lint in this module —
    r17: test_no_unbounded_global_window used to REBUILD all ~300 ops
    for its optimized-plan walk, doubling this module's cost (the r17
    duration audit clocked the file at 490 s; building each op's plan
    once roughly halves it)."""
    return {name: OPS[name].fn(spark, sf_dir) for name in LAZY_OPS}


@pytest.fixture(scope="module")
def plans(built):
    out = {}
    for name, df in built.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[name] = buf.getvalue()
    return out


def test_no_unexpected_cartesian_product(plans):
    bad = [
        n
        for n, p in plans.items()
        if "CartesianProduct" in p and n not in ALLOW_NESTED_LOOP
    ]
    assert not bad, f"cartesian product leaked into: {bad}"


def test_nested_loop_joins_only_where_designed(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in ALLOW_NESTED_LOOP
    ]
    assert not bad, f"unexpected BroadcastNestedLoopJoin in: {bad}"


def test_no_row_python_udf_outside_api_surface_ops(plans):
    # BatchEvalPython = row-at-a-time Python UDF; only the op that
    # exists to cover that API may use it
    bad = [
        n
        for n, p in plans.items()
        if "BatchEvalPython" in p
        and n not in (
            "udf_fingerprint_py",
            "udtf_parse_slowlog",
            "udtf_table_arg",  # the TABLE-argument UDTF API surface op
        )
    ]
    assert not bad, f"row-at-a-time Python UDF in hot path: {bad}"


# global (partition-less) windows whose input is a PROVABLY-BOUNDED
# aggregate — the only shape where `WindowExec: No Partition Defined`
# is acceptable at 100 TB. Limit-bounded windows (ranked_topk) are
# auto-recognized; everything else must be justified here.
ALLOW_GLOBAL_WINDOW = {
    "dq_sequence_gaps",  # lag over per-range (min,max) stats: |ids|/4096 rows
    "orders_running_share",  # running share over the month rollup: |months| rows
    "slowlog_load_share",  # rank over QAN digest classes: class-domain-bounded
    "slowlog_top_tables",  # rank over referenced table names: schema-bounded
    "qan_overview",  # rank over QAN digest classes: class-domain-bounded
}


def _subtree_has_limit(node) -> bool:
    if "Limit" in node.nodeName():
        return True
    it = node.children().iterator()
    while it.hasNext():
        if _subtree_has_limit(it.next()):
            return True
    return False


def _subtree_has_pid_bucket_agg(node) -> bool:
    """stitched_order's offsets window runs over an Aggregate grouped
    SOLELY by `_pid` = spark_partition_id() — ≤ num_buckets rows by
    construction, bounded regardless of data volume. Recognize that
    shape structurally (the r7 localCheckpoint truncates lineage below
    the Aggregate, so a Limit-style lineage proof is impossible; the
    grouping key IS the proof)."""
    if node.nodeName() == "Aggregate":
        ge = node.groupingExpressions()
        if ge.size() >= 1 and all(
            "_pid" in ge.apply(i).toString() for i in range(ge.size())
        ):
            return True
    it = node.children().iterator()
    while it.hasNext():
        if _subtree_has_pid_bucket_agg(it.next()):
            return True
    return False


def _unbounded_global_windows(df) -> int:
    """Count partition-less logical Window nodes NOT sitting over a
    provably-bounded subtree — a Limit (ranked_topk) or a
    spark_partition_id-keyed bucket aggregate (stitched_order). Py4j
    walk of the optimized plan — partitionSpec is invisible in the
    formatted text once AQE wraps the plan."""
    n = 0

    def walk(node):
        nonlocal n
        if node.nodeName() == "Window" and node.partitionSpec().size() == 0:
            if not _subtree_has_limit(node) and not _subtree_has_pid_bucket_agg(
                node
            ):
                n += 1
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().optimizedPlan())
    return n


def test_no_unbounded_global_window(built):
    """A global window over an unbounded-cardinality domain is the
    one-task scale-killer VERDICT r5 flagged (events_rfm/orders_pareto/
    dq_sequence_gaps, since rewritten). Any new op must either rank
    over a Limit (ranked_topk), stitch with bounded bucket offsets
    (stitched_order), or justify a bounded aggregate input above."""
    bad = {}
    for name, df in built.items():
        if name in ALLOW_GLOBAL_WINDOW:
            continue
        n = _unbounded_global_windows(df)
        if n:
            bad[name] = n
    assert not bad, (
        f"unbounded global window (single-partition WindowExec) in: {bad} — "
        "use ranked_topk/stitched_order or justify in ALLOW_GLOBAL_WINDOW"
    )


# ---------------------------------------------------------------------------
# r17 (VERDICT r16 #2): pin the r16/r17 optimization plan shapes so the
# shuffle/scan/broadcast wins can't silently regress. Counts are of the
# formatted-plan node list (the same greps the r16 audit ran against
# plans/r16/*_after.txt).
# ---------------------------------------------------------------------------


def _n_nodes(plan: str, node: str) -> int:
    import re

    return len(re.findall(rf"\(\d+\) {node}\b", plan))


def test_dedup_minhash_plan_shape_pinned(plans):
    """r16 change #1: ONE parquet scan (the band groupBy rides the band
    repartition Exchange; map-side _bucket_pairs replaced the band-key
    self-join), and no broadcast hash join of a re-evaluated signature
    chain."""
    p = plans["dedup_minhash"]
    assert _n_nodes(p, "Scan parquet") == 1, "dedup_minhash must scan once"
    assert "BroadcastHashJoin" not in p, (
        "band self-join is back — _bucket_pairs fan-out regressed"
    )


def test_dedup_minhash_verified_plan_shape_pinned(plans):
    """r16 change #8: tokenize once — both pair-join sides read the one
    lazily-checkpointed token table, so exactly one parquet scan."""
    assert _n_nodes(plans["dedup_minhash_verified"], "Scan parquet") == 1


def test_dedup_simhash_plan_shape_pinned(plans):
    """r16 change #6: the banded corpus must not be BROADCAST (the old
    shape re-evaluated the 60-bit signature chain on the build side and
    cannot hold at 100 TB) — one scan, no broadcast exchange."""
    p = plans["dedup_simhash"]
    assert _n_nodes(p, "Scan parquet") == 1
    assert "BroadcastExchange" not in p


def test_ann_recall_eval_plan_shape_pinned(plans):
    """r16 changes #4/#7: every arm (truth, 3 LSH arms, IVF) rides the
    ONE materialized checkpoint base — zero parquet scans in the final
    plan — and the LSH arms share a single broadcast equi-join."""
    p = plans["ann_recall_eval"]
    assert _n_nodes(p, "Scan parquet") == 0, (
        "an arm re-scans embeddings instead of riding the checkpoint"
    )


def test_corpus_curation_plan_shape_pinned(plans):
    """r17: the exact-dedup survivor selection is a single min_by
    aggregate — one parquet scan, no broadcast semi-join back onto a
    second scan of the filtered corpus."""
    p = plans["corpus_curation"]
    assert _n_nodes(p, "Scan parquet") == 1
    assert "BroadcastHashJoin" not in p


def test_llm_curation_funnel_exchange_budget(plans):
    """r16 change #5: the near-drop set is computed map-side from the
    grouped band buckets (20 -> 16 Exchanges). Budget, not equality:
    fewer is progress, more is a regression."""
    assert _n_nodes(plans["llm_curation_funnel"], "Exchange") <= 16


def _executed_plan(df) -> str:
    """The final physical plan of an already-executed DataFrame (the
    AQE initial plan, printed below it, is cut off)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_ingest_slowlog_fingerprints_in_the_parse_pass(spark):
    """The parser fingerprints each event itself: the executed ingest
    plan holds ONE Python stage (the mapInPandas parser) and no
    fingerprint UDF stage beside it. Record bytes reach that stage
    undecoded — no JVM-side encode/decode round trip — so the parser
    is the one place they become text."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog

    df = ingest_slowlog(spark, FIXTURE_LOG)
    df.collect()
    p = _executed_plan(df)
    assert p.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "encode(" not in p and "decode(" not in p


def _n_percentile_buffers(df) -> int:
    """Exact/approx percentile aggregate functions in the executed
    plan's partial aggregate, printed untruncated."""
    key = "spark.sql.debug.maxToStringFields"
    old = df.sparkSession.conf.get(key)
    df.sparkSession.conf.set(key, "1000")
    try:
        p = _executed_plan(df)
    finally:
        df.sparkSession.conf.set(key, old)
    return p.count("partial_percentile(") + p.count("partial_approx_percentile(")


def test_ingest_battery_has_one_percentile_buffer_per_metric(spark):
    """One percentile aggregate per metric answers med/p95/p99 (the
    Column-API battery ran three, 15 in all), and the parse still runs
    once."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.plans.pipeline import (
        DEFAULT_STAT_METRICS,
        ingest_slowlog,
    )

    for percentiles in ("exact", "approx"):
        df = ingest_slowlog(spark, FIXTURE_LOG, percentiles=percentiles)
        df.collect()
        assert _n_percentile_buffers(df) == len(DEFAULT_STAT_METRICS)
        assert _executed_plan(df).count("MapInPandas") == 1


def test_global_rollup_uses_the_class_battery(spark, monkeypatch):
    """`aggregate_global` and `aggregate_classes` build one battery
    (same builder, same buffers), differing only in the grouping."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.plans import pipeline

    calls = []
    battery = pipeline._battery

    def spy(events, per_class, *a):
        calls.append(per_class)
        return battery(events, per_class, *a)

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    monkeypatch.setattr(pipeline, "_battery", spy)
    events = pipeline.parse_slowlog(spark, FIXTURE_LOG)
    views = temp_views()
    g = pipeline.aggregate_global(events)
    pipeline.aggregate_classes(events)
    assert calls == [False, True]
    assert temp_views() == views  # the battery's view is dropped again
    g.collect()
    assert _n_percentile_buffers(g) == len(pipeline.DEFAULT_STAT_METRICS)


def test_cli_digest_parses_the_log_once(spark, monkeypatch, capsys):
    """`digest` prints totals and the top-K from ONE job over ONE
    parse: its totals are observed on the class rows it ranks."""
    from slowlog2clickhouse_spark.__main__ import main
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.plans import pipeline

    parses, ranked = [], []
    parse, top = pipeline.parse_slowlog, pipeline.top_digests

    def counting_parse(*a, **k):
        parses.append(parse(*a, **k))
        return parses[-1]

    def keeping_top(*a, **k):
        ranked.append(top(*a, **k))
        return ranked[-1]

    monkeypatch.setattr(pipeline, "parse_slowlog", counting_parse)
    monkeypatch.setattr(pipeline, "top_digests", keeping_top)
    assert main(["digest", "--log", FIXTURE_LOG, "--top", "3"]) == 0
    assert capsys.readouterr().out.startswith("# 983 queries")
    assert len(parses) == 1 and len(ranked) == 1
    assert _executed_plan(ranked[0]).count("MapInPandas") == 1


def test_parquet_scans_prune_columns(plans):
    """Every lazy op that scans lineitem must NOT read all 11 columns
    unless it genuinely projects them (spot-check: ops over lineitem
    whose result uses ≤3 lineitem columns)."""
    p = plans["project_select"]
    read = [line for line in p.splitlines() if "ReadSchema" in line]
    assert read and "l_comment" not in read[0]


# ---------------------------------------------------------------------------
# Driver-collect lint (r15): VERDICT r14 #4 re-audits "no .collect()
# in a data-shaped hot path" BY HAND every round — this pins the audit
# structurally. The set of package functions containing a driver-side
# materialization is frozen below with each site's justification; a
# new collect anywhere (new op, new helper, edit to an old one) fails
# CI until it is justified here. Name-keyed (file::function), so line
# drift never breaks it.
# ---------------------------------------------------------------------------

# every entry is a BOUNDED collect: model/codebook training output,
# 1-row stats, fixture/CLI output — never proportional to table rows
DRIVER_COLLECT_ALLOWLIST = {
    "slowlog2clickhouse_spark/__main__.py::cmd_curate",  # CLI table output (console deliverable)
    "slowlog2clickhouse_spark/__main__.py::cmd_digest",  # CLI table output (console deliverable)
    "slowlog2clickhouse_spark/operators/dedup.py::dedup_cluster_incremental",  # 1-row equality-check hash (state == recompute)
    "slowlog2clickhouse_spark/operators/multimodal.py::scan_binary_files",  # fixture writer: 50 synthetic blobs
    "slowlog2clickhouse_spark/operators/multimodal.py::write_pgm_corpus",  # fixture writer: bounded PGM corpus
    "slowlog2clickhouse_spark/operators/sinks_ops.py::scan_partition_pruned",  # bounded partition-value list for the pruning proof
    "slowlog2clickhouse_spark/operators/sinks_ops.py::sink_partition_overwrite",  # bounded partition-value list (overwrite set)
    "slowlog2clickhouse_spark/operators/vector.py::_lloyd",  # k-means model: K centroids per iteration
    "slowlog2clickhouse_spark/operators/vector.py::_pq_train",  # PQ codebook: m*k*sub doubles (the model, not the data)
    "slowlog2clickhouse_spark/operators/vector.py::_pq_train_local",  # same model shape, local trainer
    "slowlog2clickhouse_spark/streaming/ops.py::stream_rate_source",  # bounded memory-sink drain of a rate microbatch
}

_DRIVER_ACTIONS = {"collect", "toPandas", "collectAsList", "toLocalIterator"}
_AMBIGUOUS_ACTIONS = {"first", "head", "take"}  # also F.* aggregate names


def _collect_sites() -> set:
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "slowlog2clickhouse_spark",
    )
    sites = set()
    for root, _, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, os.path.dirname(pkg))
            tree = ast.parse(open(path, encoding="utf-8").read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    if isinstance(f, ast.Attribute):
                        recv_is_F = (
                            isinstance(f.value, ast.Name)
                            and f.value.id in ("F", "functions")
                        )
                        if f.attr in _DRIVER_ACTIONS or (
                            f.attr in _AMBIGUOUS_ACTIONS and not recv_is_F
                        ):
                            sites.add(
                                rel + "::" + (".".join(self.stack) or "<module>")
                            )
                    self.generic_visit(node)

            V().visit(tree)
    return sites


def test_driver_collects_are_pinned():
    got = _collect_sites()
    new = got - DRIVER_COLLECT_ALLOWLIST
    gone = DRIVER_COLLECT_ALLOWLIST - got
    assert not new, (
        f"new driver-side materialization in {sorted(new)} — if it is "
        "bounded (model/1-row stats/CLI output), justify it in "
        "DRIVER_COLLECT_ALLOWLIST; if it is data-shaped, redesign"
    )
    assert not gone, (
        f"stale allowlist entries (site removed or renamed): {sorted(gone)}"
    )


def test_lint_allowlists_reference_live_ops():
    """Stale allowlist entries are silent lint holes: an op renamed or
    removed would leave its EAGER / nested-loop / global-window grant
    dangling, and a future op reusing the name would inherit an
    unreviewed exemption. Every grant must reference a live op."""
    live = set(OPS)
    for name, s in (
        ("EAGER", EAGER),
        ("ALLOW_NESTED_LOOP", ALLOW_NESTED_LOOP),
        ("ALLOW_GLOBAL_WINDOW", ALLOW_GLOBAL_WINDOW),
    ):
        stale = s - live
        assert not stale, f"{name} grants for unknown ops: {sorted(stale)}"


def _package_sources() -> dict:
    import pathlib

    import slowlog2clickhouse_spark

    root = pathlib.Path(slowlog2clickhouse_spark.__file__).parent
    return {str(p.relative_to(root)): p.read_text() for p in root.rglob("*.py")}


def test_cli_starts_no_stream_query():
    """The CLI only parses arguments: `stream` and `tail` start their
    queries through streaming/slowlog_stream.run_classes_stream."""
    assert "writeStream" not in _package_sources()["__main__.py"]


def test_class_battery_has_no_tiebreak_knob():
    """A query_time tie for a class's example is broken by content
    (struct(query_time, query)) on every path: no knob selects a
    read-order tie-break anywhere in the package."""
    hits = [p for p, text in _package_sources().items() if "example_tiebreak" in text]
    assert not hits, hits


def test_tail_reader_has_one_verified_read_and_no_test_only_knob():
    """The tail reader opens, verifies and reads a file range in one
    function (`_verified_range`; the salvage read is its stop=None
    call), and reads no option that only tests set."""
    for name in ("_read_verified_tail", "misslimit"):
        hits = [p for p, text in _package_sources().items() if name in text.lower()]
        assert not hits, (name, hits)


def test_tail_reads_verify_content_only_and_register_never_swallows():
    """A tail read accepts a file by its head hash alone: `_verified_range`
    takes no inode, and `_file_ino` (a path stat that could pair one
    file's head with another's inode) is gone. `register` tracks the
    sessions it registered instead of swallowing an exception."""
    import ast
    import inspect

    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    params = inspect.signature(ds._verified_range).parameters
    assert not [n for n in params if "ino" in n], list(params)
    assert not hasattr(ds, "_file_ino")
    tree = ast.parse(inspect.getsource(ds.register))
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.ExceptHandler)]


def test_digest_has_no_period_option():
    """`digest` ranks digests summed over every period, so a period
    option could not change its report."""
    import argparse

    from slowlog2clickhouse_spark.__main__ import _build_parser

    sub = next(
        a for a in _build_parser()._actions if isinstance(a, argparse._SubParsersAction)
    )
    assert "--period" not in sub.choices["digest"]._option_string_actions
    assert "--period" in sub.choices["ingest"]._option_string_actions
