"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query set = the 8 BASELINE.md queries verbatim (the 2× gate is judged
against BASELINE.md's PySpark column) + engine-specific headliners
(slow-log ingest pipeline, minhash dedup, knn) reported in the same
map. Protocol: 5 warm runs for the gate queries, 3 for headliners,
collect() timed, boot excluded. The reported statistic is the warm
MEDIAN ("stat": "warm_median" in the JSON) — like-for-like with
BASELINE.md, whose PySpark column is a warm median and whose protocol
text says the 2x gate "should be evaluated on warm medians" (ADVICE
r9 #2: r9's warm-min stat systematically flattered the engine).
Transient machine load is handled structurally, not statistically:
the load guard waits for the 1-min loadavg to drop below 1.0 (r8's
4.0 ceiling let a loaded box through and produced three phantom
headliner "regressions") and stamps the start value into the JSON;
since r13 the guard re-checks BEFORE EVERY QUERY and the per-query
loadavg is emitted under "loadavg_per_query" (r12's nine phantom
headliner regressions arrived mid-bench, invisible to a start-only
guard). [min, median, max] is still emitted under "variance";
persisted RDD blocks are dropped between reps so 5-rep runs don't
accumulate cache pressure that skews late reps (VERDICT r8 #8).
Round-over-round acceptance band: see BASELINE.md §protocol — ±10%
vs the better of the two previous rounds, rows with per-query
loadavg > 2.0 are not comparable evidence (the same threshold the
final line's "loadavg_hot" exception map captures). Since r17 the
bench also snapshots hypervisor CPU steal PER QUERY and self-retries
(bounded, 2 attempts) any query whose reps ran under steal > 5% of
non-idle time, keeping the lower-steal attempt — selection is by the
health stamp, never by the time, so one contaminated window can't
poison the round's only ground-truth artifact (VERDICT r16 #1: the
r16 cross-round bench ran at steal 24.7% and scored 22 phantom
regressions on untouched code). Queries still hot after retry are
stamped in "steal_hot"; retry count in "steal_retries".

Since r15 the bench also runs gate #9, `q_py_fingerprint_ctl` — a
fixed-cost Python-boundary control (pandas-UDF fingerprint over 2M
synthetic statements), excluded from the 2x gate total. It calibrates
the SECOND drift axis (Python-worker/Arrow throughput, which r14
measured drifting ~2.4x while JVM SQL moved only +20%); drift verdicts
on pandas-UDF headliners are judged against ITS shift. Final-line
contract (VERDICT r14 #2): the driver captures only the last 2000
chars of stdout, so the final compact JSON line is held under a hard
1800-char assert — all per-query medians at 3 dp, variance triples
for the 9 control rows only ("variance_ctl"), loadavg exceptions-only
("loadavg_hot"); the full triples live on the verbose first line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from slowlog2clickhouse_spark.io import register_views  # noqa: E402
from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG  # noqa: E402
from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog  # noqa: E402
from slowlog2clickhouse_spark.registry import all_ops  # noqa: E402
from slowlog2clickhouse_spark.session import get_session  # noqa: E402

# BASELINE.md §script queries, verbatim (Spark SQL flavor)
BASELINE_QUERIES = {
    "q_agg_groupby": (
        "SELECT l_returnflag, l_linestatus, count(*) n, sum(l_quantity) sq, "
        "sum(l_extendedprice) sp, avg(l_discount) ad, min(l_shipdate) mn, "
        "max(l_shipdate) mx FROM lineitem GROUP BY 1,2"
    ),
    "q_time_bucket_agg": (
        "SELECT date_trunc('hour', ts) h, event_type, count(*) n, sum(value) sv, "
        "min(value) mn, max(value) mx, avg(value) av FROM events GROUP BY 1,2"
    ),
    "q_join3_topn": (
        "SELECT n_name, count(*) n, sum(o_totalprice) s FROM orders "
        "JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey "
        "GROUP BY 1 ORDER BY s DESC LIMIT 10"
    ),
    "q_window_rank": (
        "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, "
        "o_orderkey) rn FROM orders) WHERE rn<=3"
    ),
    "q_percentile": (
        "SELECT event_type, count(*) n, percentile(value, 0.95) p95 "
        "FROM events GROUP BY 1"
    ),
    "q_distinct": (
        "SELECT count(DISTINCT user_id) du, count(DISTINCT event_type) de FROM events"
    ),
    "q_string_regex": (
        "SELECT lang, count(*) n, avg(length(text)) al FROM documents "
        "WHERE text rlike '[0-9]+' GROUP BY 1"
    ),
    # slowest of the set by design: the disjunctive NOT IN forces a
    # BroadcastNestedLoopJoin ExistenceJoin (BASELINE.md's run pays the
    # same plan at 4.1s; we run it verbatim for comparability)
    "q_semi_anti": (
        "SELECT count(*) FROM customer WHERE c_custkey IN "
        "(SELECT o_custkey FROM orders) OR c_custkey NOT IN "
        "(SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)"
    ),
}

# Gate #9 (VERDICT r14 #4): Python-boundary CONTROL query, excluded
# from the 2x gate total. The r14 host-drift evidence showed two drift
# axes — JVM-SQL gates moved +20% while Python-worker workloads moved
# ~2.4x — so the 8 JVM-SQL gates under-correct every Arrow/pandas-UDF
# headliner. This row is a fixed-cost (SF-invariant) Arrow round-trip:
# 2M synthetic statements generated JVM-side, fingerprinted by the
# row-level state machine inside a vectorized pandas UDF, aggregated —
# sized so the Python compute (~2.3 s) dominates the ~0.7 s worker
# spin-up, i.e. a throughput drift actually moves the row.
# Drift verdicts on pandas-UDF headliners cite THIS row's shift, not
# the JVM gates' (BASELINE.md §protocol, machine-drift clause).
PY_CONTROL = "q_py_fingerprint_ctl"


def _py_control_build(spark):
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.functions.fingerprint import fingerprint_py

    @F.pandas_udf("string")
    def fp_vec(s: pd.Series) -> pd.Series:
        return s.map(fingerprint_py)

    stmts = spark.range(0, 2_000_000).select(
        F.concat(
            F.lit("SELECT col_a, col_b FROM tab_"),
            F.col("id") % 17,
            F.lit(" WHERE k = "),
            F.col("id"),
            F.lit(" AND v IN ("),
            F.col("id") % 7,
            F.lit(", '"),
            F.col("id") % 13,
            F.lit("') ORDER BY col_a LIMIT 10"),
        ).alias("q")
    )
    return (
        stmts.select(fp_vec("q").alias("fp"))
        .groupBy("fp")
        .count()
    )


# engine headliners (not part of the 2× gate; tracked for regressions)
EXTRA_OPS = (
    "slowlog_pipeline",
    "dedup_minhash",
    "vec_knn_topk",
    "text_tfidf",
    # scale-safe rewrite of q_semi_anti (same result, hash joins instead
    # of the BNLJ ExistenceJoin) — reported beside the verbatim gate row
    "q_semi_anti_rewrite",
    # round-2 LLM-pipeline headliners
    "corpus_curation",
    "dedup_cluster",
    "text_decontaminate",
    "events_pipeline",
    # round-4: classic yardsticks with the heaviest join graphs
    "tpch_q9",
    "tpch_q21",
    # round-5: the data-quality profiler (driver-green this round)
    "dq_profile",
    # round-5 additions: two-phase verified dedup and the ANN recall
    # gate (runs brute-force truth + all three ANN variants)
    "dedup_minhash_verified",
    "ann_recall_eval",
    # round-5 second session: bitmap-exact distinct (the 100 TB
    # distinct-counting plan) and span-level boilerplate detection
    "agg_bitmap_distinct",
    "text_dup_spans",
    # round-6: the flagship curation cascade (single most expensive
    # registered plan — regressions in any stage surface here)
    "llm_curation_funnel",
    # round-8: quality-aware cluster resolution (label propagation +
    # cluster-keyed survivor window) and the stateful streaming
    # journey tracker (bounded per-user state)
    "dedup_keep_best",
    "stream_journey_state",
    # round-10: the mergeable-percentile class table and the LSH
    # banding frontier (4 arms over one shared signature build)
    "slowlog_classes_incremental_pctl",
    "dedup_lsh_band_sweep",
    # round-11: deep-graph star components (the log-round resolution)
    # and the real-format PGM decode path (binaryFile → Arrow → netpbm)
    "graph_components_star",
    "mm_decode_pgm",
    # round-12: the routed ingest path end-to-end (chain + confined
    # UDF slice) and the fleet tail (partitioned multi-file stream)
    "slowlog_classes_routed",
    "stream_slowlog_tail_multi",
)


def _drop_persisted_rdds(spark) -> None:
    """Unpersist any RDD blocks an op's internal localCheckpoint left
    behind, so rep N+1 starts from the same storage state as rep 1
    (VERDICT r8 #8; same loop scaling_sweep.py and stress_probe.py run
    between ops)."""
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


def time_df(spark, build, runs: int = 3) -> list[float]:
    build().collect()  # warmup (plans cached, files known)
    _drop_persisted_rdds(spark)
    times = []
    for _ in range(runs):
        t0 = time.time()
        build().collect()
        times.append(time.time() - t0)
        _drop_persisted_rdds(spark)
    return times


def guarded_time_df(
    spark,
    build,
    runs: int,
    loads: dict,
    name: str,
    steals: dict | None = None,
    retried: list | None = None,
) -> list[float]:
    """time_df with the PER-QUERY noise protocol (VERDICT r12 #4: nine
    headliners 'regressed' 24-56% with zero code change — the bench-
    start load guard can't see load arriving MID-bench over a ~25-row
    run). Before each query's reps the idle guard re-checks (short
    timeout — the bench must terminate), and the 1-min loadavg is
    stamped per query so every number carries its own health flag.

    The per-query threshold is 2.0, NOT the bench-start 1.0: the 1-min
    loadavg has a ~60 s decay constant, so right after a heavy query
    the bench's OWN just-finished work reads 1-2 on this 32-core box —
    waiting that out would add a minute of sleep per query and stamp
    values the protocol itself calls suspect, while one or two
    decaying runnable threads cannot skew a 32-thread measurement.
    External contention that actually skews results shows loadavg well
    above 2 and still trips the guard; the stamp interpretation lives
    in BASELINE.md (<=2 self-decay, comparable; >~3 suspect).

    r17 (VERDICT r16 #1): hypervisor CPU steal is ALSO snapshotted per
    query, and a query whose reps ran under steal > STEAL_RETRY_PCT of
    non-idle time is re-run once (bounded — STEAL_RETRY_MAX attempts
    total) after a short backoff. The attempt with the LOWER steal
    share is kept — selection is by the measurement-health stamp, never
    by the resulting time, so a retry can only trade a contaminated
    window for a cleaner one. r16's only cross-round bench ran under
    24.7% steal and scored 22 phantom regressions on untouched code;
    one contaminated window must not poison the round's ground truth."""
    wait_for_idle(max_load=2.0, timeout_s=90.0)
    loads[name] = round(os.getloadavg()[0], 2)
    best_ts: list[float] | None = None
    best_steal: float | None = None
    for attempt in range(STEAL_RETRY_MAX):
        s0 = cpu_steal_snapshot()
        ts = time_df(spark, build, runs=runs)
        st = cpu_steal_pct(s0, cpu_steal_snapshot())
        # a retry whose steal could not be measured (None) never
        # replaces a measured attempt: unknown health is not clean
        if best_ts is None or (
            st is not None and (best_steal is None or st < best_steal)
        ):
            best_ts, best_steal = ts, st
        if st is None or st <= STEAL_RETRY_PCT:
            break
        if attempt + 1 < STEAL_RETRY_MAX:
            if retried is not None:
                retried.append(name)
            time.sleep(5)  # let the hypervisor burst pass
            wait_for_idle(max_load=2.0, timeout_s=60.0)
    if steals is not None and best_steal is not None:
        steals[name] = best_steal
    return best_ts


# Per-query steal-retry protocol (VERDICT r16 #1): a query window with
# steal above this share of non-idle time is environment-contaminated
# by measurement (BASELINE.md drift playbook: lines with steal >~5% are
# adjudicated environment) and earns one bounded re-run.
STEAL_RETRY_PCT = 5.0
STEAL_RETRY_MAX = 2  # attempts per query, total


def wait_for_idle(max_load: float = 1.0, timeout_s: float = 600.0) -> float:
    """Load guard (VERDICT r7 #4, tightened per r8 #1): the r7/r8
    benches ran slow across rows INCLUDING verbatim baseline SQL —
    machine load, not plan regression; r8's 4.0 ceiling admitted a
    loadavg-3.85 box. Wait (up to 10 min) for the 1-min loadavg to
    drop below `max_load`, then proceed; if it never does, proceed
    anyway (an aborted bench records nothing) but the starting loadavg
    is emitted in the JSON so the numbers carry their own health flag.
    SPARK_GRAFT_LOAD_ABORT=1 makes a hot box fatal."""
    deadline = time.time() + timeout_s
    load = os.getloadavg()[0]
    while load > max_load and time.time() < deadline:
        time.sleep(5)
        load = os.getloadavg()[0]
    if load > max_load and os.environ.get("SPARK_GRAFT_LOAD_ABORT") == "1":
        print(
            json.dumps({"error": f"loadavg {load:.1f} > {max_load}, aborting"})
        )
        sys.exit(3)
    return load


def cpu_steal_snapshot() -> list[int] | None:
    """/proc/stat first line, fields user..guest — for computing the
    hypervisor CPU-steal share across the bench run. r16 found a night
    where steal was 50% of non-idle time during a controlled spin while
    the guest showed zero other processes; recording steal per run
    turns that from forensic archaeology into a stamp on the line."""
    try:
        return list(map(int, open("/proc/stat").readline().split()[1:10]))
    except (OSError, ValueError, IndexError):
        return None


def cpu_steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal as % of NON-IDLE cpu time between two snapshots — the
    share of the cycles this guest actually contended for that the
    hypervisor withheld. None on non-Linux or counter weirdness."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3]  # total minus idle
    if busy <= 0:
        return None
    return round(100.0 * d[7] / busy, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    steal0 = cpu_steal_snapshot()
    load0 = wait_for_idle()
    spark = get_session(app_name="bench")
    register_views(spark, sf_dir)
    ops = all_ops()

    # 5 warm runs for the gate queries (variance proves noise vs
    # regression round-over-round); 3 for the wider headliner set.
    # Reported statistic = warm MEDIAN: BASELINE.md's comparison column
    # is a warm median and its protocol text says the 2x gate "should
    # be evaluated on warm medians" — min <= median always, so a min
    # stat would flatter the engine (ADVICE r9 #2). Load noise is now
    # handled structurally by the loadavg<1.0 idle guard above, not by
    # the statistic; the [min, median, max] triple is still reported.
    results: dict[str, float] = {}
    variance: dict[str, list[float]] = {}
    loads: dict[str, float] = {}
    steals: dict[str, float] = {}
    retried: list[str] = []
    for name, sql in BASELINE_QUERIES.items():
        ts = guarded_time_df(
            spark, lambda: spark.sql(sql), 5, loads, name, steals, retried
        )
        results[name] = round(statistics.median(ts), 4)
        variance[name] = [
            round(min(ts), 4),
            results[name],
            round(max(ts), 4),
        ]

    # gate #9: the Python-boundary control (5 reps like the gates; NOT
    # summed into gate_total — it calibrates drift, it isn't baseline SQL)
    ts = guarded_time_df(
        spark, lambda: _py_control_build(spark), 5, loads, PY_CONTROL,
        steals, retried,
    )
    results[PY_CONTROL] = round(statistics.median(ts), 4)
    variance[PY_CONTROL] = [round(min(ts), 4), results[PY_CONTROL], round(max(ts), 4)]

    extra_builders = {
        "slowlog_pipeline": lambda: ingest_slowlog(spark, FIXTURE_LOG),
        "dedup_minhash": lambda: ops["dedup_minhash"].fn(spark, sf_dir),
        "vec_knn_topk": lambda: ops["vec_knn_topk"].fn(spark, sf_dir),
        "text_tfidf": lambda: ops["text_tfidf"].fn(spark, sf_dir),
        "q_semi_anti_rewrite": lambda: ops["join_semi_anti_rewrite"].fn(spark, sf_dir),
        "corpus_curation": lambda: ops["corpus_curation"].fn(spark, sf_dir),
        "dedup_cluster": lambda: ops["dedup_cluster"].fn(spark, sf_dir),
        "text_decontaminate": lambda: ops["text_decontaminate"].fn(spark, sf_dir),
        "events_pipeline": lambda: ops["events_pipeline"].fn(spark, sf_dir),
        "tpch_q9": lambda: ops["tpch_q9"].fn(spark, sf_dir),
        "tpch_q21": lambda: ops["tpch_q21"].fn(spark, sf_dir),
        "dq_profile": lambda: ops["dq_profile"].fn(spark, sf_dir),
        "dedup_minhash_verified": lambda: ops["dedup_minhash_verified"].fn(
            spark, sf_dir
        ),
        "ann_recall_eval": lambda: ops["ann_recall_eval"].fn(spark, sf_dir),
        "agg_bitmap_distinct": lambda: ops["agg_bitmap_distinct"].fn(
            spark, sf_dir
        ),
        "text_dup_spans": lambda: ops["text_dup_spans"].fn(spark, sf_dir),
        "llm_curation_funnel": lambda: ops["llm_curation_funnel"].fn(
            spark, sf_dir
        ),
        "dedup_keep_best": lambda: ops["dedup_keep_best"].fn(spark, sf_dir),
        "stream_journey_state": lambda: ops["stream_journey_state"].fn(
            spark, sf_dir
        ),
        "slowlog_classes_incremental_pctl": lambda: ops[
            "slowlog_classes_incremental_pctl"
        ].fn(spark, sf_dir),
        "dedup_lsh_band_sweep": lambda: ops["dedup_lsh_band_sweep"].fn(
            spark, sf_dir
        ),
        "graph_components_star": lambda: ops["graph_components_star"].fn(
            spark, sf_dir
        ),
        "mm_decode_pgm": lambda: ops["mm_decode_pgm"].fn(spark, sf_dir),
        "slowlog_classes_routed": lambda: ops["slowlog_classes_routed"].fn(
            spark, sf_dir
        ),
        "stream_slowlog_tail_multi": lambda: ops[
            "stream_slowlog_tail_multi"
        ].fn(spark, sf_dir),
    }
    for name in EXTRA_OPS:
        ts = guarded_time_df(
            spark, extra_builders[name], 3, loads, name, steals, retried
        )
        results[name] = round(statistics.median(ts), 4)
        variance[name] = [
            round(min(ts), 4),
            results[name],
            round(max(ts), 4),
        ]

    gate_total = round(sum(results[q] for q in BASELINE_QUERIES), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # verbose line FIRST (variance triples for the regression audit) …
    print(
        json.dumps(
            {
                "metric": "baseline8_warm_median_total",
                "value": gate_total,
                "unit": "sec",
                "stat": "warm_median",
                "queries": results,
                "variance": variance,
                "loadavg_start": round(load0, 2),
                "loadavg_per_query": loads,
                "steal_per_query": steals,
                "steal_retried": retried,
                "sf": sf_val,
            }
        )
    )
    # … compact line LAST (VERDICT r10 #8): the driver keeps only the
    # LAST 2000 CHARS of stdout and parses the final line standalone.
    # The r14 attempt to carry ALL 34 variance triples + per-query
    # loadavg here overflowed that window — BENCH_r14.json came back
    # `parsed: null` with a front-truncated tail (VERDICT r14 #2). The
    # final line now carries exactly what the drift clause needs and
    # nothing more: gate_total, every per-query median (3 dp), variance
    # triples for the 9 control rows only (8 JVM gates + the Python-
    # boundary control), and loadavg as exceptions-only (queries whose
    # stamp exceeded 2.0) plus the max. The full 34-row triples/loadavg
    # live on the verbose first line for humans reading the log. A hard
    # assert pins the length; if the exception map ever balloons past
    # the budget, its coolest non-control entries are shed first so the
    # gate/control load stamps survive contended runs (ADVICE r15 #2).
    steal = cpu_steal_pct(steal0, cpu_steal_snapshot())
    line = final_line(
        results, variance, loads, gate_total, load0, sf_val, steal,
        steals=steals, n_retried=len(retried),
    )
    print(line)
    append_local_record(line)


def append_local_record(line: str) -> None:
    """Durability (VERDICT r15 #5): the driver keeps only the last 2000
    chars of stdout, so when bench runs at two SFs the earlier run's
    compact line is lost from BENCH_r{N}.json. Append every run's line
    to a committed artifact so both SF records survive. A read-only
    checkout must not fail the bench, so OSError is swallowed."""
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LOCAL.jsonl"), "a") as fh:
            fh.write(line + "\n")
    except OSError:
        pass


FINAL_LINE_BUDGET = 1800  # < the driver's 2000-char tail capture


def final_line(
    results: dict,
    variance: dict,
    loads: dict,
    gate_total: float,
    load0: float,
    sf_val,
    steal_pct: float | None = None,
    steals: dict | None = None,
    n_retried: int = 0,
) -> str:
    """Build the driver-parsed final line under the length budget.
    Split out of main() so tests/test_bench_contract.py can pin the
    contract (parseable, <= budget, control triples present) without
    spinning Spark — the r14 overflow shipped because nothing asserted
    the line's size before the driver truncated it."""
    ctl_variance = {
        k: v
        for k, v in variance.items()
        if k in BASELINE_QUERIES or k == PY_CONTROL
    }
    hot_loads = {k: v for k, v in loads.items() if v > 2.0}
    # r17: per-query steal, exceptions-only — queries whose KEPT attempt
    # still ran above the retry threshold (the full map is on the
    # verbose line). steal_retries counts bounded re-runs taken.
    hot_steal = {
        k: v for k, v in (steals or {}).items() if v > STEAL_RETRY_PCT
    }
    compact = {
        "metric": "baseline8_warm_median_total",
        "value": gate_total,
        "gate_total_s": gate_total,
        "unit": "sec",
        "stat": "warm_median",
        "loadavg_start": round(load0, 2),
        "loadavg_max": max(loads.values()) if loads else 0.0,
        "loadavg_hot": hot_loads,
        # hypervisor CPU-steal share of non-idle time across the whole
        # run (r16): >a few % means the host withheld cycles and
        # out-of-band rows are environment by measurement
        "steal_pct": steal_pct,
        "steal_hot": hot_steal,
        "steal_retries": n_retried,
        "sf": sf_val,
        "queries": {k: round(v, 3) for k, v in results.items()},
        "variance_ctl": {
            k: [round(x, 3) for x in v] for k, v in ctl_variance.items()
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    # Degrade path (ADVICE r15 #2): on exactly the contended runs where
    # load evidence matters most, dropping the WHOLE hot map would strip
    # every per-query stamp from the only line the driver keeps. Shed
    # the coolest non-control entries one at a time instead — control
    # rows (the 8 gates + the Python control) are kept longest, then if
    # still over budget the coolest control rows go too. loadavg_max
    # always survives, so "how contended" is never lost.
    if len(line) > FINAL_LINE_BUDGET:
        is_ctl = lambda k: k in BASELINE_QUERIES or k == PY_CONTROL  # noqa: E731
        # shed hot-load entries first (they are re-derivable from the
        # verbose line), then hot-steal entries — coolest non-control
        # first in both maps; run-level steal_pct always survives
        for key, hot in (("loadavg_hot", hot_loads), ("steal_hot", hot_steal)):
            shed_order = sorted(hot, key=lambda k: (is_ctl(k), hot[k]))
            for k in shed_order:
                if len(line) <= FINAL_LINE_BUDGET:
                    break
                compact[key].pop(k)
                line = json.dumps(compact, separators=(",", ":"))
        if len(line) > FINAL_LINE_BUDGET and not compact["loadavg_hot"]:
            # everything shed: drop the now-empty key too (the pre-r16
            # behavior), worth ~16 chars right at the budget edge
            compact.pop("loadavg_hot")
            line = json.dumps(compact, separators=(",", ":"))
        if len(line) > FINAL_LINE_BUDGET and not compact.get("steal_hot"):
            compact.pop("steal_hot", None)
            line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= FINAL_LINE_BUDGET, (
        f"final bench line {len(line)} chars > {FINAL_LINE_BUDGET} — would "
        "overflow the driver's 2000-char tail capture (VERDICT r14 #2); "
        "trim keys"
    )
    return line


if __name__ == "__main__":
    main()
