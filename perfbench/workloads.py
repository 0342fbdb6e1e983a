"""The four workloads. Each drives the system only through its public
entry points: the CLI ``main([...])`` in-process, the ``plans`` /
``sources`` / ``streaming`` functions, and ``registry.all_ops()``.

A workload has three phases. ``setup`` starts the session and does the
one-time preparation, ``run`` repeats the workload's operation for the
measured seconds and checks every output, and ``trace`` (the separate
traced run) times each layer from outside and reads Spark's counters.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from datetime import datetime, timedelta, timezone

import duckdb

import checks
import gen
from probe import SqlMetrics, median, pick, progress_listener, quantile

# input sizes: chosen so one operation takes a few seconds on 4 cores
# and a run fits its time budget
INGEST_EVENTS = 12_000
WARMUP_EVENTS = 2_000
QAN_EVENTS = 8_000
QAN_DAYS = 3
QAN_MIN_VISITS = 2
# untimed visits (23 reads each) before timing starts: in a 60 s run on
# a 4-core VM, read latency fell for about the first 70 reads after
# set-up (JIT) and then held
QAN_WARMUP_VISITS = 3
QAN_TRACE_VISITS = 2
INGEST_WARMUP_OPS = 1
INGEST_MIN_OPS = 4
TAIL_BACKLOG_PER_FILE = 2_500
TAIL_TICK_PER_FILE = 10
TAIL_MIN_CYCLES = 2
TAIL_TICKS_PER_CYCLE = 2
TAIL_WARMUP_PER_FILE = 50
CURATE_DOCS = 4_000
CURATE_VECS = 1_500
CURATE_WARMUP_DOCS = 400
CURATE_LAYERS = (
    # registered op, the per-layer metric that times it
    ("llm_curation_funnel", "plans.llm_funnel.funnel_s"),
    ("corpus_curation", "operators.text.corpus_curation_s"),
    ("dedup_keep_best", "operators.dedup.keep_best_s"),
    ("vec_knn_topk", "operators.vector.knn_s"),
)

PER_LAYER = (
    # name, unit
    ("session.start_s", "s"),
    ("spark.python_worker_start_s", "s"),
    ("sources.slowlog.scan_s", "s"),
    ("sources.slowlog.parse_s", "s"),
    ("sources.slowlog.python_run_s", "s"),
    ("sources.slowlog.python_bytes_in", "bytes"),
    ("sources.slowlog.events_per_record", "ratio"),
    ("functions.fingerprint.chain_s", "s"),
    ("functions.fingerprint.routed_s", "s"),
    ("functions.fingerprint.udf_bytes_in", "bytes"),
    ("plans.pipeline.aggregate_s", "s"),
    ("plans.pipeline.agg_build_s", "s"),
    ("plans.pipeline.shuffle_bytes", "bytes"),
    ("plans.pipeline.spill_bytes", "bytes"),
    ("plans.pipeline.events_per_class", "ratio"),
    ("plans.pipeline.sink_s", "s"),
    ("plans.pipeline.sink_bytes", "bytes"),
    ("plans.pipeline.sink_files", "count"),
    ("cli.ingest_overhead_s", "s"),
    ("qan.top_digests_ms", "ms"),
    ("qan.sparkline_ms", "ms"),
    ("qan.filtered_top_ms", "ms"),
    ("qan.p95_dashboard_ms", "ms"),
    ("qan.files_read_per_query", "count"),
    ("qan.bytes_read_per_query", "bytes"),
    ("qan.rows_scanned_per_row_returned", "ratio"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.commit_s", "s"),
    ("streaming.query_overhead_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("sources.slowlog_datasource.drain_s", "s"),
    ("plans.llm_funnel.funnel_s", "s"),
    ("operators.text.corpus_curation_s", "s"),
    ("operators.dedup.keep_best_s", "s"),
    ("operators.vector.knn_s", "s"),
    ("operators.dedup.shuffle_bytes", "bytes"),
    ("trace.overhead_ms", "ms"),
)


class Run:
    """State of one benchmark run: paths, session, counters."""

    def __init__(self, root: str, seed: int, seconds: float, rss):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.rss = rss
        self.base = os.path.join(root, ".bench_build", "sparklog")
        self.cache = os.path.join(self.base, "cache")
        self.work = os.path.join(self.base, f"run-{os.getpid()}")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.layer: dict[str, float] = {}
        self._n = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def record(self, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(reason)

    def attempt(self, fn):
        """Run ``fn`` (returns a check reason or None); an exception is a
        failed operation, not a crashed run."""
        try:
            reason = fn()
        except Exception as exc:  # noqa: BLE001 - the benchmark counts failures
            reason = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"
        self.record(reason)
        return reason

    def close(self) -> None:
        self.con.close()
        shutil.rmtree(self.work, ignore_errors=True)


# ---------------------------------------------------------------------------
# session and set-up
# ---------------------------------------------------------------------------


def extra_conf(run: Run) -> dict[str, str]:
    """Keep every file Spark writes inside the checkout."""
    tmp = os.path.join(run.base, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.base, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.stream.error.file={run.base}/derby.log -Djava.io.tmpdir={tmp}"
        ),
    }


def start_session(run: Run) -> float:
    """Import the package, start the session (this launches the JVM)
    and run one JVM-only job. Returns seconds until that job finished."""
    t0 = time.perf_counter()
    from slowlog2clickhouse_spark.session import get_session

    run.spark = get_session(app_name="sparklog_bench", extra_conf=extra_conf(run))
    run.spark.range(64, numPartitions=4).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def start_python_workers(run: Run) -> float:
    """First Python-worker job of the session (worker daemon start)."""
    return timed(lambda: run.spark.range(64, numPartitions=4).mapInPandas(lambda it: it, "id long").count())


def cli(argv: list[str]) -> str:
    """Run the CLI in-process; return what it printed."""
    from slowlog2clickhouse_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"CLI {argv[0]} exited {rc}")
    return buf.getvalue()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def timed_median(fn, n: int = 3) -> float:
    return quantile([timed(fn) for _ in range(n)], 0.5)


def loop_until(deadline: float, min_iters: int, step) -> None:
    i = 0
    while i < min_iters or time.perf_counter() < deadline:
        step(i)
        i += 1


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest:
    name = "ingest"

    def __init__(self, run: Run):
        self.run = run
        self.log, info = gen.cached(
            run.cache, "fleet", run.seed, INGEST_EVENTS,
            lambda d: gen.slowlog_fleet(run.seed, INGEST_EVENTS, d),
        )
        self.truth = gen.Truth.from_json(info["truth"])
        self.n_events = info["n_events"]
        self.warm_log, info = gen.cached(
            run.cache, "fleet", run.seed, WARMUP_EVENTS,
            lambda d: gen.slowlog_fleet(run.seed, WARMUP_EVENTS, d),
        )
        self.warm_truth = gen.Truth.from_json(info["truth"])

    def prepare(self) -> None:
        pass

    def once(self, log: str | None = None) -> tuple[float, str]:
        out = self.run.fresh("ingest")
        wall = timed(lambda: cli(["ingest", "--log", log or self.log, "--out", out]))
        return wall, out

    def check(self, out: str, truth: gen.Truth | None = None) -> str | None:
        reason = checks.check_classes(checks.class_rows(self.run.con, out), truth or self.truth)
        shutil.rmtree(out, ignore_errors=True)
        return reason

    def measure(self) -> dict:
        run = self.run
        # warm-up: a small log first (cold start), then full-size ops
        # until the JIT has settled; checked, not timed
        run.attempt(lambda: self.check(self.once(self.warm_log)[1], self.warm_truth))
        for _ in range(INGEST_WARMUP_OPS):
            run.attempt(lambda: self.check(self.once()[1]))
        walls: list[float] = []

        def step(_):
            def op():
                wall, out = self.once()
                run.rss.sample()
                walls.append(wall)
                return self.check(out)

            run.attempt(op)

        loop_until(time.perf_counter() + run.seconds, INGEST_MIN_OPS, step)
        return {
            "throughput_per_s": self.n_events / quantile(walls, 0.5),
            "op_p50_ms": 1e3 * quantile(walls, 0.5),
            "op_p90_ms": 1e3 * quantile(walls, 0.9),
            "samples": len(walls),
            "label": ("ingest_events_per_s", self.n_events / quantile(walls, 0.5), "1/s"),
        }

    def trace(self, layer: dict) -> None:
        from slowlog2clickhouse_spark.plans.pipeline import aggregate_classes, sink_classes_parquet
        from slowlog2clickhouse_spark.sources.slowlog import (
            parse_slowlog,
            read_slowlog_records,
            with_fingerprint,
        )

        run, spark, log = self.run, self.run.spark, self.log
        sql = SqlMetrics(spark)
        self.check(self.once(self.warm_log)[1], self.warm_truth)
        for _ in range(INGEST_WARMUP_OPS):
            self.check(self.once()[1])
        # prefixes of the public pipeline, each forced to a noop sink;
        # a layer's time is the difference between successive prefixes
        def parsed():
            return parse_slowlog(spark, log)

        def aggregated():
            return aggregate_classes(with_fingerprint(parsed(), "chain"))

        t_scan = timed_median(lambda: noop(read_slowlog_records(spark, log)))
        m1 = sql.mark()
        t_parse = timed_median(lambda: noop(parsed()))
        parse_m = sql.since(m1)
        t_chain = timed_median(lambda: noop(with_fingerprint(parsed(), "chain")))
        m2 = sql.mark()
        t_agg = timed_median(lambda: noop(aggregated()))
        agg_m = sql.since(m2)
        m3 = sql.mark()
        sinks = [run.fresh("sink") for _ in range(3)]
        t_sink = quantile([timed(lambda: sink_classes_parquet(aggregated(), out)) for out in sinks], 0.5)
        sink_m = sql.since(m3)
        out = sinks[0]
        t_untraced, out0 = self.once()
        run.record(self.check(out0))
        m4 = sql.mark()
        out2 = run.fresh("ingest")
        t_traced = timed(lambda: (cli(["ingest", "--log", log, "--out", out2]), sql.since(m4)))
        run.record(self.check(out2))
        n_records = spark.read.option("lineSep", "\n# Time: ").text(log).count()
        n_rows = run.con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()[0]
        layer.update(
            {
                "sources.slowlog.scan_s": t_scan,
                "sources.slowlog.parse_s": t_parse - t_scan,
                "sources.slowlog.python_run_s": pick(parse_m, "MapInPandas", "time to run Python workers") / 3,
                "sources.slowlog.python_bytes_in": pick(parse_m, "MapInPandas", "data sent to Python workers") / 3,
                "sources.slowlog.events_per_record": self.n_events / max(1, n_records),
                "functions.fingerprint.chain_s": t_chain - t_parse,
                "plans.pipeline.aggregate_s": t_agg - t_chain,
                "plans.pipeline.agg_build_s": pick(agg_m, None, "time in aggregation build") / 3,
                "plans.pipeline.shuffle_bytes": pick(agg_m, "Exchange", "shuffle bytes written") / 3,
                "plans.pipeline.spill_bytes": pick(agg_m, None, "spill size") / 3,
                "plans.pipeline.events_per_class": self.n_events / max(1, n_rows),
                "plans.pipeline.sink_s": t_sink - t_agg,
                "plans.pipeline.sink_bytes": pick(sink_m, None, "written output") / 3,
                "plans.pipeline.sink_files": pick(sink_m, None, "number of written files") / 3,
                "cli.ingest_overhead_s": t_untraced - t_sink,
                "trace.overhead_ms": 1e3 * (t_traced - t_untraced),
            }
        )
        for d in sinks:
            shutil.rmtree(d, ignore_errors=True)
        # the streaming layers have no gated workload of their own (see
        # README.md); they are measured here, on the tail fleet
        tail = Tail(run)
        tail.prepare()
        tail.layers(layer)


# ---------------------------------------------------------------------------
# qan
# ---------------------------------------------------------------------------


QAN_KINDS = ("top_digests", "sparkline", "filtered_top", "p95_dashboard")
# One visit reads the QAN pages as SURVEY.md describes them (the data
# flow in section 2, rows qan_sparkline, slowlog_top_digests and
# qan_overview): the landing page is a top-10 digests query plus one
# sparkline per listed digest; filtering by one of db/user/host repeats
# that for the filtered top 10; the percentile dashboard is one query.
# Assumed, not taken from measured traffic: a visit opens each page once
# over one time window, and the windows are the time-picker ranges
# "last 6/12/24 hours, 2 days" that fit the 3-day table. Windows and
# filters come in shuffled blocks, so every four visits use each window
# once and each filter twice.
QAN_WINDOWS_H = (6, 12, 24, 48)
# Filter dimensions. Not host: over 24 hosts a per-host top 10 held
# fewer than 10 digests in about a quarter of the windows, which would
# vary the number of reads per visit and with it the read mix.
QAN_FILTERS = {"db": gen.DBS, "user": gen.USERS}


class Qan:
    name = "qan"

    def __init__(self, run: Run):
        self.run = run
        self.log, info = gen.cached(
            run.cache, "qanlog", run.seed, QAN_EVENTS,
            lambda d: gen.slowlog_fleet(
                run.seed, QAN_EVENTS, d, n_templates=400, n_hosts=24,
                span_minutes=QAN_DAYS * 1440,
            ),
        )
        self.truth = gen.Truth.from_json(info["truth"])
        self.classes = os.path.join(run.work, "qan_classes")
        self.start = datetime.fromtimestamp(gen.BASE_EPOCH, tz=timezone.utc).replace(tzinfo=None)

    def prepare(self) -> None:
        """The one-time class table, written through the same sink the
        ingest path uses."""
        from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog, sink_classes_parquet

        sink_classes_parquet(ingest_slowlog(self.run.spark, self.log), self.classes)

    def after_prepare(self) -> str | None:
        con = self.run.con
        reason = checks.check_classes(checks.class_rows(con, self.classes), self.truth)
        con.execute(
            "CREATE OR REPLACE VIEW classes AS SELECT * FROM "
            f"read_parquet('{self.classes}/**/*.parquet', hive_partitioning = true)"
        )
        return reason

    def visits(self, rng: random.Random):
        """Endless seeded stream of visit parameters."""
        hours = QAN_DAYS * 24
        while True:
            windows = list(QAN_WINDOWS_H)
            rng.shuffle(windows)
            dims = sorted(QAN_FILTERS) * (len(windows) // len(QAN_FILTERS))
            rng.shuffle(dims)
            for span, dim in zip(windows, dims):
                h0 = rng.randrange(hours - span + 1)
                yield {
                    "t0": self.start + timedelta(hours=h0),
                    "t1": self.start + timedelta(hours=h0 + span),
                    "dim": dim,
                    "value": rng.choice(QAN_FILTERS[dim]),
                }

    def visit(self, p: dict, out: list) -> None:
        """Issue one visit's reads in page order; append (kind, params,
        seconds, columns, rows) per read to ``out``."""
        for top in ("top_digests", "filtered_top"):
            wall, cols, rows = self.one(top, p)
            out.append((top, p, wall, cols, rows))
            for row in rows:
                q = dict(p, digest=row[cols.index("digest")], filtered=top == "filtered_top")
                out.append(("sparkline", q, *self.one("sparkline", q)))
        out.append(("p95_dashboard", p, *self.one("p95_dashboard", p)))

    def spark_query(self, kind: str, p: dict):
        from pyspark.sql import functions as F

        from slowlog2clickhouse_spark.plans.pipeline import top_digests

        c = self.run.spark.read.parquet(self.classes).where(
            (F.col("period_date") >= F.lit(p["t0"].date()))
            & (F.col("period_date") <= F.lit((p["t1"] - timedelta(microseconds=1)).date()))
            & (F.col("period_start") >= F.lit(p["t0"]))
            & (F.col("period_start") < F.lit(p["t1"]))
        )
        dim = F.col(p["dim"]) == p["value"]
        if kind == "top_digests":
            return top_digests(c, k=10)
        if kind == "filtered_top":
            return top_digests(c.where(dim), k=10)
        if kind == "sparkline":
            return (
                c.where((F.col("digest") == p["digest"]) & (dim if p.get("filtered") else F.lit(True)))
                .groupBy(F.date_trunc("hour", "period_start").alias("bucket"))
                .agg(
                    F.sum("num_queries").alias("n"),
                    F.sum("m_query_time_sum").alias("qt"),
                    F.max("m_query_time_p95").alias("p95"),
                )
                .orderBy("bucket")
            )
        return (
            c.groupBy("digest")
            .agg(
                F.max("m_query_time_p95").alias("p95"),
                F.sum("num_queries").alias("n"),
                F.min("fingerprint").alias("fingerprint"),
            )
            .orderBy(F.col("p95").desc(), F.col("digest"))
            .limit(20)
        )

    @staticmethod
    def duck_sql(kind: str, p: dict) -> str:
        t0, t1 = p["t0"].isoformat(sep=" "), p["t1"].isoformat(sep=" ")
        where = f"period_start >= TIMESTAMP '{t0}' AND period_start < TIMESTAMP '{t1}'"
        top = (
            "SELECT digest, min(fingerprint) AS fingerprint, sum(num_queries) AS total_queries,"
            " sum(m_query_time_sum) AS total_query_time, max(m_query_time_max) AS worst_query_time"
            " FROM classes WHERE {w} GROUP BY digest"
            " ORDER BY total_query_time DESC NULLS LAST, digest LIMIT 10"
        )
        dim = f"\"{p['dim']}\" = '{p['value']}'"
        if kind == "top_digests":
            return top.format(w=where)
        if kind == "filtered_top":
            return top.format(w=f"{where} AND {dim}")
        if kind == "sparkline":
            if p.get("filtered"):
                where = f"{where} AND {dim}"
            return (
                "SELECT date_trunc('hour', period_start) AS bucket, sum(num_queries) AS n,"
                " sum(m_query_time_sum) AS qt, max(m_query_time_p95) AS p95"
                f" FROM classes WHERE {where} AND digest = '{p['digest']}' GROUP BY 1 ORDER BY 1"
            )
        return (
            "SELECT digest, max(m_query_time_p95) AS p95, sum(num_queries) AS n,"
            f" min(fingerprint) AS fingerprint FROM classes WHERE {where}"
            " GROUP BY digest ORDER BY p95 DESC, digest LIMIT 20"
        )

    def check(self, kind: str, p: dict, cols, rows) -> str | None:
        want_cols, want_rows = checks.duck(self.run.con, self.duck_sql(kind, p))
        reason = checks.same_rows(cols, rows, want_cols, want_rows, ordered=True)
        return None if reason is None else f"{kind}: {reason}"

    def one(self, kind: str, p: dict) -> tuple[float, list[str], list[tuple]]:
        t = time.perf_counter()
        df = self.spark_query(kind, p)
        rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t, df.columns, rows

    def warm_up(self, stream) -> None:
        for _ in range(QAN_WARMUP_VISITS):
            self.visit(next(stream), [])

    def measure(self) -> dict:
        run = self.run
        self.warm_up(self.visits(random.Random(run.seed * 7919 + 3)))
        stream = self.visits(random.Random(run.seed * 7919 + 1))
        done: list[list[tuple]] = []  # the reads of each visit

        def step(_):
            done.append([])
            try:
                self.visit(next(stream), done[-1])
            except Exception as exc:  # noqa: BLE001 - a failed read counts, the loop goes on
                run.record(f"visit: {type(exc).__name__}")
            run.rss.sample()

        # whole visits only, so every run measures the same page mix
        loop_until(time.perf_counter() + run.seconds, QAN_MIN_VISITS, step)
        # answers are checked after the timed loop, so DuckDB never
        # competes with the query under test
        for kind, p, _, cols, rows in (d for v in done for d in v):
            run.attempt(lambda: self.check(kind, p, cols, rows))
        # each figure is taken per visit and the run reports the median
        # over its visits: a burst of load from outside the program that
        # slows one visit then moves the run's figure little
        lat = [[d[2] for d in v] for v in done if v]
        p50 = 1e3 * median([quantile(v, 0.5) for v in lat])
        p90 = 1e3 * median([quantile(v, 0.9) for v in lat])
        return {
            "throughput_per_s": median([len(v) / sum(v) for v in lat]),
            "op_p50_ms": p50,
            "op_p90_ms": p90,
            "samples": sum(len(v) for v in lat),
            "label": ("qan_p50_ms", p50, "ms"),
            "label2": ("qan_p90_ms", p90, "ms"),
        }

    def trace(self, layer: dict) -> None:
        run = self.run
        stream = self.visits(random.Random(run.seed * 7919 + 2))
        self.warm_up(stream)
        sql = SqlMetrics(run.spark)
        per: dict[str, list[float]] = {k: [] for k in QAN_KINDS}
        files = bytes_read = scanned = returned = 0.0
        overhead = []
        for _ in range(QAN_TRACE_VISITS):
            # the same visit untraced, then traced
            p, reads = next(stream), []
            untraced = timed(lambda: self.visit(p, []))
            m = sql.mark()
            t = time.perf_counter()
            self.visit(p, reads)
            got = sql.since(m)  # the tracing work: harvesting the visit's counters
            overhead.append((time.perf_counter() - t - untraced) / len(reads))
            for kind, q, wall, cols, rows in reads:
                run.record(self.check(kind, q, cols, rows))
                per[kind].append(wall)
                returned += len(rows)
            files += pick(got, "Scan parquet", "number of files read")
            bytes_read += pick(got, "Scan parquet", "size of files read")
            scanned += pick(got, "Scan parquet", "number of output rows")
        n = sum(len(v) for v in per.values())
        layer.update({f"qan.{k}_ms": 1e3 * quantile(v, 0.5) for k, v in per.items()})
        layer.update(
            {
                "qan.files_read_per_query": files / n,
                "qan.bytes_read_per_query": bytes_read / n,
                "qan.rows_scanned_per_row_returned": scanned / max(1.0, returned),
                "trace.overhead_ms": 1e3 * quantile(overhead, 0.5),
            }
        )
        # the curation layers have no gated workload of their own (see
        # README.md); they are measured here, over the curate corpus
        cur = Curate(run)
        cur.after_prepare()
        cur.layers(layer)


# ---------------------------------------------------------------------------
# tail
# ---------------------------------------------------------------------------


class Tail:
    name = "tail"

    def __init__(self, run: Run):
        self.run = run

    def prepare(self) -> None:
        from slowlog2clickhouse_spark.sources.slowlog_datasource import register

        register(self.run.spark)

    def drain(self, fleet: gen.TailFleet, out: str, ckpt: str) -> float:
        return timed(lambda: cli(["tail", "--log", fleet.dir, "--out", out, "--checkpoint", ckpt]))

    def check(self, fleet: gen.TailFleet, out: str) -> str | None:
        truth = fleet.visible()
        rows = checks.class_rows(self.run.con, out)
        n_rows = self.run.con.execute(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
        return checks.check_classes(rows, truth, rounded_rows=n_rows)

    def cycle(self, backlog: list[float], ticks: list[float], per_file: int, min_ticks: int,
              deadline: float = 0.0) -> int:
        """Fresh fleet and checkpoint: drain a backlog of ``per_file``
        records per file, then append-and-drain rounds on the same
        checkpoint until ``deadline`` (at least ``min_ticks``). Returns
        the backlog event count."""
        run = self.run
        fleet = gen.TailFleet(run.seed, run.fresh("fleet"))
        n_backlog = fleet.append(per_file)
        out, ckpt = run.fresh("tail_out"), run.fresh("tail_ckpt")

        def first():
            backlog.append(self.drain(fleet, out, ckpt))
            run.rss.sample()
            return self.check(fleet, out)

        run.attempt(first)

        def tick(_):
            fleet.append(TAIL_TICK_PER_FILE)

            def op():
                ticks.append(self.drain(fleet, out, ckpt))
                run.rss.sample()
                return self.check(fleet, out)

            run.attempt(op)

        loop_until(deadline, min_ticks, tick)
        for d in (fleet.dir, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        return n_backlog

    def measure(self) -> dict:
        # warm-up on a small fleet: the first drains are much slower
        self.cycle([], [], TAIL_WARMUP_PER_FILE, 1)
        backlog: list[float] = []
        ticks: list[float] = []
        n = [0]

        def step(_):
            n[0] = self.cycle(backlog, ticks, TAIL_BACKLOG_PER_FILE, TAIL_TICKS_PER_CYCLE)

        loop_until(time.perf_counter() + self.run.seconds, TAIL_MIN_CYCLES, step)
        rate = n[0] / quantile(backlog, 0.5)
        return {
            "throughput_per_s": rate,
            "op_p50_ms": 1e3 * quantile(ticks, 0.5),
            "op_p90_ms": 1e3 * quantile(ticks, 0.9),
            "samples": len(ticks),
            "label": ("tail_events_per_s", rate, "1/s"),
            "label2": ("tail_tick_p50_s", quantile(ticks, 0.5), "s"),
        }

    def trace(self, layer: dict) -> None:
        layer["trace.overhead_ms"] = self.layers(layer)

    def layers(self, layer: dict) -> float:
        """Fill the streaming layers; return the tracing overhead per
        incremental drain in ms."""
        from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog, with_fingerprint

        run, spark = self.run, self.run.spark
        self.cycle([], [], TAIL_WARMUP_PER_FILE, 1)
        sql = SqlMetrics(spark)
        lst, events = progress_listener(spark)
        fleet = gen.TailFleet(run.seed, run.fresh("fleet"))
        fleet.append(TAIL_BACKLOG_PER_FILE)
        out, ckpt = run.fresh("tail_out"), run.fresh("tail_ckpt")
        traced = [self.drain(fleet, out, ckpt)]
        run.record(self.check(fleet, out))
        # ticks on the same checkpoint run untraced, traced, traced,
        # untraced: drains still speed up from one to the next, and a
        # steady drift cancels between the two means
        untraced, on = [], True
        for want in (False, True, True, False):
            time.sleep(0.5)  # progress events arrive asynchronously
            if want != on:
                (spark.streams.addListener if want else spark.streams.removeListener)(lst)
                on = want
            fleet.append(TAIL_TICK_PER_FILE)
            (traced if want else untraced).append(self.drain(fleet, out, ckpt))
            run.record(self.check(fleet, out))
        drains = len(traced)

        def dur(key):
            """Seconds per traced drain spent in one progress-report phase."""
            return sum(e.get("durationMs", {}).get(key, 0) for e in events) / 1e3 / drains

        state = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
        # the fleet datasource alone, drained to a noop sink
        fleet = gen.TailFleet(run.seed, run.fresh("fleet"))
        fleet.append(TAIL_BACKLOG_PER_FILE)
        ckpt = run.fresh("noop_ckpt")
        q = (
            spark.readStream.format("slowlog_tail_multi").option("path", fleet.dir).load()
            .writeStream.format("noop").option("checkpointLocation", ckpt).trigger(availableNow=True)
        )
        drain_s = timed(lambda: q.start().awaitTermination())
        # routed fingerprint cost over the same bytes, as batch prefixes
        t_parse = timed(lambda: noop(parse_slowlog(spark, fleet.dir)))
        m = sql.mark()
        t_routed = timed(lambda: noop(with_fingerprint(parse_slowlog(spark, fleet.dir), "routed")))
        routed_m = sql.since(m)
        layer.update(
            {
                "streaming.add_batch_s": dur("addBatch"),
                "streaming.planning_s": dur("queryPlanning"),
                "streaming.latest_offset_ms": 1e3 * dur("latestOffset"),
                "streaming.commit_s": dur("walCommit") + dur("commitOffsets"),
                "streaming.query_overhead_s": sum(traced) / drains - dur("triggerExecution"),
                "streaming.state_rows": float(state[-1].get("numRowsTotal", 0)) if state else 0.0,
                "streaming.state_memory_bytes": float(state[-1].get("memoryUsedBytes", 0)) if state else 0.0,
                "sources.slowlog_datasource.drain_s": drain_s,
                "functions.fingerprint.routed_s": t_routed - t_parse,
                "functions.fingerprint.udf_bytes_in": pick(routed_m, "ArrowEvalPython", "data sent to Python workers"),
            }
        )
        return 1e3 * (sum(traced[1:]) - sum(untraced)) / len(untraced)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate:
    name = "curate"

    def __init__(self, run: Run):
        self.run = run
        self.data, _ = gen.cached(
            run.cache, "corpus", run.seed, CURATE_DOCS,
            lambda d: gen.corpus(run.seed, CURATE_DOCS, CURATE_VECS, d),
        )
        self.warm_data, _ = gen.cached(
            run.cache, "corpus", run.seed, CURATE_WARMUP_DOCS,
            lambda d: gen.corpus(run.seed, CURATE_WARMUP_DOCS, CURATE_WARMUP_DOCS, d),
        )

    def prepare(self) -> None:
        pass

    def after_prepare(self) -> str | None:
        """Oracle answers, computed once per run (the input is fixed)."""
        from slowlog2clickhouse_spark.registry import all_ops

        con, ops = self.run.con, all_ops()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        self.want = {k: checks.duck(con, ops[k].oracle) for k in (
            "corpus_curation", "llm_curation_funnel", "dedup_keep_best", "vec_knn_topk")}
        return None

    def parquet(self, path: str):
        return checks.duck(self.run.con, f"SELECT * FROM read_parquet('{path}/*.parquet')")

    def round(self, data: str | None = None) -> tuple[float, list]:
        """curate CLI + dedup CLI + k-NN op; returns wall and outputs."""
        from slowlog2clickhouse_spark.registry import all_ops

        run, data = self.run, data or self.data
        cur, ded = run.fresh("curate"), run.fresh("dedup")
        t = time.perf_counter()
        text = cli(["curate", "--data-dir", data, "--out", cur])
        cli(["dedup", "--data-dir", data, "--out", ded, "--method", "keep_best"])
        knn = all_ops()["vec_knn_topk"].fn(run.spark, data)
        knn_rows = [tuple(r) for r in knn.collect()]
        wall = time.perf_counter() - t
        run.rss.sample()
        return wall, [text, cur, ded, (knn.columns, knn_rows)]

    def check(self, outs: list) -> str | None:
        text, cur, ded, knn = outs
        w = self.want
        funnel = checks.parse_funnel(text)
        got = {
            "corpus_curation": self.parquet(cur),
            "llm_curation_funnel": (["stage", "n"], funnel),
            "dedup_keep_best": self.parquet(ded),
            "vec_knn_topk": knn,
        }
        shutil.rmtree(cur, ignore_errors=True)
        shutil.rmtree(ded, ignore_errors=True)
        for k, (cols, rows) in got.items():
            reason = checks.same_rows(cols, rows, *w[k])
            if reason is not None:
                return f"{k}: {reason}"
        return None

    def measure(self) -> dict:
        run = self.run
        self.round(self.warm_data)  # warm-up on a small corpus: same plans
        walls: list[float] = []

        def step(_):
            def op():
                wall, outs = self.round()
                walls.append(wall)
                return self.check(outs)

            run.attempt(op)

        loop_until(time.perf_counter() + run.seconds, 2, step)
        return {
            "throughput_per_s": CURATE_DOCS / quantile(walls, 0.5),
            "op_p50_ms": 1e3 * quantile(walls, 0.5),
            "op_p90_ms": 1e3 * quantile(walls, 0.9),
            "samples": len(walls),
            "label": ("curate_docs_per_s", CURATE_DOCS / quantile(walls, 0.5), "1/s"),
        }

    def trace(self, layer: dict) -> None:
        run = self.run
        self.round(self.warm_data)
        untraced, outs = self.round()
        run.record(self.check(outs))
        sql = SqlMetrics(run.spark)
        m = sql.mark()
        t = time.perf_counter()
        _, outs = self.round()
        sql.since(m)  # the tracing work: harvesting the round's counters
        layer["trace.overhead_ms"] = 1e3 * (time.perf_counter() - t - untraced)
        run.record(self.check(outs))
        self.layers(layer)

    def layers(self, layer: dict) -> None:
        """Time each curation op over the corpus after one call on the
        small corpus, and check each result against its oracle."""
        from slowlog2clickhouse_spark.registry import all_ops

        run, spark, ops = self.run, self.run.spark, all_ops()
        sql = SqlMetrics(spark)
        for op, key in CURATE_LAYERS:
            ops[op].fn(spark, self.warm_data).collect()
            m = sql.mark()
            t = time.perf_counter()
            df = ops[op].fn(spark, self.data)
            rows = [tuple(r) for r in df.collect()]
            layer[key] = time.perf_counter() - t
            if op == "dedup_keep_best":
                layer["operators.dedup.shuffle_bytes"] = pick(sql.since(m), "Exchange", "shuffle bytes written")
            reason = checks.same_rows(df.columns, rows, *self.want[op])
            run.record(None if reason is None else f"{op}: {reason}")


WORKLOADS = {w.name: w for w in (Ingest, Qan, Tail, Curate)}
