"""Streaming operators — SURVEY.md §2 J.

Reference analog: continuous slow-log tailing with periodic flush of
the per-minute aggregation map (main.go period loop [R:M]). Spark-
native: the SAME DataFrame transformations under ``readStream`` with
watermarks bounding state — batch/stream parity is by construction
(one query definition, two execution modes), and the tests assert it
(SURVEY.md §5.2 item 5).

Driver-contract note: these queries() entries run a real streaming
query to completion against the static testdata (memory sink,
availableNow/processAllAvailable) and return the materialized result.
For the deterministic ops the BATCH formulation of the same
transformation is declared as the DuckDB oracle (batch/stream parity
is by construction AND pytest-pinned, so the driver can hash-check
them); determinism holds because the whole static input is one
micro-batch (single parquet file under availableNow's default file
batching), so no window is dropped mid-stream by a watermark and
per-batch emission happens exactly once. Ops whose output depends on
runtime progress (rate source, progress metrics) stay rows-only.

100 TB notes: watermark delay bounds state size (|open windows| ×
|keys|); file-source streams partition per input file; complete-mode
memory sinks here are test scaffolding — production sinks are
foreachBatch → parquet/JDBC (sink_stream_foreachbatch).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from slowlog2clickhouse_spark.io import SCRATCH_ROOT
from slowlog2clickhouse_spark.registry import op

_counter = itertools.count()
_TMP = SCRATCH_ROOT + "/streaming"

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (op
    stream_file_source): declared schema (streams never infer), with the
    same ts repair as the batch loader — same downstream code.

    Two testdata vintages exist: parquet ``timestamp[ns]`` (surfaces as
    a nanosecond long under ``nanosAsLong``, repaired with integer
    ``div 1000``) and parquet ``timestamp[us]`` without tz metadata
    (surfaces as TIMESTAMP_NTZ, re-tagged to session-tz TimestampType —
    a no-op under the UTC session). Streams must declare their schema
    up front, so sniff the vintage from the parquet footer with a batch
    read first (footer-only, no data scan).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_batch = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    # streaming file sources take a directory; select just events.parquet
    reader = spark.readStream.option("pathGlobFilter", "events.parquet")
    if ts_batch == "bigint":
        raw = reader.schema(_events_raw_schema(T.LongType())).parquet(sf_dir)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_batch == "timestamp_ntz":
        raw = reader.schema(_events_raw_schema(T.TimestampNTZType())).parquet(sf_dir)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_batch == "timestamp":  # tz-annotated vintage: no repair needed
        return reader.schema(_events_raw_schema(T.TimestampType())).parquet(sf_dir)
    raise ValueError(f"unrecognized events.ts parquet vintage: {ts_batch!r}")


@contextlib.contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """Scope the RocksDB state-store provider to ONE query start.

    The provider class is a session conf read at query start — there is
    no per-query writeStream option for it — so the only way to use
    RocksDB for one op without leaking the choice into every later
    streaming op in the session (run-order dependence, the class of bug
    driver_sim --reverse exists to catch) is save/set/restore around
    the start (r8 ADVICE)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_to_memory(sdf: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink;
    returns the materialized result as a batch DataFrame."""
    name = f"stream_result_{next(_counter)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


@op(
    "stream_file_source",
    oracle="""
    SELECT event_id, event_type, value FROM events WHERE value > 100
    """,
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitor a directory/file for new data; project + filter on the
    stream (stateless — proves the source + schema path)."""
    s = read_events_stream(spark, sf_dir).where(F.col("value") > 100).select(
        "event_id", "event_type", "value"
    )
    return run_to_memory(s, "append")


def tumbling_agg(events: DataFrame, window: str = "1 minute") -> DataFrame:
    """THE reference aggregation as a stream: tumbling window per
    type/digest with watermark-bounded state ([go-mysql] aggregator
    period flush analog). Shared by batch-eq tests."""
    return (
        events.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("period_start"),
            "event_type",
            "n",
            "sum_value",
            "max_value",
        )
    )


@op(
    "stream_tumbling_agg",
    oracle="""
    SELECT date_trunc('minute', ts) AS period_start, event_type,
           count(*) AS n, round(sum(value), 4) AS sum_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation (1-minute windows) over
    the file-source stream — batch-equal by construction (shared
    tumbling_agg definition; tests/test_streaming.py pins it). The
    oracle IS that batch formulation: tumbling window.start ==
    date_trunc('minute')."""
    s = tumbling_agg(read_events_stream(spark, sf_dir))
    return run_to_memory(s, "complete")


@op(
    "stream_sliding_agg",
    oracle="""
    SELECT date_trunc('minute', ts) - k * INTERVAL '1 minute' AS w_start,
           event_type, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events, (SELECT unnest([0, 1, 2, 3, 4]) AS k) offs
    GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 5-minute window, 1-minute slide (each event lands in 5
    windows — state is 5× tumbling, still watermark-bounded). Oracle:
    minute-aligned windows mean each event belongs to exactly the five
    windows starting at floor(ts) − k minutes, k ∈ 0..4."""
    ev = read_events_stream(spark, sf_dir)
    s = (
        ev.withWatermark("ts", "5 minutes")
        .groupBy(
            F.window("ts", "5 minutes", "1 minute").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    return run_to_memory(s, "complete")


@op(
    "stream_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    g AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM o)
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id, count(*) AS n_events, round(sum(value), 4) AS total
    FROM g GROUP BY user_id, grp
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-ized activity per user (30-minute gap closes a session)
    — the genuinely stateful op; session merge is handled by the
    engine's session-window state store. Oracle = the classic
    gaps-and-islands formulation: a session breaks exactly when the
    inter-event gap reaches the 30-minute horizon (Spark merges windows
    on OVERLAP, i.e. next_ts − prev_ts < gap), and ends at
    last_event + gap."""
    ev = read_events_stream(spark, sf_dir)
    s = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )
    return run_to_memory(s, "complete")


@op(
    "stream_dedup_watermark",
    oracle="SELECT event_id, event_type, value FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop duplicate event ids within the watermark horizon —
    exactly-once-ish ingestion dedup with bounded state. The injected
    union doubles every row, dedup restores exactly the source
    (event_id is unique in the testdata), so the oracle is the plain
    projection."""
    ev = read_events_stream(spark, sf_dir)
    dup = ev.unionByName(ev)  # inject duplicates to make the op observable
    s = (
        dup.withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .select("event_id", "event_type", "value")
    )
    return run_to_memory(s, "append")


@op(
    "stream_late_data",
    oracle="""
    SELECT * FROM (VALUES
      (TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT)),
      (TIMESTAMP '2024-01-01 10:01:00', CAST(1 AS BIGINT)),
      (TIMESTAMP '2024-01-01 10:02:00', CAST(1 AS BIGINT))
    ) t(w_start, n)
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late/on-time split: two micro-batches — batch 2
    carries rows older than the advanced watermark; append-mode output
    contains only windows the watermark finalized, late rows beyond it
    are dropped. Deterministic: explicit two-phase processAllAvailable."""
    base = _TMP + f"/late_{next(_counter)}"
    shutil.rmtree(base, ignore_errors=True)
    src, out = f"{base}/src", f"{base}/sink"
    os.makedirs(src, exist_ok=True)

    on_time = spark.createDataFrame(
        [(i, f"2024-01-01 10:{m:02d}:00", "click", 1.0) for i, m in enumerate([0, 1, 2, 30])],
        "event_id long, ts_s string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    late = spark.createDataFrame(
        [(100, "2024-01-01 10:01:30", "click", 1.0),  # < watermark → dropped
         (101, "2024-01-01 10:29:00", "click", 1.0)],  # within delay → kept
        "event_id long, ts_s string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s"))

    on_time.select("event_id", "ts", "event_type", "value").coalesce(1).write.parquet(
        f"{src}/batch=1"
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(f"{src}/batch=*")
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{base}/ckpt")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()  # watermark now at 10:25 (10:30 - 5m)
    late.select("event_id", "ts", "event_type", "value").coalesce(1).write.parquet(
        f"{src}/batch=2"
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out)


@op(
    "sink_stream_foreachbatch",
    oracle="""
    SELECT date_trunc('hour', ts) AS period_start, event_type,
           count(*) AS n, round(sum(value), 4) AS sum_value,
           max(value) AS max_value, CAST(0 AS BIGINT) AS epoch
    FROM events GROUP BY 1, 2
    """,
)
def sink_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest → per-micro-batch parquet append via
    foreachBatch (the production sink shape: the same callback does
    JDBC/ClickHouse batched INSERTs — sinks/jdbc.py). One input file →
    one availableNow micro-batch → epoch 0 exactly once, so the sunk
    parquet equals the batch aggregate."""
    base = _TMP + f"/feb_{next(_counter)}"
    shutil.rmtree(base, ignore_errors=True)
    out = f"{base}/out"
    agg = tumbling_agg(read_events_stream(spark, sf_dir), window="1 hour")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def static_join_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Shared batch/stream definition: enrich events with the customer
    dimension (user_id = c_custkey) and count per (event_type,
    mktsegment). One definition, two execution modes — parity by
    construction."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("event_type", "segment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
    )


@op(
    "stream_static_join",
    oracle="""
    SELECT e.event_type, c.c_mktsegment AS segment,
           count(*) AS n, round(sum(e.value), 4) AS sv
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events source enriched against
    the static customer dim, then aggregated — the standard streaming
    enrichment shape (dim broadcast per micro-batch; at 100 TB the dim
    re-reads each trigger, so production snapshots it or uses a
    state-store-backed lookup; the plan here is the broadcast case)."""
    from slowlog2clickhouse_spark.io import load_table

    ev = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    return run_to_memory(static_join_enrich(ev, dim), "complete")


@op(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id AS v_user, v.event_id AS v_id, p.event_id AS p_id,
           v.ts AS v_ts, p.ts AS p_ts
    FROM events v JOIN events p
      ON v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range predicate: for
    each view, purchases by the same user within 1 hour after it.
    Both sides carry watermarks, so the join state store evicts rows
    older than (max event time − delay) — the bounded-state contract
    that makes stream-stream joins runnable forever. availableNow over
    the static file makes the result deterministic and batch-equal
    (pytest-pinned)."""
    src = read_events_stream(spark, sf_dir)
    views = (
        src.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"
        ),
    ).select("v_user", "v_id", "p_id", "v_ts", "p_ts")
    return run_to_memory(joined, "append")


# environment gate mirrored into the oracle: the op's `api` column
# reports which state API executed, and the oracle string is built by
# the same import-try in the same interpreter the query will run in.
# The gate attempts the SAME combined imports as the runtime branches
# (protobuf AND StatefulProcessor) so an environment where protobuf
# exists but the Spark-4 processor class doesn't still reports the
# fallback honestly (r8 ADVICE).
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
        StatefulProcessor as _sp_gate,
    )

    _TWS_API = "transformWithStateInPandas"
except ImportError:
    _TWS_API = "applyInPandasWithState-fallback"


@op(
    "stream_transform_with_state",
    oracle=f"""
    SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_value,
           '{_TWS_API}' AS api
    FROM events GROUP BY 1
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator targeting the NEW
    transformWithStateInPandas API (Spark 4): a StatefulProcessor with
    explicit ValueState keeps per-user running (count, sum) across
    micro-batches, on the RocksDB state store (the 100-TB answer for
    state larger than executor heap).

    ENVIRONMENT GATE (import-try, like the multimodal codecs): the new
    API's state server needs the python `google.protobuf` package,
    absent from this container — when the import fails, the SAME
    processor semantics run through applyInPandasWithState (the
    shipping API) and the `api` column says which path executed, so
    the driver row is green either way and the batch-equivalence
    pytest covers both. On a cluster with protobuf installed the new
    API path runs as written."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    try:
        from google.protobuf import descriptor  # noqa: F401 — state server dep

        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class RunningTotals(StatefulProcessor):
            def init(self, handle):
                self._state = handle.getValueState(
                    "totals",
                    T.StructType(
                        [
                            T.StructField("n", T.LongType()),
                            T.StructField("sv", T.DoubleType()),
                        ]
                    ),
                )

            def handleInputRows(self, key, rows, timerValues):
                n, sv = (
                    self._state.get() if self._state.exists() else (0, 0.0)
                )
                for pdf in rows:
                    n += len(pdf)
                    sv += float(pdf["value"].sum())
                self._state.update((n, sv))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n": [n], "sum_value": [sv]}
                )

            def close(self):
                pass

        result = ev.groupBy("user_id").transformWithStateInPandas(
            RunningTotals(), out_schema, "Update", "None"
        )
        api = "transformWithStateInPandas"
    except ImportError:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def totals(key, pdfs, state):
            n, sv = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                sv += float(pdf["value"].sum())
            state.update((n, sv))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "sum_value": [sv]}
            )

        result = ev.groupBy("user_id").applyInPandasWithState(
            totals,
            outputStructType=out_schema,
            stateStructType="n long, sv double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        api = "applyInPandasWithState-fallback"
    # RocksDB only for the Spark-4 API branch; conf scoped to this one
    # query start (no session leak). The api column reports the branch
    # that ACTUALLY ran — if it ever diverged from the module-level
    # _TWS_API the oracle would fail loudly instead of lying.
    if api == "transformWithStateInPandas":
        with _rocksdb_state_store(spark):
            out = run_to_memory(result, "update")
    else:
        out = run_to_memory(result, "update")
    # round the pandas-accumulated running sum to the testdata's own
    # 2-decimal precision so the row hashes against the batch oracle
    return out.withColumn("sum_value", F.round("sum_value", 4)).withColumn(
        "api", F.lit(api)
    )


@op(
    "stream_rate_source",
    # the generator is DETERMINISTIC (values 0,1,2,... at 1000/batch)
    # and the aggregate reads a FIXED prefix (value < 2000), so the
    # result is a VALUES literal — the stream_late_data pattern
    # (VERDICT r9 #6 upgraded this op from rows-only).
    oracle="""
    SELECT CAST(parity AS BIGINT) AS parity, CAST(n AS BIGINT) AS n
    FROM (VALUES (0, 1000), (1, 1000)) t(parity, n)
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `rate-micro-batch` synthetic source: a deterministic
    rows-per-batch generator — the load-driver for soak-testing
    streaming topologies before real data exists (the plain `rate`
    source has no backlog, so availableNow would pull zero rows).
    Values arrive as the sequence 0,1,2,... at 1000 rows/batch; the
    aggregate counts parities over the FIXED prefix value < 2000
    (2 batches' worth), so however many micro-batches the trigger
    fires, the converged complete-mode answer is exactly
    {0: 1000, 1: 1000} — proving trigger plumbing on a non-file
    source with a hash-verified literal oracle."""
    import time

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "1000")
        .option("numPartitions", "4")
        .load()
    )
    agg = (
        stream.where(F.col("value") < 2000)
        .groupBy((F.col("value") % 2).alias("parity"))
        .agg(F.count("*").alias("n"))
    )
    name = f"rate_result_{next(_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        # drain cadence, not deployment cadence (guide §1.2): the
        # generator needs >= 2 batches and the op polls until the fixed
        # prefix has arrived — a 1 s trigger + 0.5 s poll sleep was ~2 s
        # of pure scheduler wait for ~0.1 s of compute. 20 ms cadence
        # fires the same deterministic batches back-to-back.
        .trigger(processingTime="20 milliseconds")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline:
        got = spark.sql(f"SELECT sum(n) AS s FROM {name}").collect()[0]["s"]
        if got and got >= 2000:
            break
        time.sleep(0.05)
    q.stop()
    return spark.table(name)


@op(
    "stream_progress_metrics",
    # the deterministic subset of the progress surface IS
    # oracle-checkable (VERDICT r9 #6): one parquet file under
    # availableNow = one data micro-batch (batch_id 0) whose
    # numInputRows is the table count, and the complete-mode agg's
    # output rows = distinct (hour, event_type) groups. The
    # engine-internal state-row count is folded into a verdict
    # boolean (state rows == output groups for a complete-mode agg) —
    # the partial-oracle pattern.
    oracle="""
    SELECT CAST(0 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS input_rows,
           CAST(count(DISTINCT (date_trunc('hour', ts), event_type))
                AS BIGINT) AS out_rows,
           TRUE AS state_consistent
    FROM events
    """,
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: run a windowed aggregate to completion
    and surface the query-progress metrics (batch id, input rows,
    state rows) from `lastProgress` — what an operator actually
    watches in production (the Dropwizard/metrics-sink numbers, pulled
    through the same API). batch_id / input_rows / output groups are
    deterministic and hash-verified; the state-store row count is
    engine-internal, so it ships as the state_consistent verdict
    (state rows == output groups — true for any complete-mode agg,
    and a lying progress API fails the oracle loudly)."""
    agg = tumbling_agg(read_events_stream(spark, sf_dir), window="1 hour")
    name = f"progress_{next(_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = q.lastProgress or {}
    n_state = 0
    for so in prog.get("stateOperators") or []:
        n_state += so.get("numRowsTotal", 0) or 0
    out_rows = int(spark.table(name).count())
    row = (
        int(prog.get("batchId", -1)),
        int((prog.get("sources") or [{}])[0].get("numInputRows", 0) or 0),
        out_rows,
        int(n_state) == out_rows,
    )
    return spark.createDataFrame(
        [row],
        "batch_id long, input_rows long, out_rows long,"
        " state_consistent boolean",
    )


# ---------------------------------------------------------------------------
# Streaming near-dup dedup (round 6) — the ingest-time dedup stage of a
# training-data pipeline: documents ARRIVE as a stream and must be
# checked against the already-ingested corpus before they are admitted.
# ---------------------------------------------------------------------------


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file stream (schema sniffed from a
    footer-only batch read, same pattern as read_events_stream)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.option("pathGlobFilter", "documents.parquet")
        .schema(schema)
        .parquet(sf_dir)
    )


from slowlog2clickhouse_spark.operators.dedup import _MINHASH_BANDS_DUCK


@op(
    "stream_dedup_minhash",
    # batch-exact oracle: the stream halves the corpus by doc_id parity
    # (odd = arriving stream, even = already-ingested static index), so
    # DuckDB reproduces the survivor set from the shared md5-portable
    # band CTE — a doc survives iff NO band (position-aware struct)
    # collides with any static doc's band
    oracle=_MINHASH_BANDS_DUCK
    + """
    , sb AS (
      SELECT doc_id, unnest(bs) AS u FROM bands WHERE doc_id % 2 = 1),
    si AS (
      SELECT DISTINCT unnest(bs) AS u FROM bands WHERE doc_id % 2 = 0),
    clean AS (
      SELECT sb.doc_id FROM sb
      LEFT JOIN si ON sb.u = si.u
      WHERE si.u IS NULL)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_clean_bands
    FROM clean GROUP BY 1 HAVING count(*) = 4
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH dedup against the ingested corpus: the
    arriving documents stream (doc_id odd) computes its 4 band keys
    with the SAME portable signature chain as dedup_minhash, explodes
    to band rows, and a stream-static LEFT ANTI equi-join drops every
    band that collides with the static index (doc_id even, distinct
    (band, band_sig) — at 100 TB this index is the compact artifact a
    nightly job refreshes). A doc is admitted iff all 4 of its band
    rows survive (count == 4 under a complete-mode aggregate — no
    watermark needed: the state is |arriving docs| keys, bounded per
    ingest window).

    Scale: signature math is stateless per micro-batch; the only
    state is the admission count per in-flight doc; the static side is
    the deduplicated band index, not the corpus."""
    from slowlog2clickhouse_spark.io import load_table
    from slowlog2clickhouse_spark.operators.dedup import minhash_band_keys

    static_docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    static_idx = (
        minhash_band_keys(static_docs)
        .select(F.posexplode_outer("band_sigs").alias("band", "band_sig"))
        .distinct()
    )
    arriving = read_documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 2 == 1
    )
    return run_to_memory(
        build_stream_dedup_admission(arriving, static_idx), "complete"
    )


def build_stream_dedup_admission(
    arriving: DataFrame, static_idx: DataFrame
) -> DataFrame:
    """Band → anti-join → all-4-bands-clean admission over an arriving
    documents stream (extracted so the multi-micro-batch soak test in
    tests/test_streaming.py drives the identical pipeline)."""
    from slowlog2clickhouse_spark.operators.dedup import minhash_band_keys

    banded = minhash_band_keys(arriving).select(
        "doc_id", F.posexplode_outer("band_sigs").alias("band", "band_sig")
    )
    clean = banded.join(static_idx, ["band", "band_sig"], "left_anti")
    return (
        clean.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_clean_bands"))
        .where(F.col("n_clean_bands") == 4)
    )




@op(
    "stream_journey_state",
    # parity-split batch formulation (the stream_dedup_minhash
    # pattern): one availableNow micro-batch over the same file makes
    # the stateful stream's answer equal the batch journey op
    # row-for-row, so the batch SQL IS the oracle; the api column
    # mirrors the same import-try gate stream_transform_with_state
    # documents
    oracle=f"""
    WITH sym AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'signup' THEN 's' WHEN 'purchase' THEN 'p'
                  WHEN 'error' THEN 'e' ELSE 'x' END AS sym
      FROM events),
    ranked AS (
      SELECT user_id, sym,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rdesc,
             count(*) OVER (PARTITION BY user_id) AS n_total
      FROM sym),
    j AS (
      SELECT user_id,
             CAST(max(n_total) AS BIGINT) AS n_events,
             (max(n_total) > 10000) AS truncated,
             string_agg(CASE WHEN rdesc <= 10000 THEN sym END, ''
                        ORDER BY rdesc DESC) AS journey
      FROM ranked GROUP BY 1)
    SELECT user_id, n_events, truncated,
           CAST(len(regexp_extract_all(journey, 'vc+p')) AS BIGINT)
             AS n_conversions,
           CAST(len(regexp_extract_all(journey, 'ec*e')) AS BIGINT)
             AS n_error_loops,
           md5(journey) AS journey_md5,
           '{_TWS_API}' AS api
    FROM j
    """,
)
def stream_journey_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE-lite: the per-user journey tracker
    (events_journey_pattern) as a custom stateful operator — each
    micro-batch appends its users' new symbols to a ValueState
    carrying (total count, last-10k symbol tail) and re-emits the
    updated pattern metrics. This is the deployment shape of
    behavioral-pattern monitoring: conversions and rage-loops
    detected AS EVENTS ARRIVE, not in a nightly batch.

    State is BOUNDED BY CONSTRUCTION: 10k chars + one long per user
    (the same cap as the batch op, enforced on every update), on the
    RocksDB store when the Spark-4 transformWithStateInPandas API is
    available, else through applyInPandasWithState — same import-try
    gate and `api` honesty column as stream_transform_with_state.
    Within a batch, rows are sorted by (ts, event_id) before
    appending; across batches the append order is arrival order (the
    file stream delivers event-time-ordered files; a production
    deployment fronts this with a watermarked sort the way
    stream_late_data documents)."""
    ev = journey_symbols(read_events_stream(spark, sf_dir))
    result, api_used = build_journey_state_transform(ev)
    # api column reports the branch that ACTUALLY ran (r8 ADVICE); the
    # module gate attempts the same imports, so oracle parity holds —
    # and if they ever diverge the driver fails loudly, not silently.
    # RocksDB conf is query-scoped via save/restore (no session leak).
    if api_used == "transformWithStateInPandas":
        with _rocksdb_state_store(spark):
            out = run_to_memory(result, "update")
    else:
        out = run_to_memory(result, "update")
    return out.withColumn("api", F.lit(api_used))


def journey_symbols(events: DataFrame) -> DataFrame:
    """The journey symbol projection (shared with the soak test:
    tests/test_streaming.py drives the SAME transform over a
    rate-limited multi-micro-batch source)."""
    return events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "error", "e")
        .otherwise("x")
        .alias("sym"),
    )


def build_journey_state_transform(ev: DataFrame):
    """The stateful journey tracker over a symbol-projected stream —
    returns (streaming DataFrame, api_used). Extracted from
    stream_journey_state so the multi-micro-batch soak test exercises
    the identical state machinery."""
    import hashlib
    import re as _re

    import pandas as pd

    cap = 10000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("truncated", T.BooleanType()),
            T.StructField("n_conversions", T.LongType()),
            T.StructField("n_error_loops", T.LongType()),
            T.StructField("journey_md5", T.StringType()),
        ]
    )

    def _advance(n, tail, pdfs):
        # The state APIs deliver one key's micro-batch as ~10k-row Arrow
        # chunks in ARBITRARY shuffle order, so sorting each chunk alone
        # would interleave out-of-order symbol runs for any user larger
        # than one chunk (exactly the >cap regime the truncation path
        # targets). Global-sort the batch instead, memory-bounded: only
        # the cap largest (ts, event_id) rows can survive into the tail,
        # so keep a rolling cap-row buffer — O(cap + chunk) per step,
        # never O(whole batch).
        buf = None
        for pdf in pdfs:
            n += len(pdf)
            chunk = pdf[["ts", "event_id", "sym"]]
            buf = chunk if buf is None else pd.concat(
                [buf, chunk], ignore_index=True
            )
            buf = buf.sort_values(["ts", "event_id"]).tail(cap)
        if buf is not None:
            tail = (tail + "".join(buf["sym"]))[-cap:]
        return n, tail

    def _emit(key, n, tail):
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "truncated": [n > cap],
                "n_conversions": [len(_re.findall("vc+p", tail))],
                "n_error_loops": [len(_re.findall("ec*e", tail))],
                "journey_md5": [hashlib.md5(tail.encode()).hexdigest()],
            }
        )

    try:
        from google.protobuf import descriptor  # noqa: F401 — state server dep

        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class JourneyTracker(StatefulProcessor):
            def init(self, handle):
                self._state = handle.getValueState(
                    "journey",
                    T.StructType(
                        [
                            T.StructField("n", T.LongType()),
                            T.StructField("tail", T.StringType()),
                        ]
                    ),
                )

            def handleInputRows(self, key, rows, timerValues):
                n, tail = (
                    self._state.get() if self._state.exists() else (0, "")
                )
                n, tail = _advance(n, tail, rows)
                self._state.update((n, tail))
                yield _emit(key, n, tail)

            def close(self):
                pass

        result = ev.groupBy("user_id").transformWithStateInPandas(
            JourneyTracker(), out_schema, "Update", "None"
        )
        api_used = "transformWithStateInPandas"
    except ImportError:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def tracker(key, pdfs, state):
            n, tail = state.get if state.exists else (0, "")
            n, tail = _advance(n, tail, pdfs)
            state.update((n, tail))
            yield _emit(key, n, tail)

        result = ev.groupBy("user_id").applyInPandasWithState(
            tracker,
            outputStructType=out_schema,
            stateStructType="n long, tail string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        api_used = "applyInPandasWithState-fallback"
    return result, api_used
