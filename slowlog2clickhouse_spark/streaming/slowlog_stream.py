"""Streaming slow-log ingest — the reference's tailing mode.

The PMM-agent behavior (continuous slow-log tail → periodic class
flush, SURVEY.md §2 A8/J [R:L]) as Structured Streaming: the SAME
parse + fingerprint + class-agg code as plans/pipeline.py, fed by
``readStream.text`` with the record delimiter — one pipeline
definition, batch and streaming execution.

Scale: each new log file becomes input splits at record boundaries;
watermark bounds the per-(digest, minute) state; the production sink
is foreachBatch → partitioned parquet / ClickHouse JDBC.
"""

from __future__ import annotations

import itertools
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.registry import op
from slowlog2clickhouse_spark.sources.slowlog import (
    EVENT_SCHEMA,
    RECORD_DELIM,
    parse_record,
)

_counter = itertools.count()

# Trigger cadence for the DRAIN-shaped tail ops below (guide §1.2/§2.6:
# scheduler dead time, not computation). These ops deterministically
# write → drain → grow → drain inside one call, and with a
# ProcessingTimeTrigger each processAllAvailable() pays up to one full
# trigger interval of pure sleep AFTER its last data batch before the
# empty tick that signals no-new-data (plus one interval per offset
# increment the poll discovers late). The old 500 ms / 1 s cadences cost
# ~1-2 s of wall-clock sleep per op at zero compute. A live deployment
# tails at human cadence (`tail --follow` triggers every 5 s); the
# in-process drain dance wants the poll as cheap as it is:
# latestOffset() is one os.stat per unchanged file.
TAIL_DRAIN_TRIGGER = "20 milliseconds"

# header-only sentinel: appending it flushes a file's last real record
# out of torn-tail hold-back (it itself carries no statement and is
# filtered by the `query IS NOT NULL` class predicate); shared by every
# tail op so the hold-back boundary and this literal can never drift
# apart (r14 fourth-review find)
_SENTINEL = (
    "\n# Time: 2030-01-01T00:00:00.000000Z\n"
    "# Query_time: 0.000001  Lock_time: 0.000000 "
    "Rows_sent: 0  Rows_examined: 0\n"
)


def _fixture_cuts(txt: str, n: int) -> list:
    """Byte offsets splitting the fixture at record boundaries into n
    contiguous segments (the rotation/fleet split every tail op uses)."""
    import re

    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    cuts = [starts[(len(starts) * i) // n] for i in range(1, n)]
    return [0] + cuts + [len(txt)]


# golden IR path recomputed here (importing operators.slowlog_ops at
# module scope would re-enter the operators package mid-registration)
_GOLD = "read_parquet('{}')".format(
    _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
        "tests", "fixtures", "golden", "slowlog_small_events.parquet",
    )
)

# the batch formulation of stream_classes over the golden IR — shared
# by the stream_slowlog_classes and stream_slowlog_to_jdbc oracles
_STREAM_CLASSES_SQL = f"""
    SELECT date_trunc('minute', ts) AS period_start, digest,
           count(*) AS num_queries,
           round(sum(query_time), 6) AS m_query_time_sum,
           max(query_time) AS m_query_time_max,
           min(fingerprint) AS fingerprint
    FROM {_GOLD}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1, 2
"""

# the tail ops' oracle: the batch class aggregation over the golden IR
# (the tailed events must be EXACTLY the fixture's events)
_TAIL_CLASSES_SQL = f"""
    SELECT digest, count(*) AS num_queries,
           round(sum(query_time), 6) AS qt_sum
    FROM {_GOLD}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
"""


def _tail_classes(events: DataFrame) -> DataFrame:
    """The tail ops' answer: per-digest count and total query time,
    keyed on the digest the parser attached to each event."""
    ev = events.where(~F.col("admin") & F.col("query").isNotNull())
    return ev.groupBy("digest").agg(
        F.count("*").alias("num_queries"),
        F.round(F.sum("query_time"), 6).alias("qt_sum"),
    )


def read_slowlog_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming variant of sources.slowlog.read_slowlog_records.

    Streaming file sources require a DIRECTORY; a single-file path is
    split into (dir, pathGlobFilter). ``max_files_per_trigger`` caps
    files per micro-batch (the rotated-log drain shape: one batch per
    rotation segment)."""
    import os

    import pandas as pd

    directory, glob = (path, "*") if os.path.isdir(path) else os.path.split(path)
    reader = spark.readStream.option("lineSep", RECORD_DELIM).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(directory)
    # UTF-8 sanitize before the Arrow boundary (see sources/slowlog.py)
    raw = raw.withColumn("value", F.decode(F.encode("value", "UTF-8"), "UTF-8"))

    def chunk(batches):
        for pdf in batches:
            # record_no stays NULL on the streaming path: a per-batch
            # enumerate collides across micro-batches, and there is no
            # stable global ordinal for an unbounded tail — downstream
            # streaming aggs never key or tiebreak on it
            rows = [
                ev
                for r in pdf["value"]
                if r.strip() and (ev := parse_record(r)) is not None
            ]
            out = pd.DataFrame(rows, columns=[f.name for f in EVENT_SCHEMA.fields])
            out["ts"] = pd.to_datetime(out["ts"])
            out["record_no"] = None
            yield out

    return raw.mapInPandas(chunk, EVENT_SCHEMA)


def stream_classes(events: DataFrame) -> DataFrame:
    """Watermarked 1-minute class aggregation on the parsed stream
    (compact stat set; the full battery is the batch pipeline's).

    Keys on the ``digest`` the parser attached to each event
    (``parse_record`` fingerprints with the state machine), so streamed
    classes carry the same exact digests as batch ``ingest`` and need
    no fingerprint projection of their own. Pinned under live
    streaming execution by tests/test_streaming.py::
    test_stream_classes_routed_inside_microbatch_equals_routed_batch,
    and against ``ingest``/``tail`` by tests/test_cli.py::
    test_cli_paths_agree_on_exact_digests."""
    ev = events.where(~F.col("admin") & F.col("query").isNotNull())
    return (
        ev.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("digest"))
        .agg(
            F.count("*").alias("num_queries"),
            F.round(F.sum("query_time"), 6).alias("m_query_time_sum"),
            F.max("query_time").alias("m_query_time_max"),
            F.min("fingerprint").alias("fingerprint"),
        )
        .select(
            F.col("w.start").alias("period_start"),
            "digest",
            "num_queries",
            "m_query_time_sum",
            "m_query_time_max",
            "fingerprint",
        )
    )


@op("stream_slowlog_classes", oracle=_STREAM_CLASSES_SQL)
def stream_slowlog_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming reference pipeline: tail log dir → parse →
    fingerprint → watermarked 1-minute classes. Oracle = the batch
    formulation over the committed golden IR (complete mode over the
    single-file fixture emits every window exactly once)."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.streaming.ops import run_to_memory

    s = stream_classes(read_slowlog_stream(spark, FIXTURE_LOG))
    return run_to_memory(s, "complete")


@op(
    "stream_slowlog_to_jdbc",
    oracle=_STREAM_CLASSES_SQL.replace(
        "min(fingerprint) AS fingerprint",
        "min(fingerprint) AS fingerprint, CAST(0 AS INTEGER) AS epoch",
    ),
)
def stream_slowlog_to_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full reference deployment shape, end to end: tail the slow
    log → parse → fingerprint → watermarked 1-minute classes →
    foreachBatch JDBC batched INSERT — executed here against the
    embedded Derby on Spark's classpath (production swaps the URL and
    driver for ClickHouse; sinks/jdbc.py generates that DDL). Returns
    the JDBC read-back so the driver row-checks actual sunk rows.

    Topology note: EMBEDDED Derby is single-JVM (dual-boot file lock),
    so this fixture only runs on local[N]; on local-cluster+ the
    executor INSERT fails to boot the driver-held db — a fixture limit,
    not an engine one (a network ClickHouse endpoint accepts
    independent driver/executor connections). SCALING.md r16
    §local-cluster."""
    import os
    import shutil

    from slowlog2clickhouse_spark.operators.slowlog_ops import _TMP, FIXTURE_LOG
    from slowlog2clickhouse_spark.sinks.jdbc import write_jdbc

    base = f"{_TMP}/slowlog_jdbc_{os.getpid()}_{next(_counter)}"
    shutil.rmtree(base, ignore_errors=True)
    url = f"jdbc:derby:{base}/db;create=true"
    derby = "org.apache.derby.jdbc.EmbeddedDriver"

    classes = stream_classes(read_slowlog_stream(spark, FIXTURE_LOG))

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_jdbc(
            batch_df.withColumn("epoch", F.lit(epoch_id)),
            url,
            "CLASSES",
            mode="overwrite",  # complete mode re-emits the full state
            driver=derby,
            dialect=None,
            num_partitions=4,
        )

    q = (
        classes.writeStream.foreachBatch(sink_batch)
        .outputMode("complete")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "CLASSES")
        .option("driver", derby)
        .load()
    )


@op(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id, count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY 1
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + running max value across micro-batches (the
    arbitrary-state API the engine exposes where built-in windows don't
    fit — [go-mysql] aggregator's in-memory map is exactly this shape)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from slowlog2clickhouse_spark.streaming.ops import read_events_stream, run_to_memory

    def update(key, pdfs, state: GroupState):
        total, vmax = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((total, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [total], "max_value": [vmax]}
        )

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    s = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(s, "update")


@op(
    "stream_classes_pctl_merge",
    # oracle = the single-pass batch recompute of the same histogram
    # quantiles over the golden IR (identical to
    # slowlog_classes_incremental_pctl's contract: integer-exact
    # histograms, percentile_disc's integer cume rule)
    oracle=f"""
    WITH e AS (
      SELECT digest,
             length(bin(greatest(
               CAST(floor(query_time * 1000000) AS BIGINT), 0))) AS bucket
      FROM {_GOLD}
      WHERE NOT admin AND query IS NOT NULL AND query_time IS NOT NULL),
    h AS (SELECT digest, bucket, count(*) AS n FROM e GROUP BY 1, 2),
    c AS (SELECT digest, bucket, n,
                 sum(n) OVER (PARTITION BY digest ORDER BY bucket) AS cum,
                 sum(n) OVER (PARTITION BY digest) AS tot
          FROM h),
    q AS (SELECT digest,
                 CAST(min(tot) AS BIGINT) AS num_timed,
                 min(CASE WHEN cum * 2 >= tot THEN bucket END) AS b50,
                 min(CASE WHEN cum * 100 >= 95 * tot THEN bucket END) AS b95
          FROM c GROUP BY 1)
    SELECT digest, num_timed,
           round(((CAST(1 AS BIGINT) << b50) - 1) / 1000000.0, 6) AS p50_est,
           round(((CAST(1 AS BIGINT) << b95) - 1) / 1000000.0, 6) AS p95_est,
           CAST(b95 AS INTEGER) AS p95_bucket
    FROM q
    """,
)
def stream_classes_pctl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AggregatingMergeTree loop END TO END in streaming: each
    micro-batch computes its (digest, bucket) power-of-two histogram
    PARTIAL, and the foreachBatch sink merges it into the stored state
    by ADDITION (read previous state part + batch partial → re-sum →
    write a new versioned part, exactly how MergeTree parts merge).
    The fixture log is split at a record boundary into two rotation
    segments and drained with maxFilesPerTrigger=1, so the merge is
    exercised across ≥2 real micro-batches; the final stored state's
    quantiles (shared hist_quantiles extraction) must equal the
    single-pass batch recompute — the oracle.

    This is what the batch op slowlog_classes_incremental_pctl proves
    algebraically, now running in the production topology: per-cycle
    state is |digests × ≤40 buckets| integers however long the tail
    runs, a retry of the same epoch rewrites the same part, and
    percentile-bearing class rows never need the O(history) rescan.

    Crash/retry topology (ADVICE r10 + VERDICT r10 #5): NO mutable
    driver-side pointer. Every decision is derived from the sink
    itself — an epoch merges state_v{max committed version < epoch}
    with its partial into state_v{epoch}; a retried epoch whose part
    already committed (_SUCCESS present) is a no-op, and one whose
    write died half-way recomputes from the previous COMMITTED part
    (never reads its own torn output); a driver restart with an intact
    checkpoint replays the source and finds the state by listing
    state_v* — pinned by tests/test_streaming.py restart + retry
    tests."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import (
        _TMP,
        hist_quantiles,
    )

    base = f"{_TMP}/stream_pctl_{_os.getpid()}_{next(_counter)}"
    run_pctl_merge_stream(spark, base)
    vs = committed_state_versions(base)
    assert vs, "stream produced no committed state parts"
    return hist_quantiles(spark.read.parquet(f"{base}/state_v{vs[-1]}"))


def _state_fs(base: str):
    """(FileSystem, jvm) for ``base`` via the active session's Hadoop
    conf — scheme-aware, so ``file:``, ``hdfs:`` and ``s3a:`` state
    dirs all route through the same API (r14 ADVICE: the previous
    os.listdir/shutil.rmtree listing+GC silently no-op'd on a DFS).
    (None, None) when no session is active (pure-local fallback) or
    when the session has no JVM gateway — Spark Connect sessions
    expose neither ``_jvm`` nor ``_jsc``, so they degrade to the same
    os.path branch as session-less callers instead of raising
    AttributeError (ADVICE r15 #3).

    Scheme-resolution semantics (ADVICE r15 #4): a SCHEME-LESS ``base``
    resolves against ``fs.defaultFS`` — on a cluster whose defaultFS is
    ``hdfs://``, a plain ``/data/pctl_state`` targets HDFS for the
    commit check, the listing, AND the recursive GC delete, where the
    old os.listdir form targeted local disk. Callers that want the
    driver's local disk on such a cluster must pass ``file:/...``
    explicitly; ``fs.delete(path, true)`` is recursive, so a
    mis-resolved base is destructive."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None or not hasattr(spark, "_jvm") or spark._jvm is None:
        return None, None
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(base)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def committed_state_versions(base: str) -> list[int]:
    """Sorted epoch versions whose state part FULLY committed.

    The _SUCCESS marker (written last by Spark's parquet commit
    protocol) distinguishes a committed part from a torn write left by
    a crash mid-epoch. The listing goes through the Hadoop FileSystem
    API (resolved from ``base``'s scheme against the active session's
    conf), so the pattern — sink-derived state pointer, no driver
    memory — carries to a DFS deployment unchanged; the os.listdir
    fallback only serves session-less callers."""
    import re as _re

    fs, jvm = _state_fs(base)
    if fs is None:
        if not _os.path.isdir(base):
            return []
        out = []
        for d in _os.listdir(base):
            m = _re.fullmatch(r"state_v(\d+)", d)
            if m and _os.path.exists(_os.path.join(base, d, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)
    base_p = jvm.org.apache.hadoop.fs.Path(base)
    if not fs.exists(base_p):
        return []
    out = []
    for st in fs.listStatus(base_p):
        m = _re.fullmatch(r"state_v(\d+)", st.getPath().getName())
        if m and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def merge_pctl_partial(
    spark: SparkSession,
    base: str,
    batch_df: DataFrame,
    epoch_id: int,
    retain: int = 2,
) -> None:
    """foreachBatch body for the pctl merge sink: addition-merge the
    batch's (digest, bucket) histogram partial into the latest
    COMMITTED state part, writing a new versioned part.

    Idempotent under BOTH Structured Streaming failure modes:
    - epoch retried after a successful commit → state_v{epoch} has
      _SUCCESS → skip (re-merging would double-count the batch);
    - epoch retried after a torn write → no _SUCCESS → recompute from
      the newest committed version BELOW epoch (never unions with or
      lazily overwrites its own partial output).

    GC (r13 VERDICT #6): each state part carries the FULL merged
    histogram, so only the newest committed part is ever read — a
    long-running tail at a 5 s trigger would otherwise accumulate one
    part per micro-batch forever. After a successful commit the
    ``retain`` newest committed parts are kept (current + retain-1
    predecessors for post-mortem diffing) and older ones removed.
    Crash-safe by the same commit discipline as the merge itself:
    deletion happens only AFTER the new part's _SUCCESS exists, only
    parts strictly older than the retained window are touched, and a
    crash mid-GC just leaves extra parts for the next epoch's sweep
    (a retried already-committed epoch returns before the GC — its
    successor's sweep bounds the leak at one extra part). The torn-
    write recovery path always reads the NEWEST committed version
    below the epoch, which is by construction inside the retained
    window.

    DFS-portable (r14 ADVICE, closed structurally in r15): both the
    listing (committed_state_versions) and the deletion here route
    through the Hadoop FileSystem API resolved from ``base``'s scheme,
    so a ``hdfs://`` / ``s3a://`` state dir is swept exactly like a
    local one — the earlier os.listdir/shutil.rmtree form silently
    never deleted off-local and parts would have accumulated unbounded.
    Same idempotence argument either way: delete only below the
    retained window, only after the new part's _SUCCESS exists."""
    dst = f"{base}/state_v{epoch_id}"
    fs, jvm = _state_fs(base)
    committed = (
        _os.path.exists(_os.path.join(dst, "_SUCCESS"))
        if fs is None
        # same fs handle as the listing/GC: an os.path check would
        # silently return False for a scheme-qualified base (file:,
        # hdfs:) and a retried committed epoch would redo its merge
        else fs.exists(jvm.org.apache.hadoop.fs.Path(f"{dst}/_SUCCESS"))
    )
    if committed:
        return
    part = batch_df.groupBy("digest", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    prev = [v for v in committed_state_versions(base) if v < epoch_id]
    if prev:
        part = (
            part.unionByName(spark.read.parquet(f"{base}/state_v{prev[-1]}"))
            .groupBy("digest", "bucket")
            .agg(F.sum("n").alias("n"))
        )
    part.write.mode("overwrite").parquet(dst)
    if retain and retain > 0:
        live = committed_state_versions(base)
        doomed = live[: max(0, len(live) - retain)]
        if doomed:
            for v in doomed:
                p = f"{base}/state_v{v}"
                if fs is None:
                    import shutil as _shutil

                    _shutil.rmtree(p, ignore_errors=True)
                else:
                    # recursive delete; False (already gone — a racing
                    # retry's sweep won) is fine, same as ignore_errors
                    fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)


def run_pctl_merge_stream(
    spark: SparkSession,
    base: str,
    fail_at_epoch: int | None = None,
    n_segments: int = 2,
    retain: int = 2,
) -> None:
    """Drive the pctl-merge stream over an ``n_segments``-way rotation
    split of the fixture log under ``base`` (availableNow,
    1 file/trigger — one epoch per segment). ``fail_at_epoch`` injects
    a crash BEFORE that epoch's merge runs — the restart test's kill
    switch; rerunning without it resumes from the checkpoint.
    ``retain`` bounds the committed state parts kept on disk (see
    merge_pctl_partial's GC)."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import (
        FIXTURE_LOG,
        qt_hist_bucket,
    )

    src = f"{base}/src"
    if not _os.path.isdir(src):
        _os.makedirs(src, exist_ok=True)
        txt = open(FIXTURE_LOG).read()
        bounds = _fixture_cuts(txt, n_segments)
        for i in range(n_segments):
            with open(f"{src}/rot{i}.log", "w") as f:
                f.write(txt[bounds[i] : bounds[i + 1]])

    events = read_slowlog_stream(spark, src, max_files_per_trigger=1)
    ev = events.where(
        ~F.col("admin")
        & F.col("query").isNotNull()
        & F.col("query_time").isNotNull()
    )
    # the parser's state-machine digest rides on every event
    ev = ev.select("digest", qt_hist_bucket().alias("bucket"))

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if fail_at_epoch is not None and epoch_id >= fail_at_epoch:
            raise RuntimeError(f"injected crash before epoch {epoch_id}")
        merge_pctl_partial(spark, base, batch_df, epoch_id, retain=retain)

    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@op(
    "stream_slowlog_tail",
    # the tail reader must deliver EXACTLY the fixture's events across
    # its incremental reads (torn-tail record flushed by the sentinel)
    oracle=_TAIL_CLASSES_SQL,
)
def stream_slowlog_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail ONE GROWING slow-log file — the reference's actual
    deployment shape (the agent follows the live file as mysqld
    appends; SURVEY §2 A8/J). Spark's built-in file stream never
    re-reads a grown file, so this runs on the engine's Python Data
    Source streaming reader (sources/slowlog_datasource.py
    SlowlogMultiTailStreamReader, pointed at the one file): offsets
    are byte positions of complete-record boundaries, the in-flight
    torn tail is held back until a later record header terminates it,
    and partitions(start, end) re-plans exact byte ranges for
    exactly-once recovery (tests/test_streaming.py pins
    kill-and-restart equals batch).

    The op reproduces the deployment dance deterministically: write
    half the fixture, drain, append the rest plus a header-only
    sentinel (flushes the last real record; itself stays in-flight
    and carries no statement), drain again — then classes the tailed
    events. A hash match against the golden IR proves no event was
    lost, duplicated, or torn across the grow boundary."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG, _TMP
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    base = f"{_TMP}/slowlog_tail_{_os.getpid()}_{next(_counter)}"
    _os.makedirs(base, exist_ok=True)
    src = f"{base}/slow.log"
    txt = open(FIXTURE_LOG).read()
    mid = _fixture_cuts(txt, 2)[1]
    with open(src, "w") as f:
        f.write(txt[:mid])

    name = f"tailed_{_os.path.basename(base)}"
    q = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", src)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(processingTime=TAIL_DRAIN_TRIGGER)
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src, "a") as f:
            f.write(txt[mid:])
            f.write(_SENTINEL)
        q.processAllAvailable()
    finally:
        q.stop()
    return _tail_classes(spark.table(name))


@op(
    "stream_slowlog_tail_multi",
    # the FLEET tail (two concurrently-growing files) must deliver
    # exactly the fixture's events — no loss, dup, or tear on either
    # file's grow boundary, and the union must re-assemble the corpus
    oracle=_TAIL_CLASSES_SQL,
)
def stream_slowlog_tail_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail a FLEET of growing slow-log files — many mysqlds, one
    ingest job. Runs on the PARTITIONED Python Data Source
    stream reader (sources/slowlog_datasource.py
    SlowlogMultiTailStreamReader): per-file byte offsets live in the
    stream offset dict, each grown file becomes its own
    InputPartition, and parsing happens on EXECUTORS — the driver
    only plans byte ranges (backward boundary scan, O(tail block) per
    file per trigger). Torn-tail hold-back, copytruncate detection
    via head-hash incarnation stamps, and rotated-sibling salvage all
    apply PER FILE.

    The op reproduces the fleet dance deterministically: the fixture
    is split into two "hosts'" logs, each written half-way, drained,
    then grown to completion plus a header-only sentinel per file
    (flushes each file's last real record; itself carries no
    statement). Classes over the union must hash-match the golden IR
    — proving the per-file offsets advanced independently and the
    union re-assembled the corpus exactly.

    Scale: 1000 mysqlds = 1000 entries in the offset dict and <=1000
    InputPartitions per trigger, reads fan out across executors; the
    driver's per-trigger cost is one os.stat per UNCHANGED file (r13
    stat fast path) and one tail-block scan per grown one. record_no
    is the record's byte offset in its incarnation (stateless offsets
    — required because latestOffset() gets no start offset after a
    committed restart); it RESETS to 0 when a file rotates, and since
    r14 every row carries the ``incarnation`` head-stamp column that
    disambiguates the reset: (source_file, incarnation, record_no) is
    unique across incarnations exactly as strongly as rotation
    detection itself (see MULTI_EVENT_SCHEMA), so idempotent sinks
    have a structural key."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG, _TMP
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    base = f"{_TMP}/slowlog_tail_multi_{_os.getpid()}_{next(_counter)}"
    _os.makedirs(f"{base}/logs", exist_ok=True)
    txt = open(FIXTURE_LOG).read()
    _, q1, mid, q3, _ = _fixture_cuts(txt, 4)
    a, b = txt[:mid], txt[mid:]
    a_mid = q1
    b_mid = q3 - mid
    with open(f"{base}/logs/host_a.log", "w") as f:
        f.write(a[:a_mid])
    with open(f"{base}/logs/host_b.log", "w") as f:
        f.write(b[:b_mid])

    name = f"fleet_{_os.path.basename(base)}"
    q = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", f"{base}/logs")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(processingTime=TAIL_DRAIN_TRIGGER)
        .start()
    )
    try:
        q.processAllAvailable()
        with open(f"{base}/logs/host_a.log", "a") as f:
            f.write(a[a_mid:] + _SENTINEL)
        with open(f"{base}/logs/host_b.log", "a") as f:
            f.write(b[b_mid:] + _SENTINEL)
        q.processAllAvailable()
    finally:
        q.stop()
    return _tail_classes(spark.table(name))


@op(
    "stream_slowlog_tail_sharded",
    # the SHARDED fleet (two independent streams over disjoint
    # hash-slices of the same log directory) must re-assemble the
    # corpus exactly — no file unclaimed, none claimed twice, no loss
    # or tear inside either shard
    oracle=_TAIL_CLASSES_SQL,
)
def stream_slowlog_tail_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-width SCALE-OUT shape on the driver-checked record
    (r13 VERDICT #7): past a few thousand tailed files the binding
    cost is the offset dict Spark rewrites into the checkpoint log
    every micro-batch, and the remedy is N INDEPENDENT tail streams
    over ``.option("shard", "i/n")`` hash-slices of the fleet. This op
    runs that topology end to end — the fixture split into four
    "hosts'" logs, TWO sharded streams (0/2 and 1/2), each with its
    OWN checkpoint and memory sink, drained to completion — then
    classes the union. A hash match against the golden IR proves the
    md5(rotation-base) partition is a disjoint cover in the running
    engine (a double-claimed file would double num_queries; an
    unclaimed one would lose its digests), not just in the unit test.

    Scale: each stream is the stream_slowlog_tail_multi deployment
    with 1/n of the offsets, checkpoint churn, and poll cost;
    restarts are independent per shard. Per-shard exactly-once is the
    multi reader's own pinned property; what this op adds to the
    record is the COVER.

    RE-SHARDING: n is part of each checkpoint's identity — changing
    'i/n' across a restart is supported but duplicates, never loses
    (the new owner re-ingests from byte 0; dedup downstream on
    (source_file, incarnation, record_no) — ship it with
    ``fleet_union_dedup`` below, the library form of the recipe).
    Full contract + migration options: the shard-option block in
    sources/slowlog_datasource.py (SlowlogMultiTailStreamReader
    __init__), pinned by tests/test_streaming.py
    test_multi_tail_reshard_{contract,real_checkpoints,any_width}
    (r14 VERDICT #6)."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG, _TMP
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    base = f"{_TMP}/slowlog_tail_shard_{_os.getpid()}_{next(_counter)}"
    _os.makedirs(f"{base}/logs", exist_ok=True)
    txt = open(FIXTURE_LOG).read()
    bounds = _fixture_cuts(txt, 4)
    for i in range(4):
        with open(f"{base}/logs/host_{i}.log", "w") as f:
            f.write(txt[bounds[i] : bounds[i + 1]] + _SENTINEL)

    n_shards = 2
    names = []
    queries = []
    for i in range(n_shards):
        name = f"shard{i}_{_os.path.basename(base)}"
        names.append(name)
        q = (
            spark.readStream.format("slowlog_tail_multi")
            .option("path", f"{base}/logs")
            .option("shard", f"{i}/{n_shards}")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{base}/ckpt{i}")
            .trigger(availableNow=True)
            .start()
        )
        queries.append(q)
    try:
        for q in queries:
            q.awaitTermination()
    finally:
        for q in queries:
            q.stop()

    union = None
    for name in names:
        t = spark.table(name)
        union = t if union is None else union.unionByName(t)
    return _tail_classes(union)


# The structural idempotency key of the multi-tail source: unique per
# physical record across file incarnations (rotation/copytruncate) and
# across shard re-assignments — see the MULTI_EVENT_SCHEMA comment
# block in sources/slowlog_datasource.py for the full uniqueness
# argument and its one declared blind spot.
FLEET_DEDUP_KEY = ("source_file", "incarnation", "record_no")


def fleet_union_dedup(
    *streams: DataFrame, watermark: tuple[str, str] | None = None
) -> DataFrame:
    """Union N fleet-tail DataFrames and restore exactly-once on the
    canonical idempotency key (VERDICT r15 #4 — this recipe previously
    lived only in tests/test_streaming.py's reshard contract; a
    deployer had to reconstruct it from a test).

    The re-sharding contract duplicates, never loses: a file that
    moves INTO a shard across an ``.option("shard", "i/n")`` width
    change re-ingests from byte 0, so the union of the old era's
    committed output and the new era's streams contains every record
    at least once, some twice. Dropping duplicates on
    ``FLEET_DEDUP_KEY`` = (source_file, incarnation, record_no) —
    unique per physical record across incarnations exactly as strongly
    as rotation detection itself — collapses that to exactly-once;
    duplicate rows are byte-identical re-reads, so keeping an
    arbitrary one is sound.

    Two deployment shapes, same call:

    * **batch** — the N independent sharded queries (own checkpoints,
      the stream_slowlog_tail_sharded topology) each append to a sink
      table; dedup the union of those tables (plus the pre-migration
      era's table during a re-shard) downstream.
    * **streaming** — union the N sharded sources inside ONE query and
      dedup before the sink. Without ``watermark`` this uses
      ``dropDuplicates``, whose state grows with distinct keys
      forever; pass ``watermark=("event_ts_col", "1 hour")`` to bound
      state via ``dropDuplicatesWithinWatermark`` (duplicates from a
      re-shard arrive within one migration window, so a delay covering
      the migration is enough). Note the one-query shape shares a
      single checkpoint — for independent per-shard restarts keep
      separate queries and dedup in batch.

    Raises ValueError when no stream is given or any input lacks the
    key columns (e.g. a pre-r14 capture without ``incarnation`` — see
    the BREAKING SCHEMA CHANGE note in sources/slowlog_datasource.py)."""
    if not streams:
        raise ValueError("fleet_union_dedup needs at least one stream")
    for df in streams:
        missing = [c for c in FLEET_DEDUP_KEY if c not in df.columns]
        if missing:
            raise ValueError(
                f"input lacks fleet dedup key column(s) {missing}; the "
                "multi-tail source emits them since r14 — re-capture or "
                "see the migration note in sources/slowlog_datasource.py"
            )
    union = streams[0]
    for df in streams[1:]:
        union = union.unionByName(df)
    if watermark is not None:
        col, delay = watermark
        union = union.withWatermark(col, delay)
        return union.dropDuplicatesWithinWatermark(list(FLEET_DEDUP_KEY))
    return union.dropDuplicates(list(FLEET_DEDUP_KEY))
