"""Batch-equivalence for the streaming slow-log pipeline + the
stateful counter (SURVEY.md §5.2 item 5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import load_table
from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog
from slowlog2clickhouse_spark.registry import all_ops

OPS = all_ops()


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_stream_slowlog_classes_equals_batch_pipeline(spark, sf_dir):
    streamed = OPS["stream_slowlog_classes"].fn(spark, sf_dir)
    batch = ingest_slowlog(spark, FIXTURE_LOG)
    s = {
        (str(r["period_start"]), r["digest"], r["num_queries"])
        for r in streamed.collect()
    }
    b = {
        (str(r["period_start"]), r["digest"], r["num_queries"])
        for r in batch.collect()
    }
    assert s == b


def test_stateful_counter_final_state_equals_batch(spark, sf_dir):
    streamed = OPS["stream_stateful_counter"].fn(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.max("value").alias("max_value"))
    )
    # update-mode memory sink may hold one row per state update; the
    # LAST row per user is the final state
    final = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in streamed.orderBy("n_events").collect()
    }
    expect = {
        r["user_id"]: (r["n_events"], r["max_value"]) for r in batch.collect()
    }
    assert final == expect


def test_batch_sessionize_agrees_with_session_window(spark, sf_dir):
    """Two independent sessionization formulations (lag+cumsum batch op
    vs engine session_window) must produce the same sessions (same
    per-user counts and start times; ends differ by definition)."""
    batch = OPS["win_sessionize"].fn(spark, sf_dir)
    sw = OPS["stream_session_window"].fn(spark, sf_dir)
    b = sorted(
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in batch.collect()
    )
    s = sorted(
        (r["user_id"], int(r["session_start"].timestamp() * 1_000_000), r["n_events"])
        for r in sw.collect()
    )
    assert b == s


def test_stream_ingest_gzipped_rotation_set(spark):
    """Tailing rotated .gz archives: the streaming file source
    decompresses by extension and the lineSep record split applies to
    the decompressed stream, so streaming class aggregation over the
    gz rotation fixture equals the batch parse of the same archives
    (the operational shape: logrotate gzips segments, the stream
    ingests them as they land)."""
    import os

    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_GZ_DIR
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.streaming.ops import run_to_memory
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        read_slowlog_stream,
        stream_classes,
    )

    assert os.path.isdir(FIXTURE_GZ_DIR)
    got = run_to_memory(
        stream_classes(read_slowlog_stream(spark, FIXTURE_GZ_DIR)), "update"
    )
    events = parse_slowlog(spark, FIXTURE_GZ_DIR).where(
        ~F.col("admin") & F.col("query").isNotNull()
    )
    batch = (
        events.groupBy(
            F.date_trunc("minute", "ts").alias("period_start"), "digest"
        )
        .agg(F.count("*").alias("num_queries"))
        .collect()
    )
    want = {(r["period_start"], r["digest"]): r["num_queries"] for r in batch}
    have = {
        (r["period_start"], r["digest"]): r["num_queries"]
        for r in got.collect()
    }
    assert have == want and sum(have.values()) == 6


def test_stream_pctl_merge_runs_multiple_batches_and_equals_batch_op(
    spark, sf_dir
):
    """stream_classes_pctl_merge must (a) actually merge across >=2
    micro-batches (maxFilesPerTrigger=1 over the 2-segment rotation
    split -> a state_v1 part exists, proving epoch 1 merged epoch 0's
    stored part), and (b) produce exactly the batch incremental op's
    quantiles — the streaming topology changes nothing about the
    merged state."""
    import glob
    import os

    from slowlog2clickhouse_spark.operators.slowlog_ops import _TMP

    before = set(glob.glob(f"{_TMP}/stream_pctl_*"))
    got = {
        r["digest"]: tuple(r)
        for r in all_ops()["stream_classes_pctl_merge"].fn(spark, sf_dir).collect()
    }
    new_dirs = set(glob.glob(f"{_TMP}/stream_pctl_*")) - before
    assert len(new_dirs) == 1
    base = new_dirs.pop()
    assert os.path.isdir(f"{base}/state_v0")
    assert os.path.isdir(f"{base}/state_v1"), "merge never crossed a batch"

    batch = {
        r["digest"]: tuple(r)
        for r in all_ops()["slowlog_classes_incremental_pctl"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == batch


def test_drain_refuses_append_sink_dir(tmp_path):
    """A drain (complete-mode snapshot OVERWRITE) into a dir that an
    append-mode file sink (a --follow run) wrote would delete the
    appended window history and leave a stale _spark_metadata behind.
    The snapshot writer must refuse."""
    import os

    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        _complete_snapshot_writer,
    )

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "_spark_metadata"))
    with pytest.raises(SystemExit, match="_spark_metadata"):
        _complete_snapshot_writer(None, out, str(tmp_path / "ckpt"))


def _rec(hour: int, minute: int, table: str, qt: float) -> str:
    return (
        f"# Time: 2024-01-01T{hour:02d}:{minute:02d}:30.000000Z\n"
        "# User@Host: u[u] @ h []  Id: 1\n"
        f"# Query_time: {qt}  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
        f"SELECT * FROM {table} WHERE id = {minute};\n"
    )


def test_stream_follow_appends_each_closed_window_once(spark, tmp_path, monkeypatch):
    """`stream --follow` runs the watermarked APPEND sink: a window's
    row is appended once the 5-minute watermark passes its end, never
    again, and equals the batch class row; a window the watermark has
    not closed is not written. (A complete-mode snapshot would rewrite
    every window, the open ones too, on every trigger.)"""
    import os
    import threading
    import time

    from slowlog2clickhouse_spark.__main__ import main
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.streaming import slowlog_stream

    monkeypatch.setattr(slowlog_stream, "FOLLOW_TRIGGER", "100 milliseconds")
    logs, staging = tmp_path / "logs", tmp_path / "staging"
    os.makedirs(logs)
    os.makedirs(staging)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def land(name: str, text: str) -> None:
        # a file source must see a file whole: write aside, then rename
        (staging / name).write_text(text)
        os.rename(staging / name, logs / name)

    def emitted():
        if not os.path.isdir(out):
            return []
        return [
            (r["period_start"], r["digest"], r["num_queries"], r["m_query_time_sum"])
            for r in spark.read.parquet(out).collect()
        ]

    # minutes 0..9, two classes per minute; then one record at 01:00
    first = "".join(
        _rec(0, m, t, 0.25 * (m + 1)) for m in range(10) for t in ("a", "b")
    )
    land("seg0.log", first)
    before = {q.id for q in spark.streams.active}
    runner = threading.Thread(
        target=main,
        args=(["stream", "--log-dir", str(logs), "--out", out,
               "--checkpoint", ckpt, "--follow"],),
        daemon=True,
    )
    runner.start()
    deadline = time.time() + 120
    while time.time() < deadline:
        started = [q for q in spark.streams.active if q.id not in before]
        if started:
            break
        time.sleep(0.2)
    (q,) = started
    try:
        q.processAllAvailable()
        # watermark = 00:09:30 - 5 min: minutes 0..3 are closed
        early = emitted()
        land("seg1.log", _rec(1, 0, "a", 1.0))
        q.processAllAvailable()
        # watermark = 01:00:30 - 5 min: every first-segment window closed
        late = emitted()
    finally:
        q.stop()
        runner.join(60)
    assert not runner.is_alive()
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))

    batch = parse_slowlog(spark, str(logs)).where(~F.col("admin"))
    want = {
        (r["p"], r["digest"]): (r["n"], r["qt"])
        for r in batch.groupBy(F.date_trunc("minute", "ts").alias("p"), "digest")
        .agg(F.count("*").alias("n"), F.round(F.sum("query_time"), 6).alias("qt"))
        .collect()
    }
    assert {p.minute for p, *_ in early} == {0, 1, 2, 3}
    assert len(late) == len({(p, d) for p, d, *_ in late}), "a window appended twice"
    assert {(p, d): (n, qt) for p, d, n, qt in late} == {
        k: v for k, v in want.items() if k[0].hour == 0
    }
    assert set(early) <= set(late)
