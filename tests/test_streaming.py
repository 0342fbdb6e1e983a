"""Streaming batch-equivalence tests (SURVEY.md §5.2 item 5): every
§2 J op run as a stream over static data must equal the same
transformation run in batch; late-data semantics checked against a
hand-built timeline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import load_table
from slowlog2clickhouse_spark.registry import all_ops
from slowlog2clickhouse_spark.streaming.ops import read_events_stream, run_to_memory, tumbling_agg

OPS = all_ops()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_agg_batch_equivalence(spark, sf_dir):
    streamed = OPS["stream_tumbling_agg"].fn(spark, sf_dir)
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    cols = ["period_start", "event_type", "n", "sum_value", "max_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_sliding_agg_batch_equivalence(spark, sf_dir):
    streamed = OPS["stream_sliding_agg"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    cols = ["w_start", "event_type", "n", "sum_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_session_window_batch_equivalence(spark, sf_dir):
    streamed = OPS["stream_session_window"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )
    cols = ["session_start", "session_end", "user_id", "n_events", "total"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_dedup_watermark_removes_injected_dupes(spark, sf_dir):
    streamed = OPS["stream_dedup_watermark"].fn(spark, sf_dir)
    n_src = load_table(spark, sf_dir, "events").count()
    # input was events ∪ events; dedup must return each id exactly once
    assert streamed.count() == n_src
    assert streamed.groupBy("event_id").count().where("count > 1").count() == 0


def test_file_source_batch_equivalence(spark, sf_dir):
    streamed = OPS["stream_file_source"].fn(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").where(F.col("value") > 100).select(
        "event_id", "event_type", "value"
    )
    cols = ["event_id", "event_type", "value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_late_data_semantics(spark, sf_dir):
    """Append-mode windowed agg: batch-2 row older than the advanced
    watermark is dropped; the kept windows reflect only on-time + the
    within-delay late row."""
    out = OPS["stream_late_data"].fn(spark, sf_dir)
    got = {(str(r["w_start"]), r["n"]) for r in out.collect()}
    # watermark after batch 1 = 10:30 - 5min = 10:25 → windows 10:00-10:02
    # finalized with their on-time single rows; the 10:01:30 late row
    # (event 100) arrived after finalization and must NOT appear; the
    # 10:29 late row (event 101) is within delay and lands in a
    # non-finalized window, absent from append output until closed.
    assert ("2024-01-01 10:00:00", 1) in got
    assert ("2024-01-01 10:01:00", 1) in got
    assert ("2024-01-01 10:02:00", 1) in got
    assert ("2024-01-01 10:01:00", 2) not in got


def test_foreachbatch_sink_equivalence(spark, sf_dir):
    streamed = OPS["sink_stream_foreachbatch"].fn(spark, sf_dir)
    batch = tumbling_agg(load_table(spark, sf_dir, "events"), window="1 hour")
    cols = ["period_start", "event_type", "n", "sum_value", "max_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_checkpoint_restart_no_loss_no_dup(spark, sf_dir, tmp_path):
    """Kill-and-restart from the same checkpoint must be exactly-once
    end-to-end: batch 1 processed, stream stopped, batch 2 added,
    stream RESTARTED from the checkpoint — the output holds every
    event exactly once (file-source offsets + checkpoint = replayable
    source, idempotent parquet sink)."""
    import os

    base = str(tmp_path)
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.parquet(f"{src}/part=1")

    def start():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .parquet(f"{src}/part=*")
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.parquet(f"{src}/part=2")
    q2 = start()  # restart from the SAME checkpoint
    q2.awaitTermination()

    back = spark.read.parquet(out)
    assert back.count() == ev.count()  # no loss
    assert back.select("event_id").distinct().count() == ev.count()  # no dup


def test_stream_static_join_batch_equivalence(spark, sf_dir):
    from slowlog2clickhouse_spark.streaming.ops import static_join_enrich

    streamed = OPS["stream_static_join"].fn(spark, sf_dir)
    batch = static_join_enrich(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
    cols = ["event_type", "segment", "n", "sv"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_stream_join_batch_equivalence(spark, sf_dir):
    streamed = OPS["stream_stream_join"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    batch = v.join(
        p,
        F.expr("v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"),
    ).select("v_user", "v_id", "p_id", "v_ts", "p_ts")
    assert streamed.count() > 0
    cols = ["v_user", "v_id", "p_id", "v_ts", "p_ts"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_transform_with_state_totals_equal_batch(spark, sf_dir):
    got = OPS["stream_transform_with_state"].fn(spark, sf_dir)
    # last update per user is the final running total
    final = {r["user_id"]: (r["n"], round(r["sum_value"], 6)) for r in got.collect()}
    batch = {
        r["user_id"]: (r["n"], round(r["sv"], 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert final == batch
    assert got.select("api").distinct().count() == 1


def test_stream_dedup_minhash_batch_equivalence_and_admission(spark, sf_dir):
    """The streaming admission decision must equal the batch
    formulation exactly: survivors = arriving (odd) docs none of whose
    band keys collide with the static (even) corpus index — and every
    admitted doc carries all 4 clean bands."""
    import pyspark.sql.functions as F

    from slowlog2clickhouse_spark.io import load_table
    from slowlog2clickhouse_spark.operators.dedup import minhash_band_keys
    from slowlog2clickhouse_spark.registry import all_ops

    got = {
        r["doc_id"]: r["n_clean_bands"]
        for r in all_ops()["stream_dedup_minhash"].fn(spark, sf_dir).collect()
    }
    assert all(v == 4 for v in got.values())

    docs = load_table(spark, sf_dir, "documents")
    banded = minhash_band_keys(docs).select(
        "doc_id", F.posexplode_outer("band_sigs").alias("band", "band_sig")
    )
    static_idx = banded.where(F.col("doc_id") % 2 == 0).select(
        "band", "band_sig"
    ).distinct()
    batch = (
        banded.where(F.col("doc_id") % 2 == 1)
        .join(static_idx, ["band", "band_sig"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 4)
    )
    want = {r["doc_id"] for r in batch.collect()}
    assert set(got) == want
    # sanity: the stream admits most docs but not all (near-dups exist)
    n_arriving = docs.where(F.col("doc_id") % 2 == 1).count()
    assert 0 < len(got) < n_arriving


def test_stream_journey_state_equals_batch_journey(spark, sf_dir):
    """The stateful streaming journey tracker's final state must equal
    events_journey_pattern row-for-row (same symbols, same 10k cap,
    same pattern counts), and the api column reports exactly one
    execution path."""
    got = OPS["stream_journey_state"].fn(spark, sf_dir)
    stream_rows = {
        r["user_id"]: (
            r["n_events"],
            r["truncated"],
            r["n_conversions"],
            r["n_error_loops"],
            r["journey_md5"],
        )
        for r in got.collect()
    }
    batch_rows = {
        r["user_id"]: (
            r["n_events"],
            r["truncated"],
            r["n_conversions"],
            r["n_error_loops"],
            r["journey_md5"],
        )
        for r in OPS["events_journey_pattern"].fn(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows
    assert got.select("api").distinct().count() == 1


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_stream_journey_state_soak_multi_batch(spark, sf_dir, tmp_path):
    """Soak (VERDICT r8 #5): drive the SAME stateful journey transform
    across >=3 triggered micro-batches (maxFilesPerTrigger=1 over a
    ts-split 3-file source), state carried between batches; the final
    per-user update must equal the single-batch op / batch recompute,
    and the state store must hold at most one row per user."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from slowlog2clickhouse_spark.streaming.ops import (
        _rocksdb_state_store,
        build_journey_state_transform,
        journey_symbols,
    )

    ev = load_table(spark, sf_dir, "events")
    # 3 event-time-ordered segments (the file stream's arrival order
    # contract documented on the op), one parquet file each, mtimes
    # forced monotone so the source triggers them in order
    w = Window.orderBy("ts", "event_id")
    bucketed = ev.withColumn("b", F.ntile(3).over(w))
    src = tmp_path / "journey_src"
    os.makedirs(src)
    for i in (1, 2, 3):
        part = tmp_path / f"seg{i}"
        bucketed.where(F.col("b") == i).drop("b").coalesce(1).write.parquet(
            str(part)
        )
        f = glob.glob(str(part / "*.parquet"))[0]
        dst = src / f"batch_{i}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1700000000 + i, 1700000000 + i))

    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    result, api_used = build_journey_state_transform(journey_symbols(sdf))
    name = "soak_journey_result"

    def _run():
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    if api_used == "transformWithStateInPandas":
        with _rocksdb_state_store(spark):
            q = _run()
    else:
        q = _run()

    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 3, f"expected >=3 micro-batches, got {len(fed)}"

    n_users = ev.select("user_id").distinct().count()
    state_rows = max(
        op["numRowsTotal"] for p in fed for op in p["stateOperators"]
    )
    assert 0 < state_rows <= n_users  # bounded: <= one row per user

    # final update per user = the row with the largest n_events (the
    # running count is monotone across batches)
    upd = spark.table(name)
    wu = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        upd.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    got = {
        r["user_id"]: (
            r["n_events"],
            r["truncated"],
            r["n_conversions"],
            r["n_error_loops"],
            r["journey_md5"],
        )
        for r in final.collect()
    }
    want = {
        r["user_id"]: (
            r["n_events"],
            r["truncated"],
            r["n_conversions"],
            r["n_error_loops"],
            r["journey_md5"],
        )
        for r in OPS["events_journey_pattern"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # every user spanning multiple segments proves cross-batch state
    # carry: it must appear in >1 update
    multi = upd.groupBy("user_id").count().where(F.col("count") > 1).count()
    assert multi > 0


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_stream_dedup_minhash_soak_multi_batch(spark, sf_dir, tmp_path):
    """Soak: the admission aggregate's state must carry across >=3
    micro-batches (maxFilesPerTrigger=1 over a 3-file arriving split)
    and the final complete-mode table must equal the single-batch op."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from slowlog2clickhouse_spark.operators.dedup import minhash_band_keys
    from slowlog2clickhouse_spark.streaming.ops import (
        build_stream_dedup_admission,
    )

    docs = load_table(spark, sf_dir, "documents")
    static_idx = (
        minhash_band_keys(docs.where(F.col("doc_id") % 2 == 0))
        .select(F.posexplode_outer("band_sigs").alias("band", "band_sig"))
        .distinct()
    )
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    w = Window.orderBy("doc_id")
    bucketed = arriving.withColumn("b", F.ntile(3).over(w))
    src = tmp_path / "docs_src"
    os.makedirs(src)
    for i in (1, 2, 3):
        part = tmp_path / f"dseg{i}"
        bucketed.where(F.col("b") == i).drop("b").coalesce(1).write.parquet(
            str(part)
        )
        f = glob.glob(str(part / "*.parquet"))[0]
        dst = src / f"batch_{i}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1700000000 + i, 1700000000 + i))

    sdf = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    admitted = build_stream_dedup_admission(sdf, static_idx)
    q = (
        admitted.writeStream.format("memory")
        .queryName("soak_dedup_result")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 3, f"expected >=3 micro-batches, got {len(fed)}"
    # complete-mode aggregate state: at most one row per arriving doc
    state_rows = max(
        op["numRowsTotal"] for p in fed for op in p["stateOperators"]
    )
    assert 0 < state_rows <= arriving.count()

    got = {
        r["doc_id"]: r["n_clean_bands"]
        for r in spark.table("soak_dedup_result").collect()
    }
    want = {
        r["doc_id"]: r["n_clean_bands"]
        for r in OPS["stream_dedup_minhash"].fn(spark, sf_dir).collect()
    }
    assert got == want and all(v == 4 for v in got.values())


def test_stream_journey_state_over_cap_user_chunk_order(spark, tmp_path):
    """The r8-advice regime the sf0.1 corpus never reaches: ONE user
    with 25k events (> the 10k cap AND > the ~10k-row Arrow chunk
    size, so the state API delivers the key's batch as MULTIPLE chunks
    in arbitrary order). The journey tail must still be the last-10k
    symbols in (ts, event_id) order — the rolling cap-row buffer in
    _advance, not per-chunk sorting."""
    import hashlib
    import os

    from pyspark.sql import types as T

    from slowlog2clickhouse_spark.streaming.ops import (
        _rocksdb_state_store,
        build_journey_state_transform,
        journey_symbols,
    )

    n, cap = 25_000, 10_000
    types = ["view", "click", "signup", "purchase", "error"]
    syms = "vcspe"
    # duplicate timestamps every 7 rows stress the event_id tiebreak
    rows = [
        (1, 1_000_000 + i, i // 7, types[(i * 13) % 5]) for i in range(n)
    ] + [(2, 2_000_000 + i, 10_000_000 + i, types[i % 5]) for i in range(40)]
    # shuffled write order: arrival order != event order
    import random

    rnd = random.Random(42)
    rnd.shuffle(rows)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_sec", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = str(tmp_path / "hot_user_events")
    (
        spark.createDataFrame(rows, schema)
        .select(
            "user_id",
            "event_id",
            F.timestamp_seconds("ts_sec").alias("ts"),
            "event_type",
        )
        .coalesce(1)
        .write.parquet(src)
    )
    sdf = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, event_type string"
    ).parquet(src)
    result, api_used = build_journey_state_transform(journey_symbols(sdf))

    def _run():
        q = (
            result.writeStream.format("memory")
            .queryName("hot_user_journey")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    if api_used == "transformWithStateInPandas":
        with _rocksdb_state_store(spark):
            _run()
    else:
        _run()
    got = {r["user_id"]: r for r in spark.table("hot_user_journey").collect()}

    # ground truth: last `cap` symbols in (ts, event_id) order
    def truth(user_rows):
        ordered = sorted(user_rows, key=lambda r: (r[2], r[1]))
        tail = "".join(syms[types.index(r[3])] for r in ordered)[-cap:]
        return hashlib.md5(tail.encode()).hexdigest()

    hot = [r for r in rows if r[0] == 1]
    assert got[1]["n_events"] == n and got[1]["truncated"]
    assert got[1]["journey_md5"] == truth(hot)
    small = [r for r in rows if r[0] == 2]
    assert got[2]["n_events"] == 40 and not got[2]["truncated"]
    assert got[2]["journey_md5"] == truth(small)


def _pctl_batch_truth(spark):
    """Single-pass batch recompute of the pctl-merge stream's answer
    (same formulation as the op's DuckDB oracle, via the batch path)."""
    from slowlog2clickhouse_spark.functions.fingerprint import (
        digest_col,
        fingerprint_col,
    )
    from slowlog2clickhouse_spark.operators.slowlog_ops import (
        FIXTURE_LOG,
        hist_quantiles,
        qt_hist_bucket,
    )
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog

    ev = (
        parse_slowlog(spark, FIXTURE_LOG)
        .where(
            ~F.col("admin")
            & F.col("query").isNotNull()
            & F.col("query_time").isNotNull()
        )
        .withColumn("fingerprint", fingerprint_col(F.col("query")))
        .select(
            digest_col(F.col("fingerprint")).alias("digest"),
            qt_hist_bucket().alias("bucket"),
        )
    )
    hist = ev.groupBy("digest", "bucket").agg(F.count("*").cast("long").alias("n"))
    return {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(hist).collect()
    }


def test_pctl_merge_restart_equals_batch(spark, tmp_path):
    """VERDICT r10 #5: kill the pctl-merge stream after epoch 0
    commits, rerun against the same checkpoint — the sink-derived
    state pointer (max committed state_v*) must recover and the final
    quantiles must equal the single-pass batch recompute."""
    import pyspark.errors

    from slowlog2clickhouse_spark.operators.slowlog_ops import hist_quantiles
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        committed_state_versions,
        run_pctl_merge_stream,
    )

    base = str(tmp_path / "pctl_restart")
    try:
        run_pctl_merge_stream(spark, base, fail_at_epoch=1)
        raise AssertionError("injected crash did not fire")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    vs = committed_state_versions(base)
    assert vs == [0], vs  # epoch 0 committed, epoch 1 never ran

    # restart: same checkpoint replays the unprocessed file(s)
    run_pctl_merge_stream(spark, base)
    vs = committed_state_versions(base)
    assert vs[-1] >= 1 and len(vs) >= 2, vs

    got = {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(
            spark.read.parquet(f"{base}/state_v{vs[-1]}")
        ).collect()
    }
    assert got == _pctl_batch_truth(spark)


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_pctl_merge_state_gc_bounds_parts(spark, tmp_path):
    """r13 VERDICT #6: a long-running pctl-merge tail must not
    accumulate one state part per micro-batch. Drained over FOUR
    rotation segments (four epochs), the sink may keep at most
    ``retain`` committed parts on disk at any time; the survivor's
    quantiles still equal the single-pass batch recompute, and the
    retained window always contains the newest committed part the
    torn-write recovery path would read."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import hist_quantiles
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        committed_state_versions,
        run_pctl_merge_stream,
    )

    base = str(tmp_path / "pctl_gc")
    run_pctl_merge_stream(spark, base, n_segments=4, retain=3)
    vs = committed_state_versions(base)
    # four epochs ran; EXACTLY the retain window survives on disk —
    # the exact count also pins that retain is forwarded through the
    # foreachBatch closure (the default of 2 would leave 2 parts)
    assert vs[-1] >= 3, vs
    assert len(vs) == 3, vs
    # nothing but the retained parts is left (no torn/stray dirs)
    stray = [d for d in os.listdir(base) if d.startswith("state_v")]
    assert sorted(stray) == [f"state_v{v}" for v in vs]
    got = {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(
            spark.read.parquet(f"{base}/state_v{vs[-1]}")
        ).collect()
    }
    assert got == _pctl_batch_truth(spark)


def test_pctl_merge_retry_idempotent(spark, tmp_path):
    """ADVICE r10: a retried epoch must not double-count.
    (a) retry AFTER commit: _SUCCESS present -> no-op, state unchanged
        even when fed a duplicate batch;
    (b) retry after a TORN write: part dir without _SUCCESS -> the
        merge recomputes from the previous COMMITTED version, never
        reading its own torn output."""
    import shutil

    from slowlog2clickhouse_spark.operators.slowlog_ops import hist_quantiles
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        committed_state_versions,
        merge_pctl_partial,
        run_pctl_merge_stream,
    )

    base = str(tmp_path / "pctl_retry")
    run_pctl_merge_stream(spark, base)
    vs = committed_state_versions(base)
    assert len(vs) >= 2, vs
    last = vs[-1]
    final_path = f"{base}/state_v{last}"
    truth = {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(spark.read.parquet(final_path)).collect()
    }
    assert truth == _pctl_batch_truth(spark)

    # (a) committed-epoch retry with a duplicate batch: must be a no-op
    dupe = spark.read.parquet(final_path).select(
        "digest", F.col("bucket").alias("bucket")
    )  # any rows would double-count if merged
    merge_pctl_partial(spark, base, dupe, last)
    after = {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(spark.read.parquet(final_path)).collect()
    }
    assert after == truth

    # (b) torn-write retry: wipe the final part's _SUCCESS (simulating
    # a crash mid-write), replay the real epoch partial -> recomputes
    # from state_v{last-1} and lands back on the truth
    prev = spark.read.parquet(f"{base}/state_v{vs[-2]}")
    cur = spark.read.parquet(final_path)
    # reconstruct the epoch's batch partial = final - prev (counts as
    # per-row multiplicity: explode n back into rows)
    delta = (
        cur.withColumnRenamed("n", "n_cur")
        .join(prev.withColumnRenamed("n", "n_prev"), ["digest", "bucket"], "left")
        .withColumn("n_d", F.col("n_cur") - F.coalesce("n_prev", F.lit(0)))
        .where(F.col("n_d") > 0)
        .select("digest", "bucket", F.explode(F.expr("sequence(1, n_d)")).alias("_i"))
        .select("digest", "bucket")
    ).localCheckpoint()
    shutil.rmtree(final_path)
    fake_torn = f"{final_path}/part-torn.parquet"
    import os

    os.makedirs(final_path, exist_ok=True)
    open(fake_torn, "w").close()
    assert committed_state_versions(base)[-1] == vs[-2]
    merge_pctl_partial(spark, base, delta, last)
    redone = {
        r["digest"]: (r["num_timed"], r["p50_est"], r["p95_est"])
        for r in hist_quantiles(spark.read.parquet(final_path)).collect()
    }
    assert redone == truth


def test_pctl_merge_scheme_qualified_base(spark, tmp_path):
    """DFS-portability pin for the pctl state dir (r14 ADVICE, closed
    structurally in r15): the whole state lifecycle — listing,
    committed-epoch skip, retain-GC — runs against a SCHEME-QUALIFIED
    base (``file:/...``), the URI shape an hdfs:// or s3a:// deployment
    passes. The pre-r15 os.path/os.listdir/shutil form failed every leg
    on such a base: the listing found nothing (every epoch recomputed
    from scratch), the committed-epoch check missed (retries re-merged),
    and the GC deleted nothing (parts accumulated unbounded)."""
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        committed_state_versions,
        merge_pctl_partial,
    )

    local = tmp_path / "pctl_scheme"
    base = "file:" + str(local)
    sch = "digest string, bucket int"
    b0 = spark.createDataFrame([("d1", 3), ("d1", 3), ("d2", 7)], sch)
    b1 = spark.createDataFrame([("d1", 3)], sch)

    merge_pctl_partial(spark, base, b0, 0, retain=2)
    assert committed_state_versions(base) == [0]
    merge_pctl_partial(spark, base, b1, 1, retain=2)
    merge_pctl_partial(spark, base, b1, 2, retain=2)
    # the retain-2 GC genuinely deleted v0 through the fs handle —
    # check BOTH through the API and on the raw local directory
    assert committed_state_versions(base) == [1, 2]
    assert not (local / "state_v0").exists()
    want = {("d1", 3): 4, ("d2", 7): 1}  # b0 + b1 + b1, addition-merged
    got = {
        (r["digest"], r["bucket"]): r["n"]
        for r in spark.read.parquet(f"{base}/state_v2").collect()
    }
    assert got == want
    # committed-epoch retry via the fs.exists branch: replaying epoch 2
    # with a DIFFERENT batch must be a no-op (if the skip missed, the
    # merge would recompute v2 as v1 + b0 = {d1:5, d2:2})
    merge_pctl_partial(spark, base, b0, 2, retain=2)
    got2 = {
        (r["digest"], r["bucket"]): r["n"]
        for r in spark.read.parquet(f"{base}/state_v2").collect()
    }
    assert got2 == want


def test_slowlog_tail_restart_no_loss_no_dup(spark, tmp_path):
    """The growing-file tail reader's exactly-once contract on ONE file:
    kill the query between grows, restart against the same checkpoint
    — the parquet sink must hold exactly the fixture's events (offset
    replay via partitions(start, end), no loss, no dup, torn tail
    flushed by the sentinel record)."""
    import re

    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    src = str(tmp_path / "slow.log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    txt = open(FIXTURE_LOG).read()
    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    mid = starts[len(starts) // 2]
    with open(src, "w") as f:
        f.write(txt[:mid])

    def run_query():
        return (
            spark.readStream.format("slowlog_tail_multi")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    q = run_query()
    q.processAllAvailable()
    q.stop()  # kill between grows

    with open(src, "a") as f:
        f.write(txt[mid:])
        f.write(
            "\n# Time: 2030-01-01T00:00:00.000000Z\n"
            "# Query_time: 0.000001  Lock_time: 0.000000 "
            "Rows_sent: 0  Rows_examined: 0\n"
        )
    q = run_query()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out)
    want = parse_slowlog(spark, FIXTURE_LOG)
    assert got.count() == want.count()
    g = sorted(
        (r["ts"], r["query"], r["query_time"]) for r in got.collect()
    )
    w = sorted(
        (r["ts"], r["query"], r["query_time"]) for r in want.collect()
    )
    assert g == w


def test_slowlog_tail_detects_shrink_below_head_n(spark, tmp_path):
    """The r11 advisor's probe: copytruncate where the new incarnation
    regrows to a size >= the stale offset but < head_n. head_n was <=
    the file size at checkpoint time, so size < head_n itself proves a
    shrink; skipping the hash check here left the reader at a stale
    offset inside the NEW file (torn/garbage records)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        _plan_file_range,
        _stamp_file,
    )

    src = str(tmp_path / "slow.log")
    with open(src, "w") as f:
        f.write("x" * 30)  # new incarnation: 30 bytes
    # checkpointed offset from an incarnation that was >= 64 bytes:
    # head_n=64 <= size-at-checkpoint, pos anywhere <= head_n. The
    # direct probe from ADVICE.md: size=30 satisfies pos <= size <
    # head_n, so the pre-r11 code skipped the hash check and planned
    # no reset — stale-offset reads from the new file. The decision
    # now lives in the ONE planner the tail reader uses.
    off = {"pos": 10, "head": "deadbeef", "head_n": 64}
    plan = _plan_file_range(src, off, _stamp_file(src))
    assert plan is not None and plan["reset"] is True
    # and the boundary cases still behave: size >= head_n goes through
    # the hash check (mismatching head -> truncated)
    with open(src, "w") as f:
        f.write("x" * 80)
    plan = _plan_file_range(src, off, _stamp_file(src))
    assert plan is not None and plan["reset"] is True  # head hash differs
    # a genuinely same-incarnation file (head matches, the committed
    # boundary still present, new growth past it) is NOT truncated —
    # note e.pos < s.pos with a MATCHING head is still a reset: a
    # committed boundary cannot disappear under append-only growth,
    # so its absence proves truncate+regrow behind an identical
    # >=64-byte preamble
    import hashlib

    with open(src, "w") as f:
        f.write("x" * 64 + "\n# Time: 2024-01-01T00:00:01.000000Z\nSELECT 1;\n")
    off2 = dict(off, head=hashlib.md5(b"x" * 64).hexdigest())
    plan = _plan_file_range(src, off2, _stamp_file(src))
    assert plan is not None and plan["reset"] is False
    assert plan["pos"] == 10  # resumes at the committed offset


def test_slowlog_tail_salvage_only_batch_advances_offset(spark, tmp_path):
    """Salvage with NO complete record in the new file yet must still
    advance the offset past the reset — otherwise every poll would
    re-salvage and re-emit the same rows (duplicate emission). The
    tail reader is pointed at ONE file."""
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    src = str(tmp_path / "slow.log")
    with open(src, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": src})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    with open(src, "a") as f:
        f.write(_mk_rec(2))
    shutil.copyfile(src, src + ".1")
    with open(src, "w") as f:
        f.write("# Time: 2024-01-01T00:00:09.000000Z\n# Query_time: 0.5")  # torn

    rows2, off2 = _multi_plan(r, off)
    # salvaged: the previously held-back terminator record (complete
    # now — the rotated copy is final) + SELECT 2
    assert len(rows2) == 2
    assert _queries(rows2) == ["SELECT 2"]
    # the offset moved onto the new incarnation: its stamp, byte 0
    # (no complete record in it yet)
    assert off2["files"][src]["head"] != off["files"][src]["head"]
    assert off2["files"][src]["pos"] == 0
    # next poll from off2: no re-salvage, no duplicates
    rows3, _ = _multi_plan(r, off2)
    assert rows3 == []


def test_tail_follow_append_mode_emits_closed_windows(spark, tmp_path):
    """The tail --follow topology (watermarked APPEND sink — bounded
    state, r11 review fix): windows the 5-minute watermark has closed
    are appended exactly once and match the batch aggregation for the
    same windows."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    register(spark)
    src = str(tmp_path / "slow.log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    txt = open(FIXTURE_LOG).read()
    with open(src, "w") as f:
        f.write(txt)
        f.write(
            "\n# Time: 2030-01-01T00:00:00.000000Z\n"
            "# Query_time: 0.000001  Lock_time: 0.000000 "
            "Rows_sent: 0  Rows_examined: 0\n"
        )
    events = (
        spark.readStream.format("slowlog_tail_multi").option("path", src).load()
    )
    q = (
        stream_classes(events)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    # two triggers: batch 1 ingests + advances the watermark past the
    # fixture's windows (the year-2030 sentinel), batch 2 emits them
    q.processAllAvailable()
    q.stop()

    got = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "watermark never closed any window"
    ev = parse_slowlog(spark, FIXTURE_LOG).where(
        ~F.col("admin") & F.col("query").isNotNull()
    )
    want_all = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in ev.groupBy(
            F.date_trunc("minute", "ts").alias("period_start"), "digest"
        )
        .agg(
            F.count("*").alias("num_queries"),
            F.round(F.sum("query_time"), 6).alias("m_query_time_sum"),
        )
        .collect()
    }
    # every emitted (window, digest) row must equal the batch value,
    # and no row may be emitted twice (parquet append + exactly-once)
    for k, v in got.items():
        assert want_all[k] == v, k


# ---------------------------------------------------------------------------
# Fleet tail: SlowlogMultiTailStreamReader (partitioned, per-file offsets)
# ---------------------------------------------------------------------------

import os  # noqa: E402  (fleet-tail tests build log trees on disk)


def _mk_rec(i: int, pad: str = "") -> str:
    return (
        f"# Time: 2024-01-01T00:00:{i % 60:02d}.000000Z\n"
        "# Query_time: 0.5  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
        f"SELECT {i}{pad};\n"
    )


_TERM = "# Time: 2030-01-01T00:00:00.000000Z\n# Query_time: 0.1\n"


def _multi_plan(reader, start):
    """One manual micro-batch: latestOffset + partitions + read all."""
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    rows = [t for p in parts for t in reader.read(p)]
    return rows, end


def _queries(rows):
    return sorted(
        q for t in rows for q in t if isinstance(q, str) and q.startswith("SELECT")
    )


def test_multi_tail_restart_no_loss_no_dup(spark, tmp_path):
    """Kill-and-restart over TWO concurrently growing files against
    one checkpoint: the union of the fleet tail's emissions must equal
    the batch parse of both full files — per-file offsets replayed via
    partitions(start, end), no loss, no dup."""
    import re

    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    logs = str(tmp_path / "logs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(logs)
    txt = open(FIXTURE_LOG).read()
    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    mid = starts[len(starts) // 2]
    a, b = txt[:mid], txt[mid:]
    a_mid = starts[len(starts) // 4]
    b_mid = starts[3 * len(starts) // 4] - mid
    with open(f"{logs}/a.log", "w") as f:
        f.write(a[:a_mid])
    with open(f"{logs}/b.log", "w") as f:
        f.write(b[:b_mid])

    def run_query():
        return (
            spark.readStream.format("slowlog_tail_multi")
            .option("path", logs)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    q = run_query()
    q.processAllAvailable()
    q.stop()  # kill between grows

    sent = (
        "\n# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    with open(f"{logs}/a.log", "a") as f:
        f.write(a[a_mid:] + sent)
    with open(f"{logs}/b.log", "a") as f:
        f.write(b[b_mid:] + sent)
    q = run_query()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out).where(F.col("query").isNotNull())
    want = parse_slowlog(spark, FIXTURE_LOG).where(F.col("query").isNotNull())
    g = sorted((r["ts"], r["query"], r["query_time"]) for r in got.collect())
    w = sorted((r["ts"], r["query"], r["query_time"]) for r in want.collect())
    assert g == w
    # provenance: both files contributed
    assert got.select("source_file").distinct().count() == 2


def test_multi_tail_holds_back_torn_record_per_file(spark, tmp_path):
    """Per-file torn-tail hold-back: a record still being written in
    one file must not block or leak while the other file emits."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(1) + _mk_rec(2))
        f.write("# Time: 2024-01-01T00:00:03.000000Z\n# Query_time: 0.5")  # torn
    with open(logs / "b.log", "w") as f:
        f.write(_mk_rec(7) + _TERM)

    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, end = _multi_plan(r, r.initialOffset())
    # the torn third record's own header is the boundary that completes
    # rec 2; only the torn record itself is held back
    assert _queries(rows) == ["SELECT 1", "SELECT 2", "SELECT 7"]
    # deterministic replay: partitions(start, end) again -> same rows
    parts = r.partitions(r.initialOffset(), end)
    replay = [t for p in parts for t in r.read(p)]
    assert sorted(map(repr, replay)) == sorted(map(repr, rows))
    # finishing a.log's torn record + new header flushes 2, 3
    with open(logs / "a.log", "a") as f:
        f.write("  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\nSELECT 3;\n")
        f.write(_TERM)
    rows2, end2 = _multi_plan(r, end)
    assert _queries(rows2) == ["SELECT 3"]


def test_multi_tail_copytruncate_one_file_with_salvage(spark, tmp_path):
    """copytruncate hits ONE file of the fleet: its unread tail is
    salvaged from <path>.1 (head-stamp verified), the offset resets for
    that file only, and the untouched file keeps its offset."""
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(1) + _TERM)
    with open(logs / "b.log", "w") as f:
        f.write(_mk_rec(5) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1", "SELECT 5"]

    # a.log: two more complete records land, then logrotate copytruncates
    with open(logs / "a.log", "a") as f:
        f.write(_mk_rec(2) + _mk_rec(3))
    shutil.copyfile(logs / "a.log", str(logs / "a.log") + ".1")
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(8) + _TERM)

    rows2, off2 = _multi_plan(r, off)
    assert _queries(rows2) == ["SELECT 2", "SELECT 3", "SELECT 8"]
    # b.log contributed nothing (no growth), and its offset is unchanged
    b_key = str(logs / "b.log")
    assert off2["files"][b_key] == off["files"][b_key]
    # reset-spanning replay reproduces the batch, salvage included
    parts = r.partitions(off, off2)
    replay = [t for p in parts for t in r.read(p)]
    assert sorted(map(repr, replay)) == sorted(map(repr, rows2))


def test_multi_tail_shard_option_partitions_fleet(spark, tmp_path):
    """r13 VERDICT #7: the fleet-width ceiling is the offset dict in
    the checkpoint log (~142 B/file/batch), and the remedy is
    .option("shard", "i/n") — N independent streams over a stable
    hash-partition of the file set. Pinned here: (a) the n shards are
    DISJOINT and their union is the whole fleet; (b) sharded readers
    together emit exactly the unsharded reader's rows; (c) a rotated
    sibling follows its base into the same shard (no cross-shard
    salvage orphan); (d) each shard's offset dict carries only its
    slice."""
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    width = 12
    for i in range(width):
        with open(logs / f"host_{i:02d}.log", "w") as f:
            f.write(_mk_rec(i) + _TERM)

    full = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows_full, off_full = _multi_plan(full, full.initialOffset())

    n = 3
    shards = [
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": f"{i}/{n}"})
        for i in range(n)
    ]
    seen: list = []
    sizes = []
    for r in shards:
        rows, off = _multi_plan(r, r.initialOffset())
        seen += rows
        sizes.append(len(off["files"]))
        # (d) offsets carry only this shard's slice
        assert set(off["files"]) <= set(off_full["files"])
    # (a) disjoint cover — every file in exactly one shard
    assert sum(sizes) == len(off_full["files"]) == width
    # (b) same rows, no loss, no dup
    assert sorted(map(repr, seen)) == sorted(map(repr, rows_full))

    # (c) rotation history stays with its base's shard: rotate one file
    victim = str(logs / "host_00.log")
    owner = next(
        i for i, r in enumerate(shards) if r._in_shard(victim)
    )
    with open(victim, "a") as f:
        f.write(_mk_rec(50))
    shutil.copyfile(victim, victim + ".1")
    with open(victim, "w") as f:
        f.write(_mk_rec(60) + _TERM)
    for i, r in enumerate(shards):
        assert r._in_shard(victim + ".1") == (i == owner)
    # the non-owner shards must not tail the sibling as a fleet member
    for i, r in enumerate(shards):
        assert (victim + ".1") not in r._files()

    # bad shard specs fail loudly
    import pytest

    with pytest.raises(ValueError):
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": "3/3"})
    with pytest.raises(ValueError):
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": "x"})


# fleet fixture for the two re-shard tests: md5(basename) assigns
# exactly 3 files to every n=4 shard (and 6/6 at n=2), so each
# retained stream keeps half its files across a 2->4 migration and
# loses the other half to a fresh shard — both contract legs live
_RESHARD_FLEET = [
    "node_000.log", "node_001.log", "node_002.log", "node_003.log",
    "node_004.log", "node_005.log", "node_006.log", "node_007.log",
    "node_010.log", "node_013.log", "node_014.log", "node_025.log",
]


def test_multi_tail_reshard_contract(spark, tmp_path):
    """r14 VERDICT #6 + ADVICE: what happens when .option("shard",
    "i/n") CHANGES across a restart. Pins the documented contract
    (datasource shard-option comment block):

      (a) the last committed old-spec batch replays byte-identically
          under the new spec — partitions(start, end) plans every file
          in the offsets, deliberately NOT shard-filtered;
      (b) out-of-shard entries restored from the old checkpoint are
          NOT re-primed into the carry ledger — the next latestOffset
          emits only this shard's slice (no frozen dead weight riding
          the offset dict for _MISS_LIMIT polls);
      (c) a file that moved INTO this shard has no offset entry here,
          so it re-ingests from byte 0 — duplicates, never loss — and
          dedup on (source_file, incarnation, record_no) restores
          exactly-once vs the full-fleet golden;
      (d) fresh-checkpoint migration: the new n'=4 shards still cover
          the fleet disjointly and their union equals the unsharded
          read."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        _FIELDS,
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    # curated names: md5 assigns exactly 3 files to every n=4 shard
    # (6/6 at n=2) — with a naive host_%02d fixture the whole fleet
    # lands in shards 2 and 3 at n=4 and the retained-shard legs below
    # pass vacuously on empty offset sets
    names = _RESHARD_FLEET
    width = len(names)
    for i, nm in enumerate(names):
        with open(logs / nm, "w") as f:
            f.write(_mk_rec(i) + _TERM)

    # era 1: two shards at n=2 drain the fleet from earliest
    old = [
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": f"{i}/2"})
        for i in range(2)
    ]
    era1_by_shard = []
    era1_ends = []
    for r in old:
        rows, end = _multi_plan(r, r.initialOffset())
        era1_by_shard.append(rows)
        era1_ends.append(end)
    era1_rows = era1_by_shard[0] + era1_by_shard[1]

    # fleet grows after the old processes stop
    for i, nm in enumerate(names):
        with open(logs / nm, "a") as f:
            f.write(_mk_rec(100 + i) + _TERM)

    # era 2: restart at n=4. Streams 0 and 1 RETAIN their old-spec
    # checkpoints (start offsets = era-1 end offsets); 2 and 3 are
    # fresh (startAt=earliest so the contract's dedup leg is visible).
    new = [
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": f"{i}/4"})
        for i in range(4)
    ]

    # (a) replay of the committed old-spec batch is byte-identical
    # under the new spec — including rows from files the new spec no
    # longer owns (planning is not shard-filtered)
    replay = [
        t
        for p in new[0].partitions({"files": {}}, era1_ends[0])
        for t in new[0].read(p)
    ]
    assert sorted(map(repr, replay)) == sorted(map(repr, era1_by_shard[0]))
    assert any(not new[0]._in_shard(t[-2]) for t in replay), (
        "test fixture too weak: no file moved out of shard 0 at 2->4"
    )

    # (b) after the replay primes the ledger, the next poll's offsets
    # carry ONLY in-shard files — no out-of-shard dead weight
    for i in (0, 1):
        # simulate Spark's restart sequence: partitions(start, end)
        # with the retained checkpoint, then a fresh poll
        new[i].partitions({"files": {}}, era1_ends[i])
        off = new[i].latestOffset()
        assert off["files"], "retained shard unexpectedly owns no files"
        assert all(new[i]._in_shard(p) for p in off["files"]), (
            "out-of-shard entries leaked into the post-reshard offsets"
        )
        assert all(new[i]._in_shard(p) for p in new[i]._known)

    # (c)+(d) run one batch on every new shard: retained checkpoints
    # for 0/1 (their era-1 end offsets), fresh for 2/3
    era2_rows: list = []
    era2_offs = []
    for i, r2 in enumerate(new):
        start = era1_ends[i] if i < 2 else r2.initialOffset()
        rows, off = _multi_plan(r2, start)
        era2_rows += rows
        era2_offs.append(off)
    # disjoint cover at n=4
    assert sum(len(o["files"]) for o in era2_offs) == width
    # the union of both eras, deduped on the structural idempotency
    # key, equals the unsharded full read — duplicates, never loss
    full = SlowlogMultiTailStreamReader({"path": str(logs)})
    golden, _ = _multi_plan(full, full.initialOffset())
    rno_i = _FIELDS.index("record_no")
    key = lambda t: (t[-2], t[-1], t[rno_i])  # noqa: E731
    seen = {key(t): t for t in era1_rows + era2_rows}
    assert sorted(map(repr, seen.values())) == sorted(map(repr, golden))
    # and duplicates genuinely occurred (moved-in files re-ingested
    # from byte 0) — the dedup leg is load-bearing, not vacuous
    assert len(era1_rows + era2_rows) > len(golden)


def test_multi_tail_reshard_any_width(spark, tmp_path):
    """The reshard no-loss invariant generalized beyond 2->4: for any
    (n_old -> n_new) migration — shrink, grow, non-divisor, from/to
    unsharded — the union of era-1 (old spec, from earliest) and era-2
    (new spec; every stream restarts on era-1's END offsets as its
    retained checkpoint when the old width had a stream of that index,
    else fresh) deduped on (source_file, incarnation, record_no)
    equals the unsharded golden. Non-divisor widths are the hard case:
    files move between shards in BOTH directions at once."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        _FIELDS,
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    for i, nm in enumerate(_RESHARD_FLEET):
        with open(logs / nm, "w") as f:
            f.write(_mk_rec(i) + _TERM)

    def mk(i: int, n: int):
        opts = {"path": str(logs)}
        if n > 1:
            opts["shard"] = f"{i}/{n}"
        return SlowlogMultiTailStreamReader(opts)

    rno_i = _FIELDS.index("record_no")

    def key(t):
        return (t[-2], t[-1], t[rno_i])

    grown = False
    for n_old, n_new in ((2, 3), (3, 2), (4, 6), (1, 4), (4, 1)):
        # era 1 at n_old
        era1_rows, era1_ends = [], []
        for i in range(n_old):
            rows, end = _multi_plan(mk(i, n_old), mk(i, n_old).initialOffset())
            era1_rows += rows
            era1_ends.append(end)
        if not grown:  # grow once so era-2 has genuinely new bytes
            for i, nm in enumerate(_RESHARD_FLEET):
                with open(logs / nm, "a") as f:
                    f.write(_mk_rec(200 + i) + _TERM)
            grown = True
        # era 2 at n_new: stream i retains checkpoint i if it existed
        era2_rows, covered = [], 0
        for i in range(n_new):
            r2 = mk(i, n_new)
            start = era1_ends[i] if i < n_old else r2.initialOffset()
            rows, off = _multi_plan(r2, start)
            era2_rows += rows
            covered += len(off["files"])
        assert covered == len(_RESHARD_FLEET), (n_old, n_new, covered)
        golden, _ = _multi_plan(mk(0, 1), mk(0, 1).initialOffset())
        seen = {key(t): t for t in era1_rows + era2_rows}
        assert sorted(map(repr, seen.values())) == sorted(
            map(repr, golden)
        ), f"reshard {n_old}->{n_new} lost or corrupted rows"
        # duplicates genuinely occur in every migration here (moved or
        # fresh shards re-read bytes an old shard already emitted) —
        # the dedup leg above is load-bearing, not vacuous
        assert len(era1_rows) + len(era2_rows) > len(golden), (n_old, n_new)


def test_multi_tail_reshard_real_checkpoints(spark, tmp_path):
    """The re-sharding contract through REAL Spark streaming restore
    (the sibling test drives the planner by hand; this one lets
    Spark's own commit/offset logs do it). Era 1: two streams at n=2
    drain the fleet to parquet sinks with real checkpoints. The fleet
    grows. Era 2: restart at n=4 — streams 0,1 RETAIN their old-spec
    checkpoints+sinks (the 'changed the option in place' migration),
    streams 2,3 start fresh from earliest. Fixture names are chosen so
    every n=4 shard owns 3 files: each retained stream keeps 3 of its
    6 era-1 files (still-owned tailing leg) and loses 3 to a fresh
    shard (re-ingest leg). Pinned: the union of all four sinks,
    deduped on (source_file, incarnation, record_no), equals the
    unsharded golden — duplicates occurred (fresh shards re-read
    era-1 bytes) but nothing was lost, and the retained streams
    resumed from their committed offsets (their sinks carry each
    still-owned file's era-2 record exactly once)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        _FIELDS,
        SlowlogMultiTailStreamReader,
        register,
    )

    register(spark)
    logs = tmp_path / "logs"
    os.makedirs(logs)
    names = _RESHARD_FLEET  # 3 files per n=4 shard (see above)
    for i, nm in enumerate(names):
        with open(logs / nm, "w") as f:
            f.write(_mk_rec(i) + _TERM)

    def run_stream(shard: str, tag: str) -> None:
        q = (
            spark.readStream.format("slowlog_tail_multi")
            .option("path", str(logs))
            .option("shard", shard)
            .load()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / f"out{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(processingTime="1 second")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    for i in range(2):  # era 1 at n=2
        run_stream(f"{i}/2", str(i))
    for i, nm in enumerate(names):  # the fleet grows between eras
        with open(logs / nm, "a") as f:
            f.write(_mk_rec(100 + i) + _TERM)
    for i in range(2):  # era 2: retained checkpoints, new spec
        run_stream(f"{i}/4", str(i))
    for i in (2, 3):  # era 2: the new shards, fresh from earliest
        run_stream(f"{i}/4", str(i))

    union = spark.read.parquet(*(str(tmp_path / f"out{i}") for i in range(4)))
    key = ["source_file", "incarnation", "record_no"]
    got = {
        (r["source_file"], r["incarnation"], r["record_no"], r["query"])
        for r in union.dropDuplicates(key).collect()
    }
    # golden: the unsharded fleet read over both eras' full content
    full = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, _ = _multi_plan(full, full.initialOffset())
    rno_i, q_i = _FIELDS.index("record_no"), _FIELDS.index("query")
    want = {(t[-2], t[-1], t[rno_i], t[q_i]) for t in rows}
    assert got == want
    # duplicates genuinely occurred: fresh shards re-read era-1 bytes
    assert union.count() > len(want)
    # the retained streams resumed (not re-ingested): each still-owned
    # file's era-2 record appears EXACTLY once in its own sink
    for i in range(2):
        own = spark.read.parquet(str(tmp_path / f"out{i}"))
        r2 = own.where(F.col("query").rlike("^SELECT 1[0-1][0-9]$"))
        per_file = {
            r["source_file"]: r["n"]
            for r in r2.groupBy("source_file").agg(
                F.count("*").alias("n")
            ).collect()
        }
        assert per_file and all(n == 1 for n in per_file.values()), per_file


def test_multi_tail_incarnation_disambiguates_record_no(spark, tmp_path):
    """r13 VERDICT #5: the (source_file, record_no) hazard is now
    STRUCTURAL — every fleet-tail row carries the ``incarnation`` head
    stamp of the file incarnation its bytes came from, derived from
    the committed offsets alone. Across a copytruncate rotation the
    same (source_file, record_no) pair genuinely repeats (byte offsets
    reset with the file), but (source_file, incarnation, record_no)
    stays unique; salvage-leg rows carry the OLD incarnation's stamp
    and live-leg rows the new one. Replay determinism: re-reading the
    same planned partitions yields identical stamps."""
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        _FIELDS,
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    # both incarnations put their first record at byte 0 with the same
    # record_no — the collision the incarnation column must break
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows1, off1 = _multi_plan(r, r.initialOffset())

    with open(logs / "a.log", "a") as f:
        f.write(_mk_rec(2))
    shutil.copyfile(logs / "a.log", str(logs / "a.log") + ".1")
    with open(logs / "a.log", "w") as f:
        # different content => different head stamp for the new
        # incarnation (the identical-preamble blind spot is tested
        # elsewhere and shared with rotation detection itself)
        f.write(_mk_rec(9) + _TERM)
    rows2, off2 = _multi_plan(r, off1)
    assert sorted(_queries(rows1 + rows2)) == [
        "SELECT 1", "SELECT 2", "SELECT 9",
    ]

    rno_i = _FIELDS.index("record_no")
    all_rows = rows1 + rows2
    # schema tail: (..., source_file, incarnation)
    pairs = [(t[-2], t[rno_i]) for t in all_rows]
    triples = [(t[-2], t[-1], t[rno_i]) for t in all_rows]
    assert len(set(pairs)) < len(pairs)  # the documented collision is real
    assert len(set(triples)) == len(triples)  # the stamp breaks it
    assert all(t[-1] for t in all_rows)  # every row is stamped
    # the old incarnation contributed rows under two legs in batch 2
    # (salvage of SELECT 2) and they carry the OLD stamp, distinct
    # from the new incarnation's
    stamps2 = {t[-1] for t in rows2}
    assert len(stamps2) == 2
    # replay of the same offsets reproduces identical stamped rows
    parts = r.partitions(off1, off2)
    replay = [t for p in parts for t in r.read(p)]
    assert sorted(map(repr, replay)) == sorted(map(repr, rows2))


def test_multi_tail_detects_regrow_past_offset(spark, tmp_path):
    """The hard copytruncate case per file: the new incarnation regrows
    PAST the stale offset between polls — head-stamp must reset."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]
    old_pos = off["files"][str(logs / "a.log")]["pos"]

    pad = " /* regrown content longer than before " + "x" * 200 + " */"
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(8, pad) + _mk_rec(9, pad) + _TERM)
    assert os.path.getsize(logs / "a.log") > old_pos  # size check would miss

    rows2, off2 = _multi_plan(r, off)
    assert sorted(_queries(rows2)) == [f"SELECT 8{pad}", f"SELECT 9{pad}"]
    # reset-spanning replay: same records, not empty
    parts = r.partitions(off, off2)
    replay = [t for p in parts for t in r.read(p)]
    assert sorted(map(repr, replay)) == sorted(map(repr, rows2))


def test_multi_tail_discovers_new_file(spark, tmp_path):
    """A new mysqld joining the fleet mid-stream: its file appears in
    the offset dict and is read from byte 0."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    with open(logs / "a.log", "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    with open(logs / "c.log", "w") as f:
        f.write(_mk_rec(4) + _TERM)
    rows2, off2 = _multi_plan(r, off)
    assert _queries(rows2) == ["SELECT 4"]
    assert str(logs / "c.log") in off2["files"]


def test_multi_tail_follow_append_mode_emits_closed_windows(spark, tmp_path):
    """The fleet reader through the tail --follow topology (watermarked
    APPEND sink): windows closed by the 5-minute watermark are emitted
    exactly once across BOTH files and match the batch aggregation."""
    import re

    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    register(spark)
    logs = tmp_path / "logs"
    os.makedirs(logs)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    txt = open(FIXTURE_LOG).read()
    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    mid = starts[len(starts) // 2]
    sent = (
        "\n# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    with open(logs / "a.log", "w") as f:
        f.write(txt[:mid] + sent)
    with open(logs / "b.log", "w") as f:
        f.write(txt[mid:] + sent)

    events = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", str(logs))
        .load()
        .drop("source_file")
    )
    q = (
        stream_classes(events)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "watermark never closed any window"
    ev = parse_slowlog(spark, FIXTURE_LOG).where(
        ~F.col("admin") & F.col("query").isNotNull()
    )
    want_all = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in ev.groupBy(
            F.date_trunc("minute", "ts").alias("period_start"), "digest"
        )
        .agg(
            F.count("*").alias("num_queries"),
            F.round(F.sum("query_time"), 6).alias("m_query_time_sum"),
        )
        .collect()
    }
    # every emitted (window, digest) row equals the batch value over
    # the UNION of both files; parquet append + exactly-once => no row
    # twice
    for k, v in got.items():
        assert want_all[k] == v, k


def test_single_tail_detects_rename_rotation_identical_preamble(spark, tmp_path):
    """logrotate create/rename with an identical >=64-byte preamble on
    ONE tailed file: the head hash alone cannot see the rotation (both
    incarnations hash equal), the planner's inode comparison must — and
    the salvage leg must accept the renamed ORIGINAL at <path>.1 by its
    head hash even though the new live file carries the same head
    bytes (r12 code-review find)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    # identical 100-byte preamble on every incarnation (mysqld banner)
    preamble = ("# mysqld, Version: 8.0.36 started with: Tcp port: 3306" ).ljust(99, "#") + "\n"
    src = str(tmp_path / "slow.log")
    with open(src, "w") as f:
        f.write(preamble + _mk_rec(1) + _mk_rec(2))
    r = SlowlogMultiTailStreamReader({"path": src})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]  # rec 2 is the torn tail
    e = off["files"][src]
    assert int(e["ino"]) != 0

    # create/rename rotation: our inode moves to .1, the new file gets
    # the SAME preamble and regrows past the stale offset
    os.rename(src, src + ".1")
    pad = " /* regrown well past the old offset " + "x" * 200 + " */"
    with open(src, "w") as f:
        f.write(preamble + _mk_rec(8, pad) + _mk_rec(9, pad) + _TERM)
    assert os.path.getsize(src) > int(e["pos"])
    # head hash of the first 64 bytes is IDENTICAL across incarnations
    assert open(src, "rb").read(64) == open(src + ".1", "rb").read(64)

    rows2, off2 = _multi_plan(r, off)
    qs = _queries(rows2)
    # salvage recovered rec 2 from the renamed original (head hash),
    # and the new incarnation was read from byte 0 (reset, not stale)
    assert qs == ["SELECT 2", f"SELECT 8{pad}", f"SELECT 9{pad}"], qs
    assert off2["files"][src]["ino"] != e["ino"]
    # salvage rows carry the old incarnation's stamp, live rows the new
    assert len({t[-1] for t in rows2}) == 2


def test_multi_tail_excludes_rotated_siblings_from_glob(spark, tmp_path):
    """A broad glob must not tail slow.log.1 as its own fleet member
    when slow.log is being tailed (it is that file's rotation history,
    not another mysqld)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    with open(logs / "slow.log", "w") as f:
        f.write(_mk_rec(1) + _TERM)
    with open(logs / "slow.log.1", "w") as f:
        f.write(_mk_rec(7) + _TERM)  # rotated history: must NOT be tailed
    with open(logs / "other.log", "w") as f:
        f.write(_mk_rec(3) + _TERM)

    r = SlowlogMultiTailStreamReader({"path": str(logs / "*")})
    files = r._files()
    assert str(logs / "slow.log.1") not in files
    assert str(logs / "slow.log") in files and str(logs / "other.log") in files
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1", "SELECT 3"]
    # but a lone .1 with no live base IS tailed (it's all there is)
    os.remove(logs / "slow.log")
    r2 = SlowlogMultiTailStreamReader({"path": str(logs / "slow*")})
    assert r2._files() == [str(logs / "slow.log.1")]


def test_multi_tail_stat_failure_carries_offset_forward(spark, tmp_path, monkeypatch):
    """A transient stat failure must not drop a file from the offset
    dict — dropping it would make the next successful poll treat the
    file as new and re-ingest it from byte 0 (r12 code-review find)."""
    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    logs = tmp_path / "logs"
    os.makedirs(logs)
    a = str(logs / "a.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = ds.SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    real_stat = ds.os.stat

    def flaky(path, *args, **kwargs):
        if str(path) == a:
            raise OSError("transient NFS hiccup")
        return real_stat(path, *args, **kwargs)

    # os.stat is the FIRST touch (the stat-unchanged fast path), so the
    # hiccup must be injected there — getsize is never reached for an
    # unchanged file
    monkeypatch.setattr(ds.os, "stat", flaky)
    rows2, off2 = _multi_plan(r, off)
    monkeypatch.setattr(ds.os, "stat", real_stat)
    # the entry survived the hiccup — carried UNCHANGED (the aging miss
    # counter is driver-side only, r12 ADVICE) — and nothing re-emitted
    assert off2["files"][a] == off["files"][a]
    assert list(rows2) == []
    # after recovery, growth resumes from the carried offset
    with open(a, "a") as f:
        f.write(_mk_rec(2) + _TERM)
    rows3, off3 = _multi_plan(r, off2)
    assert _queries(rows3) == ["SELECT 2"]


def test_multi_tail_engine_restart_across_copytruncate(spark, tmp_path):
    """ENGINE-level (not reader-level) recovery across a rotation: a
    real streaming query drains batch 1, is killed, one file is
    copytruncated (with sibling kept) and regrown, then the query
    restarts from the checkpoint. partitions(start, end) must re-plan
    the reset-spanning batch deterministically: salvage rows + the
    new incarnation, no loss, no dup."""
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    register(spark)
    logs = tmp_path / "logs"
    os.makedirs(logs)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    a = str(logs / "a.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)

    def run_query():
        return (
            spark.readStream.format("slowlog_tail_multi")
            .option("path", str(logs))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    q = run_query()
    q.processAllAvailable()
    q.stop()  # kill

    # two unread complete records land, then logrotate copytruncates
    with open(a, "a") as f:
        f.write(_mk_rec(2) + _mk_rec(3))
    shutil.copyfile(a, a + ".1")
    with open(a, "w") as f:
        f.write(_mk_rec(8) + _TERM)

    q = run_query()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out)
    qs = sorted(
        r["query"] for r in got.collect() if r["query"] is not None
    )
    # SELECT 1 from batch 1; 2+3 salvaged from the sibling; 8 from the
    # new incarnation; the pre-rotation terminator record (query NULL)
    # flushes via salvage — nothing lost, nothing twice
    assert qs == ["SELECT 1", "SELECT 2", "SELECT 3", "SELECT 8"], qs


def test_multi_tail_mount_flap_carries_all_offsets(spark, tmp_path):
    """An NFS mount flap (the whole directory vanishes from the glob
    for a few polls) must not reset the fleet: every file's offset is
    carried with an aging miss counter and consumption resumes where
    it left off on remount — no re-ingest from byte 0."""
    import os as _os

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    for i in (1, 5):
        with open(logs / f"h{i}.log", "w") as f:
            f.write(_mk_rec(i) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs / "*.log")})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1", "SELECT 5"]

    hidden = str(tmp_path / "hidden")
    _os.rename(logs, hidden)  # mount flap: glob sees nothing
    rows2, off2 = _multi_plan(r, off)
    assert list(rows2) == []
    assert set(off2["files"]) == set(off["files"])  # carried, not dropped
    # carried entries are emitted UNCHANGED (r12 ADVICE): identical
    # consecutive offsets let Spark suppress empty micro-batches; the
    # aging miss counter lives only in the driver-side ledger
    assert off2["files"] == off["files"]
    rows3, off3 = _multi_plan(r, off2)
    assert off3["files"] == off["files"]
    assert all("miss" not in e for e in off3["files"].values())

    _os.rename(hidden, logs)  # remount; one file also grew meanwhile
    with open(logs / "h1.log", "a") as f:
        f.write(_mk_rec(2) + _TERM)
    rows4, off4 = _multi_plan(r, off3)
    assert _queries(rows4) == ["SELECT 2"]  # resumed, nothing re-ingested
    assert all("miss" not in e or not e["miss"] for e in off4["files"].values())


def test_multi_tail_vanished_file_entry_expires(spark, tmp_path, monkeypatch):
    """A file absent past _MISS_LIMIT consecutive polls ages out of the
    offset dict (bounded state for a churning fleet)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    a = str(logs / "a.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    monkeypatch.setattr(SlowlogMultiTailStreamReader, "_MISS_LIMIT", 3)
    r = SlowlogMultiTailStreamReader({"path": str(logs / "*.log")})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]
    os.remove(a)
    for expect_present, n in ((True, 1), (True, 2), (True, 3), (False, 4)):
        rows_n, off = _multi_plan(r, off)
        assert (a in off["files"]) is expect_present, (n, off)


def test_tail_start_at_latest_skips_backlog(spark, tmp_path):
    """startAt=latest (`tail -F` semantics): the existing backlog is
    skipped — its bulk-load is the batch reader's job — and only
    post-start appends are emitted; rotation detection still works
    from the stamped initial offset."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    src = str(logs / "a.log")
    with open(src, "w") as f:
        f.write(_mk_rec(1) + _mk_rec(2) + _TERM)  # the backlog

    m = SlowlogMultiTailStreamReader({"path": str(logs), "startat": "latest"})
    moff = m.initialOffset()
    assert src in moff["files"] and int(moff["files"][src]["pos"]) > 0
    rows3, moff2 = _multi_plan(m, moff)
    assert _queries(rows3) == []  # everything before start skipped
    with open(src, "a") as f:
        f.write(_mk_rec(11) + _TERM)
    rows4, _ = _multi_plan(m, moff2)
    assert _queries(rows4) == ["SELECT 11"]

    # default stays earliest
    r2 = SlowlogMultiTailStreamReader({"path": src})
    rows5, _ = _multi_plan(r2, r2.initialOffset())
    assert "SELECT 1" in _queries(rows5)

    with pytest.raises(ValueError, match="startAt"):
        SlowlogMultiTailStreamReader({"path": src, "startat": "yesterday"})


def test_multi_tail_orphan_sibling_stays_excluded_after_expiry(
    spark, tmp_path, monkeypatch
):
    """Decommissioned host: after the base's carried offset entry ages
    out (_MISS_LIMIT), its still-present rotated sibling must STAY
    excluded from the fleet — re-ingesting rotation history as a new
    member would be wholesale duplication (r12 third-review find)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    a = str(logs / "slow.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    with open(a + ".1", "w") as f:
        f.write(_mk_rec(7) + _TERM)  # rotation history from before

    monkeypatch.setattr(SlowlogMultiTailStreamReader, "_MISS_LIMIT", 2)
    r = SlowlogMultiTailStreamReader({"path": str(logs / "*")})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]  # .1 excluded while base live

    os.remove(a)  # host decommissioned; history file remains
    for _ in range(4):  # well past _MISS_LIMIT=2 — entry has aged out
        rows_n, off = _multi_plan(r, off)
        assert _queries(rows_n) == [], off
    assert a not in off["files"]  # carried entry expired
    # ...but the orphan .1 still never joins the fleet in this run
    assert str(logs / "slow.log.1") not in off["files"]


def test_tail_routed_streamed_classes_equal_batch_on_adversarial_corpus(
    spark, tmp_path
):
    """r12 VERDICT #2 done-criterion: classes computed over the TAIL
    stream with routed fingerprinting must hash-equal the ROUTED BATCH
    classes on the adversarial fingerprint corpus fed through the tail
    fixture (grow-drain dance) — the state-machine-exact guarantee now
    reaches the stream path. Teeth: the same corpus classed with the
    pure codegen chain DIFFERS, so the equality is not vacuous — the
    corpus genuinely exercises chain-divergent constructs."""
    import re

    import pandas as pd

    from slowlog2clickhouse_spark.functions.fingerprint import (
        construct_flags_py,
        digest_col,
        fingerprint_col,
        routed_fingerprint,
    )
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register

    corpus = pd.read_parquet(
        os.path.join(
            os.path.dirname(__file__), "fixtures", "golden",
            "fingerprint_corpus.parquet",
        )
    )
    # keep statements embeddable in the slow-log record format: a line
    # starting with '#' inside a statement would be eaten as metadata
    qs = [
        q
        for q in corpus["query"]
        if "\r" not in q and not re.search(r"(?m)^#", q)
    ]
    assert len(qs) >= 70  # near-total corpus coverage
    flagged = sum(1 for q in qs if any(construct_flags_py(q).values()))
    assert flagged >= 30  # the chain-divergent constructs are present

    recs = [
        f"# Time: 2024-01-01T00:{i // 60:02d}:{i % 60:02d}.000000Z\n"
        "# Query_time: 0.5  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
        f"{q};\n"
        for i, q in enumerate(qs)
    ]
    sentinel = (
        "# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    src = str(tmp_path / "slow.log")
    mid = len(recs) // 2
    with open(src, "w") as f:
        f.write("".join(recs[:mid]))

    register(spark)
    name = "adv_tail_corpus"
    q = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", src)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src, "a") as f:
            f.write("".join(recs[mid:]) + sentinel)
        q.processAllAvailable()
    finally:
        q.stop()

    def classes(df, routed=True):
        ev = df.where(~F.col("admin") & F.col("query").isNotNull())
        if routed:
            ev = routed_fingerprint(ev, "query", "fingerprint")
        else:
            ev = ev.withColumn("fingerprint", fingerprint_col(F.col("query")))
        return ev.groupBy(digest_col(F.col("fingerprint")).alias("digest")).agg(
            F.count("*").alias("n"), F.min("fingerprint").alias("fp")
        )

    streamed = sorted(tuple(r) for r in classes(spark.table(name)).collect())
    batch_df = spark.read.format("slowlog").load(src)
    batch = sorted(tuple(r) for r in classes(batch_df).collect())
    assert streamed == batch  # hash-equal: stream path is routed-exact
    assert sum(n for _, n, _ in streamed) == len(qs)  # no loss, no dup
    chain = sorted(tuple(r) for r in classes(batch_df, routed=False).collect())
    assert {d for d, _, _ in chain} != {d for d, _, _ in streamed}


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_stream_classes_routed_inside_microbatch_equals_routed_batch(
    spark, tmp_path
):
    """ADVICE r13 #3: the exact fingerprint must be exercised WHERE
    the claim is made — executing INSIDE a live micro-batch, not
    applied after-the-fact to a memory-sink table. The adversarial
    corpus is drained through stream_classes as the RUNNING streaming
    query (tail source with the parser's state-machine digest →
    watermarked window agg → memory sink) across two micro-batches
    (grow-drain dance), and the emitted state must row-equal the same
    stream_classes topology executed in batch over the same log.
    Teeth: chain-fingerprinted batch classes DIFFER on digests, so the
    state machine demonstrably ran under streaming execution on the
    flagged slice."""
    import re

    import pandas as pd

    from slowlog2clickhouse_spark.functions.fingerprint import (
        construct_flags_py,
    )
    from slowlog2clickhouse_spark.sources.slowlog import with_fingerprint
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    corpus = pd.read_parquet(
        os.path.join(
            os.path.dirname(__file__), "fixtures", "golden",
            "fingerprint_corpus.parquet",
        )
    )
    qs = [
        q
        for q in corpus["query"]
        if "\r" not in q and not re.search(r"(?m)^#", q)
    ]
    flagged = sum(1 for q in qs if any(construct_flags_py(q).values()))
    assert flagged >= 30  # the Arrow branch gets real streaming work

    recs = [
        f"# Time: 2024-01-01T00:{i // 60:02d}:{i % 60:02d}.000000Z\n"
        "# Query_time: 0.5  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
        f"{q};\n"
        for i, q in enumerate(qs)
    ]
    sentinel = (
        "# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    src = str(tmp_path / "slow.log")
    mid = len(recs) // 2
    with open(src, "w") as f:
        f.write("".join(recs[:mid]))

    register(spark)
    name = "adv_stream_classes_routed"
    q = (
        stream_classes(
            spark.readStream.format("slowlog_tail_multi").option("path", src).load()
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src, "a") as f:
            f.write("".join(recs[mid:]) + sentinel)
        q.processAllAvailable()
    finally:
        q.stop()

    cols = [
        "period_start",
        "digest",
        "num_queries",
        "m_query_time_sum",
        "m_query_time_max",
        "fingerprint",
    ]
    streamed = _rows(spark.table(name), cols)
    batch_events = spark.read.format("slowlog").load(src)
    batch = _rows(stream_classes(batch_events), cols)
    assert streamed == batch  # exact digests under streaming exec
    assert sum(r[2] for r in streamed) == len(qs)  # no loss, no dup
    chain = _rows(stream_classes(with_fingerprint(batch_events, "chain")), cols)
    assert {r[1] for r in chain} != {r[1] for r in streamed}


def test_multi_tail_stat_fastpath_and_same_size_copytruncate(
    spark, tmp_path, monkeypatch
):
    """r12 VERDICT #3: an idle poll must not re-stamp unchanged files
    (one os.stat each, no open/hash/tail-scan), and the fast path's
    blind spot must be exactly the stat triple: a copytruncate that
    lands at the IDENTICAL size is still caught by the mtime_ns leg
    (and create/rename by the inode leg)."""
    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    logs = tmp_path / "logs"
    os.makedirs(logs)
    a = str(logs / "a.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = ds.SlowlogMultiTailStreamReader({"path": str(logs)})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    stamped = []
    real_stamp = ds._stamp_file
    monkeypatch.setattr(
        ds, "_stamp_file", lambda *a_, **k: (stamped.append(a_[0]), real_stamp(*a_, **k))[1]
    )
    rows2, off2 = _multi_plan(r, off)
    assert list(rows2) == []
    assert stamped == []  # idle poll: the cached stamp was reused
    assert off2["files"] == off["files"]

    # same-size copytruncate: identical byte count, different content —
    # the size leg is blind, mtime_ns must catch it. The new content
    # differs inside the first 64 bytes (the timestamp) so the
    # re-stamp also SEES the new incarnation — a same-size rewrite
    # whose first 64 bytes AND boundary layout are identical is the
    # offset contract's own documented blind spot, not the fast
    # path's.
    old = open(a).read()
    new = old.replace("SELECT 1", "SELECT 7").replace("00:00:01", "00:00:07")
    assert len(new) == len(old)
    st0 = os.stat(a)
    with open(a, "w") as f:
        f.write(new)
    # force a visible mtime change even on coarse-granularity clocks
    os.utime(a, ns=(st0.st_mtime_ns + 1_000_000, st0.st_mtime_ns + 1_000_000))
    rows3, off3 = _multi_plan(r, off2)
    assert a in stamped  # fast path missed: the file was re-stamped
    assert _queries(rows3) == ["SELECT 7"]  # reset + re-read, not stale


def test_verified_range_salvage_reads_rotated_sibling_to_eof(tmp_path):
    """The salvage read is ``_verified_range(..., stop=None)``: it reads
    a rotated ``<path>.1`` from the committed offset to EOF iff the
    START stamp's head hash matches — a copytruncate COPY (new inode)
    or the renamed ORIGINAL (our inode) — and returns nothing for a
    sibling whose head differs, whatever its inode."""
    import hashlib
    import shutil

    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    p = str(tmp_path / "slow.log")
    content = (_mk_rec(1) + _mk_rec(2) + _TERM).encode()
    with open(p, "wb") as f:
        f.write(content)
    head_n = 64
    head = hashlib.md5(content[:head_n]).hexdigest()
    pos = len(_mk_rec(1))  # committed boundary: record 1 was emitted
    ino = os.stat(p).st_ino
    tail = content[pos:]

    # copytruncate: .1 is a COPY (new inode, same bytes) — head leg
    shutil.copyfile(p, p + ".1")
    assert os.stat(p + ".1").st_ino != ino
    assert ds._verified_range(p + ".1", head, head_n, pos, None) == (
        tail, pos, False, True,
    )

    # create/rename: .1 IS our inode and verifies by its head; a wrong
    # head on that same inode verifies nothing
    os.remove(p + ".1")
    os.rename(p, p + ".1")
    assert os.stat(p + ".1").st_ino == ino
    assert ds._verified_range(p + ".1", head, head_n, pos, None) == (
        tail, pos, False, True,
    )
    assert ds._verified_range(p + ".1", "0" * 32, head_n, pos, None) == (
        b"", pos, False, False,
    )

    # a sibling with another head (another incarnation's history)
    with open(p + ".other", "wb") as f:
        f.write((_mk_rec(7, pad=" -- other incarnation") + _TERM).encode())
    os.replace(p + ".other", p + ".1")
    assert ds._verified_range(p + ".1", head, head_n, pos, None) == (
        b"", pos, False, False,
    )


def test_read_planned_range_rejects_sibling_reusing_gone_inode(tmp_path):
    """A ``<path>.1`` whose inode number equals the start stamp's ``ino``
    but whose content is another file's (the stamped incarnation was
    deleted and its inode number reused) is not the start incarnation:
    the salvage leg returns nothing, and the live records are still
    read."""
    import hashlib

    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    p = str(tmp_path / "slow.log")
    gone = (_mk_rec(1) + _mk_rec(2) + _TERM).encode()
    with open(p + ".1", "wb") as f:
        f.write((_mk_rec(7, pad=" -- another incarnation") + _TERM).encode())
    with open(p, "wb") as f:
        f.write((_mk_rec(8) + _TERM).encode())
    start = {
        "pos": len(_mk_rec(1)),
        "head": hashlib.md5(gone[:64]).hexdigest(),
        "head_n": 64,
        "ino": os.stat(p + ".1").st_ino,
    }
    plan = ds._plan_file_range(p, start, ds._stamp_file(p))
    assert plan["reset"] and plan["sib_ino"] == start["ino"]
    sib_buf, _, live_buf, _, same = ds._read_planned_range(plan)
    assert sib_buf == b"" and not same
    assert live_buf == _mk_rec(8).encode()[:-1]  # up to the boundary's \n


def test_read_planned_range_empty_same_incarnation_skips_salvage(tmp_path):
    """r13 review find: when the end incarnation is located at <path>.1
    and ALSO matches the start stamp with nothing new to read (the
    spurious-reset no-op: e.pos == committed pos), the empty lifted
    range must still carry the same-incarnation verdict — otherwise
    the salvage leg re-reads [sib_pos, EOF) of the very incarnation
    just verified and its tail is emitted as duplicates."""
    import hashlib

    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    p = str(tmp_path / "slow.log")
    s_content = (_mk_rec(1) + _TERM).encode()
    with open(p + ".1", "wb") as f:
        f.write(s_content)  # the old incarnation S, rotated away
    with open(p, "wb") as f:
        f.write(b"# brand new incarnation with a different preamble\n")

    head_n = min(64, len(s_content))
    head = hashlib.md5(s_content[:head_n]).hexdigest()
    pos = s_content.rfind(b"\n# Time: ") + 1  # committed boundary
    plan = {
        "path": p,
        "pos": 0,
        "stop": pos,  # e was stamped on S right before the rotation
        "head": head,
        "head_n": head_n,
        "ino": 0,
        "reset": True,
        "sib_pos": pos,
        "sib_head": head,
        "sib_head_n": head_n,
        "sib_ino": 0,
    }
    sib_buf, _, live_buf, _, same = ds._read_planned_range(plan)
    assert same is True  # verdict survives the empty lifted range
    assert sib_buf == b"" and live_buf == b""  # no duplicate salvage


def test_single_tail_salvage_only_when_live_leg_unverifiable(
    spark, tmp_path, monkeypatch
):
    """The documented residual of the tail reader: a reset batch whose
    salvage succeeds but whose post-reset LIVE range fails
    verification on both candidates (the new incarnation raced away
    mid-read). Offsets are committed at plan time, so the live range
    is dropped, not retried. Pinned: the salvage rows are emitted
    exactly once, no bytes come from the failed leg, and the next
    poll emits no duplicates."""
    import shutil

    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    src = str(tmp_path / "slow.log")
    with open(src, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = ds.SlowlogMultiTailStreamReader({"path": src})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    # a complete record lands, then copytruncate keeps it in .1 and
    # the NEW incarnation arrives with its own complete record
    with open(src, "a") as f:
        f.write(_mk_rec(2))
    shutil.copyfile(src, src + ".1")
    with open(src, "w") as f:
        f.write(_mk_rec(8) + _TERM)

    # make every live-leg candidate read (a planned stop) fail
    # verification, leaving only the (independently verified) salvage
    # read to EOF (stop=None)
    real = ds._verified_range
    monkeypatch.setattr(
        ds,
        "_verified_range",
        lambda *a, **k: (b"", 0, False, False) if a[4] is not None else real(*a, **k),
    )
    rows2, off2 = _multi_plan(r, off)
    monkeypatch.setattr(ds, "_verified_range", real)
    # salvage only (the terminator flushed rec 2); every row carries
    # the OLD incarnation's stamp — nothing came from the failed leg
    assert _queries(rows2) == ["SELECT 2"]
    sib = off["files"][src]
    assert {t[-1] for t in rows2} == {f"{sib['head']}@{sib['ino']}"}
    # the plan committed the new incarnation's range: the next poll
    # re-salvages nothing and SELECT 8 is the documented loss
    rows3, _ = _multi_plan(r, off2)
    assert rows3 == []


def test_multi_tail_restart_during_outage_keeps_positions(spark, tmp_path):
    """r13 second-review find: a process restart whose FIRST poll races
    an outage (mount not back: glob sees nothing) must not permanently
    drop the checkpointed positions — the first partitions() call
    re-primes the carry ledger from the START offset (once per
    process), so on remount consumption resumes where it left off
    instead of re-ingesting every file from byte 0."""
    import os as _os

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    a = str(logs / "h1.log")
    with open(a, "w") as f:
        f.write(_mk_rec(1) + _TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs / "*.log")})
    rows, off = _multi_plan(r, r.initialOffset())
    assert _queries(rows) == ["SELECT 1"]

    # process restart during a mount flap: fresh reader, empty glob
    hidden = str(tmp_path / "hidden")
    _os.rename(logs, hidden)
    r2 = SlowlogMultiTailStreamReader({"path": str(logs / "*.log")})
    rows2, off2 = _multi_plan(r2, off)  # start = the checkpointed offset
    assert list(rows2) == []
    # partitions() ran the one-shot cold re-prime, so the NEXT poll's
    # offset carries the checkpointed position (the first poll itself
    # ran before the start offset was visible — real call order)
    rows2b, off2b = _multi_plan(r2, off2)
    assert list(rows2b) == []
    assert a in off2b["files"] and off2b["files"][a] == off["files"][a]

    _os.rename(hidden, logs)  # remount; the file grew meanwhile
    with open(a, "a") as f:
        f.write(_mk_rec(2) + _TERM)
    rows3, _ = _multi_plan(r2, off2b)
    assert _queries(rows3) == ["SELECT 2"]  # resumed, no re-ingest


def test_stamp_cached_accepts_append_race_rejects_rotation(tmp_path, monkeypatch):
    """r13 third-review find: a pure append racing the stamp scan must
    NOT invalidate the stamp (a continuously-written hot file would
    starve into permanent misses and eventually age out + re-ingest);
    a rotation racing the scan (inode change / shrink / changed head)
    must still be rejected as a transient miss."""
    from slowlog2clickhouse_spark.sources import slowlog_datasource as ds

    p = str(tmp_path / "slow.log")
    with open(p, "w") as f:
        f.write(_mk_rec(1) + _TERM)

    # simulate "append lands during every scan": _stamp_file appends
    # to the file as a side effect before returning
    real_stamp = ds._stamp_file

    def appending_stamp(path, head_bytes=64):
        st = real_stamp(path, head_bytes)
        with open(path, "a") as f:
            f.write(_mk_rec(2) + _TERM)
        return st

    cache = {}
    monkeypatch.setattr(ds, "_stamp_file", appending_stamp)
    st = ds._stamp_file_cached(p, cache, 64)
    monkeypatch.setattr(ds, "_stamp_file", real_stamp)
    assert st is not None  # append race accepted: the tail makes progress
    assert st["pos"] > 0
    assert p not in cache  # but the stale triple was not pinned

    # rotation racing the scan: the scan's boundary belongs to the OLD
    # content while the head hash reads the NEW — must be rejected.
    # Each mid-scan rotation writes DISTINCT content: a rewrite that
    # reproduces the previous bytes is indistinguishable from no
    # mutation and a stamp of it is genuinely valid.
    rot = [0]

    def rotating_stamp(path, head_bytes=64):
        st2 = real_stamp(path, head_bytes)
        rot[0] += 1
        with open(path, "w") as f:  # truncate+rewrite mid-scan
            f.write(f"# fresh incarnation {rot[0]}, different preamble\n" * 50)
        return st2

    cache2 = {}
    monkeypatch.setattr(ds, "_stamp_file", rotating_stamp)
    st2 = ds._stamp_file_cached(p, cache2, 64)
    monkeypatch.setattr(ds, "_stamp_file", real_stamp)
    assert st2 is None  # torn stamp rejected: transient miss, retry next poll


def test_multi_tail_offset_entry_size_bounded(spark, tmp_path):
    """Fleet-width canary: the multi-tail's binding cost at scale IS
    the per-file offset entry (~142 B measured, x fleet width, x every
    micro-batch into the checkpoint offset+commit logs — SCALING.md
    r13/r14). A field quietly added to the entry would multiply
    checkpoint churn for every deployment; pin the serialized size and
    the exact key set so growth is a deliberate, reviewed decision."""
    import json

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    # realistic path length + a large-offset file so digits are honest
    p = logs / "mysql-slow-production-host-0001.log"
    with open(p, "w") as f:
        for i in range(200):
            f.write(_mk_rec(i))
        f.write(_TERM)
    r = SlowlogMultiTailStreamReader({"path": str(logs)})
    off = r.latestOffset()
    (path, entry), = off["files"].items()
    assert set(entry) == {"pos", "head", "head_n", "ino"}, entry
    per_entry = len(json.dumps({path: entry}, separators=(",", ":")))
    assert per_entry <= 200, (
        f"per-file offset entry grew to {per_entry} B — at 5k files and "
        "a 5 s trigger every 10 B here is ~0.9 GB/day of checkpoint "
        "churn per stream; shrink it or re-justify the ceiling in "
        "SCALING.md and the shard-option comment"
    )


def test_state_fs_degrades_without_jvm_gateway(monkeypatch, tmp_path):
    """ADVICE r15 #3: under Spark Connect, getActiveSession() returns a
    session WITHOUT a _jvm/_jsc gateway — _state_fs must degrade to the
    (None, None) local-path branch (same as session-less callers), not
    raise AttributeError. Pin it with a gateway-less stand-in, and pin
    that committed_state_versions then serves the os.path fallback."""
    import pyspark.sql

    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        _state_fs,
        committed_state_versions,
    )

    class _Connectish:  # no _jvm, no _jsc — the Connect surface shape
        pass

    monkeypatch.setattr(
        pyspark.sql.SparkSession,
        "getActiveSession",
        classmethod(lambda cls: _Connectish()),
    )
    assert _state_fs(str(tmp_path)) == (None, None)

    part = tmp_path / "state_v3"
    part.mkdir()
    (part / "_SUCCESS").touch()
    (tmp_path / "state_v4").mkdir()  # torn write: no _SUCCESS
    assert committed_state_versions(str(tmp_path)) == [3]


def test_fleet_union_dedup_restores_exactly_once(spark, tmp_path):
    """VERDICT r15 #4: the reshard contract's exactly-once recipe,
    promoted to fleet_union_dedup — the LIBRARY call, fed the same
    2->4 migration fixture as test_multi_tail_reshard_contract, must
    reproduce the unsharded golden through real DataFrames."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        MULTI_EVENT_SCHEMA,
        SlowlogMultiTailStreamReader,
    )
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        FLEET_DEDUP_KEY,
        fleet_union_dedup,
    )

    logs = tmp_path / "logs"
    os.makedirs(logs)
    for i, nm in enumerate(_RESHARD_FLEET):
        with open(logs / nm, "w") as f:
            f.write(_mk_rec(i) + _TERM)

    # era 1: n=2 drains the fleet; era 2: restart at n=4 after growth,
    # shards 0/1 retain their checkpoints, 2/3 start fresh (byte-0
    # re-ingest of moved-in files -> duplicates)
    old = [
        SlowlogMultiTailStreamReader({"path": str(logs), "shard": f"{i}/2"})
        for i in range(2)
    ]
    era1_rows, era1_ends = [], []
    for r in old:
        rows, end = _multi_plan(r, r.initialOffset())
        era1_rows += rows
        era1_ends.append(end)
    for i, nm in enumerate(_RESHARD_FLEET):
        with open(logs / nm, "a") as f:
            f.write(_mk_rec(100 + i) + _TERM)
    era2_rows = []
    for i in range(4):
        r2 = SlowlogMultiTailStreamReader(
            {"path": str(logs), "shard": f"{i}/4"}
        )
        start = era1_ends[i] if i < 2 else r2.initialOffset()
        rows, _ = _multi_plan(r2, start)
        era2_rows += rows

    full = SlowlogMultiTailStreamReader({"path": str(logs)})
    golden, _ = _multi_plan(full, full.initialOffset())
    assert len(era1_rows + era2_rows) > len(golden), (
        "fixture too weak: the migration produced no duplicates, the "
        "dedup leg would pass vacuously"
    )

    df1 = spark.createDataFrame(era1_rows, MULTI_EVENT_SCHEMA)
    df2 = spark.createDataFrame(era2_rows, MULTI_EVENT_SCHEMA)
    got = fleet_union_dedup(df1, df2)
    key = [*FLEET_DEDUP_KEY]
    assert sorted(map(repr, got.select(*key).collect())) == sorted(
        map(repr, spark.createDataFrame(golden, MULTI_EVENT_SCHEMA)
            .select(*key).collect())
    )
    assert got.count() == len(golden)


def test_fleet_union_dedup_validates_inputs(spark):
    """No streams, or a pre-r14 capture without the incarnation
    column, must fail loudly — a silent pass-through would quietly
    double-count across a migration."""
    import pytest

    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        fleet_union_dedup,
    )

    with pytest.raises(ValueError, match="at least one"):
        fleet_union_dedup()
    pre_r14 = spark.createDataFrame(
        [("a.log", 0)], "source_file string, record_no long"
    )
    with pytest.raises(ValueError, match="incarnation"):
        fleet_union_dedup(pre_r14)


def test_fleet_union_dedup_streaming_with_watermark(spark, tmp_path):
    """The one-query streaming shape: two sharded sources unioned and
    deduped inside a single query via dropDuplicatesWithinWatermark
    (bounded state), drained with availableNow — row multiset equals
    the unsharded golden classes' input."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
        register,
    )
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        fleet_union_dedup,
    )

    register(spark)
    logs = tmp_path / "logs"
    os.makedirs(logs)
    for i, nm in enumerate(_RESHARD_FLEET):
        with open(logs / nm, "w") as f:
            f.write(_mk_rec(i) + _TERM)

    shards = [
        spark.readStream.format("slowlog_tail_multi")
        .option("path", str(logs))
        .option("shard", f"{i}/2")
        .load()
        for i in range(2)
    ]
    dedup = fleet_union_dedup(*shards, watermark=("ts", "10 minutes"))
    assert dedup.isStreaming
    name = f"fleet_union_{os.getpid()}"
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = spark.table(name)
    full = SlowlogMultiTailStreamReader({"path": str(logs)})
    golden, _ = _multi_plan(full, full.initialOffset())
    assert got.count() == len(golden)
    # disjoint cover -> no row was deduped away; the key is unique
    assert got.select("source_file", "incarnation", "record_no").distinct().count() == len(golden)
