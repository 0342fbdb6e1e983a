"""Command-line interface — the reference's binary surface, Spark-run.

The reference is invoked as a CLI (parse a slow log, aggregate query
classes, load ClickHouse — main.go flag surface [R:M]); this module is
the drop-in shape over the same plan functions the operator registry
uses, so "a user of the reference" can run the pipeline without
writing Python:

    python -m slowlog2clickhouse_spark ingest --log slow.log \\
        --out /data/classes                      # parquet MergeTree-layout sink
    python -m slowlog2clickhouse_spark ingest --log slow.log \\
        --jdbc-url jdbc:clickhouse://ch:8123/db --table queries
    python -m slowlog2clickhouse_spark digest --log slow.log --top 10
    python -m slowlog2clickhouse_spark ingest --log slow.log --print-ddl \\
        --table queries                          # ClickHouse DDL, no write
    python -m slowlog2clickhouse_spark stream --log-dir /var/log/slow/ \\
        --out /data/classes_stream --checkpoint /data/_ckpt
    python -m slowlog2clickhouse_spark tail --log /var/log/mysql/slow.log \\
        --out /data/classes_live --checkpoint /data/_tail_ckpt --follow
    python -m slowlog2clickhouse_spark dedup --data-dir /data/sf --out /data/keep
    python -m slowlog2clickhouse_spark curate --data-dir /data/sf --out /data/report

`ingest` = parse → fingerprint → per-(digest, period) stat battery →
sink (exactly plans/pipeline.ingest_slowlog — the oracle-checked path).
`digest` = the pt-query-digest-style report: totals + top-K classes by
total query time, printed to stdout, from one parse of the log.
Every slow-log subcommand keys classes by the digest the parser
computes with the state machine (sources/slowlog.parse_record), so
`ingest`, `digest`, `stream` and `tail` agree digest for digest.
`stream` = the same aggregation as an availableNow/continuous
foreachBatch stream over a growing log directory. The sink is an
idempotent FULL-STATE overwrite per micro-batch (complete output
mode, epoch stamped as a column): a retried epoch rewrites identical
content and a later drain supersedes an earlier one, so the output
dir always holds exactly one consistent snapshot — never partial
appends that double-count. Checkpointed, so restarts resume.

Everything here is a THIN argument parser over tested library
functions — no query logic lives in this module.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="slowlog2clickhouse_spark",
        description="MySQL slow-log -> query-class analytics on Spark",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="batch ingest: log -> classes -> sink")
    ing.add_argument("--log", required=True, help="slow-log file or directory")
    ing.add_argument("--out", help="output parquet directory")
    ing.add_argument("--jdbc-url", help="JDBC URL (e.g. jdbc:clickhouse://host:8123/db)")
    ing.add_argument("--table", default="queries", help="target table name")
    ing.add_argument(
        "--jdbc-driver", default="com.clickhouse.jdbc.ClickHouseDriver"
    )
    ing.add_argument(
        "--period", default="minute", choices=("minute", "hour", "day")
    )
    ing.add_argument(
        "--percentiles", default="exact", choices=("exact", "approx"),
        help="exact buffers per-group values; approx = sketch (100 TB)",
    )
    ing.add_argument(
        "--print-ddl", action="store_true",
        help="print the ClickHouse MergeTree DDL for the class schema and exit",
    )

    dig = sub.add_parser("digest", help="pt-query-digest-style stdout report")
    dig.add_argument("--log", required=True)
    dig.add_argument("--top", type=int, default=10)
    dig.add_argument(
        "--period", default="minute", choices=("minute", "hour", "day")
    )

    st = sub.add_parser("stream", help="streaming ingest of a growing log dir")
    st.add_argument("--log-dir", required=True)
    st.add_argument("--out", required=True, help="output parquet directory")
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--follow", action="store_true",
        help="keep running (default: availableNow — drain and exit)",
    )

    dd = sub.add_parser(
        "dedup", help="near-dup resolution over a documents table"
    )
    dd.add_argument(
        "--data-dir", required=True,
        help="directory holding documents.parquet",
    )
    dd.add_argument("--out", required=True, help="output parquet directory")
    dd.add_argument(
        "--method", default="keep_best",
        choices=("exact", "minhash", "keep_best"),
        help="exact = hash-groupBy survivors; minhash = LSH candidate "
        "pairs; keep_best = cluster + quality-keep decision per doc",
    )

    cu = sub.add_parser(
        "curate", help="corpus curation report over a documents table"
    )
    cu.add_argument("--data-dir", required=True)
    cu.add_argument("--out", required=True)

    tl = sub.add_parser(
        "tail",
        help="follow growing slow-log file(s) with per-file offsets "
        "and executor-side parsing (use `stream` for a directory of "
        "finished/rotated segments)",
    )
    tl.add_argument(
        "--log",
        required=True,
        help="the growing slow-log FILE, or a directory/glob of many "
        "(one per mysqld)",
    )
    tl.add_argument("--out", required=True, help="output parquet directory")
    tl.add_argument("--checkpoint", required=True)
    tl.add_argument(
        "--follow", action="store_true",
        help="keep running (default: drain what's currently complete and exit)",
    )
    tl.add_argument(
        "--from", dest="start_at", choices=("earliest", "latest"),
        default="earliest",
        help="earliest = include the existing backlog; latest = tail -F "
        "from now (bulk-load history with `ingest` first — the batch "
        "reader byte-splits within files and is the right tool for it)",
    )
    return p


def _get_spark():
    from slowlog2clickhouse_spark.session import get_session

    return get_session(app_name="slowlog2clickhouse_spark_cli")


def cmd_ingest(args) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.plans.pipeline import (
        ingest_slowlog,
        sink_classes_parquet,
    )
    from slowlog2clickhouse_spark.sinks.jdbc import clickhouse_ddl, write_jdbc

    if not args.print_ddl and not args.out and not args.jdbc_url:
        print("ingest: need --out and/or --jdbc-url (or --print-ddl)", file=sys.stderr)
        return 2
    classes = ingest_slowlog(
        _get_spark(), args.log, period=args.period, percentiles=args.percentiles
    )
    if args.print_ddl:
        print(clickhouse_ddl(classes, args.table))
        return 0
    if args.out:
        # the row count rides on the sink job itself: no re-read
        written = Observation("sink")
        sink_classes_parquet(
            classes.observe(written, F.count(F.lit(1)).alias("rows")), args.out
        )
        print(f"wrote {written.get['rows']} class rows -> {args.out}")
    if args.jdbc_url:
        write_jdbc(classes, args.jdbc_url, args.table, driver=args.jdbc_driver)
        print(f"wrote class rows -> {args.jdbc_url} {args.table}")
    return 0


def cmd_digest(args) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog, top_digests

    # the totals are sums over the class rows, observed in the same job
    # that ranks them: the log is parsed once
    totals = Observation("totals")
    classes = ingest_slowlog(_get_spark(), args.log, period=args.period).observe(
        totals,
        F.sum("num_queries").alias("n"),
        F.sum("m_query_time_sum").alias("qt"),
    )
    top = top_digests(classes, k=args.top).collect()
    total_n = totals.get["n"] or 0
    total_qt = totals.get["qt"] or 0.0
    print(f"# {total_n} queries, {total_qt:.3f}s total query time")
    print("# Rank  Calls      Time(s)   Worst(s)  Fingerprint")
    for i, r in enumerate(top, start=1):
        fp = (r["fingerprint"] or "")[:70]
        # a class whose every event lacked Query_time aggregates to
        # NULL sums/max — print 0.0 instead of crashing the report
        total_t = r["total_query_time"] if r["total_query_time"] is not None else 0.0
        worst_t = r["worst_query_time"] if r["worst_query_time"] is not None else 0.0
        print(
            f"{i:6d} {r['total_queries']:6d} {total_t:12.4f}"
            f" {worst_t:10.4f}  {fp}"
        )
    return 0


def _complete_snapshot_writer(classes, out: str, checkpoint: str):
    """complete mode + full-state overwrite per epoch: a retried
    micro-batch rewrites the same state, a later drain replaces the
    earlier one, so readers summing num_queries never double-count
    (same idempotent shape as stream_slowlog_to_jdbc's JDBC sink).
    The epoch column records which micro-batch produced the snapshot.
    Shared by `stream` and the non-follow `tail` drain.

    Guard (r11 advisor find): this writer OVERWRITES ``out``. If
    ``out`` was previously an append-mode file sink (``tail
    --follow`` writes there and leaves ``_spark_metadata``), a drain
    reusing the same --out would DELETE the history the append sink
    accumulated — append-mode state has already evicted closed
    windows, so the complete snapshot holds only leftover open
    windows — and leave a stale _spark_metadata behind. Refuse and
    demand a distinct --out instead."""
    import os

    if os.path.isdir(os.path.join(out, "_spark_metadata")):
        raise SystemExit(
            f"refusing to drain into {out!r}: it contains _spark_metadata "
            "from an append-mode (tail --follow) file sink; a complete-mode "
            "snapshot overwrite would delete the appended window history. "
            "Pass a distinct --out for the drain."
        )

    def sink_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(out)

    return (
        classes.writeStream.outputMode("complete")
        .foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint)
    )


def cmd_stream(args) -> int:
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        read_slowlog_stream,
        stream_classes,
    )

    spark = _get_spark()
    events = read_slowlog_stream(spark, args.log_dir)
    classes = stream_classes(events)
    writer = _complete_snapshot_writer(classes, args.out, args.checkpoint)
    if args.follow:
        q = writer.start()
        q.awaitTermination()
    else:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        print(f"drained -> {args.out}")
    return 0


def cmd_tail(args) -> int:
    """Tail the LIVE slow-log file(s) via the ``slowlog_tail_multi``
    Python Data Source stream reader — one file, a directory or a
    glob (per-file byte offsets, exactly-once; the in-flight torn
    record is held back until mysqld writes the next record header;
    rotation detected via the offset's head-hash + inode incarnation
    stamp).
    Events carry the parser's exact digest, the same one `ingest`
    writes, so `ingest` history + `tail --from latest` join cleanly.

    Two modes with DIFFERENT sink semantics, both r11 code-review
    driven:
    - drain (default): one bounded availableNow batch of what is
      complete right now, complete-mode snapshot overwrite, exit.
      (processAllAvailable would chase an actively-growing file
      forever — Spark documents it as able to block indefinitely.)
    - --follow: unbounded run, so complete mode is WRONG (state and
      per-trigger rewrite grow with uptime, and complete mode ignores
      the watermark so nothing is ever evicted). Follow mode uses the
      watermarked APPEND path: each 1-minute (window, digest) row is
      emitted exactly once when the 5-minute watermark closes it,
      appended to the parquet sink — bounded state however long the
      tail runs. Trade: a window's row appears only after the
      watermark passes; residual still-open windows can be flushed by
      restarting as a drain with the SAME --checkpoint but a
      DISTINCT --out (the snapshot holds only the leftover open
      windows — closed ones were already appended — and the drain
      guard refuses to overwrite the append sink's history; union
      the two outputs for the complete picture)."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    spark = _get_spark()
    register(spark)
    # stream_classes keys by digest — strip the reader's provenance
    # columns (file path + incarnation stamp)
    events = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", args.log)
        .option("startAt", args.start_at)
        .load()
        .drop("source_file", "incarnation")
    )
    classes = stream_classes(events)

    if args.follow:
        q = (
            classes.writeStream.outputMode("append")
            .format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", args.checkpoint)
            .trigger(processingTime="5 seconds")
            .start()
        )
        q.awaitTermination()
    else:
        writer = _complete_snapshot_writer(classes, args.out, args.checkpoint)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        print(f"drained -> {args.out}")
    return 0


def cmd_dedup(args) -> int:
    from slowlog2clickhouse_spark.registry import all_ops

    op_id = {
        "exact": "dedup_exact",
        "minhash": "dedup_minhash",
        "keep_best": "dedup_keep_best",
    }[args.method]
    spark = _get_spark()
    df = all_ops()[op_id].fn(spark, args.data_dir)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{op_id}: wrote {n} rows -> {args.out}")
    return 0


def cmd_curate(args) -> int:
    from slowlog2clickhouse_spark.registry import all_ops

    spark = _get_spark()
    ops = all_ops()
    report = ops["corpus_curation"].fn(spark, args.data_dir)
    report.write.mode("overwrite").parquet(args.out)
    print(f"corpus_curation: wrote {report.count()} rows -> {args.out}")
    for r in ops["llm_curation_funnel"].fn(spark, args.data_dir).collect():
        print(f"  funnel {r['stage']}: {r['n']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    return {
        "ingest": cmd_ingest,
        "digest": cmd_digest,
        "stream": cmd_stream,
        "tail": cmd_tail,
        "dedup": cmd_dedup,
        "curate": cmd_curate,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
