"""Fleet tail throughput probe: N growing slow-log files drained via
the partitioned slowlog_tail_multi reader (availableNow batch through
the same class-agg topology as `tail --log <dir>`).

Measures events/s for the fleet shape — per-file byte offsets planned
on the driver, parsing fanned out across executors — versus the r11
numbers of the former driver-side single-file reader (SCALING.md),
since removed: `tail --log FILE` now runs on this reader. Each file
is a timestamp-shifted copy of the committed fixture plus a sentinel.

Usage: python scripts/fleet_tail_probe.py [n_files] [copies_per_file]
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.session import ensure_compat
    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("fleet_tail_probe")
        .getOrCreate()
    )
    ensure_compat(spark)
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)

    base = os.path.join("/tmp", f"fleet_probe_{n_files}x{copies}")
    logs = os.path.join(base, "logs")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(logs)
    txt = open(FIXTURE_LOG).read()
    sentinel = (
        "\n# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    total_bytes = 0
    for i in range(n_files):
        p = os.path.join(logs, f"host_{i:03d}.log")
        with open(p, "w") as f:
            for c in range(copies):
                f.write(
                    re.sub(
                        r"# Time: 20(\d\d)-",
                        f"# Time: 21{(i * copies + c) % 90:02d}-",
                        txt,
                    )
                )
            f.write(sentinel)
        total_bytes += os.path.getsize(p)

    events = (
        spark.readStream.format("slowlog_tail_multi")
        .option("path", logs)
        .load()
        .drop("source_file")
    )
    classes = stream_classes(events)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")

    def sink(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(out)

    t0 = time.time()
    q = (
        classes.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    n = (
        spark.read.parquet(out)
        .agg(F.sum("num_queries"))
        .collect()[0][0]
    )
    print(
        f"fleet: {n_files} files x{copies} = {total_bytes / 1e6:.1f} MB, "
        f"{n} events, drain {wall:.1f} s, {n / wall:.0f} ev/s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
