"""Routed-ingest scale probe (VERDICT r11 #5): events/s of the
fingerprint paths on a ×N real-format slow log.

`slowlog_classes_routed` was only ever measured on the 983-event
fixture; this probe scales the REAL log (the committed mysql-format
fixture, timestamp-shifted per copy so classes keep their shape) to
×50 and times the full ingest — parse → fingerprint → digest →
class aggregation — for each mode:

  parse   : the product path — the parser's own state-machine digest
  chain   : the parser's digest replaced by the codegen'd
            regexp_replace chain
  routed  : replaced by the masked routing — clean rows chain,
            flagged rows Arrow UDF

Output: one table row per mode (events, wall, ev/s) plus the flagged
slice share — the headline ingest number a 100 TB user asks first.
Results are recorded in SCALING.md.

Usage: python scripts/routed_ingest_probe.py [mult]   (default 50)
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(mult: int) -> str:
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG

    txt = open(FIXTURE_LOG).read()
    out = os.path.join(
        tempfile.gettempdir(), f"routed_probe_x{mult}", "slow.log"
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        return out
    with open(out, "w") as f:
        for i in range(mult):
            # shift the year per copy so repeated records stay distinct
            # events (same digests, new timestamps — the realistic
            # shape: one workload running for N days)
            f.write(
                re.sub(r"# Time: 20(\d\d)-", f"# Time: 21{i % 90:02d}-", txt)
            )
    return out


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.session import ensure_compat
    from slowlog2clickhouse_spark.sources.slowlog import (
        parse_slowlog,
        with_fingerprint,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("routed_ingest_probe")
        .getOrCreate()
    )
    ensure_compat(spark)
    spark.sparkContext.setLogLevel("ERROR")

    path = build_corpus(mult)
    size_mb = os.path.getsize(path) / 1e6

    def ingest(mode: str) -> float:
        t0 = time.time()
        ev = parse_slowlog(spark, path)
        if mode != "parse":
            ev = with_fingerprint(ev, mode=mode)
        ev = ev.where(
            (~F.col("admin")) & F.col("query").isNotNull()
        )
        n = (
            ev.groupBy("digest")
            .agg(F.count("*").alias("n"), F.sum("query_time").alias("qt"))
            .agg(F.sum("n"))
            .collect()[0][0]
        )
        return time.time() - t0, n

    # flagged share (one scan of the construct detectors)
    from slowlog2clickhouse_spark.functions.fingerprint import construct_flags

    ev = parse_slowlog(spark, path).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    flags = construct_flags(F.col("query"))
    flagged_expr = None
    for c in flags.values():
        flagged_expr = c if flagged_expr is None else (flagged_expr | c)
    stats = ev.agg(
        F.count("*").alias("n"),
        F.sum(flagged_expr.cast("int")).alias("flagged"),
    ).collect()[0]
    print(
        f"corpus: x{mult} = {size_mb:.1f} MB, {stats['n']} events, "
        f"flagged slice {stats['flagged']}/{stats['n']} "
        f"({100.0 * stats['flagged'] / stats['n']:.1f}%)"
    )

    print(f"{'mode':8s} {'events':>8s} {'wall':>8s} {'ev/s':>9s}  (median of 3 warm)")
    for mode in ("parse", "chain", "routed"):
        ingest(mode)  # warm-up
        walls = []
        n = 0
        for _ in range(3):
            w, n = ingest(mode)
            walls.append(w)
        wall = statistics.median(walls)
        print(f"{mode:8s} {n:8d} {wall:8.2f} {n / wall:9.0f}")
    spark.stop()


if __name__ == "__main__":
    main()
