"""Router crossover probe (VERDICT r10 #6): wall time of the chain and
routed fingerprint modes as a function of the corpus' FLAGGED fraction.

fn_fingerprint_routed's payoff claim ("UDF tax only on the flagged
slice") is benchmarked only on the real-log fixture (4% flagged);
this probe sweeps the flagged share over an adversarial mix — 0 / 25 /
50 / 100% — on a x10-scale synthetic corpus (200k statements) and
records chain vs routed wall, so the routing tax is a measured curve
like the other frontiers (LSH bands, simhash radius, IVF-PQ).

Protocol: forced full materialization via the noop writer, 1 warmup +
3 timed reps per cell, warm median reported, persisted-RDD drop
between reps (bench.py's protocol).

Usage: python scripts/router_crossover_probe.py [n_rows]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import _drop_persisted_rdds, wait_for_idle  # noqa: E402
from slowlog2clickhouse_spark.session import get_session  # noqa: E402
from slowlog2clickhouse_spark.sources.slowlog import with_fingerprint  # noqa: E402

# printf-style %d templates: F.format_string is java.lang.String.format
# (a Python-style {} placeholder would pass through UNSUBSTITUTED and
# every row would be the same constant string — the r11 code review
# caught exactly that in the first version of this probe)
# clean: triggers NONE of the construct detectors (verified below)
_CLEAN = "select c1, c2 from orders where o_id = %d and status = 'open'"
# adversarial: doubled-quote escape — the chain's masked-string regime
_FLAGGED = "update t set note = 'it''s fine' where id = %d"
# long shape (~3 KB): the bulk-insert statements a real slow log is
# full of — where the per-row Python state machine cost dominates
_LONG_TAIL = ", ".join(f"({i}, 'v{i}')" for i in range(200))
_CLEAN_LONG = "insert into t (id, v) values " + _LONG_TAIL + " -- batch %d"
_FLAGGED_LONG = (
    "insert into t (id, v) values " + _LONG_TAIL + ", (%d, 'it''s')"
)


def build_corpus(spark, n_rows: int, flagged_frac: float, shape: str = "short"):
    """id-varied statements, exactly floor(n*frac) flagged (modular
    stripe, not rand() — deterministic and exactly proportioned)."""
    clean, flagged = (
        (_CLEAN, _FLAGGED) if shape == "short" else (_CLEAN_LONG, _FLAGGED_LONG)
    )
    k = int(round(1 / flagged_frac)) if flagged_frac > 0 else 0
    base = spark.range(n_rows).withColumnRenamed("id", "rid")
    if flagged_frac >= 1.0:
        q = F.format_string(flagged, "rid")
    elif flagged_frac <= 0.0:
        q = F.format_string(clean, "rid")
    else:
        q = F.when(
            F.col("rid") % k == 0, F.format_string(flagged, "rid")
        ).otherwise(F.format_string(clean, "rid"))
    return base.select(q.alias("query"), F.lit(None).cast("boolean").alias("admin"))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    load0 = wait_for_idle()
    spark = get_session(app_name="router_crossover")

    # sanity: the templates sit on the intended sides of the detectors
    from slowlog2clickhouse_spark.functions.fingerprint import construct_flags_py

    for c, f in ((_CLEAN, _FLAGGED), (_CLEAN_LONG, _FLAGGED_LONG)):
        assert not any(construct_flags_py(c % 7).values())
        assert any(construct_flags_py(f % 7).values())
    # and verify Spark ACTUALLY substituted (id-varied, not constant)
    probe = build_corpus(spark, 10, 0.0).select("query").collect()
    assert len({r["query"] for r in probe}) == 10, "format_string not varying"

    import tempfile

    tmp = tempfile.mkdtemp(prefix="router_xover_")
    out_rows = []
    for shape, n in (("short", n_rows), ("long", n_rows // 10)):
        for frac in (0.0, 0.05, 0.25, 0.5, 1.0):
            # parquet-backed input: survives the persisted-RDD drop
            # between reps and matches the deployment shape (on disk)
            path = f"{tmp}/{shape}_f{int(frac * 100)}"
            build_corpus(spark, n, frac, shape).write.mode(
                "overwrite"
            ).parquet(path)
            df = spark.read.parquet(path)
            cell = {"shape": shape, "n_rows": n, "flagged_frac": frac}
            for mode in ("chain", "routed"):
                def run():
                    with_fingerprint(df, mode=mode).select(
                        "digest"
                    ).write.format("noop").mode("overwrite").save()

                run()  # warmup
                _drop_persisted_rdds(spark)
                ts = []
                for _ in range(3):
                    t0 = time.time()
                    run()
                    ts.append(time.time() - t0)
                    _drop_persisted_rdds(spark)
                cell[mode] = round(statistics.median(ts), 3)
            out_rows.append(cell)
            print(json.dumps(cell))
    print(json.dumps({"loadavg_start": round(load0, 2), "cells": out_rows}))


if __name__ == "__main__":
    main()
