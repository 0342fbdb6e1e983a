"""Regenerate the committed slow-log golden parquet fixtures.

The driver's DuckDB oracle can only hash-check the slowlog pipeline if
the parsed-event IR exists as a table it can read. This script runs the
parser ONCE over tests/fixtures/slowlog_small.log and commits the
result as two single-file parquets:

  tests/fixtures/golden/slowlog_small_events.parquet
      one row per parsed event: the full EVENT_SCHEMA (minus
      record_no, which is a partition-layout artifact), plus
      * extra_metrics_json — to_json(extra_metrics) (map cells are
        unhashable for the driver's canonicalizer)
      * fingerprint / digest — the SQL regexp chain's values
        (fingerprint_col / digest_col; no product path keys on them)
      * fingerprint_py / digest_py — the state machine's values, the
        ones the parser attaches to every event and every product
        path and class oracle keys on (oracles read them through
        operators/slowlog_ops._parser_classed)
  tests/fixtures/golden/slowlog_small_records.parquet
      one row per raw record: (record_len, head) — the lineSep record
      assembly contract (oracle for scan_text_multiline)

  (golden/ subdir, NOT tests/fixtures/ itself: directory-scoped log
  readers glob the fixture dir and must never see parquet)

tests/test_slowlog.py pins parser-output == committed-golden, so a
parser change that shifts these files is a deliberate, reviewed event:
rerun this script and re-commit.

Usage: python scripts/gen_slowlog_golden.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from slowlog2clickhouse_spark.session import ensure_compat, get_session  # noqa: E402


def golden_events_df(spark, fixture_log: str):
    """The golden event projection (shared with the pinning test)."""
    from slowlog2clickhouse_spark.functions.fingerprint import digest_py, fingerprint_py
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog, with_fingerprint

    # lambda shims: the typed callables trip pyspark's pandas eval-type
    # inference into a UserWarning per plan build (same fix as
    # operators/udfs.py udf_fingerprint_py)
    fp_udf = F.udf(lambda q: fingerprint_py(q), "string")
    dg_udf = F.udf(lambda s: digest_py(s), "string")
    ev = with_fingerprint(parse_slowlog(spark, fixture_log))
    return ev.drop("record_no").withColumns(
        {
            # naive-UTC in the file: DuckDB then reads plain TIMESTAMP,
            # matching how the oracle compares every other ts column
            "ts": F.col("ts").cast("timestamp_ntz"),
            "extra_metrics_json": F.to_json("extra_metrics"),
            "fingerprint_py": fp_udf("query"),
            "digest_py": dg_udf(fp_udf("query")),
        }
    ).drop("extra_metrics")


def golden_records_df(spark, fixture_log: str):
    from slowlog2clickhouse_spark.sources.slowlog import read_slowlog_records

    rec = read_slowlog_records(spark, fixture_log)
    return rec.select(
        F.length("value").alias("record_len"),
        F.substring("value", 1, 40).alias("head"),
    )


def _write_single_file(df, out_path: str) -> None:
    """Collect to Arrow and write ONE parquet file (a committed fixture
    wants a stable path, not a Spark part-file directory). ``toArrow``
    (not ``toPandas``) keeps nullable longs/bools typed instead of
    collapsing them to float64/object."""
    tbl = df.toArrow()
    pq.write_table(tbl, out_path)
    print(f"wrote {tbl.num_rows} rows -> {out_path}")


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixtures = os.path.join(repo, "tests", "fixtures")
    golden = os.path.join(fixtures, "golden")
    os.makedirs(golden, exist_ok=True)
    spark = ensure_compat(get_session())
    # every *.log fixture gets a golden event IR (round 6 widened the
    # corpus toward upstream go-mysql's test/slow-logs breadth:
    # admin-command mixes, mid-file use-db switching, '# ' inside
    # string literals, 5.1/5.6/5.7 header mixes in one file, a
    # many-record file); tests/test_slowlog.py pins parser == golden
    # for each, so parser changes are reviewed events
    import glob

    for log in sorted(glob.glob(os.path.join(fixtures, "*.log"))):
        name = os.path.splitext(os.path.basename(log))[0]
        _write_single_file(
            golden_events_df(spark, log),
            os.path.join(golden, f"{name}_events.parquet"),
        )
    # the record-assembly contract golden (scan_text_multiline oracle)
    _write_single_file(
        golden_records_df(spark, os.path.join(fixtures, "slowlog_small.log")),
        os.path.join(golden, "slowlog_small_records.parquet"),
    )


if __name__ == "__main__":
    main()
