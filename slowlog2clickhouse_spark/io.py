"""Table loaders for the driver-generated testdata.

All loads are plain ``spark.read.parquet`` — columnar scan with
projection/predicate pushdown left to Catalyst (SURVEY.md §2 A1).

``events.parquet`` carries a parquet ``timestamp[ns]`` column which
Spark 4 refuses to read as a timestamp; with
``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as a long
(nanoseconds since epoch) and we rebuild a microsecond TimestampType
via integer division (``ts div 1000`` — integer div, NOT float: at
~1.7e18 ns a double has too few mantissa bits and float division would
corrupt microseconds). DuckDB truncates ns→µs the same way, so the
oracle agrees bit-for-bit (SURVEY.md §7 G1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the one scratch root of ops that materialize files on local disk;
# scripts/ptest.py points each test shard at its own
SCRATCH_ROOT = os.environ.get("SPARK_GRAFT_TMP", "/tmp/slowlog2clickhouse_spark")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Re-tag TIMESTAMP_NTZ columns as session-tz TimestampType.

    Newer testdata ships parquet ``timestamp[us]`` without tz metadata,
    which Spark 4 infers as TIMESTAMP_NTZ
    (``spark.sql.parquet.inferTimestampNTZ.enabled=true`` by default).
    The engine standardizes on session-tz TimestampType and
    ``ensure_compat`` pins the session to UTC, so this cast is a pure
    re-tag: identical epoch micros, and it keeps epoch-native functions
    (``unix_micros``, ``to_utc_timestamp``, …) working across both
    testdata vintages. The cast folds into the scan projection — no
    extra stage, pushdown/pruning unaffected.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; repairs the ns timestamp on events."""
    if name == "events":
        # runtime-settable; must be true before the scan is planned
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _normalize_ntz(df)
    return _normalize_ntz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register temp views (used by SQL-flavored ops and bench)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
