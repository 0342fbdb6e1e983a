"""JDBC sink operator registration (integration-deferred)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import SCRATCH_ROOT as _TMP, load_table
from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog
from slowlog2clickhouse_spark.registry import op
from slowlog2clickhouse_spark.sinks.jdbc import clickhouse_ddl, jdbc_options, write_jdbc


_SINK_CONTRACT_GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "golden",
    "sink_jdbc_contract.parquet",
)


@op(
    "sink_jdbc_clickhouse",
    # the sink CONTRACT (DDL + writer options) is deterministic, so it
    # is driver-checkable against a committed golden even though no
    # ClickHouse server exists here (SURVEY §2 A7; the data-path
    # round-trip runs against Derby in scan_jdbc). Regenerate with
    # scripts/gen_sink_contract_golden.py on a deliberate change.
    oracle=f"SELECT item, value FROM read_parquet('{_SINK_CONTRACT_GOLDEN}')",
)
def sink_jdbc_clickhouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse bulk-insert sink, integration-deferred: materializes
    the exact DDL + writer options that ``sinks.jdbc.write_jdbc`` would
    execute for the class table (main.go insertSQL analog [R:M]) so the
    sink's type mapping and batching contract are inspectable and
    tested without a server. Two DDL rows since r6: the default
    5-metric battery AND the full D5 ``m_*`` family (all 20 time+number
    metrics → 8-stat batteries + 15 bool sums — the README DDL [R:M]
    surface). Since r11 the contract also pins the two
    mergeable-percentile table shapes (VERDICT r10 #3): the
    (digest, bucket, n) histogram STATE as SummingMergeTree — its
    merge-on-read addition over ORDER BY (digest, bucket) is exactly
    the addition-merge stream_classes_pctl_merge performs in
    foreachBatch, so parts written per flush cycle collapse to the
    running histogram server-side — and the percentile-bearing CLASS
    row as ReplacingMergeTree(num_timed), where the monotone num_timed
    versions each re-flush so the newest quantile row per digest wins.
    scripts/clickhouse_integration.py is the one-command live test
    once a server exists."""
    from slowlog2clickhouse_spark.sources.slowlog import (
        NUMBER_METRICS,
        TIME_METRICS,
        parse_slowlog,
    )

    classes = ingest_slowlog(spark, FIXTURE_LOG)
    full = ingest_slowlog(
        spark, FIXTURE_LOG, metrics=TIME_METRICS + NUMBER_METRICS
    )
    from slowlog2clickhouse_spark.operators.slowlog_ops import (
        hist_quantiles,
        qt_hist_bucket,
    )

    ev = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin"))
        & F.col("query").isNotNull()
        & F.col("query_time").isNotNull()
    )
    hist_state = ev.select(
        F.col("digest"), qt_hist_bucket().alias("bucket")
    ).groupBy("digest", "bucket").agg(F.count("*").cast("long").alias("n"))
    pctl_classes = hist_quantiles(hist_state)

    opts = jdbc_options("jdbc:clickhouse://localhost:8123/slowlog", "slowlog.queries")
    rows = (
        [("ddl", clickhouse_ddl(classes, "slowlog.queries"))]
        + [("ddl_full", clickhouse_ddl(full, "slowlog.queries_full"))]
        + [(
            "ddl_pctl_state",
            clickhouse_ddl(
                hist_state,
                "slowlog.queries_pctl_state",
                order_by=("digest", "bucket"),
                partition_by=None,
                engine="SummingMergeTree((n))",
            ),
        )]
        + [(
            "ddl_pctl_classes",
            clickhouse_ddl(
                pctl_classes,
                "slowlog.queries_pctl",
                order_by=("digest",),
                partition_by=None,
                engine="ReplacingMergeTree(num_timed)",
            ),
        )]
        + [(f"option:{k}", v) for k, v in sorted(opts.items())]
    )
    return spark.createDataFrame(rows, "item string, value string")


@op(
    "scan_jdbc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC as a SOURCE: round-trip the nation table through the
    embedded Derby on Spark's classpath (write_jdbc → spark.read.jdbc)
    and hash-check the read-back against the parquet original — proving
    both writer and reader paths execute end-to-end, not just their
    option plumbing (the in-prod shape is reading a ClickHouse dim
    table back for enrichment joins).

    Scale note: a real JDBC read partitions on a numeric column
    (partitionColumn/lowerBound/upperBound → one query per executor);
    the single-partition read here matches the 25-row table.

    Topology note: EMBEDDED Derby is single-JVM (dual-boot file lock),
    so this fixture only runs on local[N]; under local-cluster+ the
    executor's boot fails while the driver holds the db — a fixture
    limit, not an engine one (prod reads a network endpoint, where
    driver and executors open independent connections). See SCALING.md
    r16 §local-cluster.
    """
    db = os.path.join(tempfile.mkdtemp(prefix="scan_jdbc_"), "db")
    url = f"jdbc:derby:{db};create=true"
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(
        nation,
        url,
        "nation_rt",
        mode="overwrite",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        dialect=None,  # Derby types the table
        num_partitions=1,
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_rt")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
    )
    return back.select(
        *[F.col(c).alias(c.lower()) for c in back.columns]
    )


@op(
    "scan_orc",
    oracle="""
    SELECT lang, cast(count(*) AS BIGINT) AS n,
           cast(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar source/sink format: round-trip the
    documents table through ORC (write → read) and aggregate the
    read-back; the oracle runs the same aggregate over the parquet
    original, so any loss in the format hop fails the hash.

    ORC keeps the same Catalyst pushdown/pruning surface as parquet
    (predicate pushdown, column pruning, zlib/zstd blocks) — at 100 TB
    the choice between them is an ecosystem call, not a plan change;
    this op pins that the engine is not parquet-locked.
    """
    out = os.path.join(tempfile.mkdtemp(prefix="scan_orc_"), "documents_orc")
    load_table(spark, sf_dir, "documents").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@op(
    "sink_compact",
    oracle="""
    SELECT CAST(48 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after,
           count(*) AS rows_before, count(*) AS rows_after
    FROM events
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance op every long-running
    ingest needs: a fragmented table (simulated by writing events at 48
    partitions) is rewritten to a handful of right-sized files, rows
    preserved. Returns the before/after accounting.

    Scale: compaction is a pure repartition-write — at 100 TB you
    compact per partition-directory (date), choosing the target file
    count as ceil(bytes / 512 MB); here the fragmented write and the
    4-file rewrite demonstrate the pattern end-to-end. The read-back
    count proves no row loss.
    """
    base = tempfile.mkdtemp(prefix="sink_compact_")
    frag_dir, compact_dir = f"{base}/frag", f"{base}/compact"
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.repartition(48).write.mode("overwrite").parquet(frag_dir)

    def parts(d):
        return sorted(
            f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
        )

    frag = spark.read.parquet(frag_dir)
    frag.repartition(4).write.mode("overwrite").parquet(compact_dir)
    compacted = spark.read.parquet(compact_dir)
    return spark.createDataFrame(
        [
            (
                len(parts(frag_dir)),
                len(parts(compact_dir)),
                frag.count(),
                compacted.count(),
            )
        ],
        "files_before long, files_after long, rows_before long, rows_after long",
    )


@op(
    "sink_partition_overwrite",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, count(*) AS n,
           CAST(CASE WHEN CAST(ts AS DATE) =
                          (SELECT min(CAST(ts AS DATE)) FROM events)
                THEN count(*) ELSE 0 END AS BIGINT) AS n_marked
    FROM events GROUP BY 1
    """,
)
def sink_partition_overwrite(
    spark: SparkSession, sf_dir: str, day=None
) -> DataFrame:
    """Backfill/replay: recompute ONE day of a date-partitioned table
    and overwrite only that partition (dynamic partitionOverwriteMode),
    leaving every other day's files untouched — the operational
    primitive for late-data reprocessing at 100 TB, where a static
    overwrite would truncate the whole table.

    Writes the events table day-partitioned, then re-writes the first
    day with a marker value; returns per-day counts + marker totals so
    the driver row proves the other days survived.

    ``day`` is the production parameter (the backfill job KNOWS its
    day — passing it keeps the plan scan-free, like sql_parameterized);
    the None default fetches min(d) once so the demo stays
    self-contained. At 100 TB always pass the day.
    """
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    out = os.path.join(tempfile.mkdtemp(prefix="sink_povw_"), "t")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date("ts").alias("d")
    )
    ev.write.partitionBy("d").mode("overwrite").parquet(out)
    first_day = day or ev.agg(F.min("d")).collect()[0][0]
    backfill = ev.where(F.col("d") == F.lit(first_day)).withColumn(
        "value", F.lit(-1.0)
    )
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        backfill.write.partitionBy("d").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return (
        back.groupBy("d")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value") == -1.0).cast("long")).alias("n_marked"),
        )
        .orderBy("d")
    )


@op(
    "scan_schema_evolution",
    oracle="""
    SELECT g.gen, count(*) AS n,
           CAST(CASE WHEN g.gen = 1 THEN count(*) ELSE 0 END AS BIGINT)
               AS n_null_new
    FROM nation, (SELECT unnest([1, 2]) AS gen) g
    GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations (v2 adds a
    column), merged with mergeSchema=true — old files surface NULL for
    the new column instead of failing the scan. The decade-long-table
    reality at 100 TB: readers must span schema generations.

    Returns per-generation counts and new-column null accounting.
    """
    out = os.path.join(tempfile.mkdtemp(prefix="scan_evo_"), "t")
    n = load_table(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name").write.parquet(f"{out}/gen=1")
    n.select(
        "n_nationkey", "n_name", F.col("n_regionkey").alias("region_added")
    ).write.parquet(f"{out}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        merged.groupBy("gen")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("region_added").isNull().cast("long")).alias("n_null_new"),
        )
        .orderBy("gen")
    )


@op(
    "sink_v2_writeto",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 4) AS s
    FROM orders GROUP BY 1
    """,
)
def sink_v2_writeto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameWriterV2 (`df.writeTo(...).createOrReplace()`): the
    catalog-table write path (vs the path-based v1 `df.write`). V2 is
    the surface where partitioned-by-expression tables, REPLACE TABLE
    atomicity, and catalog plugins (Iceberg/Delta at 100 TB) hang —
    this op proves the engine speaks it against the built-in catalog,
    then reads the table back by NAME, not path. (The built-in session
    catalog lacks atomic REPLACE TABLE AS SELECT — a lakehouse catalog
    provides it — so this uses DROP + CTAS `create()`.)"""
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s"))
    )
    spark.sql("DROP TABLE IF EXISTS order_status_summary")
    # DROP on a fresh session is a no-op while the managed LOCATION from
    # a previous session's run persists on disk — CTAS then collides
    # (LOCATION_ALREADY_EXISTS). Clear the orphan location explicitly.
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    shutil.rmtree(os.path.join(wh, "order_status_summary"), ignore_errors=True)
    agg.writeTo("order_status_summary").using("parquet").create()
    return spark.table("order_status_summary")


@op(
    "scan_jsonl",
    oracle="""
    SELECT lang, cast(count(*) AS BIGINT) AS n,
           cast(sum(n_chars) AS BIGINT) AS total_chars,
           cast(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY 1
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines as a source/sink format: write documents to JSONL,
    read back with an EXPLICIT schema (a 100-TB scan never infers —
    inference is a second full pass), aggregate, hash-check against
    the parquet original. JSONL is the interchange format most raw
    LLM-corpus drops arrive in; this pins the decode path end-to-end.
    """
    out = os.path.join(tempfile.mkdtemp(prefix="scan_jsonl_"), "docs_jsonl")
    load_table(spark, sf_dir, "documents").write.mode("overwrite").json(out)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    return (
        spark.read.schema(schema)
        .json(out)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


@op(
    "scan_partition_pruned",
    # the read-back aggregate over ONE partition equals the same
    # date-slice of the source table; min(date) picks the slice
    # deterministically at any SF
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
    GROUP BY 1
    """,
)
def scan_partition_pruned(
    spark: SparkSession, sf_dir: str, day=None
) -> DataFrame:
    """Partition-pruned scan — THE 100 TB read-path optimization: write
    the events table date-partitioned (the MergeTree-mirroring layout
    every sink here uses), then read back exactly one day; the literal
    date filter prunes at PLANNING time, so the scan lists and reads
    only that day's files (plan shows ``PartitionFilters``, pinned in
    tests/test_plans.py). At 100 TB this is the difference between
    scanning one day and scanning three years.

    ``day`` is the production parameter (the consumer knows which day
    it wants — passing it keeps the build scan-free); the None default
    fetches min(event_date) once so the demo stays self-contained.
    """
    part_dir = os.path.join(
        tempfile.mkdtemp(prefix="scan_pruned_"), "events_by_day"
    )
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", F.to_date("ts").alias("event_date")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(part_dir)
    first_day = day or ev.agg(F.min("event_date")).collect()[0][0]
    back = spark.read.parquet(part_dir).where(
        F.col("event_date") == F.lit(first_day)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


@op(
    "scan_jsonl_corrupt",
    # fixture: one good JSON line per doc (doc_id < 500) plus one
    # deliberately broken line for every doc_id % 10 == 0 — so the
    # oracle derives both populations from the documents table
    oracle="""
    SELECT lang,
           cast(count(*) AS BIGINT) AS n_good,
           cast(sum(n_chars) AS BIGINT) AS chars_good
    FROM documents WHERE doc_id < 500
    GROUP BY 1
    UNION ALL
    SELECT '_corrupt' AS lang,
           cast(count(*) AS BIGINT) AS n_good,
           CAST(NULL AS BIGINT) AS chars_good
    FROM documents WHERE doc_id < 500 AND doc_id % 10 = 0
    """,
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingest with a corrupt-record column — the
    real-world NDJSON feed where some producer ships broken lines:
    malformed rows land in ``_corrupt_record`` instead of killing the
    job (FAILFAST) or silently vanishing (DROPMALFORMED), so the
    pipeline can quarantine and count them. Output: per-lang good-row
    stats plus one '_corrupt' bucket row.

    Scale: mode=PERMISSIVE is per-record — no cross-record state, the
    scan stays splittable and the quarantine count is a map-side
    CASE. The fixture write is distributed (df.write.text), the op
    under test is the read-back."""
    out = f"{_TMP}/events_jsonl_corrupt"
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    good = d.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value")
    )
    bad = d.where(F.col("doc_id") % 10 == 0).select(
        F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(" BROKEN")).alias(
            "value"
        )
    )
    good.unionAll(bad).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    bucket = F.when(
        F.col("_corrupt_record").isNotNull(), F.lit("_corrupt")
    ).otherwise(F.col("lang"))
    return back.groupBy(bucket.alias("lang")).agg(
        F.count("*").alias("n_good"),
        F.sum("n_chars").alias("chars_good"),
    )


@op(
    "scan_xml",
    oracle="""
    SELECT n_nationkey, n_name, cast(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML FILE format (new in Spark 4 — xml_funcs covers the
    embedded-string case; this is the file round-trip): write the
    nation dim as <row> elements, read back TYPED with a declared
    schema and rowTag. Legacy-feed ingest without a third-party
    package.

    Scale: XML is the one mainstream format that is NOT splittable by
    newline — the reader splits on rowTag boundaries, so files (not
    rows) are the parallelism unit; keep XML at the EDGE of the
    pipeline (convert to parquet on first touch), which is exactly
    what this op's write-once/read-once shape models."""
    out = f"{_TMP}/nation_xml"
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").option("rowTag", "row").format("xml").save(out)
    back = (
        spark.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .option("rowTag", "row")
        .format("xml")
        .load(out)
    )
    return back.select(
        "n_nationkey", "n_name", F.col("n_regionkey").alias("n_regionkey")
    )


@op(
    "join_dynamic_partition_pruning",
    # the dim is a separate day table filtered on a NON-join attribute
    # (first-of-month days); the fact side must read only those days'
    # partitions AT RUNTIME via the join — no literal date anywhere in
    # the fact branch
    oracle="""
    SELECT e.event_type, cast(count(*) AS BIGINT) AS n,
           round(sum(e.value), 4) AS total
    FROM events e
    WHERE date_part('day', CAST(e.ts AS DATE)) = 1
    GROUP BY 1
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) — scan_partition_pruned's
    runtime sibling and the second half of the 100 TB read-path story:
    the pruning days are NOT literals, they come from a dimension
    table filtered on a non-join attribute (is-first-of-month), so
    planning-time pruning is impossible. Catalyst broadcasts the
    filtered dim and injects its day values into the fact scan as a
    runtime partition filter (``dynamicpruningexpression``, pinned in
    tests/test_plans.py) — the fact side reads only the matching
    days' files. This is exactly how star-schema date-dim joins avoid
    full scans in production; everything is one declarative plan, no
    collect, no literal.
    """
    base = os.path.join(tempfile.mkdtemp(prefix="scan_dpp_"))
    fact_dir, dim_dir = f"{base}/events_by_day", f"{base}/date_dim"
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", F.to_date("ts").alias("event_date")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(fact_dir)
    ev.select("event_date").distinct().select(
        F.col("event_date").alias("day"),
        F.dayofmonth("event_date").alias("dom"),
    ).write.mode("overwrite").parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("dom") == 1)
    return (
        fact.join(F.broadcast(dim), fact["event_date"] == dim["day"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


@op(
    "scan_csv_multiline",
    # fixture: quoted fields with EMBEDDED NEWLINES (every 7th doc's
    # text gets its spaces turned into '\\n'); multiLine=true is the
    # only correct read — the oracle derives the expected per-lang
    # stats from the source table
    oracle="""
    SELECT lang,
           cast(count(*) AS BIGINT) AS n,
           cast(sum(CASE WHEN doc_id % 7 = 0
                         THEN length(text) - length(replace(text, ' ', ''))
                         ELSE 0 END) AS BIGINT) AS n_embedded_newlines
    FROM documents WHERE doc_id < 300
    GROUP BY 1
    """,
)
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with quoted multi-line fields — the ingest pain point that
    silently corrupts naive splitters: every 7th document's text is
    written with literal newlines inside its quoted field, and the
    read-back uses ``multiLine=true`` so records span lines.

    Scale trade stated honestly: multiLine CSV is NOT splittable —
    one file = one task — so the production shape is many medium
    files (the write here produces one per input partition), and the
    first job converts to parquet. The per-lang counts plus the
    embedded-newline tally pin that no record was split or lost."""
    out = f"{_TMP}/docs_csv_multiline"
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    staged = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.regexp_replace("text", " ", "\n"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    staged.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    back = (
        spark.read.schema("doc_id BIGINT, lang STRING, text STRING")
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )
    newlines = F.length("text") - F.length(F.regexp_replace("text", "\n", ""))
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("doc_id") % 7 == 0, newlines).otherwise(0)
        ).alias("n_embedded_newlines"),
    )


def _spread16(c):
    """Spread the low 16 bits of a long across 32 bits (Morton/Z-order
    bit interleave, magic-number form — 4 fixed ops instead of 16
    per-bit extracts, per gotcha #23's expression-size rule). Pure
    64-bit integer &/|/<< — bit-identical in Spark and DuckDB."""
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555))
    return c


def _spread16_sql(expr: str) -> str:
    c = expr
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        c = f"((({c}) | (({c}) << {sh})) & {mask})"
    return c


@op(
    "sink_zorder_parquet",
    # dims are min/max-normalized to the 16-bit grid BEFORE the
    # interleave (the classic z-order pitfall: un-normalized dims of
    # unequal bit-width make one dim own all the high bits and the
    # curve degenerates to a 1-D sort); integer floor-div — exact
    # cross-engine
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS me
      FROM events),
    st AS (
      SELECT min(user_id) AS ulo,
             greatest(max(user_id) - min(user_id), 1) AS uspan,
             min(me) AS mlo, greatest(max(me) - min(me), 1) AS mspan
      FROM ev)
    SELECT event_id,
           ({_spread16_sql("((user_id - ulo) * 65535) // uspan")}
            | ({_spread16_sql("((me - mlo) * 65535) // mspan")} << 1)) AS zval
    FROM ev, st
    """,
)
def sink_zorder_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered sink — the multi-dimensional data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER) for the two axes events are
    actually filtered on (user_id ranges for journeys, time ranges for
    dashboards): interleave the low 16 bits of user_id with the
    minute-bucket epoch (Morton code via the magic-number spread — 8
    fixed integer ops, not 32 per-bit extracts), range-repartition +
    sort on the z-value, write parquet. Each output file then covers a
    small RECTANGLE in (user, time) space instead of a full-range
    stripe, so parquet row-group min/max stats prune on EITHER
    dimension — a single-column sort can only prune on one.
    tests/test_sinks.py reads the footers back and pins per-file range
    coverage well below the unsorted baseline on BOTH dims.

    The checked output is the z-value itself for every event (pure
    64-bit integer &/|/<< — bit-identical cross-engine), so the oracle
    pins the exact layout KEY; the physical file layout is asserted by
    the footer test (file split points are scheduler-dependent, keys
    are not). Scale: one map pass + one range shuffle, the same cost
    as any global sort-on-write."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias(
            "minute_epoch"
        ),
    )
    stats = ev.agg(
        F.min("user_id").alias("ulo"),
        F.greatest(F.max("user_id") - F.min("user_id"), F.lit(1)).alias("uspan"),
        F.min("minute_epoch").alias("mlo"),
        F.greatest(
            F.max("minute_epoch") - F.min("minute_epoch"), F.lit(1)
        ).alias("mspan"),
    )
    u16 = F.expr("div((user_id - ulo) * 65535, uspan)")
    m16 = F.expr("div((minute_epoch - mlo) * 65535, mspan)")
    z = _spread16(u16).bitwiseOR(F.shiftleft(_spread16(m16), 1))
    with_z = ev.join(F.broadcast(stats)).select(
        "event_id", "user_id", "minute_epoch", z.alias("zval")
    )
    out = f"{_TMP}/events_zorder"
    (
        with_z.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select("event_id", "zval")
