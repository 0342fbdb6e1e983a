"""Slow-log domain + source/sink operators — SURVEY.md §2 A & K (core).

These run on the committed fixture log (tests/fixtures/), not the
testdata star schema. Since round 5 the parsed-event IR is ALSO
committed as a golden parquet (scripts/gen_slowlog_golden.py →
tests/fixtures/slowlog_small_events.parquet, freshness pinned by
tests/test_slowlog.py), so the driver's DuckDB oracle can hash-check
the whole parse → fingerprint → class-aggregate pipeline instead of
recording it rows-only: the oracle SQL reads the golden IR by absolute
path and recomputes the stat battery.

Float canonicalization (SURVEY §7 G conventions): order-dependent
double sums are rounded to 6 decimals (the log's own precision — the
round recovers the exact decimal sum, so both engines agree); avg is
``round(sum, 6) / cnt`` (deterministic double division of identical
operands); exact percentiles are emitted RAW — Spark ``percentile``
and DuckDB ``quantile_cont`` share the lo + frac·(hi−lo) interpolation
bit-for-bit; min/max are raw input values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import SCRATCH_ROOT as _TMP, load_table
from slowlog2clickhouse_spark.plans.pipeline import (
    DEFAULT_STAT_METRICS,
    ingest_slowlog,
    sink_classes_parquet,
    top_digests,
)
from slowlog2clickhouse_spark.operators.stitched import ranked_topk
from slowlog2clickhouse_spark.registry import op
from slowlog2clickhouse_spark.sources.slowlog import (
    BOOL_METRICS,
    EVENT_SCHEMA,
    parse_record_bytes,
    parse_slowlog,
    read_slowlog_records,
    with_fingerprint,
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
FIXTURE_LOG = os.path.join(_REPO_ROOT, "tests", "fixtures", "slowlog_small.log")
# goldens live OUTSIDE the *.log fixture dir: directory-scoped readers
# (parse_slowlog(dir), the pyds corpus test) must never see parquet
GOLDEN_EVENTS = os.path.join(
    _REPO_ROOT, "tests", "fixtures", "golden", "slowlog_small_events.parquet"
)
GOLDEN_RECORDS = os.path.join(
    _REPO_ROOT, "tests", "fixtures", "golden", "slowlog_small_records.parquet"
)
# the golden IR as a DuckDB table expression (absolute path: the driver
# runs DuckDB wherever it likes; the parquet is committed in-repo)
_GOLD = f"read_parquet('{GOLDEN_EVENTS}')"


def _parser_classed(gold_expr: str) -> str:
    """A golden IR with its state-machine class columns (``*_py``)
    under the names the parser writes: the oracle input of an op that
    keys on the parser's digest."""
    return (
        "(SELECT * REPLACE (fingerprint_py AS fingerprint, digest_py AS digest)"
        f" FROM {gold_expr})"
    )


_GOLD_PY = _parser_classed(_GOLD)
_LONG_METRICS = {"rows_sent", "rows_examined", "bytes_sent"}


def _battery_sql() -> str:
    """DuckDB mirror of the plans.pipeline stat battery under the
    driver-facing float canonicalization (module docstring)."""
    cols: list[str] = []
    for m in DEFAULT_STAT_METRICS:
        sum_sql = (
            f"CAST(sum({m}) AS BIGINT)"
            if m in _LONG_METRICS
            else f"round(sum({m}), 6)"
        )
        cols += [
            f"count({m}) AS m_{m}_cnt",
            f"{sum_sql} AS m_{m}_sum",
            f"min({m}) AS m_{m}_min",
            f"max({m}) AS m_{m}_max",
            f"round(CAST(sum({m}) AS DOUBLE), 6) / count({m}) AS m_{m}_avg",
            f"quantile_cont({m}, 0.5) AS m_{m}_med",
            f"quantile_cont({m}, 0.95) AS m_{m}_p95",
            f"quantile_cont({m}, 0.99) AS m_{m}_p99",
        ]
    for b in BOOL_METRICS:
        cols.append(f"CAST(sum(CAST({b} AS BIGINT)) AS BIGINT) AS {b}_sum")
    return ",\n           ".join(cols)


def _driver_battery(classes: DataFrame) -> DataFrame:
    """Driver-facing canonicalization of a class/global stat-battery
    row: JSON-encode the labels map (the driver's pandas canonicalizer
    can't hash dict cells) and pin the float convention above."""
    upd = {"labels": F.to_json("labels")}
    for m in DEFAULT_STAT_METRICS:
        sum_c, cnt_c = F.col(f"m_{m}_sum"), F.col(f"m_{m}_cnt")
        upd[f"m_{m}_avg"] = F.round(sum_c.cast("double"), 6) / cnt_c
        upd[f"m_{m}_sum"] = F.round(sum_c, 6)
    return classes.withColumns(upd)


_CLASS_DIMS_SQL = """
       count(*) AS num_queries,
       min(fingerprint) AS fingerprint,
       min(db) AS db, min("user") AS "user", min(host) AS host,
       max(CASE WHEN rn = 1 THEN query END) AS example,
       max(CASE WHEN rn = 1 THEN extra_metrics_json END) AS labels,
       CAST(sum(CASE WHEN rate_type = 'query' AND rate_limit > 1
                     THEN rate_limit ELSE 1 END) AS BIGINT)
           AS num_queries_scaled,
"""


@op(
    "scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection pushdown (ReadSchema pruned)."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@op(
    "scan_text_multiline",
    oracle=f"SELECT record_len, head FROM read_parquet('{GOLDEN_RECORDS}')",
)
def scan_text_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line record assembly via lineSep='\\n# Time: ' — the
    reference parser's record boundary ([go-mysql] log/slow/parser.go
    state machine [R:H]) pushed down into the text source, so splits
    align with records and the scan parallelizes at 100 TB. Oracle =
    the committed golden record projection."""
    rec = read_slowlog_records(spark, FIXTURE_LOG)
    return rec.select(
        F.length("value").alias("record_len"),
        F.substring("value", 1, 40).alias("head"),
    )


def _driver_safe(events: DataFrame) -> DataFrame:
    """Driver-facing event rows: JSON-encode the map column (the
    driver's pandas canonicalizer cannot sort/hash dict cells — same
    failure class as round-1's mm_decode_features array crash) and drop
    ``record_no`` (a partition-layout artifact, not event content).
    Internal consumers keep the typed map + record_no."""
    return events.withColumn("extra_metrics", F.to_json("extra_metrics")).drop(
        "record_no"
    )


# the parse-op oracle: the committed golden IR, column-for-column. The
# parser fingerprints with the state machine, so its fingerprint/digest
# are the golden's *_py columns (the golden's own fingerprint/digest
# hold the regexp chain's values)
_GOLDEN_AS = {
    "extra_metrics": "extra_metrics_json",
    "fingerprint": "fingerprint_py",
    "digest": "digest_py",
}


def _events_sql(gold_expr: str) -> str:
    return (
        "SELECT "
        + ", ".join(
            f'{_GOLDEN_AS[f.name]} AS "{f.name}"'
            if f.name in _GOLDEN_AS
            else f'"{f.name}"'
            for f in EVENT_SCHEMA.fields
            if f.name != "record_no"
        )
        + f" FROM {gold_expr}"
    )


_EVENTS_SQL = _events_sql(_GOLD)


@op("map_in_pandas_chunker", oracle=_EVENTS_SQL)
def map_in_pandas_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched record parser (mapInPandas) — the reference's
    state machine as a partition-streaming transform. Oracle = the
    committed golden event IR (event-for-event)."""
    return _driver_safe(parse_slowlog(spark, FIXTURE_LOG))


@op("udtf_parse_slowlog", oracle=_EVENTS_SQL)
def udtf_parse_slowlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF: one text record → N typed event rows
    (the table-function formulation of the parser). Oracle = the
    committed golden event IR (event-for-event)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=EVENT_SCHEMA)
    class ParseSlowlog:
        def eval(self, rec: bytes):
            if rec and rec.strip():
                d = parse_record_bytes(rec, 0)
                if d is not None:  # pure-preamble chunk → no event
                    yield tuple(d[f.name] for f in EVENT_SCHEMA.fields)

    spark.udtf.register("parse_slowlog_udtf", ParseSlowlog)
    records = read_slowlog_records(spark, FIXTURE_LOG)
    records.createOrReplaceTempView("slowlog_records")
    return _driver_safe(
        spark.sql(
            "SELECT t.* FROM slowlog_records r,"
            " LATERAL parse_slowlog_udtf(CAST(r.value AS BINARY)) t"
        )
    )


FIXTURE_80_LOG = os.path.join(_REPO_ROOT, "tests", "fixtures", "slowlog_80.log")
FIXTURE_GZ_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "gz")
_GOLD_80 = (
    "read_parquet('"
    + os.path.join(
        _REPO_ROOT, "tests", "fixtures", "golden", "slowlog_80_events.parquet"
    )
    + "')"
)
_GOLD_GZ = (
    "read_parquet('"
    + os.path.join(
        _REPO_ROOT, "tests", "fixtures", "golden",
        "slowlog_rot_gz_events.parquet",
    )
    + "')"
)


@op("scan_slowlog_mysql80", oracle=_events_sql(_GOLD_80))
def scan_slowlog_mysql80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL 8.0 slow-log ingest with ``log_slow_extra=ON`` (8.0.14+)
    — the format vintage after the 5.1/5.6/5.7/Percona headers the
    rest of the corpus covers ([go-mysql] log/slow/parser.go
    time-format dispatch [R:H]). Same parser, new key dispatch: 8.0
    RENAMES a handful of extended keys onto the Percona columns
    (Errno->last_errno, Created_tmp_tables->tmp_tables,
    Created_tmp_disk_tables->tmp_disk_tables,
    Sort_merge_passes->merge_passes) and REUSES bool-family names as
    counters (``Sort_rows: 12``) — those route to extra_metrics
    instead of being coerced to a false boolean; the genuinely new
    8.0 counters (Bytes_received, Read_*, Start/End) flow into
    extra_metrics. Oracle = the committed golden event IR
    (scripts/gen_slowlog_80_fixture.py)."""
    return _driver_safe(parse_slowlog(spark, FIXTURE_80_LOG))


@op("scan_text_gzip", oracle=_events_sql(_GOLD_GZ))
def scan_text_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped rotated-log ingest: a directory of ``*.log.N.gz``
    segments (the logrotate layout) parsed as one DataFrame — Spark's
    text source decompresses by extension, and the ``lineSep`` record
    split applies to the DECOMPRESSED stream, so record assembly is
    identical to the plain-text path.

    THE NON-SPLITTABLE TRADE (same class of documented trade as
    scan_csv_multiline's): a .gz stream cannot be split, so each
    archive is exactly one task regardless of size — parallelism
    comes from FILE COUNT, not file size. Rotated slow logs are the
    good case (many bounded segments, one task each: at 100 TB the
    scan parallelizes across the rotation set); a single monolithic
    .gz is the bad case — one task decompresses everything, and the
    right move is recompressing to a splittable codec or landing the
    parsed IR to parquet once (sink_parquet) and never re-reading
    the archive. Oracle = the committed golden event IR over the
    3-segment fixture set (scripts/gen_slowlog_80_fixture.py)."""
    return _driver_safe(parse_slowlog(spark, FIXTURE_GZ_DIR))


@op(
    "slowlog_classes",
    oracle=f"""
    WITH ev AS (
      SELECT *, date_trunc('minute', ts) AS period_start
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL),
    ranked AS (
      SELECT *, row_number() OVER (
          PARTITION BY digest, period_start
          ORDER BY query_time DESC NULLS LAST, query DESC) AS rn
      FROM ev)
    SELECT digest, period_start,{_CLASS_DIMS_SQL}
           {_battery_sql()},
           CAST(60 AS BIGINT) AS period_length
    FROM ranked
    GROUP BY digest, period_start
    """,
)
def slowlog_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END reference pipeline: parse → fingerprint/digest →
    1-minute class aggregation with full stat battery (cnt/sum/min/
    max/avg/med/p95/p99 + bool sums + worst-execution example). The
    oracle recomputes the battery over the committed golden IR; a
    query_time tie for the example goes to the larger query text
    (pipeline.py _battery docstring)."""
    classes = ingest_slowlog(spark, FIXTURE_LOG)
    return _driver_battery(classes)


@op(
    "slowlog_global",
    oracle=f"""
    WITH ev AS (
      SELECT *, date_trunc('minute', ts) AS period_start
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL),
    ranked AS (
      SELECT *, row_number() OVER (
          PARTITION BY period_start
          ORDER BY query_time DESC NULLS LAST, query DESC) AS rn
      FROM ev)
    SELECT period_start,{_CLASS_DIMS_SQL}
           {_battery_sql()},
           CAST(60 AS BIGINT) AS period_length
    FROM ranked
    GROUP BY period_start
    """.replace(
        "min(fingerprint) AS fingerprint,",
        "'GLOBAL' AS fingerprint, 'GLOBAL' AS digest,",
    ),
)
def slowlog_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Result.Global analog ([go-mysql] event/global.go [R:H]):
    whole-period stat battery beside the per-class rows — one GLOBAL
    row per minute over the fixture log."""
    from slowlog2clickhouse_spark.plans.pipeline import aggregate_global

    events = parse_slowlog(spark, FIXTURE_LOG)
    return _driver_battery(aggregate_global(events))


@op(
    "slowlog_classes_approx",
    # r6 partial oracle (VERDICT r5 #7): counts/sums/min/max of the
    # approx pipeline are exact (only the percentile columns sketch)
    # and value-checked against the golden IR; each sketch percentile
    # surfaces as a min≤p≤max verdict the oracle asserts TRUE
    oracle=f"""
    SELECT digest, date_trunc('minute', ts) AS period_start,
           CAST(count(*) AS BIGINT) AS num_queries,
           round(sum(query_time), 6) AS qt_sum,
           min(query_time) AS qt_min,
           max(query_time) AS qt_max,
           TRUE AS med_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1, 2
    """,
)
def slowlog_classes_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB default for the class pipeline:
    ``percentiles='approx'`` swaps exact per-group value buffers for
    approx_percentile sketches (bounded memory per group regardless of
    class size). tests/test_slowlog.py bounds its drift vs the exact
    pipeline; the driver checks the exact columns and the sketch's
    [min, max] containment per class."""
    classes = ingest_slowlog(spark, FIXTURE_LOG, percentiles="approx")
    mn, mx = F.col("m_query_time_min"), F.col("m_query_time_max")

    def within(col: str) -> F.Column:
        c = F.col(col)
        return c.isNull() | ((c >= mn) & (c <= mx))

    return classes.select(
        "digest",
        "period_start",
        "num_queries",
        F.round("m_query_time_sum", 6).alias("qt_sum"),
        mn.alias("qt_min"),
        mx.alias("qt_max"),
        within("m_query_time_med").alias("med_ok"),
        within("m_query_time_p95").alias("p95_ok"),
        within("m_query_time_p99").alias("p99_ok"),
    )


@op(
    "slowlog_parse_stats",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(coalesce(sum(CASE WHEN admin THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_admin,
           CAST(coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_no_ts,
           CAST(coalesce(sum(CASE WHEN query IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_no_query,
           CAST(coalesce(sum(CASE WHEN rate_limit > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rate_limited,
           CAST(coalesce(sum(CASE WHEN extra_metrics_json <> '{{}}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extra_kv
    FROM {_GOLD}
    """,
)
def slowlog_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse-quality accounting — the reference logs skipped/partial
    events; here it is a one-row DataFrame a monitoring job can sink:
    totals of events, admin commands, unparseable (no ts), rate-limited
    sessions, and records carrying unknown `# Key:` pairs."""
    ev = parse_slowlog(spark, FIXTURE_LOG)

    def tally(cond):  # count_if with NULL-as-false (sum of all-NULL is NULL)
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0))

    return ev.agg(
        F.count("*").alias("n_events"),
        tally(F.col("admin")).alias("n_admin"),
        tally(F.col("ts").isNull()).alias("n_no_ts"),
        tally(F.col("query").isNull()).alias("n_no_query"),
        tally(F.col("rate_limit") > 1).alias("n_rate_limited"),
        tally(F.size("extra_metrics") > 0).alias("n_extra_kv"),
    )


@op(
    "slowlog_top_digests",
    oracle=f"""
    SELECT digest, min(fingerprint) AS fingerprint,
           CAST(count(*) AS BIGINT) AS total_queries,
           round(sum(query_time), 6) AS total_query_time,
           max(query_time) AS worst_query_time
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY digest
    ORDER BY sum(query_time) DESC NULLS LAST, digest ASC
    LIMIT 10
    """,
)
def slowlog_top_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M2 slice: top-10 digests by total query time — what QAN
    renders on its landing page. The class-sum-of-sums equals the
    oracle's direct per-digest sum after the 6-decimal round (the log's
    own precision recovers the exact decimal total)."""
    td = top_digests(ingest_slowlog(spark, FIXTURE_LOG), k=10)
    return td.withColumn("total_query_time", F.round("total_query_time", 6))


@op(
    "sink_parquet",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY 1",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with read-back (the INSERT-batching analog,
    main.go:~200-320 [R:M]). The oracle is the pre-sink aggregate over
    the source table: a lossy format hop would fail the hash."""
    out = f"{_TMP}/sink_parquet"
    df = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n")
    )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@op(
    "sink_parquet_partitioned",
    oracle=f"""
    SELECT CAST(date_trunc('minute', ts) AS DATE) AS period_date,
           CAST(count(DISTINCT (digest, date_trunc('minute', ts))) AS BIGINT)
               AS n_classes
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned, digest-sorted sink mirroring the reference's
    MergeTree layout (PARTITION BY toDate(period_start) ORDER BY
    (digest, period_start) — README DDL [R:M]); read-back counts per
    partition prove pruning-compatible layout. Oracle = per-day
    distinct (digest, minute) classes over the golden IR."""
    out = f"{_TMP}/sink_classes"
    classes = ingest_slowlog(spark, FIXTURE_LOG)
    sink_classes_parquet(classes, out)
    back = spark.read.parquet(out)
    return back.groupBy("period_date").agg(F.count("*").alias("n_classes"))


@op(
    "scan_csv",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited text scan with declared schema (never inferSchema in
    production — schema inference is a full extra pass at 100 TB).
    Oracle = the same aggregate over the parquet original: doubles
    survive the text hop exactly (Spark writes shortest-round-trip
    representations)."""
    out = f"{_TMP}/events_csv"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).option("header", True).csv(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


@op(
    "scan_json_props",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
    FROM events
    """,
)
def scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed struct extraction from JSON strings via from_json (the
    labels / extra-kv capture analog, main.go:~100 [R:L])."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k BIGINT").getField("k").alias("k_typed"),
    )


@op(
    "scan_slowlog_pyds",
    oracle=f"""
    SELECT db, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(query_time), 6) AS total_qt
    FROM {_GOLD}
    GROUP BY db
    """,
)
def scan_slowlog_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slow-log format as a REGISTERED Spark data source
    (`spark.read.format("slowlog")`) via the Spark 4 Python Data
    Source API — same parse_record state machine as the mapInPandas
    reader, one partition per log file. tests/test_slowlog.py pins
    event-for-event equality between both integration surfaces over
    the whole fixture corpus (directory read, one partition per file);
    the driver-facing read targets the golden-covered log so the
    per-db counts + total query time hash against the golden IR."""
    from slowlog2clickhouse_spark.sources import slowlog_datasource

    slowlog_datasource.register(spark)
    ev = spark.read.format("slowlog").option("path", FIXTURE_LOG).load()
    return (
        ev.groupBy("db")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("query_time"), 6).alias("total_qt"),
        )
        .orderBy(F.col("db").asc_nulls_first())
    )


@op(
    "qan_filter_dimensions",
    oracle=f"""
    WITH ev AS (
      SELECT * FROM {_GOLD} WHERE NOT admin AND query IS NOT NULL),
    tot AS (SELECT sum(query_time) AS t FROM ev),
    pairs AS (
      SELECT dim.dimension, dim.value, ev.query_time
      FROM ev, LATERAL (VALUES
          ('db', coalesce(ev.db, '<none>')),
          ('user', coalesce(ev."user", '<none>')),
          ('host', coalesce(ev.host, '<none>'))) AS dim(dimension, value)),
    agg AS (
      SELECT dimension, value, CAST(count(*) AS BIGINT) AS n_queries,
             round(sum(query_time), 6) AS total_time
      FROM pairs GROUP BY 1, 2)
    SELECT dimension, value, n_queries, total_time,
           round(total_time / t, 6) AS time_share
    FROM agg, tot
    """,
)
def qan_filter_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QAN filter-panel op: for each dimension (db, user, host),
    every observed value with its query count and share of total query
    time — what populates the left-hand drilldown list in the QAN UI
    (qan-api2 filters endpoint analog, SURVEY §3.3 [R:M]).

    One pass over parsed events, unpivoted to (dimension, value) pairs
    map-side, then a single partial-agg'd groupBy — at 100 TB the
    dimension fan-out is ×3 before aggregation, the shuffle is
    |dims × values|-sized."""
    ev = parse_slowlog(spark, FIXTURE_LOG).where(
        ~F.col("admin") & F.col("query").isNotNull()
    )
    total = ev.agg(F.sum("query_time").alias("t"))
    pairs = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dim).alias("dimension"),
                        F.coalesce(F.col(dim), F.lit("<none>")).alias("value"),
                    )
                    for dim in ("db", "user", "host")
                ]
            )
        ).alias("dv"),
        "query_time",
    )
    return (
        pairs.select("dv.dimension", "dv.value", "query_time")
        .groupBy("dimension", "value")
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.sum("query_time"), 6).alias("total_time"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "dimension",
            "value",
            "n_queries",
            "total_time",
            F.round(F.col("total_time") / F.col("t"), 6).alias("time_share"),
        )
    )


@op(
    "qan_new_digests",
    oracle=f"""
    WITH ev AS (
      SELECT digest, date_trunc('minute', ts) AS period_start
      FROM {_GOLD_PY} WHERE NOT admin AND query IS NOT NULL),
    dp AS (SELECT DISTINCT digest, period_start FROM ev),
    f AS (SELECT digest, min(period_start) AS first_seen FROM dp GROUP BY 1)
    SELECT period_start, count(*) AS n_digests,
           CAST(sum(CASE WHEN period_start = first_seen THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new
    FROM dp JOIN f USING (digest) GROUP BY 1
    """,
)
def qan_new_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QAN "new queries" panel: per period, how many distinct query
    classes ran and how many appeared for the FIRST time — the panel
    that catches a deploy introducing unseen query shapes (PMM's
    new-queries filter; first-seen = min period per digest).

    Scale: the (digest, period) distinct set is the same cardinality
    collapse as the class pipeline; first-seen is a |digests|-row
    aggregate that broadcasts back. No raw-event row crosses a second
    shuffle."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    dp = events.select(
        "digest", F.date_trunc("minute", F.col("ts")).alias("period_start")
    ).distinct()
    first = dp.groupBy("digest").agg(F.min("period_start").alias("first_seen"))
    return (
        dp.join(F.broadcast(first), "digest")
        .groupBy("period_start")
        .agg(
            F.count("*").alias("n_digests"),
            F.sum(
                F.when(F.col("period_start") == F.col("first_seen"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
    )


@op(
    "slowlog_efficiency",
    # ints stay int until the final ratios: examine_ratio is exact-int
    # division (×1.0), lock_share divides the round-6-recovered
    # decimal sums — both deterministic cross-engine (module
    # docstring's float discipline).
    oracle=f"""
    SELECT digest,
           cast(count(*) AS BIGINT) AS cnt,
           cast(coalesce(sum(rows_examined), 0) AS BIGINT)
             AS rows_examined_sum,
           cast(coalesce(sum(rows_sent), 0) AS BIGINT) AS rows_sent_sum,
           coalesce(sum(rows_examined), 0) * 1.0
             / greatest(coalesce(sum(rows_sent), 0), 1) AS examine_ratio,
           cast(coalesce(sum(CASE WHEN no_index_used THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_no_index,
           cast(coalesce(sum(CASE WHEN full_scan THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_full_scan,
           round(coalesce(sum(lock_time), 0), 6) AS lock_time_sum,
           round(coalesce(sum(query_time), 0), 6) AS query_time_sum,
           round(coalesce(sum(lock_time), 0), 6)
             / greatest(round(coalesce(sum(query_time), 0), 6), 1e-9)
             AS lock_share
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
    """,
)
def slowlog_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QAN query-efficiency panel: per digest, rows_examined vs
    rows_sent (the examined/sent ratio is THE missing-index smell — a
    digest scanning 10^4 rows to return 10 wants an index), no-index /
    full-scan execution counts, and lock time as a share of total query
    time (lock-bound vs IO-bound classification). The reference ships
    these per-class counters to ClickHouse; this is the analytical
    read-back that ranks optimization targets.

    Scale: one partial-agg'd groupBy on the digest key over the parsed
    event stream — identical shuffle shape to slowlog_classes; every
    metric is an int or round-recovered decimal sum, ratios computed
    once post-aggregation."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    lock_sum = F.round(F.coalesce(F.sum("lock_time"), F.lit(0.0)), 6)
    qt_sum = F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6)
    exam = F.coalesce(F.sum("rows_examined"), F.lit(0))
    sent = F.coalesce(F.sum("rows_sent"), F.lit(0))
    return events.groupBy("digest").agg(
        F.count("*").alias("cnt"),
        exam.alias("rows_examined_sum"),
        sent.alias("rows_sent_sum"),
        (exam * 1.0 / F.greatest(sent, F.lit(1))).alias("examine_ratio"),
        F.coalesce(
            F.sum(F.when(F.col("no_index_used"), 1).otherwise(0)), F.lit(0)
        ).alias("n_no_index"),
        F.coalesce(
            F.sum(F.when(F.col("full_scan"), 1).otherwise(0)), F.lit(0)
        ).alias("n_full_scan"),
        lock_sum.alias("lock_time_sum"),
        qt_sum.alias("query_time_sum"),
        (lock_sum / F.greatest(qt_sum, F.lit(1e-9))).alias("lock_share"),
    )


@op(
    "slowlog_dimensions_matrix",
    oracle=f"""
    SELECT digest, user, host, db,
           cast(count(*) AS BIGINT) AS cnt,
           round(coalesce(sum(query_time), 0), 6) AS query_time_sum
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1, 2, 3, 4
    """,
)
def slowlog_dimensions_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QAN dimension drill-down matrix: per (digest, user, host, db)
    execution counts and total query time — the pt-query-digest
    "which user@host runs this query against which schema" view, and
    the grouping the QAN UI filters against when a dimension chip is
    selected (qan_filter_dimensions is the filtered read of exactly
    this grain).

    Scale: one partial-agg'd groupBy on the composite key; the
    dimension columns ride the same shuffle as the digest key, so the
    matrix costs no more than the per-digest rollup. Cardinality =
    |digests × active principals|, orders of magnitude below raw
    events."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    return events.groupBy("digest", "user", "host", "db").agg(
        F.count("*").alias("cnt"),
        F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias(
            "query_time_sum"
        ),
    )


@op(
    "slowlog_load_share",
    # share = round-6-recovered per-digest sum ÷ the round-6-recovered
    # grand total (the RAW sum of 30 rounded doubles is order-dependent
    # in the last ulp — measured: every share differed engine-to-engine
    # until the grand total was rounded too); rank tiebreaks on digest
    oracle=f"""
    WITH per AS (
      SELECT digest,
             cast(count(*) AS BIGINT) AS cnt,
             round(coalesce(sum(query_time), 0), 6) AS qt_sum
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL
      GROUP BY 1),
    tot AS (SELECT round(sum(qt_sum), 6) AS grand FROM per)
    SELECT digest, cnt, qt_sum,
           qt_sum / tot.grand AS load_share,
           cast(row_number() OVER (
             ORDER BY qt_sum DESC, digest ASC) AS INTEGER) AS load_rank
    FROM per, tot
    """,
)
def slowlog_load_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt-query-digest's headline metric: each digest's share of TOTAL
    server load (fraction of summed query time) with a deterministic
    load rank — the "this one query is 40% of your database" number
    that opens every slow-log report.

    Scale: the per-digest rollup is the only full-data shuffle; the
    grand total is a 1-row broadcast back onto it, and the rank runs
    over |digests| post-agg rows."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    per = events.groupBy("digest").agg(
        F.count("*").alias("cnt"),
        F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias("qt_sum"),
    )
    tot = per.agg(F.round(F.sum("qt_sum"), 6).alias("grand"))
    w = W.orderBy(F.col("qt_sum").desc(), F.col("digest").asc())
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digest",
            "cnt",
            "qt_sum",
            (F.col("qt_sum") / F.col("grand")).alias("load_share"),
            F.row_number().over(w).alias("load_rank"),
        )
    )


@op(
    "qan_digest_examples",
    # worst-2 executions per digest: (query_time DESC, query DESC)
    # is the same content-deterministic tiebreak the class battery's
    # example selection uses; the query travels as md5 to keep the
    # compare payload fixed-width
    oracle=f"""
    SELECT digest, rk, round(query_time, 6) AS query_time,
           md5(query) AS example_md5
    FROM (
      SELECT digest, query, query_time,
             CAST(row_number() OVER (
               PARTITION BY digest
               ORDER BY query_time DESC NULLS LAST, query DESC) AS INTEGER)
               AS rk
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL) t
    WHERE rk <= 2
    """,
)
def qan_digest_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QAN example pane: the two WORST raw executions per digest
    (slowest first, content tiebreak) — what the UI shows when you
    click a class to see "what did this query actually look like when
    it was slow".

    Scale: rides Spark's WindowGroupLimit rank pushdown — each
    partition keeps only its local top-2 per digest BEFORE the window
    shuffle, so example selection costs |digests × 2 × partitions|
    shuffle rows, not the raw event stream."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    w = W.partitionBy("digest").orderBy(
        F.col("query_time").desc_nulls_last(), F.col("query").desc()
    )
    return (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select(
            "digest",
            "rk",
            F.round("query_time", 6).alias("query_time"),
            F.md5("query").alias("example_md5"),
        )
    )


FIXTURE_RATELIMIT_LOG = os.path.join(
    _REPO_ROOT, "tests", "fixtures", "slowlog_ratelimit.log"
)
_GOLD_RATE = (
    "read_parquet('"
    + os.path.join(
        _REPO_ROOT, "tests", "fixtures", "golden",
        "slowlog_ratelimit_events.parquet",
    )
    + "')"
)
_GOLD_RATE_PY = _parser_classed(_GOLD_RATE)


@op(
    "slowlog_rate_adjusted",
    # estimates are exact: cnt × rate_limit is integer, the time sums
    # are round-6-recovered decimals scaled by an integer factor
    oracle=f"""
    SELECT digest,
           coalesce(max(rate_limit), 1) AS rate_limit,
           cast(count(*) AS BIGINT) AS cnt_logged,
           cast(count(*) * coalesce(max(rate_limit), 1) AS BIGINT)
             AS cnt_estimated,
           round(coalesce(sum(query_time), 0), 6) AS qt_logged,
           round(coalesce(sum(query_time), 0), 6)
             * coalesce(max(rate_limit), 1) AS qt_estimated
    FROM {_GOLD_RATE_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
    """,
)
def slowlog_rate_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited slow-log estimation ([go-mysql] log/log.go
    RateType/RateLimit [R:H]; Percona's Log_slow_rate_limit=N logs
    only 1/N sessions): per-class counts and time sums UPSCALED by
    the sampling factor — the correction without which a sampled
    slow log under-reports load by N×. pt-query-digest and PMM both
    apply exactly this multiplier; the parser already captures the
    headers, this op closes the loop.

    Scale: identical digest-keyed partial-agg'd rollup as
    slowlog_classes; the multiplier rides the aggregate as
    max(rate_limit) per class (a class is logged under one sampling
    config at a time)."""
    events = parse_slowlog(spark, FIXTURE_RATELIMIT_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    rl = F.coalesce(F.max("rate_limit"), F.lit(1))
    qt = F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6)
    return events.groupBy("digest").agg(
        rl.alias("rate_limit"),
        F.count("*").alias("cnt_logged"),
        (F.count("*") * rl).alias("cnt_estimated"),
        qt.alias("qt_logged"),
        (qt * rl).alias("qt_estimated"),
    )


@op(
    "slowlog_top_tables",
    # table extraction = one regexp over the FINGERPRINT (already
    # whitespace-normalized), identical pattern both engines; load
    # share follows slowlog_load_share's round-recovered discipline
    oracle=f"""
    WITH t AS (
      SELECT lower(regexp_extract(fingerprint,
                   'from ([a-z0-9_]+)', 1)) AS table_name,
             query_time
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL),
    per AS (
      SELECT table_name,
             cast(count(*) AS BIGINT) AS cnt,
             round(coalesce(sum(query_time), 0), 6) AS qt_sum
      FROM t WHERE table_name <> '' GROUP BY 1),
    tot AS (SELECT round(sum(qt_sum), 6) AS grand FROM per)
    SELECT table_name, cnt, qt_sum,
           qt_sum / tot.grand AS load_share,
           cast(row_number() OVER (
             ORDER BY qt_sum DESC, table_name ASC) AS INTEGER) AS rnk
    FROM per, tot
    """,
)
def slowlog_top_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt-query-digest's per-TABLE report: which tables carry the
    query-time load, extracted from the normalized fingerprints (one
    regexp — the fingerprint already collapsed literals and case, so
    'FROM orders' and 'from ORDERS' agree). The table axis is what
    the DBA acts on (index/partition/denormalize a TABLE, not a
    digest).

    Scale: regexp is map-side over |classes|-collapsed... actually
    over events — but the extraction feeds the same digest-shaped
    partial-agg'd rollup, and the grand total is a 1-row broadcast.
    Multi-table joins attribute to their first table here; the full
    version explodes all FROM/JOIN captures (regexp_extract_all) at
    the same plan shape."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    tbl = F.lower(
        F.regexp_extract(F.col("fingerprint"), r"from ([a-z0-9_]+)", 1)
    )
    per = (
        events.select(tbl.alias("table_name"), "query_time")
        .where(F.col("table_name") != "")
        .groupBy("table_name")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias(
                "qt_sum"
            ),
        )
    )
    tot = per.agg(F.round(F.sum("qt_sum"), 6).alias("grand"))
    w = W.orderBy(F.col("qt_sum").desc(), F.col("table_name").asc())
    return per.crossJoin(F.broadcast(tot)).select(
        "table_name",
        "cnt",
        "qt_sum",
        (F.col("qt_sum") / F.col("grand")).alias("load_share"),
        F.row_number().over(w).alias("rnk"),
    )


@op(
    "qan_digest_cooccurrence",
    # the pair generator self-joins the (digest, minute) DISTINCT set
    # on the minute key — bounded by digests-per-minute, the same
    # group-bounded-quadratic argument as basket_part_pairs
    oracle=f"""
    WITH dm AS (
      SELECT DISTINCT digest, date_trunc('minute', ts) AS m
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL AND ts IS NOT NULL),
    pairs AS (
      SELECT a.digest AS digest_a, b.digest AS digest_b,
             cast(count(*) AS BIGINT) AS n_minutes
      FROM dm a JOIN dm b ON a.m = b.m AND a.digest < b.digest
      GROUP BY 1, 2)
    SELECT digest_a, digest_b, n_minutes,
           cast(row_number() OVER (
             ORDER BY n_minutes DESC, digest_a ASC, digest_b ASC)
             AS INTEGER) AS rk
    FROM pairs QUALIFY rk <= 20
    """,
)
def qan_digest_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-workload mining: the digest pairs most often active
    in the SAME minute — the panel that surfaces "this report query
    always runs alongside that lock-heavy update" (the co-occurring
    pair, not either query alone, is what saturates the server).
    Market-basket analysis where the basket is a minute of wall time.

    Scale: collapse to DISTINCT (digest, minute) first — the only
    full-data shuffle — then self-join on the minute key; per-minute
    active-digest counts bound the pair fan-out exactly as basket
    size bounds basket_part_pairs. Top-20 over the tiny pair table."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin"))
        & F.col("query").isNotNull()
        & F.col("ts").isNotNull()
    )
    dm = events.select(
        "digest", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = dm.select(F.col("digest").alias("digest_a"), F.col("m").alias("ma"))
    b = dm.select(F.col("digest").alias("digest_b"), F.col("m").alias("mb"))
    pairs = (
        a.join(b, (F.col("ma") == F.col("mb")) & (F.col("digest_a") < F.col("digest_b")))
        .groupBy("digest_a", "digest_b")
        .agg(F.count("*").alias("n_minutes"))
    )
    return ranked_topk(
        pairs,
        [
            F.col("n_minutes").desc(),
            F.col("digest_a").asc(),
            F.col("digest_b").asc(),
        ],
        20,
    )


@op(
    "qan_overview",
    # per-digest sums round-6-recovered (the log's own precision);
    # grand total round-recovered too (gotcha #12 — the raw sum of 30
    # rounded doubles drifts in the last ulp); p95 is an exact sorted
    # percentile (G6: Spark percentile == quantile_cont on doubles —
    # interpolation over identical sorted values, no accumulation
    # order); apdex is integer counting + /2.0; rank tiebreaks digest
    oracle=f"""
    WITH per AS (
      SELECT digest,
             min(fingerprint) AS fingerprint,
             cast(count(*) AS BIGINT) AS cnt,
             round(coalesce(sum(query_time), 0), 6) AS qt_sum,
             max(query_time) AS worst,
             quantile_cont(query_time, 0.95) AS p95,
             cast(sum(CASE WHEN query_time <= 0.1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_sat,
             cast(sum(CASE WHEN query_time > 0.1 AND query_time <= 0.4
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_tol
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL
      GROUP BY 1),
    tot AS (SELECT round(sum(qt_sum), 6) AS grand FROM per)
    SELECT digest, fingerprint, cnt, qt_sum, worst, p95,
           (n_sat + n_tol / 2.0) / cnt AS apdex,
           qt_sum / tot.grand AS load_share,
           cast(row_number() OVER (
             ORDER BY qt_sum DESC, digest ASC) AS INTEGER) AS load_rank
    FROM per, tot
    """,
)
def qan_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE QAN landing page as ONE plan — the composite a reference
    user actually renders: every digest's query count, total and
    worst time, exact p95, apdex (T = 0.1 s, classic 4T tolerating
    band), share of total server load, and load rank, in a single
    wide row per class. The separate ops (slowlog_top_digests,
    slowlog_load_share, qan_apdex shapes) each answer one column;
    this is the llm_curation_funnel of the QAN side — the proof the
    building blocks compose without re-scanning.

    Scale: ONE full-data pass — a single per-digest aggregate carries
    every metric (count/sum/max/percentile/conditional counts partial-
    aggregate together; shuffle volume is |digests|); the grand total
    is a 1-row broadcast back onto the 30-row class table and the
    rank is a window over that class-domain-bounded aggregate (both
    allowlisted shapes, same as slowlog_load_share). Four separate
    dashboard queries would parse the log four times; the composite
    parses once."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    sat = (F.col("query_time") <= 0.1).cast("long")
    tol = ((F.col("query_time") > 0.1) & (F.col("query_time") <= 0.4)).cast(
        "long"
    )
    per = events.groupBy("digest").agg(
        F.min("fingerprint").alias("fingerprint"),
        F.count("*").alias("cnt"),
        F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias(
            "qt_sum"
        ),
        F.max("query_time").alias("worst"),
        F.percentile("query_time", 0.95).alias("p95"),
        F.sum(sat).alias("n_sat"),
        F.sum(tol).alias("n_tol"),
    )
    tot = per.agg(F.round(F.sum("qt_sum"), 6).alias("grand"))
    w = W.orderBy(F.col("qt_sum").desc(), F.col("digest").asc())
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digest",
            "fingerprint",
            "cnt",
            "qt_sum",
            "worst",
            "p95",
            ((F.col("n_sat") + F.col("n_tol") / 2.0) / F.col("cnt")).alias(
                "apdex"
            ),
            (F.col("qt_sum") / F.col("grand")).alias("load_share"),
            F.row_number().over(w).alias("load_rank"),
        )
    )


# literal-extraction pattern for workload compression: tokenizes the
# SAME constructs the fingerprint chain masks — strings, comments
# (matched so their inner digits never count as bindings, then
# filtered out), hex/bin/sci/plain numbers — restricted to the
# Java/RE2-agreeing regex subset so the DuckDB oracle extracts
# identical lists. A binding = a token the template replaced with `?`.
_WORKLOAD_TOK_PAT = (
    r"'[^']*'|\"[^\"]*\"|/\*[^!].*?\*/|--[^\n]*|#[^\n]*"
    r"|\b0[xX][0-9a-fA-F]+\b|\b0b[01]+\b"
    r"|\b\d+(?:\.\d+)?(?:[eE][+-]?\d+)?\b"
)
# the same pattern as a DuckDB SQL string literal (quotes doubled)
_WORKLOAD_TOK_SQL = _WORKLOAD_TOK_PAT.replace("'", "''")


@op(
    "qan_workload_compress",
    # counts/lengths are integers (exact cross-engine); the ratio is a
    # scalar bigint/bigint division of identical operands — IEEE
    # bit-deterministic, emitted UNROUNDED (registry convention)
    oracle=f"""
    WITH lits AS (
      SELECT digest, fingerprint, query,
             list_filter(regexp_extract_all(query, '{_WORKLOAD_TOK_SQL}'),
               x -> NOT (starts_with(x, '--') OR starts_with(x, '#')
                         OR starts_with(x, '/*'))) AS ls
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL)
    SELECT digest,
           min(fingerprint) AS template,
           CAST(count(*) AS BIGINT) AS n_calls,
           CAST(max(len(ls)) AS BIGINT) AS n_params,
           CAST(sum(len(ls)) AS BIGINT) AS n_literals,
           CAST(count(DISTINCT CASE WHEN len(ls) > 0 THEN ls END)
                AS BIGINT) AS n_distinct_bindings,
           CAST(sum(length(query)) AS BIGINT) AS raw_bytes,
           CAST(sum(coalesce(list_sum(list_transform(ls, x -> length(x))), 0))
                AS BIGINT) AS param_bytes,
           CAST(length(min(fingerprint)) AS BIGINT) AS template_bytes,
           CAST(sum(length(query)) AS BIGINT)
             / (CAST(length(min(fingerprint)) AS BIGINT)
                + CAST(sum(coalesce(list_sum(list_transform(ls, x -> length(x))), 0))
                       AS BIGINT)) AS compression_x
    FROM lits GROUP BY digest
    """,
)
def qan_workload_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload compression by template + parameter bindings — the
    core representation of "Query Log Compression for Workload
    Analytics" (VLDB 2018; see PAPERS.md): a query log is (digest →
    template stored ONCE) + (per call: the literal bindings), which
    preserves replay/analytics semantics at a fraction of the bytes.
    Per digest: calls, parameter positions, total + distinct bindings
    (distinct bindings ≈ the parameter-distribution support the paper
    models), raw vs template+param bytes, and the compression factor.

    The columns answer real workload questions: HIGH n_distinct_
    bindings/n_calls = data-carrying parameters (cache-hostile, model
    the distribution); ≈1 = constant-bound template (a prepared
    statement in disguise); compression_x = what a template-aware log
    store (or ClickHouse LowCardinality digest column) saves over raw
    text.

    Scale: one map pass extracts literals (regexp_extract_all — the
    portable subset both engines split identically, verified
    list-for-list), one digest-keyed partial-agg'd shuffle. The ratio
    is bigint/bigint scalar division — IEEE-deterministic, unrounded."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    toks = F.regexp_extract_all("query", F.lit(_WORKLOAD_TOK_PAT), F.lit(0))
    not_comment = lambda x: ~(
        x.startswith("--") | x.startswith("#") | x.startswith("/*")
    )  # noqa: E731
    lits = events.select(
        "digest",
        "fingerprint",
        "query",
        F.filter(toks, not_comment).alias("ls"),
    )
    lit_bytes = F.expr("aggregate(transform(ls, x -> length(x)), 0, (a, x) -> a + x)")
    per = lits.groupBy("digest").agg(
        F.min("fingerprint").alias("template"),
        F.count("*").alias("n_calls"),
        F.max(F.size("ls")).cast("bigint").alias("n_params"),
        F.sum(F.size("ls")).cast("bigint").alias("n_literals"),
        F.count_distinct(
            F.when(F.size("ls") > 0, F.col("ls"))
        ).cast("bigint").alias("n_distinct_bindings"),
        F.sum(F.length("query")).cast("bigint").alias("raw_bytes"),
        F.sum(lit_bytes).cast("bigint").alias("param_bytes"),
        F.length(F.min("fingerprint")).cast("bigint").alias("template_bytes"),
    )
    return per.withColumn(
        "compression_x",
        F.col("raw_bytes") / (F.col("template_bytes") + F.col("param_bytes")),
    )


@op(
    "qan_workload_sample",
    # hash-threshold sampling: md5(query||ts) is per-row deterministic
    # (no rank, no tie risk), so kept-set and both share columns are
    # exact cross-engine; sums round-6-recovered, shares = scalar
    # division of round-recovered operands (gotcha #12 family)
    oracle=f"""
    WITH ev AS (
      SELECT digest, query_time,
             (CAST(('0x' || substr(md5(query || CAST(ts AS VARCHAR)), 1, 4))
                   AS BIGINT) % 10 = 0) AS kept
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL),
    per AS (
      SELECT digest,
             CAST(count(*) AS BIGINT) AS n_calls,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             round(coalesce(sum(query_time), 0), 6) AS qt_sum,
             round(coalesce(sum(CASE WHEN kept THEN query_time END), 0), 6)
               AS kept_qt_sum
      FROM ev GROUP BY 1),
    tot AS (
      SELECT round(sum(qt_sum), 6) AS grand,
             round(sum(kept_qt_sum), 6) AS kept_grand
      FROM per)
    SELECT digest, n_calls, n_kept, qt_sum, kept_qt_sum,
           qt_sum / tot.grand AS true_share,
           CASE WHEN tot.kept_grand > 0
                THEN kept_qt_sum / tot.kept_grand END AS kept_share
    FROM per, tot
    """,
)
def qan_workload_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload sampling with load-share fidelity — the replay half of
    the VLDB-2018 workload-compression story (PAPERS.md): keep a
    deterministic ~10% hash sample of the event stream (md5 threshold
    on query||ts — the hash-mod sampling every production profiler
    uses, so the same rows are kept on EVERY engine and every rerun;
    no rank, no tie hazards) and report, per digest, the true
    query-time load share beside the share the SAMPLE would estimate.
    |true_share − kept_share| is the per-class distortion a 10× log
    cost-cut buys — tests pin the corpus-wide distortion small, which
    is the paper's claim (per-template sampling preserves workload
    analytics).

    Scale: one map pass computes the keep bit (md5 on the row — no
    state), one digest-keyed partial-agg'd shuffle, one 1-row grand-
    total broadcast. The sample RATE generalizes by widening the hash
    modulus; stratified-exact sampling lives in sample_stratified."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    hk = F.conv(
        F.substring(F.md5(F.concat(F.col("query"), F.col("ts").cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    ev = events.select("digest", "query_time", (hk % 10 == 0).alias("kept"))
    per = ev.groupBy("digest").agg(
        F.count("*").alias("n_calls"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias("qt_sum"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("kept"), F.col("query_time"))), F.lit(0.0)),
            6,
        ).alias("kept_qt_sum"),
    )
    tot = per.agg(
        F.round(F.sum("qt_sum"), 6).alias("grand"),
        F.round(F.sum("kept_qt_sum"), 6).alias("kept_grand"),
    )
    return per.join(F.broadcast(tot)).select(
        "digest",
        "n_calls",
        "n_kept",
        "qt_sum",
        "kept_qt_sum",
        (F.col("qt_sum") / F.col("grand")).alias("true_share"),
        F.when(
            F.col("kept_grand") > 0, F.col("kept_qt_sum") / F.col("kept_grand")
        ).alias("kept_share"),
    )


@op(
    "slowlog_classes_incremental",
    # oracle = the single-pass FULL recompute: the merge of the two
    # partial-aggregate halves must equal it. cnt/min/max are exact;
    # the query-time sum is round-6-recovered AFTER the merge (the
    # log's own precision — partial sums stay raw, rounding partials
    # would double-round)
    oracle=f"""
    SELECT digest,
           CAST(count(*) AS BIGINT) AS num_queries,
           round(coalesce(sum(query_time), 0), 6) AS qt_sum,
           min(query_time) AS qt_min,
           max(query_time) AS qt_max
    FROM {_GOLD_PY}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
    """,
)
def slowlog_classes_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the class table — the
    AggregatingMergeTree shape the reference's ClickHouse target uses
    in production: yesterday's stored PARTIAL aggregates merge with
    today's batch WITHOUT rescanning yesterday's raw events. The op
    splits the fixture into two interleaved halves (minute-epoch
    parity — every class spans both, the adversarial split), computes
    the mergeable partial battery per half (count/sum/min/max — the
    exactly-mergeable core; distinct-count merges live in
    agg_hll_daily_merge, percentile merges in agg_percentile_approx's
    sketch), full-outer-merges them digest-by-digest, and must equal
    the single-pass recompute (the oracle).

    The merge algebra IS the test: cnt = cnt₁+cnt₂, sum = sum₁+sum₂
    (raw doubles, round-6-recovered only after the merge), min/max =
    least/greatest with null-skip for digests present in one half
    only. At 100 TB this is the difference between an O(day) append
    and an O(history) recompute per ingest cycle.

    Scale: two digest-keyed partial-agg shuffles + one digest
    equi-join — in production the left side is a parquet/ClickHouse
    read of stored partials, not a recompute."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin")) & F.col("query").isNotNull()
    )
    half = (
        F.unix_timestamp(F.date_trunc("minute", F.col("ts"))) % 2
    ).alias("half")
    # lazy checkpoint: both half-partials branch off ev (the shared-
    # subtree discipline — one Arrow parse, not one per half)
    ev = events.select("digest", "query_time", half).localCheckpoint(
        eager=False
    )

    def partials(h: int) -> DataFrame:
        return (
            ev.where(F.col("half") == h)
            .groupBy("digest")
            .agg(
                F.count("*").alias(f"cnt{h}"),
                F.sum("query_time").alias(f"s{h}"),
                F.min("query_time").alias(f"mn{h}"),
                F.max("query_time").alias(f"mx{h}"),
            )
        )

    merged = partials(0).join(partials(1), "digest", "full_outer")
    zero = F.lit(0.0)
    return merged.select(
        "digest",
        (F.coalesce("cnt0", F.lit(0)) + F.coalesce("cnt1", F.lit(0))).alias(
            "num_queries"
        ),
        F.round(
            F.coalesce("s0", zero) + F.coalesce("s1", zero), 6
        ).alias("qt_sum"),
        F.least("mn0", "mn1").alias("qt_min"),
        F.greatest("mx0", "mx1").alias("qt_max"),
    )


def qt_hist_bucket() -> F.Column:
    """Power-of-two histogram bucket of query_time at µs resolution —
    the mergeable percentile state's key (bucket k spans
    [2^(k-1), 2^k)µs; integer/string ops only, exact cross-engine)."""
    iv = F.greatest(
        F.floor(F.col("query_time") * 1000000).cast("long"), F.lit(0)
    )
    return F.length(F.conv(iv.cast("string"), 10, 2))


def hist_quantiles(merged: DataFrame) -> DataFrame:
    """(digest, bucket, n) histogram → (digest, num_timed, p50_est,
    p95_est, p95_bucket) via percentile_disc's exact integer cume rule.
    Shared by the batch incremental op and the streaming merge sink."""
    from pyspark.sql import Window as W

    cum = F.sum("n").over(
        W.partitionBy("digest").orderBy("bucket").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    tot = F.sum("n").over(W.partitionBy("digest"))
    c = merged.select(
        "digest", "bucket", cum.alias("cum"), tot.alias("tot")
    )
    q = c.groupBy("digest").agg(
        F.max("tot").alias("num_timed"),
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("bucket"))).alias(
            "b50"
        ),
        F.min(
            F.when(F.col("cum") * 100 >= 95 * F.col("tot"), F.col("bucket"))
        ).alias("b95"),
    )
    est = lambda b: (  # noqa: E731 — bucket hi in seconds
        (F.expr(f"shiftleft(CAST(1 AS BIGINT), {b})") - 1) / 1000000.0
    )
    return q.select(
        "digest",
        "num_timed",
        F.round(est("b50"), 6).alias("p50_est"),
        F.round(est("b95"), 6).alias("p95_est"),
        F.col("b95").cast("int").alias("p95_bucket"),
    )


@op(
    "slowlog_classes_incremental_pctl",
    # oracle = the single-pass FULL recompute of the same histogram
    # quantiles: merged power-of-two histograms are integer-exact, so
    # merge-of-partials must hash-equal the recompute. The percentile
    # rule is percentile_disc's in exact integers (cum/tot >= q as
    # cum*100 >= q*100*tot — no float ceil whose libm rounding could
    # flip a boundary cross-engine).
    oracle=f"""
    WITH e AS (
      SELECT digest,
             length(bin(greatest(
               CAST(floor(query_time * 1000000) AS BIGINT), 0))) AS bucket
      FROM {_GOLD_PY}
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
def slowlog_classes_incremental_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable PERCENTILES for the incremental class table — the gap
    slowlog_classes_incremental leaves open (VERDICT r9 #2): the
    reference class row carries med/p95 ([go-mysql]
    event/metrics.go:~150-200 [R:H]), and raw percentiles cannot merge
    from cnt/sum/min/max partials. The mergeable state is a
    power-of-two histogram over floor(query_time·1e6) (microsecond
    resolution, the qan_latency_histogram primitive — ClickHouse's own
    quantileTiming philosophy): bucket counts are integers and merge
    by ADDITION, exactly the AggregatingMergeTree contract. The op
    splits the fixture into the same adversarial interleaved halves,
    builds the per-half histograms, merges them (union + re-sum), and
    reads p50/p95 off the MERGED histogram; the oracle recomputes the
    same quantiles from a single full pass, so merged == recompute is
    hash-verified. Bucket k spans [2^(k-1), 2^k)µs — the estimate
    (bucket hi) is within 2× of the exact percentile_disc value, a
    bound tests/test_slowlog.py pins against exact p50/p95.

    Scale: per-cycle state is |digests × ≤40 buckets| integers (the
    stored partials a 100 TB deployment keeps per day); the merge is
    an addition-keyed shuffle of that tiny table, never a rescan of
    history. Quantile extraction is one bounded window over ≤40 rows
    per digest."""
    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin"))
        & F.col("query").isNotNull()
        & F.col("query_time").isNotNull()
    )
    half = (
        F.unix_timestamp(F.date_trunc("minute", F.col("ts"))) % 2
    ).alias("half")
    # lazy checkpoint: both half-partials branch off ev — in the real
    # deployment each cycle parses only its own day, but here the
    # fixture split would otherwise re-run the Arrow parse per half
    ev = events.select(
        "digest", qt_hist_bucket().alias("bucket"), half
    ).localCheckpoint(eager=False)

    def hist_partial(h: int) -> DataFrame:
        # one day's stored partial: (digest, bucket) -> count
        return (
            ev.where(F.col("half") == h)
            .groupBy("digest", "bucket")
            .agg(F.count("*").alias("n"))
        )

    # THE MERGE: histograms merge by addition — union the stored
    # partial tables and re-sum per (digest, bucket)
    merged = (
        hist_partial(0)
        .unionByName(hist_partial(1))
        .groupBy("digest", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    return hist_quantiles(merged)


@op(
    "qan_pctl_hist_error",
    # every column is deterministic cross-engine: ranks are integers,
    # the value at a rank is well-defined regardless of equal-value
    # ordering, bucket estimates are integer-derived, and the ratios
    # are single IEEE divisions of identically-derived doubles
    oracle=f"""
    WITH e AS (
      SELECT digest, query_time,
             length(bin(greatest(
               CAST(floor(query_time * 1000000) AS BIGINT), 0))) AS bucket
      FROM {_GOLD_PY}
      WHERE NOT admin AND query IS NOT NULL AND query_time IS NOT NULL),
    r AS (
      SELECT digest, query_time,
             row_number() OVER (PARTITION BY digest
                                ORDER BY query_time) AS rn,
             count(*) OVER (PARTITION BY digest) AS n
      FROM e),
    exact AS (
      SELECT digest, CAST(min(n) AS BIGINT) AS n,
             min(CASE WHEN rn * 2 >= n THEN query_time END) AS p50_exact,
             min(CASE WHEN rn * 100 >= 95 * n THEN query_time END) AS p95_exact
      FROM r GROUP BY 1),
    h AS (SELECT digest, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
    c AS (SELECT digest, bucket,
                 sum(cnt) OVER (PARTITION BY digest ORDER BY bucket) AS cum,
                 sum(cnt) OVER (PARTITION BY digest) AS tot
          FROM h),
    qh AS (SELECT digest,
                  min(CASE WHEN cum * 2 >= tot THEN bucket END) AS b50,
                  min(CASE WHEN cum * 100 >= 95 * tot THEN bucket END) AS b95
           FROM c GROUP BY 1),
    est AS (
      SELECT digest,
             round(((CAST(1 AS BIGINT) << b50) - 1) / 1000000.0, 6) AS p50_est,
             round(((CAST(1 AS BIGINT) << b95) - 1) / 1000000.0, 6) AS p95_est
      FROM qh)
    SELECT exact.digest, exact.n,
           exact.p50_exact, est.p50_est,
           round(est.p50_est / exact.p50_exact, 6) AS p50_ratio,
           exact.p95_exact, est.p95_est,
           round(est.p95_est / exact.p95_exact, 6) AS p95_ratio,
           (est.p95_est >= exact.p95_exact - 0.000001
            AND est.p95_est <= 2 * exact.p95_exact + 0.000001) AS within_2x
    FROM exact JOIN est USING (digest)
    """,
)
def qan_pctl_hist_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration gate for the mergeable-percentile estimator — the
    measure-don't-guess companion to slowlog_classes_incremental_pctl
    (same discipline as dedup_minhash_accuracy / ann_recall_eval): per
    digest, the EXACT p50/p95 (percentile_disc's integer cume rule
    over raw query times) beside the power-of-two-histogram estimate,
    with the est/exact ratio and the 2× error-bound verdict the
    histogram's bucket geometry guarantees. At 100 TB you run this on
    a sample partition to decide whether 2×-bounded, constant-relative-
    error percentiles are acceptable for the class table BEFORE
    switching the incremental pipeline onto the sketch.

    Scale: one parse pass feeds both sides; the exact side is one
    digest-keyed window (rank within class — bounded by class size,
    the same cost the reference's in-memory per-class buffer pays);
    the estimate side is the |digests × ≤40 buckets| histogram path."""
    from pyspark.sql import Window as W

    events = parse_slowlog(spark, FIXTURE_LOG).where(
        (~F.col("admin"))
        & F.col("query").isNotNull()
        & F.col("query_time").isNotNull()
    )
    # lazy checkpoint: ev feeds BOTH the exact-rank branch and the
    # histogram branch — without it each branch re-runs the Arrow
    # parse (the shared-subtree discipline)
    ev = events.select(
        "digest", "query_time", qt_hist_bucket().alias("bucket")
    ).localCheckpoint(eager=False)
    wq = W.partitionBy("digest").orderBy("query_time")
    wn = W.partitionBy("digest")
    r = ev.select(
        "digest",
        "query_time",
        F.row_number().over(wq).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    exact = r.groupBy("digest").agg(
        F.min("n").cast("bigint").alias("n"),
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n"), F.col("query_time"))
        ).alias("p50_exact"),
        F.min(
            F.when(F.col("rn") * 100 >= 95 * F.col("n"), F.col("query_time"))
        ).alias("p95_exact"),
    )
    hist = ev.groupBy("digest", "bucket").agg(F.count("*").alias("n"))
    est = hist_quantiles(hist).select("digest", "p50_est", "p95_est")
    return exact.join(est, "digest").select(
        "digest",
        "n",
        "p50_exact",
        "p50_est",
        F.round(F.col("p50_est") / F.col("p50_exact"), 6).alias("p50_ratio"),
        "p95_exact",
        "p95_est",
        F.round(F.col("p95_est") / F.col("p95_exact"), 6).alias("p95_ratio"),
        (
            (F.col("p95_est") >= F.col("p95_exact") - 0.000001)
            & (F.col("p95_est") <= 2 * F.col("p95_exact") + 0.000001)
        ).alias("within_2x"),
    )


@op(
    "slowlog_classes_routed",
    # truth = the committed state-machine digests (digest_py column of
    # the golden IR): routed fingerprinting must class every event
    # exactly as the full state machine would — on the REAL log, not
    # just the adversarial corpus
    oracle=f"""
    SELECT digest_py AS digest,
           CAST(count(*) AS BIGINT) AS num_queries,
           round(coalesce(sum(query_time), 0), 6) AS qt_sum
    FROM {_GOLD}
    WHERE NOT admin AND query IS NOT NULL
    GROUP BY 1
    """,
)
def slowlog_classes_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROUTED ingest path end to end on the real log: parse →
    per-row construct detection → chain fingerprint for clean rows,
    Arrow state machine for flagged rows → class aggregation. The
    oracle classes the same events by the COMMITTED state-machine
    digest (digest_py in the golden IR), so a hash match proves the
    routed path is state-machine-exact on production-shaped input,
    with the UDF tax confined to the flagged slice (39/983 events on
    this fixture). The product paths do not route: the parser
    fingerprints every event with the state machine itself.

    Scale: the chain ingest plus masked single-pass routing on ten
    codegen'd boolean detectors (NOT when()/otherwise() in the VALUE
    position, which would run the UDF on every row — ADVICE r10; and
    no longer the r10 split+union, which paid a second source pass —
    r14): the UDF's INPUT is masked to NULL for clean rows, so only
    flagged rows carry payload across the Python boundary,
    Arrow-batched, in one scan."""
    events = with_fingerprint(
        parse_slowlog(spark, FIXTURE_LOG), mode="routed"
    ).where((~F.col("admin")) & F.col("query").isNotNull())
    return events.groupBy("digest").agg(
        F.count("*").alias("num_queries"),
        F.round(F.coalesce(F.sum("query_time"), F.lit(0.0)), 6).alias("qt_sum"),
    )
