"""The reference pipeline, Spark-native: slow log → query classes.

Reference flow (main.go:~110-300 + [go-mysql] event/{aggregator,class,
metrics}.go [R:H], reconstructed): for each parsed event, fingerprint
→ digest, accumulate per-(digest, 1-minute period) metric vectors,
finalize cnt/sum/min/max/avg/med/p95 (+ example query of the worst
execution) at each period boundary, flush wide rows to ClickHouse.

Here the whole thing is ONE declarative plan: parse + fingerprint
(sources/slowlog, one Python pass), tumbling-window groupBy with the
full stat battery, `max_by` for the example, partitioned parquet sink.
Catalyst gives partial+final aggregation automatically — shuffle
volume is |classes × periods|, not |events| (the same pre-aggregation
property the reference gets from its in-memory map, but distributed).

100 TB notes:
 * exact median/p95/p99 buffer per-group values, ONE buffer per
   metric for all three quantiles (`percentile(m, array(...))`);
   `percentiles='approx'` switches to approx_percentile (a quantile
   sketch) for scale — exact is kept as the oracle-checked default at
   test SF.
 * the sink partitions by period_date (mirrors MergeTree
   `PARTITION BY toDate(period_start)` — README DDL [R:M]) and sorts
   within partitions by (digest, period_start) (mirrors the MergeTree
   primary key → parquet row-group stats give the same data-skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.sources.slowlog import (
    BOOL_METRICS,
    parse_slowlog,
)

# fixture tests exercise these families (FIXTURES.md §3); the full
# inventory is a parameter so production runs cover all of §1.1
DEFAULT_STAT_METRICS = (
    "query_time",
    "lock_time",
    "rows_sent",
    "rows_examined",
    "bytes_sent",
)


_PERIOD_S = {"minute": 60, "hour": 3600, "day": 86400}
_PERCENTILE_FN = {"exact": "percentile", "approx": "approx_percentile"}
# one percentile buffer per metric answers all three quantiles
_QUANTILES = ("med", "p95", "p99")
_QUANTILE_ARRAY = "array(0.5, 0.95, 0.99)"


def _q(name: str) -> str:
    """Backtick-quote an identifier for the battery's SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _battery(
    events: DataFrame,
    per_class: bool,
    period: str,
    metrics,
    percentiles: str,
) -> DataFrame:
    """The per-class stat battery ([go-mysql] event/metrics.go [R:H])
    as ONE SQL aggregate: per (digest, period) when ``per_class``,
    else per period with digest/fingerprint pinned to ``GLOBAL``.

    The worst execution (``example``, ``labels``) is the one with the
    largest query_time, and a tie goes to the larger query text: a
    pick by content, so the class row does not depend on how Spark
    packs file splits into partitions.

    The text is built from the metric names (backtick-quoted) and from
    fixed dict lookups of ``period``/``percentiles``, so no caller
    text reaches the SQL unquoted. Text, because the
    whole battery then costs one ``spark.sql`` call, where Column
    objects cost hundreds of py4j round trips before any job starts;
    the call drops its temp view before it returns.
    """
    period_len = _PERIOD_S[period]
    pct = _PERCENTILE_FN[percentiles]
    # example = query text of the worst execution (max query_time,
    # then query) — event/class.go example logic [R:H]; labels: the
    # qan-api2 D5 nested k/v column — the unrecognized `# Key: value`
    # pairs of the class's worst execution ride along to the sink. One
    # max_by picks both, so they come from the same row by construction
    # `outer` lists the output columns in order over `inner`, the
    # aggregate; the global row pins the per-class dims digest and
    # fingerprint (its unused min(fingerprint) is pruned)
    dims = ["digest"] if per_class else []
    bucket = f"date_trunc('{period}', ts)"
    inner = dims + [
        f"{bucket} AS period_start",
        "count(*) AS num_queries",
        "min(fingerprint) AS fingerprint",
        "min(db) AS db",
        "min(`user`) AS `user`",
        "min(host) AS host",
        "max_by(struct(query, extra_metrics), struct(query_time, query)) AS worst",
        # Percona Log_slow_rate_limit upscaling: with rate_type='query'
        # only 1/N sessions are logged, so each logged event stands for
        # rate_limit executions ([go-mysql] log/log.go RateType/RateLimit)
        "sum(CASE WHEN rate_type = 'query' AND rate_limit > 1"
        " THEN rate_limit ELSE 1 END) AS num_queries_scaled",
    ]
    outer = dims + [
        "period_start",
        "num_queries",
        "fingerprint" if per_class else "'GLOBAL' AS fingerprint",
        "db", "`user`", "host",
        "worst.query AS example", "worst.extra_metrics AS labels",
        "num_queries_scaled",
    ]
    for m in metrics:
        c, name = _q(m), f"m_{m}_"
        inner += [
            f"count({c}) AS {_q(name + 'cnt')}",
            f"sum({c}) AS {_q(name + 'sum')}",
            f"min({c}) AS {_q(name + 'min')}",
            f"max({c}) AS {_q(name + 'max')}",
            f"sum({c}) / count({c}) AS {_q(name + 'avg')}",
            # exact buffers every value; approx is the bounded-memory
            # sketch for scale — either way ONE buffer per metric
            f"{pct}({c}, {_QUANTILE_ARRAY}) AS {_q(name + 'pct')}",
        ]
        outer += [_q(name + s) for s in ("cnt", "sum", "min", "max", "avg")]
        outer += [
            f"{_q(name + 'pct')}[{i}] AS {_q(name + s)}"
            for i, s in enumerate(_QUANTILES)
        ]
    for b in BOOL_METRICS:
        inner.append(f"sum(CAST({_q(b)} AS BIGINT)) AS {_q(b + '_sum')}")
        outer.append(_q(b + "_sum"))
    if not per_class:
        outer.append("'GLOBAL' AS digest")
    outer.append(f"CAST({period_len} AS BIGINT) AS period_length")
    sep = ",\n  "
    # admin-command skip (main.go:~140 [R:M]); unparseable records
    # (null query) carry no class information either
    sql = (
        f"SELECT {sep.join(outer)}\nFROM (SELECT {sep.join(inner)}\n"
        "FROM {events} WHERE NOT admin AND query IS NOT NULL\n"
        f"GROUP BY {', '.join(dims + [bucket])})"
    )
    return events.sparkSession.sql(sql, events=events)


def aggregate_classes(
    events: DataFrame,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
) -> DataFrame:
    """events (+fingerprint/digest) → one row per (digest, period)."""
    return _battery(events, True, period, metrics, percentiles)


def aggregate_global(
    events: DataFrame,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
) -> DataFrame:
    """Whole-period rollup beside the per-class rows — the reference's
    ``Result.Global`` ([go-mysql] event/global.go [R:H]): same stat
    battery, grouped by period only, digest/fingerprint pinned to the
    GLOBAL sentinel. Partial aggregation makes this a second cheap pass
    over the same shuffle keyspace (|periods| rows out)."""
    return _battery(events, False, period, metrics, percentiles)


def ingest_slowlog(
    spark: SparkSession,
    path: str,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
) -> DataFrame:
    """Full batch pipeline: log file(s) → query-class rows, keyed by
    the exact digest the parser attached to each event."""
    return aggregate_classes(
        parse_slowlog(spark, path),
        period=period,
        metrics=metrics,
        percentiles=percentiles,
    )


def sink_classes_parquet(classes: DataFrame, out_path: str) -> None:
    """Partitioned, sorted sink mirroring the ClickHouse MergeTree
    layout (PARTITION BY toDate(period_start), ORDER BY (digest,
    period_start)): partition pruning on date, row-group skipping on
    digest."""
    (
        classes.withColumn("period_date", F.to_date("period_start"))
        .repartition("period_date")
        .sortWithinPartitions("digest", "period_start")
        .write.mode("overwrite")
        .partitionBy("period_date")
        .parquet(out_path)
    )


def top_digests(classes: DataFrame, k: int = 10) -> DataFrame:
    """The M2 end-to-end slice (SURVEY.md §7): top-K digests by total
    query time — THE canonical QAN question."""
    return (
        classes.groupBy("digest")
        .agg(
            F.min("fingerprint").alias("fingerprint"),
            F.sum("num_queries").alias("total_queries"),
            F.sum("m_query_time_sum").alias("total_query_time"),
            F.max("m_query_time_max").alias("worst_query_time"),
        )
        .orderBy(F.col("total_query_time").desc_nulls_last(), F.col("digest").asc())
        .limit(k)
    )
