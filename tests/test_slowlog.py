"""Golden-file slow-log parser + pipeline tests (SURVEY.md §5.2 2/4).

Mirrors the go-mysql corpus STYLE: hand-written records with known
expected values, then property/invariant checks over the generated
fixture (min<=med<=p95<=max, count conservation, partitioning
invariance, admin skip)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
from slowlog2clickhouse_spark.plans.pipeline import aggregate_classes, ingest_slowlog
from slowlog2clickhouse_spark.sources.slowlog import (
    parse_record,
    parse_slowlog,
    with_fingerprint,
)

GOLDEN_RECORD = """# Time: 2024-01-01T00:09:58.778549Z
# User@Host: appuser[appuser] @ web01 [10.0.0.17]  Id:  1234
# Schema: shop  Last_errno: 0  Killed: 0
# Query_time: 0.185220  Lock_time: 0.000023  Rows_sent: 12  Rows_examined: 4096
# Rows_affected: 0  Bytes_sent: 1156
# QC_Hit: No  Full_scan: Yes  Full_join: No  Tmp_table: Yes  Tmp_table_on_disk: No
# Custom_metric: 7
SET timestamp=1704067798;
SELECT c FROM t1 WHERE id IN (1, 2, 3) AND name = 'abc';"""


class TestParseRecord:
    def test_golden_fields(self):
        ev = parse_record(GOLDEN_RECORD)
        assert ev["user"] == "appuser"
        assert ev["host"] == "web01"
        assert ev["db"] == "shop"
        assert ev["admin"] is False
        # SET timestamp is authoritative (parser.go semantics)
        assert ev["ts"].isoformat() == "2024-01-01T00:09:58"
        assert ev["query_time"] == pytest.approx(0.185220)
        assert ev["lock_time"] == pytest.approx(0.000023)
        assert ev["rows_sent"] == 12
        assert ev["rows_examined"] == 4096
        assert ev["bytes_sent"] == 1156
        assert ev["qc_hit"] is False
        assert ev["full_scan"] is True
        assert ev["tmp_table"] is True
        assert ev["query"] == "SELECT c FROM t1 WHERE id IN (1, 2, 3) AND name = 'abc'"
        assert ev["extra_metrics"] == {"Custom_metric": "7"}
        # absent metric lines stay null
        assert ev["innodb_io_r_ops"] is None and ev["merge_passes"] is None

    def test_56_time_format_and_use_db(self):
        rec = (
            "# Time: 240221 10:15:53\n"
            "# User@Host: root[root] @ localhost []\n"
            "# Query_time: 1.5  Lock_time: 0.0  Rows_sent: 1  Rows_examined: 1\n"
            "use warehouse;\n"
            "SELECT 1;"
        )
        ev = parse_record(rec)
        assert ev["ts"].isoformat() == "2024-02-21T10:15:53"
        assert ev["db"] == "warehouse"
        assert ev["host"] == "localhost"
        assert ev["query"] == "SELECT 1"

    def test_admin_command(self):
        rec = (
            "# Time: 2024-01-01T00:00:01Z\n"
            "# User@Host: root[root] @ h []\n"
            "# Query_time: 0.000010  Lock_time: 0.0  Rows_sent: 0  Rows_examined: 0\n"
            "# administrator command: Quit;"
        )
        ev = parse_record(rec)
        assert ev["admin"] is True
        assert ev["query"] == "Quit"

    def test_hash_inside_string_not_a_header(self):
        rec = (
            "# Time: 2024-01-01T00:00:01Z\n"
            "# Query_time: 0.5  Lock_time: 0.0  Rows_sent: 0  Rows_examined: 0\n"
            "SET timestamp=1704067201;\n"
            "SELECT note FROM memos WHERE body = 'prefix # Time: not a header 5';"
        )
        ev = parse_record(rec)
        assert "# Time:" in ev["query"]
        assert ev["query_time"] == pytest.approx(0.5)

    def test_multiline_statement(self):
        rec = (
            "# Time: 2024-01-01T00:00:01Z\n"
            "# Query_time: 0.5  Lock_time: 0.0  Rows_sent: 0  Rows_examined: 0\n"
            "SELECT a\nFROM b\nWHERE c = 1;"
        )
        ev = parse_record(rec)
        assert ev["query"] == "SELECT a\nFROM b\nWHERE c = 1"

    @pytest.mark.parametrize(
        "header",
        ["2024-01-01T00:60:30", "2024-13-01T00:00:00", "2024-02-30T00:00:00"],
    )
    def test_out_of_range_time_header_gives_null_ts(self, header):
        """A `# Time:` value naming no real instant is an event with a
        NULL ts, not an error that aborts the whole parse stage."""
        ev = parse_record(
            f"# Time: {header}\n"
            "# Query_time: 0.5  Lock_time: 0.0  Rows_sent: 1  Rows_examined: 1\n"
            "SELECT 1;"
        )
        assert ev["ts"] is None
        assert ev["query"] == "SELECT 1" and ev["query_time"] == pytest.approx(0.5)

    @pytest.mark.parametrize("epoch", ["99999999999999", "9" * 30])
    def test_out_of_range_set_timestamp_keeps_header_ts(self, epoch):
        """`SET timestamp=` past year 9999 (ValueError) or past a C long
        (OverflowError) leaves the header's ts, and the line still does
        not become query text."""
        ev = parse_record(
            "# Time: 2024-01-01T00:09:58Z\n"
            "# Query_time: 0.5  Lock_time: 0.0  Rows_sent: 1  Rows_examined: 1\n"
            f"SET timestamp={epoch};\n"
            "SELECT 1;"
        )
        assert ev["ts"].isoformat() == "2024-01-01T00:09:58"
        assert ev["query"] == "SELECT 1"

    def test_out_of_range_integer_goes_to_extra_metrics(self):
        """An integer outside int64 cannot ride a LongType column: it
        stays raw in extra_metrics; the int64 bounds themselves parse."""
        ev = parse_record(
            "# Time: 2024-01-01T00:00:01Z\n"
            "# Query_time: 0.5  Rows_sent: 99999999999999999999999"
            "  Rows_examined: 9223372036854775807\n"
            "# Rows_affected: -9223372036854775808  Bytes_sent: 9223372036854775808\n"
            "SELECT 1;"
        )
        assert ev["rows_sent"] is None and ev["bytes_sent"] is None
        assert ev["rows_examined"] == 2**63 - 1
        assert ev["rows_affected"] == -(2**63)
        assert ev["extra_metrics"] == {
            "Rows_sent": "99999999999999999999999",
            "Bytes_sent": "9223372036854775808",
        }

    @pytest.mark.parametrize(
        "log", ["slowlog_small.log", "slowlog_mixed_versions.log"]
    )
    def test_log_key_spellings_hit_the_exact_table(self, log):
        """Every `# Key:` spelling the parser recognizes in a real-style
        log is a direct `_KNOWN_EXACT` hit, not a `.lower()` fallback
        (Percona writes 'Query_time', 'Rows_examined', not
        'Query_Time'). Only the deliberately unknown key misses."""
        from slowlog2clickhouse_spark.sources.slowlog import _KNOWN_EXACT, _KV_RE

        keys = set()
        with open(os.path.join(os.path.dirname(FIXTURE_LOG), log)) as f:
            for line in f:
                body = line.lstrip("#").strip()
                if line.startswith("#") and not body.startswith(
                    ("Time:", "User@Host:", "administrator command:")
                ):
                    keys.update(k for k, _ in _KV_RE.findall(body))
        recognized = {k for k in keys if _KNOWN_EXACT.get(k.lower())}
        assert sorted(k for k in recognized if k not in _KNOWN_EXACT) == []
        assert len(recognized) >= 24
        assert keys - recognized <= {"Custom_metric"}


FIXTURE_DIR = os.path.dirname(FIXTURE_LOG)


class TestFixtureCorpus:
    """Golden corpus beyond the generated log — the fixture-breadth the
    reference's parser is validated against (SURVEY.md §5.1): server
    preambles/rotation, MySQL 5.1 header format, Percona rate-limit
    headers, and a statement containing the record delimiter."""

    def test_preamble_and_rotation_skipped(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_rotation.log"))
        rows = ev.orderBy("ts").collect()
        # 3 real events; neither the file-head preamble nor the mid-file
        # rotation banner becomes an event or pollutes a query
        assert [r["query"] for r in rows] == [
            "SELECT a FROM t WHERE id = 1",
            "SELECT b FROM t WHERE id = 2",
            "SELECT c FROM t WHERE id = 3",
        ]
        assert all(r["ts"] is not None for r in rows)

    @pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
    def test_mysql51_compact_format(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_51.log"))
        rows = {r["query"]: r for r in ev.collect()}
        assert rows["SELECT SLEEP(1)"]["ts"].isoformat() == "2011-01-07T13:26:19"
        assert rows["SELECT SLEEP(1)"]["query_time"] == pytest.approx(1.123456)
        big = rows["SELECT * FROM big_table"]
        assert big["db"] == "mydb"
        assert big["host"] == "10.2.0.5"
        assert big["rows_examined"] == 100000

    def test_rate_limit_fields_and_upscaling(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_ratelimit.log"))
        rows = ev.collect()
        assert all(r["rate_type"] == "query" for r in rows)
        assert all(r["rate_limit"] == 100 for r in rows)
        # rate fields are typed columns, not extra_metrics leftovers
        assert all(
            not r["extra_metrics"] or "Log_slow_rate_limit" not in r["extra_metrics"]
            for r in rows
        )
        classes = aggregate_classes(with_fingerprint(ev), period="hour")
        r = classes.collect()[0]
        assert r["num_queries"] == 2
        assert r["num_queries_scaled"] == 200  # each logged row stands for 100

    def test_delimiter_inside_string_literal_shears_cleanly(self, spark):
        """KNOWN LIMITATION (pinned): a statement containing the literal
        record delimiter '\\n# Time: ' is sheared by the lineSep split —
        the reference's char-level state machine keeps it whole. The
        contract here: the statement is truncated at the literal, and
        the sheared tail produces NO event (no garbage class) because
        it has neither a timestamp nor any recognized header."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_sheared.log"))
        rows = ev.orderBy("ts").collect()
        assert len(rows) == 2  # not 3: the tail chunk is suppressed
        assert rows[0]["query"].endswith("body = 'line1")
        assert rows[1]["query"] == "SELECT 2"

    def test_binary_and_truncated_statements(self, spark):
        """Binary bytes inside a statement and an EOF-truncated record
        must both yield events, never crash the parse stage. Invalid
        UTF-8 arrives as U+FFFD replacement chars (spark.read.text is
        UTF-8; the reference reads raw bytes — documented divergence),
        and a truncated trailing statement parses as-is."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_truncated.log"))
        rows = ev.orderBy("ts").collect()
        assert len(rows) == 2
        assert rows[0]["query"].startswith("INSERT INTO blobs VALUES")
        assert "binary-payload" in rows[0]["query"]
        assert rows[0]["query_time"] == pytest.approx(0.03)
        # truncated mid-IN-list: statement text survives to the comma
        assert rows[1]["query"] == "SELECT c FROM t WHERE id IN (1, 2,"
        # fingerprinting a truncated/binary statement still yields a digest
        fp = with_fingerprint(ev)
        assert fp.where(F.col("digest").isNull()).count() == 0

    def test_directory_scan_multiple_files(self, spark, tmp_path):
        """A directory of log files (the 100 TB layout: one file per
        host/rotation) parses as one DataFrame with globally unique
        record_no and per-file record integrity."""
        import shutil

        for name in ("slowlog_rotation.log", "slowlog_ratelimit.log"):
            shutil.copy(os.path.join(FIXTURE_DIR, name), tmp_path / name)
        ev = parse_slowlog(spark, str(tmp_path)).cache()
        assert ev.count() == 5  # 3 rotation + 2 rate-limit events
        rn = [r["record_no"] for r in ev.select("record_no").collect()]
        assert len(set(rn)) == 5  # monotonic ids never collide across files
        assert ev.where(F.col("rate_limit") == 100).count() == 2

    def test_preamble_only_record_returns_none(self):
        assert (
            parse_record(
                "/usr/sbin/mysqld, Version: 8.0.36 (MySQL). started with:\n"
                "Tcp port: 3306  Unix socket: /tmp/mysql.sock\n"
                "Time                 Id Command    Argument"
            )
            is None
        )

    # ---- round-6 corpus widening (upstream go-mysql test/slow-logs
    # breadth: admin mixes, use-db switching, '# ' in literals,
    # version mixes, many-record file) ----

    def test_admin_command_mix(self, spark):
        """Admin commands (Quit/Ping/Refresh) interleaved with queries:
        flagged admin, command text as the query, neighbors clean."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_admin.log"))
        rows = ev.orderBy("ts").collect()
        assert [r["admin"] for r in rows] == [False, True, True, False, True, False]
        assert [r["query"] for r in rows if r["admin"]] == ["Quit", "Ping", "Refresh"]
        # admin records keep their metric headers
        quit_row = rows[1]
        assert quit_row["query_time"] == pytest.approx(0.00002)
        # neighboring real queries unpolluted
        assert rows[3]["db"] == "shop"
        assert rows[3]["query"].startswith("SELECT sku")

    def test_use_db_switching_is_per_record(self, spark):
        """`use db;` attribution: applies to ITS record (and a `use`
        beats an earlier Schema header it follows); records without
        either carry NULL. Deliberately per-record-stateless — carrying
        connection state across records would serialize the 100 TB
        split-parallel parse (documented divergence from a tailing
        parser, which sees one connection stream)."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_usedb.log"))
        rows = ev.orderBy("ts").collect()
        assert [r["db"] for r in rows] == [
            "shop",       # use shop;
            None,         # no use/Schema in this record
            "warehouse",  # USE warehouse; (case-insensitive)
            "analytics",  # Schema: header only
            "reporting",  # use beats the Schema: analytics header
        ]
        # the use-line never leaks into the statement text
        assert all("use " not in (r["query"] or "").lower()[:4] for r in rows)

    def test_hash_inside_string_literals(self, spark):
        """'# ' inside string literals: single-line literals with
        header-lookalike content parse whole; the multi-line literal
        containing the actual record delimiter shears (pinned sheared
        semantics) and its fragment parses as a header-only event, not
        a crash."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_strlit.log"))
        rows = ev.collect()
        assert len(rows) == 5
        by_id = {r["query"]: r for r in rows if r["ts"] is not None}
        like = next(q for q in by_id if "LIKE" in (q or ""))
        assert "# administrator command: Quit" in like
        assert by_id[like]["admin"] is False  # literal, not a real admin rec
        marker = next(q for q in by_id if "marker" in (q or ""))
        assert "# Query_time: 1.0" in marker
        assert by_id[marker]["query_time"] == pytest.approx(0.07)
        trailing = next(q for q in by_id if "trailing" in (q or ""))
        assert by_id[trailing]["query_time"] == pytest.approx(0.08)
        # the sheared fragment: no ts, headers from the lookalike lines
        frag = [r for r in rows if r["ts"] is None]
        assert len(frag) == 1 and frag[0]["user"] == "fake"

    def test_mixed_header_versions_in_one_file(self, spark):
        """5.1 compact, 5.6 compact, 5.7 ISO and Percona-extended
        headers in ONE file — every record lands with its own format
        parsed (the corpus a decade of rotated logs actually is)."""
        ev = parse_slowlog(
            spark, os.path.join(FIXTURE_DIR, "slowlog_mixed_versions.log")
        )
        rows = ev.orderBy("ts").collect()
        assert len(rows) == 5
        assert rows[0]["ts"].isoformat() == "2011-01-07T13:26:19"
        assert rows[1]["db"] == "legacydb"  # 5.1-style with use
        assert rows[2]["ts"].isoformat() == "2024-04-01T11:00:10"
        percona = rows[3]
        assert percona["db"] == "shop"
        assert percona["tmp_tables"] == 1
        assert percona["full_scan"] is True
        assert rows[4]["rate_limit"] == 50

    def test_edge_cases_killed_empty_unknown(self, spark):
        """Killed/errno records, a header-only record (query NULL,
        fingerprint NULL — no crash), unknown future metrics into
        extra_metrics, block comments spanning lines."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_edge.log"))
        rows = ev.orderBy("ts").collect()
        assert len(rows) == 4
        assert rows[0]["query_time"] == pytest.approx(50.0)
        assert rows[1]["query"] is None
        assert rows[2]["extra_metrics"] == {
            "Unknown_future_metric": "42",
            "Another_new_one": "abc",
        }
        assert "multi\n   line comment" in rows[3]["query"]
        fp = with_fingerprint(ev)
        assert fp.where(F.col("query").isNull()).count() == 1
        assert fp.where(F.col("query").isNull()).collect()[0]["digest"] is None

    def test_preamble_only_file_yields_zero_events(self, spark):
        """A just-rotated log holding only the server banner parses to
        an EMPTY frame (not a crash, not a garbage event)."""
        ev = parse_slowlog(
            spark, os.path.join(FIXTURE_DIR, "slowlog_preamble_only.log")
        )
        assert ev.count() == 0

    def test_crlf_file_fixture(self, spark):
        """A whole file with CRLF line endings (Windows-exported log):
        records split and queries come out without stray carriage
        returns (complements the inline-string CRLF test)."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_crlf.log"))
        rows = ev.orderBy("ts").collect()
        assert [r["query"] for r in rows] == [
            "SELECT a FROM crlf_table WHERE id = 1",
            "SELECT b FROM crlf_table WHERE id = 2",
        ]
        assert rows[0]["query_time"] == pytest.approx(0.025)

    def test_everything_mixed_in_one_file(self, spark):
        """Preamble + 5.1 header + use-db + admin + rate-limit +
        mid-file rotation + '# ' in a literal, all in ONE file — the
        shape a real years-old log directory concatenates to."""
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_allmix.log"))
        rows = ev.orderBy("ts").collect()
        assert len(rows) == 4
        assert rows[0]["db"] == "oldschema"
        assert rows[1]["admin"] is True and rows[1]["query"] == "Ping"
        assert rows[2]["rate_limit"] == 10 and rows[2]["db"] == "shop"
        assert "post-rotation # not a header" in rows[3]["query"]

    def test_many_record_file_parses_parallel(self, spark):
        """The 5000-record file (multi-GB layout stand-in): record
        count conserved, globally-unique record ids, and the text scan
        actually splits (>1 partition) so a 100 TB file would too."""
        path = os.path.join(FIXTURE_DIR, "slowlog_many.log")
        ev = parse_slowlog(spark, path).cache()
        n = ev.count()
        admin = ev.where("admin").count()
        assert n == 5000
        assert 0 < admin < 250  # ~2% admin mix from the generator
        assert ev.select("record_no").distinct().count() == n
        assert ev.where(F.col("ts").isNull()).count() == 0


class TestParseFixture:
    @pytest.fixture(scope="class")
    def events(self, spark):
        return parse_slowlog(spark, FIXTURE_LOG).cache()

    def test_record_count(self, events):
        # every `# Time:` header in the fixture becomes exactly one event
        with open(FIXTURE_LOG) as fh:
            n_headers = sum(1 for line in fh if line.startswith("# Time: "))
        assert events.count() == n_headers == 1000

    def test_no_null_core_fields(self, events):
        assert events.where(F.col("ts").isNull()).count() == 0
        assert events.where(F.col("user").isNull()).count() == 0
        non_admin = events.where(~F.col("admin"))
        assert non_admin.where(F.col("query").isNull()).count() == 0
        assert non_admin.where(F.col("query_time").isNull()).count() == 0

    def test_admin_records_present_and_skipped(self, events):
        n_admin = events.where(F.col("admin")).count()
        assert n_admin > 0
        classes = aggregate_classes(with_fingerprint(events))
        # admin events never contribute to classes
        total = classes.agg(F.sum("num_queries")).collect()[0][0]
        assert total == 1000 - n_admin

    def test_extra_metrics_escape_hatch(self, events):
        n = events.where(F.map_contains_key("extra_metrics", "Custom_metric")).count()
        assert n > 0


class TestClassAggregation:
    @pytest.fixture(scope="class")
    def classes(self, spark):
        return ingest_slowlog(spark, FIXTURE_LOG).cache()

    def test_stat_invariants(self, classes):
        """min <= med <= p95 <= p99 <= max; avg within [min,max];
        cnt <= num_queries (SURVEY.md §5.2 item 4)."""
        bad = classes.where(
            (F.col("m_query_time_min") > F.col("m_query_time_med"))
            | (F.col("m_query_time_med") > F.col("m_query_time_p95"))
            | (F.col("m_query_time_p95") > F.col("m_query_time_p99"))
            | (F.col("m_query_time_p99") > F.col("m_query_time_max"))
            | (F.col("m_query_time_avg") < F.col("m_query_time_min"))
            | (F.col("m_query_time_avg") > F.col("m_query_time_max"))
            | (F.col("m_query_time_cnt") > F.col("num_queries"))
        ).count()
        assert bad == 0

    def test_digest_shape(self, classes):
        import re

        for r in classes.select("digest").distinct().collect():
            assert re.fullmatch(r"[0-9A-F]{16}", r[0])

    def test_example_is_worst_execution(self, classes, spark):
        """example column holds a query whose time == m_query_time_max."""
        events = parse_slowlog(spark, FIXTURE_LOG).where(~F.col("admin"))
        joined = classes.alias("c").join(
            events.alias("e"),
            (F.col("c.digest") == F.col("e.digest"))
            & (F.date_trunc("minute", F.col("e.ts")) == F.col("c.period_start"))
            & (F.col("c.example") == F.col("e.query"))
            & (F.col("e.query_time") == F.col("c.m_query_time_max")),
            "left_semi",
        )
        assert joined.count() == classes.count()

    def test_partitioning_invariance(self, spark, classes):
        """Union of per-period outputs is invariant to input layout:
        re-parse with a different partition count, same class rows."""
        re_agg = ingest_slowlog(spark, FIXTURE_LOG).repartition(7)
        a = {tuple(r) for r in classes.select("digest", "period_start", "num_queries").collect()}
        b = {tuple(r) for r in re_agg.select("digest", "period_start", "num_queries").collect()}
        assert a == b

    def test_sink_partitioned_roundtrip(self, classes, tmp_path, spark):
        from slowlog2clickhouse_spark.plans.pipeline import sink_classes_parquet

        out = os.path.join(str(tmp_path), "classes")
        sink_classes_parquet(classes, out)
        back = spark.read.parquet(out)
        assert back.count() == classes.count()
        assert "period_date" in back.columns

    def test_sink_partition_pruning(self, classes, tmp_path, spark):
        """The MergeTree-mirror layout must actually prune: a
        period_date filter on the read-back shows PartitionFilters and
        scans a subset of partition directories."""
        import contextlib
        import io

        from slowlog2clickhouse_spark.plans.pipeline import sink_classes_parquet

        out = os.path.join(str(tmp_path), "classes_prune")
        sink_classes_parquet(classes, out)
        back = spark.read.parquet(out)
        one_day = back.where(F.col("period_date") == "2024-01-01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            one_day.explain("formatted")
        p = buf.getvalue()
        assert "PartitionFilters" in p
        assert "period_date" in p.split("PartitionFilters", 1)[1].split("\n", 1)[0]
        assert one_day.count() > 0

    def test_labels_survive_to_sink_schema(self, classes, tmp_path, spark):
        """The qan-api2 D5 labels column: extra `# Key: value` pairs
        reach the class table AND the sink, typed map<string,string>."""
        from slowlog2clickhouse_spark.plans.pipeline import sink_classes_parquet

        assert dict(classes.dtypes)["labels"] == "map<string,string>"
        with_labels = classes.where(
            F.map_contains_key("labels", "Custom_metric")
        ).count()
        assert with_labels > 0
        out = os.path.join(str(tmp_path), "classes_labels")
        sink_classes_parquet(classes, out)
        back = spark.read.parquet(out)
        assert dict(back.dtypes)["labels"] == "map<string,string>"
        assert (
            back.where(F.map_contains_key("labels", "Custom_metric")).count()
            == with_labels
        )

    def test_approx_classes_bounded_drift(self, classes, spark):
        """percentiles='approx' (the 100 TB default) must track the
        exact pipeline: identical non-percentile columns, med/p95
        within the sketch's accuracy on every class."""
        approx = ingest_slowlog(spark, FIXTURE_LOG, percentiles="approx")
        key = ["digest", "period_start"]
        a = {tuple(r[k] for k in key): r for r in approx.collect()}
        e = {tuple(r[k] for k in key): r for r in classes.collect()}
        assert a.keys() == e.keys()
        for k in e:
            assert a[k]["num_queries"] == e[k]["num_queries"]
            assert a[k]["m_query_time_sum"] == e[k]["m_query_time_sum"]
            lo, hi = e[k]["m_query_time_min"], e[k]["m_query_time_max"]
            for col in ("m_query_time_med", "m_query_time_p95"):
                ex, ap = e[k][col], a[k][col]
                # approx returns an actual sample; exact interpolates —
                # for tiny classes they legitimately differ by up to the
                # class spread, so the hard bound is [min, max], and the
                # tight 25% bound applies once there are enough values
                assert lo <= ap <= hi, (k, col, ex, ap)
                if e[k]["num_queries"] >= 10:
                    assert abs(ap - ex) <= max(0.25 * abs(ex), 0.05), (k, col, ex, ap)

    def test_parse_stats_golden(self, spark):
        from slowlog2clickhouse_spark.registry import all_ops

        stats = all_ops()["slowlog_parse_stats"].fn(spark, "").collect()[0]
        assert stats["n_events"] == 1000
        assert stats["n_no_ts"] == 0
        assert stats["n_admin"] > 0
        assert stats["n_extra_kv"] > 0
        # generated fixture has no rate-limit headers
        assert stats["n_rate_limited"] == 0

    def test_global_rollup_conserves_counts(self, classes, spark):
        """Result.Global analog: per-period global rows carry the same
        event totals as the sum of the per-class rows."""
        from slowlog2clickhouse_spark.plans.pipeline import aggregate_global

        events = with_fingerprint(parse_slowlog(spark, FIXTURE_LOG))
        g = aggregate_global(events).cache()
        assert g.select("digest").distinct().collect()[0][0] == "GLOBAL"
        per_class = {
            r["period_start"]: r["n"]
            for r in classes.groupBy("period_start")
            .agg(F.sum("num_queries").alias("n"))
            .collect()
        }
        per_global = {r["period_start"]: r["num_queries"] for r in g.collect()}
        assert per_global == per_class
        # global max is the max of class maxes per period
        gmax = {r["period_start"]: r["m_query_time_max"] for r in g.collect()}
        cmax = {
            r["period_start"]: r["mx"]
            for r in classes.groupBy("period_start")
            .agg(F.max("m_query_time_max").alias("mx"))
            .collect()
        }
        assert gmax == cmax



def test_example_tie_does_not_follow_split_packing(spark, tmp_path):
    """Two files each hold one execution of the same class with the same
    Query_time. Spark packs file splits by size, so growing one file
    with unrelated records reorders the read (and renumbers record_no);
    the class's example and labels must not move with it: a query_time
    tie goes to the larger query text."""

    def rec(sec: int, qt: str, tag: str, query: str) -> str:
        return (
            f"# Time: 2024-01-01T00:00:{sec:02d}.000000Z\n"
            "# User@Host: u[u] @ h []  Id: 1\n"
            f"# Query_time: {qt}  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
            f"# Trace_tag: {tag}\n{query};\n"
        )

    tie_a = rec(5, "1.5", "a", "SELECT * FROM t WHERE id = 111")
    tie_b = rec(6, "1.5", "b", "SELECT * FROM t WHERE id = 222")
    filler = "".join(
        rec(10 + i % 40, "0.1", "f", f"SELECT c{i % 5} FROM other") for i in range(200)
    )
    digest = parse_record(tie_a)["digest"]
    picks = []
    for big in ("a", "b"):
        d = tmp_path / f"{big}_is_larger"
        os.makedirs(d)
        (d / "a.log").write_text(tie_a + (filler if big == "a" else ""))
        (d / "b.log").write_text(tie_b + (filler if big == "b" else ""))
        (row,) = (
            ingest_slowlog(spark, str(d))
            .where(F.col("digest") == digest)
            .select("num_queries", "example", "labels")
            .collect()
        )
        picks.append(tuple(row))
    want = (2, "SELECT * FROM t WHERE id = 222", {"Trace_tag": "b"})
    assert picks == [want, want]


class TestPythonDataSource:
    def test_pyds_equals_linesep_source_over_fixture_corpus(self, spark):
        """The Python Data Source surface and the lineSep/mapInPandas
        reader must produce the SAME event multiset for every fixture
        log (record_no excluded: the two surfaces number records
        differently by design)."""
        import os

        from slowlog2clickhouse_spark.sources import slowlog_datasource
        from slowlog2clickhouse_spark.sources.slowlog import (
            EVENT_SCHEMA,
            parse_slowlog,
        )

        fixture_dir = os.path.dirname(FIXTURE_LOG)
        slowlog_datasource.register(spark)
        pyds = (
            spark.read.format("slowlog").option("path", fixture_dir).load()
        )
        linesep = parse_slowlog(spark, fixture_dir)
        cols = sorted(
            f.name
            for f in EVENT_SCHEMA.fields
            if f.name not in ("record_no", "extra_metrics")
        )
        from collections import Counter

        a = Counter(map(tuple, pyds.select(*cols).collect()))
        b = Counter(map(tuple, linesep.select(*cols).collect()))
        assert sum(a.values()) > 900  # whole corpus parsed, not a subset
        assert a == b
        # map column compared separately (dicts aren't hashable in rows)
        am = Counter(
            (r["query"], tuple(sorted((r["extra_metrics"] or {}).items())))
            for r in pyds.select("query", "extra_metrics").collect()
        )
        bm = Counter(
            (r["query"], tuple(sorted((r["extra_metrics"] or {}).items())))
            for r in linesep.select("query", "extra_metrics").collect()
        )
        assert am == bm


def test_crlf_line_endings_parse_clean():
    """Windows-style \r\n logs: headers parse, query text carries no
    stray carriage returns (fingerprints would split classes)."""
    from slowlog2clickhouse_spark.sources.slowlog import parse_record

    rec = (
        "# Time: 2024-01-01T10:00:00Z\r\n"
        "# User@Host: app[app] @ host1 [10.0.0.1]\r\n"
        "# Query_time: 1.5  Lock_time: 0.01 Rows_sent: 10  Rows_examined: 100\r\n"
        "SET timestamp=1704103200;\r\n"
        "SELECT * FROM t WHERE id = 5;\r\n"
    )
    ev = parse_record(rec)
    assert ev["user"] == "app" and ev["host"] == "host1"
    assert ev["query_time"] == 1.5 and ev["rows_sent"] == 10
    assert "\r" not in ev["query"]
    assert ev["query"] == "SELECT * FROM t WHERE id = 5"


class TestGoldenParquet:
    """The committed golden IR (scripts/gen_slowlog_golden.py) is the
    driver-oracle's ground truth for the whole slowlog family — these
    tests pin it to the live parser so a parser change that shifts the
    IR is a deliberate, reviewed regeneration, never silent drift."""

    def test_events_golden_fresh(self, spark):
        from collections import Counter

        from scripts.gen_slowlog_golden import golden_events_df
        from slowlog2clickhouse_spark.operators.slowlog_ops import (
            FIXTURE_LOG,
            GOLDEN_EVENTS,
        )
        from tests.parity import canon_rows

        live = golden_events_df(spark, FIXTURE_LOG)
        gold = spark.read.parquet(GOLDEN_EVENTS)
        assert sorted(live.columns) == sorted(gold.columns)
        lc, lr = [c.lower() for c in live.columns], [tuple(r) for r in live.collect()]
        gc, gr = [c.lower() for c in gold.columns], [tuple(r) for r in gold.collect()]
        assert len(lr) == len(gr) > 900
        assert canon_rows(lc, lr) == canon_rows(gc, gr)

    def test_all_fixture_goldens_fresh(self, spark):
        """Round 6 widened the fixture corpus to 12 logs (toward the
        upstream go-mysql test/slow-logs breadth); every one has a
        committed golden event IR, and all must match the live parser."""
        import glob
        import os

        from scripts.gen_slowlog_golden import golden_events_df
        from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
        from tests.parity import canon_rows

        fixture_dir = os.path.dirname(FIXTURE_LOG)
        logs = sorted(glob.glob(os.path.join(fixture_dir, "*.log")))
        assert len(logs) >= 12, logs
        for log in logs:
            name = os.path.splitext(os.path.basename(log))[0]
            gold_path = os.path.join(fixture_dir, "golden", f"{name}_events.parquet")
            assert os.path.exists(gold_path), f"missing golden for {name}"
            live = golden_events_df(spark, log)
            gold = spark.read.parquet(gold_path)
            assert sorted(live.columns) == sorted(gold.columns), name
            lc = [c.lower() for c in live.columns]
            lr = [tuple(r) for r in live.collect()]
            gc = [c.lower() for c in gold.columns]
            gr = [tuple(r) for r in gold.collect()]
            assert len(lr) == len(gr), name
            assert canon_rows(lc, lr) == canon_rows(gc, gr), name

    def test_records_golden_fresh(self, spark):
        from scripts.gen_slowlog_golden import golden_records_df
        from slowlog2clickhouse_spark.operators.slowlog_ops import (
            FIXTURE_LOG,
            GOLDEN_RECORDS,
        )
        from tests.parity import canon_rows

        live = golden_records_df(spark, FIXTURE_LOG)
        gold = spark.read.parquet(GOLDEN_RECORDS)
        lc, lr = [c.lower() for c in live.columns], [tuple(r) for r in live.collect()]
        gc, gr = [c.lower() for c in gold.columns], [tuple(r) for r in gold.collect()]
        assert len(lr) == len(gr) > 900
        assert canon_rows(lc, lr) == canon_rows(gc, gr)


def test_efficiency_ratios_are_consistent(spark, sf_dir):
    from slowlog2clickhouse_spark.registry import all_ops

    rows = all_ops()["slowlog_efficiency"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cnt"] > 0
        assert 0 <= r["n_no_index"] <= r["cnt"]
        assert 0 <= r["n_full_scan"] <= r["cnt"]
        assert r["examine_ratio"] >= 0
        # a query can't spend more time locked than it ran
        assert r["lock_time_sum"] <= r["query_time_sum"] + 1e-6, r
        if r["rows_sent_sum"] > 0:
            assert (
                abs(
                    r["examine_ratio"]
                    - r["rows_examined_sum"] / r["rows_sent_sum"]
                )
                < 1e-9
            )


def test_dimensions_matrix_rolls_up_to_digest_counts(spark, sf_dir):
    from collections import defaultdict

    from slowlog2clickhouse_spark.registry import all_ops

    ops = all_ops()
    matrix = ops["slowlog_dimensions_matrix"].fn(spark, sf_dir).collect()
    assert matrix
    per_digest = defaultdict(int)
    for r in matrix:
        per_digest[r["digest"]] += r["cnt"]
    eff = {r["digest"]: r["cnt"] for r in ops["slowlog_efficiency"].fn(spark, sf_dir).collect()}
    assert per_digest == eff


def test_load_share_sums_to_one_and_rank_orders(spark, sf_dir):
    from slowlog2clickhouse_spark.registry import all_ops

    rows = sorted(
        all_ops()["slowlog_load_share"].fn(spark, sf_dir).collect(),
        key=lambda r: r["load_rank"],
    )
    assert rows
    assert abs(sum(r["load_share"] for r in rows) - 1.0) < 1e-9
    assert [r["load_rank"] for r in rows] == list(range(1, len(rows) + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert prev["qt_sum"] >= cur["qt_sum"]


def test_rate_adjusted_upscales_by_sampling_factor(spark, sf_dir):
    from slowlog2clickhouse_spark.registry import all_ops

    rows = all_ops()["slowlog_rate_adjusted"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["rate_limit"] >= 1
        assert r["cnt_estimated"] == r["cnt_logged"] * r["rate_limit"]
        assert abs(r["qt_estimated"] - r["qt_logged"] * r["rate_limit"]) < 1e-9
    # the fixture's sampled class is logged at 1/100
    assert any(r["rate_limit"] == 100 for r in rows)


def test_qan_overview_consistent_with_component_ops(spark, sf_dir):
    """The one-plan composite must agree column-for-column with the
    single-metric ops it subsumes: load share/rank with
    slowlog_load_share, the top digests' totals with
    slowlog_top_digests, and internal invariants (shares sum to 1,
    apdex in [0,1], p95 <= worst)."""
    from slowlog2clickhouse_spark.registry import all_ops

    ops = all_ops()
    rows = {r["digest"]: r for r in ops["qan_overview"].fn(spark, sf_dir).collect()}
    assert rows
    share_sum = sum(r["load_share"] for r in rows.values())
    assert abs(share_sum - 1.0) < 1e-9
    for r in rows.values():
        assert 0.0 <= r["apdex"] <= 1.0
        assert r["p95"] <= r["worst"] + 1e-12
        assert r["qt_sum"] >= r["worst"] - 1e-12 or r["cnt"] == 1
    ls = {r["digest"]: r for r in ops["slowlog_load_share"].fn(spark, sf_dir).collect()}
    assert set(ls) == set(rows)
    for d, r in rows.items():
        assert r["cnt"] == ls[d]["cnt"]
        assert abs(r["qt_sum"] - ls[d]["qt_sum"]) < 1e-12
        assert abs(r["load_share"] - ls[d]["load_share"]) < 1e-12
        assert r["load_rank"] == ls[d]["load_rank"]
    top = ops["slowlog_top_digests"].fn(spark, sf_dir).collect()
    for t in top:
        assert abs(rows[t["digest"]]["qt_sum"] - t["total_query_time"]) < 1e-12
        assert rows[t["digest"]]["cnt"] == t["total_queries"]


class TestMySQL80AndGzip:
    """MySQL 8.0 log_slow_extra vintage + gzipped rotation set (r9;
    [go-mysql] log/slow/parser.go time-format dispatch [R:H])."""

    def test_80_key_renames_map_to_percona_columns(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_80.log"))
        rows = {r["thread_id"]: r for r in ev.where(~F.col("admin")).collect()}
        assert set(rows) == {81, 82, 83, 84}
        # Errno -> last_errno, Created_tmp_* -> tmp_*, Sort_merge_passes
        # -> merge_passes
        assert rows[82]["last_errno"] == 1205
        assert rows[83]["tmp_tables"] == 8
        assert rows[83]["tmp_disk_tables"] == 4
        assert rows[83]["merge_passes"] == 5

    def test_80_bool_family_numeric_value_goes_to_extra(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_80.log"))
        r = ev.where(F.col("thread_id") == 83).collect()[0]
        # 8.0 reuses the bool-family name Sort_rows as a COUNT — it must
        # NOT be coerced to boolean false; it lands in extra_metrics raw
        assert r["sort_rows"] is None
        assert r["extra_metrics"]["Sort_rows"] == "100000"
        assert r["extra_metrics"]["Bytes_received"] == "2048"
        assert "Start" in r["extra_metrics"] and "End" in r["extra_metrics"]

    def test_80_set_timestamp_overrides_iso_header(self, spark):
        ev = parse_slowlog(spark, os.path.join(FIXTURE_DIR, "slowlog_80.log"))
        r = ev.where(F.col("thread_id") == 81).collect()[0]
        # SET timestamp=1709251205 -> 2024-03-01T00:00:05 UTC (the ISO
        # header's sub-second part is dropped by the authoritative epoch)
        assert r["ts"].isoformat() == "2024-03-01T00:00:05"
        assert r["db"] == "shop"

    def test_gzip_rotation_set_parses_as_one_frame(self, spark):
        gz_dir = os.path.join(FIXTURE_DIR, "gz")
        ev = parse_slowlog(spark, gz_dir).cache()
        assert ev.count() == 6  # 2 events per archive, 3 archives
        # per-segment preambles (FLUSH LOGS rewrites them) never leak
        assert ev.where(F.col("query").contains("mysqld")).count() == 0
        # record ids unique across archives (same contract as plain
        # multi-file directories)
        rn = [r["record_no"] for r in ev.select("record_no").collect()]
        assert len(set(rn)) == 6
        # each .gz is one input task: non-splittable codec => exactly
        # one partition per archive, parallelism == file count
        assert ev.rdd.getNumPartitions() >= 3

    def test_gzip_equals_plaintext_parse(self, spark, tmp_path):
        import gzip as _gzip

        gz_dir = os.path.join(FIXTURE_DIR, "gz")
        for name in sorted(os.listdir(gz_dir)):
            with _gzip.open(os.path.join(gz_dir, name), "rb") as f:
                (tmp_path / name.replace(".gz", "")).write_bytes(f.read())
        plain = parse_slowlog(spark, str(tmp_path))
        gzipped = parse_slowlog(spark, gz_dir)
        cols = [c for c in plain.columns if c not in ("record_no", "extra_metrics")]
        assert sorted(map(tuple, plain.select(cols).collect())) == sorted(
            map(tuple, gzipped.select(cols).collect())
        )


def test_qan_workload_compress_invariants(spark, sf_dir):
    """Template+bindings decomposition invariants: bindings never
    exceed calls, params always compress (ratio > 1 on this corpus),
    and for templates without collapsed IN/VALUES lists the template's
    placeholder count equals the extracted parameter count."""
    from slowlog2clickhouse_spark.registry import all_ops

    rows = all_ops()["qan_workload_compress"].fn(spark, sf_dir).collect()
    assert len(rows) >= 20
    for r in rows:
        assert 1 <= r["n_distinct_bindings"] <= r["n_calls"]
        assert r["param_bytes"] < r["raw_bytes"]
        assert r["compression_x"] > 1.0, r["digest"]
        t = r["template"]
        if "(?+)" not in t:
            assert t.count("?") == r["n_params"], t


def test_qan_workload_sample_fidelity(spark, sf_dir):
    """Hash sampling: rate lands near the 10% modulus, shares stay
    close (the paper's claim), and the kept-set is rerun-deterministic."""
    from slowlog2clickhouse_spark.registry import all_ops

    op = all_ops()["qan_workload_sample"]
    df = op.fn(spark, sf_dir).cache()
    tot = df.agg(
        F.sum("n_calls").alias("n"),
        F.sum("n_kept").alias("k"),
        F.max(
            F.abs(F.col("true_share") - F.coalesce("kept_share", F.lit(0.0)))
        ).alias("max_err"),
    ).collect()[0]
    assert 0.05 <= tot["k"] / tot["n"] <= 0.20  # binomial around 1/10
    assert tot["max_err"] < 0.15
    again = {(r["digest"], r["n_kept"]) for r in op.fn(spark, sf_dir).collect()}
    assert {(r["digest"], r["n_kept"]) for r in df.collect()} == again


def test_incremental_pctl_bounds_exact_percentiles(spark, sf_dir):
    """slowlog_classes_incremental_pctl error contract: the merged
    power-of-two-histogram estimate is the selected bucket's upper
    bound, so for every digest
        exact_disc - 1µs <= est <= 2 * exact_disc + 1µs
    where exact_disc is percentile_disc over the raw query times
    (the exact value lies inside the picked bucket [2^(k-1), 2^k)µs).
    Also pins med<=p95 and num_timed conservation."""
    from slowlog2clickhouse_spark.registry import all_ops

    got = {
        r["digest"]: r
        for r in all_ops()["slowlog_classes_incremental_pctl"]
        .fn(spark, sf_dir)
        .collect()
    }
    events = with_fingerprint(parse_slowlog(spark, FIXTURE_LOG)).where(
        (~F.col("admin"))
        & F.col("query").isNotNull()
        & F.col("query_time").isNotNull()
    )
    raw = events.select("digest", "query_time").toPandas()
    assert set(raw["digest"]) == set(got)
    for digest, grp in raw.groupby("digest"):
        vals = sorted(grp["query_time"])
        n = len(vals)
        assert got[digest]["num_timed"] == n
        for pct, col in ((50, "p50_est"), (95, "p95_est")):
            # the op's exact integer cume rule (min rn: rn*100 >= pct*n)
            # — NOT float ceil, whose IEEE noise flips exact boundaries
            rank = -(-pct * n // 100)
            exact = vals[rank - 1]  # percentile_disc
            est = got[digest][col]
            assert est >= exact - 1e-6, (digest, col, exact, est)
            assert est <= 2 * exact + 1e-6, (digest, col, exact, est)
        assert got[digest]["p50_est"] <= got[digest]["p95_est"]
        assert got[digest]["p95_bucket"] >= 1


def test_pctl_hist_error_gate_all_within_bound(spark, sf_dir):
    """qan_pctl_hist_error: every class within the 2x geometric bound,
    ratios >= ~1 (the estimate is the bucket's UPPER edge, so it can
    undershoot only by the 1µs floor), and the corpus-median ratio
    comfortably inside the bound (the number a sample-partition run
    would report before trusting the sketch)."""
    import statistics

    from slowlog2clickhouse_spark.registry import all_ops

    rows = all_ops()["qan_pctl_hist_error"].fn(spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["within_2x"] is True, r["digest"]
        assert r["p95_ratio"] >= 0.99, r
        assert r["p50_ratio"] >= 0.99, r
    med = statistics.median(r["p95_ratio"] for r in rows)
    assert 1.0 <= med <= 2.0, med
