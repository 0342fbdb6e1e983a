"""MySQL / Percona-Server slow-query-log source.

Spark-first rebuild of the reference's streaming state-machine parser
([go-mysql] log/slow/parser.go:~120-450 [R:H], reconstructed — see
SURVEY.md §0): where the reference walks lines char-by-char in a
goroutine and emits events over a channel, we

1. assemble records at the SOURCE by splitting the text on the
   record-header delimiter ``\\n# Time: `` (``spark.read.text`` with a
   custom ``lineSep`` — stays DataFrame-native, and file splits land on
   record boundaries so the scan parallelizes cleanly at 100 TB), then
2. parse each record's raw bytes to a typed row inside an
   Arrow-batched ``mapInPandas`` (regex-bound Python, ~one pass per
   record; no driver-side loops, no RDDs), the one stage this batch
   source and the ``stream`` file source share. The same pass
   fingerprints the statement with the state machine
   (``fingerprint_py``) and attaches its ``fingerprint`` and
   ``digest``, as the reference's event loop does. Every reader (this
   batch source, the ``stream`` file source, the UDTF and the
   ``slowlog`` / ``slowlog_tail_multi`` data sources) turns bytes into
   events through ``parse_record_bytes``: one UTF-8 policy, so a
   record carries the same exact class on every path.

Output schema follows FIXTURES.md §2 (the reference's ``log.Event``
widened to typed nullable columns, with unrecognized ``# Key: value``
pairs captured in an ``extra_metrics`` map — the same dynamic escape
hatch as the reference's metric maps).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from slowlog2clickhouse_spark.functions.fingerprint import digest_py, fingerprint_py

RECORD_DELIM = "\n# Time: "

TIME_METRICS = (
    "query_time",
    "lock_time",
    "innodb_io_r_wait",
    "innodb_rec_lock_wait",
    "innodb_queue_wait",
)
NUMBER_METRICS = (
    "rows_sent",
    "rows_examined",
    "rows_affected",
    "rows_read",
    "bytes_sent",
    "tmp_tables",
    "tmp_disk_tables",
    "tmp_table_sizes",
    "merge_passes",
    "innodb_io_r_ops",
    "innodb_io_r_bytes",
    "innodb_pages_distinct",
    "thread_id",
    "killed",
    "last_errno",
)
BOOL_METRICS = (
    "qc_hit",
    "full_scan",
    "full_join",
    "tmp_table",
    "tmp_table_on_disk",
    "filesort",
    "filesort_on_disk",
    "select_full_range_join",
    "select_range",
    "select_range_check",
    "sort_range",
    "sort_rows",
    "sort_scan",
    "no_index_used",
    "no_good_index_used",
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("record_no", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("admin", T.BooleanType()),
        T.StructField("query", T.StringType()),
        # Percona Log_slow_rate_limit sampling headers ([go-mysql]
        # log/log.go RateType/RateLimit): when rate_type='query' only
        # 1/rate_limit sessions are logged — aggregation upscales by it
        T.StructField("rate_type", T.StringType()),
        T.StructField("rate_limit", T.LongType()),
    ]
    + [T.StructField(m, T.DoubleType()) for m in TIME_METRICS]
    + [T.StructField(m, T.LongType()) for m in NUMBER_METRICS]
    + [T.StructField(m, T.BooleanType()) for m in BOOL_METRICS]
    + [T.StructField("extra_metrics", T.MapType(T.StringType(), T.StringType()))]
    # the statement's exact class, computed in the parse pass (the
    # reference's event loop: fp := query.Fingerprint(e.Query))
    + [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("digest", T.StringType()),
    ]
)

_USER_HOST_RE = re.compile(r"^(\S+?)\[(\S*?)\]\s*@\s*(\S*)\s*\[(\S*)\]")
_KV_RE = re.compile(r"(\w+):\s+(\S+)")
_SET_TS_RE = re.compile(r"^SET\s+timestamp\s*=\s*(\d+)", re.IGNORECASE)
_USE_RE = re.compile(r"^use\s+(\S+?);?\s*$", re.IGNORECASE)
_ADMIN_RE = re.compile(r"^#\s*administrator command:")
_ISO_TIME = re.compile(r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d+))?Z?")
_COMPACT_TIME = re.compile(r"^(\d{2})(\d{2})(\d{2})\s+(\d{1,2}):(\d{2}):(\d{2})")


def _yes_no(val: str) -> bool:
    """A bool-family value. MySQL 8.0 reuses some bool keys (Sort_rows)
    as COUNTs under log_slow_extra: a non-Yes/No value raises, so the
    caller keeps it raw in extra instead of coercing a number to False."""
    if val == "Yes" or val == "No":
        return val == "Yes"
    low = val.lower()
    if low == "yes" or low == "no":
        return low == "yes"
    raise ValueError(val)


def _int64(val: str) -> int:
    """``int`` for a LongType column: a value outside int64 (which
    Arrow cannot carry) raises ValueError, so the caller keeps it raw
    in extra_metrics. Only a digit string longer than 18 characters
    can be out of range, so a common value skips the range check."""
    n = int(val)
    if len(val) > 18 and not -(1 << 63) <= n < (1 << 63):
        raise ValueError(val)
    return n


# hot-path dispatch: key spelling -> (converter, column). Percona and
# MySQL capitalize the first word only ('Query_time', 'Rows_examined',
# 'Tmp_table_on_disk') and spell the InnoDB/QC prefixes
# 'InnoDB_IO_r_ops', 'QC_Hit', so the exact table holds those and the
# lower-case names; other casings fall back to .lower(). A converter
# that raises ValueError sends the raw value to extra_metrics.
_KNOWN_EXACT: dict[str, tuple] = {}
for _conv, _cols in ((float, TIME_METRICS), (_int64, NUMBER_METRICS), (_yes_no, BOOL_METRICS)):
    for _col in _cols:
        _KNOWN_EXACT[_col] = _KNOWN_EXACT[_col.capitalize()] = (_conv, _col)
# dimension keys: Schema sets db (and alone does not make a record),
# Id is parsed from the User@Host line (converter None: skipped), the
# Percona rate-limit headers feed the aggregation's upscaling
for _key, _hit in {
    "schema": (str, "db"),
    "id": (None, "id"),
    "log_slow_rate_type": (str, "rate_type"),
    "log_slow_rate_limit": (_int64, "rate_limit"),
}.items():
    _KNOWN_EXACT[_key] = _KNOWN_EXACT[_key.capitalize()] = _hit
# MySQL 8.0 log_slow_extra spellings ([go-mysql] log/slow/parser.go
# time-format/key dispatch [R:H]; 8.0.14+ renames a handful of the
# Percona extended keys — map them onto the same typed columns so 5.x
# and 8.0 logs aggregate together; the genuinely new 8.0 counters
# (Bytes_received, Read_*, Sort_*_count, Start/End) flow into
# extra_metrics, the same dynamic escape hatch the reference uses)
_KNOWN_EXACT["Errno"] = (_int64, "last_errno")
_KNOWN_EXACT["Created_tmp_tables"] = (_int64, "tmp_tables")
_KNOWN_EXACT["Created_tmp_disk_tables"] = (_int64, "tmp_disk_tables")
_KNOWN_EXACT["Sort_merge_passes"] = (_int64, "merge_passes")
_KNOWN_EXACT["InnoDB_IO_r_ops"] = (_int64, "innodb_io_r_ops")
_KNOWN_EXACT["InnoDB_IO_r_bytes"] = (_int64, "innodb_io_r_bytes")
_KNOWN_EXACT["InnoDB_IO_r_wait"] = (float, "innodb_io_r_wait")
_KNOWN_EXACT["InnoDB_rec_lock_wait"] = (float, "innodb_rec_lock_wait")
_KNOWN_EXACT["InnoDB_queue_wait"] = (float, "innodb_queue_wait")
_KNOWN_EXACT["InnoDB_pages_distinct"] = (_int64, "innodb_pages_distinct")
_KNOWN_EXACT["QC_Hit"] = (_yes_no, "qc_hit")

_TEMPLATE = {f.name: None for f in EVENT_SCHEMA.fields}

# server preamble lines — written at startup and again after FLUSH
# LOGS / rotation, they are NOT events and must never reach the query
# accumulator (the reference parser skips them in its line loop)
# One alternation, tried with .match() at the line start: the greedy
# leading .* backtracks from the line end to the banner's comma, which
# measured ~10x faster than .search() over an unanchored alternation
# (that form loses the literal-prefix scan each single pattern had).
_PREAMBLE_RE = re.compile(
    r"Tcp port:\s"
    r"|Time\s+Id\s+Command\s+Argument\s*$"
    r"|.*, Version: .*started with:"  # '/usr/sbin/mysqld, Version: ...'
)


def _parse_time_header(s: str) -> datetime | None:
    """The `# Time:` value as a datetime; None when it is not a time
    or names no real instant (minute 60, month 13, Feb 30)."""
    try:
        m = _ISO_TIME.match(s)
        if m:
            y, mo, d, h, mi, sec, frac = m.groups()
            us = int((frac or "0").ljust(6, "0")[:6])
            return datetime(int(y), int(mo), int(d), int(h), int(mi), int(sec), us)
        m = _COMPACT_TIME.match(s)
        if m:
            yy, mo, d, h, mi, sec = m.groups()
            return datetime(2000 + int(yy), int(mo), int(d), int(h), int(mi), int(sec))
    except ValueError:
        pass
    return None


def parse_record(rec: str, record_no: int = 0) -> dict | None:
    """One slow-log record (starting at its `# Time:` value) → event dict.

    Mirrors the reference's header state machine: `# Time:` sets ts;
    `# User@Host:` extracts user/host; `# Key: val` pairs dispatch into
    time/number/bool metrics by declared family (unknown keys → extra);
    `SET timestamp=` overrides ts; `use db` sets db; `# administrator
    command:` marks admin; remaining lines accumulate as the statement,
    which is then fingerprinted (``fingerprint``/``digest``; NULL for a
    record without a statement).

    Server preamble lines (version banner / `Tcp port:` / column
    header) are skipped wherever they appear — at file start AND after
    a mid-file FLUSH LOGS rotation. Returns ``None`` (no event) when
    the chunk carried no timestamp and no recognized header at all —
    i.e. it was pure preamble, not a query record.
    """
    if rec.startswith("# Time: "):
        rec = rec[len("# Time: ") :]
    ev: dict = dict(_TEMPLATE)
    ev["record_no"] = record_no
    ev["admin"] = False
    extra: dict[str, str] = {}
    query_lines: list[str] = []
    saw_header = False

    lines = rec.split("\n")
    ev["ts"] = _parse_time_header(lines[0]) if lines else None
    if ev["ts"] is not None:
        saw_header = True
    for line in lines[1:]:
        if line.startswith("#"):
            # cheap substring guards before any regex: the common '#'
            # line is a metric kv line, not admin/user@host
            if "administrator command" in line and _ADMIN_RE.match(line):
                ev["admin"] = True
                ev["query"] = line.split(":", 1)[1].strip().rstrip(";")
                saw_header = True
                continue
            body = line.lstrip("#").strip()
            if "ser@" in body[:6] and body.lower().startswith("user@host:"):
                m = _USER_HOST_RE.match(body.split(":", 1)[1].strip())
                if m:
                    ev["user"] = m.group(1)
                    ev["host"] = m.group(3) or m.group(4)
                saw_header = True
                continue
            for key, val in _KV_RE.findall(body):
                hit = _KNOWN_EXACT.get(key) or _KNOWN_EXACT.get(key.lower())
                if hit is None:
                    extra[key] = val
                    continue
                conv, col = hit
                if conv is None:
                    continue
                if col != "db":
                    saw_header = True
                try:
                    ev[col] = conv(val)
                except ValueError:
                    extra[key] = val
            continue
        # No first-char fast-path here: a rotation banner inside a record
        # need not start with '/' or 'T' (e.g. a relative mysqld path in
        # 'mysqld, Version: ... started with:'), and the one compiled
        # alternation is cheap enough to run on every line.
        if _PREAMBLE_RE.match(line):
            continue  # rotation banner inside a record: never query text
        c0 = line[:1]
        if c0 in "Ss" and line[:3].lower() == "set":
            m = _SET_TS_RE.match(line)
            if m:
                # an epoch past year 9999 keeps the header's ts
                try:
                    ev["ts"] = datetime.fromtimestamp(
                        int(m.group(1)), tz=timezone.utc
                    ).replace(tzinfo=None)
                except (ValueError, OverflowError, OSError):
                    pass
                saw_header = True
                continue
        elif c0 in "Uu" and line[:3].lower() == "use":
            m = _USE_RE.match(line)
            if m:
                ev["db"] = m.group(1)
                continue
        if line.strip():
            query_lines.append(line)
    if not saw_header and ev["ts"] is None:
        return None  # pure preamble chunk (file head / rotation) — no event
    if query_lines:
        ev["query"] = "\n".join(query_lines).strip().rstrip(";")
    ev["extra_metrics"] = extra or None
    ev["fingerprint"] = fingerprint_py(ev["query"])
    ev["digest"] = digest_py(ev["fingerprint"])
    return ev


def parse_record_bytes(raw: bytes, record_no: int | None) -> dict | None:
    """One record's raw bytes → event dict (``parse_record``): the one
    place slow-log bytes become text, so every reader applies the same
    UTF-8 policy. Real logs carry binary inside statements (blob
    inserts, truncated multibyte characters); each maximal invalid
    sequence becomes U+FFFD (Python's ``"replace"`` handler), the
    statement is fingerprinted from that text, and a record lands in
    the same class through ``ingest``, ``stream`` and ``tail``."""
    return parse_record(raw.decode("utf-8", errors="replace"), record_no)


def read_slowlog_records(spark: SparkSession, path: str) -> DataFrame:
    """Raw multi-line records, one row each (op: scan_text_multiline).

    ``lineSep='\\n# Time: '`` makes the text source split the file at
    record headers — each input split starts at a record boundary, so
    the scan is parallel and needs no cross-partition stitching.
    """
    return spark.read.option("lineSep", RECORD_DELIM).text(path)


def _parse_stage(records: DataFrame, record_no: str) -> DataFrame:
    """The one parse stage of the batch and ``stream`` readers: text
    records (``value``) plus the SQL expression ``record_no`` → a
    ``mapInPandas`` over EVENT_SCHEMA. The text source keeps a record's
    raw bytes and the BINARY cast hands them over the Arrow boundary
    as they are in the file, for ``parse_record_bytes`` to decode."""

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nos = pdf["record_no"]
            # an all-NULL bigint column arrives as float64 NaN
            nos = nos.astype(object).where(nos.notna(), None)
            rows = [
                ev
                for rec, rno in zip(pdf["value"], nos)
                if rec.strip() and (ev := parse_record_bytes(rec, rno)) is not None
            ]
            out = pd.DataFrame(rows, columns=[f.name for f in EVENT_SCHEMA.fields])
            out["ts"] = pd.to_datetime(out["ts"])
            yield out

    return records.selectExpr(
        "CAST(value AS BINARY) AS value", f"{record_no} AS record_no"
    ).mapInPandas(chunk, EVENT_SCHEMA)


def parse_slowlog(spark: SparkSession, path: str) -> DataFrame:
    """path → typed event DataFrame (ops: scan_text_multiline +
    map_in_pandas_chunker). Arrow-batched; no driver involvement.

    ``record_no`` is ``monotonically_increasing_id()`` stamped on the
    record DataFrame BEFORE the parse stage: unique within one read,
    but renumbered when Spark packs the file splits differently, so
    nothing keys on it or breaks a tie with it.
    """
    return _parse_stage(
        read_slowlog_records(spark, path), "monotonically_increasing_id()"
    )


def with_fingerprint(events: DataFrame, mode: str = "chain") -> DataFrame:
    """Re-derive fingerprint + digest with a JVM-side path, replacing
    the exact values the parser already attached.

    Product paths and the registry ops keyed on classes never call
    this: ``parse_record`` fingerprints every event with the state
    machine. Its callers are ``slowlog_classes_routed`` (routing is
    that op's subject), the golden generator (the golden IR's chain
    columns) and perfbench's traced chain and routed timings.

    mode="chain"  — the codegen'd regexp_replace chain (what
                    ``fingerprint_duckdb`` mirrors; default).
    mode="routed" — per-row routing (the fn_fingerprint_routed
                    contract): rows with no chain-divergence construct
                    flag take the chain, flagged rows take the Arrow
                    state-machine UDF — state-machine-exact output.
                    Implemented as a masked single-pass projection
                    (r14; NOT a when()/otherwise() VALUE expression —
                    Spark extracts Python UDFs from conditionals and
                    runs them on every row): the UDF's INPUT is masked
                    to NULL for clean rows, so only flagged payloads
                    cross the Arrow boundary and the source is scanned
                    ONCE — see routed_fingerprint.
    """
    from slowlog2clickhouse_spark.functions.fingerprint import (
        digest_col,
        fingerprint_col,
        routed_fingerprint,
    )

    if mode == "chain":
        events = events.withColumn("fingerprint", fingerprint_col(F.col("query")))
    elif mode == "routed":
        events = routed_fingerprint(events, "query", "fingerprint")
    else:
        raise ValueError(f"unknown fingerprint mode: {mode!r}")
    return events.withColumn("digest", digest_col(F.col("fingerprint")))
