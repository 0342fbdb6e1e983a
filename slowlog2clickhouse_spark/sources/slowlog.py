"""MySQL / Percona-Server slow-query-log source.

Spark-first rebuild of the reference's streaming state-machine parser
([go-mysql] log/slow/parser.go:~120-450 [R:H], reconstructed — see
SURVEY.md §0): where the reference walks lines char-by-char in a
goroutine and emits events over a channel, we

1. assemble records at the SOURCE by splitting the text on the
   record-header delimiter ``\\n# Time: `` (``spark.read.text`` with a
   custom ``lineSep`` — stays DataFrame-native, and file splits land on
   record boundaries so the scan parallelizes cleanly at 100 TB), then
2. parse each record to a typed row inside an Arrow-batched
   ``mapInPandas`` (regex-bound Python, ~one pass per record; no
   driver-side loops, no RDDs). The same pass fingerprints the
   statement with the state machine (``fingerprint_py``) and attaches
   its ``fingerprint`` and ``digest``, as the reference's event loop
   does, so every reader built on ``parse_record`` (this batch source,
   the ``stream`` file source, the UDTF and the ``slowlog`` /
   ``slowlog_tail_multi`` data sources) carries the same exact class.

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

_KNOWN = {m: "time" for m in TIME_METRICS}
_KNOWN.update({m: "number" for m in NUMBER_METRICS})
_KNOWN.update({m: "bool" for m in BOOL_METRICS})
_SKIP_KEYS = {"id", "schema"}  # parsed separately / dimension keys

# hot-path dispatch: slow-log keys arrive in canonical case
# ('Query_time'), so map the exact spelling straight to
# (family, column) and fall back to .lower() only for odd casings
_KNOWN_EXACT: dict[str, tuple[str, str]] = {}
for _col, _fam in _KNOWN.items():
    _KNOWN_EXACT[_col] = (_fam, _col)
    _canonical = "_".join(
        p.upper() if p in ("qc", "innodb", "io") else p.capitalize()
        for p in _col.split("_")
    )
    _KNOWN_EXACT[_canonical] = (_fam, _col)
# MySQL 8.0 log_slow_extra spellings ([go-mysql] log/slow/parser.go
# time-format/key dispatch [R:H]; 8.0.14+ renames a handful of the
# Percona extended keys — map them onto the same typed columns so 5.x
# and 8.0 logs aggregate together; the genuinely new 8.0 counters
# (Bytes_received, Read_*, Sort_*_count, Start/End) flow into
# extra_metrics, the same dynamic escape hatch the reference uses)
_KNOWN_EXACT["Errno"] = ("number", "last_errno")
_KNOWN_EXACT["Created_tmp_tables"] = ("number", "tmp_tables")
_KNOWN_EXACT["Created_tmp_disk_tables"] = ("number", "tmp_disk_tables")
_KNOWN_EXACT["Sort_merge_passes"] = ("number", "merge_passes")
_KNOWN_EXACT["InnoDB_IO_r_ops"] = ("number", "innodb_io_r_ops")
_KNOWN_EXACT["InnoDB_IO_r_bytes"] = ("number", "innodb_io_r_bytes")
_KNOWN_EXACT["InnoDB_IO_r_wait"] = ("time", "innodb_io_r_wait")
_KNOWN_EXACT["InnoDB_rec_lock_wait"] = ("time", "innodb_rec_lock_wait")
_KNOWN_EXACT["InnoDB_queue_wait"] = ("time", "innodb_queue_wait")
_KNOWN_EXACT["InnoDB_pages_distinct"] = ("number", "innodb_pages_distinct")
_KNOWN_EXACT["QC_Hit"] = ("bool", "qc_hit")

_TEMPLATE = {f.name: None for f in EVENT_SCHEMA.fields}

# server preamble lines — written at startup and again after FLUSH
# LOGS / rotation, they are NOT events and must never reach the query
# accumulator (the reference parser skips them in its line loop)
_PREAMBLE_RES = (
    re.compile(r", Version: .*started with:"),  # '/usr/sbin/mysqld, Version: ...'
    re.compile(r"^Tcp port:\s"),
    re.compile(r"^Time\s+Id\s+Command\s+Argument\s*$"),
)


def _is_preamble(line: str) -> bool:
    return any(rx.search(line) for rx in _PREAMBLE_RES)


def _parse_time_header(s: str) -> datetime | None:
    m = _ISO_TIME.match(s)
    if m:
        y, mo, d, h, mi, sec, frac = m.groups()
        us = int((frac or "0").ljust(6, "0")[:6])
        return datetime(int(y), int(mo), int(d), int(h), int(mi), int(sec), us)
    m = _COMPACT_TIME.match(s)
    if m:
        yy, mo, d, h, mi, sec = m.groups()
        return datetime(2000 + int(yy), int(mo), int(d), int(h), int(mi), int(sec))
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
                hit = _KNOWN_EXACT.get(key)
                if hit is None:
                    k = key.lower()
                    if k == "schema":
                        ev["db"] = val
                        continue
                    if k in _SKIP_KEYS:
                        continue
                    if k == "log_slow_rate_type":
                        ev["rate_type"] = val
                        saw_header = True
                        continue
                    if k == "log_slow_rate_limit":
                        try:
                            ev["rate_limit"] = int(val)
                        except ValueError:
                            extra[key] = val
                        saw_header = True
                        continue
                    hit = _KNOWN_EXACT.get(k)
                    if hit is None:
                        extra[key] = val
                        continue
                fam, col = hit
                saw_header = True
                try:
                    if fam == "time":
                        ev[col] = float(val)
                    elif fam == "number":
                        ev[col] = int(val)
                    elif val in ("Yes", "No") or val.lower() in ("yes", "no"):
                        ev[col] = val == "Yes" or val.lower() == "yes"
                    else:
                        # a bool-family key carrying a non-Yes/No value
                        # (MySQL 8.0 reuses e.g. Sort_rows as a COUNT
                        # under log_slow_extra) — don't coerce a number
                        # to False; keep the raw value in extra
                        extra[key] = val
                except ValueError:
                    extra[key] = val
            continue
        # No first-char fast-path here: a rotation banner inside a record
        # need not start with '/' or 'T' (e.g. a relative mysqld path in
        # 'mysqld, Version: ... started with:'), and _is_preamble's three
        # anchored patterns are cheap enough to run on every line.
        if _is_preamble(line):
            continue  # rotation banner inside a record: never query text
        c0 = line[:1]
        if c0 in "Ss" and line[:3].lower() == "set":
            m = _SET_TS_RE.match(line)
            if m:
                ev["ts"] = datetime.fromtimestamp(
                    int(m.group(1)), tz=timezone.utc
                ).replace(tzinfo=None)
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


def read_slowlog_records(spark: SparkSession, path: str) -> DataFrame:
    """Raw multi-line records, one row each (op: scan_text_multiline).

    ``lineSep='\\n# Time: '`` makes the text source split the file at
    record headers — each input split starts at a record boundary, so
    the scan is parallel and needs no cross-partition stitching.
    """
    return spark.read.option("lineSep", RECORD_DELIM).text(path)


def parse_slowlog(spark: SparkSession, path: str) -> DataFrame:
    """path → typed event DataFrame (ops: scan_text_multiline +
    map_in_pandas_chunker). Arrow-batched; no driver involvement.

    ``record_no`` is ``monotonically_increasing_id()`` stamped on the
    record DataFrame BEFORE the parse stage: globally unique and stable
    for a given file layout (partition_id << 33 | offset), so
    ``max_by(..., struct(query_time, record_no))`` tiebreaks are
    deterministic — a per-batch ``enumerate`` restarts at 0 in every
    Arrow batch and is neither.
    """
    raw = read_slowlog_records(spark, path).withColumn(
        "record_no", F.monotonically_increasing_id()
    )
    # real logs carry binary garbage inside statements (blob inserts,
    # truncated multibyte chars); Spark's text source passes the raw
    # bytes through, but the Arrow boundary into mapInPandas REQUIRES
    # valid UTF-8 — the encode/decode round-trip substitutes U+FFFD
    # JVM-side (documented divergence: the reference reads raw bytes)
    raw = raw.withColumn("value", F.decode(F.encode("value", "UTF-8"), "UTF-8"))

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                ev
                for rec, rno in zip(pdf["value"], pdf["record_no"])
                if rec.strip() and (ev := parse_record(rec, int(rno))) is not None
            ]
            out = pd.DataFrame(rows, columns=[f.name for f in EVENT_SCHEMA.fields])
            out["ts"] = pd.to_datetime(out["ts"])
            yield out

    return raw.mapInPandas(chunk, EVENT_SCHEMA)


def with_fingerprint(events: DataFrame, mode: str = "chain") -> DataFrame:
    """Re-derive fingerprint + digest with a JVM-side path, replacing
    the exact values the parser already attached.

    Product paths never call this: ``parse_record`` fingerprints every
    event with the state machine. It exists for the registry ops whose
    DuckDB oracles recompute the chain, and for measuring the chain.

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
