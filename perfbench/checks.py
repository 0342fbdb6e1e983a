"""Output checks. Each returns None when the output is right and a
one-line reason when it is not; a reason counts the operation as
failed. Outputs are read back with DuckDB, never with the Spark
session under test."""

from __future__ import annotations

import datetime as _dt
import math
from collections import Counter

import duckdb

from gen import Truth


def class_rows(con: duckdb.DuckDBPyConnection, out_dir: str) -> list[tuple[str, int, float]]:
    """(digest, num_queries, m_query_time_sum) summed over periods."""
    return con.execute(
        "SELECT digest, sum(num_queries)::BIGINT, sum(m_query_time_sum) "
        f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true) GROUP BY digest"
    ).fetchall()


def check_classes(rows: list[tuple[str, int, float]], truth: Truth, rounded_rows: int = 0) -> str | None:
    """Per-digest num_queries must be the generator's per-template
    counts as a multiset, and the query-time total must match.
    ``rounded_rows`` is how many class rows carry a sum rounded to 6
    decimals (the streaming sink), which widens the tolerance."""
    got = sorted(int(n) for _, n, _ in rows)
    want = truth.digest_counts()
    if got != want:
        diff = (Counter(got) - Counter(want)) + (Counter(want) - Counter(got))
        return f"per-digest counts differ from ground truth ({len(got)} vs {len(want)} digests, e.g. {list(diff)[:3]})"
    total = math.fsum(float(q or 0.0) for _, _, q in rows)
    want_qt = truth.total_qt()
    tol = 1e-9 * max(1.0, abs(want_qt)) + 5e-7 * rounded_rows
    if abs(total - want_qt) > tol:
        return f"total query time {total!r} != ground truth {want_qt!r}"
    return None


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, list | tuple):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon(columns: list[str], rows: list[tuple]) -> Counter:
    """Order-insensitive multiset of rows, columns sorted by name,
    floats to 9 significant digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def same_rows(got_cols, got_rows, want_cols, want_rows, ordered: bool = False) -> str | None:
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)} expected"
    if ordered:
        g = [canon(got_cols, [r]) for r in got_rows]
        w = [canon(want_cols, [r]) for r in want_rows]
        if g != w:
            return "row order or values differ"
        return None
    g, w = canon(got_cols, got_rows), canon(want_cols, want_rows)
    if g != w:
        return f"values differ, e.g. {list((g - w).keys())[:1]} vs {list((w - g).keys())[:1]}"
    return None


def duck(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def parse_funnel(stdout: str) -> list[tuple[str, int]]:
    """The ``curate`` CLI's '  funnel <stage>: <n>' lines."""
    out = []
    for line in stdout.splitlines():
        s = line.strip()
        if s.startswith("funnel ") and ":" in s:
            stage, n = s[len("funnel ") :].rsplit(":", 1)
            out.append((stage.strip(), int(n)))
    return out
