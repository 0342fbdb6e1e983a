"""Static lint over the DuckDB oracle strings — the oracle's RUNTIME
is part of every parity sweep's cost, and DuckDB plan traps are
invisible until a sweep hangs (gotcha #21: a 45-minute oracle checking
a 3-second Spark plan)."""

from __future__ import annotations

import re

from slowlog2clickhouse_spark.registry import all_ops


def test_no_non_equi_list_join_in_oracles():
    """Gotcha #21 as CI: `JOIN ... ON a.x < b.x AND list_has_any(...)`
    has no equi-key, so DuckDB block-nested-loops it and re-inlines
    the CTE expression chain into every probe. Any list_has_any that
    appears inside an ON clause with no `=` ahead of it is that trap;
    candidates must come from a MATERIALIZED unnest + equi-join
    (_CAND_EQUI_DUCK). list_has_any as a SELECT-list scalar is fine."""
    bad = []
    pat = re.compile(r"\bON\b(?:(?!=|\bWHERE\b|\bGROUP\b|\bSELECT\b).){0,200}?list_has_any", re.S)
    for name, o in all_ops().items():
        if o.oracle and pat.search(o.oracle):
            bad.append(name)
    assert not bad, f"non-equi list_has_any join in oracles: {bad}"


def test_recursive_ctes_materialize_their_candidate_input():
    """A WITH RECURSIVE oracle whose recursive term references an
    expensive derived CTE must pin it with AS MATERIALIZED, or DuckDB
    may re-evaluate the whole chain per iteration."""
    bad = []
    for name, o in all_ops().items():
        sql = o.oracle or ""
        if "WITH RECURSIVE" in sql and "cand AS" in sql:
            if "cand AS MATERIALIZED" not in sql:
                bad.append(name)
    assert not bad, f"recursive oracles with unmaterialized cand: {bad}"


_EVENTS_GOLDEN = re.compile(r"read_parquet\('[^']*slowlog_\w+_events\.parquet'\)")
_CLASS_COLUMN = re.compile(r"\b(digest|fingerprint)\b(?!_py)")


def test_event_golden_oracles_class_by_the_parsers_digest():
    """The parser attaches the state machine's fingerprint/digest to
    every event; the events goldens hold the SQL chain's values under
    those names and the parser's under ``*_py``. An oracle that reads
    such a golden and names digest or fingerprint must read the
    ``*_py`` columns (directly, or through slowlog_ops._parser_classed),
    or a statement where the two fingerprints diverge fails it on
    correct code."""
    from slowlog2clickhouse_spark.operators.slowlog_ops import _parser_classed

    bad = []
    for name, o in all_ops().items():
        sql = o.oracle or ""
        for gold in set(_EVENTS_GOLDEN.findall(sql)):
            sql = sql.replace(_parser_classed(gold), "(parser-classed golden)")
        # an output alias names no input column
        sql = re.sub(r'\bAS\s+"?(digest|fingerprint)\b"?', "AS _", sql)
        if _EVENTS_GOLDEN.search(sql) and _CLASS_COLUMN.search(sql):
            bad.append(name)
    assert not bad, f"oracles classing the golden by the chain's digest: {sorted(bad)}"
