"""The benchmark's own tests: generator determinism, checker
rejection of corrupted outputs, and the metric-name contract.

    python3 -m pytest perfbench/tests -q

No SparkSession is started here.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run as bench_run  # noqa: E402
import workloads  # noqa: E402


def _digest_tree(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_slowlog_fleet_is_byte_identical_per_seed(tmp_path):
    a = gen.slowlog_fleet(5, 3000, str(tmp_path / "a"))
    b = gen.slowlog_fleet(5, 3000, str(tmp_path / "b"))
    c = gen.slowlog_fleet(6, 3000, str(tmp_path / "c"))
    assert _digest_tree(str(tmp_path / "a")) == _digest_tree(str(tmp_path / "b"))
    assert _digest_tree(str(tmp_path / "a")) != _digest_tree(str(tmp_path / "c"))
    assert a == b
    assert sum(a["truth"]["count"]) == 3000
    assert len(os.listdir(tmp_path / "a")) == 4


def test_corpus_is_byte_identical_per_seed(tmp_path):
    gen.corpus(3, 300, 100, str(tmp_path / "a"))
    gen.corpus(3, 300, 100, str(tmp_path / "b"))
    gen.corpus(4, 300, 100, str(tmp_path / "c"))
    assert _digest_tree(str(tmp_path / "a")) == _digest_tree(str(tmp_path / "b"))
    assert _digest_tree(str(tmp_path / "a")) != _digest_tree(str(tmp_path / "c"))
    con = duckdb.connect()
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{tmp_path}/a/documents.parquet')"
    ).fetchone()
    assert n == 300 and distinct < n  # planted exact duplicates


def test_tail_fleet_is_deterministic_and_holds_back_last_record(tmp_path):
    f1 = gen.TailFleet(9, str(tmp_path / "a"))
    f2 = gen.TailFleet(9, str(tmp_path / "b"))
    v1 = f1.append(20)
    f2.append(20)
    assert _digest_tree(f1.dir) == _digest_tree(f2.dir)
    assert v1 == 4 * 20 - 4  # the last record of each file is torn-tail held back
    assert sum(f1.visible().count) == v1
    assert f1.append(5) == 4 * 5
    assert sum(f1.visible().count) == 4 * 25 - 4


def test_cached_reuses_by_seed_and_size(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        os.makedirs(d)
        return {"x": 1}

    d1, m1 = gen.cached(str(tmp_path), "k", 1, 10, build)
    d2, m2 = gen.cached(str(tmp_path), "k", 1, 10, build)
    d3, _ = gen.cached(str(tmp_path), "k", 2, 10, build)
    assert d1 == d2 and m1 == m2 == {"x": 1} and d3 != d1
    assert len(calls) == 2


def test_templates_stay_distinct_after_normalization():
    from slowlog2clickhouse_spark.functions.fingerprint import (
        construct_flags_py,
        fingerprint_chain_py,
        fingerprint_py,
    )

    rng = random.Random(11)
    tpls = gen.make_templates(rng, 2000, 16, 0.04)
    for fn in (fingerprint_py, fingerprint_chain_py):
        seen = set()
        for t in tpls:
            fps = {fn(gen.render_query(t, rng)) for _ in range(4)}
            assert len(fps) == 1, (t.sql, fps)  # one template -> one digest
            seen |= fps
        assert len(seen) == len(tpls)  # no two templates share one
    flagged = [t for t in tpls if any(construct_flags_py(gen.render_query(t, rng)).values())]
    assert {id(t) for t in flagged} == {id(t) for t in tpls if t.divergent}


def test_divergent_share_is_about_four_percent():
    rng = random.Random(2)
    tpls = gen.make_templates(rng, 2000, 16, 0.04)
    w = [1.0 / (r + 1) for r in range(2000)]
    share = sum(wi for wi, t in zip(w, tpls) if t.divergent) / sum(w)
    assert 0.035 < share <= 0.04


def test_span_solver_targets_events_per_class():
    rng = random.Random(0)
    counts = [0] * 500
    for t in rng.choices(range(500), cum_weights=gen._zipf_cum(500, 1.0), k=20000):
        counts[t] += 1
    m = gen.solve_span_minutes(counts, 10.0)
    # the smallest whole-minute span with at most 10 events per class row
    assert 20000 / gen._expected_rows(counts, m) <= 10.0 < 20000 / gen._expected_rows(counts, m - 1)


# ---------------------------------------------------------------------------
# checkers reject corrupted outputs
# ---------------------------------------------------------------------------


def _truth():
    t = gen.Truth(3)
    for i, (n, qt) in enumerate([(5, 0.5), (2, 0.25), (1, 0.125)]):
        t.count[i], t.qt_sum[i] = n, qt
    return t


def _write_classes(d: str, rows: list[tuple[str, str, int, float]]) -> None:
    con = duckdb.connect()
    con.execute("CREATE TABLE c (period_date VARCHAR, digest VARCHAR, num_queries BIGINT, m_query_time_sum DOUBLE)")
    con.executemany("INSERT INTO c VALUES (?, ?, ?, ?)", rows)
    os.makedirs(d, exist_ok=True)
    con.execute(f"COPY c TO '{d}' (FORMAT PARQUET, PARTITION_BY (period_date), OVERWRITE_OR_IGNORE)")


GOOD = [
    ("2024-03-04", "A", 3, 0.3),
    ("2024-03-05", "A", 2, 0.2),
    ("2024-03-04", "B", 2, 0.25),
    ("2024-03-04", "C", 1, 0.125),
]


def test_check_classes_accepts_the_truth(tmp_path):
    _write_classes(str(tmp_path / "ok"), GOOD)
    rows = checks.class_rows(duckdb.connect(), str(tmp_path / "ok"))
    assert checks.check_classes(rows, _truth()) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: r[:-1],  # a class lost
        lambda r: r[:1] + [("2024-03-05", "A", 3, 0.2)] + r[2:],  # a count changed
        lambda r: r[:2] + [("2024-03-04", "B", 1, 0.125), ("2024-03-04", "B2", 1, 0.125)] + r[3:],  # a digest split
        lambda r: r[:3] + [("2024-03-04", "C", 1, 0.126)],  # query time off
    ],
)
def test_check_classes_rejects_corruption(tmp_path, corrupt):
    _write_classes(str(tmp_path / "bad"), corrupt(list(GOOD)))
    rows = checks.class_rows(duckdb.connect(), str(tmp_path / "bad"))
    assert checks.check_classes(rows, _truth()) is not None


def test_same_rows_rejects_changed_missing_and_reordered_rows():
    cols = ["digest", "n", "qt"]
    want = [("A", 5, 0.5), ("B", 2, 0.25)]
    assert checks.same_rows(cols, list(want), cols, want) is None
    assert checks.same_rows(cols[::-1], [r[::-1] for r in want], cols, want) is None
    assert checks.same_rows(cols, [("A", 5, 0.5), ("B", 3, 0.25)], cols, want) is not None
    assert checks.same_rows(cols, want[:1], cols, want) is not None
    assert checks.same_rows(["digest", "n", "x"], want, cols, want) is not None
    assert checks.same_rows(cols, want[::-1], cols, want, ordered=True) is not None
    assert checks.same_rows(cols, want[::-1], cols, want) is None


def test_parse_funnel_reads_cli_lines():
    text = "corpus_curation: wrote 3 rows -> /x\n  funnel raw: 10\n  funnel quality: 7\n"
    assert checks.parse_funnel(text) == [("raw", 10), ("quality", 7)]


def test_qan_oracle_rejects_a_wrong_answer(tmp_path):
    """The DuckDB side of a QAN check against a corrupted Spark answer."""
    from datetime import datetime

    _write_classes(str(tmp_path / "c"), GOOD)
    q = workloads.Qan.__new__(workloads.Qan)
    q.run = type("R", (), {})()
    q.run.con = duckdb.connect()
    q.run.con.execute(
        "CREATE VIEW classes AS SELECT *, TIMESTAMP '2024-03-04 01:00:00' AS period_start,"
        " 'fp' || digest AS fingerprint, m_query_time_sum AS m_query_time_max,"
        " m_query_time_sum AS m_query_time_p95, 'db' AS db, 'u' AS \"user\", 'h' AS host"
        f" FROM read_parquet('{tmp_path}/c/**/*.parquet', hive_partitioning = true)"
    )
    p = {"t0": datetime(2024, 3, 4), "t1": datetime(2024, 3, 5), "digest": "A",
         "dim": "user", "value": "u"}
    for kind, filtered in [(k, False) for k in workloads.QAN_KINDS] + [("sparkline", True)]:
        p["filtered"] = filtered
        cols, rows = checks.duck(q.run.con, q.duck_sql(kind, p))
        assert rows and q.check(kind, p, cols, rows) is None
        bad = [tuple((v + 1 if isinstance(v, int) and not isinstance(v, bool) else v) for v in r) for r in rows]
        assert q.check(kind, p, cols, bad) is not None, kind
    p["filtered"], p["value"] = True, "other"
    cols, rows = checks.duck(q.run.con, q.duck_sql("sparkline", p))
    assert not rows  # the filtered view's sparkline honours the filter


# ---------------------------------------------------------------------------
# contract with BENCHMARK.json
# ---------------------------------------------------------------------------


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_equal_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(bench_run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in spec["end_to_end"])
               for m in spec["end_to_end"])


def test_run_fails_fast_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
