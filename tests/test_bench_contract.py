"""Pin bench.py's driver-facing output contract (VERDICT r14 #2).

The external driver captures only the LAST 2000 CHARS of bench.py's
stdout and json-parses the final line; r14's final line outgrew that
window and BENCH_r14.json shipped `parsed: null` with the gate
evidence lost to a front-truncated string. These tests exercise
bench.final_line with a FULL-SIZED synthetic result set (every gate,
the Python-boundary control, and all EXTRA_OPS headliners, worst-case
float widths) so the budget holds for the real row count without
spinning Spark.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _full_payload(hot_every: int | None = None):
    """Synthetic results at the real bench's cardinality with
    worst-case widths (4-dp medians up to 9999s, loadavg up to 99.9)."""
    names = (
        list(bench.BASELINE_QUERIES) + [bench.PY_CONTROL] + list(bench.EXTRA_OPS)
    )
    results, variance, loads = {}, {}, {}
    for i, n in enumerate(names):
        med = 9999.1234 - i  # max plausible width
        results[n] = med
        variance[n] = [med - 0.5001, med, med + 11.5001]
        loads[n] = 99.9 if hot_every and i % hot_every == 0 else 1.99
    return results, variance, loads


def test_final_line_fits_budget_and_parses():
    results, variance, loads = _full_payload()
    line = bench.final_line(results, variance, loads, 9999.1234, 0.55, 0.1, steal_pct=99.9)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    d = json.loads(line)
    # the drift clause's needs, machine-readable from the line alone
    assert d["gate_total_s"] == 9999.1234
    assert set(d["queries"]) == set(results)
    assert set(d["variance_ctl"]) == set(bench.BASELINE_QUERIES) | {
        bench.PY_CONTROL
    }
    assert all(len(v) == 3 for v in d["variance_ctl"].values())
    assert d["loadavg_max"] == 99.9 or d["loadavg_max"] == 1.99


def test_final_line_degrades_hot_loads_before_gate_evidence():
    # every row hot -> the exceptions map is the ballast; if the line
    # overflows, the COOLEST NON-CONTROL hot entries are shed first
    # (ADVICE r15 #2 — a wholesale drop lost every load stamp on
    # exactly the contended runs where they matter); the control
    # triples and the control rows' load stamps survive
    results, variance, loads = _full_payload(hot_every=1)
    line = bench.final_line(results, variance, loads, 1.0, 0.1, 0.1)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    d = json.loads(line)
    assert set(d["variance_ctl"]) == set(bench.BASELINE_QUERIES) | {
        bench.PY_CONTROL
    }
    ctl = set(bench.BASELINE_QUERIES) | {bench.PY_CONTROL}
    kept = set(d["loadavg_hot"])
    # shedding happened (full map can't fit) but didn't go to zero,
    # and every surviving non-control entry implies ALL control rows
    # survived (controls shed last)
    assert kept, "degrade must truncate, not drop, the hot-load map"
    assert len(kept) < len(loads)
    if kept - ctl:
        assert ctl <= kept
    assert d["loadavg_max"] == 99.9


def test_final_line_fits_budget_with_full_steal_map():
    """r17: every query hot on BOTH maps (loadavg + steal) — the line
    must still fit by shedding coolest non-control entries, and the
    run-level steal_pct must always survive."""
    results, variance, loads = _full_payload(hot_every=1)
    steals = {n: 99.9 for n in results}
    line = bench.final_line(
        results, variance, loads, 1.0, 0.1, 0.1, steal_pct=99.9,
        steals=steals, n_retried=len(steals),
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    d = json.loads(line)
    assert d["steal_pct"] == 99.9
    assert d["steal_retries"] == len(steals)
    assert set(d["variance_ctl"]) == set(bench.BASELINE_QUERIES) | {
        bench.PY_CONTROL
    }


def test_steal_retry_keeps_lower_steal_attempt(monkeypatch):
    """The bounded per-query retry (VERDICT r16 #1) must (a) re-run a
    query whose window exceeded STEAL_RETRY_PCT, (b) keep the attempt
    with the LOWER steal stamp — never selecting on the time itself —
    and (c) stop at STEAL_RETRY_MAX attempts."""
    calls = {"n": 0}
    # attempt 1: contaminated (30% steal), slow; attempt 2: clean, fast
    timings = [[9.0, 9.0, 9.0], [1.0, 1.0, 1.0]]
    steal_windows = [30.0, 2.0]

    def fake_time_df(spark, build, runs=3):
        i = calls["n"]
        calls["n"] += 1
        return timings[i]

    snaps = iter([0, 1, 2, 3])
    monkeypatch.setattr(bench, "time_df", fake_time_df)
    monkeypatch.setattr(bench, "cpu_steal_snapshot", lambda: next(snaps))
    monkeypatch.setattr(
        bench,
        "cpu_steal_pct",
        lambda a, b: steal_windows[a // 2],
    )
    monkeypatch.setattr(bench, "wait_for_idle", lambda **kw: 0.0)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    loads, steals, retried = {}, {}, []
    ts = bench.guarded_time_df(
        None, None, 3, loads, "q_x", steals, retried
    )
    assert calls["n"] == bench.STEAL_RETRY_MAX == 2
    assert ts == [1.0, 1.0, 1.0]
    assert steals["q_x"] == 2.0
    assert retried == ["q_x"]


def test_steal_retry_keeps_measured_attempt_over_unmeasured_retry(monkeypatch):
    """A retry whose steal window could not be measured (None) must
    not replace the measured attempt: the kept times are the first
    attempt's and the query still carries its steal stamp."""
    calls = {"n": 0}
    timings = [[9.0, 9.0], [1.0, 1.0]]
    steal_windows = [30.0, None]

    def fake_time_df(spark, build, runs=3):
        calls["n"] += 1
        return timings[calls["n"] - 1]

    snaps = iter([0, 1, 2, 3])
    monkeypatch.setattr(bench, "time_df", fake_time_df)
    monkeypatch.setattr(bench, "cpu_steal_snapshot", lambda: next(snaps))
    monkeypatch.setattr(bench, "cpu_steal_pct", lambda a, b: steal_windows[a // 2])
    monkeypatch.setattr(bench, "wait_for_idle", lambda **kw: 0.0)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    loads, steals, retried = {}, {}, []
    ts = bench.guarded_time_df(None, None, 2, loads, "q_z", steals, retried)
    assert calls["n"] == 2 and retried == ["q_z"]
    assert ts == [9.0, 9.0]
    assert steals["q_z"] == 30.0


def test_steal_retry_skipped_when_clean(monkeypatch):
    calls = {"n": 0}

    def fake_time_df(spark, build, runs=3):
        calls["n"] += 1
        return [1.0]

    monkeypatch.setattr(bench, "time_df", fake_time_df)
    monkeypatch.setattr(bench, "cpu_steal_snapshot", lambda: 0)
    monkeypatch.setattr(bench, "cpu_steal_pct", lambda a, b: 1.5)
    monkeypatch.setattr(bench, "wait_for_idle", lambda **kw: 0.0)
    loads, steals, retried = {}, {}, []
    ts = bench.guarded_time_df(None, None, 1, loads, "q_y", steals, retried)
    assert calls["n"] == 1 and ts == [1.0]
    assert steals["q_y"] == 1.5 and retried == []


def test_py_control_excluded_from_gate_queries():
    # the control calibrates, it doesn't race: never summed as a gate
    assert bench.PY_CONTROL not in bench.BASELINE_QUERIES
    assert bench.PY_CONTROL not in bench.EXTRA_OPS


def test_control_queries_are_frozen():
    """The machine-drift clause's entire validity rests on the control
    rows being VERBATIM-unchanged across rounds (BASELINE.md §protocol:
    'they have had zero code change since r1'). Pin the 8 gate SQL
    strings and the Python-boundary control's builder source by hash —
    if you deliberately change either, update the hash here AND
    re-baseline the affected reference medians in BASELINE.md/SCALING.md
    (a silent edit would turn every future drift verdict into noise)."""
    import hashlib
    import inspect

    gate_hash = hashlib.md5(
        json.dumps(bench.BASELINE_QUERIES, sort_keys=True).encode()
    ).hexdigest()
    assert gate_hash == "1526198f13174445c62cf1e7a2f579aa"
    ctl_hash = hashlib.md5(
        inspect.getsource(bench._py_control_build).encode()
    ).hexdigest()
    assert ctl_hash == "c847dfffa85127433d940ce6b32e6d10"


def test_append_local_record_durable_and_nonfatal(monkeypatch, tmp_path):
    """VERDICT r15 #5: every bench run's compact line must land in the
    committed BENCH_LOCAL.jsonl (both SF records survive the driver's
    2000-char tail), and a read-only checkout must not fail the bench."""
    fake = tmp_path / "bench.py"
    monkeypatch.setattr(bench, "__file__", str(fake))
    bench.append_local_record('{"a":1}')
    bench.append_local_record('{"b":2}')
    lines = (tmp_path / "BENCH_LOCAL.jsonl").read_text().splitlines()
    assert [json.loads(x) for x in lines] == [{"a": 1}, {"b": 2}]
    # unwritable dir -> swallowed, not raised. chmod alone is vacuous
    # when the suite runs as root (root ignores 0o555), so ALSO point
    # __file__ into a nonexistent dir: open(..., "a") then raises
    # FileNotFoundError (an OSError), exercising the swallow for real.
    ro = tmp_path / "ro"
    ro.mkdir()
    ro.chmod(0o555)
    monkeypatch.setattr(bench, "__file__", str(ro / "bench.py"))
    bench.append_local_record('{"c":3}')  # must not raise
    monkeypatch.setattr(
        bench, "__file__", str(tmp_path / "no_such_dir" / "bench.py")
    )
    bench.append_local_record('{"d":4}')  # must not raise
