"""Measurement helpers: host stamps, process memory, Spark's own
counters, and an in-memory span recorder for the traced run.

Nothing here changes what the program runs. Spark counters are read
after the fact from the SQL status store, which is populated with the
UI disabled; streaming numbers come from a query listener.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    dt = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / dt if dt > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # comm may hold spaces/parens: ppid follows the last ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants (the JVM, the Python worker
    daemon and its forked workers)."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the program's processes in MB: the JVM,
    the Python worker daemon and its pooled workers, i.e. this process's
    descendants. This process is left out: it also runs the DuckDB
    output checks. The figure is a sum of per-process peaks (VmHWM),
    taken between operations when the pooled workers are alive and
    short-lived helpers have exited; the largest such sum is kept.
    Peaks of different processes need not coincide, so it bounds the
    largest simultaneous resident set from above."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_status_kb(pid, "VmHWM:") for pid in tree_pids(me) if pid != me)
        self.peak_kb = max(self.peak_kb, total)

    def mb(self) -> float:
        self.sample()
        return self.peak_kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# ---------------------------------------------------------------------------
# Spark SQL metrics
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
}
_VAL_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark's formatted metric ('2,504', '16.3 MiB', or 'total (min,
    med, max ...)\\n422 ms (...)') as a float in bytes, seconds or
    units. The total is the figure after the newline when present."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VAL_RE.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SqlMetrics:
    """Reads node-level metrics of SQL executions from the session's
    status store. ``mark()`` remembers the newest execution id so
    ``since(mark)`` sums only what ran afterwards."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        ids = [e.executionId() for e in _it(self.store.executionsList())]
        return max(ids) if ids else -1

    def since(self, mark: int) -> dict[tuple[str, str], float]:
        """{(node name, metric name): total} over executions after
        ``mark``; node names are stripped of codegen ids."""
        out: dict[tuple[str, str], float] = {}
        for e in _it(self.store.executionsList()):
            eid = e.executionId()
            if eid <= mark:
                continue
            vals = {kv._1(): kv._2() for kv in _it(self.store.executionMetrics(eid))}
            for node in _it(self.store.planGraph(eid).allNodes()):
                name = re.sub(r"\s*\(\d+\)$", "", node.name()).strip()
                for pm in _it(node.metrics()):
                    key = (name, pm.name())
                    out[key] = out.get(key, 0.0) + parse_metric(vals.get(pm.accumulatorId()))
        return out


def pick(metrics: dict, node: str | None, name: str) -> float:
    """Sum a metric over nodes whose name starts with ``node`` (None =
    any node)."""
    return sum(
        v for (n, m), v in metrics.items() if m == name and (node is None or n.startswith(node))
    )


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_listener(spark):
    """Attach a listener that keeps every streaming progress event as
    a dict; returns (listener, list). Remove with
    ``spark.streams.removeListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = _Keep()
    spark.streams.addListener(lst)
    return lst, events


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Spans:
    """In-memory span log: name, start, end and the enclosing span's
    index. Written once, at the end of the run."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        row = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.rows.append(row)
        self._stack.append(len(self.rows) - 1)
        try:
            yield row
        finally:
            row["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.rows, fh)
