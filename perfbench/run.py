"""sparklog benchmark: one workload, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads: ingest and qan (gated, see BENCHMARK.json), tail and curate
(runnable, not gated; their layers are measured in the ingest and qan
traced runs; see README.md). ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is the separate traced run that prints the
per-layer metrics. The last line of stdout is one JSON object: correct,
attempted, failed, metrics. Inputs are generated from ``--seed`` and
cached under ``.bench_build/sparklog/`` in the checkout; nothing is
written elsewhere. Works from any cwd.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("peak_rss_mb", "MB"),
)


def bootstrap() -> None:
    """Environment the JVM and its Python workers inherit. Must run
    before pyspark starts a gateway."""
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    base = os.path.join(ROOT, ".bench_build", "sparklog")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(base, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # below the package's 8g default: with an 8g heap, which the JVM
    # grows lazily, peak_rss_mb of ten ingest runs on a 4-core VM ranged
    # over 2.4-3.9 GB (quartile spread 0.28 of the median, above its
    # bound); with 3g the spreads seen were 0.12-0.17
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TZ"] = "UTC"
    time.tzset()
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
    )


def stop_spark(run) -> None:
    """Stop the session, then the gateway JVM, and wait for the JVM and
    every Python worker it started to exit."""
    from pyspark import SparkContext

    from probe import tree_pids

    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in tree_pids() if p != os.getpid()]
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "qan", "tail", "curate"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own package, never one
    # found elsewhere on sys.path
    missing = [m for m in ("pyspark", "duckdb") if importlib.util.find_spec(m) is None]
    if not os.path.isfile(os.path.join(ROOT, "slowlog2clickhouse_spark", "__init__.py")):
        missing.insert(0, "slowlog2clickhouse_spark")
    if missing:
        print(f"sparklog benchmark: cannot import {', '.join(missing)} from {ROOT}", file=sys.stderr)
        return 2
    bootstrap()

    import probe
    import workloads

    steal0 = probe.cpu_times()
    rss = probe.PeakRss()
    run = workloads.Run(ROOT, args.seed, args.seconds, rss)
    spans = probe.Spans()
    try:
        wl = workloads.WORKLOADS[args.workload](run)  # inputs: generated or cached, untimed
        # one cold set-up: package import, JVM launch, first JVM job,
        # first Python-worker job and the workload's one-time work
        with spans.span("setup.session"):
            start_s = workloads.start_session(run)
        with spans.span("setup.python_workers"):
            workers_s = workloads.start_python_workers(run)
        with spans.span("setup.prepare") as prep:
            wl.prepare()
        setup_s = start_s + workers_s + prep["end"] - prep["start"]
        if hasattr(wl, "after_prepare"):
            run.record(wl.after_prepare())
        if args.trace:
            layer = {name: 0.0 for name, _ in workloads.PER_LAYER}
            layer["session.start_s"], layer["spark.python_worker_start_s"] = start_s, workers_s
            with spans.span(f"trace.{args.workload}"):
                wl.trace(layer)
            metrics = {name: {"value": float(layer[name]), "unit": unit} for name, unit in workloads.PER_LAYER}
        else:
            with spans.span(f"measure.{args.workload}"):
                res = wl.measure()
            values = dict(res, setup_s=setup_s, peak_rss_mb=rss.mb())
            metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END}
            for key in ("label", "label2"):
                if key in res:
                    name, v, unit = res[key]
                    print(f"# {args.workload}: {name} = {v:.6g} {unit}")
            print(f"# {args.workload}: {res['samples']} timed operations in the measured window")
    finally:
        stop_spark(run)
        run.close()
    steal1 = probe.cpu_times()
    print(
        f"# host: cpus={os.environ['SPARK_GRAFT_CPUS']} steal_pct={probe.steal_pct(steal0, steal1):.2f}"
        f" loadavg={' '.join(f'{x:.2f}' for x in probe.loadavg())}"
    )
    ratio = run.failed / max(1, run.attempted)
    print(f"# failed_ratio = {ratio:.6g} ({run.failed}/{run.attempted})")
    for e in run.errors:
        print(f"# failure: {e}")
    spans.write(os.path.join(run.base, f"spans-{args.workload}-s{args.seed}-t{args.trace}.json"))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
