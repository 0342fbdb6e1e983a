"""SparkSession factory.

Defaults follow SURVEY.md §7 M0: local master, UTC session timezone
(the DuckDB oracle is UTC), AQE enabled, shuffle partitions sized to
local cores (``local_cpus``: ``SPARK_GRAFT_CPUS`` or the host's cores;
at cluster scale this is overridden per-job), and
``spark.sql.legacy.parquet.nanosAsLong=true`` so the driver's
``events.parquet`` (parquet timestamp[ns]) is readable; ``io.py``
re-materializes the column as a microsecond timestamp.

Scale note (100 TB): everything here is per-session config, not code —
on a real cluster the same code runs with ``spark.sql.shuffle.partitions``
sized to ~2-3× total cores and AQE coalescing/skew-join handling the
rest at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[N]`` and the shuffle-partition count:
    ``SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on — never more threads than the host has."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


# runtime-settable confs the engine relies on: get_session sets them on
# the sessions it builds, ensure_compat on a session it did not build
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_session(
    app_name: str = "slowlog2clickhouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=_RUNTIME_CONF)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # embedded Derby (JDBC tests) writes derby.log into user.dir by
        # default — keep the repo clean
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.stream.error.file=/tmp/derby.log",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        # Multi-JVM master (local-cluster, spark://, yarn, k8s://):
        # executors need the package on their sys.path or every UDF
        # closure dies at unpickle (SCALING.md r16 §local-cluster).
        # Auto-ship unless a spark-submit --py-files already carries
        # the package (a second same-named zip with different bytes
        # would fail executor fetch).
        if "slowlog2clickhouse_spark" not in (
            spark.conf.get("spark.submit.pyFiles", "") or ""
        ):
            ship_package(spark)
    return spark


def ensure_compat(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable configs this engine relies on to a
    session we did not create (e.g. the verify driver's).

    ``nanosAsLong`` is read at parquet scan planning time, so setting it
    on an existing session is sufficient as long as it happens before
    the first read of ``events.parquet``.
    """
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    # a foreign session arrives with the 200-partition default — at our
    # test SFs that is 200 near-empty tasks (and 200 Python workers for
    # every applyInPandas); size to local cores and let AQE coalesce
    # upward jobs re-split
    spark.conf.set("spark.sql.shuffle.partitions", str(local_cpus()))
    return spark


def package_zip(dest_dir: str | None = None) -> str:
    """Zip this package's .py sources for --py-files-style shipping.

    On a real cluster, executor Python workers unpickle UDF closures by
    module reference, so the package must reach every executor's
    ``sys.path`` — spark-submit does this with ``--py-files pkg.zip``.
    This builds the equivalent zip (sources only; no tests, no
    bytecode) so a session created WITHOUT spark-submit (notebooks,
    long-running drivers) can ship it via :func:`ship_package`.

    Returns the zip path. ``local[N]`` never needs this (executors
    share the driver's ``sys.path``); ``local-cluster`` and standalone/
    YARN/K8s masters do.
    """
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="s2c_pyfiles_")
    zpath = os.path.join(dest_dir, "slowlog2clickhouse_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    return zpath


_SHIPPED: dict[str, str] = {}


def ship_package(spark: SparkSession) -> str:
    """``addPyFile`` this package to an existing session's executors.

    Idempotent per application: the zip is built once and its path
    cached per applicationId, so a second call is a true no-op. (A
    naive re-zip per call would both leak a temp dir each time and —
    if a source file changed on disk mid-session — register a
    same-named file with different contents, which Spark rejects at
    executor fetch time. Contents are therefore frozen at first call;
    restart the session to ship updated sources.)

    Call once after session creation when the master has remote
    executors; see ``scripts/driver_sim.py --master local-cluster[...]``
    for the verified multi-executor run that exercises this path.
    """
    app_id = spark.sparkContext.applicationId
    if app_id not in _SHIPPED:
        zpath = package_zip()
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED[app_id] = zpath
    return _SHIPPED[app_id]
