"""Session defaults must be safe on any host: with SPARK_GRAFT_CPUS
unset, the local master and the shuffle-partition count follow the
cores this process may run on, not a fixed 32."""

from __future__ import annotations

import os

from slowlog2clickhouse_spark.session import ensure_compat, local_cpus


def test_local_cpus_defaults_to_host_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_ensure_compat_sizes_shuffle_to_host_cores(spark, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        ensure_compat(spark)
        assert spark.conf.get(key) == str(len(os.sched_getaffinity(0)))
    finally:
        spark.conf.set(key, before)
