"""CLI surface (python -m slowlog2clickhouse_spark) — the reference's
binary shape as a thin parser over the tested plan functions."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from slowlog2clickhouse_spark.__main__ import main
from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG


def test_cli_print_ddl(spark, capsys):
    rc = main(["ingest", "--log", FIXTURE_LOG, "--print-ddl", "--table", "q"])
    out = capsys.readouterr().out
    assert rc == 0
    assert out.startswith("CREATE TABLE IF NOT EXISTS q")
    assert "ENGINE = MergeTree" in out
    assert "PARTITION BY toDate(period_start)" in out
    assert "ORDER BY (digest, period_start)" in out


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_cli_ingest_parquet_equals_library(spark, tmp_path):
    out = str(tmp_path / "classes")
    rc = main(["ingest", "--log", FIXTURE_LOG, "--out", out])
    assert rc == 0
    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog

    lib = ingest_slowlog(spark, FIXTURE_LOG)
    got = spark.read.parquet(out)
    assert got.count() == lib.count()
    # MergeTree-mirroring layout: partitioned by period_date
    assert any(
        d.startswith("period_date=") for d in os.listdir(out) if not d.startswith("_")
    )
    assert {r["digest"] for r in got.select("digest").collect()} == {
        r["digest"] for r in lib.select("digest").collect()
    }


def test_cli_ingest_survives_out_of_range_values(spark, tmp_path):
    """Out-of-range values in one record (a `# Time:` of minute 60,
    month 13 or Feb 30; a `SET timestamp` past year 9999 or past a C
    long; a Rows_sent past int64) no longer abort `ingest`: each record
    still lands in its class, and the good records' class rows are the
    ones a log without the bad records gives."""

    def rec(t, q, rows_sent="1", set_ts=""):
        return (
            f"# Time: {t}\n# User@Host: u[u] @ h []  Id: 1\n"
            f"# Query_time: 0.5  Lock_time: 0.0 Rows_sent: {rows_sent}  Rows_examined: 1\n"
            f"{set_ts}{q};\n"
        )

    good = "".join(
        rec(f"2024-01-01T00:0{i % 3}:{i:02d}.000000Z", f"SELECT * FROM good{i % 2} WHERE id = {i}")
        for i in range(6)
    )
    bad = (
        rec("2024-01-01T00:60:30", "SELECT * FROM bad_minute")
        + rec("2024-13-01T00:00:00", "SELECT * FROM bad_month")
        + rec("2024-02-30T00:00:00", "SELECT * FROM bad_day")
        + rec("2024-01-01T00:01:00Z", "SELECT * FROM bad_epoch", set_ts="SET timestamp=99999999999999;\n")
        + rec("2024-01-01T00:01:00Z", "SELECT * FROM bad_long", set_ts=f"SET timestamp={'9' * 30};\n")
        + rec("2024-01-01T00:02:00Z", "SELECT * FROM bad_rows", rows_sent="9" * 23)
    )
    logs = {"good": good, "mixed": good[: len(good) // 2] + bad + good[len(good) // 2 :]}
    cols = None
    rows = {}
    for name, text in logs.items():
        log = tmp_path / f"{name}.log"
        log.write_text(text)
        out = str(tmp_path / f"out_{name}")
        assert main(["ingest", "--log", str(log), "--out", out]) == 0
        df = spark.read.parquet(out).drop("period_date", "labels")
        cols = cols or df.columns
        rows[name] = {(r["digest"], r["period_start"]): r for r in df.select(cols).collect()}

    by_example = {r["example"]: r for r in rows["mixed"].values()}
    for t in ("bad_minute", "bad_month", "bad_day"):
        assert by_example[f"SELECT * FROM {t}"]["period_start"] is None
    for t in ("bad_epoch", "bad_long"):  # the header's minute, no SET text
        assert by_example[f"SELECT * FROM {t}"]["period_start"].minute == 1
    assert by_example["SELECT * FROM bad_rows"]["m_rows_sent_sum"] is None
    labels = spark.read.parquet(str(tmp_path / "out_mixed")).where(
        F.col("example") == "SELECT * FROM bad_rows"
    ).first()["labels"]
    assert labels == {"Rows_sent": "9" * 23}
    assert {k: v for k, v in rows["mixed"].items() if k in rows["good"]} == rows["good"]
    assert len(rows["mixed"]) == len(rows["good"]) + 6


def test_cli_ingest_requires_a_sink(capsys):
    rc = main(["ingest", "--log", FIXTURE_LOG])
    assert rc == 2
    assert "need --out" in capsys.readouterr().err


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_cli_digest_report(spark, capsys):
    rc = main(["digest", "--log", FIXTURE_LOG, "--top", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines[0].startswith("#") and "queries" in lines[0]
    assert len([ln for ln in lines if not ln.startswith("#")]) == 3


def test_cli_stream_drains_to_batch_equivalent(spark, tmp_path):
    import shutil

    src = tmp_path / "src"
    os.makedirs(src)
    shutil.copy(FIXTURE_LOG, src / "slow.log")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(["stream", "--log-dir", str(src), "--out", out, "--checkpoint", ckpt])
    assert rc == 0
    got = spark.read.parquet(out)
    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog

    lib = ingest_slowlog(spark, FIXTURE_LOG)
    assert got.count() == lib.count()
    assert got.agg(F.sum("num_queries")).collect()[0][0] == lib.agg(
        F.sum("num_queries")
    ).collect()[0][0]
    # idempotent restart: re-draining the same checkpoint appends nothing
    rc = main(["stream", "--log-dir", str(src), "--out", out, "--checkpoint", ckpt])
    assert rc == 0
    assert spark.read.parquet(out).count() == lib.count()


def test_cli_stream_multi_drain_never_double_counts(spark, tmp_path):
    """ADVICE r9 #1 regression: a second drain over a grown log dir
    must replace the snapshot with the full corrected state, not
    append stale partials — readers summing num_queries would
    double-count under the old update-mode blind append."""
    import shutil

    src = tmp_path / "src"
    os.makedirs(src)
    shutil.copy(FIXTURE_LOG, src / "slow_a.log")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(["stream", "--log-dir", str(src), "--out", out, "--checkpoint", ckpt])
    assert rc == 0
    # the log dir grows between drains (rotation drops a second file)
    shutil.copy(FIXTURE_LOG, src / "slow_b.log")
    rc = main(["stream", "--log-dir", str(src), "--out", out, "--checkpoint", ckpt])
    assert rc == 0

    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog

    got = spark.read.parquet(out)
    lib = ingest_slowlog(spark, str(src))
    assert got.agg(F.sum("num_queries")).collect()[0][0] == lib.agg(
        F.sum("num_queries")
    ).collect()[0][0]
    # epoch column present so readers can see which micro-batch wrote
    # the snapshot; exactly one epoch survives per output dir
    assert "epoch" in got.columns
    assert got.select("epoch").distinct().count() == 1


def test_cli_dedup_keep_best(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "keep")
    rc = main(["dedup", "--data-dir", sf_dir, "--out", out])
    assert rc == 0
    got = spark.read.parquet(out)
    from slowlog2clickhouse_spark.registry import all_ops

    lib = all_ops()["dedup_keep_best"].fn(spark, sf_dir)
    assert got.count() == lib.count()
    assert set(got.columns) == set(lib.columns)
    # the printed count is the written row count
    assert f"wrote {got.count()} rows" in capsys.readouterr().out


def test_cli_curate_report(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "report")
    rc = main(["curate", "--data-dir", sf_dir, "--out", out])
    assert rc == 0
    n = spark.read.parquet(out).count()
    assert n >= 1
    text = capsys.readouterr().out
    assert f"corpus_curation: wrote {n} rows" in text
    assert "funnel" in text


# statements that trip the chain-divergence construct detectors, one
# per family, beside clean ones
_CHAIN_DIVERGENT = (
    "SELECT id FROM t WHERE name = 'it''s' AND id = 5",  # doubled quote
    "SELECT id FROM t WHERE name = 'a\\'b' AND id = 6",  # backslash escape
    "SELECT /* line one\nline two */ id FROM t WHERE id = 3",  # multi-line comment
    "SELECT id /* don't */ FROM t WHERE name = 'x'",  # comment apostrophe
    "SELECT 表3 FROM 社員 WHERE id = 8",  # non-ASCII
)
_CLEAN = (
    "SELECT c1, c2 FROM orders WHERE o_id = {i}",
    "UPDATE stock SET qty = qty - {i} WHERE sku = 'k{i}'",
    "SELECT * FROM users WHERE id IN ({i}, {j}, 3)",
    "INSERT INTO log (a, b) VALUES ({i}, 'v{i}'), ({j}, 'w')",
)
# statements holding invalid UTF-8 outside string literals: a JVM-side
# decode and Python's "replace" handler substitute different numbers
# of U+FFFD for these, which puts the record in different classes
_INVALID_UTF8 = (
    b"SELECT c\xed\xa0\x80 FROM t WHERE id = 9",  # UTF-16 surrogate
    b"SELECT \xc0\xaf FROM t WHERE id = 4",  # overlong '/'
    b"SELECT id FROM t\xff WHERE id = 2",  # never-valid byte
)


def test_cli_paths_agree_on_exact_digests(spark, tmp_path):
    """One log through CLI `ingest`, `stream`, `tail` on the file and
    `tail` on its directory (one tail reader): every path yields the
    same (digest, num_queries) multiset, and each digest is the state
    machine's — digest_py(fingerprint_py(query)), with invalid UTF-8
    decoded by Python's "replace" handler on every path. So `ingest`
    history followed by `tail --from latest` never splits a query
    class."""
    from collections import Counter

    from slowlog2clickhouse_spark.functions.fingerprint import (
        digest_py,
        fingerprint_chain_py,
        fingerprint_py,
    )

    # teeth: a chain-keyed path would split or merge these classes
    assert sum(fingerprint_chain_py(q) != fingerprint_py(q) for q in _CHAIN_DIVERGENT) >= 4
    queries = [t.format(i=i, j=i + 1).encode() for i in range(6) for t in _CLEAN]
    queries += [q.encode() for q in _CHAIN_DIVERGENT for _ in range(2)]
    queries += [q for q in _INVALID_UTF8 for _ in range(2)]
    logs = tmp_path / "logs"
    os.makedirs(logs)
    log = logs / "slow.log"
    with open(log, "wb") as f:
        for n, q in enumerate(queries):
            f.write(
                (
                    f"# Time: 2024-01-01T00:{n // 60:02d}:{n % 60:02d}.000000Z\n"
                    "# User@Host: u[u] @ h []  Id: 1\n"
                    "# Query_time: 0.5  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
                ).encode()
                + q
                + b";\n"
            )
        # header-only sentinel: flushes the last record out of the tail
        # readers' torn-record hold-back; it has no statement, no class
        f.write(
            b"# Time: 2030-01-01T00:00:00.000000Z\n"
            b"# Query_time: 0.000001  Lock_time: 0.000000 "
            b"Rows_sent: 0  Rows_examined: 0\n"
        )

    runs = {
        "ingest": ["ingest", "--log", str(log)],
        "stream": ["stream", "--log-dir", str(logs)],
        "tail": ["tail", "--log", str(log)],
        "tail_fleet": ["tail", "--log", str(logs)],
    }
    want = Counter(
        digest_py(fingerprint_py(q.decode("utf-8", "replace"))) for q in queries
    )
    for name, argv in runs.items():
        out = str(tmp_path / f"out_{name}")
        if name != "ingest":
            argv += ["--checkpoint", str(tmp_path / f"ckpt_{name}")]
        assert main([*argv, "--out", out]) == 0
        got = Counter(
            {
                r["digest"]: r["n"]
                for r in spark.read.parquet(out)
                .groupBy("digest")
                .agg(F.sum("num_queries").alias("n"))
                .collect()
            }
        )
        assert got == want, name


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_cli_tail_drains_live_file_to_batch_equivalent(spark, tmp_path):
    """`tail` over a GROWING single file: drain, grow, drain again —
    the final parquet snapshot equals the batch classes over the same
    events (sentinel flushes the torn tail; complete-mode overwrite
    never double-counts)."""
    import re

    from slowlog2clickhouse_spark.__main__ import main
    from slowlog2clickhouse_spark.operators.slowlog_ops import FIXTURE_LOG
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog
    from pyspark.sql import functions as F

    src = str(tmp_path / "slow.log")
    out = str(tmp_path / "classes")
    ckpt = str(tmp_path / "ckpt")
    txt = open(FIXTURE_LOG).read()
    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    mid = starts[len(starts) // 2]
    with open(src, "w") as f:
        f.write(txt[:mid])
    assert main(["tail", "--log", src, "--out", out, "--checkpoint", ckpt]) == 0

    with open(src, "a") as f:
        f.write(txt[mid:])
        f.write(
            "\n# Time: 2030-01-01T00:00:00.000000Z\n"
            "# Query_time: 0.000001  Lock_time: 0.000000 "
            "Rows_sent: 0  Rows_examined: 0\n"
        )
    assert main(["tail", "--log", src, "--out", out, "--checkpoint", ckpt]) == 0

    got = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in spark.read.parquet(out).collect()
    }
    ev = parse_slowlog(spark, FIXTURE_LOG).where(
        ~F.col("admin") & F.col("query").isNotNull()
    )
    want = {
        (r["period_start"], r["digest"]): (r["num_queries"], r["m_query_time_sum"])
        for r in ev.groupBy(
            F.date_trunc("minute", "ts").alias("period_start"), "digest"
        )
        .agg(
            F.count("*").alias("num_queries"),
            F.round(F.sum("query_time"), 6).alias("m_query_time_sum"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.slow  # r17 driver-budget deselection (VERDICT r16 #6); in the full suite via scripts/ptest.py
def test_cli_tail_fleet_directory_drains_to_batch_equivalent(spark, tmp_path):
    """`tail --log <dir>` must tail every file of the directory and
    drain classes equal to the batch pipeline over both files' union
    (each file is a 'mysqld' holding half the fixture)."""
    import re

    src = tmp_path / "logs"
    os.makedirs(src)
    txt = open(FIXTURE_LOG).read()
    starts = [m.start() for m in re.finditer(r"(?m)^# Time: ", txt)]
    mid = starts[len(starts) // 2]
    sentinel = (
        "\n# Time: 2030-01-01T00:00:00.000000Z\n"
        "# Query_time: 0.000001  Lock_time: 0.000000 "
        "Rows_sent: 0  Rows_examined: 0\n"
    )
    with open(src / "host_a.log", "w") as f:
        f.write(txt[:mid] + sentinel)
    with open(src / "host_b.log", "w") as f:
        f.write(txt[mid:] + sentinel)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(["tail", "--log", str(src), "--out", out, "--checkpoint", ckpt])
    assert rc == 0
    got = spark.read.parquet(out)
    from slowlog2clickhouse_spark.plans.pipeline import ingest_slowlog

    lib = ingest_slowlog(spark, FIXTURE_LOG)
    assert got.count() == lib.count()
    assert got.agg(F.sum("num_queries")).collect()[0][0] == lib.agg(
        F.sum("num_queries")
    ).collect()[0][0]


def test_cli_tail_from_latest_skips_backlog(spark, tmp_path):
    """`tail --from latest` drains nothing from the pre-existing
    backlog (bulk history is `ingest`'s job); a subsequent default
    drain from a fresh checkpoint still sees it."""
    src = str(tmp_path / "slow.log")
    import shutil

    shutil.copy(FIXTURE_LOG, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rc = main(
        ["tail", "--log", src, "--out", out, "--checkpoint", ckpt,
         "--from", "latest"]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 0  # backlog skipped
