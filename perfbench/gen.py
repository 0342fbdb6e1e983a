"""Seeded input generators for the sparklog benchmark.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files. Each also returns the ground truth the
output checks compare against, so no check ever trusts the program to
describe its own input.

Slow logs
    ``slowlog_fleet`` writes one file per mysqld collector. Statements
    come from a seeded set of templates, Zipf-weighted by rank, each
    with a unique table identifier so that no two templates can share
    a fingerprint under any normalization. About 4 % of events carry a
    construct the codegen'd regex chain fingerprints differently from
    the state machine (a doubled quote, a multi-line block comment);
    the divergent text is fixed per template, so both normalizations
    still map each template to exactly one digest. The time span is
    solved so that a (digest, minute) class row averages a target
    number of events.

Curation corpus
    ``corpus`` writes ``documents.parquet`` and ``embeddings.parquet``
    in the schema the registry's text, dedup and vector operators read,
    with planted exact and near duplicates.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import os
import random
import shutil
from datetime import datetime, timezone

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
STOPWORDS = ("the", "a", "and", "of", "in")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
COLUMNS = (
    "status amount price created updated owner region label kind state "
    "score total name email title body flag weight rank level"
).split()
DBS = tuple(f"db_{w}" for w in ("shop", "billing", "auth", "search", "ledger", "mail", "audit", "cms"))
USERS = ("app", "batch", "report", "admin", "etl", "api")
BASE_EPOCH = int(datetime(2024, 3, 4, tzinfo=timezone.utc).timestamp())
N_FILES = 4  # host logs per fleet, one per mysqld
DIVERGENT_SHARE = 0.04  # event share of chain-divergent templates

SHAPES = (
    "SELECT {c1}, {c2} FROM {t} WHERE id = {i}",
    "SELECT * FROM {t} WHERE {c1} IN ({ints}) AND {c2} = '{s}'",
    "UPDATE {t} SET {c1} = {i}, {c2} = '{s}' WHERE id = {i2}",
    "INSERT INTO {t} ({c1}, {c2}) VALUES {rows}",
    "SELECT count(*) FROM {t} WHERE {c1} BETWEEN {i} AND {i2}",
    "DELETE FROM {t} WHERE {c1} < {i} LIMIT {i2}",
    "SELECT {c1}, sum({c2})\nFROM {t}\nWHERE {c3} > {f}\nGROUP BY {c1}",
    "SELECT a.{c1}, b.{c2} FROM {t} a JOIN {t}_ref b ON a.id = b.ref_id WHERE b.{c3} = '{s}'",
)


def _ident(n: int) -> str:
    """Letters-only identifier for template ``n``: digits in table
    names could be masked as literals by one normalizer and not the
    other, which would merge or split templates."""
    s = ""
    n += 26 * 27  # at least three letters
    while n:
        n, r = divmod(n, 26)
        s = chr(97 + r) + s
    return s


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


class Template:
    __slots__ = ("sql", "db", "user", "host", "host_no", "base_qt", "divergent")

    def __init__(self, sql, db, user, host_no, base_qt, divergent):
        self.sql = sql
        self.db = db
        self.user = user
        self.host = f"host{_ident(host_no)}"
        self.host_no = host_no
        self.base_qt = base_qt
        self.divergent = divergent


def make_templates(rng: random.Random, n: int, n_hosts: int, divergent_share: float) -> list[Template]:
    cum = _zipf_cum(n, 1.0)
    total = cum[-1]
    weights = [cum[0]] + [cum[i] - cum[i - 1] for i in range(1, n)]
    # divergent templates are drawn from a shuffled rank order until
    # they carry the target share of the event weight, so the share is
    # the same for every seed
    order = list(range(n))
    rng.shuffle(order)
    divergent, acc = set(), 0.0
    for r in order:
        if acc + weights[r] <= divergent_share * total:
            divergent.add(r)
            acc += weights[r]
    out = []
    for r in range(n):
        c1, c2, c3 = rng.sample(COLUMNS, 3)
        # shape by rank: the heaviest templates have the same shapes
        # for every seed, so per-event cost does not depend on the seed
        sql = SHAPES[r % len(SHAPES)].replace("{t}", f"t_{_ident(r)}")
        sql = sql.replace("{c1}", c1).replace("{c2}", c2).replace("{c3}", c3)
        if r in divergent:
            w1, w2 = rng.sample(WORDS, 2)
            if r % 2 or sql.startswith("INSERT"):
                sql = f"/* {w1}\n{w2} job */ " + sql
            else:
                sql += f" AND {c3} <> 'o''{w1}'"
        out.append(
            Template(
                sql=sql,
                db=rng.choice(DBS),
                user=rng.choice(USERS),
                host_no=rng.randrange(n_hosts),
                base_qt=rng.lognormvariate(-4.0, 1.2),
                divergent=r in divergent,
            )
        )
    return out


def _literal(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


def render_query(tpl: Template, rng: random.Random) -> str:
    sql = tpl.sql
    if "{ints}" in sql:
        sql = sql.replace("{ints}", ", ".join(str(rng.randint(1, 99999)) for _ in range(rng.randint(1, 8))))
    if "{rows}" in sql:
        sql = sql.replace(
            "{rows}",
            ", ".join(f"({rng.randint(1, 10**6)}, '{_literal(rng)}')" for _ in range(rng.randint(1, 4))),
        )
    return (
        sql.replace("{i}", str(rng.randint(1, 10**7)))
        .replace("{i2}", str(rng.randint(1, 10**7)))
        .replace("{f}", f"{rng.uniform(0, 1000):.3f}")
        .replace("{s}", _literal(rng))
    )


def render_record(tpl: Template, ts: int, us: int, rng: random.Random, thread_id: int) -> tuple[str, float]:
    """One slow-log record and the query time its text carries."""
    qt = float(f"{tpl.base_qt * rng.lognormvariate(0.0, 0.5):.6f}")
    iso = datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    rows_sent = rng.randint(0, 500)
    full_scan = "Yes" if rng.random() < 0.1 else "No"
    text = (
        f"# Time: {iso}.{us:06d}Z\n"
        f"# User@Host: {tpl.user}[{tpl.user}] @ {tpl.host} [10.0.0.{tpl.host_no + 1}]  Id: {thread_id:6d}\n"
        f"# Schema: {tpl.db}  Last_errno: 0  Killed: 0\n"
        f"# Query_time: {qt:.6f}  Lock_time: {rng.uniform(0, 0.002):.6f}"
        f"  Rows_sent: {rows_sent}  Rows_examined: {rows_sent * rng.randint(1, 200)}"
        f"  Rows_affected: {rng.randint(0, 3)}  Bytes_sent: {rng.randint(60, 90000)}\n"
        f"# Tmp_tables: 0  Tmp_disk_tables: 0  Tmp_table_sizes: 0\n"
        f"# QC_Hit: No  Full_scan: {full_scan}  Full_join: No  Tmp_table: No  Tmp_table_on_disk: No\n"
        f"# Filesort: No  Filesort_on_disk: No  Merge_passes: 0\n"
        f"# InnoDB_IO_r_ops: {rng.randint(0, 40)}  InnoDB_IO_r_bytes: {rng.randint(0, 655360)}"
        f"  InnoDB_IO_r_wait: {rng.uniform(0, 0.004):.6f}\n"
        f"SET timestamp={ts};\n"
        f"{render_query(tpl, rng)};\n"
    )
    return text, qt


def _expected_rows(counts: list[int], minutes: int) -> float:
    keep = 1.0 - 1.0 / minutes
    return sum(minutes * (1.0 - keep**c) for c in counts if c)


def solve_span_minutes(counts: list[int], events_per_class: float, lo: int = 1, hi: int = 10**6) -> int:
    """Smallest span (minutes) whose expected class-row count reaches
    ``total / events_per_class`` under uniform timestamps."""
    target = sum(counts) / events_per_class
    if _expected_rows(counts, hi) <= target:
        return hi
    while lo < hi:
        mid = (lo + hi) // 2
        if _expected_rows(counts, mid) >= target:
            hi = mid
        else:
            lo = mid + 1
    return lo


class Truth:
    """Per-template event counts and query-time sums of the complete
    records a reader can see."""

    def __init__(self, n_templates: int):
        self.count = [0] * n_templates
        self.qt_sum = [0.0] * n_templates

    def add(self, t: int, qt: float) -> None:
        self.count[t] += 1
        self.qt_sum[t] += qt

    def to_json(self) -> dict:
        return {"count": self.count, "qt_sum": self.qt_sum}

    @classmethod
    def from_json(cls, d: dict) -> Truth:
        t = cls(len(d["count"]))
        t.count, t.qt_sum = list(d["count"]), list(d["qt_sum"])
        return t

    def digest_counts(self) -> list[int]:
        """The multiset of per-digest num_queries a correct run yields."""
        return sorted(c for c in self.count if c)

    def total_qt(self) -> float:
        return math.fsum(self.qt_sum)


def slowlog_fleet(
    seed: int,
    n_events: int,
    out_dir: str,
    n_templates: int = 2000,
    n_hosts: int = 16,
    span_minutes: int | None = None,
) -> dict:
    """Write the host logs under ``out_dir``; return ground truth plus
    the span used. With ``span_minutes`` unset the span is solved for
    about 10 events per (digest, minute) class row."""
    rng = random.Random(seed)
    tpls = make_templates(rng, n_templates, n_hosts, DIVERGENT_SHARE)
    cum = _zipf_cum(n_templates, 1.0)
    picks = rng.choices(range(n_templates), cum_weights=cum, k=n_events)
    counts = [0] * n_templates
    for t in picks:
        counts[t] += 1
    minutes = span_minutes or solve_span_minutes(counts, 10.0)
    span_us = minutes * 60 * 10**6
    stamps = sorted(rng.randrange(span_us) for _ in range(n_events))
    truth = Truth(n_templates)
    os.makedirs(out_dir, exist_ok=True)
    files = [open(os.path.join(out_dir, f"mysqld{k}.log"), "w") for k in range(N_FILES)]
    try:
        for k, fh in enumerate(files):
            fh.write(
                f"/usr/sbin/mysqld, Version: 8.0.36-28 (Percona Server). started with:\n"
                f"Tcp port: {3306 + k}  Unix socket: /var/run/mysqld/mysqld.sock\n"
                "Time                 Id Command    Argument\n"
            )
        for n, (t, st) in enumerate(zip(picks, stamps)):
            tpl = tpls[t]
            text, qt = render_record(tpl, BASE_EPOCH + st // 10**6, st % 10**6, rng, 1000 + n % 500)
            files[tpl.host_no % N_FILES].write(text)
            truth.add(t, qt)
    finally:
        for fh in files:
            fh.close()
    return {"truth": truth.to_json(), "span_minutes": minutes, "n_events": n_events}


class TailFleet:
    """Growing host logs for the tail workload. Records arrive in time
    order; ``append`` adds records to every file. A fleet reader holds
    back each file's last record until the next header arrives, so
    ``visible`` counts every record except the last one per file."""

    def __init__(self, seed: int, out_dir: str, n_templates: int = 2000):
        self.rng = random.Random(seed)
        self.tpls = make_templates(self.rng, n_templates, 16, DIVERGENT_SHARE)
        self.cum = _zipf_cum(n_templates, 1.0)
        self.dir = out_dir
        self.paths = [os.path.join(out_dir, f"mysqld{k}.log") for k in range(N_FILES)]
        self.all = Truth(n_templates)
        self.last: list[tuple[int, float] | None] = [None] * N_FILES
        self.clock_us = 0
        self.n = 0
        os.makedirs(out_dir, exist_ok=True)
        for p in self.paths:
            open(p, "w").close()

    def append(self, per_file: int, gap_us: int = 5000) -> int:
        """Append ``per_file`` records to each file; return how many
        records became visible to a reader."""
        before = sum(self.all.count) - sum(1 for x in self.last if x)
        for k, p in enumerate(self.paths):
            chunks = []
            for _ in range(per_file):
                t = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
                self.clock_us += self.rng.randrange(1, gap_us)
                st = self.clock_us
                text, qt = render_record(self.tpls[t], BASE_EPOCH + st // 10**6, st % 10**6, self.rng, 1000 + self.n % 500)
                self.n += 1
                chunks.append(text)
                self.all.add(t, qt)
                self.last[k] = (t, qt)
            with open(p, "a") as fh:
                fh.write("".join(chunks))
        return sum(self.all.count) - sum(1 for x in self.last if x) - before

    def visible(self) -> Truth:
        vis = Truth(len(self.all.count))
        vis.count = list(self.all.count)
        vis.qt_sum = list(self.all.qt_sum)
        for x in self.last:
            if x:
                vis.count[x[0]] -= 1
                vis.qt_sum[x[0]] -= x[1]
        return vis


def _doc_text(rng: random.Random) -> str:
    n = rng.randint(12, 90)
    words = [rng.choice(WORDS) for _ in range(n)]
    for _ in range(rng.randint(1, 3)):
        words.insert(rng.randrange(len(words) + 1), rng.choice(STOPWORDS))
    return " ".join(words)


def corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str, dim: int = 64) -> dict:
    """documents.parquet + embeddings.parquet under ``out_dir``.
    About 3 % of documents are near duplicates of an earlier one (one
    word edited, or truncated) and 1 % exact copies, so dedup has
    clusters to resolve."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.01:
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and u < 0.04:
            words = texts[rng.randrange(i)].split(" ")
            if rng.random() < 0.5 and len(words) > 20:
                words = words[: len(words) - rng.randint(1, 3)]
            else:
                words[rng.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(0.0, 1.0, (10, dim))
    labels = nrng.integers(0, 10, n_vecs)
    emb = (centers[labels] + nrng.normal(0.0, 0.8, (n_vecs, dim))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return {"n_docs": n_docs, "n_vecs": n_vecs}


def cached(cache_root: str, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """Generate once per (kind, seed, size): ``build(dir)`` writes the
    inputs and returns their metadata, stored beside them. A partial
    directory from an interrupted build is discarded."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return d, json.load(fh)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    info = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(info, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, info
