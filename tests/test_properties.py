"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 4.

Pure-Python properties of the fingerprint state machine and the record
parser; no SparkSession involved, so these run in milliseconds and
explore far more of the input space than the golden tables."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from slowlog2clickhouse_spark.functions.fingerprint import digest_py, fingerprint_py
from slowlog2clickhouse_spark.sources.slowlog import parse_record

# SQL-ish text: identifiers, numbers, quoted strings, operators
sql_atom = st.one_of(
    st.text(alphabet=string.ascii_letters + "_", min_size=1, max_size=8),
    st.integers(0, 10**9).map(str),
    st.floats(0, 1e6, allow_nan=False).map(lambda f: f"{f:.3f}"),
    st.text(alphabet=string.ascii_lowercase + " ", max_size=10).map(
        lambda s: "'" + s + "'"
    ),
    st.sampled_from([",", "=", "<", ">", "(", ")", "*", "SELECT", "FROM", "WHERE",
                     "AND", "OR", "IN", "VALUES", "--c", "/*x*/"]),
)
sql_text = st.lists(sql_atom, min_size=1, max_size=30).map(" ".join)


@given(sql_text)
@settings(max_examples=300, deadline=None)
def test_fingerprint_idempotent(q):
    fp = fingerprint_py(q)
    assert fingerprint_py(fp) == fp


@given(sql_text)
@settings(max_examples=300, deadline=None)
def test_fingerprint_never_crashes_and_digest_shape(q):
    fp = fingerprint_py(q)
    assert isinstance(fp, str)
    d = digest_py(fp)
    assert len(d) == 16
    assert set(d) <= set("0123456789ABCDEF")


# literals must be VALID quoted strings (no embedded quote): an
# unescaped quote inside a literal is malformed SQL where engines
# legitimately diverge (hypothesis found exactly this case)
@given(st.integers(0, 10**9), st.integers(0, 10**9), st.sampled_from(["abc", "x y", 'a_b']))
@settings(max_examples=200, deadline=None)
def test_fingerprint_literal_invariance(a, b, s):
    """Different literal bindings of one template → one fingerprint
    (the property the whole digest pipeline rests on)."""
    t1 = f"SELECT c FROM t WHERE id = {a} AND name = '{s}'"
    t2 = f"SELECT c FROM t WHERE id = {b} AND name = 'zz'"
    assert fingerprint_py(t1) == fingerprint_py(t2)


@given(
    st.floats(0, 100, allow_nan=False),
    st.integers(0, 10**6),
    st.booleans(),
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=10),
)
@settings(max_examples=200, deadline=None)
def test_parser_metric_roundtrip(qt, rows, flag, db):
    """Arbitrary metric values survive the parse: floats exact via
    repr, ints exact, Yes/No mapped, db propagated."""
    rec = (
        "# Time: 2024-01-01T00:00:01Z\n"
        f"# Schema: {db}  Last_errno: 0  Killed: 0\n"
        f"# Query_time: {qt!r}  Lock_time: 0.0  Rows_sent: {rows}  Rows_examined: 1\n"
        f"# Full_scan: {'Yes' if flag else 'No'}\n"
        "SET timestamp=1704067201;\n"
        "SELECT 1;"
    )
    ev = parse_record(rec)
    assert ev["query_time"] == qt
    assert ev["rows_sent"] == rows
    assert ev["full_scan"] is flag
    assert ev["db"] == db
    assert ev["query"] == "SELECT 1"


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes(garbage):
    """Any input yields a well-formed event dict — or None for chunks
    with no timestamp and no recognized header (preamble suppression) —
    never an exception."""
    ev = parse_record(garbage)
    if ev is None:
        return
    assert set(ev) >= {"ts", "query", "admin", "user", "host", "db"}
    assert isinstance(ev["admin"], bool)


@given(
    st.lists(st.integers(min_value=0, max_value=1000), max_size=200),
    st.integers(min_value=1, max_value=600),
)
def test_first_fit_decreasing_invariants(sizes, budget):
    """Packing invariants over arbitrary inputs: every element
    assigned; bins contiguous from 0; no bin over budget unless it
    holds exactly one oversize element; deterministic."""
    from slowlog2clickhouse_spark.operators.text import first_fit_decreasing

    ordered = sorted(sizes, reverse=True)
    got = first_fit_decreasing(ordered, budget)
    assert len(got) == len(ordered)
    if got:
        assert set(got) == set(range(max(got) + 1))
    fills = {}
    for b, sz in zip(got, ordered):
        fills.setdefault(b, []).append(sz)
    for b, items in fills.items():
        over = [i for i in items if i > budget]
        assert len(over) <= 1, (b, items)  # at most one oversize per bin
        # the non-oversize load always fits the budget
        assert sum(i for i in items if i <= budget) <= budget, (b, items)
    assert got == first_fit_decreasing(ordered, budget)


@given(
    st.lists(
        st.text(
            alphabet=string.ascii_letters + string.digits + " ;\n#",
            min_size=1,
            max_size=120,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=200)
def test_datasource_record_split_roundtrip(bodies):
    """The Python-datasource splitter must produce exactly one chunk
    per record and preserve every byte: joining N records with the
    '\\n# Time: ' boundary and re-splitting yields the originals."""
    from slowlog2clickhouse_spark.sources.slowlog_datasource import _records

    recs = [f"# Time: 2024-01-01T00:00:0{i % 10}Z\n{b}" for i, b in enumerate(bodies)]
    # a record body must not itself contain the boundary marker
    recs = [r for r in recs if "\n# Time: " not in r[8:]]
    text = "\n# Time: ".join(r[8:] if i else r for i, r in enumerate(recs))
    got = list(_records(text))
    assert len(got) == len(recs)
    assert got == recs


# ---------------------------------------------------------------------------
# Chain ↔ state-machine agreement fuzz (r9): fn_fingerprint_parity
# measures the divergence REGIMES on a fixed corpus; this fuzzes the
# SUPPORTED grammar — thousands of generated statements on which the
# two implementations must agree exactly. Supported = no backslash
# escapes, no doubled quotes, no newline inside strings/block
# comments, no unterminated quotes (the five documented divergence
# regimes, excluded by construction below).
# ---------------------------------------------------------------------------
from slowlog2clickhouse_spark.functions.fingerprint import fingerprint_chain_py

_ident = st.text(alphabet=string.ascii_letters + "_", min_size=1, max_size=8)
_str_body = st.text(
    alphabet=string.ascii_letters + string.digits + " _-#;*,.()=<>!/",
    max_size=12,
)
supported_atom = st.one_of(
    _ident,
    st.integers(0, 10**12).map(str),
    st.floats(0, 1e9, allow_nan=False).map(lambda f: f"{f:.4f}"),
    st.integers(0, 2**31).map(lambda n: f"0x{n:X}"),
    st.integers(0, 255).map(lambda n: f"0b{n:b}"),
    st.floats(0.1, 9.9, allow_nan=False).map(lambda f: f"{f:.2f}e7"),
    _str_body.map(lambda s: f"'{s}'"),
    _str_body.map(lambda s: f'"{s}"'),
    _str_body.filter(lambda s: "!" not in s and "*" not in s and "/" not in s)
    .map(lambda s: f"/* {s} */"),
    st.sampled_from(
        [
            ",", "=", "<", ">", "(", ")", "*", "SELECT", "FROM", "WHERE",
            "AND", "OR", "NOT", "JOIN", "ON", "GROUP", "BY", "LIMIT",
            "IN (1, 2, 3)", "IN ( 0 )", "VALUES (1, 'a')",
            "VALUES (1,2), (3,4)",
        ]
    ),
)
supported_sql = st.lists(supported_atom, min_size=1, max_size=25).map(" ".join)


@given(supported_sql)
@settings(max_examples=500, deadline=None)
def test_chain_agrees_with_state_machine_on_supported_grammar(q):
    assert fingerprint_chain_py(q) == fingerprint_py(q), q


@given(supported_sql, st.sampled_from(["-- note", "# note"]))
@settings(max_examples=200, deadline=None)
def test_chain_agrees_with_trailing_line_comment(q, comment):
    # a trailing line comment (no apostrophe — that's the documented
    # phantom-string regime) must strip identically
    full = f"{q} {comment}"
    assert fingerprint_chain_py(full) == fingerprint_py(full), full


# ---------------------------------------------------------------------------
# Router soundness fuzz (r10): on UNRESTRICTED generated grammar —
# divergence constructs deliberately included — any statement with NO
# construct flag must fingerprint identically on the chain and the
# state machine. This is the property that makes fn_fingerprint_routed
# state-machine-exact. The r10 sweep ran 30k examples and found (then
# closed, with new detectors + corpus rows) four regimes the
# hand-built corpus missed: /**/-degenerate block comments, quotes
# nested in the other quote type, trailing-dot numerics, and
# digit-leading identifiers.
# ---------------------------------------------------------------------------
from slowlog2clickhouse_spark.functions.fingerprint import construct_flags_py

# non-ASCII probes (r11): unicode letters adjacent to digits, a
# unicode digit, and NBSP — the regimes where Python's unicode-aware
# str/re defaults could diverge from Java/RE2's ASCII classes (the
# state machine + mirror are pinned to ASCII semantics; this alphabet
# keeps them honest)
_wild_body = st.text(
    alphabet=string.ascii_letters + string.digits + " _-#;*,.()=<>!/'\"\\\n"
    + "\u00e9\u03bb\u0665\u00a0",
    max_size=14,
)
wild_atom = st.one_of(
    _ident,
    st.integers(0, 10**12).map(str),
    _wild_body.map(lambda s: f"'{s}'"),
    _wild_body.map(lambda s: f'"{s}"'),
    _wild_body.map(lambda s: f"/*{s}*/"),
    _wild_body.map(lambda s: f"-- {s}"),
    _wild_body.map(lambda s: f"# {s}"),
    _wild_body,
    st.sampled_from(
        [
            "-- don't", "# it's", "/* can't */", "'it''s'", r"'a\'b'",
            "/* a\nb */", "'oops", '"dangling', "'x'", "--", "#", "\n",
            ",", "=", "(", ")", "SELECT", "FROM", "WHERE", "IN (1,2)",
            "VALUES (1,'a')", "/**/", "/*", "*/", "/*!40001 x*/", "0xFF",
            "1e5", "0.", ".5", "1.2.3", "1.e5", "0_", "12_5", "/**\n*/",
        ]
    ),
)
wild_sql = st.lists(wild_atom, min_size=1, max_size=20).map(" ".join)


@given(wild_sql)
@settings(max_examples=1000, deadline=None)
def test_router_unflagged_implies_chain_exact(q):
    if not any(construct_flags_py(q).values()):
        assert fingerprint_chain_py(q) == fingerprint_py(q), repr(q)


# ---------------------------------------------------------------------------
# Full-UTF-8 router soundness + state-machine multibyte stability (r12):
# the r11 sweep used a four-char unicode probe set; this generates
# ARBITRARY unicode — emoji, CJK identifiers, combining marks, RTL,
# surrogile-adjacent codepoints hypothesis likes to find — woven into
# every lexical position (bare, quoted, commented). Two properties:
#   1. soundness: unflagged ⇒ chain == state machine (the non_ascii
#      detector must catch EVERY multibyte statement, so the chain is
#      only ever certified on pure-ASCII input);
#   2. the state machine itself must be total and deterministic on
#      multibyte input (no crash, idempotent digest) — it is the
#      routing TARGET for all non-ASCII traffic.
# Scale knob: SPARK_GRAFT_FUZZ=50000 runs the deep sweep (r12 stamp in
# PROGRESS.jsonl); default stays CI-sized.
# ---------------------------------------------------------------------------
import os as _os

_FUZZ_N = int(_os.environ.get("SPARK_GRAFT_FUZZ", "400"))

_uni_body = st.text(max_size=12)  # unrestricted: full unicode planes
_uni_atom = st.one_of(
    _uni_body,
    _uni_body.map(lambda s: f"'{s}'"),
    _uni_body.map(lambda s: f'"{s}"'),
    _uni_body.map(lambda s: f"/*{s}*/"),
    _uni_body.map(lambda s: f"-- {s}"),
    _uni_body.map(lambda s: f"# {s}"),
    st.integers(0, 10**12).map(str),
    st.sampled_from(
        [
            "SELECT", "FROM", "WHERE", "IN (1,2)", "VALUES (1,'a')",
            "=", "(", ")", ",",
            # targeted multibyte regimes from the r11/r12 briefs
            "数量", "пользователь", "ユーザー", "🙂", "café",
            "é",  # combining acute: é as two codepoints
            "٥٦",  # arabic-indic digits
            "ид5", "5ид",  # unicode letter/digit boundaries
            "x = 1",  # NBSP around operator
            "'データ'", '"données"', "/* 注釈 */", "-- ملاحظة",
        ]
    ),
)
_uni_sql = st.lists(_uni_atom, min_size=1, max_size=16).map(" ".join)


@given(_uni_sql)
@settings(max_examples=_FUZZ_N, deadline=None)
def test_router_soundness_full_unicode(q):
    flags = construct_flags_py(q)
    if not any(flags.values()):
        # an unflagged statement must be chain-exact — and since
        # non_ascii flags ANY multibyte char, unflagged also implies
        # the statement is pure ASCII
        assert q.isascii(), repr(q)
        assert fingerprint_chain_py(q) == fingerprint_py(q), repr(q)
    elif not q.isascii():
        assert flags["non_ascii"], repr(q)


@given(_uni_sql)
@settings(max_examples=_FUZZ_N, deadline=None)
def test_state_machine_total_and_idempotent_on_unicode(q):
    fp = fingerprint_py(q)
    assert isinstance(fp, str)
    assert fingerprint_py(fp) == fingerprint_py(fp)  # deterministic
    # idempotence on its own output (the r9 chain property, now pinned
    # for the multibyte routing target too)
    assert fingerprint_py(fingerprint_py(q)) == fingerprint_py(q), repr(q)


# ---------------------------------------------------------------------------
# Fleet-tail exactness under random rotation schedules (r12): for ANY
# interleaving of appends, copytruncate rotations, rename rotations,
# and polls — constrained to logrotate's real shape, at most one
# rotation per file per poll gap, sibling kept as <path>.1 — the
# multi-file reader must emit EVERY complete record EXACTLY once.
# This is the no-loss-no-dup contract the unit tests pin pointwise,
# promoted to a generated schedule space. Unique record ids keep the
# head stamp honest (distinct first-64-byte content per incarnation,
# as real logs have: timestamps differ).
# ---------------------------------------------------------------------------


def _tail_rec(n: int) -> str:
    return (
        f"# Time: 2024-01-01T00:{(n // 60) % 60:02d}:{n % 60:02d}.000000Z\n"
        "# Query_time: 0.5  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 1\n"
        f"SELECT {n};\n"
    )


_TAIL_TERM = "# Time: 2030-01-01T00:00:00.000000Z\n# Query_time: 0.1\n"


@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),  # which file
            st.sampled_from(["append", "copytruncate", "rename", "poll"]),
            st.integers(1, 3),  # records per append
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=int(_os.environ.get("SPARK_GRAFT_FUZZ_TAIL", "150")), deadline=None)
def test_multi_tail_exactly_once_under_random_rotation(tmp_path_factory, ops):
    import os
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    base = tmp_path_factory.mktemp("fleet_fuzz")
    logs = os.path.join(str(base), "logs")
    os.makedirs(logs)
    paths = [os.path.join(logs, f"h{i}.log") for i in range(2)]
    for p in paths:
        open(p, "w").close()

    r = SlowlogMultiTailStreamReader({"path": os.path.join(logs, "*.log")})
    off = r.initialOffset()
    written: list[int] = []
    emitted: list[str] = []
    nxt = 0
    rotated_since_poll = [False, False]

    def poll():
        nonlocal off
        end = r.latestOffset()
        parts = r.partitions(off, end)
        rows = [t for p_ in parts for t in r.read(p_)]
        emitted.extend(
            q for t in rows for q in t if isinstance(q, str) and q.startswith("SELECT")
        )
        # determinism: re-planning the same (start, end) replays the
        # same rows (the engine's recovery leg)
        replay = [t for p_ in r.partitions(off, end) for t in r.read(p_)]
        assert sorted(map(repr, replay)) == sorted(map(repr, rows))
        off = end
        rotated_since_poll[0] = rotated_since_poll[1] = False

    for which, kind, k in ops:
        p = paths[which]
        if kind == "append":
            with open(p, "a") as f:
                for _ in range(k):
                    f.write(_tail_rec(nxt))
                    written.append(nxt)
                    nxt += 1
        elif kind in ("copytruncate", "rename"):
            if rotated_since_poll[which]:
                poll()  # logrotate never rotates twice within one poll gap here
            e = off.get("files", {}).get(p)
            if not e or not int(e.get("head_n", 0)):
                # documented precondition: salvage needs an incarnation
                # stamp, i.e. the file must have been polled with
                # content at least once before its first rotation (a
                # tailer that starts AFTER a rotation already lost that
                # history to the rotation, not to the reader)
                poll()
                e = off.get("files", {}).get(p)
                if not e or not int(e.get("head_n", 0)):
                    continue  # still empty: rotating an empty file is a no-op anyway
            if kind == "copytruncate":
                shutil.copyfile(p, p + ".1")
                open(p, "w").close()
            else:
                os.replace(p, p + ".1")
                open(p, "w").close()
            rotated_since_poll[which] = True
        else:
            poll()

    # flush: terminate both files' torn tails and drain
    for p in paths:
        with open(p, "a") as f:
            f.write(_TAIL_TERM)
    poll()
    poll()  # a second drain must emit nothing new (no dup on idle)

    want = sorted(f"SELECT {n}" for n in written)
    assert sorted(emitted) == want, (ops, sorted(emitted), want)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["append", "copytruncate", "rename", "poll"]),
            st.integers(1, 3),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=int(_os.environ.get("SPARK_GRAFT_FUZZ_TAIL", "150")), deadline=None)
def test_single_tail_exactly_once_under_random_rotation(tmp_path_factory, ops):
    """The fleet property's schedule space on ONE file: the tail
    reader pointed at a plain file path (which globs to itself), with
    re-planning partitions(start, end) as the replay leg (asserted
    equal to the live read at every poll)."""
    import os
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    base = tmp_path_factory.mktemp("tail_fuzz")
    p = os.path.join(str(base), "slow.log")
    open(p, "w").close()

    r = SlowlogMultiTailStreamReader({"path": p})
    off = r.initialOffset()
    written: list[int] = []
    emitted: list[str] = []
    nxt = 0
    rotated_since_poll = False

    def poll():
        nonlocal off, rotated_since_poll
        end = r.latestOffset()
        rows = [t for p_ in r.partitions(off, end) for t in r.read(p_)]
        emitted.extend(
            q for t in rows for q in t if isinstance(q, str) and q.startswith("SELECT")
        )
        # the recovery leg must replay the exact same rows
        replay = [t for p_ in r.partitions(off, end) for t in r.read(p_)]
        assert replay == rows, (off, end)
        off = end
        rotated_since_poll = False

    def stamped() -> bool:
        return bool(int(off["files"].get(p, {}).get("head_n", 0)))

    for kind, k in ops:
        if kind == "append":
            with open(p, "a") as f:
                for _ in range(k):
                    f.write(_tail_rec(nxt))
                    written.append(nxt)
                    nxt += 1
        elif kind in ("copytruncate", "rename"):
            if rotated_since_poll:
                poll()
            if not stamped():
                poll()
                if not stamped():
                    continue  # nothing observed yet: rotation is a no-op
            if kind == "copytruncate":
                shutil.copyfile(p, p + ".1")
                open(p, "w").close()
            else:
                os.replace(p, p + ".1")
                open(p, "w").close()
            rotated_since_poll = True
        else:
            poll()

    with open(p, "a") as f:
        f.write(_TAIL_TERM)
    poll()
    poll()  # idle drain: nothing new

    want = sorted(f"SELECT {n}" for n in written)
    assert sorted(emitted) == want, (ops, sorted(emitted), want)


# ---------------------------------------------------------------------------
# Fleet-tail NO-LOSS under random schedules that also RESHARD (r15): the
# exactness fuzz above holds the shard spec fixed; this one interleaves
# width changes (1 <-> 2 <-> 3 streams) with appends, both rotation
# kinds, and polls, under the documented stop-then-migrate contract
# (every stream drains before the spec changes; retained-where-possible
# checkpoints after). The invariant is deliberately weaker than
# exactly-once — re-sharding DUPLICATES by design (moved-in files
# re-ingest from byte 0) — but the no-loss half survives ANY schedule:
# the deduped union equals exactly the set of written records.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # which file
            st.sampled_from(
                ["append", "copytruncate", "rename", "poll", "reshard"]
            ),
            st.integers(1, 3),  # records per append / new shard width
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_FUZZ_TAIL", "150")),
    deadline=None,
)
def test_multi_tail_reshard_never_loses_under_random_schedules(
    tmp_path_factory, ops
):
    import os
    import shutil

    from slowlog2clickhouse_spark.sources.slowlog_datasource import (
        SlowlogMultiTailStreamReader,
    )

    base = tmp_path_factory.mktemp("reshard_fuzz")
    logs = os.path.join(str(base), "logs")
    os.makedirs(logs)
    paths = [os.path.join(logs, f"h{i}.log") for i in range(3)]
    for p in paths:
        open(p, "w").close()

    def mk_fleet(n: int) -> list:
        opts = {"path": os.path.join(logs, "*.log")}
        if n == 1:
            return [SlowlogMultiTailStreamReader(dict(opts))]
        return [
            SlowlogMultiTailStreamReader(dict(opts, shard=f"{i}/{n}"))
            for i in range(n)
        ]

    readers = mk_fleet(1)
    offs = [r.initialOffset() for r in readers]
    written: list[int] = []
    emitted: list[str] = []
    nxt = 0
    rotated_since_poll = [False] * len(paths)

    def poll_all():
        for i, r in enumerate(readers):
            end = r.latestOffset()
            rows = [t for p_ in r.partitions(offs[i], end) for t in r.read(p_)]
            emitted.extend(
                q
                for t in rows
                for q in t
                if isinstance(q, str) and q.startswith("SELECT")
            )
            offs[i] = end
        for j in range(len(paths)):
            rotated_since_poll[j] = False

    def owner_off(p: str) -> dict:
        i = next(j for j, r in enumerate(readers) if r._in_shard(p))
        return offs[i].get("files", {}).get(p) or {}

    for which, kind, k in ops:
        p = paths[which]
        if kind == "append":
            with open(p, "a") as f:
                for _ in range(k):
                    f.write(_tail_rec(nxt))
                    written.append(nxt)
                    nxt += 1
        elif kind in ("copytruncate", "rename"):
            if rotated_since_poll[which]:
                poll_all()
            if not int(owner_off(p).get("head_n", 0)):
                poll_all()  # rotation needs an observed incarnation
                if not int(owner_off(p).get("head_n", 0)):
                    continue  # still empty: rotating is a no-op anyway
            if kind == "copytruncate":
                shutil.copyfile(p, p + ".1")
                open(p, "w").close()
            else:
                os.replace(p, p + ".1")
                open(p, "w").close()
            rotated_since_poll[which] = True
        elif kind == "reshard":
            # stop-then-migrate: every stream drains its last batch
            # (commit log complete), THEN the spec changes; stream i
            # keeps its checkpoint when the new width still has an
            # i-th stream, extra streams start fresh from earliest
            poll_all()
            new_readers = mk_fleet(k)
            offs[:] = [
                offs[i] if i < len(readers) else r.initialOffset()
                for i, r in enumerate(new_readers)
            ]
            readers = new_readers
        else:
            poll_all()

    for p in paths:
        with open(p, "a") as f:
            f.write(_TAIL_TERM)
    poll_all()
    poll_all()

    want = sorted(f"SELECT {n}" for n in written)
    got = sorted(set(emitted))
    assert got == want, (ops, got, want)
