"""Query fingerprinting & digest — the reference's core normalization.

Reference semantics ([go-mysql] query/query.go:Fingerprint:~40-400,
Id:~20-30 [R:H], reconstructed — see SURVEY.md §0): lowercase the
statement, strip comments, replace quoted strings and numeric literals
with ``?``, collapse ``IN (...)`` value lists to ``in(?+)`` and
multi-row ``VALUES`` to ``values(?+)``, collapse whitespace; the class
id ("digest") is ``upper(substr(md5(fingerprint), 17, 16))``.

Three implementations, and where each is used:

* :func:`fingerprint_py` — a character state machine with the full
  semantics (escape handling, ``#``/``--``/block comments, hex/float
  literals). THE product path: ``sources.slowlog.parse_record`` calls
  it (with :func:`digest_py`) on every parsed event, so batch ingest,
  ``digest``, ``stream`` and ``tail`` all carry the same exact digest.
  Also the source of truth in golden tests and the pandas UDF in
  operators/udfs.py.
* :func:`fingerprint_col` — a chain of built-in ``regexp_replace``
  Columns, JVM-side and codegen'd. Covers the common grammar;
  documented edge cases (escaped quotes, nested comments) differ from
  the state machine. Used by the ``fn_fingerprint*`` registry ops
  (checked against its DuckDB mirror, measured against the state
  machine), by ``routed_fingerprint`` for
  unflagged rows, and by ``sources.slowlog.with_fingerprint`` (modes
  ``chain`` and ``routed``), which only ``slowlog_classes_routed``,
  the golden generator (the golden IR's chain columns) and
  perfbench's traced chain/routed timings call.
* :func:`fingerprint_duckdb` — the same chain rendered as DuckDB SQL,
  the correctness oracle for the Spark chain.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) — applied in order, then lower(), then
# POST_LOWER_STEPS, then trim. Patterns stick to the regex subset that
# behaves identically in Java (Spark) and RE2 (DuckDB): no backrefs,
# no lookaround.
PRE_LOWER_STEPS: list[tuple[str, str]] = [
    # Strings are masked BEFORE comments so '--' or '#' inside a string
    # survives. KNOWN DIVERGENCE from fingerprint_py: an apostrophe
    # inside a comment (-- don't) opens a phantom string that swallows
    # text up to the next apostrophe; the state machine handles it.
    (r"'[^']*'", "?"),  # single-quoted strings
    (r'"[^"]*"', "?"),  # double-quoted strings
    (r"/\*[^!].*?\*/", " "),  # block comments (not /*! version hints */)
    (r"--[^\n]*", " "),  # line comments
    (r"#[^\n]*", " "),  # MySQL '#' line comments (Java+RE2 portable)
    (r"\b0[xX][0-9a-fA-F]+\b", "?"),  # hex literals (0X masked too: the
    # fingerprint lowercases, so preserving 0X would break idempotence)
    (r"\b0b[01]+\b", "?"),  # binary literals
    (r"\b\d+(?:\.\d+)?[eE][+-]?\d+\b", "?"),  # scientific notation first
    (r"\b\d+\.\d+\b", "?"),  # floats before ints
    (r"\b\d+\b", "?"),  # integer literals
]
POST_LOWER_STEPS: list[tuple[str, str]] = [
    (r"\bin\s*\(\s*\?\s*(?:,\s*\?\s*)*\)", "in(?+)"),
    (
        r"\bvalues\s*\(\s*\?\s*(?:,\s*\?\s*)*\)(?:\s*,\s*\(\s*\?\s*(?:,\s*\?\s*)*\))*",
        "values(?+)",
    ),
    (r"\s+", " "),
]


def fingerprint_col(col: Column | str) -> Column:
    """Spark-native fingerprint: regexp_replace chain, codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in PRE_LOWER_STEPS:
        c = F.regexp_replace(c, pat, rep)
    c = F.lower(c)
    for pat, rep in POST_LOWER_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def fingerprint_duckdb(expr: str) -> str:
    """Render the identical chain as DuckDB SQL (global-flag replaces)."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    c = expr
    for pat, rep in PRE_LOWER_STEPS:
        c = f"regexp_replace({c}, '{q(pat)}', '{q(rep)}', 'g')"
    c = f"lower({c})"
    for pat, rep in POST_LOWER_STEPS:
        c = f"regexp_replace({c}, '{q(pat)}', '{q(rep)}', 'g')"
    return f"trim({c})"


# ---------------------------------------------------------------------------
# Chain-vs-UDF routing detectors (VERDICT r9 #3)
# ---------------------------------------------------------------------------
# One flag per chain-unsupported grammar regime measured by
# fn_fingerprint_parity. Detectors are deliberately CONSERVATIVE
# (over-route, never under-route): tests/test_fingerprint.py pins the
# safety property that on the committed adversarial corpus every
# statement where the chain diverges from fingerprint_py raises at
# least one flag — so "no flags" certifies the codegen'd chain path.
# Expressions stick to string ops + the Java/RE2-portable regex subset
# so the Spark and DuckDB renderings count identically.
# newline between a block-comment opener and any later closer; dot-all
# (?s) so star-containing bodies (/**\n*/ — r10 fuzz find #5) still
# flag. Over-approximates (a closed comment before the newline plus a
# later */ also flags) — conservative by design.
_ML_COMMENT_RE = r"(?s)/\*.*?\n.*?\*/"
# either QUOTE CHAR after a comment opener (the phantom-string regime
# works identically for " — r10 fuzz find #3); block-comment arm is
# dot-all for the same star-body reason
_COMMENT_APOS_RE = "(?s)((--|#)[^\n]*['\"]|/\\*.*?['\"])"
# a quote of one type inside a string literal of the other type: the
# chain masks '...' before "...", so cross-nesting reorders the masking
# vs the state machine's left-to-right scan (r10 fuzz find #2)
_MIXED_QUOTE_RE = "'[^']*\"[^']*'|\"[^\"]*'[^\"]*\""
# a STANDALONE numeric token with a trailing dot (0., 1.e5, 1.2.3):
# the chain's \b\d+\b masks the digits but the state machine's
# tokenizer sees one non-numeric token and keeps it (r10 fuzz find
# #4). The [^A-Za-z0-9_] guard keeps t1.col2 / a1. unflagged — digit
# runs inside identifiers agree on both paths.
_NUM_DOT_RE = (  # dot MAY precede the run (.0. — 100k-fuzz find)
    # \b before a digit ⇔ preceding char is non-word or start — the
    # exact (^|[^A-Za-z0-9_]) guard on ASCII input, but ~10× faster in
    # Java's engine (r11 router-crossover probe: 2.8s → 0.28s / 200k
    # rows). CAVEAT (r11 code review): Java's \b is UNICODE-aware
    # (measured live — see the non_ascii comment below) while RE2's
    # and the re.ASCII Python mirror's are ASCII, so on a non-ASCII
    # statement like "é5." the engines' per-construct counts can
    # differ. Routing stays sound because non_ascii always fires
    # there, the corpus keeps Spark == mirror flags pinned per row
    # (tests/test_fingerprint.py), and fn_fingerprint_parity scopes
    # its cross-engine claim to ASCII rows.
    r"\b[0-9]+\.([^0-9]|$)"
    r"|\b[0-9]+\.[0-9]+\."
)
# a standalone token of digits immediately followed by underscore
# (0_, 12_5): MySQL allows digit-leading identifiers; the chain's
# \b\d+\b keeps them whole (underscore is a word char, no boundary)
# while the state machine masks the digit run (r10 fuzz find #6).
# Identifier-internal runs (tbl_2020_01) stay unflagged — they agree.
_NUM_UNDERSCORE_RE = r"\b[0-9]+_"  # same \b-for-guard rewrite as _NUM_DOT_RE
# a /* with no subsequent */ (ordering, not just count: "*/ /*" has
# balanced counts but the open comes LAST — 100k-fuzz find). Star-
# tolerant body, no lookahead (RE2-portable): (\*[^/]|[^*])* to $.
_UNCLOSED_BLOCK_RE = r"(?s)/\*(\*[^/]|[^*])*$"


def construct_flags(col: Column | str) -> dict[str, Column]:
    """Boolean flag per chain-unsupported construct (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col

    def _odd(ch: str) -> Column:
        return (F.length(c) - F.length(F.replace(c, F.lit(ch), F.lit("")))) % 2 == 1

    def _occ(sub: str) -> Column:
        return (F.length(c) - F.length(F.replace(c, F.lit(sub), F.lit("")))) / len(sub)

    return {
        "string_doubled_quote": c.contains("''") | c.contains('""'),
        "string_escaped_backslash": c.contains("\\"),
        "comment_block_multiline": c.rlike(_ML_COMMENT_RE),
        "comment_apostrophe": c.rlike(_COMMENT_APOS_RE),
        "unterminated_string": _odd("'") | _odd('"'),
        # empty body (/**/ defeats the chain's [^!] version-hint guard)
        # or unbalanced open/close — found by the r10 hypothesis fuzz,
        # not the hand-built corpus
        "comment_block_degenerate": c.contains("/**/")
        | (_occ("/*") != _occ("*/"))
        | c.rlike(_UNCLOSED_BLOCK_RE),
        "string_mixed_quotes": c.rlike(_MIXED_QUOTE_RE),
        # ANY non-ASCII byte (r11): the reference scans ASCII bytes,
        # but Java's \b is unicode-aware while RE2's is ASCII — the
        # chain is only cross-engine-portable (and reference-faithful)
        # on ASCII statements, so every non-ASCII statement routes to
        # the state machine. octet_length != char_length is exactly
        # "contains a multi-byte char" and costs two codegen'd ints.
        "non_ascii": F.octet_length(c) != F.length(c),
        "number_trailing_dot": c.rlike(_NUM_DOT_RE),
        "number_leading_ident": c.rlike(_NUM_UNDERSCORE_RE),
    }


def any_construct_flag(col: Column | str) -> Column:
    """OR-fold of :func:`construct_flags`. NULL queries yield NULL
    flags; callers must ``coalesce(..., lit(False))`` so NULLs route to
    the chain branch (where ``fingerprint_col(NULL)`` is NULL, matching
    the UDF's None guard)."""
    acc: Column | None = None
    for c in construct_flags(col).values():
        acc = c if acc is None else (acc | c)
    assert acc is not None
    return acc


def routed_fingerprint(
    df, query_col: str = "query", out_col: str = "fingerprint", fp_fn=None
):
    """Routed fingerprinting as a MASKED single-pass projection
    (r14 VERDICT #3; supersedes the r10 split+union form).

    The naive form — ``F.when(any_flag, udf(col)).otherwise(chain)`` —
    is WRONG for cost: Spark extracts Python UDFs out of conditional
    VALUE positions into a separate ArrowEvalPython node below the
    Project, so the state-machine UDF runs on EVERY row and the branch
    only selects which already-computed value to keep (verified on
    PySpark 4.1.2: the UDF received 100/100 rows with 10 flagged).

    The r10 fix was a DataFrame split + union (Filter under each
    branch), which confines the Arrow payload to the flagged slice but
    pays a SECOND full upstream execution — source scan + parse — for
    the flagged branch even when it is empty. Measured on the fleet
    tail that tax was 25% of drain throughput on an all-clean corpus
    (37.1k → 27.7k ev/s, SCALING.md r13).

    This form gets both properties in ONE pass by masking the UDF's
    INPUT instead of splitting the relation:

        coalesce(sm_udf(when(flag, query)), chain(query))

    * the ``when`` mask is the UDF's input EXPRESSION, evaluated
      JVM-side inside ArrowEvalPython's input projection — extraction
      cannot hoist the UDF above it, so clean rows cross the Arrow
      boundary as NULLs (validity bitmap only, no string payload) and
      the per-row ``fn`` runs ONLY on flagged rows
      (tests/test_fingerprint.py pins this with an accumulator probe);
    * ``coalesce`` is lazily evaluated per row, so the codegen'd chain
      runs only where the state-machine output is NULL — exactly the
      clean rows (``fingerprint_py`` returns a non-null str for every
      non-null input, so a flagged row never falls through);
    * NULL queries: NULL flags → mask NULL → UDF None-guard → NULL,
      then chain(NULL) = NULL — identical to both prior forms;
    * the 9 detector regexes are evaluated ONCE per row (they appear
      only inside the mask), vs twice (once per branch filter) in the
      split form — and the source is scanned ONCE.

    Cost, MEASURED (r14 crossover, SCALING.md): in streaming/tail
    topology — where the split form's second scan+parse was a 25%
    drain tax — masked routing runs at chain speed on clean corpora.
    In pure-batch topology the residual overhead is the nine detector
    regexes themselves (~0.4 s / 200k short rows of JVM regex time),
    which on a single box costs about as much as running the Python
    state machine on every row, so the product paths do not route:
    the parser runs the state machine in its own pass
    (sources.slowlog.parse_record). This function remains for the
    fn_fingerprint_routed contract and the ops built on it.

    ``fp_fn`` is test-instrumentation only: an alternate per-row
    fingerprint callable (e.g. one that bumps an accumulator) so the
    "UDF sees ONLY flagged rows" contract is directly observable.
    """
    fn = fp_fn if fp_fn is not None else fingerprint_py

    # no type hints: `from __future__ import annotations` stringifies
    # them module-wide and pandas_udf's hint inference then rejects the
    # signature; the explicit returnType is sufficient
    @F.pandas_udf("string")
    def _fp_vec(s):
        import pandas as pd

        # vectorized None-skip: on a mostly-clean batch the masked
        # input is almost all NULLs, and a plain s.map(lambda ...)
        # would still pay one Python-level call per row (measured:
        # ~0.4 s per 200k clean rows — most of the old split form's
        # tax reappearing in a new place). notna() is a C-level scan;
        # fn runs exactly on the flagged slice.
        mask = s.notna()
        out = pd.Series([None] * len(s), index=s.index, dtype=object)
        if mask.any():
            out[mask] = s[mask].map(fn)
        return out

    flag = F.coalesce(any_construct_flag(F.col(query_col)), F.lit(False))
    masked = F.when(flag, F.col(query_col))  # NULL for clean rows
    return df.withColumn(
        out_col,
        F.coalesce(_fp_vec(masked), fingerprint_col(F.col(query_col))),
    )


_ML_COMMENT_PY = re.compile(_ML_COMMENT_RE)
_COMMENT_APOS_PY = re.compile(_COMMENT_APOS_RE)
_MIXED_QUOTE_PY = re.compile(_MIXED_QUOTE_RE)
# re.ASCII: Java \b and RE2 \b are ASCII word boundaries; Python's
# default is unicode-aware — pin the mirror to the same alphabet
_NUM_DOT_PY = re.compile(_NUM_DOT_RE, re.ASCII)
_NUM_UNDERSCORE_PY = re.compile(_NUM_UNDERSCORE_RE, re.ASCII)
_UNCLOSED_BLOCK_PY = re.compile(_UNCLOSED_BLOCK_RE)


def construct_flags_py(query: str) -> dict[str, bool]:
    """Python mirror of construct_flags (same discipline as
    fingerprint_chain_py): lets hypothesis fuzz the router's safety
    property — unflagged ⇒ chain == state machine — over thousands of
    generated statements without a SparkSession. Pinned equal to the
    Spark columns on the committed corpus in tests/test_fingerprint.py."""
    return {
        "string_doubled_quote": "''" in query or '""' in query,
        "string_escaped_backslash": "\\" in query,
        "comment_block_multiline": _ML_COMMENT_PY.search(query) is not None,
        "comment_apostrophe": _COMMENT_APOS_PY.search(query) is not None,
        "unterminated_string": (
            query.count("'") % 2 == 1 or query.count('"') % 2 == 1
        ),
        "comment_block_degenerate": (
            "/**/" in query
            or query.count("/*") != query.count("*/")
            or _UNCLOSED_BLOCK_PY.search(query) is not None
        ),
        "string_mixed_quotes": _MIXED_QUOTE_PY.search(query) is not None,
        "non_ascii": not query.isascii(),
        "number_trailing_dot": _NUM_DOT_PY.search(query) is not None,
        "number_leading_ident": _NUM_UNDERSCORE_PY.search(query) is not None,
    }


def construct_flags_duckdb(expr: str) -> dict[str, str]:
    """The identical detectors rendered as DuckDB SQL (oracle side).
    chr() builds the quote/backslash literals so no SQL-escaping layer
    can skew the patterns between engines."""

    def _odd(code: int) -> str:
        return (
            f"((length({expr}) - length(replace({expr}, chr({code}), ''))) % 2 = 1)"
        )

    def q(s: str) -> str:
        return s.replace("'", "''")

    return {
        "string_doubled_quote": (
            f"strpos({expr}, chr(39)||chr(39)) > 0"
            f" OR strpos({expr}, chr(34)||chr(34)) > 0"
        ),
        "string_escaped_backslash": f"strpos({expr}, chr(92)) > 0",
        "comment_block_multiline": (
            f"regexp_matches({expr}, '{q(_ML_COMMENT_RE)}')"
        ),
        "comment_apostrophe": (
            f"regexp_matches({expr}, '{q(_COMMENT_APOS_RE)}')"
        ),
        "unterminated_string": f"({_odd(39)} OR {_odd(34)})",
        "comment_block_degenerate": (
            f"(strpos({expr}, '/**/') > 0 OR"
            f" (length({expr}) - length(replace({expr}, '/*', ''))) !="
            f" (length({expr}) - length(replace({expr}, '*/', ''))) OR"
            f" regexp_matches({expr}, '{q(_UNCLOSED_BLOCK_RE)}'))"
        ),
        "string_mixed_quotes": (
            f"regexp_matches({expr}, '{q(_MIXED_QUOTE_RE)}')"
        ),
        "non_ascii": f"strlen({expr}) != length({expr})",  # strlen = BYTE length in DuckDB
        "number_trailing_dot": (
            f"regexp_matches({expr}, '{q(_NUM_DOT_RE)}')"
        ),
        "number_leading_ident": (
            f"regexp_matches({expr}, '{q(_NUM_UNDERSCORE_RE)}')"
        ),
    }


def digest_col(fp: Column | str) -> Column:
    """Class id: upper(substr(md5(fingerprint), 17, 16)) — byte-for-byte
    the reference's Id() ([go-mysql] query/query.go:~25 [R:H]); md5 is
    cross-engine stable so this is oracle-checkable."""
    c = F.col(fp) if isinstance(fp, str) else fp
    return F.upper(F.substring(F.md5(c), 17, 16))


def digest_duckdb(expr: str) -> str:
    return f"upper(substring(md5({expr}), 17, 16))"


# ---------------------------------------------------------------------------
# Full-fidelity Python implementation (UDF path / golden source of truth)
# ---------------------------------------------------------------------------

# re.ASCII everywhere: the reference ([go-mysql] query.go) scans BYTES
# with ASCII isDigit/isLetter checks, and Spark's Java regex \b\d\s\w
# default to ASCII classes — Python's unicode-aware defaults would make
# this source of truth diverge from both on non-ASCII statements
# (r11 find: 'é5' — unicode-alnum prev guard kept the 5 unmasked while
# the Java chain masked it, an UNFLAGGED routing divergence)
_HEX_RE = re.compile(r"^0[xX][0-9a-fA-F]+$", re.ASCII)
_BIN_RE = re.compile(r"^0b[01]+$", re.ASCII)
_NUM_RE = re.compile(r"^\d+(\.\d+)?([eE][+-]?\d+)?$", re.ASCII)
_IN_RE = re.compile(r"\bin\s*\(\s*\?\s*(,\s*\?\s*)*\)", re.ASCII)
_VALUES_RE = re.compile(
    r"\bvalues\s*\(\s*\?\s*(,\s*\?\s*)*\)(\s*,\s*\(\s*\?\s*(,\s*\?\s*)*\))*",
    re.ASCII,
)

_ASCII_DIGITS = "0123456789"
# a run of ASCII characters none of whose branches below can fire:
# no quote, comment opener ('#', '-', '/') or digit. Such a run maps to
# its .lower() in one step; everything else (including all non-ASCII,
# whose lower-casing depends on context — 'Σ' at a word end is 'ς')
# takes the per-character path.
_PLAIN_RUN = re.compile(r"[^'\"#/0-9\-\x80-\U0010ffff]+")
_WS_RE = re.compile(r"\s+", re.ASCII)
# a token starting at a digit: ASCII letters, digits and dots
_NUM_TOKEN = re.compile(r"[0-9A-Za-z.]+")


def _ascii_alnum(ch: str) -> bool:
    """ASCII letter/digit — the reference's byte-wise isLetter/isDigit;
    a multi-byte char is an opaque non-word byte there, exactly like
    Java's default \\w class treats it."""
    return ch.isascii() and ch.isalnum()


def fingerprint_py(query: str) -> str:
    """Character state machine with full escape/comment semantics.

    Handles what the regex chain can't: backslash-escaped and doubled
    quotes inside strings, ``#`` line comments, multi-line block
    comments, and numbers adjacent to operators.

    NULL-safe like the SQL chain: a header-only record carries no
    statement (query IS NULL) and fingerprints to NULL.

    MULTIBYTE CONTRACT (normative; r12 VERDICT #7). The machine scans
    CHARACTERS (Python ``str``), not bytes: a multibyte letter is one
    code point that is neither an ASCII digit nor ASCII letter, so it
    passes through unmasked and unsplit, and ASCII digits adjacent to
    it obey the same ``_ascii_alnum`` boundary rules as ``é5``
    (``表3`` masks the 3 → ``表?``; identifiers like ``社員`` survive
    verbatim). The upstream go-mysql fingerprinter iterates BYTES with
    ASCII ``isDigit``/``isLetter`` predicates — on pure-ASCII input the
    two are provably identical (the 50k-example full-UTF-8 fuzz pins
    non-ASCII as a total catch-all detector), but on multibyte input a
    byte scanner can only differ by splitting a multibyte sequence,
    which no published fixture exercises and which cannot be verified
    here (the reference checkout is empty). Char-oriented processing
    is therefore this repo's DECLARED contract: the ``multibyte_sql``
    slice of tests/fixtures/golden/fingerprint_corpus.parquet commits
    golden digests for CJK identifiers/literals, emoji and Cyrillic/
    Hangul strings, and CJK comments, so any future change to this
    policy is a visible, reviewed diff (SURVEY.md §2 K).
    """
    if query is None:
        return None
    out: list[str] = []
    i, n = 0, len(query)
    plain = _PLAIN_RUN.match
    while i < n:
        m = plain(query, i)
        if m is not None:
            out.append(m.group().lower())
            i = m.end()
            if i == n:
                break
        ch = query[i]
        if ch in ("'", '"'):
            quote = ch
            i += 1
            while i < n:
                if query[i] == "\\" and i + 1 < n:
                    i += 2
                    continue
                if query[i] == quote:
                    # doubled quote = escaped quote inside the string
                    if i + 1 < n and query[i + 1] == quote:
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            out.append("?")
            continue
        if ch == "#" or (ch == "-" and query[i : i + 2] == "--"):
            while i < n and query[i] != "\n":
                i += 1
            out.append(" ")
            continue
        if ch == "/" and query[i : i + 2] == "/*" and query[i : i + 3] != "/*!":
            end = query.find("*/", i + 2)
            i = n if end < 0 else end + 2
            out.append(" ")
            continue
        if ch in _ASCII_DIGITS:
            j = _NUM_TOKEN.match(query, i).end()
            # signed exponent: '1E-5' — the sign isn't alnum, so extend
            # the token when an e/E is followed by [+-]digits
            if (
                j < n
                and query[j] in "+-"
                and query[j - 1] in "eE"
                and j + 1 < n
                and query[j + 1] in _ASCII_DIGITS
            ):
                j += 1
                while j < n and query[j] in _ASCII_DIGITS:
                    j += 1
            tok = query[i:j]
            # the last character emitted (a plain run appends many)
            prev = out[-1][-1] if out else ""
            # not part of an identifier like t1 / col2
            if (not prev or not (_ascii_alnum(prev) or prev == "_")) and (
                _NUM_RE.match(tok) or _HEX_RE.match(tok) or _BIN_RE.match(tok)
            ):
                out.append("?")
                i = j
                continue
            out.append(ch)
            i += 1
            continue
        out.append(ch.lower())
        i += 1

    s = "".join(out)
    s = _IN_RE.sub("in(?+)", s)
    s = _VALUES_RE.sub("values(?+)", s)
    # strip(" ") not strip(): Java trim / DuckDB trim remove only
    # 0x20; Python strip() would also eat a trailing NBSP (r11)
    s = _WS_RE.sub(" ", s).strip(" ")
    return s


def digest_py(fingerprint: str) -> str:
    if fingerprint is None:
        return None
    return hashlib.md5(fingerprint.encode("utf-8")).hexdigest()[16:32].upper()


def fingerprint_chain_py(query: str) -> str:
    """The regexp chain rendered in Python ``re`` — the FUZZ MIRROR of
    :func:`fingerprint_col` (tests/test_properties.py drives thousands
    of hypothesis examples through it against :func:`fingerprint_py`
    without a JVM round-trip per example). Valid because the chain
    sticks to the regex subset whose semantics agree across Java, RE2
    AND Python ``re`` (no backrefs/lookaround; `.` stops at newline in
    all three) — the Java↔RE2 half of that claim is hash-checked per
    row by fn_fingerprint_parity's DuckDB oracle, and
    test_chain_mirror_matches_spark pins the Python third against the
    live Spark chain on the committed adversarial corpus. re.ASCII:
    Java's default \\b \\d \\s \\w are ASCII classes (so is RE2);
    Python's unicode-aware defaults would diverge on statements like
    'é5' or NBSP whitespace (r11)."""
    if query is None:
        return None
    c = query
    for pat, rep in PRE_LOWER_STEPS:
        c = re.sub(pat, rep, c, flags=re.ASCII)
    c = c.lower()
    for pat, rep in POST_LOWER_STEPS:
        c = re.sub(pat, rep, c, flags=re.ASCII)
    return c.strip(" ")
