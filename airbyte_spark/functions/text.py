"""Text canonicalization as one Catalyst expression.

Re-expresses the reference's name/text normalization rules
(destination_name_transformer.py:290-303 — accent stripping, whitespace
collapse; JdbcSqlOperations/StateDecoratingIterator NUL stripping;
stream_processor.py:534 empty_string_to_null).

Rules, in order:
1. strip NUL (\\x00) and other C0 control chars except \\t \\n \\r
2. Unicode NFKD normalize, drop combining marks (accent strip: é -> e)
3. collapse all whitespace runs (incl. \\t \\n \\r) to a single space
4. trim
5. empty string -> null

``canonicalize_pandas`` states the rules in pandas and is the oracle.
``canonicalize(col)`` is the engine's form: built-in Spark string functions
only, so the data never leaves the JVM. It matches the oracle byte for
byte on every string (tests/test_feedgen_and_text.py checks every code
point and a mixed fuzz).

Why rule 2 fits in ``translate``: NFKD followed by dropping every mark
(canonical combining class != 0) maps each code point on its own —
canonical reordering only moves marks, and all of them are dropped. So
the fold is a per-code-point table, generated once per process from the
same ``unicodedata`` the oracle uses. One-character folds, deletions and
the control chars of rule 1 are one ``translate``. The 12,325 code points
that fold to several characters (11,172 Hangul syllables, ``…`` -> ``...``,
``™`` -> ``TM``, ``ﬁ`` -> ``fi`` …) are expanded first, and only in a row
that has one: Hangul by the Unicode decomposition arithmetic, the rest by
lookup in a generated array. Code points the module leaves alone
(including everything assigned after its Unicode version) are in no table,
so they pass through, as in the oracle. ASCII rows skip the fold: it is
the identity on them.
"""

from __future__ import annotations

import functools
import re
import unicodedata
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .plan_cache import expr_cache

_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
_WS = re.compile(r"\s+")


def _fold(x: str) -> str:
    """Rule 2: NFKD, then drop combining marks."""
    return "".join(
        ch for ch in unicodedata.normalize("NFKD", x) if not unicodedata.combining(ch)
    )


def canonicalize_pandas(s: pd.Series) -> pd.Series:
    """Vectorized canonicalization of a string Series (nulls pass through,
    empty results become null)."""
    mask = s.notna()
    out = s.copy()
    # str accessor keeps everything in C where possible; the NFKD pass has no
    # vectorized pandas form, so it runs via .map on the non-ASCII slice only
    # (NFKD + combining-mark strip is the identity on pure ASCII).
    vals = s[mask].astype(str)
    vals = vals.str.replace(_CTRL, "", regex=True)
    nonascii = vals.str.contains(r"[^\x00-\x7f]", regex=True)
    if nonascii.any():
        vals[nonascii] = vals[nonascii].map(_fold)
    vals = vals.str.replace(_WS, " ", regex=True).str.strip()
    out[mask] = vals
    out[out == ""] = None
    return out


@F.pandas_udf(StringType())
def canonicalize_udf(s: pd.Series) -> pd.Series:
    """``canonicalize_pandas`` as an Arrow-batched pandas UDF. No engine
    path uses it (they use ``canonicalize``); plans/replay.py says why it
    is kept."""
    return canonicalize_pandas(s)


# ------------------------------------------------------------- Catalyst form

#: marks a multi-character fold in the gate that picks the per-character
#: path (an input U+FFFF only sends its row down that path, which keeps it)
_SENTINEL = "\uffff"

# Hangul syllables decompose arithmetically (Unicode §3.12): S = L V [T]
_HANGUL_FIRST, _HANGUL_LAST = 0xAC00, 0xD7A3
_JAMO_L = "".join(chr(0x1100 + i) for i in range(19))
_JAMO_V = "".join(chr(0x1161 + i) for i in range(21))
_JAMO_T = "".join(chr(0x11A8 + i) for i in range(27))  # T index 1..27

# separates the generated fold strings inside one string literal; no fold
# contains it (checked when the tables are built)
_SEP = "\x01"


def _hangul_fold(cp: int) -> str:
    s = cp - _HANGUL_FIRST
    t = s % 28
    return _JAMO_L[s // 588] + _JAMO_V[s % 588 // 28] + (_JAMO_T[t - 1] if t else "")


class _Tables(NamedTuple):
    frm: str  # translate FROM: one-char folds, then deletions and controls
    to: str  # translate TO: the one-char folds
    multi_src: str  # code points with multi-char folds, Hangul excepted
    multi_dst: str  # their folds, joined by _SEP


@functools.lru_cache(maxsize=None)
def _tables() -> _Tables:
    """The fold tables, from the oracle's own ``_fold`` over every code
    point (about half a second, once per process). Hangul syllables are
    checked against the arithmetic instead of listed.

    Every whitespace character (``str.isspace``, the oracle's ``\\s``) a
    fold leaves or produces becomes a space: rule 3 collapses whole runs,
    so which whitespace a run held does not show in the result, and the
    collapse after the table then needs only a one-character regex."""
    ctrl = [chr(c) for c in range(0x80) if _CTRL.match(chr(c))]
    one_src, one_dst, multi_src, multi_dst, dropped = [], [], [], [], []
    for cp in range(0x110000):
        c = chr(cp)
        if (
            unicodedata.is_normalized("NFKD", c)
            and not unicodedata.combining(c)
            and not c.isspace()
        ) or 0xD800 <= cp <= 0xDFFF or c == " " or _CTRL.match(c):
            continue
        f = "".join(" " if ch.isspace() else ch for ch in _fold(c))
        if f == c:
            continue
        if f == "":
            dropped.append(c)
        elif len(f) == 1:
            one_src.append(c)
            one_dst.append(f)
        elif _HANGUL_FIRST <= cp <= _HANGUL_LAST:
            if f != _hangul_fold(cp):
                raise AssertionError(f"Hangul fold of U+{cp:04X} is not arithmetic")
        else:
            multi_src.append(c)
            multi_dst.append(f)
    # The translate runs after the multi-character expansion, so every
    # fold's output must be one that neither changes; and _SEP/_SENTINEL
    # must occur in no fold.
    hangul = [chr(cp) for cp in range(_HANGUL_FIRST, _HANGUL_LAST + 1)]
    mapped = set(one_src + dropped + ctrl + multi_src + hangul) | {_SENTINEL}
    outputs = set("".join(one_dst + multi_dst) + _JAMO_L + _JAMO_V + _JAMO_T)
    if outputs & (mapped | {_SEP}):
        raise AssertionError("fold table is not closed under its own outputs")
    return _Tables(
        "".join(one_src + dropped + ctrl), "".join(one_dst),
        "".join(multi_src), _SEP.join(multi_dst),
    )


def _expand(c: Column) -> Column:
    """A one-character string -> its fold if the fold has several
    characters, else the character itself."""
    tb = _tables()
    s = F.ascii(c) - _HANGUL_FIRST  # ascii() is the first code point
    t = s % 28
    hangul = F.concat(
        F.substr(F.lit(_JAMO_L), (s / 588).cast("int") + 1, F.lit(1)),
        F.substr(F.lit(_JAMO_V), (s % 588 / 28).cast("int") + 1, F.lit(1)),
        F.substr(F.lit(_JAMO_T), t, F.least(t, F.lit(1))),
    )
    other = F.get(F.split(F.lit(tb.multi_dst), _SEP), F.instr(F.lit(tb.multi_src), c) - 1)
    return (
        F.when(c < tb.multi_src[0], c)  # below the first one: no lookup
        .when(c.between(chr(_HANGUL_FIRST), chr(_HANGUL_LAST)), hangul)
        .otherwise(F.coalesce(other, c))
    )


@expr_cache
def canonicalize(name: str) -> Column:
    """The canonicalizer as one Catalyst expression over the string column
    ``name``; equal to ``canonicalize_pandas`` on every string.

    The expression takes a few hundred py4j calls to build, so it is built
    once per column name (and JVM gateway), and every plan reuses it."""
    c = F.col(name)
    tb = _tables()
    # ASCII: the fold is the identity and the control chars are gone before
    # the whitespace collapse, so the only whitespace left is \t \n \r and
    # the space. A row with no C0 char and no double space is already
    # canonical up to the trim; one regex scan finds the few that are not.
    plain = F.when(
        c.rlike(r"[\x00-\x1f\x7f]|  "),
        F.regexp_replace(F.regexp_replace(c, _CTRL.pattern, ""), r"[\t\n\r ]+", " "),
    ).otherwise(c)
    # The rest: expand the multi-character folds, then one translate for
    # controls, whitespace, one-char folds and deletions (the expansions
    # are fixed points of its table). The gate, a small translate and a
    # two-range regex, keeps the per-character path off every row without
    # such a fold. The big table appears once in the plan, which is
    # printed and rewritten whole on every query.
    marked = F.translate(c, tb.multi_src, _SENTINEL * len(tb.multi_src))
    gate = marked.rlike(f"[{chr(_HANGUL_FIRST)}-{chr(_HANGUL_LAST)}{_SENTINEL}]")
    expanded = F.when(
        gate, F.array_join(F.transform(F.split(c, ""), _expand), "")
    ).otherwise(c)
    folded = F.regexp_replace(F.translate(expanded, tb.frm, tb.to), " +", " ")
    text = F.when(F.octet_length(c) == F.char_length(c), plain).otherwise(folded)
    return F.nullif(F.trim(text), F.lit(""))
