"""Cross-engine primitives: each written once, three ways, side by side.

An operator with an oracle computes the same bytes in three places: its Spark
plan, its single-process Python twin and (for SQL-expressible operators) the
DuckDB oracle.  The primitives below are where those copies have drifted
before (``F.trim`` vs ``str.strip``, half-even ``round()``), so each lives
here once as

- a Spark ``Column`` builder,
- a Python twin (suffix ``_py``) and
- a DuckDB SQL fragment (suffix ``_sql``).

Operators import them instead of spelling the expressions out.  The oracle
SQL text must stay byte-identical, so SQL builders call the ``_sql``
fragments only where the text they produce is unchanged;
``tests/test_primitives.py`` checks each primitive on all three engines.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from typing import Optional

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# md5-60: the first 15 hex chars of md5 as a bigint.  60 bits keep the value
# non-negative in a signed long, and DuckDB parses the same hex prefix, which
# makes every md5-hashed plan oracle-checkable end to end.
# ---------------------------------------------------------------------------


def md5_60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_60_py(s: Optional[str]) -> Optional[int]:
    if s is None:
        return None
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def md5_60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# Hash-sampling gate: keep a row iff md5-60(key || seed) < rate * 2^60.
# Content-independent, RNG-free, identical on any partitioning; the filter
# pushes to the scan.
# ---------------------------------------------------------------------------

HASH60_MAX = 1 << 60


def gate_threshold(rate: float) -> int:
    return int(rate * HASH60_MAX)


def hash_gate(key: Column, seed: str, rate: float) -> Column:
    return md5_60(F.concat(key.cast("string"), F.lit(seed))) < F.lit(
        gate_threshold(rate)
    )


def hash_gate_py(key, seed: str, rate: float) -> Optional[bool]:
    if key is None:
        return None  # Spark: concat(NULL, seed) is NULL, so the row drops
    return md5_60_py(f"{key}{seed}") < gate_threshold(rate)


def hash_gate_sql(key: str, seed: str, rate: float) -> str:
    keyed = f"{key} || '{seed}'"
    return f"{md5_60_sql(keyed)} < {gate_threshold(rate)}"


# ---------------------------------------------------------------------------
# HALF_UP rounding.  Spark's round() on a double is BigDecimal HALF_UP on the
# shortest repr, so 1/128 rounds to 0.007813; Python's builtin round() is
# half-to-even on the binary value and gives 0.007812.
# ---------------------------------------------------------------------------

_QUANTUM = {p: decimal.Decimal(1).scaleb(-p) for p in range(16)}


def round_half_up(col: Column, places: int) -> Column:
    return F.round(col, places)


def round_half_up_py(x: Optional[float], places: int) -> Optional[float]:
    if x is None or not math.isfinite(x):
        return x  # None stays NULL; NaN and +-inf round to themselves
    return float(
        decimal.Decimal(repr(x)).quantize(_QUANTUM[places], rounding=decimal.ROUND_HALF_UP)
    )


def round_half_up_sql(expr: str, places: int) -> str:
    return f"round({expr}, {places})"


# ---------------------------------------------------------------------------
# Java's \s class, spelled out.  Java's \s is exactly [ \t\n\x0B\f\r] but
# RE2's \s lacks the vertical tab, so a bare \s in a Spark regex paired with
# \s in DuckDB diverges on text containing \x0B.  F.trim strips ASCII space
# only and str.strip() strips all Unicode whitespace (NBSP included), so the
# trim is spelled out too.
# ---------------------------------------------------------------------------

#: class members in regex syntax, for building larger classes
WS_MEMBERS = r" \t\n\x0B\f\r"
#: the class itself, in regex syntax valid for Java and RE2
WS = f"[{WS_MEMBERS}]"
#: the same characters as a Python string
WS_CHARS = " \t\n\x0b\x0c\r"
# \z, not $: Java's $ also matches before a final line terminator (\u0085,
# \u2028, ...), so "x \u2028" would lose its space in Spark only
_TRIM_RE = rf"^{WS}+|{WS}+\z"


def ws_trim(col: Column) -> Column:
    return F.regexp_replace(col, _TRIM_RE, "")


def ws_trim_py(s: Optional[str]) -> Optional[str]:
    return None if s is None else s.strip(WS_CHARS)


def ws_trim_sql(expr: str) -> str:
    return f"regexp_replace({expr}, '{_TRIM_RE}', '', 'g')"
