"""Three-engine parity of each cross-engine primitive (operators/primitives.py).

Every primitive runs on the same inputs as a Spark Column expression, as its
Python twin and as its DuckDB SQL fragment, and the three results must be
equal value for value.  The inputs carry the edges where the copies drifted
apart before: empty and non-ASCII strings, NBSP- and \\x0B-edged text, exact
binary rounding ties, NaN and None.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_core_spark.operators import primitives as P

STRINGS = [
    "",
    "abc",
    "héllo wörld",
    "日本語のテキスト",
    "\u00a0nbsp edge\u00a0",
    "\x0bvertical edge\x0b",
    " \t\r\n mixed edges \x0c",
    "\t",
    "inner\x0bspace kept",
    "tail before line separator \u2028",
    "tail before next line \u0085",
    None,
]

FLOATS = [
    1 / 128,
    -1 / 128,
    3 / 128,
    0.1234565,  # x.xxxxxx5 at 6 places
    1.2345675,
    0.3333335,
    1.0000005,
    123.4567895,
    0.5,
    2.5,
    1e-7,
    0.0,
    -0.0,
    math.nan,
    math.inf,
    None,
]


def _same(x):
    """Comparable form: NaN equals NaN here, as both engines treat it."""
    return "nan" if isinstance(x, float) and math.isnan(x) else x


def _spark(spark, values, sql_type, build):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"i int, x {sql_type}"
    )
    rows = df.select("i", build(F.col("x")).alias("y")).collect()
    return [_same(r["y"]) for r in sorted(rows, key=lambda r: r["i"])]


def _duck(values, sql_type, fragment):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {sql_type})")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    rows = con.execute(f"SELECT {fragment('x')} FROM t ORDER BY i").fetchall()
    return [_same(r[0]) for r in rows]


def _py(values, twin):
    return [_same(twin(v)) for v in values]


def _assert_three_way(values, spark_vals, py_vals, duck_vals):
    for v, s, p, d in zip(values, spark_vals, py_vals, duck_vals, strict=True):
        assert s == p == d, f"{v!r}: spark={s!r} python={p!r} duckdb={d!r}"


def test_md5_60_parity(spark):
    s = _spark(spark, STRINGS, "string", P.md5_60)
    p = _py(STRINGS, P.md5_60_py)
    d = _duck(STRINGS, "VARCHAR", P.md5_60_sql)
    _assert_three_way(STRINGS, s, p, d)
    assert all(0 <= h < P.HASH60_MAX for h in p if h is not None)


@pytest.mark.parametrize("rate", [0.0, 0.1, 0.5, 1.0])
def test_hash_gate_parity(spark, rate):
    keys = list(range(-5, 300)) + [10**15, None]
    s = _spark(spark, keys, "bigint", lambda c: P.hash_gate(c, "s42", rate))
    p = _py(keys, lambda k: P.hash_gate_py(k, "s42", rate))
    d = _duck(keys, "BIGINT", lambda c: P.hash_gate_sql(c, "s42", rate))
    _assert_three_way(keys, s, p, d)
    kept = sum(1 for x in p if x)
    if 0.0 < rate < 1.0:
        assert 0 < kept < len(keys) - 1  # the gate really splits the keys


def test_hash_gate_sql_matches_oracle_text():
    """The fragment spells the gate exactly as the frozen oracle SQL does."""
    assert P.hash_gate_sql("doc_id", "s42", 0.1) == (
        "('0x' || substr(md5(doc_id || 's42'), 1, 15))::BIGINT < 115292150460684704"
    )


@pytest.mark.parametrize("places", [0, 4, 5, 6])
def test_round_half_up_parity(spark, places):
    s = _spark(spark, FLOATS, "double", lambda c: P.round_half_up(c, places))
    p = _py(FLOATS, lambda x: P.round_half_up_py(x, places))
    d = _duck(FLOATS, "DOUBLE", lambda c: P.round_half_up_sql(c, places))
    _assert_three_way(FLOATS, s, p, d)


def test_round_half_up_is_not_half_even():
    assert P.round_half_up_py(1 / 128, 6) == 0.007813
    assert round(1 / 128, 6) == 0.007812  # the builtin the twin replaces


def test_ws_trim_parity(spark):
    s = _spark(spark, STRINGS, "string", P.ws_trim)
    p = _py(STRINGS, P.ws_trim_py)
    d = _duck(STRINGS, "VARCHAR", P.ws_trim_sql)
    _assert_three_way(STRINGS, s, p, d)
    assert P.ws_trim_py("\u00a0x\u00a0") == "\u00a0x\u00a0"  # NBSP is not \s
    assert P.ws_trim_py("\x0bx\x0b") == "x"


def test_ws_class_parity(spark):
    """WS used as a split/strip class: Java regex, RE2 and the char set agree."""
    s = _spark(spark, STRINGS, "string", lambda c: F.regexp_replace(c, P.WS, ""))
    p = _py(
        STRINGS,
        lambda v: None if v is None else "".join(ch for ch in v if ch not in P.WS_CHARS),
    )
    d = _duck(STRINGS, "VARCHAR", lambda c: f"regexp_replace({c}, '{P.WS}', '', 'g')")
    _assert_three_way(STRINGS, s, p, d)
