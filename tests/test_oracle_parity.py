"""Replicates the driver's DuckDB-oracle comparison for every oracle query.

For each (queries()[name], oracle_sql()[name]) pair at sf0.01: row count,
column names, and order-insensitive value multiset must match (floats rounded
to absorb engine-order summation noise).

Both engines share the row code, so parity alone cannot catch a refactor that
changes output bytes everywhere at once.  The normalized, sorted rows of every
query are therefore also pinned by sha256 in data/oracle_digests.json, as is
the whole oracle_sql() dict.  A digest change needs a CHANGES.md line naming
the query and the reason.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available")


def _norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return round(float(v), 4)
    return v


def _norm_rows(rows):
    return sorted(tuple(_norm_val(v) for v in r) for r in rows)


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode("utf-8")).hexdigest()


def spark_rows(spark, name):
    """(lower-cased columns, normalized sorted rows) of queries()[name]."""
    sdf = QUERIES[name](spark, SF_DIR)
    cols = [c.lower() for c in sdf.columns]
    return cols, _norm_rows([row[c] for c in sdf.columns] for row in sdf.collect())


def oracle_sql_digest() -> str:
    return hashlib.sha256(
        json.dumps(ORACLES, sort_keys=True).encode("utf-8")
    ).hexdigest()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()
DIGESTS = json.loads((Path(__file__).parent / "data" / "oracle_digests.json").read_text())


def test_oracle_sql_text_pinned():
    assert oracle_sql_digest() == DIGESTS["oracle_sql"]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, ducks, name):
    spark_cols, a = spark_rows(spark, name)

    rel = ducks.sql(ORACLES[name])
    duck_cols = [c.lower() for c in rel.columns]
    b = _norm_rows(rel.fetchall())

    assert spark_cols == duck_cols, f"{name}: columns {spark_cols} vs {duck_cols}"
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches: {mismatches[:3]}"
    assert _sha(a) == DIGESTS["queries"][name], f"{name}: result digest changed"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    """Queries without oracle must still execute and return a stable schema."""
    if name.startswith("extract_"):
        sf = "/root/testdata/sf0.001"  # keep the HTML-parse queries quick
    else:
        sf = SF_DIR
    df = QUERIES[name](spark, sf)
    assert df.columns
    assert df.count() >= 0
