"""Output checks: an order-independent digest and a row-by-row comparison.

The digest is a Spark aggregate: ``xxhash64`` of every output column of a
row, summed over the rows as an exact decimal, plus the row count.  A sum
does not depend on row or partition order, so it can be computed in the
same job as the output itself.  ``parse_us`` is left out: it is the row's
measured time, not output.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Optional

TIMING_COLUMNS = ("parse_us",)
EXPECTED_PATH = Path(__file__).with_name("expected.json")


def sink(df) -> dict:
    """Consume ``df`` in one job: row count, rows with an ``error`` (when
    the column exists) and the digest of every non-timing column."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c not in TIMING_COLUMNS]
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ]
    if "error" in df.columns:
        aggs.append(F.count("error").alias("errors"))
    row = df.agg(*aggs).first()
    return {
        "rows": row["n"],
        "errors": row["errors"] if "error" in df.columns else 0,
        "digest": f"{row['n']}:{row['s'] or 0}",
    }


def normalize(row) -> dict:
    """A Spark Row as plain Python values, nested rows included."""
    return row.asDict(recursive=True)


def compare_rows(actual: dict[str, dict], expected: dict[str, dict]) -> list[tuple[str, str]]:
    """Compare rows keyed by url, field by field over ``expected``'s fields
    except the timing columns.  Returns ``(url, field)`` for every mismatch
    and ``(url, "<missing>")`` for every expected row absent from
    ``actual``."""
    bad = []
    for url, exp in sorted(expected.items()):
        got = actual.get(url)
        if got is None:
            bad.append((url, "<missing>"))
            continue
        for field, value in exp.items():
            if field not in TIMING_COLUMNS and got.get(field) != value:
                bad.append((url, field))
    return bad


def chunk_rows(extracted: dict) -> list[dict]:
    """The rows ``explode_chunks`` should produce for one extracted doc."""
    return [
        {"url": extracted["url"], "lang": extracted["lang"], **c}
        for c in extracted["chunks"]
    ]


def load_expected() -> dict:
    return json.loads(EXPECTED_PATH.read_text()) if EXPECTED_PATH.exists() else {}


def pinned_digest(expected: dict, workload: str, seed: int, n_pages: int, generator: str) -> Optional[str]:
    """The committed digest for this workload, if the run matches the pin's
    seed and input size.  A pin made by another generator version is an
    error: the generator changed without re-pinning."""
    pin = expected.get("workloads", {}).get(workload)
    if pin is None or seed != expected.get("seed") or n_pages != pin.get("pages"):
        return None
    if expected.get("generator") != generator:
        raise SystemExit(
            f"expected.json was pinned with generator {expected.get('generator')}, "
            f"the generator is now {generator}: re-pin with --pin"
        )
    return pin["digest"]
