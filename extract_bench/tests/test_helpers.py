"""Tests for the benchmark's own helpers (not for the program).

    python3 -m pytest extract_bench/tests
"""

from __future__ import annotations

import copy
import json
from pathlib import Path

import pytest

from extract_bench import checks, gen, ledger, run

BENCHMARK_JSON = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


# -- digest -------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("extract-bench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    yield session
    session.stop()


SCHEMA = (
    "url string, html binary, markdown string, n_texts int, parse_us long, "
    "chunks array<struct<chunk_idx:int, text:string, headings:array<string>>>, error string"
)


def _rows(n: int) -> list[tuple]:
    return [
        (
            f"https://ex.org/{i}",
            f"<p>{i}</p>".encode(),
            None if i % 7 == 0 else f"# doc {i} — é",
            i % 5,
            1000 + i,
            [(k, f"chunk {i}.{k}", None if k else [f"h{i}"]) for k in range(i % 3)],
            None,
        )
        for i in range(60)
    ]


def test_digest_ignores_row_and_partition_order(spark):
    rows = _rows(60)
    base = checks.sink(spark.createDataFrame(rows, SCHEMA).coalesce(1))
    shuffled = list(reversed(rows[30:])) + rows[:30]
    other = checks.sink(spark.createDataFrame(shuffled, SCHEMA).repartition(3))
    assert base == other
    assert base["rows"] == 60 and base["errors"] == 0


def test_digest_ignores_timing_but_sees_every_output_column(spark):
    rows = _rows(60)
    base = checks.sink(spark.createDataFrame(rows, SCHEMA))
    retimed = [r[:4] + (r[4] + 17,) + r[5:] for r in rows]
    assert checks.sink(spark.createDataFrame(retimed, SCHEMA)) == base
    for col in (2, 3, 5):
        altered = copy.deepcopy(rows)
        row = list(altered[11])
        row[col] = {2: "# other", 3: 99, 5: [(0, "changed", None)]}[col]
        altered[11] = tuple(row)
        assert checks.sink(spark.createDataFrame(altered, SCHEMA))["digest"] != base["digest"]


# -- output check -------------------------------------------------------------


def test_altered_output_row_fails_the_check():
    from docling_core_spark.operators.extract import extract_row

    pages = gen.make_pages(3, 6)
    expected = {p["url"]: extract_row(p["url"], p["html"], p["lang"]) for p in pages}
    actual = copy.deepcopy(expected)
    for row in actual.values():
        row["parse_us"] += 5  # timing may differ
    assert checks.compare_rows(actual, expected) == []

    url = sorted(actual)[2]
    actual[url]["markdown"] = actual[url]["markdown"] + " "
    assert checks.compare_rows(actual, expected) == [(url, "markdown")]

    del actual[url]
    assert checks.compare_rows(actual, expected) == [(url, "<missing>")]


def test_pinned_digest_refuses_a_stale_generator():
    pins = {"seed": 1, "generator": "old", "workloads": {"w": {"pages": 10, "digest": "d"}}}
    assert checks.pinned_digest(pins, "w", 2, 10, "old") is None
    assert checks.pinned_digest(pins, "w", 1, 11, "old") is None
    assert checks.pinned_digest(pins, "w", 1, 10, "old") == "d"
    with pytest.raises(SystemExit):
        checks.pinned_digest(pins, "w", 1, 10, "new")


# -- generator ----------------------------------------------------------------


def test_generator_is_byte_stable_and_seeded():
    a = gen.make_pages(5, 120, 1)
    assert a == gen.make_pages(5, 120, 1)
    b = gen.make_pages(6, 120, 1)
    assert [r["html"] for r in a] != [r["html"] for r in b]
    # the size profile is fixed by design; only which page gets which size moves
    size_a, size_b = (sum(len(r["html"]) for r in rows) for rows in (a, b))
    assert abs(size_a - size_b) / size_a < 0.05
    assert sum(1 for r in a if len(r["html"]) > 1_000_000) == 1


def test_generator_covers_the_feature_matrix():
    pages = gen.make_pages(2, 400)
    html = b"".join(r["html"] for r in pages).decode()
    for tag in ("<table", "rowspan=", "colspan=", "<ol", "<ul", "<pre><code>", "<figure",
                "<figcaption", "<nav", "<footer", "<aside", "<blockquote"):
        assert tag in html, tag
    assert any(ord(ch) > 0x2E80 for ch in html)  # CJK / emoji
    assert sum(1 for r in pages if r["html"] == b"") >= 2
    assert any(b"<main>" not in r["html"] and r["html"] for r in pages)  # furniture-only
    assert any(r["html"] and not r["html"].endswith(b"</html>") for r in pages)  # truncated


def test_parquet_cache_is_keyed_by_seed_and_generator(tmp_path):
    p1 = gen.pages_parquet(str(tmp_path), 4, 50)
    assert gen.generator_digest() in p1
    assert gen.pages_parquet(str(tmp_path), 4, 50) == p1
    assert gen.pages_parquet(str(tmp_path), 5, 50) != p1
    import pyarrow.parquet as pq

    assert pq.read_table(p1).num_rows == 50


# -- spans --------------------------------------------------------------------


def test_self_time_on_nested_spans():
    t = ledger.Tracer()
    a = t.add("a", 0.0, 10.0)
    b = t.add("b", 1.0, 4.0, parent=a)
    t.add("c", 3.0, 6.0, parent=a)  # overlaps b: counted once
    t.add("d", 8.0, 12.0, parent=a)  # sticks out of a: clipped
    t.add("e", 2.0, 3.0, parent=b)
    st = {s["name"]: v for s, v in zip(t.spans, (ledger.self_times(t.spans)[s["id"]] for s in t.spans))}
    assert st == {"a": 3.0, "b": 2.0, "c": 3.0, "d": 4.0, "e": 1.0}
    assert {s["trace_id"] for s in t.spans} == {a["trace_id"]}


def test_tracer_context_spans_nest():
    t = ledger.Tracer()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["trace_id"] == outer["trace_id"]
    assert ledger.self_time_by_name(t.spans)["outer"] <= outer["end"] - outer["start"]


def test_quantile_helpers():
    q = ledger.median_q([4.0, 1.0, 3.0, 2.0])
    assert q["median"] == 2.5 and q["q1"] < q["median"] < q["q3"]
    assert ledger.percentile([5, 1, 3, 2, 4], 50) == 3
    assert ledger.percentile(list(range(1, 101)), 99) == 99


# -- BENCHMARK.json -----------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
