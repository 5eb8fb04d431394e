"""Per-layer measurements for the traced run, taken from outside the
program: each one times calls into a module's public functions.

- Spark layers: noop-sink cuts, each adding one layer to the previous one
  (scan, then ``split_skew``, then an identity ``mapInArrow``, then the full
  ``extract_pages``), so a layer's cost is the difference of two cuts.
- Row phases: a single-process pass that times ``extract_row`` and then
  each public parser, exporter and chunker it calls, on the same docs.
- Pipeline split: wrappers around the names ``plans.pipeline`` calls
  (``run_checkpointed``, ``explode_chunks``, ``lineage_metrics``) record
  when each phase starts, and Spark job groups count jobs per phase.
"""

from __future__ import annotations

import gc
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator

from extract_bench.ledger import percentile


def identity_batches(batches):
    """mapInArrow body that returns its input: the Arrow round trip alone."""
    yield from batches


def batch_census(batches):
    """mapInArrow body that returns one (rows, bytes) row per input batch."""
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"rows": pa.array([b.num_rows], pa.int64()), "bytes": pa.array([b.nbytes], pa.int64())}
        )


def spark_cuts(tracer, pages, flags: dict, jumbo_bytes: int) -> dict:
    """Time the four cuts and derive the Spark-layer metrics.  The cheap
    cuts run twice and keep the faster run."""
    from pyspark.sql import functions as F

    from docling_core_spark.operators.extract import (
        extract_pages,
        lineage_metrics,
        split_skew,
    )

    cols = pages.select("url", "html", "lang")

    def cut(name: str, build, reps: int) -> float:
        times = []
        for _ in range(reps):
            with tracer.span(name) as sp:
                build().write.format("noop").mode("overwrite").save()
            times.append(sp["end"] - sp["start"])
        return min(times)

    scan = cut("cut.scan", lambda: cols, 2)
    skew = cut("cut.split_skew", lambda: split_skew(cols, jumbo_bytes=jumbo_bytes), 2)
    ident = cut(
        "cut.identity_map",
        lambda: split_skew(cols, jumbo_bytes=jumbo_bytes).mapInArrow(identity_batches, schema=cols.schema),
        2,
    )
    full = cut(
        "cut.extract_pages",
        lambda: extract_pages(split_skew(cols, jumbo_bytes=jumbo_bytes), chunker="hybrid", **flags),
        1,
    )
    with tracer.span("census.batches"):
        census = (
            split_skew(cols, jumbo_bytes=jumbo_bytes)
            .mapInArrow(batch_census, schema="rows long, bytes long")
            .collect()
        )
    docs = extract_pages(split_skew(cols, jumbo_bytes=jumbo_bytes), chunker="hybrid", **flags)
    with tracer.span("ledger.rows"):
        ledger = docs.select(F.spark_partition_id().alias("pid"), "parse_us").collect()
    with tracer.span("ledger.lineage_metrics"):
        lineage = lineage_metrics(docs).collect()
    with tracer.span("count.jumbo_rows"):
        jumbo_rows = cols.filter(F.length("html") > jumbo_bytes).count()

    row_ms = [r["parse_us"] / 1000 for r in ledger]
    part_rows = [r["n_pages"] for r in lineage]
    part_s = [r["parse_us"] / 1e6 for r in lineage]
    batch_rows = [r["rows"] for r in census]
    return {
        "sources.scan_s": scan,
        "split_skew.exchange_s": skew - scan,
        "split_skew.jumbo_rows": jumbo_rows,
        "split_skew.part_rows_max_over_p50": max(part_rows) / percentile(part_rows, 50),
        "split_skew.part_row_s_max_over_p50": max(part_s) / percentile(part_s, 50),
        "extract.boundary_s": ident - skew,
        "extract.body_s": full - ident,
        "extract.batches": len(batch_rows),
        "extract.rows_per_batch_p50": percentile(batch_rows, 50),
        "extract.row_ms_p50": percentile(row_ms, 50),
        "extract.row_ms_p99": percentile(row_ms, 99),
        "extract.row_s_sum": sum(row_ms) / 1000,
    }


def row_phases(tracer, rows: list[dict], flags: dict) -> dict:
    """Single-process pass over ``rows``: whole-row ``extract_row`` time,
    then each phase it is made of, timed separately on the same doc.  The
    order alternates per doc so neither side always runs with warm caches.
    Every exporter is timed on every workload; ``phase_coverage`` sums only
    the phases this workload's ``extract_row`` runs."""
    from docling_core_spark.functions.chunkers import HybridChunker, RegexTokenizer, contextualize
    from docling_core_spark.functions.doclang_out import export_to_doclang
    from docling_core_spark.functions.doctags import export_to_doctags
    from docling_core_spark.functions.html_out import export_to_html
    from docling_core_spark.functions.html_parse import parse_html
    from docling_core_spark.functions.serializers import export_to_markdown, export_to_text
    from docling_core_spark.operators.extract import extract_row

    def chunk(doc) -> list:
        tok = RegexTokenizer(512)
        return [
            {
                "chunk_idx": i,
                "text": c["text"],
                "headings": c.get("headings"),
                "doc_item_refs": [it["self_ref"] for it in c["doc_items"]],
                "n_tokens": tok.count_tokens(contextualize(c)),
            }
            for i, c in enumerate(HybridChunker(tokenizer=tok).chunk(doc))
        ]

    phases = {
        "serializers.markdown": export_to_markdown,
        "serializers.text": export_to_text,
        "html_out": export_to_html,
        "doctags": export_to_doctags,
        "doclang_out": lambda d: export_to_doclang(d, pretty_indentation=None),
        "doc.to_json": lambda d: d.to_json(),
        "chunkers.hybrid": chunk,
    }
    used = {"html_parse", "serializers.markdown", "serializers.text", "chunkers.hybrid"}
    used |= {k for k, f in (("html_out", "emit_html"), ("doctags", "emit_doctags"),
                            ("doclang_out", "emit_doclang"), ("doc.to_json", "emit_doc_json"))
             if flags.get(f)}
    total: dict[str, float] = defaultdict(float)
    n_chunks = 0
    clock = time.perf_counter
    # collector pauses would land in whichever timed call happens to trigger
    # them: collect every few docs instead, outside the timed calls
    gc.disable()
    try:
        with tracer.span("row_phases", docs=len(rows)):
            for i, r in enumerate(rows):
                if i % 20 == 0:
                    gc.collect()

                def whole() -> None:
                    t = clock()
                    extract_row(r["url"], r["html"], r["lang"], chunker="hybrid", **flags)
                    total["extract_row"] += clock() - t

                if i % 2 == 0:
                    whole()
                t = clock()
                doc = parse_html(r["html"] or b"", name=r["url"])
                total["html_parse"] += clock() - t
                for name, fn in phases.items():
                    t = clock()
                    out = fn(doc)
                    total[name] += clock() - t
                    if name == "chunkers.hybrid":
                        n_chunks += len(out)
                if i % 2 == 1:
                    whole()
    finally:
        gc.enable()
    n = len(rows)
    ms = {k: v * 1000 / n for k, v in total.items()}
    return {
        "extract.phase_coverage": sum(total[k] for k in used) / total["extract_row"],
        "html_parse.ms_per_doc": ms["html_parse"],
        "serializers.markdown_ms_per_doc": ms["serializers.markdown"],
        "serializers.text_ms_per_doc": ms["serializers.text"],
        "chunkers.hybrid_ms_per_doc": ms["chunkers.hybrid"],
        "chunkers.chunks_per_doc": n_chunks / n,
        "html_out.ms_per_doc": ms["html_out"],
        "doctags.ms_per_doc": ms["doctags"],
        "doclang_out.ms_per_doc": ms["doclang_out"],
        "doc.to_json_ms_per_doc": ms["doc.to_json"],
        "extract.row_ms_single_process": ms["extract_row"],
    }


@contextmanager
def pipeline_probes(tracer, sc, group: str) -> Iterator[dict]:
    """Wrap the program calls ``run_pipeline`` makes so its phases show:
    ``run_checkpointed`` gets a span and its own Spark job group, and the
    calls to ``explode_chunks`` / ``lineage_metrics`` mark when the chunk
    write and the lineage write + counts begin.  Jobs outside
    ``run_checkpointed`` run in ``<group>.post``."""
    import docling_core_spark.plans.pipeline as pl

    orig = (pl.run_checkpointed, pl.explode_chunks, pl.lineage_metrics)
    marks: dict = {}

    def run_checkpointed(*args, **kwargs):
        sc.setJobGroup(f"{group}.checkpoint", "run_checkpointed")
        try:
            with tracer.span("checkpoint.run_checkpointed") as sp:
                marks["checkpoint"] = sp
                return orig[0](*args, **kwargs)
        finally:
            sc.setJobGroup(f"{group}.post", "run_pipeline after run_checkpointed")

    def explode_chunks(docs):
        marks["explode_chunks"] = tracer.now()
        return orig[1](docs)

    def lineage_metrics(docs):
        marks["lineage_metrics"] = tracer.now()
        return orig[2](docs)

    sc.setJobGroup(f"{group}.post", "run_pipeline")
    pl.run_checkpointed, pl.explode_chunks, pl.lineage_metrics = (
        run_checkpointed,
        explode_chunks,
        lineage_metrics,
    )
    try:
        yield marks
    finally:
        pl.run_checkpointed, pl.explode_chunks, pl.lineage_metrics = orig
        sc.setJobGroup(f"{group}.other", "benchmark")
