"""Extraction benchmark: one command, a seed, three workloads.

    python3 extract_bench/run.py [--workload NAME|all] [--seed N] \
        [--seconds S] [--trace 0|1] [--pin]

Runs on ``local[<cpus>]`` from this single driver process, with the
program's own session factory.  Untraced (``--trace 0``), each workload
makes its input from the seed, runs one untimed warm pass and then timed
passes until ``--seconds`` have gone by, checks every pass's output, and
prints the end-to-end metrics.  Traced (``--trace 1``), it does the same
and then measures each layer from outside (see ``layers.py``), prints the
per-layer metrics and writes its spans to ``extract_bench/out/``.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Exit status is 1 when any output is wrong.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
WORK_DIR = BENCH_DIR / "_work"
OUT_DIR = BENCH_DIR / "out"

DEFAULT_SEED = 1
SETUPS = 2
SAMPLE_ROWS = 24
PHASE_SAMPLE_ROWS = 300
JUMBO_BYTES = 1_000_000  # run_pipeline's and split_skew's default
PIPELINE_BUCKETS = 4

ALL_FORMATS = dict(emit_doc_json=True, emit_html=True, emit_doctags=True, emit_doclang=True)
WORKLOADS = {
    "crawl_md": dict(pages=2000, jumbo=0, flags=dict(emit_doc_json=False)),
    "crawl_all_formats": dict(pages=2000, jumbo=0, flags=ALL_FORMATS),
    # run_pipeline's stage: emit_doc_json=True and the default exporters off
    "pipeline_checkpointed": dict(
        pages=1200, jumbo=1, buckets=PIPELINE_BUCKETS, flags=dict(emit_doc_json=True)
    ),
}

END_TO_END = {
    "docs_per_s": "pages/s",
    "worker_peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "input.gen_s": "s",
    "sources.scan_s": "s",
    "split_skew.exchange_s": "s",
    "split_skew.jumbo_rows": "count",
    "split_skew.part_rows_max_over_p50": "ratio",
    "split_skew.part_row_s_max_over_p50": "ratio",
    "extract.boundary_s": "s",
    "extract.body_s": "s",
    "extract.batches": "count",
    "extract.rows_per_batch_p50": "rows",
    "extract.row_ms_p50": "ms",
    "extract.row_ms_p99": "ms",
    "extract.row_s_sum": "s",
    "extract.row_ms_single_process": "ms",
    "extract.phase_coverage": "ratio",
    "html_parse.ms_per_doc": "ms",
    "serializers.markdown_ms_per_doc": "ms",
    "serializers.text_ms_per_doc": "ms",
    "chunkers.hybrid_ms_per_doc": "ms",
    "chunkers.chunks_per_doc": "count",
    "html_out.ms_per_doc": "ms",
    "doctags.ms_per_doc": "ms",
    "doclang_out.ms_per_doc": "ms",
    "doc.to_json_ms_per_doc": "ms",
    "checkpoint.run_s": "s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.jobs": "count",
    "pipeline.post_s": "s",
    "pipeline.jobs": "count",
    "pipeline.write_mb": "MB",
    "trace.docs_per_s": "pages/s",
    "trace.overhead_docs_per_s": "pages/s",
}


def log(msg: str) -> None:
    elapsed = time.perf_counter() - PROCESS_START
    print(f"[extract_bench {elapsed:7.2f}s] {msg}", file=sys.stderr, flush=True)


def configure_environment() -> None:
    """Keep every file Spark and its workers write inside the benchmark's
    work directory, and load the benchmark's Spark config and logging.
    Must run before the JVM starts."""
    tmp = WORK_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_CONF_DIR"] = str(BENCH_DIR / "conf")
    # UsePerfData off: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))


class Bench:
    """One benchmark process: the Spark session, the RSS sampler, the
    tracer and the running tally of attempted and failed pages."""

    def __init__(self, args, sampler, tracer):
        self.args = args
        self.rss = sampler
        self.tracer = tracer
        self.cpus = len(os.sched_getaffinity(0))  # what nproc prints
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.report: dict = {"seed": args.seed, "seconds": args.seconds, "trace": args.trace}

    # -- session -----------------------------------------------------------

    def _warm_up(self) -> None:
        """Fork every Python worker and import every exporter in it."""
        from docling_core_spark.operators.extract import extract_pages
        from pyspark.sql import functions as F

        from extract_bench.gen import make_pages

        rows = make_pages(0, 8 * self.cpus)
        df = self.spark.createDataFrame(rows, "url string, html binary, lang string")
        extract_pages(df.repartition(self.cpus), chunker="hybrid", **ALL_FORMATS).agg(
            F.count(F.lit(1))
        ).first()

    def setup(self) -> None:
        """Start the session ``SETUPS`` times (the first from a cold JVM, the
        rest as fresh SparkContexts with fresh Python workers) and keep the
        last; ``setup_s`` is the median."""
        from docling_core_spark.session import get_spark

        times = []
        for i in range(SETUPS):
            t0 = PROCESS_START if i == 0 else time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.start", setup=i) as start:
                self.spark = get_spark(app_name="extract-bench", cpus=self.cpus)
            with self.tracer.span("session.warmup", setup=i) as warm:
                self._warm_up()
            times.append(time.perf_counter() - t0)
            if i == 0:
                self.report["session_start_s"] = start["end"] - start["start"]
                self.report["session_warmup_s"] = warm["end"] - warm["start"]
                self.report["setup_cold_s"] = times[0]
        self.report["setup_samples_s"] = times
        self.report["setup_s"] = statistics.median(times)
        log(f"setup {times} -> median {self.report['setup_s']:.3f} s")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for both to be gone."""
        from pyspark import SparkContext

        from extract_bench.ledger import descendants

        children = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(os.path.exists(f"/proc/{pid}") for pid in children):
            if time.monotonic() > deadline:
                raise RuntimeError("Spark processes still running after shutdown")
            time.sleep(0.1)

    # -- passes --------------------------------------------------------------

    def _timed(self, prepare, run, check) -> dict:
        """One pass: ``prepare`` and ``check`` are untimed, ``run`` is timed
        with host context and worker RSS around it."""
        from extract_bench.ledger import host_context, steal_frac

        prepare()
        start = host_context()
        t0 = time.perf_counter()
        result = run()
        t1 = time.perf_counter()
        end = host_context()
        return {
            "wall_s": t1 - t0,
            "worker_peak_rss_mb": self.rss.peak(t0, t1) / 1e6,
            "host_start": start,
            "host_end": end,
            "steal_frac": steal_frac(start, end),
            **result,
            **check(),
        }

    def _loop(self, name: str, n_pages: int, steps, reference) -> list[dict]:
        """Timed passes until ``--seconds`` have gone by (at least one).
        A pass's error rows and missing rows count as failed; a pass whose
        digest differs from ``reference`` (the pinned digest, else the first
        pass's), or whose lineage table does not add up, fails every page."""
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < self.args.seconds:
            p = self._timed(*steps)
            p["docs_per_s"] = n_pages / p["wall_s"]
            p["wrong_rows"] = p["errors"] + abs(n_pages - p["rows"])
            reference = reference or p["digest"]
            if p["digest"] != reference or not p.get("lineage_ok", True):
                p["wrong_rows"] = n_pages
            self.attempted += n_pages
            self.failed += p["wrong_rows"]
            log(
                f"{name} pass {len(passes)}: {p['wall_s']:.3f} s, {p['docs_per_s']:.1f} pages/s, "
                f"rss {p['worker_peak_rss_mb']:.0f} MB, load1 {p['host_start']['load1']:.2f}"
                f"->{p['host_end']['load1']:.2f}, steal {p['steal_frac']:.3f}, cpu probe "
                f"{p['host_start']['cpu_probe_ms']:.1f}->{p['host_end']['cpu_probe_ms']:.1f} ms, "
                f"wrong {p['wrong_rows']}"
            )
            passes.append(p)
        return passes

    # -- workloads -----------------------------------------------------------

    def run_workload(self, name: str) -> dict:
        from extract_bench import checks
        from extract_bench.gen import generator_digest, pages_parquet

        spec = WORKLOADS[name]
        with self.tracer.span("input.gen", workload=name) as sp:
            path = pages_parquet(str(WORK_DIR / "pages"), self.args.seed, spec["pages"], spec["jumbo"])
        res: dict = {
            "input": str(Path(path).relative_to(REPO_ROOT)),
            "input_gen_s": sp["end"] - sp["start"],
            "pages": spec["pages"],
        }
        pin = None
        if not self.args.pin:
            pin = checks.pinned_digest(
                checks.load_expected(), name, self.args.seed, spec["pages"], generator_digest()
            )
        if "buckets" in spec:
            steps = warm_steps = self._pipeline_steps(spec, path)
        else:
            # a quarter of the pages is enough to warm the same code paths
            steps, warm_steps = self._crawl_steps(spec, path), self._crawl_steps(spec, path, 4)
        with self.tracer.span("pass.warm", workload=name):
            self._timed(*warm_steps)
        res["pinned_digest"] = pin
        res["passes"] = self._loop(name, spec["pages"], steps, pin)
        res["digest"] = res["passes"][0]["digest"]
        if pin and res["digest"] != pin:
            log(f"{name}: digest {res['digest']} differs from the pinned {pin}")
        res["sample_mismatches"] = self._sample_check(name, spec, path)
        log(f"{name}: sample check done, {len(res['sample_mismatches'])} mismatches")
        if self.args.trace:
            res["layers"] = self._trace_layers(name, spec, path, res["passes"])
        return res

    def _crawl_steps(self, spec: dict, path: str, subset: int = 1):
        """``extract_pages(split_skew(scan))`` with the digest as its sink,
        over every ``subset``-th page (by url hash)."""
        from docling_core_spark.operators.extract import extract_pages, split_skew
        from pyspark.sql import functions as F

        from extract_bench.checks import sink

        pages = self.spark.read.parquet(path)
        if subset > 1:
            pages = pages.filter(F.pmod(F.xxhash64("url"), F.lit(subset)) == 0)

        def run() -> dict:
            return sink(extract_pages(split_skew(pages), chunker="hybrid", **spec["flags"]))

        return (lambda: None), run, dict

    def _pipeline_steps(self, spec: dict, path: str):
        """``run_pipeline(checkpointed=True)`` into a fresh directory; the
        written docs and chunks are digested afterwards, untimed."""
        from docling_core_spark.plans.pipeline import run_pipeline
        from docling_core_spark.sources.checkpoint import read_output
        from pyspark.sql import functions as F

        from extract_bench.checks import sink

        out = WORK_DIR / "pipeline_out"

        def prepare() -> None:
            shutil.rmtree(out, ignore_errors=True)

        def run() -> dict:
            summary = run_pipeline(
                self.spark,
                self.spark.read.parquet(path),
                str(out),
                checkpointed=True,
                n_buckets=spec["buckets"],
            )
            return {"summary": {k: v for k, v in summary.items() if k != "output"}}

        def check() -> dict:
            docs = sink(read_output(self.spark, f"{out}/docs"))
            chunks = sink(self.spark.read.parquet(f"{out}/chunks"))
            lin = (
                self.spark.read.parquet(f"{out}/lineage")
                .agg(F.sum("n_pages").alias("n"), F.sum("n_chunks").alias("c"))
                .first()
            )
            return {
                "rows": docs["rows"],
                "errors": docs["errors"],
                "digest": f"docs={docs['digest']};chunks={chunks['digest']}",
                "lineage_ok": lin["n"] == docs["rows"] and lin["c"] == chunks["rows"],
            }

        return prepare, run, check

    # -- checks --------------------------------------------------------------

    def _sample(self, path: str, seed_tag: str, k: int, with_largest: bool) -> list[dict]:
        import pyarrow.parquet as pq

        rows = pq.read_table(path).to_pylist()
        rng = random.Random(f"{seed_tag}:{self.args.seed}")
        picked = rng.sample(rows, min(k, len(rows)))
        if with_largest:
            largest = max(rows, key=lambda r: len(r["html"]))
            if largest not in picked:
                picked.append(largest)
        return picked

    def _sample_check(self, name: str, spec: dict, path: str) -> list:
        """Byte-for-byte comparison of a seeded sample of Spark rows with
        single-process ``extract_row``."""
        from docling_core_spark.operators.extract import extract_pages, extract_row, split_skew
        from pyspark.sql import functions as F

        from extract_bench import checks

        sample = self._sample(path, "check", SAMPLE_ROWS, with_largest=True)
        urls = [r["url"] for r in sample]
        expected = {
            r["url"]: extract_row(r["url"], r["html"], r["lang"], chunker="hybrid", **spec["flags"])
            for r in sample
        }
        if "buckets" in spec:
            from docling_core_spark.sources.checkpoint import read_output

            out = WORK_DIR / "pipeline_out"
            got_rows = read_output(self.spark, f"{out}/docs").filter(F.col("url").isin(urls)).collect()
            chunk_rows = self.spark.read.parquet(f"{out}/chunks").filter(F.col("url").isin(urls)).collect()
            by_url: dict = {}
            for r in chunk_rows:
                by_url.setdefault(r["url"], []).append(checks.normalize(r))
            got_chunks = {u: {"chunks": sorted(v, key=lambda c: c["chunk_idx"])} for u, v in by_url.items()}
            exp_chunks = {u: {"chunks": checks.chunk_rows(e)} for u, e in expected.items() if e["chunks"]}
            bad_chunks = checks.compare_rows(got_chunks, exp_chunks)
        else:
            pages = self.spark.read.parquet(path).filter(F.col("url").isin(urls))
            got_rows = extract_pages(split_skew(pages), chunker="hybrid", **spec["flags"]).collect()
            bad_chunks = []
        got = {r["url"]: checks.normalize(r) for r in got_rows}
        bad = checks.compare_rows(got, expected) + bad_chunks
        wrong_urls = {u for u, _ in bad}
        self.attempted += len(sample)
        self.failed += len(wrong_urls)
        if bad:
            log(f"{name}: sample check mismatches {bad[:10]}")
        return bad

    # -- traced run ------------------------------------------------------------

    def _trace_layers(self, name: str, spec: dict, path: str, passes: list) -> dict:
        """Per-layer metrics, each measured on this workload's input: one
        traced pass (its docs/s against the untraced ``docs_per_s`` is the
        tracing overhead), one traced ``run_pipeline`` (on the crawl
        workloads this is outside their timed passes), the Spark cuts and
        the single-process row phases."""
        from extract_bench import layers

        untraced = window_docs_per_s(passes, spec["pages"])
        m, pipeline_wall = self._traced_pipeline_pass(path)
        if "buckets" in spec:
            m["trace.docs_per_s"] = spec["pages"] / pipeline_wall
            # the ledger is complete when the two phases cover the pass wall
            accounted = (m["checkpoint.run_s"] + m["pipeline.post_s"]) / pipeline_wall
            self.report["pipeline_accounted_frac"] = accounted
            log(f"{name}: checkpoint.run_s + pipeline.post_s = {accounted:.4f} of the pass wall")
        else:
            m.update(self._traced_crawl_pass(name, spec, path))
        m["trace.overhead_docs_per_s"] = m["trace.docs_per_s"] - untraced
        pages = self.spark.read.parquet(path)
        with self.tracer.span("layers.spark_cuts", workload=name):
            m.update(layers.spark_cuts(self.tracer, pages, spec["flags"], JUMBO_BYTES))
        rows = self._sample(path, "phases", PHASE_SAMPLE_ROWS, with_largest=False)
        m.update(layers.row_phases(self.tracer, rows, spec["flags"]))
        return m

    def _traced_crawl_pass(self, name: str, spec: dict, path: str) -> dict:
        from docling_core_spark.operators.extract import extract_pages, split_skew

        from extract_bench.checks import sink

        tracer = self.tracer
        pages = self.spark.read.parquet(path)
        with tracer.span("pass.traced", workload=name) as sp:
            with tracer.span("operators.extract.split_skew"):
                skewed = split_skew(pages)
            with tracer.span("operators.extract.extract_pages"):
                docs = extract_pages(skewed, chunker="hybrid", **spec["flags"])
            with tracer.span("sink"):
                sink(docs)
        return {"trace.docs_per_s": spec["pages"] / (sp["end"] - sp["start"])}

    def _traced_pipeline_pass(self, path: str) -> tuple[dict, float]:
        """``run_pipeline`` with the phase probes installed: the checkpoint
        protocol's span and job count, the post-checkpoint phases, and the
        per-bucket walls from the ``_progress`` records.  Returns the
        metrics and the wall time of the call."""
        from docling_core_spark.plans.pipeline import run_pipeline

        from extract_bench import layers
        from extract_bench.ledger import percentile

        tracer = self.tracer
        sc = self.spark.sparkContext
        out = WORK_DIR / "pipeline_out"
        shutil.rmtree(out, ignore_errors=True)
        group = f"bench-{os.getpid()}-{time.perf_counter_ns()}"
        with layers.pipeline_probes(tracer, sc, group) as marks:
            with tracer.span("plans.pipeline.run_pipeline") as run:
                run_pipeline(
                    self.spark,
                    self.spark.read.parquet(path),
                    str(out),
                    checkpointed=True,
                    n_buckets=PIPELINE_BUCKETS,
                )
        ck = marks["checkpoint"]
        t_chunks, t_lineage = marks["explode_chunks"], marks["lineage_metrics"]
        post = [
            tracer.add("pipeline.read_output", ck["end"], t_chunks, parent=run),
            tracer.add("pipeline.chunks_write", t_chunks, t_lineage, parent=run),
            tracer.add("pipeline.lineage_and_counts", t_lineage, run["end"], parent=run),
        ]
        walls = [
            json.loads(f.read_text())["wall_sec"]
            for f in sorted((out / "docs" / "_progress").glob("bucket_*.json"))
        ]
        wall = run["end"] - run["start"]
        ck_s = ck["end"] - ck["start"]
        tracker = sc.statusTracker()
        return {
            "checkpoint.run_s": ck_s,
            "checkpoint.bucket_s_p50": percentile(walls, 50),
            "checkpoint.bucket_s_max": max(walls),
            "checkpoint.jobs": len(tracker.getJobIdsForGroup(f"{group}.checkpoint")),
            "pipeline.post_s": sum(sp["end"] - sp["start"] for sp in post),
            "pipeline.jobs": len(tracker.getJobIdsForGroup(f"{group}.post")),
            "pipeline.write_mb": sum(f.stat().st_size for f in out.rglob("*") if f.is_file()) / 1e6,
        }, wall


# ---------------------------------------------------------------------------
# report
# ---------------------------------------------------------------------------


def window_docs_per_s(passes: list, pages: int) -> float:
    """Every timed page over the whole timed window, so a slow pass weighs
    by its length instead of flipping a median of a few passes."""
    return pages * len(passes) / sum(p["wall_s"] for p in passes)


def end_to_end_metrics(res: dict, setup_s: float) -> dict:
    passes = res["passes"]
    return {
        "docs_per_s": window_docs_per_s(passes, res["pages"]),
        "worker_peak_rss_mb": statistics.median(p["worker_peak_rss_mb"] for p in passes),
        "setup_s": setup_s,
    }


def per_layer_metrics(res: dict, report: dict) -> dict:
    m = {
        "session.start_s": report["session_start_s"],
        "session.warmup_s": report["session_warmup_s"],
        "input.gen_s": res["input_gen_s"],
        **res["layers"],
    }
    return {k: m[k] for k in PER_LAYER}


def human_lines(name: str, res: dict, report: dict, e2e: dict) -> list[str]:
    from extract_bench.ledger import median_q

    d = median_q([p["docs_per_s"] for p in res["passes"]])
    r = median_q([p["worker_peak_rss_mb"] for p in res["passes"]])
    frac = res["failed"] / res["attempted"]
    setups = ", ".join(f"{t:.3f}" for t in report["setup_samples_s"])
    return [
        f"{name} docs_per_s {e2e['docs_per_s']:.2f} pages/s ({d['n']} passes of {res['pages']} "
        f"pages; per pass median {d['median']:.2f}, q1 {d['q1']:.2f}, q3 {d['q3']:.2f})",
        f"{name} failed_frac {frac:.6f} ratio ({res['failed']} of {res['attempted']} pages)",
        f"{name} worker_peak_rss_mb {e2e['worker_peak_rss_mb']:.1f} MB "
        f"(median of {r['n']} pass peaks; q1 {r['q1']:.1f}, q3 {r['q3']:.1f})",
        f"{name} setup_s {e2e['setup_s']:.3f} s (median of setups {setups}; "
        f"input generation {res['input_gen_s']:.3f} s, not included)",
    ]


def pin_expected(results: dict, seed: int) -> None:
    from extract_bench import checks
    from extract_bench.gen import generator_digest

    expected = checks.load_expected()
    if expected.get("generator") != generator_digest() or expected.get("seed") != seed:
        expected = {"seed": seed, "generator": generator_digest(), "workloads": {}}
    for name, res in results.items():
        expected["workloads"][name] = {"pages": res["pages"], "digest": res["digest"]}
    checks.EXPECTED_PATH.write_text(json.dumps(expected, indent=2, sort_keys=True) + "\n")
    log(f"pinned {sorted(results)} at seed {seed} in {checks.EXPECTED_PATH.name}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--pin", action="store_true", help="pin output digests (default seed only)")
    args = ap.parse_args(argv)
    if args.pin and args.seed != DEFAULT_SEED:
        ap.error(f"--pin needs --seed {DEFAULT_SEED}")

    configure_environment()
    import docling_core_spark  # noqa: F401  (fail before any work when the program is absent)

    from extract_bench.ledger import RssSampler, Tracer, host_context, self_time_by_name

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    tracer = Tracer()
    results = {}
    with RssSampler() as rss:
        bench = Bench(args, rss, tracer)
        try:
            report_host = host_context()
            bench.setup()
            for name in names:
                a0, f0 = bench.attempted, bench.failed
                res = bench.run_workload(name)
                res["attempted"] = bench.attempted - a0
                res["failed"] = bench.failed - f0
                results[name] = res
        finally:
            bench.close()
            log("session closed")
    report = {**bench.report, "host_start": report_host, "host_end": host_context()}
    correct = bench.failed == 0
    if args.pin and correct:
        pin_expected(results, args.seed)

    metrics: dict = {}
    for name, res in results.items():
        e2e = end_to_end_metrics(res, report["setup_s"])
        for line in human_lines(name, res, report, e2e):
            print(line)
        values, units = (per_layer_metrics(res, report), PER_LAYER) if args.trace else (e2e, END_TO_END)
        prefix = "" if len(results) == 1 else f"{name}."
        for k, v in values.items():
            metrics[prefix + k] = {"value": v, "unit": units[k]}
        if args.trace:
            for k, v in values.items():
                print(f"{name} {k} {v:.6g} {units[k]}")

    OUT_DIR.mkdir(exist_ok=True)
    kind = "trace" if args.trace else "run"
    out_file = OUT_DIR / f"{kind}_{args.workload}_s{args.seed}.json"
    dump = {"report": report, "workloads": results, "metrics": metrics}
    if args.trace:
        dump["spans"] = tracer.spans
        dump["self_time_s"] = self_time_by_name(tracer.spans)
    out_file.write_text(json.dumps(dump, indent=1, default=str) + "\n")
    log(f"wrote {out_file.relative_to(REPO_ROOT)}")
    print(json.dumps({"correct": correct, "attempted": bench.attempted, "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
