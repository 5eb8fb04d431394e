"""Bucket walls of ``run_checkpointed`` at several in-flight widths.

    python scripts/checkpoint_overlap.py [--widths 1,2,4] [--reps 4]
        [--pages 1200] [--jumbo 1] [--buckets 4] [--seed 1]

Run it from the repository root.  It builds the extraction benchmark's
pipeline input (``extract_bench.gen``: seeded pages, ``--jumbo`` of them
1.3 MB) and runs ``run_pipeline``'s checkpointed stage (``split_skew`` +
``extract_pages`` with doc_json) through ``run_checkpointed`` once per width
and rep, widths interleaved within each rep, all in one session.  The width
is ``checkpoint._IN_FLIGHT``, set for the call.  It prints one JSON object:
per width, the median wall of the call, every rep's wall and per-bucket
``wall_sec`` (in bucket order), and the output digest of each rep
(``extract_bench.checks.sink``), which must agree across widths.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--widths", default="1,2,4")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--pages", type=int, default=1200)
    ap.add_argument("--jumbo", type=int, default=1)
    ap.add_argument("--buckets", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import docling_core_spark.sources.checkpoint as cp
    from docling_core_spark.operators.extract import extract_pages, split_skew
    from docling_core_spark.session import get_spark
    from extract_bench.checks import sink
    from extract_bench.gen import pages_parquet

    work = Path(tempfile.mkdtemp(prefix="checkpoint_overlap_"))
    try:
        spark = get_spark(app_name="checkpoint-overlap")
        pages = spark.read.parquet(pages_parquet(str(work), args.seed, args.pages, args.jumbo))

        def stage(part):
            return extract_pages(split_skew(part), chunker="hybrid", emit_doc_json=True)

        widths = [int(w) for w in args.widths.split(",")]
        runs: dict[int, list] = {w: [] for w in widths}
        for rep in range(args.reps + 1):  # rep 0 warms the workers up
            for w in widths:
                out = work / f"out_w{w}"
                shutil.rmtree(out, ignore_errors=True)
                cp._IN_FLIGHT = w
                t0 = time.perf_counter()
                cp.run_checkpointed(spark, pages, str(out), stage, n_buckets=args.buckets)
                wall = time.perf_counter() - t0
                recs = sorted(
                    (json.loads(f.read_text()) for f in (out / "_progress").glob("*.json")),
                    key=lambda r: r["bucket"],
                )
                if rep:
                    runs[w].append(
                        {
                            "wall_s": round(wall, 3),
                            "bucket_wall_s": [r["wall_sec"] for r in recs],
                            "digest": sink(cp.read_output(spark, str(out)))["digest"],
                        }
                    )
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digests = {r["digest"] for rs in runs.values() for r in rs}
    print(
        json.dumps(
            {
                "widths": {
                    str(w): {"median_wall_s": statistics.median(r["wall_s"] for r in rs), "runs": rs}
                    for w, rs in runs.items()
                },
                "same_output": len(digests) == 1,
            }
        )
    )


if __name__ == "__main__":
    main()
