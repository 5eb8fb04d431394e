"""Partition-level checkpointed, resumable extraction runs.

North-rule requirement: "resumable from checkpoint with per-partition
lineage".  Protocol (Iceberg-style idempotent partition writes, expressed
over plain parquet so it runs anywhere):

- input is bucketed by ``pmod(xxhash64(url), n_buckets)``;
- each bucket is one Spark job that writes its output under
  ``out_dir/data/bucket=<b>/``; at most two bucket jobs are in flight, so
  the next bucket fills the cores the previous one's slowest tasks leave
  idle (``_IN_FLIGHT``);
- the calling thread then appends one row per bucket to the
  ``out_dir/_progress/`` log, in completion order (commit point: data
  before progress, so a crash between the two re-processes the bucket —
  idempotent because the bucket directory is overwritten whole);
- resume = anti-join the bucket list against the progress log: only
  unfinished buckets are re-run, whatever order the others committed in;
- per-bucket lineage (rows, errors, wall) is recorded in the progress log
  itself; rows and errors are observed on the bucket's own write.

At cluster scale the same protocol maps onto Iceberg
``REPLACE PARTITIONS`` / dynamic-partition-overwrite commits.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from itertools import islice
from pathlib import Path
from typing import Callable, Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

# Bucket jobs in flight at once (why two: run_checkpointed's docstring).
# Four in flight measured slower than two on 4 cores
# (BENCH/AB_CHECKPOINT_OVERLAP.md).
_IN_FLIGHT = 2


def _progress_path(out_dir: str) -> Path:
    return Path(out_dir) / "_progress"


def completed_buckets(
    spark: SparkSession, out_dir: str, n_buckets: Optional[int] = None
) -> set[int]:
    """Buckets recorded as committed in the progress log.

    When n_buckets is given, raise on a mismatch with the recorded runs: a
    different bucket count changes the pmod assignment, so resuming against
    old committed bucket dirs would silently double-process or miss rows.
    """
    p = _progress_path(out_dir)
    if not p.is_dir() or not any(p.glob("*.json")):
        return set()
    done = set()
    for f in sorted(p.glob("*.json")):
        rec = json.loads(f.read_text())
        recorded = rec.get("n_buckets")
        if n_buckets is not None and recorded is not None and recorded != n_buckets:
            raise ValueError(
                f"checkpoint at {out_dir} was written with n_buckets={recorded}; "
                f"resuming with n_buckets={n_buckets} would corrupt bucket "
                "assignment — use the original value or a fresh out_dir"
            )
        done.add(rec["bucket"])
    return done


def _commit_bucket(out_dir: str, bucket: int, lineage: dict) -> None:
    p = _progress_path(out_dir)
    p.mkdir(parents=True, exist_ok=True)
    tmp = p / f".bucket_{bucket}.json.tmp"
    tmp.write_text(json.dumps({"bucket": bucket, **lineage}))
    tmp.rename(p / f"bucket_{bucket}.json")


def _write_bucket(
    spark: SparkSession,
    part: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    target: str,
    tag: str,
    t0: float,
) -> dict:
    """One bucket's job (run on a pool thread): stage_fn, the overwrite of
    its directory, and its lineage, counted by an Observation on the write
    itself instead of a re-read.  wall_sec runs from submit to write end."""
    spark.sparkContext.addJobTag(tag)
    out = stage_fn(part)
    counts = [F.count(F.lit(1)).alias("rows")]
    if "error" in out.columns:
        counts.append(F.count("error").alias("errors"))
    obs = Observation()
    out.observe(obs, *counts).write.mode("overwrite").parquet(target)
    wall = time.perf_counter() - t0
    stats = obs.get
    return {"rows": stats["rows"], "errors": stats.get("errors", 0), "wall_sec": round(wall, 3)}


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    stage_fn: Callable[[DataFrame], DataFrame],
    n_buckets: int = 16,
    key: str = "url",
) -> dict:
    """Run stage_fn over pages in resumable buckets, two jobs in flight.

    Returns a summary dict {completed, skipped, rows_out, n_buckets}.
    Each bucket is one job at full cluster width, run on a pool thread that
    inherits the caller's job group, tags and local properties.  At most
    ``_IN_FLIGHT`` (2) bucket jobs run at once.  Spark's default FIFO
    scheduler offers free slots to jobs in submission order, so the older
    bucket keeps every slot it can use and the newer one backfills the
    slots its stragglers (a jumbo page, a slow partition) leave idle.  Two
    is enough for that backfill and keeps shuffle data in flight bounded at
    two buckets.  The calling
    thread commits each bucket as its job finishes, so commit order may
    differ from bucket order; a killed run resumes with the buckets that
    have no commit record.  If a bucket's job fails, the other in-flight
    bucket is cancelled and awaited, nothing more is committed, and the
    error is raised.
    """
    bucketed = pages.withColumn("_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))
    done = completed_buckets(spark, out_dir, n_buckets=n_buckets)
    todo = [b for b in range(n_buckets) if b not in done]
    queue = iter(todo)
    run_tag = f"checkpoint-{uuid.uuid4().hex}"
    rows_out = 0
    in_flight: dict[Future, int] = {}
    with ThreadPoolExecutor(_IN_FLIGHT, thread_name_prefix="checkpoint-bucket") as pool:
        try:
            while True:
                for b in islice(queue, _IN_FLIGHT - len(in_flight)):
                    part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
                    # wrapped per bucket: each gets its own copy of the
                    # caller's local properties, which its job tag extends
                    job = inheritable_thread_target(spark)(_write_bucket)
                    fut = pool.submit(
                        job, spark, part, stage_fn, f"{out_dir}/data/bucket={b}",
                        f"{run_tag}-{b}", time.perf_counter(),
                    )
                    in_flight[fut] = b
                if not in_flight:
                    break
                finished, _ = wait(in_flight, return_when=FIRST_COMPLETED)
                for fut in sorted(finished, key=in_flight.__getitem__):
                    lineage = fut.result()
                    b = in_flight.pop(fut)
                    _commit_bucket(out_dir, b, {"n_buckets": n_buckets, **lineage})
                    rows_out += lineage["rows"]
        except BaseException:
            # Cancel the other bucket in flight and wait for it; repeat the
            # cancel, since one that lands before its job is submitted (or
            # between two of its jobs) finds nothing to cancel.
            pending = set(in_flight)
            while pending:
                for fut in pending:
                    spark.sparkContext.cancelJobsWithTag(f"{run_tag}-{in_flight[fut]}")
                pending = wait(pending, timeout=0.5).not_done
            raise
    return {
        "completed": len(todo),
        "skipped": len(done),
        "rows_out": rows_out,
        "n_buckets": n_buckets,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back the committed output across all buckets."""
    return spark.read.option("basePath", f"{out_dir}/data").parquet(f"{out_dir}/data/bucket=*")


# ---------------------------------------------------------------------------
# round-level checkpointing for ITERATIVE operators (bpe_train /
# duplicate_clusters / k-means): the bucket protocol above shards one pass
# over the data; these operators instead iterate a driver loop whose only
# durable state per round is small (a merge list, a labels table, a handful
# of centroids).  Protocol mirrors the bucket log: state parquet (if any)
# BEFORE the round's commit record, atomic rename commit, resume = continue
# after the highest committed round.  A crash between state write and
# commit re-runs that round — idempotent because each round's state path is
# overwritten whole.
# ---------------------------------------------------------------------------


def _rounds_path(out_dir: str) -> Path:
    return Path(out_dir) / "_rounds"


def round_state_path(out_dir: str, round_no: int, name: str) -> str:
    """Deterministic per-round state directory (parquet) for DataFrames."""
    return str(Path(out_dir) / "state" / f"round_{round_no:06d}_{name}")


def committed_rounds(out_dir: str, params: Optional[dict] = None) -> list[dict]:
    """All committed round records in round order.

    Crash tolerance: a TRAILING truncated/corrupt record (power loss can
    make the rename durable before the data blocks) is dropped — the
    previous committed round is the safe resume point; a corrupt record in
    the MIDDLE of the log means real damage and raises.

    ``params``: the caller's operator parameters.  Every record that
    carries a "params" field must match exactly — resuming a checkpoint
    dir written by a different operator or with different knobs would
    otherwise silently continue from incompatible state (the same guard
    the bucket protocol applies to n_buckets).
    """
    p = _rounds_path(out_dir)
    if not p.is_dir():
        return []
    files = sorted(p.glob("round_*.json"))
    recs: list[Optional[dict]] = []
    for f in files:
        try:
            recs.append(json.loads(f.read_text()))
        except (json.JSONDecodeError, OSError):
            recs.append(None)
    while recs and recs[-1] is None:
        recs.pop()
    if any(r is None for r in recs):
        raise ValueError(
            f"corrupt round record mid-log under {p} — the checkpoint dir "
            "is damaged beyond the trailing-crash case; inspect or delete it"
        )
    if params is not None:
        for r in recs:
            got = r.get("params")
            if got is not None and got != params:
                raise ValueError(
                    f"checkpoint dir {out_dir} was written with params {got}; "
                    f"resume requested {params} — refusing to mix state"
                )
    return recs  # type: ignore[return-value]


def last_committed_round(
    out_dir: str, params: Optional[dict] = None
) -> Optional[dict]:
    """The record of the highest committed round, or None for a fresh run.

    Rounds commit sequentially with zero-padded names, so lexicographic
    order is numeric order and the last (readable) file is the resume
    point.  See committed_rounds for the crash-tolerance and params
    contract."""
    recs = committed_rounds(out_dir, params=params)
    return recs[-1] if recs else None


def commit_round(
    out_dir: str, round_no: int, meta: dict, params: Optional[dict] = None
) -> None:
    """Atomically AND durably record round ``round_no`` as complete:
    write + fsync the record, rename, fsync the directory — without the
    fsyncs a machine crash (the multi-hour-job failure mode this protocol
    exists for) can leave a durable rename pointing at zero-length data.
    ``params`` (JSON-scalar dict) is stored for the resume-compatibility
    check in committed_rounds."""
    p = _rounds_path(out_dir)
    p.mkdir(parents=True, exist_ok=True)
    rec = {"round": round_no, **meta}
    if params is not None:
        rec["params"] = params
    tmp = p / f".round_{round_no:06d}.json.tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps(rec))
        fh.flush()
        os.fsync(fh.fileno())
    tmp.rename(p / f"round_{round_no:06d}.json")
    try:
        dfd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # non-posix dir fsync: rename atomicity still holds


def prune_round_state(out_dir: str, before_round: int) -> None:
    """Best-effort removal of state directories for rounds < before_round:
    only the LAST committed round's state is ever read on resume, so
    superseded rounds are dead storage (a full labels/centroid copy per
    convergence check otherwise accretes forever).  Crash-safe: called
    AFTER the superseding commit, and a crash mid-prune just leaves
    garbage the next prune retries."""
    import re
    import shutil

    state = Path(out_dir) / "state"
    if not state.is_dir():
        return
    for d in state.iterdir():
        m = re.match(r"round_(\d+)_", d.name)
        if m and int(m.group(1)) < before_round:
            shutil.rmtree(d, ignore_errors=True)
