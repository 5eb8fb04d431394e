"""Overlapped checkpoint buckets: two bucket jobs in flight, commits on the
calling thread, and a failing bucket that cancels its in-flight sibling."""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import docling_core_spark.sources.checkpoint as cp
from docling_core_spark.sources.web_pages import web_pages_df

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 4

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available")


def _stage(part):
    return part.select(
        "url",
        F.length("html").alias("html_bytes"),
        F.lit(None).cast("string").alias("error"),
    )


def _rows(spark, out_dir):
    return sorted(map(tuple, cp.read_output(spark, out_dir).collect()))


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    group = f"overlap-test-{time.perf_counter_ns()}"
    sc.setJobGroup(group, "checkpoint overlap test")
    yield group
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _group_jobs(spark, group, active=False):
    sc = spark.sparkContext
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    return jobs & set(tracker.getActiveJobsIds()) if active else jobs


def test_bucket_jobs_overlap_in_the_callers_job_group(spark, tmp_path, job_group, monkeypatch):
    pages = web_pages_df(spark, SF_DIR).limit(60)
    caller = threading.get_ident()
    stage_threads: list[int] = []
    commit_threads: list[int] = []
    lock = threading.Lock()
    # the first two stage_fn calls wait for each other: this passes only if
    # two buckets are in flight at once
    both_in_flight = threading.Barrier(2, timeout=60)

    def stage(part):
        with lock:
            stage_threads.append(threading.get_ident())
            first_two = len(stage_threads) <= 2
        if first_two:
            both_in_flight.wait()
        return _stage(part)

    orig_commit = cp._commit_bucket

    def commit(out_dir, bucket, lineage):
        commit_threads.append(threading.get_ident())
        orig_commit(out_dir, bucket, lineage)

    monkeypatch.setattr(cp, "_commit_bucket", commit)
    out = str(tmp_path / "run")
    before = _group_jobs(spark, job_group)
    summary = cp.run_checkpointed(spark, pages, out, stage, n_buckets=N_BUCKETS)

    assert summary["completed"] == N_BUCKETS and summary["rows_out"] == 60
    assert len(stage_threads) == N_BUCKETS and caller not in stage_threads
    assert commit_threads == [caller] * N_BUCKETS
    # every bucket's write ran in the caller's group
    assert len(_group_jobs(spark, job_group) - before) >= N_BUCKETS
    recs = [json.loads(p.read_text()) for p in (Path(out) / "_progress").glob("*.json")]
    assert sorted(r["bucket"] for r in recs) == list(range(N_BUCKETS))
    assert sum(r["rows"] for r in recs) == 60
    assert all(r["errors"] == 0 and r["wall_sec"] > 0 for r in recs)


def test_failed_bucket_cancels_its_sibling_and_resumes_clean(spark, tmp_path, job_group):
    pages = web_pages_df(spark, SF_DIR).limit(60).cache()
    pages.count()
    buckets = pages.select(
        "url", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int").alias("b")
    ).collect()
    # poison a row of bucket 0: buckets 0 and 1 are the first two submitted
    poison = min(r["url"] for r in buckets if r["b"] == 0)
    assert any(r["b"] == 1 for r in buckets)
    sibling_sleep_s = 30.0

    def sleepy(batches):
        import time as _time

        for batch in batches:
            _time.sleep(sibling_sleep_s)
            yield batch

    def failing_stage(part):
        staged = _stage(part).withColumn(
            "error",
            F.when(F.col("url") == poison, F.raise_error(F.lit("poison row")))
            .otherwise(F.col("error")),
        )
        return staged.mapInArrow(sleepy, staged.schema)

    out = str(tmp_path / "run")
    before = _group_jobs(spark, job_group)
    t0 = time.perf_counter()
    with pytest.raises(Exception, match="poison row"):
        cp.run_checkpointed(spark, pages, out, failing_stage, n_buckets=N_BUCKETS)
    elapsed = time.perf_counter() - t0

    assert 0 not in cp.completed_buckets(spark, out)
    assert _group_jobs(spark, job_group, active=True) == set()
    # the sibling's job ran in the group too, and was cancelled, not waited out
    assert len(_group_jobs(spark, job_group) - before) >= 2
    assert elapsed < sibling_sleep_s, elapsed

    resumed = cp.run_checkpointed(spark, pages, out, _stage, n_buckets=N_BUCKETS)
    assert resumed["completed"] + resumed["skipped"] == N_BUCKETS
    clean = str(tmp_path / "clean")
    cp.run_checkpointed(spark, pages, clean, _stage, n_buckets=N_BUCKETS)
    assert _rows(spark, out) == _rows(spark, clean)
    pages.unpersist()
