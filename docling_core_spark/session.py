"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: fat binary HTML rows through Arrow-batch
UDFs.  On a real cluster the same settings apply per executor; parallelism
comes from the input split count (``spark.sql.files.maxPartitionBytes``) and
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docling-core-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
    arrow_batch_bytes: str = "16m",
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    Arrow batching is bounded BY BYTES (maxBytesPerBatch, Spark 4's direct
    knob): fat HTML rows (10-500 KB) close a batch at ~16 MB — a tighter
    peak-memory bound than the old 256-row cap ever gave — while narrow
    rows (hash positions, feature dims, doc ids) now fill 8192-row batches
    instead of paying the Python-boundary round trip 32x as often.  The
    row cap is a backstop for pathologically tiny rows.

    Python workers are forked by ``docling_core_spark.pydaemon``, not
    ``pyspark.daemon``.  Every task calls ``importlib.invalidate_caches()``,
    which on CPython < 3.13 makes each cached ``zipimporter`` re-read its
    whole archive: ~0.17 s of CPU per task, paid by every Python stage
    (extract, main_content, classifier, bloom, ...).  The package daemon
    re-reads an archive only when it changed.  On Python >= 3.13 it adds
    nothing to ``pyspark.daemon``.  It relies on one invariant: the package
    root is on ``PYTHONPATH`` before the JVM starts (exported below), because
    Spark launches the daemon before any ``addPyFile``, so ``--py-files``
    alone cannot provide it.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    # Executor python workers, and the daemon that forks them, must be able
    # to import this package regardless of the driver's cwd: export the repo
    # root on PYTHONPATH before the JVM (and hence the daemon) starts.  On a
    # real cluster the package must likewise be importable by the executors'
    # python at launch (installed, or on spark.executorEnv.PYTHONPATH);
    # `addPyFile` / `--py-files` zips reach the workers per task, after the
    # daemon has started.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", arrow_batch_bytes)
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.python.daemon.module", "docling_core_spark.pydaemon")
    )
    return builder.getOrCreate()
