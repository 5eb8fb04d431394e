"""Fixed per-task cost of a Python stage, measured from the driver.

    python scripts/worker_setup.py [--tasks 4,16,64] [--reps 3] [--ship]

Run it with a source tree as cwd and on PYTHONPATH: the session comes from
that tree's ``get_spark``, so running the script in two checkouts (or through
``scripts/ab.py``) gives a before/after.  It prints one JSON object:

- ``tasks``: for an identity ``mapInArrow`` over the same 300 rows split into
  N tasks, the median wall time and the Python-worker CPU per task (utime +
  stime of the Python processes under this driver, read from /proc);
- ``noop_py_query_s`` / ``noop_jvm_query_s``: the median wall time of a
  4-task no-op query with and without an identity Python stage;
- ``probe``: for each worker, the ``zipimporter``s in
  ``sys.path_importer_cache``, the archives behind them, the median cost of
  one ``importlib.invalidate_caches()`` call, and the worker's parent command
  line (the daemon that forked it).

``--ship`` first ships the package as a zip through ``addPyFile``, as
``__spark_entry__`` does for drivers that build their own session.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def _python_cpu_s(root: int) -> float:
    """Summed utime + stime of the Python processes descended from ``root``."""
    tick = os.sysconf("SC_CLK_TCK")
    table = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        table[int(pid)] = (int(fields[1]), comm, (int(fields[11]) + int(fields[12])) / tick)
    seen, todo = set(), [root]
    while todo:
        parent = todo.pop()
        for pid, (ppid, _, _) in table.items():
            if ppid == parent and pid not in seen:
                seen.add(pid)
                todo.append(pid)
    return sum(table[p][2] for p in seen if table[p][1].startswith("python"))


def _identity(batches):
    yield from batches


def _probe(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    costs = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        costs.append(time.perf_counter() - t0)
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
        parent = fh.read().replace(b"\0", b" ").decode().strip()
    yield pa.RecordBatch.from_pydict(
        {
            "zipimporters": [len(zips)],
            "archives": [len({f.archive for f in zips})],
            "invalidate_ms": [1000 * statistics.median(costs)],
            "parent": [parent],
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", default="4,16,64")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--ship", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="worker-setup", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    if args.ship:
        import __spark_entry__

        __spark_entry__._ensure_package(spark)

    def identity_pass(n: int) -> tuple[float, float]:
        df = spark.range(0, 300, 1, n).selectExpr("id", "repeat('x', 200) AS s")
        c0, t0 = _python_cpu_s(os.getpid()), time.perf_counter()
        df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, _python_cpu_s(os.getpid()) - c0

    def jvm_pass() -> float:
        t0 = time.perf_counter()
        spark.range(0, 300, 1, 4).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for _ in range(2):  # start and warm every worker
        identity_pass(4)
    out: dict = {
        "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
        "ship": args.ship,
        "tasks": {},
    }
    for n in map(int, args.tasks.split(",")):
        runs = [identity_pass(n) for _ in range(args.reps)]
        out["tasks"][n] = {
            "wall_s": statistics.median(r[0] for r in runs),
            "cpu_ms_per_task": 1000 * statistics.median(r[1] for r in runs) / n,
        }
    out["noop_py_query_s"] = statistics.median(identity_pass(4)[0] for _ in range(10))
    out["noop_jvm_query_s"] = statistics.median(jvm_pass() for _ in range(10))
    schema = "zipimporters long, archives long, invalidate_ms double, parent string"
    out["probe"] = [r.asDict() for r in spark.range(0, 4, 1, 4).mapInArrow(_probe, schema).collect()]
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
