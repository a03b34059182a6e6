"""Print the fixed cost of a Python Spark task, with and without the
skdist_spark worker daemon.

For a ``get_session`` session and for a vanilla ``local[N]`` session
(what the driver contract and ``examples/`` build), one JSON line each:

- ``noop_job_s_p50``: median wall of a 1-partition no-op RDD job;
- ``zipimporters``: zipimporters in the worker's ``sys.path_importer_cache``;
- ``invalidate_caches_ms_p50``: median time of ``importlib.invalidate_caches()``
  in the worker, which ``pyspark.worker_util.setup_spark_files`` calls
  before every task;
- ``lazy_zip_invalidation``: whether the worker runs the daemon's
  patched ``zipimporter.invalidate_caches``.

On CPython 3.11 without the daemon, ``invalidate_caches_ms_p50`` reads
~200 ms and the no-op job takes ~0.2 s longer; the zipimporter count
(16 with Spark 4.1) is the same either way.

Usage: python tools/worker_overhead.py [--cpus 4] [--jobs 15]
       [--session both|get_session|vanilla]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _worker_stats(_):
    import importlib
    import os
    import statistics
    import sys
    import time
    import zipimport

    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        times.append(time.perf_counter() - t0)
    code = zipimport.zipimporter.invalidate_caches.__code__
    yield {
        "zipimporters": len(importers),
        "invalidate_caches_ms_p50": round(statistics.median(times) * 1000, 2),
        "lazy_zip_invalidation": os.path.basename(code.co_filename) == "worker_daemon.py",
    }


def _skdist_session(cpus: int):
    from skdist_spark.sources.session import get_session

    return get_session("skdist_spark-worker-overhead", cpus=cpus)


def _vanilla_session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


SESSIONS = {"get_session": _skdist_session, "vanilla": _vanilla_session}


def probe(spark, name: str, jobs: int) -> dict:
    sc = spark.sparkContext
    rdd = sc.parallelize([0], 1)
    for _ in range(3):  # start the daemon and a worker
        rdd.map(lambda x: x).collect()
    walls = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        rdd.map(lambda x: x).collect()
        walls.append(time.perf_counter() - t0)
    stats = rdd.mapPartitions(_worker_stats).collect()[0]
    return {"session": name, "noop_job_s_p50": round(statistics.median(walls), 3), **stats}


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--cpus", type=int, default=4)
    parser.add_argument("--jobs", type=int, default=15)
    parser.add_argument("--session", choices=("both", *SESSIONS), default="both")
    args = parser.parse_args()

    if args.session == "both":
        # one process per session: a JVM keeps the first session's conf
        # as system properties, so a later vanilla session would inherit it
        for name in SESSIONS:
            subprocess.run(
                [sys.executable, __file__, "--cpus", str(args.cpus),
                 "--jobs", str(args.jobs), "--session", name],
                check=True,
            )
        return
    spark = SESSIONS[args.session](args.cpus)
    print(json.dumps(probe(spark, args.session, args.jobs)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
