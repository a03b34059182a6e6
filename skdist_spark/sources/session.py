"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness-at-scale: AQE (runtime re-planning + skew-join
handling), Arrow for pandas UDF exchange, and a shuffle partition count
derived from parallelism rather than the 200 default. On a real
cluster these become spark-submit conf; locally they make local[N]
behave like a small cluster.

Python workers start from ``skdist_spark.sources.worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. On
CPython 3.11 the stock worker re-reads the central directory of
pyspark.zip, py4j and the spark-core jar before every task: 16
zipimporters, 26,672 entries, 0.21 s of a 0.29 s one-task no-op job on a
4-core x86-64 host (local[4]). The daemon makes that invalidation
lazy (see its docstring), so the same job takes 0.11-0.16 s;
``tools/worker_overhead.py`` prints both. The repo root goes on the
executors' PYTHONPATH so the daemon imports from any working
directory. Sessions built without ``get_session`` (the driver contract
in ``__spark_entry__``, ``examples/``) keep the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the skdist_spark package
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def get_session(app_name: str = "skdist_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "skdist_spark.sources.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()
