"""Distributed task-grid execution engine.

The reference's core trick (skdist/distribute/search.py:410-437,
ensemble, multiclass, eliminate — all variants of it) is: enumerate a
grid of small independent training tasks, broadcast the training data
once, run the tasks as Spark tasks, collect small results.

This rebuild expresses that Spark-first: the grid is a one-row-per-
partition DataFrame executed through ``mapInPandas`` (Arrow-batched),
with results returned as pickled payloads in a binary column. Compared
to the reference's ``sc.parallelize(...).map``, the task set is visible
to Catalyst/AQE, results stream back through Arrow, and the same code
path works on Spark Connect clusters where raw RDDs are unavailable.

Packing departs from the reference, which runs one Spark task per
grid task (base.py:53). Each Python Spark task carries a fixed cost
far above a small model fit: on a 4-core x86-64 host (local[4]), 37
no-op tasks took 2.4-2.6 s one per partition and 0.3 s packed into 4.
Most of that cost was the stock Python worker re-reading the zip
directories of pyspark.zip, py4j and the spark-core jar before every
task (0.21 s of a 0.29 s one-task job on CPython 3.11). Sessions from
``get_session`` start their workers from ``sources/worker_daemon.py``,
which makes that re-read lazy; the same job then takes 0.11-0.16 s
(``tools/worker_overhead.py`` prints both). So ``partitions="auto"`` runs
``min(n_tasks, defaultParallelism)`` Spark tasks, and partition ``p``
runs grid tasks ``p, p+n, p+2n, ...`` (stride, not contiguous blocks,
so slow candidates of a candidate-major grid spread across cores).

Scale posture: the collected payloads are (score, params, small
model) tuples — never training data — so driver memory stays O(#tasks),
and the broadcast is one copy per executor regardless of task count.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterable, Sequence
from typing import Any

import numpy as np


def resolve_spark(sc) -> tuple[Any | None, Any | None]:
    """Accept SparkSession, SparkContext, or None.

    Returns (spark_session, spark_context); (None, None) -> run locally.
    The reference accepts a sparkContext argument everywhere; we keep
    that API but prefer a session when given one.
    """
    if sc is None:
        return None, None
    # SparkSession
    if hasattr(sc, "sparkContext"):
        return sc, sc.sparkContext
    # SparkContext -> find/create the session on top of it
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = SparkSession(sc)
    return spark, sc


def parse_partitions(partitions, n_tasks: int) -> int:
    """Number of Spark tasks that run ``n_tasks`` grid tasks.

    ``'auto'`` (or None) -> ``min(n_tasks, defaultParallelism)`` of the
    active SparkContext: one Spark task per core rather than the
    reference's one per grid task (see the module docstring for the
    measured reason). An integer is taken as given; partitions beyond
    ``n_tasks`` run nothing.
    """
    if partitions not in (None, "auto"):
        return max(1, int(partitions))
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    parallelism = active.defaultParallelism if active is not None else n_tasks
    return max(1, min(n_tasks, parallelism))


def run_tasks(
    sc,
    tasks: Sequence[Any],
    work_fn: Callable[[Any, Any], Any],
    shared: Any = None,
    partitions="auto",
) -> list[Any]:
    """Run ``work_fn(task, shared)`` for every task, preserving order.

    With no Spark handle, runs serially (reference parity: joblib path).
    With Spark, broadcasts ``shared`` + the task list once and fans out
    via a partition-id DataFrame -> mapInPandas, each Spark task running
    its stride of the grid (see ``parse_partitions``).
    """
    tasks = list(tasks)
    if not tasks:
        return []
    spark, context = resolve_spark(sc)
    if spark is None:
        return [work_fn(t, shared) for t in tasks]

    n_tasks = len(tasks)
    n_parts = parse_partitions(partitions, n_tasks)
    # cloudpickle (vendored in pyspark) so closures/lambdas work as work_fn.
    # Register every skdist_spark module for BY-VALUE pickling: python
    # workers then need no skdist_spark on their PYTHONPATH — the code
    # travels inside the broadcast, like a self-shipping UDF.
    import sys

    from pyspark import cloudpickle

    if hasattr(cloudpickle, "register_pickle_by_value"):
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("skdist_spark") and mod is not None:
                try:
                    cloudpickle.register_pickle_by_value(mod)
                except Exception:
                    pass

    bc = context.broadcast(cloudpickle.dumps((tasks, shared, work_fn)))

    def _run_stride(batches):
        import pandas as pd
        from pyspark import cloudpickle as cp

        tasks_l, shared_l, fn = pickle.loads(bc.value)
        for pdf in batches:
            ids = [
                i for part in pdf["part_id"].tolist()
                for i in range(part, n_tasks, n_parts)
            ]
            # cloudpickle on the worker too: results may hold instances of
            # classes that traveled by value and differ from importables
            payloads = [cp.dumps(fn(tasks_l[i], shared_l)) for i in ids]
            yield pd.DataFrame({"task_id": ids, "payload": payloads})

    # spark.range(n, numPartitions=n) puts exactly one id in each
    # partition, so partition p holds the row p and runs its stride
    part_df = spark.range(0, n_parts, 1, n_parts).withColumnRenamed("id", "part_id")
    try:
        out_rows = part_df.mapInPandas(
            _run_stride, schema="task_id long, payload binary"
        ).collect()
    finally:
        # destroy, not unpersist: it also deletes the driver's pickled
        # copy under the SparkContext temp dir
        bc.destroy()
    # keyed by task id, not by value: a work_fn may legitimately return None
    results = {row["task_id"]: pickle.loads(bytes(row["payload"])) for row in out_rows}
    if len(results) != n_tasks:
        missing = sorted(set(range(n_tasks)) - results.keys())
        raise RuntimeError(f"distributed tasks lost results for ids {missing[:5]}...")
    return [results[i] for i in range(n_tasks)]


def safe_indexing(X, indices):
    """Row-subset numpy arrays, pandas frames, or python sequences."""
    if X is None:
        return None
    if hasattr(X, "iloc"):
        return X.iloc[indices]
    X = np.asarray(X) if not isinstance(X, np.ndarray) else X
    return X[indices]


def strip_spark(obj) -> None:
    """Remove spark handles so the fitted estimator pickles cleanly
    (reference behavior: `del self.sc` at end of every fit)."""
    for attr in ("sc", "_spark"):
        if hasattr(obj, attr):
            try:
                delattr(obj, attr)
            except AttributeError:
                pass
    inner = getattr(obj, "estimator", None)
    if inner is not None and hasattr(inner, "sc"):
        try:
            delattr(inner, "sc")
        except AttributeError:
            pass


def rankdata_min(values: np.ndarray) -> np.ndarray:
    """scipy.stats.rankdata(method='min') for 1-D arrays (ascending)."""
    values = np.asarray(values)
    order = np.argsort(values, kind="mergesort")
    ranks = np.empty(len(values), dtype=np.int32)
    rank = 1
    for i, idx in enumerate(order):
        if i > 0 and values[idx] != values[order[i - 1]]:
            rank = i + 1
        ranks[idx] = rank
    return ranks
