"""The benchmark workloads.

Each workload has three phases, driven by ``run.py``:

- ``prepare(spark, work_dir)``: build the inputs from the seed and
  load, cache or stage them (repeated on every set-up repetition);
- ``reference(spark, state)``: once per run, compute what every op is
  checked against (serial ``sc=None`` replays, driver-local
  predictions, or a warm-up pass over the query faces) and warm up;
- ``rounds()``: an endless sequence of rounds, each a list of ops;
  ``run_op(spark, state, op, ctx)`` runs one op, checks its output and
  returns the number of work items it completed (fits, rows scored,
  faces), raising ``Mismatch`` when the output is wrong.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

import numpy as np

import datagen


class Mismatch(Exception):
    """An op completed but its output differs from the reference."""


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def _close(a, b, what: str) -> None:
    _check(np.allclose(np.asarray(a, float), np.asarray(b, float), rtol=1e-9, atol=1e-12), what)


# ---- fit_grid_small ------------------------------------------------------


class FitGridSmall:
    """One op = a round of meta-estimator fits on a small matrix:
    grid search (4 candidates x 3 folds), randomized search (5 x 3)
    and one-vs-rest (10 classes) over ``LogisticRegression``."""

    name = "fit_grid_small"
    SIZES = {"full": 2000, "smoke": 300}

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.rows = self.SIZES[size]

    def prepare(self, spark, work_dir):
        X, y = datagen.classification(self.seed, self.rows)
        return {"X": X, "y": y, "X_eval": X[:500]}

    def _round(self, sc, state):
        from skdist_spark.ml import LogisticRegression
        from skdist_spark.operators import (
            DistGridSearchCV,
            DistOneVsRestClassifier,
            DistRandomizedSearchCV,
        )

        X, y = state["X"], state["y"]
        grid = DistGridSearchCV(
            LogisticRegression(max_iter=30), {"C": [0.01, 0.1, 1.0, 10.0]}, sc=sc, cv=3
        ).fit(X, y)
        rand = DistRandomizedSearchCV(
            LogisticRegression(max_iter=30),
            {"C": [0.01, 0.1, 1.0, 10.0, 100.0], "lr": [0.05, 0.1, 0.2]},
            sc=sc, n_iter=5, cv=3, random_state=self.seed,
        ).fit(X, y)
        ovr = DistOneVsRestClassifier(LogisticRegression(max_iter=30), sc=sc).fit(X, y)
        return grid, rand, ovr

    def _summary(self, fitted, X_eval):
        grid, rand, ovr = fitted
        out = {}
        for key, search in (("grid", grid), ("rand", rand)):
            res = search.cv_results_
            out[key] = {
                "mean": res["mean_test_score"],
                "rank": res["rank_test_score"],
                "params": res["params"],
                "pred": search.predict(X_eval),
            }
        out["ovr"] = {"pred": ovr.predict(X_eval), "proba": ovr.predict_proba(X_eval)}
        return out

    def reference(self, spark, state, ctx):
        with ctx.op("ref-round"):
            state["ref"] = self._summary(self._round(None, state), state["X_eval"])
        state["serial"] = {"round": ctx.serial_seconds("ref-round")}
        ctx.warm_up(lambda: self._round(spark, state))

    def rounds(self):
        while True:
            yield ["round"]

    def run_op(self, spark, state, op, ctx):
        got = self._summary(self._round(spark, state), state["X_eval"])
        ref = state["ref"]
        for key in ("grid", "rand"):
            _close(got[key]["mean"], ref[key]["mean"], f"{key} cv scores")
            _check(np.array_equal(got[key]["rank"], ref[key]["rank"]), f"{key} ranks")
            _check(got[key]["params"] == ref[key]["params"], f"{key} candidates")
            _check(np.array_equal(got[key]["pred"], ref[key]["pred"]), f"{key} predictions")
        _check(np.array_equal(got["ovr"]["pred"], ref["ovr"]["pred"]), "ovr predictions")
        _close(got["ovr"]["proba"], ref["ovr"]["proba"], "ovr probabilities")
        return 4 * 3 + 5 * 3 + len(np.unique(state["y"]))


# ---- batch_score ---------------------------------------------------------


class BatchScore:
    """One op = one scoring job over a cached frame of 64-dim arrays:
    ``predict_proba`` of a fitted logistic regression and ``predict``
    of a fitted random forest through ``get_prediction_udf``
    (``feature_type="vector"``), reduced to a checksum on the driver."""

    name = "batch_score"
    SIZES = {"full": (50_000, 8), "smoke": (5000, 2)}
    TRAIN_ROWS = 2000
    LOCAL_SLICE = 10_000
    # scoring jobs keep speeding up over their first several passes
    WARM_PASSES = 6

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.rows, self.files = self.SIZES[size]

    def prepare(self, spark, work_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        X, _ = datagen.classification(self.seed + 1, self.rows)
        path = os.path.join(work_dir, "score_input")
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, self.rows, self.files + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            flat = pa.array(X[lo:hi].ravel())
            offsets = pa.array(np.arange(0, (hi - lo + 1) * datagen.DIM, datagen.DIM, dtype=np.int32))
            table = pa.table({
                "row_id": np.arange(lo, hi, dtype=np.int64),
                "vec": pa.ListArray.from_arrays(offsets, flat),
            })
            pq.write_table(table, os.path.join(path, f"part-{i:04d}.parquet"))
        frame = spark.read.parquet(path).cache()
        frame.count()
        return {"X": X, "frame": frame}

    def reference(self, spark, state, ctx):
        from skdist_spark.ml import LogisticRegression
        from skdist_spark.operators import DistRandomForestClassifier

        Xt, yt = datagen.classification(self.seed, self.TRAIN_ROWS)
        lr = LogisticRegression().fit(Xt, yt)
        forest = DistRandomForestClassifier(
            n_estimators=8, max_depth=8, random_state=self.seed
        ).fit(Xt, yt)
        X = state["X"]
        row_w = np.arange(len(X)) % 7 + 1
        state["models"] = (lr, forest)
        state["ref"] = (
            float((lr.predict_proba(X) @ (np.arange(len(lr.classes_)) + 1.0)).sum()),
            int((forest.predict(X) * row_w).sum()),
        )
        part = X[: self.LOCAL_SLICE]
        t0 = time.perf_counter()
        lr.predict_proba(part)
        forest.predict(part)
        state["local_predict_s"] = time.perf_counter() - t0
        for _ in range(self.WARM_PASSES):
            ctx.warm_up(lambda: self._score(state))

    def _score(self, state):
        from pyspark.sql import functions as F

        from skdist_spark.operators import predict

        lr, forest = state["models"]
        proba = predict.get_prediction_udf(lr, method="predict_proba", feature_type="vector")
        label = predict.get_prediction_udf(forest, method="predict", feature_type="vector")
        scored = state["frame"].select(
            "row_id", proba("vec").alias("p"), label("vec").alias("c")
        )
        return scored.agg(
            F.sum(F.expr("aggregate(transform(p, (x, i) -> x * (i + 1)), 0D, (a, x) -> a + x)")),
            F.sum(F.col("c") * (F.col("row_id") % 7 + 1)),
            F.count(F.lit(1)),
        ).collect()[0]

    def rounds(self):
        while True:
            yield ["score"]

    def run_op(self, spark, state, op, ctx):
        s_proba, s_label, n = self._score(state)
        ref_proba, ref_label = state["ref"]
        _check(n == self.rows, "scored row count")
        _check(int(s_label) == ref_label, "forest label checksum")
        _check(abs(s_proba - ref_proba) <= 1e-9 * abs(ref_proba), "probability checksum")
        return self.rows


# ---- query_mix -----------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):  # pyspark Rows are tuples
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(f"{float(v):.6g}")
    return v


def result_digest(rows) -> tuple[int, int]:
    """Row count and an order-insensitive hash of the rows."""
    h = 0
    for r in rows:
        digest = hashlib.blake2b(repr(_norm(r)).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(digest, "little")) % (1 << 64)
    return len(rows), h


class QueryMix:
    """One op = one registry face from ``__spark_entry__.queries()``,
    built and collected; one round = every face once, in an order drawn
    from the seed. The faces read tables generated from the seed."""

    name = "query_mix"
    FACES = ("q3", "bm25_search", "stream_sessionize")
    SIZES = {"full": 0.3, "smoke": 0.1}
    # passes after the reference pass before measuring: the faces keep
    # speeding up over their first few passes
    WARM_PASSES = 2

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.scale = self.SIZES[size]

    def prepare(self, spark, work_dir):
        from skdist_spark.streaming import ops

        data = os.path.join(work_dir, "tables")
        datagen.write_tables(data, self.seed, self.scale)
        stage_root = os.path.join(work_dir, "stream_stage")
        # the program stages file-stream inputs under a fixed /tmp path;
        # stage them inside the run's own directory instead
        ops._stage_stream_dir = _in_dir_stager(stage_root)
        ops._stage_stream_dir(data)
        return {"sf_dir": data}

    def reference(self, spark, state, ctx):
        import __spark_entry__

        state["queries"] = __spark_entry__.queries()
        state["ref"] = {}
        for face in self._order():
            t0 = time.perf_counter()
            with ctx.op(f"ref-{face}"):
                state["ref"][face] = result_digest(
                    state["queries"][face](spark, state["sf_dir"]).collect()
                )
            _check(state["ref"][face][0] > 0, f"{face} returned no rows")
            print(f"# warm-up {face} {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        for _ in range(self.WARM_PASSES):
            for face in self._order():
                ctx.warm_up(lambda: state["queries"][face](spark, state["sf_dir"]).collect())

    def _order(self):
        order = list(self.FACES)
        random.Random(self.seed).shuffle(order)
        return order

    def rounds(self):
        order = self._order()
        while True:
            yield order

    def run_op(self, spark, state, op, ctx):
        with ctx.span("query.build"):
            df = state["queries"][op](spark, state["sf_dir"])
        with ctx.span("query.collect"):
            rows = df.collect()
        ctx.catalyst(df)
        _check(result_digest(rows) == state["ref"][op], f"{op} rows differ from warm-up pass")
        return 1


def _in_dir_stager(root):
    def stage_stream_dir(sf_dir: str) -> str:
        stage = os.path.join(root, hashlib.md5(sf_dir.encode()).hexdigest()[:8])
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, "events.parquet"), link)
        return stage

    return stage_stream_dir


WORKLOADS = {w.name: w for w in (FitGridSmall, BatchScore, QueryMix)}
