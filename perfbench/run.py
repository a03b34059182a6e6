"""skdist_spark benchmark: one workload, one closed-loop client, local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload fit_grid_small --seed 1 --seconds 12 --trace 0

A run sets up ``SETUP_REPS`` times (session start, input generation and
caching or staging), computes its references once and warms up, then
runs rounds of ops until ``--seconds`` have passed, checking every op's
output. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench_out/``. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.session_s": "s",
    "sources.setup_load_s": "s",
    "sources.load_s": "s",
    "engine.run_tasks_s": "s",
    "engine.calls": "count",
    "engine.tasks": "count",
    "engine.partitions": "count",
    "engine.broadcast_bytes": "bytes",
    "engine.result_bytes": "bytes",
    "engine.useful_share": "ratio",
    "ml.serial_fit_s": "s",
    "ml.predict_s": "s",
    "predict.job_s": "s",
    "predict.python_s": "s",
    "predict.rows_per_task": "rows",
    "query.build_s": "s",
    "query.collect_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "stream.triggers": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.addbatch_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.deserialize_s": "s",
    "spark.gc_s": "s",
    "spark.python_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "host.control_s": "s",
    "fits_per_s": "fits/s",
    "rows_scored_per_s": "rows/s",
    "failed_op_share": "ratio",
    "trace.ops_per_s": "ops/s",
}


class RunContext:
    """Hooks the workloads call; they record only when a tracer is set."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.catalyst_ms: defaultdict = defaultdict(float)

    @contextmanager
    def op(self, op_id: str):
        if self.tracer is None:
            yield
            return
        prev, self.tracer.op_id = self.tracer.op_id, op_id
        try:
            yield
        finally:
            self.tracer.op_id = prev

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def serial_seconds(self, op_id: str) -> float:
        if self.tracer is None:
            return 0.0
        return sum(
            s["end"] - s["start"]
            for s in self.tracer.spans_named("engine.run_tasks", op_id)
            if not s["distributed"]
        )

    def warm_up(self, fn) -> None:
        with self.op("warm-up"):
            fn()

    def catalyst(self, df) -> None:
        if self.tracer is None:
            return
        from tracing import catalyst_phases

        for phase, ms in catalyst_phases(df).items():
            self.catalyst_ms[(self.tracer.op_id, phase)] += ms


def _prepare_environment(work: str) -> None:
    """Keep every file Spark, its Python workers and the program write
    inside the run's own directory, and launch the Python workers with
    the package importable, the way it is deployed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    ).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _check_workers_import(spark) -> None:
    def probe(_):
        import skdist_spark  # noqa: F401

        yield 1

    spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    import workloads
    from skdist_spark.sources import session as session_mod

    tracer = None
    if args.trace:
        import tracing

        if args.workload == "query_mix":
            import __spark_entry__  # noqa: F401  (bind every module before wrapping)
        import skdist_spark.operators  # noqa: F401

        tracer = tracing.Tracer()
        tracer.install()
    ctx = RunContext(tracer)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.size)
    work = args.work

    spark = None
    setup_s, load_s = [], []
    for rep in range(SETUP_REPS if args.size == "full" else 1):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = session_mod.get_session("perfbench", CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        rep_dir = os.path.join(work, f"setup{rep}")
        state = wl.prepare(spark, rep_dir)
        t2 = time.perf_counter()
        setup_s.append(t2 - t0)
        load_s.append(t2 - t1)
    _check_workers_import(spark)

    t0 = time.perf_counter()
    wl.reference(spark, state, ctx)
    once_s = time.perf_counter() - t0

    streams = None
    if tracer is not None:
        import tracing

        streams = tracing.StreamRecorder()
        streams.attach(spark)

    sc = spark.sparkContext
    ops: list[dict] = []
    t_start = time.perf_counter()
    for round_no, round_ops in enumerate(wl.rounds()):
        for op in round_ops:
            op_id = f"op{len(ops)}"
            rec = {"op": op, "id": op_id, "round": round_no, "ok": False, "items": 0}
            if tracer is not None:
                sc.setJobGroup(op_id, op_id)
            t0 = time.perf_counter()
            try:
                with ctx.op(op_id):
                    rec["items"] = wl.run_op(spark, state, op, ctx)
                rec["ok"] = True
            except workloads.Mismatch as exc:
                print(f"# {op_id} {op}: wrong output: {exc}", file=sys.stderr)
            except Exception:  # a failed op is counted, and the run goes on
                print(f"# {op_id} {op}: failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            rec["s"] = time.perf_counter() - t0
            if tracer is not None:
                sc.setJobGroup("perfbench", "between ops")
                _attribute_op(spark, tracer, streams, rec)
            ops.append(rec)
        if time.perf_counter() - t_start >= args.seconds:
            break

    loop_s = time.perf_counter() - t_start
    print(
        f"# setup reps {[round(x, 2) for x in setup_s]} s, reference + warm-up {once_s:.2f} s,"
        f" {len(ops)} ops in {loop_s:.2f} s: {[round(r['s'], 2) for r in ops]}",
        file=sys.stderr,
    )
    failed = sum(not r["ok"] for r in ops)
    ops_per_s = _median_round_rate(ops)
    if not args.trace:
        metrics = {
            "setup_s": _median(setup_s) + once_s,
            "ops_per_s": ops_per_s,
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        units = END_TO_END
    else:
        metrics = _per_layer(spark, tracer, ctx, wl, state, ops, ops_per_s, load_s)
        streams.detach(spark)
        tracer.uninstall()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = PER_LAYER
    spark.stop()
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def _median_round_rate(ops) -> float:
    """Ops per second of the median round: a round is the same mix of
    ops every time, so its rate is comparable across rounds, and the
    median keeps one slow round on a shared host from moving it."""
    rounds: defaultdict = defaultdict(list)
    for r in ops:
        rounds[r["round"]].append(r["s"])
    return _median([len(ts) / sum(ts) for ts in rounds.values()])


def _attribute_op(spark, tracer, streams, rec) -> None:
    """Spark metrics of one op: its own job group plus the job groups of
    the streaming queries it ran."""
    import tracing

    runs, progress = streams.take()
    jobs = tracing.job_ids_for_groups(spark, [rec["id"], *runs])
    rec["spark"] = tracing.stage_metrics(spark, jobs)
    rec["triggers"] = [p["duration_ms"] for p in progress]
    rec["engine_result_bytes"] = sum(
        tracing.stage_metrics(spark, s.get("job_ids", []))["result_bytes"]
        for s in tracer.spans_named("engine.run_tasks", rec["id"])
        if s["distributed"]
    )


def _per_layer(spark, tracer, ctx, wl, state, ops, ops_per_s, load_s) -> dict:
    n = len(ops)
    m: dict = dict.fromkeys(PER_LAYER, 0.0)

    def per_op(total):
        return total / n

    m["sources.session_s"] = _median(
        [s["end"] - s["start"] for s in tracer.spans_named("sources.get_session")]
    )
    m["sources.setup_load_s"] = _median(load_s)
    m["sources.load_s"] = per_op(sum(tracer.total("sources.load_table", r["id"]) for r in ops))

    calls = [
        s for r in ops for s in tracer.spans_named("engine.run_tasks", r["id"]) if s["distributed"]
    ]
    if calls:
        wall = sum(s["end"] - s["start"] for s in calls)
        m["engine.run_tasks_s"] = per_op(wall)
        m["engine.calls"] = per_op(len(calls))
        m["engine.tasks"] = per_op(sum(s["tasks"] for s in calls))
        m["engine.partitions"] = per_op(sum(s["partitions"] for s in calls))
        m["engine.broadcast_bytes"] = per_op(sum(s["broadcast_bytes"] for s in calls))
        m["engine.result_bytes"] = per_op(sum(r["engine_result_bytes"] for r in ops))
        serial = state.get("serial", {})
        if serial:
            serial_total = sum(serial.get(r["op"], 0.0) for r in ops)
            slots = sum((s["end"] - s["start"]) * min(CPUS, s["tasks"]) for s in calls)
            m["engine.useful_share"] = serial_total / slots
            m["ml.serial_fit_s"] = per_op(serial_total)

    spark_tot: defaultdict = defaultdict(float)
    for r in ops:
        for k, v in r["spark"].items():
            spark_tot[k] += v
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "deserialize_s", "gc_s",
              "python_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = per_op(spark_tot[k])

    if wl.name == "batch_score":
        m["ml.predict_s"] = state["local_predict_s"]
        m["predict.job_s"] = per_op(sum(r["s"] for r in ops))
        m["predict.python_s"] = m["spark.python_s"]
        # rows per scoring task: the widest stage of a scoring job is the scan
        m["predict.rows_per_task"] = sum(r["items"] for r in ops) / spark_tot["widest_stage_tasks"]
        m["rows_scored_per_s"] = sum(r["items"] for r in ops) / sum(r["s"] for r in ops)
    if wl.name.startswith("fit_"):
        m["fits_per_s"] = sum(r["items"] for r in ops) / sum(r["s"] for r in ops)

    if wl.name == "query_mix":
        m["query.build_s"] = per_op(sum(tracer.total("query.build", r["id"]) for r in ops))
        m["query.collect_s"] = per_op(sum(tracer.total("query.collect", r["id"]) for r in ops))
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = per_op(
                sum(ctx.catalyst_ms.get((r["id"], phase), 0.0) for r in ops)
            )
        triggers = [t for r in ops for t in r["triggers"]]
        m["stream.triggers"] = per_op(len(triggers))
        m["stream.trigger_ms_p50"] = _median([t.get("triggerExecution", 0) for t in triggers])
        m["stream.addbatch_ms"] = per_op(sum(t.get("addBatch", 0) for t in triggers))

    m["failed_op_share"] = sum(not r["ok"] for r in ops) / n
    m["trace.ops_per_s"] = ops_per_s
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
    m["host.control_s"] = time.perf_counter() - t0
    return m


def _stop_jvm() -> None:
    """Stop the Spark session and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs and one set-up, for the self-test")
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import skdist_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the finally below: stop the JVM, remove the work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_environment(args.work)
    try:
        result = run(args)
    finally:
        _stop_jvm()
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
