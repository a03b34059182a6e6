"""Smoke self-test of the benchmark.

Runs every workload at a tiny size (``--size smoke``), untraced and
traced, and checks that each run exits 0, passes its own output
checks, and prints exactly the metrics ``BENCHMARK.json`` lists, each
with its unit. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expected() -> tuple[dict[int, dict[str, str]], list[str]]:
    """Metric name -> unit per trace mode, and the workload names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }, [w["name"] for w in spec["workloads"]]


def check_run(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        errors.append(f"{where}: correct={result['correct']} failed={result['failed']}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metrics/units differ: got {got}, want {want}")
    if trace == 0:
        errors += [f"{where}: {k} is {v['value']}" for k, v in result["metrics"].items()
                   if not v["value"] > 0]
    return errors


def main(argv: list[str]) -> int:
    want, workloads = expected()
    sys.path.insert(0, HERE)
    import run

    errors = []
    if want[0] != run.END_TO_END or want[1] != run.PER_LAYER:
        errors.append("BENCHMARK.json and run.py list different metrics or units")
    for workload in argv or workloads:
        for trace in (0, 1):
            errs = check_run(workload, trace, want[trace])
            print(f"{workload} --trace {trace}: {'ok' if not errs else 'FAILED'}")
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
