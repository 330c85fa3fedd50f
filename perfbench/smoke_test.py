"""Smoke test of the benchmark itself, at sf0.001 and the shortest run.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all in BENCHMARK.json) it runs the
benchmark untraced and traced and checks that

* the last stdout line is the result object, every metric of the mode
  is printed by name with its unit, and ``failed`` is 0 (error rate 0;
  a run also fails when a metric it must measure is missing);
* in the traced run, every Spark-job span and micro-batch span has an
  op span as its parent.

Over all workloads run, every per-layer metric of BENCHMARK.json must
be measured by some workload (the result file lists the measured ones).

Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, spec: dict) -> set[str]:
    """Check both modes of ``workload``; returns its measured per-layer
    metric names."""
    measured: set[str] = set()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = run(workload, trace)
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {n: m.get("unit") for n, m in result["metrics"].items()}
        if got != want:
            raise SystemExit(f"{workload} trace={trace}: metrics/units differ: "
                             f"{sorted(set(got.items()) ^ set(want.items()))}")
        if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
            raise SystemExit(f"{workload} trace={trace}: error rate not 0: {result}")
        if trace:
            base = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed1-trace1")
            with open(base + ".json") as fh:
                measured = set(json.load(fh)["per_layer"])
            with open(base + ".trace.json") as fh:
                spans = json.load(fh)["spans"]
            ops = {s["id"] for s in spans if s["parent"] is None}
            leaves = [s for s in spans if s["name"] in ("spark_job", "micro_batch")]
            orphans = [s["id"] for s in leaves if s["parent"] not in ops]
            if not leaves or orphans:
                raise SystemExit(f"{workload}: {len(leaves)} job/batch spans, "
                                 f"orphans {orphans[:5]}")
        print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)
    return measured


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    measured: set[str] = set()
    for workload in workloads:
        measured |= check(workload, spec)
    if argv:
        return 0  # per-layer coverage needs every workload
    unmeasured = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    if unmeasured:
        raise SystemExit(f"per-layer metrics no workload measures: {unmeasured}")
    print(f"ok: {len(spec['per_layer'])} per-layer metrics measured", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
