"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_suite,feature_store}
                             --seed N --seconds S --trace {0,1} [--sf X]

Run from the root of a checkout of the repository.  Each run is one
fresh process: it isolates its temporary files in a per-run directory,
starts Spark on ``local[<nproc>]``, generates its inputs from the seed,
drives the workload as one closed-loop client, checks every output, and
prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones.  The full result, stamped with the code identity and machine, and
(traced runs) the span trace and op ledger go to ``.perfbench_out/``.
"""

from __future__ import annotations

T_PROCESS = __import__("time").perf_counter()

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "ml_feature_store_enterprise_grade_spark"
WORKLOADS = ("query_suite", "feature_store")
#: Driver heap of the benchmark's Spark session.
DRIVER_MEM = "1g"
#: Timed runs of the calibration job, after one untimed warm-up run.
CALIBRATION_REPEATS = 3
#: Per-layer metrics every traced run produces, beside the workload's own.
COMMON_LAYER = ("session.start_s", "bench.calibration_ms", "bench.trace_overhead_pct")

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(workload: str) -> str:
    """Point every temporary location of this process, the JVM and its
    workers at a fresh per-run directory inside the checkout."""
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "pyspark-shell",
    ))
    return run_dir


def stamp(spark, args, sf: float | None) -> dict:
    """Identity of the code, machine and settings behind a result."""
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None  # a plain checkout: the source digest identifies the code
    digest = hashlib.sha256()
    for base in (os.path.join(ROOT, ENGINE), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    digest.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        digest.update(fh.read())
    import pyspark

    return {
        "git_sha": sha,
        "source_sha256": digest.hexdigest()[:16],
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": bool(args.trace),
        "sf": sf,
    }


class Context:
    """What a workload gets: the session, the recorder, its knobs."""

    def __init__(self, spark, rec, args, run_dir: str):
        self.spark = spark
        self.rec = rec
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.setup_s = math.nan
        self.sf_used: float | None = None
        self.layer: dict[str, float] = {}
        self._t_mark = time.perf_counter()
        #: Seconds per phase; up to ``end_setup`` they sum to ``setup_s``.
        self.phases: dict[str, float] = {"session": self._t_mark - T_PROCESS}

    def mark(self, phase: str) -> None:
        """Record the seconds spent since the previous mark (set-up
        breakdown in the result file)."""
        now = time.perf_counter()
        self.phases[phase] = now - self._t_mark
        self._t_mark = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def sf(self, default: float) -> float:
        """The scale factor to use: ``--sf`` if given, else ``default``."""
        self.sf_used = self.args.sf or default
        return self.sf_used

    def end_setup(self) -> None:
        """Close the set-up phase: ``setup_s`` is process start → now."""
        self.setup_s = time.perf_counter() - T_PROCESS

    def trace_overhead(self, traced: float, untraced: float) -> None:
        self.layer["bench.trace_overhead_pct"] = (traced / untraced - 1.0) * 100.0


def calibrate(spark) -> float:
    """A frozen tiny Spark job (co-tenant load indicator): the median
    ms of its timed runs after one run that warms the JVM.  It runs
    after the workload, so the cold pass still meets a fresh session."""
    import statistics

    from pyspark.sql import functions as F

    times = []
    for _ in range(CALIBRATION_REPEATS + 1):
        t0 = time.perf_counter()
        (spark.range(0, 200_000, numPartitions=4)
         .groupBy((F.col("id") % 97).alias("k"))
         .agg(F.sum("id").alias("s"))
         .write.format("noop").mode("overwrite").save())
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times[1:])


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its workers have exited."""
    from harness import descendants
    from pyspark import SparkContext

    jvm = int(spark._jvm.ProcessHandle.current().pid())
    kids = descendants(jvm)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in [jvm, *kids]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = isolate(args.workload)
    spark = None
    try:
        sys.path.insert(0, ROOT)
        import harness
        from ml_feature_store_enterprise_grade_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - T_PROCESS
        spark.sparkContext.setLogLevel("ERROR")
        rec = harness.Recorder(spark, bool(args.trace))
        ctx = Context(spark, rec, args, run_dir)
        workload = __import__(args.workload)
        e2e, layer = workload.run(ctx)
        e2e["setup_s"] = ctx.setup_s
        e2e["peak_rss_mb"] = harness.peak_rss_mb(spark)
        layer.update(ctx.layer)
        layer["session.start_s"] = session_s
        layer["bench.calibration_ms"] = calibrate(spark)
        spans = rec.spans() if args.trace else []
        info = stamp(spark, args, ctx.sf_used)
        rec.close()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    # NaN marks a metric with no samples: it was not measured.
    e2e = {k: v for k, v in e2e.items() if not math.isnan(v)}
    layer = {k: v for k, v in layer.items() if not math.isnan(v)}
    # Every end-to-end metric, and every per-layer metric the workload
    # declares, must be measured.  A layer the workload never calls
    # reads 0 in the printed line (no work); the result file holds only
    # what was measured.
    if args.trace:
        values = layer
        declared = (*COMMON_LAYER, *workload.LAYER_METRICS)
    else:
        values = e2e
        declared = [m["name"] for m in wanted]
    missing = [n for n in declared if n not in values]
    if missing:
        rec.failures.append({"op": "harness", "error": f"metrics not measured: {missing}"})
    result = {
        "correct": rec.failed == 0 and not missing,
        "attempted": rec.attempted,
        "failed": rec.failed + bool(missing),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    base = os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    with open(base + ".json", "w") as fh:
        json.dump({"stamp": info, **result, "end_to_end": e2e, "per_layer": layer,
                   "phases_s": ctx.phases,
                   "failures": rec.failures, "ledger": harness.ledger(rec)}, fh, indent=1)
    if args.trace:
        with open(base + ".trace.json", "w") as fh:
            json.dump({"stamp": info, "spans": spans}, fh)
    if rec.failures:
        print(json.dumps({"failures": rec.failures}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
