"""``query_suite``: registered batch queries, cold pass then warm passes.

The query set is derived from the registry: the first ``K`` queries of
each ``operators/`` module (the module is the query function's
``__module__``), taken in ``bench.BENCH_QUERIES`` order and skipping
the queries in ``KNOWN_DEFECTS``.  One cold pass runs them in that
order in the fresh session (memo caches empty, JIT cold); warm passes
then run them in a seed-shuffled order until the run's time is spent.  Every call has the same action, a noop write with
the row count observed, so cold and warm calls differ only in what the
session has already done.  No ``store``, ``snapshots`` or ``streaming``
call happens here.
"""

from __future__ import annotations

import math
import random
import time
from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

import datagen
from harness import Recorder, gmean, median, tree_cpu_s

#: Queries taken per operators module.
K = 1
#: Scale factor of the generated tables.
SF = 0.01
#: Fewest warm passes per run, whatever ``--seconds`` says.
MIN_PASSES = 2
#: Registered queries the selection skips, with why.  Each returns rows
#: that differ from its DuckDB oracle on some generated inputs, an
#: engine defect the oracle check reports: Spark's ``round`` rounds the
#: double's shortest decimal form half-up, DuckDB's ``ROUND`` the
#: double times 10^k, so an exact decimal tie can round apart.  A run
#: that times them fails on such seeds, so the module's next query
#: stands in until the engine rounds both sides alike.
KNOWN_DEFECTS = {
    "target_encoding_loo": "te_loo = round(x, 6) of a tie: seed 505, order 7600 "
                           "gives 246175.395557, the oracle 246175.395558",
    "item_cooccurrence_lift": "lift = round(x, 4) of a tie: seed 372561476, pair "
                              "(86, 635) gives 55.2712, the oracle 55.2713",
}
#: The ``operators/`` modules; each must have a query in the selection.
MODULES = ("analytics", "asof", "corpus_plan", "dedup", "drift", "encoding",
           "feature_agg", "multimodal", "projection", "quality", "relational",
           "similarity", "sketches", "text")
#: Per-layer metrics a traced run of this workload must produce.
LAYER_METRICS = (
    "operators.build_ms", "operators.action_ms", "operators.driver_ms",
    "operators.jobs", "operators.eager_jobs", "operators.cold_jobs",
    "operators.stages", "operators.tasks", "operators.shuffle_write_mb",
    "operators.spill_mb", "operators.executor_run_s", "operators.jvm_gc_ms",
    "operators.persisted_rdds_max", "operators.persisted_rdds_end",
    *(f"operators.{m}.{k}" for m in MODULES for k in ("ms", "jobs")),
)


def noop_write(df, obs: Observation) -> None:
    """The action of every call: the noop sink, row count observed."""
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()


def select_queries(queries: dict, order) -> list[tuple[str, str]]:
    """First ``K`` names per operators module, as (name, module)."""
    by_module: dict[str, list[str]] = defaultdict(list)
    for name in order:
        fn = queries.get(name)
        if fn is None or name in KNOWN_DEFECTS:
            continue
        pkg, _, module = fn.__module__.rpartition(".")
        if pkg.endswith(".operators") and len(by_module[module]) < K:
            by_module[module].append(name)
    return [(n, m) for m, names in by_module.items() for n in names]


def run(ctx) -> tuple[dict, dict]:
    import bench
    from ml_feature_store_enterprise_grade_spark import registry, testing

    spark, rec = ctx.spark, ctx.rec
    sf = ctx.sf(SF)

    sf_dir = ctx.path("data")
    datagen.generate(sf_dir, sf, ctx.seed)
    ctx.mark("datagen")
    queries = {**registry.queries(), **registry.DEFERRED_QUERIES}
    oracles = {**registry.oracles(), **registry.DEFERRED_ORACLES}
    chosen = select_queries(queries, bench.BENCH_QUERIES)
    module_of = dict(chosen)
    ctx.end_setup()

    def call(op, name: str, obs: Observation):
        op.info["module"] = module_of[name]
        df = rec.phase(op, "build", queries[name], spark, sf_dir)
        rec.phase(op, "action", noop_write, df, obs)
        return df

    # Cold pass: selection order, fresh session, the same action as the
    # warm passes.  The oracle checks run after the whole pass, so their
    # extra executions warm nothing the pass measures.
    cold = []
    for name, _ in chosen:
        obs = Observation(f"rows_cold_{name}")
        df = None
        with rec.op(name, "operators", warm=False) as op:
            df = call(op, name, obs)
        cold.append((op, df, obs))
    ctx.mark("cold_pass")

    def check_oracle(name: str, df) -> str | None:
        res = testing.compare_query(name, df, oracles[name], con)
        return None if res.ok else f"oracle: {res.detail}"

    con = testing.duckdb_connection(sf_dir)
    rows_of: dict[str, int] = {}
    for op, df, obs in cold:
        if op.ok:
            rows_of[op.name] = obs.get["n"]
            if op.name in oracles:
                rec.check(op, check_oracle, op.name, df)
    con.close()
    ctx.mark("cold_checks")

    def check_rows(name: str, observed: int) -> str | None:
        if observed != rows_of.get(name, observed):
            return f"row count {observed} != cold pass {rows_of[name]}"
        return None

    # Warm passes: seed-shuffled order; row counts checked after each pass.
    rng = random.Random(ctx.seed)
    order = [n for n, _ in chosen]
    pass_wall: dict[bool, list[float]] = {True: [], False: []}
    pass_cpu: dict[bool, list[float]] = {True: [], False: []}
    jvm = int(spark._jvm.ProcessHandle.current().pid())
    t_warm = time.perf_counter()
    p = 0
    while p < MIN_PASSES or time.perf_counter() - t_warm < ctx.seconds:
        rng.shuffle(order)
        rec.tracing = ctx.trace and p % 2 == 0
        t0, c0 = time.perf_counter(), tree_cpu_s(jvm)
        observed = []
        for name in order:
            obs = Observation(f"rows_{p}_{name}")
            with rec.op(name, "operators") as op:
                op.info["pass"] = p
                call(op, name, obs)
            observed.append((op, obs))
        pass_wall[rec.tracing].append(time.perf_counter() - t0)
        pass_cpu[rec.tracing].append(tree_cpu_s(jvm) - c0)
        for op, obs in observed:
            rec.check(op, lambda: check_rows(op.name, obs.get["n"]))
        p += 1
    rec.tracing = ctx.trace
    ctx.mark("warm")

    warm = [o for o in rec.ops if o.warm and o.ok]
    cold = [o for o in rec.ops if not o.warm]
    per_query = defaultdict(list)
    for o in warm:
        per_query[o.name].append(o.ms)
    e2e = {
        "wall_s": median(pass_wall[False] or pass_wall[True]),
        "cpu_s": median(pass_cpu[False] or pass_cpu[True]),
        "op_gmean_ms": gmean(median(v) for v in per_query.values()),
        "cold_pass_s": sum(o.ms for o in cold) / 1000.0,
    }
    layer = operator_layer(rec, cold, [o for o in warm if o.traced])
    if pass_wall[True] and pass_wall[False]:
        ctx.trace_overhead(median(pass_wall[True]), median(pass_wall[False]))
    return e2e, layer


def operator_layer(rec: Recorder, cold, traced) -> dict:
    """Per-layer ``operators.*`` metrics: per query the median over
    traced warm passes, summed over queries (one pass's worth)."""
    by_q = defaultdict(list)
    for o in traced:
        by_q[o.name].append(o)

    def per_pass(fn) -> float:
        if not by_q:
            return math.nan
        return sum(median(fn(o) for o in ops) for ops in by_q.values())

    def jobs_sum(key):
        return lambda o: sum(j[key] for j in o.jobs)

    out = {
        "operators.build_ms": per_pass(lambda o: o.phase_ms("build")),
        "operators.action_ms": per_pass(lambda o: o.phase_ms("action")),
        "operators.driver_ms": per_pass(lambda o: o.driver_ms),
        "operators.jobs": per_pass(lambda o: len(o.jobs)),
        "operators.eager_jobs": per_pass(lambda o: len(o.jobs_in("build"))),
        "operators.cold_jobs": float(sum(len(o.jobs) for o in cold if o.traced)),
        "operators.stages": per_pass(jobs_sum("stages")),
        "operators.tasks": per_pass(jobs_sum("tasks")),
        "operators.shuffle_write_mb": per_pass(jobs_sum("shuffle_write")) / 2**20,
        "operators.spill_mb": per_pass(jobs_sum("spill")) / 2**20,
        "operators.executor_run_s": per_pass(jobs_sum("run_ms")) / 1000.0,
        "operators.jvm_gc_ms": per_pass(jobs_sum("gc_ms")),
        "operators.persisted_rdds_max": float(
            max((o.persisted_rdds for o in rec.ops if o.traced), default=0)
        ),
        "operators.persisted_rdds_end": float(rec.sc._jsc.getPersistentRDDs().size()),
    }
    by_module = defaultdict(list)
    for name, ops in by_q.items():
        by_module[ops[0].info["module"]].append(ops)
    for module, groups in by_module.items():
        out[f"operators.{module}.ms"] = sum(median(o.ms for o in ops) for ops in groups)
        out[f"operators.{module}.jobs"] = sum(median(len(o.jobs) for o in ops) for ops in groups)
    return out
