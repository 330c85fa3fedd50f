"""The engine's two reuse rules (``catalog`` module docstring): inside
one call a spool is an eager ``localCheckpoint()`` that nothing has to
release, and across calls the only memo is ``catalog.memo``, which
``clear_count_cache`` clears.  These tests pin both rules and the
staleness they prevent after the data under a path is rewritten."""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import shutil
import sys
import time

from ml_feature_store_enterprise_grade_spark import catalog, registry, testing
from ml_feature_store_enterprise_grade_spark.catalog import (
    cached_count,
    clear_count_cache,
    load_table,
    memo,
)

from conftest import SF_ORACLE, SF_SMOKE, count_jobs

registry.load_all()

_PACKAGE = pathlib.Path(catalog.__file__).parent


# ---------------------------------------------------------------- #
# Rule (a): no spool outlives the function that took it             #
# ---------------------------------------------------------------- #


def _pinned_name(call: ast.Call, parents: dict) -> str | None:
    """The name a ``.cache()``/``.persist()`` result is known by:
    ``x = <expr>.cache()`` or the statement ``x.persist()``."""
    parent = parents.get(call)
    if (
        isinstance(parent, ast.Assign)
        and len(parent.targets) == 1
        and isinstance(parent.targets[0], ast.Name)
    ):
        return parent.targets[0].id
    if isinstance(parent, ast.Expr) and isinstance(call.func.value, ast.Name):
        return call.func.value.id
    return None


def _unpersisted_names(fn: ast.AST) -> set[str]:
    return {
        node.func.value.id
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "unpersist"
        and isinstance(node.func.value, ast.Name)
    }


def test_every_cache_or_persist_is_unpersisted_in_its_function():
    violations, seen = [], 0
    for path in sorted(_PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for call in ast.walk(tree):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr in ("cache", "persist")
            ):
                continue
            seen += 1
            fn = parents.get(call)
            while fn is not None and not isinstance(
                fn, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                fn = parents.get(fn)
            name = _pinned_name(call, parents)
            where = f"{path.relative_to(_PACKAGE)}:{call.lineno}"
            if fn is None or name is None or name not in _unpersisted_names(fn):
                violations.append(where)
    assert seen, "the scan found no .cache()/.persist() call at all"
    assert not violations, (
        "spool with .localCheckpoint() instead, or unpersist the same name "
        f"in the same function: {violations}"
    )


def test_every_stream_starts_in_run_available_now():
    """One stream runner: the package's only ``availableNow=True``
    trigger is the one in ``streaming.clickstream.run_available_now``,
    which sizes the stream's state and removes its checkpoint and
    memory-sink view."""
    starts = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) or not any(
                kw.arg == "availableNow" for kw in call.keywords
            ):
                continue
            fn = parents.get(call)
            while fn is not None and not isinstance(
                fn, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                fn = parents.get(fn)
            starts.append(
                f"{path.relative_to(_PACKAGE)}:{fn.name if fn else '<module>'}"
            )
    assert starts == ["streaming/clickstream.py:run_available_now"], starts


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of RDDs holding persisted blocks.  Read from the storage
    info, not ``getPersistentRDDs()``: that returns a map of the RDDs
    themselves, and its py4j handle pins every RDD it lists until
    Python's asynchronous detach reaches the JVM — a poll built on it
    keeps alive what it waits to see freed."""
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_queries_release_every_block_they_pin(spark):
    """Nothing the three queries spool stays in the CacheManager, and
    once the memo is cleared and both garbage collectors run, every
    RDD they persisted is freed by Spark's ContextCleaner.  Ids that
    were persisted before the queries ran (other tests' live frames)
    are not this test's business."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    for name in ("kmv_audience_overlap", "doc_bigram_logprob", "dedup_minhash_lsh"):
        registry.queries()[name](spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
    assert _persistent_rdd_ids(spark) - before, "the queries spooled nothing"
    clear_count_cache()
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = _persistent_rdd_ids(spark) - before
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, f"persisted RDDs never released: {sorted(left)}"


# ---------------------------------------------------------------- #
# Rule (b): one memo, cleared by clear_count_cache                  #
# ---------------------------------------------------------------- #


def _memoized_factories() -> dict[str, object]:
    """Every ``@memo`` factory in the loaded package, found by the
    wrapper's code object (shared by all wrappers ``memo`` makes)."""
    wrapper_code = memo(lambda spark, sf_dir: None).__code__
    found = {}
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(catalog.__package__):
            continue
        for attr, fn in vars(mod).items():
            if getattr(fn, "__code__", None) is wrapper_code:
                found[f"{mod_name.rsplit('.', 1)[1]}.{attr}"] = fn
    return found


def _memo_keys_for(sf_dir: str) -> list[tuple]:
    target = os.path.abspath(sf_dir)
    return [k for k in catalog._MEMO if k[2] == target]


def test_clear_count_cache_evicts_every_memo(spark, tmp_path):
    factories = _memoized_factories()
    assert {
        "analytics.cobuy_pair_census",
        "analytics._lpa_graph_labels",
        "dedup._corpus_shingles",
        "dedup._corpus_signatures",
        "dedup._doc_cluster_labels",
        "similarity._embedding_scatter_moments",
        "similarity._km_fit",
        "text._bigram_census",
        "text._unigram_census",
    } <= set(factories)
    first = {name: fn(spark, SF_SMOKE) for name, fn in factories.items()}
    for name, fn in factories.items():
        assert fn(spark, SF_SMOKE) is first[name], name

    # A second path with a memoized frame and a memoized count of its own.
    other = tmp_path / "other"
    other.mkdir()
    shutil.copyfile(f"{SF_SMOKE}/documents.parquet", other / "documents.parquet")
    factories["text._bigram_census"](spark, str(other))
    cached_count(load_table(spark, str(other), "documents"), str(other), "documents")
    # The frame, the count and the footer schema ``load_table`` read.
    assert len(_memo_keys_for(str(other))) == 3

    # Clearing another path keeps every entry of this one.
    clear_count_cache(str(other))
    assert not _memo_keys_for(str(other))
    for name, fn in factories.items():
        assert fn(spark, SF_SMOKE) is first[name], name

    # Clearing a factory's own path evicts it: the next call rebuilds.
    clear_count_cache(SF_SMOKE)
    assert not _memo_keys_for(SF_SMOKE)
    assert factories["text._bigram_census"](spark, SF_SMOKE) is not first[
        "text._bigram_census"
    ]

    # The all-paths form evicts everything.
    factories["text._bigram_census"](spark, str(other))
    clear_count_cache()
    assert not catalog._MEMO


def test_load_table_infers_a_footer_schema_once(spark, tmp_path):
    """The first ``load_table`` of a file infers its schema with one
    footer job; every later one reads with the memoized schema."""
    shutil.copyfile(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    try:
        _, first = count_jobs(spark, load_table, spark, str(tmp_path), "events")
        _, second = count_jobs(spark, load_table, spark, str(tmp_path), "events")
    finally:
        clear_count_cache(str(tmp_path))
    assert (first, second) == (1, 0)


def _write_events(path, ts_type: str, first_id: int) -> list[tuple]:
    """Write three ``events`` rows whose ``ts`` is stored as
    ``timestamp[us]`` (``ts_type="us"``) or as int64
    ``TIMESTAMP(NANOS)`` (``"ns"``); return their (event_id, epoch
    seconds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(first_id + i, 1_700_000_000 + first_id + i) for i in range(3)]
    unit = 10**6 if ts_type == "us" else 10**9
    ts = pa.array([s * unit for _, s in rows], pa.timestamp(ts_type))
    ids = pa.array([i for i, _ in rows], pa.int64())
    pq.write_table(pa.table({"event_id": ids, "ts": ts}), path, version="2.6")
    return rows


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    """A table rewritten at the same path with the other physical
    ``ts`` encoding gets a new schema memo key (its size and mtime
    changed), so the next ``load_table`` reads the new file correctly
    without a ``clear_count_cache``."""
    try:
        for ts_type, first_id in (("us", 0), ("ns", 10), ("us", 20)):
            want = _write_events(tmp_path / "events.parquet", ts_type, first_id)
            df = load_table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", ts_type
            got = sorted((r.event_id, int(r.ts.timestamp())) for r in df.collect())
            assert got == want, ts_type
    finally:
        clear_count_cache(str(tmp_path))


#: Package reads that still infer a parquet schema: index and
#: ingestion re-reads of tables that an earlier call or session wrote,
#: whose schema no manifest records.
_INFERRING_READS = {
    "operators/dedup.py:DedupIndex._read",
    "operators/dedup.py:DedupIndex._empty_bands",
    "operators/similarity.py:VectorIndex._assign",
    "operators/similarity.py:VectorIndex.compact",
    "operators/similarity.py:VectorIndex.shortlist",
    "operators/sketches.py:HistogramSketchStore.merged",
    "streaming/ingestion.py:stream_corpus_admission",
    "streaming/ingestion.py:stream_vector_ingestion",
}


def _receiver_calls(node: ast.AST) -> list[str]:
    """Names of the calls and attributes a method chain is built on:
    ``spark.read.schema(s).parquet`` gives ``["schema", "read"]``."""
    out = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            out.append(node.attr)
            node = node.value
    return out


def test_every_parquet_read_declares_its_schema():
    """A ``read.parquet(...)`` infers the schema with a footer job
    unless a ``.schema(...)`` precedes it.  Only
    ``catalog.parquet_schema`` (which memoizes the result) and the
    named re-reads above may infer one."""
    found = set()
    for path in sorted(_PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    inner = [*scope, child.name]
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "parquet"
                ):
                    chain = _receiver_calls(child.func.value)
                    if "read" in chain and "schema" not in chain:
                        found.add(f"{path.relative_to(_PACKAGE)}:{'.'.join(inner)}")
                visit(child, inner)

        visit(tree, [])
    allowed = _INFERRING_READS | {"catalog.py:parquet_schema"}
    assert not found - allowed, (
        "declare the schema with read.schema(...).parquet(...): "
        f"{sorted(found - allowed)}"
    )
    assert found == allowed, f"no longer inferring: {sorted(allowed - found)}"


# ---------------------------------------------------------------- #
# What the rules prevent: answers from files that were rewritten    #
# ---------------------------------------------------------------- #


def test_rewritten_inputs_are_not_served_stale(spark, tmp_path):
    """Rewrite ``events``/``documents``/``lineitem`` under a path and
    call ``clear_count_cache(path)``: each query must then answer like
    a run that first dropped every cache Spark and the engine hold.
    ``item_pagerank`` reads the co-buy memo; the other two once kept
    frames in Spark's CacheManager, which matched the rewritten files'
    plans."""
    d = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, d)
    names = ("kmv_audience_overlap", "dedup_minhash_lsh", "item_pagerank")

    def run() -> dict[str, list]:
        out = {}
        for name in names:
            df = registry.queries()[name](spark, str(d))
            out[name] = testing.canonical_rows(df.columns, df.collect())
        return out

    try:
        before = run()
        for table in ("events", "documents", "lineitem"):
            os.remove(d / f"{table}.parquet")
            shutil.copyfile(f"{SF_ORACLE}/{table}.parquet", d / f"{table}.parquet")
        clear_count_cache(str(d))
        after = run()
        spark.catalog.clearCache()
        clear_count_cache()
        fresh = run()
    finally:
        clear_count_cache(str(d))
    for name in names:
        assert before[name] != fresh[name], f"{name}: the rewrite changed nothing"
        assert after[name] == fresh[name], f"{name} answered from the old files"
