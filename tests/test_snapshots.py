"""Unit tests for the generation-pointer commit protocol
(snapshots.py): pointer resolution, torn-pointer recovery from markers,
partial-build GC and retention are pure-filesystem; the last test reads
a generation through Spark with the schema its ``_SCHEMA`` manifest
holds."""

from __future__ import annotations

import os

from ml_feature_store_enterprise_grade_spark.snapshots import (
    GEN_RETAIN,
    commit_generation,
    gc_generations,
    generation_dir,
    read_generation,
    read_marker,
    resolve_snapshot,
)
from ml_feature_store_enterprise_grade_spark.sources.files import (
    read_manifest,
    read_table,
    write_table,
)
from tests.conftest import count_jobs


def _mk_gen(root, gen, committed=True):
    d = generation_dir(str(root), gen)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    if committed:
        with open(os.path.join(d, "_COMMITTED"), "w") as f:
            f.write(str(gen))
    return d


def test_empty_root_resolves_none(tmp_path):
    assert read_generation(str(tmp_path)) is None
    assert resolve_snapshot(str(tmp_path)) is None


def test_commit_flips_pointer_and_expires_old(tmp_path):
    root = str(tmp_path)
    for g in range(1, GEN_RETAIN + 3):
        _mk_gen(root, g, committed=False)
        commit_generation(root, g)
        assert read_generation(root) == g
    gens = sorted(int(d.split("=")[1]) for d in os.listdir(root) if d.startswith("v="))
    newest = GEN_RETAIN + 2
    assert gens == list(range(newest - GEN_RETAIN, newest + 1))


def test_torn_pointer_recovers_from_markers(tmp_path):
    root = str(tmp_path)
    _mk_gen(root, 1)
    _mk_gen(root, 2)
    _mk_gen(root, 3, committed=False)  # crashed partial build
    # no pointer at all
    assert read_generation(root) == 2
    # zero-length (torn) pointer
    open(os.path.join(root, "_CURRENT"), "w").close()
    assert read_generation(root) == 2
    # garbage pointer
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write("not-a-number")
    assert read_generation(root) == 2
    assert resolve_snapshot(root).endswith("v=2")


def test_gc_removes_partials_and_expired_never_committed_current(tmp_path):
    root = str(tmp_path)
    for g in (1, 2, 3):
        _mk_gen(root, g)
    _mk_gen(root, 9, committed=False)  # crashed partial
    cur = 3
    gc_generations(root, cur, retain=1)
    left = sorted(d for d in os.listdir(root) if d.startswith("v="))
    assert left == ["v=2", "v=3"]  # partial gone, expired gone, window kept


def test_gc_with_no_committed_generation_clears_partials(tmp_path):
    root = str(tmp_path)
    _mk_gen(root, 5, committed=False)
    gc_generations(root, None)
    assert [d for d in os.listdir(root) if d.startswith("v=")] == []


def test_torn_pointer_reads_generation_with_marker_schema(spark, tmp_path):
    """After a torn pointer the generation still resolves from its
    marker, which holds the high-water mark; the generation is read
    with the schema its ``_SCHEMA`` manifest recorded (a column that
    only a later zero-row write added reads as NULL), without a
    schema-inference job."""
    root = str(tmp_path)
    gen = generation_dir(root, 1)
    write_table(spark.createDataFrame([(1,), (2,)], "user_id bigint"), gen)
    write_table(
        spark.createDataFrame([], "user_id bigint, segment string"), gen, mode="append"
    )
    commit_generation(root, 1, hwm="2024-01-15")
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write("torn")
    gen_dir = resolve_snapshot(root)
    assert gen_dir == gen
    assert read_marker(gen_dir) == {"hwm": "2024-01-15"}
    snap, jobs = count_jobs(spark, read_table, spark, gen_dir)
    assert jobs == 0
    assert snap.schema == read_manifest(gen_dir)
    assert snap.columns == ["user_id", "segment"]
    assert sorted(snap.collect()) == [(1, None), (2, None)]
