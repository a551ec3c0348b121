"""Unit tests for the session-scoped shared-artifact store
(operators/scratch.py): build-once semantics, durability-by-lineage,
housekeeping, and the multi-branch cache helper."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from pgshovel_spark.operators import scratch

SF = "/root/testdata/sf0.001"

import uuid

#: Artifacts persist ACROSS sessions by design (content-keyed dirs),
#: so tests that assert build-once / rebuild semantics must use names
#: unique to this test run — a previous run's artifact would satisfy
#: the _SUCCESS check and break the assertion.
_RUN = uuid.uuid4().hex[:8]



def test_scratch_table_builds_once_and_memoizes(spark, monkeypatch):
    calls = []

    def build(sp, sf_dir):
        calls.append(sf_dir)
        return sp.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))

    a = scratch.scratch_table(spark, f"t_unit_once_{_RUN}", SF, build)
    assert a.storageLevel.useMemory  # cached as it entered the memo
    persists = []
    real_persist = type(a).persist

    def counting_persist(self, *args, **kwargs):
        persists.append(1)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(type(a), "persist", counting_persist)
    b = scratch.scratch_table(spark, f"t_unit_once_{_RUN}", SF, build)
    assert calls == [SF]  # built exactly once
    # the memoized handle is already cached: re-persisting it would
    # only log Spark's "Asked to cache already cached data" warning
    assert b is a and persists == []
    assert a.count() == b.count() == 10
    # files landed at the stable content-keyed artifact path
    p = scratch.artifact_path(f"t_unit_once_{_RUN}", SF)
    assert (p / "_SUCCESS").exists() and (p / "_HEARTBEAT").exists()


def test_artifact_path_is_stable_and_collision_resistant():
    """The on-disk slug must be reproducible across processes (no
    salted Python hash) and distinct per fixture dir."""
    import hashlib

    p = scratch.artifact_path("tok", "/x/a")
    assert p.name == "tok__" + hashlib.sha1(b"/x/a").hexdigest()[:12]
    assert scratch.artifact_path("tok", "/x/b").name != p.name


def test_scratch_reused_across_sessions(spark):
    """A second session over the same corpus must SKIP the build: the
    artifact dir is keyed by (name, corpus digest), not application
    id.  Simulated by dropping the in-process memo (what a fresh
    process starts without) and calling again — the build fn must not
    re-run because _SUCCESS already exists on disk."""
    calls = []

    def build(sp, sf_dir):
        calls.append(1)
        return sp.range(9)

    scratch.scratch_table(spark, f"t_unit_xsession_{_RUN}", SF, build)
    scratch._BUILT.clear()  # new session's empty memo
    df = scratch.scratch_table(spark, f"t_unit_xsession_{_RUN}", SF, build)
    assert calls == [1]  # built once, reused from disk
    assert df.count() == 9


def test_scratch_table_is_parquet_backed_with_lineage(spark):
    """The artifact handle must survive losing its cached blocks: the
    lineage is a parquet scan, so unpersisting everything and reading
    again yields the same rows (the durability property that motivated
    the migration off localCheckpoint)."""

    def build(sp, sf_dir):
        return sp.range(5).select(F.col("id").alias("k"))

    df = scratch.scratch_table(spark, f"t_unit_lineage_{_RUN}", SF, build)
    before = sorted(r.k for r in df.collect())
    # drop every cached block the way bench housekeeping does
    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next().getKey())
    for rid in ids:
        sc._jsc.sc().unpersistRDD(rid, True)
    after = sorted(r.k for r in df.collect())
    assert before == after == [0, 1, 2, 3, 4]


def test_scratch_keyed_by_sf_dir(spark):
    def build(sp, sf_dir):
        n = 3 if sf_dir.endswith("a") else 7
        return sp.range(n)

    a = scratch.scratch_table(spark, f"t_unit_key_{_RUN}", "/x/a", build)
    b = scratch.scratch_table(spark, f"t_unit_key_{_RUN}", "/x/b", build)
    assert (a.count(), b.count()) == (3, 7)


def test_clear_scratch_forces_rebuild(spark):
    calls = []

    def build(sp, sf_dir):
        calls.append(1)
        return sp.range(4)

    scratch.scratch_table(spark, f"t_unit_clear_{_RUN}", SF, build)
    scratch.clear_scratch(spark)
    scratch.scratch_table(spark, f"t_unit_clear_{_RUN}", SF, build)
    assert len(calls) == 2


def test_clear_scratch_scoped_to_own_artifacts(spark):
    """A concurrent session's artifact (one THIS process never
    touched) survives a default clear_scratch; widening the scope with
    sf_dirs to that corpus removes it — the bench path."""

    def build(sp, sf_dir):
        return sp.range(5)

    name = f"t_unit_foreign_{_RUN}"
    corpus = f"/x/foreign_{_RUN}"
    scratch.scratch_table(spark, name, corpus, build)
    path = scratch.artifact_path(name, corpus)
    assert path.is_dir()
    # simulate the other process owning it: forget our handle
    scratch._BUILT.pop(str(path))
    scratch.clear_scratch(spark)
    assert path.is_dir()  # scoped clear leaves the foreign artifact
    scratch.clear_scratch(spark, sf_dirs=[corpus])
    assert not path.exists()  # corpus-scoped clear removes it


def test_materialize_lazy_and_eager(spark):
    lazy = scratch.materialize(spark.range(6))
    assert lazy.storageLevel.useMemory  # marked cached, lineage intact
    assert lazy.count() == 6
    eager = scratch.materialize(spark.range(3), eager=True)
    assert eager.count() == 3


def test_table_rowcount_dir_stamp_sees_inplace_rewrite(spark, tmp_path):
    """Directory-dataset row counts re-read when a PART FILE is
    rewritten in place (same name) — the top-level dir stat alone
    missed it and served a stale cached count."""
    import shutil

    from pgshovel_spark.sources import tables as T

    d = str(tmp_path / "orders.parquet")
    spark.range(10).selectExpr("id AS o_orderkey").coalesce(1).write.parquet(d)
    import os
    tdir = str(tmp_path)
    assert T.table_rowcount(tdir, "orders") == 10
    # rewrite the part file IN PLACE with different contents
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    bigger = str(tmp_path / "bigger")
    spark.range(25).selectExpr("id AS o_orderkey").coalesce(1).write.parquet(bigger)
    newpart = next(f for f in os.listdir(bigger) if f.endswith(".parquet"))
    shutil.copyfile(os.path.join(bigger, newpart), os.path.join(d, part))
    assert T.table_rowcount(tdir, "orders") == 25
