"""RunScope (scope.py) owns what an operator leaves alive for the frame it
returns: once a scope closes, the session holds no persisted RDD that
the work inside it made, on every plan branch that persists one."""

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark import scope as sc
from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.operators import dedup_relational as dr
from datasketches_java_spark.plans.delta import ingest_batch, state_clusters
from datasketches_java_spark.plans.pipeline import run_pipeline
from datasketches_java_spark.scope import RunScope
from datasketches_java_spark.sources import tables


@pytest.fixture
def persisted(spark):
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet())


def _held_then_freed(persisted, work):
    """Run work() in a scope; return its result, the RDDs it persisted
    (read inside the scope) and the ones still alive after the close."""
    before = persisted()
    with RunScope():
        out = work()
        held = persisted() - before
    return out, held, persisted() - before


def test_run_pipeline_scope_frees_leaves_and_caches(spark, smoke_sf_dir, persisted):
    corpus = tables.load_corpus(spark, smoke_sf_dir)

    def work():
        res = run_pipeline(spark, corpus, FROZEN, with_audits=True)
        return len(res.clusters.toPandas()), len(res.audits.toPandas())

    (n_clusters, n_audits), held, left = _held_then_freed(persisted, work)
    assert n_clusters > 0 and n_audits > 0
    assert len(held) >= 5  # four stage leaves + the boundary clusters cache
    assert not left


@pytest.mark.parametrize("branch", ["bitmap", "distributed"])
def test_ssjoin_scope_frees_postings_cache(spark, smoke_sf_dir, persisted,
                                           monkeypatch, branch):
    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet").limit(300)

    def pairs():
        out = dr.ssjoin_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.8)
        return sorted((r.id_a, r.id_b, r.intersect_ct, r.union_ct)
                      for r in out.collect())

    # the dense all-pairs plan persists nothing: keep it out of the way
    monkeypatch.setattr(dr, "_DENSE_DICT_MAX", 0)
    with RunScope():
        expected = pairs()
    if branch == "distributed":
        monkeypatch.setattr(dr, "_PULL_BUDGET_BYTES", 0)
        monkeypatch.setattr(dr, "_BITMAP_BUDGET_BYTES", 0)
    got, held, left = _held_then_freed(persisted, pairs)
    assert got == expected and len(got) > 0
    assert held  # the postings frame
    assert not left


def test_state_clusters_scope_frees_label_cache(spark, smoke_sf_dir, tmp_path,
                                                persisted):
    """The small-graph label table connected_components persists under
    state_clusters no longer outlives the scope it ran in."""
    corpus = tables.load_corpus(spark, smoke_sf_dir).select(
        "image_id", "caption", "phash")
    state = str(tmp_path / "state")
    ingest_batch(spark, state, corpus.filter(F.crc32("image_id") % 2 == 0),
                 FROZEN, compute_clusters=False)
    rows, held, left = _held_then_freed(
        persisted, lambda: len(state_clusters(spark, state).toPandas()))
    assert rows > 0
    assert held  # the label table
    assert not left


def test_scope_nesting_and_double_close(spark):
    b = spark.sparkContext.broadcast([1, 2, 3])
    assert sc.current() is None
    assert sc.own(b) is b  # outside any scope: held by nobody
    with RunScope() as outer:
        child = sc.own(RunScope())
        with RunScope() as inner:
            assert sc.current() is inner
            sc.own(spark.range(3).persist())
        assert sc.current() is outer
        child.own(b)
        df = outer.own(spark.range(4).persist())
        assert df.is_cached
    assert sc.current() is None
    assert not df.is_cached
    assert not child._owned  # closed with its owner
    outer.close()  # closing twice is a no-op
    assert b.value == [1, 2, 3]  # unpersisted, not destroyed
