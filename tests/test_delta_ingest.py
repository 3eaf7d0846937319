"""Incremental delta-dedup ingest (plans/delta.py): N sequential
batches must reproduce the one-shot pipeline's cluster partition, the
per-ingest candidate work must exclude old-vs-old pairs, and a crashed
ingest must leave the prior manifest readable."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.plans.delta import ingest_batch, read_state
from datasketches_java_spark.plans.pipeline import run_pipeline
from datasketches_java_spark.sources import tables


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir):
    df = tables.load_corpus(spark, smoke_sf_dir).cache()
    yield df
    df.unpersist()


def _partition(clusters_df):
    """Frozenset-of-frozensets cluster partition (order-free equality)."""
    rows = clusters_df.select("image_id", "cluster_id").collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r.cluster_id, set()).add(r.image_id)
    return frozenset(frozenset(v) for v in by_cid.values())


def test_two_ingests_equal_one_shot(spark, corpus, tmp_path):
    state = str(tmp_path / "state")
    # deterministic disjoint split that cuts across dup groups
    b1 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 0)
    b2 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 1)
    assert b1.count() + b2.count() == corpus.count()

    ingest_batch(spark, state, b1, FROZEN)
    final = ingest_batch(spark, state, b2, FROZEN)

    oneshot = run_pipeline(spark, corpus, FROZEN).clusters
    assert _partition(final) == _partition(oneshot)


def test_second_ingest_skips_old_vs_old(spark, corpus, tmp_path):
    """The second ingest's stored verified edges must all touch the
    new batch — old x old pairs are never re-scored."""
    state = str(tmp_path / "state2")
    b1 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 0)
    b2 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 1)
    ingest_batch(spark, state, b1, FROZEN)
    sigs1, edges1, man1 = read_state(spark, state)
    ingest_batch(spark, state, b2, FROZEN)
    sigs2, edges2, man2 = read_state(spark, state)

    assert len(man2["batches"]) == 2
    batch2_edges = spark.read.parquet(
        os.path.join(state, "verified", man2["batches"][1]["id"])
    )
    new_ids = {
        r.id64
        for r in b2.select(F.xxhash64("image_id").alias("id64")).collect()
    }
    for r in batch2_edges.select("id_a", "id_b").collect():
        assert r.id_a in new_ids or r.id_b in new_ids

    # state grew by exactly the delta
    assert man2["batches"][0]["n_signatures"] + man2["batches"][1][
        "n_signatures"
    ] == corpus.count()
    # edge sets are disjoint unions across batches (no duplicates)
    all_edges = edges2.select("id_a", "id_b").collect()
    assert len(all_edges) == len({(r.id_a, r.id_b) for r in all_edges})


def test_crash_leaves_previous_manifest(spark, corpus, tmp_path):
    """An interrupted ingest (data written, manifest never flipped)
    must be invisible to readers."""
    state = str(tmp_path / "state3")
    b1 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 0)
    ingest_batch(spark, state, b1, FROZEN)
    _, _, man_before = read_state(spark, state)
    # simulate a crash: orphan batch directory, no manifest flip
    os.makedirs(os.path.join(state, "signatures", "b_orphan"), exist_ok=True)
    _, _, man_after = read_state(spark, state)
    assert man_after == man_before
    with open(os.path.join(state, "CURRENT")) as f:
        name = f.read().strip()
    with open(os.path.join(state, name)) as f:
        assert len(json.load(f)["batches"]) == 1


def test_failed_ingest_frees_its_persist(spark, corpus, tmp_path, monkeypatch):
    """A write that raises after the new signatures are persisted and
    materialized leaves no persisted RDD behind."""
    from datasketches_java_spark.plans import delta

    write = delta._write_counted

    def failing(df, path):
        if os.path.basename(os.path.dirname(path)) == "verified":
            raise RuntimeError("injected write failure")
        return write(df, path)

    monkeypatch.setattr(delta, "_write_counted", failing)
    jsc = spark.sparkContext._jsc
    corpus.count()  # materialize the fixture's cache, so `before` holds it
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(RuntimeError, match="injected"):
        ingest_batch(spark, str(tmp_path / "state4"), corpus, FROZEN)
    assert set(jsc.getPersistentRDDs().keySet()) == before
