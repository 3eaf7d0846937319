"""Structured-Streaming dedup ingest (streaming/dedup_stream.py):
file drops → foreachBatch delta ingest → same cluster partition as the
one-shot pipeline; epoch replay is a no-op (idempotence contract)."""

import os

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.plans.delta import (
    ingest_batch,
    read_state,
    state_clusters,
)
from datasketches_java_spark.plans.pipeline import run_pipeline
from datasketches_java_spark.sources import tables
from datasketches_java_spark.streaming.dedup_stream import (
    CORPUS_SCHEMA,
    start_dedup_stream,
)


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir):
    df = tables.load_corpus(spark, smoke_sf_dir).cache()
    yield df
    df.unpersist()


def _partition(clusters_df):
    rows = clusters_df.select("image_id", "cluster_id").collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r.cluster_id, set()).add(r.image_id)
    return frozenset(frozenset(v) for v in by_cid.values())


def test_stream_drains_drops_and_matches_one_shot(spark, corpus, tmp_path):
    src = str(tmp_path / "drops")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cols = CORPUS_SCHEMA.replace(" string", "").replace(" binary", "") \
        .replace(" int", "").replace(" long", "").split(", ")
    b1 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 0).select(*cols)
    b2 = corpus.filter(F.crc32(F.col("image_id")) % 2 == 1).select(*cols)

    # first drop → drain
    b1.write.parquet(os.path.join(src, "drop1"))
    q = start_dedup_stream(spark, src + "/*", state, ckpt)
    q.awaitTermination(300)
    _, _, man1 = read_state(spark, state)
    n1 = len(man1["batches"])
    assert n1 >= 1
    assert sum(b["n_signatures"] for b in man1["batches"]) == b1.count()

    # second drop → resume from the SAME checkpoint; only the new files
    # are ingested (source tracking), epochs continue monotonically
    b2.write.parquet(os.path.join(src, "drop2"))
    q = start_dedup_stream(spark, src + "/*", state, ckpt)
    q.awaitTermination(300)
    _, _, man2 = read_state(spark, state)
    assert sum(b["n_signatures"] for b in man2["batches"]) == corpus.count()
    epochs = [b["epoch"] for b in man2["batches"]]
    assert len(set(epochs)) == len(epochs)  # one manifest batch per epoch

    # the streamed state clusters identically to the one-shot pipeline
    streamed = state_clusters(spark, state)
    oneshot = run_pipeline(spark, corpus, FROZEN).clusters
    assert _partition(streamed) == _partition(oneshot)


def test_epoch_replay_is_noop(spark, corpus, tmp_path):
    state = str(tmp_path / "state_replay")
    b1 = corpus.limit(200)
    ingest_batch(spark, state, b1, FROZEN, epoch=0, compute_clusters=False)
    _, _, man1 = read_state(spark, state)
    # replay of the SAME epoch (foreachBatch retry semantics) is a no-op
    ingest_batch(spark, state, b1, FROZEN, epoch=0, compute_clusters=False)
    _, _, man2 = read_state(spark, state)
    assert man1["batches"] == man2["batches"]
    # a NEW epoch ingests
    ingest_batch(
        spark, state, corpus.limit(300), FROZEN, epoch=1,
        compute_clusters=False,
    )
    _, _, man3 = read_state(spark, state)
    assert len(man3["batches"]) == len(man1["batches"]) + 1


def test_fresh_checkpoint_same_state_is_not_a_false_replay(spark, corpus, tmp_path):
    """Epoch tokens are namespaced by the checkpoint's query id: a NEW
    checkpoint (recovery/reprocess) or second stream writing the same
    state_dir restarts epoch_id at 0 but must NOT be discarded as a
    replay of the first stream's epoch 0."""
    cols = CORPUS_SCHEMA.replace(" string", "").replace(" binary", "") \
        .replace(" int", "").replace(" long", "").split(", ")
    half_a = corpus.filter(F.crc32(F.col("image_id")) % 2 == 0).select(*cols)
    half_b = corpus.filter(F.crc32(F.col("image_id")) % 2 == 1).select(*cols)
    state = str(tmp_path / "state")

    src_a = str(tmp_path / "drops_a")
    half_a.write.parquet(os.path.join(src_a, "d1"))
    q = start_dedup_stream(spark, src_a + "/*", state, str(tmp_path / "ck_a"))
    q.awaitTermination(300)
    _, _, man1 = read_state(spark, state)
    n_after_a = sum(b["n_signatures"] for b in man1["batches"])
    assert n_after_a == half_a.count()

    # brand-new checkpoint + source, SAME state dir: its epoch 0 must ingest
    src_b = str(tmp_path / "drops_b")
    half_b.write.parquet(os.path.join(src_b, "d1"))
    q = start_dedup_stream(spark, src_b + "/*", state, str(tmp_path / "ck_b"))
    q.awaitTermination(300)
    _, _, man2 = read_state(spark, state)
    assert sum(b["n_signatures"] for b in man2["batches"]) \
        == half_a.count() + half_b.count()
    # and the recorded epoch tokens are namespaced (strings with a tag)
    tokens = [b["epoch"] for b in man2["batches"]]
    assert all(isinstance(t, str) and ":" in t for t in tokens)
    assert len(set(tokens)) == len(tokens)
