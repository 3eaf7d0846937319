"""The delta manifest's row counts (plans/delta.py) are observed in the
jobs that write the batch, not re-read: across several ingests, a batch
with no verified edge and an epoch replay, every count must equal the
rows on disk."""

import os
import random

from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.plans.delta import ingest_batch, read_state
from datasketches_java_spark.sources import tables


def _lonely_batch(spark, n=12):
    """Rows that match nothing: random hex captions share no shingle
    band with any corpus caption, and a NULL phash is keyed by the
    row's own id."""
    rng = random.Random(7)
    rows = [
        (f"lonely_{i}", " ".join(f"{rng.getrandbits(64):016x}" for _ in range(6)),
         None)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "image_id string, caption string, phash long")


def test_manifest_counts_equal_rows_written(spark, smoke_sf_dir, tmp_path):
    corpus = tables.load_corpus(spark, smoke_sf_dir).select(
        "image_id", "caption", "phash")
    halves = [corpus.filter(F.crc32("image_id") % 2 == k) for k in (0, 1)]
    state = str(tmp_path / "state")
    ingest_batch(spark, state, halves[0], FROZEN, epoch="s:0",
                 compute_clusters=False)
    ingest_batch(spark, state, _lonely_batch(spark), FROZEN, epoch="s:1",
                 compute_clusters=False)
    ingest_batch(spark, state, halves[1], FROZEN, epoch="s:2",
                 compute_clusters=False)
    before = read_state(spark, state)[2]
    # a replayed epoch writes nothing and leaves the manifest as it was
    ingest_batch(spark, state, halves[1], FROZEN, epoch="s:1",
                 compute_clusters=False)
    manifest = read_state(spark, state)[2]
    assert manifest == before and len(manifest["batches"]) == 3

    def on_disk(kind, batch):
        return spark.read.parquet(os.path.join(state, kind, batch["id"])).count()

    for b in manifest["batches"]:
        assert b["n_signatures"] == on_disk("signatures", b), b
        assert b["n_verified"] == on_disk("verified", b), b
        assert b["n_idmap"] == on_disk("idmap", b), b
    first, lonely, second = manifest["batches"]
    assert lonely["n_signatures"] == 12 and lonely["n_verified"] == 0
    assert first["n_verified"] > 0 and second["n_verified"] > 0
    assert sum(b["n_signatures"] for b in manifest["batches"]) == corpus.count() + 12
