"""Structured-Streaming near-duplicate ingest: readStream source →
foreachBatch delta-dedup sink over the delta state (plans/delta.py).

This is the streaming face of the incremental ingest lane: each
micro-batch pays O(delta) work (sign new rows once, semi-join-prune
stored bands to touched band keys, drop old×old candidates), and the
dedup state lives OUTSIDE Spark's state store, in the versioned store
batch ingest uses (sources/state_store.py), so a batch job, a second
stream, or an ad-hoc `state_clusters` reader can all consume it.

Exactly-once ingest composes Structured Streaming's at-least-once
foreachBatch delivery (an `epoch_id` that REPEATS on replay after a
failure) with the store's replay rule: each micro-batch commits under
the token '<query id>:<epoch_id>' (`state_store.batch_token`), and a
token the state already holds is a no-op.

Clustering is deliberately NOT computed per micro-batch: connected
components is a multi-job stage whose output no sink consumes
mid-stream. Readers call `plans.delta.state_clusters` on demand (or
`ingest_batch` directly in batch jobs, which returns clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import FROZEN, DedupConfig
from ..plans.delta import ingest_batch
from ..sources import state_store

CORPUS_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def dedup_sink(
    state_dir: str, cfg: DedupConfig = FROZEN,
    checkpoint_dir: str | None = None,
):
    """foreachBatch function: ingest each micro-batch into the delta
    state, idempotent per (stream, epoch) — see module docstring.
    `checkpoint_dir=None` keeps raw-int epoch tokens (one stream whose
    checkpoint is never recreated)."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_batch(
            batch_df.sparkSession, state_dir, batch_df, cfg,
            epoch=state_store.batch_token(checkpoint_dir, epoch_id),
            compute_clusters=False,
        )

    return _sink


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig = FROZEN,
    schema: str = CORPUS_SCHEMA,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source ingest stream: new parquet drops under `source_dir`
    flow through the delta-dedup sink into `state_dir`.

    `available_now=True` (the default) drains everything currently in
    the source then stops — the batch-backfill / catch-up mode; pass
    False for a continuously-running micro-batch stream.
    `max_files_per_trigger` bounds per-batch delta size (ingest cost is
    O(delta), so this is the knob that keeps micro-batches flat at
    web-scale drop rates)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(
            dedup_sink(state_dir, cfg, checkpoint_dir=checkpoint_dir))
        .option("checkpointLocation", checkpoint_dir)
        .queryName("dedup_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
