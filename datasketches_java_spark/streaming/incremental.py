"""Incremental signature building over a stream (Structured Streaming).

The sketch contract (mergeable union with identity — SURVEY.md §1.1) is
what makes incremental ingest correct: each micro-batch computes
signatures for its rows and unions per-group sketches into a running
state table, exactly like the reference's update→union lifecycle but
with parquet/Iceberg state instead of heap memory.

`run_incremental_signatures` wires: readStream (file source) →
foreachBatch( per-group theta images of the batch (Spark's
theta_sketch_agg, functions/sketch_udfs.kmv_sketch_bytes_agg) →
DISTRIBUTED merge with the persisted state by Spark's theta_union_agg )
→ one snapshot commit of the state store (sources/state_store.py: the
format, the atomic flip, batch tokens namespaced by the checkpoint, and
GC) + Spark checkpointing for exactly-once resume. Nothing
sketch-sized ever passes through the driver — state merge scales with
executors, not driver memory.

The state is one table of reference compact theta images bucketed by
group (`bucket = pmod(xxhash64(group), n_buckets)`); each micro-batch
reads, merges and REWRITES ONLY the buckets holding touched groups, and
its commit replaces just those buckets' versions. Per-batch I/O is
O(touched state), not O(total state). FIXTURES.md F6 smoke-tests it
with the driver's `events` table mapped to (image_id, caption).
"""

from __future__ import annotations

import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketch_udfs import kmv_sketch_bytes_agg, theta_lg_k
from ..kernels.theta_compat import estimate_bounds
from ..scope import RunScope, own
from ..sources import state_store

_FORMAT = "theta-compact/2"  # the manifest's "format": theta images, store layout
_TABLE = "sketches"


def run_incremental_signatures(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "user_id",
    value_col: str = "event_type",
    k: int = 256,
    max_files_per_trigger: int = 1,
    n_buckets: int = 64,
) -> None:
    """Stream parquet files from source_dir; maintain per-group theta
    distinct sketches under state_dir (a state-store table bucketed by
    group). availableNow => drains the backlog then stops (resumable:
    the Spark checkpoint remembers progress). k is a power of two in
    [2^4, 2^26]."""
    lg_k = theta_lg_k(k)
    state_store.load(state_dir, _FORMAT)  # refuse an unreadable state up front
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    os.makedirs(state_dir, exist_ok=True)

    def _bucket_of(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        snap = state_store.load(state_dir, _FORMAT)
        token = state_store.batch_token(checkpoint_dir, batch_id)
        if snap.replayed(token):
            # retry of a committed batch (the failure landed between the
            # commit and the stream checkpoint's): the state holds it
            return
        version = snap.new_version()
        with RunScope():
            new = own(kmv_sketch_bytes_agg(
                batch_df.withColumn(group_col, F.col(group_col).cast("string")),
                group_col, value_col, k,
            ).persist())  # read 2-3x below (touched scan + merge write)
            touched = sorted(
                r[0] for r in
                new.select(_bucket_of(F.col(group_col)).alias("b")).distinct().collect()
            )
            prev_paths = snap.paths(_TABLE, touched)
            if prev_paths:
                new = new.unionByName(batch_df.sparkSession.read.parquet(
                    *prev_paths).select(group_col, "sketch"))
            # distributed merge of touched buckets only: per-group sketch
            # union on executors, written partitioned by bucket
            merged = new.groupBy(group_col).agg(
                F.theta_union_agg("sketch", lg_k).alias("sketch")
            ).withColumn("bucket", _bucket_of(F.col(group_col)))
            merged.write.partitionBy("bucket").parquet(snap.path(_TABLE, version))
            snap.commit(version, token=token, replace={_TABLE: touched})

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_state_estimates(state_dir: str, k: int = 256) -> pd.DataFrame:
    """Distinct-count estimates with 2SD bounds from the persisted
    sketch state. Each image carries its own theta, so k is not read."""
    snap = state_store.load(state_dir, _FORMAT)
    files = [f for d in snap.paths(_TABLE)
             for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    state = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    rows = [(g, *estimate_bounds(b, 2)[:3])
            for g, b in zip(state.iloc[:, 0], state["sketch"])]
    return pd.DataFrame(rows, columns=["group", "distinct_est", "distinct_lb", "distinct_ub"])
