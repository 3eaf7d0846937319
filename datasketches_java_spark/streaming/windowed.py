"""Watermarked windowed streaming aggregation and custom stateful
operators (Structured Streaming proper — the two lanes the brief names
beyond foreachBatch: `withWatermark` + `window()` aggregation for late
data, and `applyInPandasWithState` for operator state Spark's built-in
aggs can't express).

Complements streaming/incremental.py (foreachBatch + versioned parquet
state): here the STATE lives in Spark's own state store (RocksDB/HDFS
backed at scale, checkpointed, exactly-once), which is the right home
when state is per-key-bounded (a fixed-k sketch per group) rather than
a reread-merge-rewrite table.

Reference tie-in: the windowed lane is the reference's
update→estimate lifecycle (theta/UpdateSketch.java) run per event-time
window; the stateful lane is its union-accumulator lifecycle
(theta/Union.java) with the accumulator held by the state store. Its
state is the reference compact theta image that the batch lane's
theta_sketch_agg writes (functions/sketch_udfs.kmv_sketch_bytes_agg),
built by that image's Python twin (kernels/theta_compat: MurmurHash3
of the value's Spark string, the k smallest hashes, theta the
(k+1)-th), and its estimate is read by the batch lane's finisher, so
stream and batch estimates agree exactly for the same input set (the
image is order-insensitive).

Scale notes (1000-executor shape):
- the windowed agg is a standard shuffle-on-(window, group) stateful
  agg: state per (window×group), bounded by the watermark horizon —
  late rows beyond the watermark are dropped at the source of truth,
  so state size is horizon-bounded regardless of total stream length.
- applyInPandasWithState partitions by group key; state per group is
  one k-bounded sketch (k·8 bytes), so 10^9 groups × k=256 ≈ 2 TB
  spread over executors' state stores — linear, no driver state.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import theta_compat as tc


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window_len: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    group_col: str = "event_type",
    user_col: str = "user_id",
    max_files_per_trigger: int = 1,
) -> None:
    """Tumbling-window per-group event counts + distinct-user HLL
    estimates with a late-data watermark, appended to a parquet sink.

    Semantics: a (window, group) row is emitted once, when the
    watermark (max event time seen − `watermark`) passes the window
    end — the append-mode finalization contract. Rows arriving later
    than the watermark horizon are dropped by the aggregation operator
    itself (the documented late-data rule), which the tests assert by
    replaying a too-late event and observing the finalized window
    unchanged.

    availableNow trigger: drains the current backlog then stops;
    watermark state persists in the checkpoint, so successive calls
    continue the same logical stream (exactly-once into the sink).
    """
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    agg = (
        # watermarks require TIMESTAMP (with zone); the driver's parquet
        # carries timestamp_ntz — cast is a no-op re-tag at UTC
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len), F.col(group_col))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct(user_col).alias("approx_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n_events",
            "approx_users",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_STATE_SCHEMA = StructType([StructField("sketch", BinaryType())])


def _running_theta_func(k: int, group_col: str, value_col: str):
    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (blob,) = state.get
            h, theta, _ = tc.deserialize_compact(bytes(blob))
        else:
            h, theta = np.empty(0, np.int64), tc.LONG_MAX
        n_new = 0
        for pdf in pdfs:
            new = tc.hash_bytes_items(
                [v.encode("utf-8") for v in pdf[value_col].dropna()])
            # union under the min-theta rule: hashes at or above the
            # state's theta are outside the sample
            h, t = tc.build_theta(np.concatenate([h, new[new < theta]]), k)
            theta = min(theta, t)
            n_new += len(pdf)
        image = tc.serialize_compact_v4(h, theta)
        state.update((bytearray(image),))
        est, lb, ub, _ = tc.estimate_bounds(image, 2)
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_batch_rows": [n_new],
                "distinct_est": [int(round(est))],
                "distinct_lb": [int(np.floor(lb))],
                "distinct_ub": [int(np.ceil(ub))],
            }
        )

    return fn


def running_distinct_by_group(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 256,
    max_files_per_trigger: int = 1,
) -> None:
    """Running per-group distinct-count estimates via
    `applyInPandasWithState`: the state store holds one compact theta
    image per group (the reference's union-accumulator lifecycle,
    theta/Union.java, with Spark's checkpointed state store as the
    accumulator's home); every micro-batch updates the sketch with its
    rows and emits the group's refreshed estimate + binomial bounds.

    Update-mode output is appended to parquet via foreachBatch (the
    parquet sink itself only supports append); each emitted row is the
    group's state AFTER that micro-batch, so the last row per group is
    the current running estimate.
    """
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("n_batch_rows", LongType()),
            StructField("distinct_est", LongType()),
            StructField("distinct_lb", LongType()),
            StructField("distinct_ub", LongType()),
        ]
    )
    updates = (
        stream.withColumn(group_col, F.col(group_col).cast("string"))
        .withColumn(value_col, F.col(value_col).cast("string"))
        .groupBy(group_col)
        .applyInPandasWithState(
            _running_theta_func(k, group_col, value_col),
            out_schema,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    q = (
        updates.writeStream.outputMode("update")
        .foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
