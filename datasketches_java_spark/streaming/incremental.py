"""Incremental signature building over a stream (Structured Streaming).

The sketch contract (mergeable union with identity — SURVEY.md §1.1) is
what makes incremental ingest correct: each micro-batch computes
signatures for its rows and unions per-group sketches into a running
state table, exactly like the reference's update→union lifecycle but
with parquet/Iceberg state instead of heap memory.

`run_incremental_signatures` wires: readStream (file source) →
foreachBatch( per-group theta images of the batch (Spark's
theta_sketch_agg, functions/sketch_udfs.kmv_sketch_bytes_agg) →
DISTRIBUTED merge with the persisted state by Spark's theta_union_agg ) → versioned
state write + atomic CURRENT-pointer flip (the Iceberg snapshot
pattern) + Spark checkpointing for exactly-once resume. Nothing sketch-
sized ever passes through the driver — state merge scales with
executors, not driver memory.

Every state sketch is a reference compact theta image; the manifest
says so under "format", and a state whose manifest lacks it (the
engine's earlier private bottom-k images) is refused with a ValueError
naming the directory.

DELTA-MERGE STATE (round 4, verdict #8): the state table is hash-
bucketed by group (`bucket = pmod(xxhash64(group), n_buckets)`); each
micro-batch reads, merges, and REWRITES ONLY the buckets containing
touched groups, and commits a manifest mapping every bucket to the
delta version that last wrote it (the Iceberg merge-on-read shape with
plain parquet + a JSON manifest). Per-batch I/O is O(touched state),
not O(total state) — at a 10^9-group state with sparse-key batches
this is the difference between rewriting gigabytes per trigger and
rewriting only the buckets that changed. FIXTURES.md F6 smoke-tests it
with the driver's `events` table mapped to (image_id, caption).
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketch_udfs import kmv_sketch_bytes_agg, theta_lg_k
from ..kernels.theta_compat import estimate_bounds
from ..scope import RunScope, own

_CURRENT = "CURRENT"
_FORMAT = "theta-compact"  # the manifest's "format": what the sketches are


def _current_manifest(state_dir: str) -> tuple[str | None, dict]:
    """(manifest name, manifest dict) of the committed state. The dict
    carries "buckets" (bucket→delta-dir map), "commit" (monotone commit
    index), "batch" (the writing stream's namespaced batch token, for
    retry detection) and "format". Raises ValueError for a state whose
    sketches are not in _FORMAT, so they are never misread."""
    ptr = os.path.join(state_dir, _CURRENT)
    if not os.path.exists(ptr):
        return None, {"buckets": {}}
    with open(ptr) as f:
        name = f.read().strip()
    path = os.path.join(state_dir, name)
    if name.endswith(".json") and os.path.isfile(path):
        with open(path) as f:
            man = json.load(f)
        man.setdefault("buckets", {})
        if man["buckets"] and man.get("format") != _FORMAT:
            raise ValueError(
                f"sketch state {state_dir} is not in the {_FORMAT} image "
                "format (written by an older engine); rebuild it from its source"
            )
        return name, man
    return None, {"buckets": {}}


def _flip_current(state_dir: str, manifest_name: str) -> None:
    """Atomic pointer flip (write tmp + rename), the snapshot-commit
    pattern; readers always see a complete state image."""
    ptr = os.path.join(state_dir, _CURRENT)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(manifest_name)
    os.replace(tmp, ptr)


def _bucket_paths(state_dir: str, bmap: dict, buckets=None) -> list[str]:
    """Parquet paths for the given buckets (all when None) under the
    manifest map, skipping buckets never written."""
    items = bmap.items() if buckets is None else (
        (str(b), bmap.get(str(b))) for b in buckets
    )
    out = []
    for b, ver in items:
        if ver is None:
            continue
        p = os.path.join(state_dir, ver, f"bucket={b}")
        if os.path.isdir(p):
            out.append(p)
    return out


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
    distinct sketches under state_dir (bucketed delta versions + JSON
    manifest + CURRENT pointer). availableNow => drains the backlog
    then stops (resumable: the Spark checkpoint remembers progress).
    k is a power of two in [2^4, 2^26]."""
    lg_k = theta_lg_k(k)
    _current_manifest(state_dir)  # refuse a state in another format up front
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    os.makedirs(state_dir, exist_ok=True)

    def _bucket_of(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    from .dedup_stream import _stream_tag

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        _, prev_man = _current_manifest(state_dir)
        prev_map = prev_man["buckets"]
        # batch token namespaced by the checkpoint's persistent query
        # id: raw batch_ids are only unique PER CHECKPOINT, so a fresh
        # checkpoint (or second stream) restarting at batch 0 must not
        # false-match a historic batch — and version names must never
        # collide with directories a live manifest still references.
        token = f"{_stream_tag(checkpoint_dir)}:{int(batch_id)}"
        if prev_man.get("batch") == token:
            # retry of an already-committed batch (failure landed between
            # the CURRENT flip and the stream-checkpoint commit): state
            # already includes this batch — the theta union is idempotent,
            # so skipping preserves exactly-once semantics.
            return
        commit = int(prev_man.get("commit", -1)) + 1
        version = f"delta_c{commit}"
        manifest_name = f"MANIFEST_c{commit}.json"
        with RunScope():
            new = own(kmv_sketch_bytes_agg(
                batch_df.withColumn(group_col, F.col(group_col).cast("string")),
                group_col, value_col, k,
            ).persist())  # read 2-3x below (touched scan + merge write)
            touched = sorted(
                r[0] for r in
                new.select(_bucket_of(F.col(group_col)).alias("b")).distinct().collect()
            )
            prev_paths = _bucket_paths(state_dir, prev_map, touched)
            if prev_paths:
                new = new.unionByName(
                    sess.read.parquet(*prev_paths).select(group_col, "sketch"))
            # distributed merge of touched buckets only: per-group sketch
            # union on executors, written partitioned by bucket
            merged = new.groupBy(group_col).agg(
                F.theta_union_agg("sketch", lg_k).alias("sketch")
            ).withColumn("bucket", _bucket_of(F.col(group_col)))
            out = os.path.join(state_dir, version)
            merged.write.mode("overwrite").partitionBy("bucket").parquet(out)
            new_map = dict(prev_map)
            for b in touched:
                new_map[str(b)] = version
            mpath = os.path.join(state_dir, manifest_name)
            with open(mpath + ".tmp", "w") as f:
                json.dump({"buckets": new_map, "commit": commit,
                           "batch": token, "format": _FORMAT}, f)
            os.replace(mpath + ".tmp", mpath)
            _flip_current(state_dir, manifest_name)
        # GC with a one-generation grace period (round-4 advice): keep
        # every version referenced by the NEW manifest or the PREVIOUS
        # one, so a concurrent read_state_estimates that resolved the
        # prior CURRENT pointer never has its bucket files deleted
        # mid-read; versions older than one generation are unreachable
        # from any pointer a reader could still hold.
        referenced = set(new_map.values()) | set(prev_map.values())
        for d in os.listdir(state_dir):
            if (
                d.startswith("delta_c")
                and d not in referenced
                and os.path.isdir(os.path.join(state_dir, d))
            ):
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)

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
    import glob as _glob

    _, man = _current_manifest(state_dir)
    files = [
        f for d in _bucket_paths(state_dir, man["buckets"])
        for f in sorted(_glob.glob(os.path.join(d, "*.parquet")))
    ]
    state = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    rows = [(g, *estimate_bounds(b, 2)[:3])
            for g, b in zip(state.iloc[:, 0], state["sketch"])]
    return pd.DataFrame(rows, columns=["group", "distinct_est", "distinct_lb", "distinct_ub"])
