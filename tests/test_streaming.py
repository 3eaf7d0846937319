"""Streaming smoke (FIXTURES.md F6): incremental KMV sketch state over
the driver's events table via foreachBatch, with checkpoint/resume —
estimates must match batch-mode exact distinct counts."""

import os
import shutil

import pytest
from pyspark.sql import functions as F


def test_incremental_signatures_match_batch(spark, smoke_sf_dir, tmp_path):
    from datasketches_java_spark.streaming.incremental import (
        read_state_estimates,
        run_incremental_signatures,
    )

    events = spark.read.parquet(f"{smoke_sf_dir}/events.parquet")
    src = str(tmp_path / "stream_src")
    # split into 3 files so the stream sees multiple micro-batches
    events.repartition(3).write.parquet(src)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(state, exist_ok=True)
    run_incremental_signatures(
        spark, src, state, ckpt, group_col="event_type", value_col="user_id", k=256
    )

    est = read_state_estimates(state, 256).set_index("group")
    exact = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .toPandas()
        .set_index("event_type")["n"]
    )
    for g, true in exact.items():
        assert est.loc[g, "distinct_lb"] <= true <= est.loc[g, "distinct_ub"]

    # resume: nothing new to process, state unchanged
    before = est["distinct_est"].to_dict()
    run_incremental_signatures(
        spark, src, state, ckpt, group_col="event_type", value_col="user_id", k=256
    )
    after = read_state_estimates(state, 256).set_index("group")["distinct_est"].to_dict()
    assert before == after


def test_delta_merge_rewrites_only_touched_buckets(spark, smoke_sf_dir, tmp_path):
    """Verdict #8 contract: a micro-batch touching one group rewrites
    only that group's bucket; untouched buckets' manifest entries AND
    parquet files are byte-identical across the batch."""
    import glob
    import json

    from datasketches_java_spark.streaming.incremental import (
        read_state_estimates,
        run_incremental_signatures,
    )

    events = spark.read.parquet(f"{smoke_sf_dir}/events.parquet")
    src = str(tmp_path / "dsrc")
    os.makedirs(src, exist_ok=True)
    events.coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "dstate")
    ckpt = str(tmp_path / "dckpt")
    run_incremental_signatures(
        spark, src, state, ckpt, group_col="event_type", value_col="user_id",
        k=256, n_buckets=64,
    )

    def manifest():
        with open(os.path.join(state, "CURRENT")) as f:
            name = f.read().strip()
        with open(os.path.join(state, name)) as f:
            return json.load(f)["tables"]["sketches"]

    def file_stats(bmap, bucket):
        d = os.path.join(state, "sketches", bmap[str(bucket)][0], f"bucket={bucket}")
        return {
            p: os.stat(p).st_mtime_ns
            for p in sorted(glob.glob(os.path.join(d, "*.parquet")))
        }

    m1 = manifest()
    buckets = {
        r["event_type"]: r["b"]
        for r in events.select("event_type").distinct().withColumn(
            "b", F.pmod(F.xxhash64("event_type"), F.lit(64)).cast("int")
        ).collect()
    }
    click_b = buckets["click"]
    untouched = sorted({b for t, b in buckets.items() if b != click_b})
    assert untouched, "fixture types all hash to one bucket; widen n_buckets"
    before = {b: file_stats(m1, b) for b in untouched}

    # second batch: only 'click' rows — one touched bucket
    events.filter(F.col("event_type") == "click").limit(50) \
        .coalesce(1).write.mode("append").parquet(src)
    run_incremental_signatures(
        spark, src, state, ckpt, group_col="event_type", value_col="user_id",
        k=256, n_buckets=64,
    )
    m2 = manifest()
    assert m2[str(click_b)] != m1[str(click_b)]  # click bucket rewritten
    for b in untouched:
        assert m2[str(b)] == m1[str(b)]          # manifest entry stable
        assert file_stats(m2, b) == before[b]    # files untouched on disk

    # state remains queryable and correct
    est = read_state_estimates(state, 256).set_index("group")
    exact = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .toPandas().set_index("event_type")["n"]
    )
    for g, true in exact.items():
        assert est.loc[g, "distinct_lb"] <= true <= est.loc[g, "distinct_ub"]


def test_fresh_checkpoint_continues_incremental_state(spark, smoke_sf_dir, tmp_path):
    """A NEW checkpoint (recovery/reprocess) over the SAME state dir
    restarts batch_id at 0; its batches must neither be skipped as
    replays nor overwrite delta directories the committed manifest
    still references (versions are commit-indexed, batch tokens are
    checkpoint-namespaced)."""
    import json

    from datasketches_java_spark.streaming.incremental import (
        read_state_estimates,
        run_incremental_signatures,
    )

    events = spark.read.parquet(f"{smoke_sf_dir}/events.parquet")
    half_a = events.filter(F.crc32(F.col("user_id").cast("string")) % 2 == 0)
    half_b = events.filter(F.crc32(F.col("user_id").cast("string")) % 2 == 1)
    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)

    src_a = str(tmp_path / "src_a")
    half_a.repartition(2).write.parquet(src_a)
    run_incremental_signatures(
        spark, src_a, state, str(tmp_path / "ck_a"),
        group_col="event_type", value_col="user_id", k=4096)

    src_b = str(tmp_path / "src_b")
    half_b.repartition(2).write.parquet(src_b)
    run_incremental_signatures(
        spark, src_b, state, str(tmp_path / "ck_b"),
        group_col="event_type", value_col="user_id", k=4096)

    with open(os.path.join(state, "CURRENT")) as f:
        name = f.read().strip()
    with open(os.path.join(state, name)) as f:
        man = json.load(f)
    # one token namespace per checkpoint, each a stream tag
    assert len(man["epochs"]) == 2 and "" not in man["epochs"]
    est = read_state_estimates(state, 4096).set_index("group")
    exact = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .toPandas().set_index("event_type")["n"]
    )
    # k=4096 >= per-group distincts at smoke tier => exact estimates;
    # losing either stream's batches would undercount
    for g, true in exact.items():
        assert est.loc[g, "distinct_est"] == true
