"""Regression tests for the round-4 advice findings: broadcast
lifecycle (a closed scope unpersists, never destroys), empty-build-side
guards in the bloom/count-min probes, the integer-exactness guard in
the top-k matmul plan, and grace-period GC in the streaming state."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_ssjoin_prior_result_survives_second_call(spark):
    """A not-yet-materialized ssjoin result must still execute after the
    scope that owned its cache and bitmap broadcast closed, and after a
    second call in a scope of its own (round-4 medium: destroy()d
    bitmap broadcasts failed such plans hard; unpersist only evicts
    executor copies)."""
    from datasketches_java_spark.operators.dedup_relational import (
        ssjoin_jaccard_pairs,
    )
    from datasketches_java_spark.scope import RunScope

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(30)],
        "id bigint, text string",
    )
    with RunScope():
        first = ssjoin_jaccard_pairs(docs, "id", "text", k=5, threshold=0.8)
    other = spark.createDataFrame(
        [(i, "pack my box with five dozen liquor jugs " + str(i % 2))
         for i in range(20)],
        "id bigint, text string",
    )
    with RunScope():
        second = ssjoin_jaccard_pairs(other, "id", "text", k=5, threshold=0.8)
        n2 = second.count()
    # materialize the FIRST result only after both scopes closed — it
    # must recompute over its unpersisted broadcast, not raise
    n1 = first.count()
    assert n1 > 0 and n2 > 0


def test_closed_scope_broadcast_still_serves(spark):
    """A frame returned inside a closed scope that closes over a
    broadcast (the bloom probe's filter) returns the same rows after
    the close: the broadcast is unpersisted, not destroyed."""
    from datasketches_java_spark.operators.filters import (
        bloom_build, bloom_might_contain,
    )
    from datasketches_java_spark.scope import RunScope

    build = spark.range(0, 400, 2).withColumnRenamed("id", "k")
    probe = spark.range(0, 400).withColumnRenamed("id", "k")
    with RunScope() as scope:
        out = bloom_might_contain(probe, "k", bloom_build(build, "k", max_distinct=256))
        assert scope._owned  # the filter's broadcast
        inside = sorted(r.k for r in out.collect())
    assert not scope._owned
    assert sorted(r.k for r in out.collect()) == inside
    assert set(range(0, 400, 2)) <= set(inside)


def test_bloom_probe_empty_build_side(spark):
    from datasketches_java_spark.operators.filters import (
        bloom_build, bloom_might_contain,
    )

    build = spark.createDataFrame([], "k bigint")
    probe = spark.createDataFrame([(1,), (2,)], "k bigint")
    bdf = bloom_build(build, "k", max_distinct=16)
    out = bloom_might_contain(probe, "k", bdf)
    assert out.count() == 0
    assert out.columns == ["k"]


def test_countmin_empty_input(spark):
    from datasketches_java_spark.operators.filters import countmin_counts

    items = spark.createDataFrame([], "item string")
    out = countmin_counts(items, "item", num_hashes=3, num_buckets=64)
    assert out.count() == 0
    assert out.columns == ["item", "cm_count"]


def test_matrix_fits_raises_on_exactness_break(spark):
    """Components big enough that d·max_q² ≥ 2^53 must raise, not
    silently lose bit-exactness vs the oracle."""
    from datasketches_java_spark.operators.similarity import (
        brute_force_topk_cosine_q,
    )

    big = spark.createDataFrame(
        [(i, [float(200.0 + i), -150.0, 90.0]) for i in range(4)],
        "id bigint, emb array<double>",
    )
    with pytest.raises(Exception) as ei:
        brute_force_topk_cosine_q(big, "id", "emb", topk=2).count()
    assert "integer-exact" in str(ei.value)


def test_matrix_fits_accepts_unit_range(spark):
    from datasketches_java_spark.operators.similarity import _collect_matrix

    ok = spark.createDataFrame(
        [(i, [0.5, -0.25, 1.0]) for i in range(4)],
        "id bigint, emb array<double>",
    )
    src = ok.withColumnRenamed("emb", "v")
    assert _collect_matrix(src, exact_bits=53) is not None


def test_streaming_gc_grace_period(spark, tmp_path):
    """After batch N commits, versions referenced by manifest N-1 must
    still exist on disk (a reader holding the previous CURRENT pointer
    may be mid-read); only versions unreachable from BOTH manifests are
    collected."""
    import json
    import os

    from datasketches_java_spark.streaming.incremental import (
        run_incremental_signatures,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def _append(vals):
        spark.createDataFrame(
            [("u1", v) for v in vals], "user_id string, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    def _versions():
        with open(os.path.join(state, "CURRENT")) as f:
            name = f.read().strip()
        with open(os.path.join(state, name)) as f:
            return {v for vs in json.load(f)["tables"]["sketches"].values() for v in vs}

    _append(["a", "b"])
    run_incremental_signatures(spark, src, state, ckpt, n_buckets=4)
    v0 = _versions()
    # batch 1 rewrites the same group's bucket; grace period keeps v0
    _append(["c"])
    run_incremental_signatures(spark, src, state, ckpt, n_buckets=4)
    v1 = _versions()
    assert v1 != v0
    for v in v0:
        assert os.path.isdir(os.path.join(state, "sketches", v)), v
    # batch 2: v0 is now unreachable from BOTH live manifests => GC'd
    _append(["d"])
    run_incremental_signatures(spark, src, state, ckpt, n_buckets=4)
    for v in v0 - v1 - _versions():
        assert not os.path.isdir(os.path.join(state, "sketches", v)), v
