"""End-to-end dedup pipeline tests at the smoke tier (FIXTURES.md F1-F3):
dup-pair recall >= 0.99 vs the exact golden oracle, cluster agreement,
and checkpoint/resume reproducibility."""

import os

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.plans.pipeline import (
    dup_pairs_caption,
    recall_against_golden,
    run_pipeline,
)
from datasketches_java_spark.sources import tables


@pytest.fixture(scope="module")
def result(spark, smoke_sf_dir):
    corpus = tables.load_corpus(spark, smoke_sf_dir)
    return run_pipeline(spark, corpus, FROZEN)


def test_recall_ge_099(spark, smoke_sf_dir, result):
    golden = tables.load_golden(spark, smoke_sf_dir, "golden_pairs")
    r = recall_against_golden(
        dup_pairs_caption(result.verified), golden, FROZEN.jaccard_golden
    )
    assert r["golden_pairs"] > 500
    assert r["recall"] >= 0.99, r


def test_verified_pairs_have_bounds(result):
    row = result.verified.filter(F.col("match_caption")).first()
    assert row.jaccard_lb <= row.jaccard_est <= row.jaccard_ub


def test_clusters_cover_golden_clusters(spark, smoke_sf_dir, result):
    """Every golden cluster (>1 member) must map into one of our
    clusters — our clustering may merge more (extra channels), never
    split a golden cluster."""
    golden = tables.load_golden(spark, smoke_sf_dir, "golden_clusters").select(
        "image_id",
        F.col("cluster_id").alias("gold_cluster"),
        F.col("cluster_size").alias("gold_size"),
    )
    engine = result.clusters.select("image_id", F.col("cluster_id").alias("eng_cluster"))
    joined = golden.join(engine, "image_id")
    # for each golden cluster, count distinct engine cluster ids
    split = (
        joined.filter(F.col("gold_size") > 1)
        .groupBy("gold_cluster")
        .agg(F.countDistinct("eng_cluster").alias("n_engine"))
        .filter(F.col("n_engine") > 1)
        .count()
    )
    assert split == 0


def test_checkpoint_resume_reproduces(spark, smoke_sf_dir, tmp_path):
    """Kill-after-stage-k resumability (SURVEY.md §5 g): a second run
    over existing checkpoints resumes and reproduces identical pairs,
    for a parquet-backed corpus and for an in-memory one (whose
    checkpoint key has no input files, only the plan hash)."""
    corpus = tables.load_corpus(spark, smoke_sf_dir).limit(400)
    in_memory = spark.createDataFrame(
        corpus.select("image_id", "caption", "phash").toPandas())
    assert in_memory.inputFiles() == []
    for i, c in enumerate((corpus, in_memory)):
        root = str(tmp_path / f"ckpt{i}")
        r1 = run_pipeline(spark, c, FROZEN, checkpoint_root=root)
        assert r1.metrics["signatures_resumed"] is False
        r2 = run_pipeline(spark, c, FROZEN, checkpoint_root=root)
        assert r2.metrics["signatures_resumed"] is True
        assert r2.metrics["verified_resumed"] is True
        a = r1.verified.select("id_a", "id_b").sort("id_a", "id_b").collect()
        b = r2.verified.select("id_a", "id_b").sort("id_a", "id_b").collect()
        assert a and a == b
        assert r1.metrics["verified_rows"] == r2.metrics["verified_rows"]


def test_signature_stage_prunes_bytes_column(spark, smoke_sf_dir, result):
    """The parquet scan under the signature stage must not read `bytes`
    (100 TB of pixels stays on disk)."""
    from datasketches_java_spark.operators.signatures import compute_signatures

    # drop pipeline-persisted stages: the CacheManager would otherwise
    # substitute an InMemoryTableScan (whose schema carries `bytes`)
    # for the file scan this test inspects; unpersisted frames simply
    # recompute, so later tests are unaffected
    spark.catalog.clearCache()
    corpus = tables.load_corpus(spark, smoke_sf_dir)
    plan = compute_signatures(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in plan
    assert "caption" in plan


def test_checkpoint_partition_metrics_table(spark, smoke_sf_dir, tmp_path):
    """North-rule lineage: every checkpointed stage writes a
    per-partition metrics side-table whose row counts reconcile with
    the stage output and whose lineage key pins (config, corpus)."""
    import os

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables as T
    from datasketches_java_spark.sources.tables import read_partition_metrics

    corpus = T.load_corpus(spark, smoke_sf_dir)
    root = str(tmp_path / "ckpt_pm")
    res = run_pipeline(spark, corpus, FROZEN, checkpoint_root=root)
    sub = os.path.join(root, os.listdir(root)[0])
    for stage in ("signatures", "candidates", "verified", "clusters"):
        pm = read_partition_metrics(spark, sub, stage).toPandas()
        assert (pm["stage"] == stage).all()
        assert pm["n_rows"].sum() == res.metrics[f"{stage}_rows"]
        assert pm["partition_id"].is_unique
        assert (pm["lineage_key"] == os.path.basename(sub)).all()


def test_no_phash_corpus_does_not_collapse_into_one_cluster(spark):
    """A corpus WITHOUT a phash column under the default (image) config
    must auto-disable the image channel: the old fabricated phash=0
    gave every row identical pHash band keys and hamming 0, merging the
    whole corpus into a single cluster."""
    import pandas as pd

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline

    rows = pd.DataFrame({
        "image_id": [f"i{j}" for j in range(20)],
        # genuinely disjoint captions: no shared template words, so
        # no legitimate text-channel near-dups
        "caption": [" ".join(f"w{j}x{t}q{(j * 7 + t) % 97}" for t in range(8))
                    for j in range(20)],
    })
    df = spark.createDataFrame(rows)
    res = run_pipeline(spark, df, FROZEN)
    sizes = res.clusters.groupBy("cluster_id").count().toPandas()["count"]
    assert sizes.max() == 1  # nothing merges


def test_null_phash_rows_are_not_phash_duplicates(spark):
    """NULL phash values must not share a garbage cast value (INT64_MIN)
    that band-collides and verifies at hamming 0."""
    import pandas as pd

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline

    rows = pd.DataFrame({
        "image_id": [f"n{j}" for j in range(12)],
        "caption": [" ".join(f"z{j}y{t}k{(j * 11 + t) % 89}" for t in range(8))
                    for j in range(12)],
        "phash": pd.array([None] * 12, dtype="Int64"),
    })
    df = spark.createDataFrame(rows, "image_id string, caption string, phash long")
    res = run_pipeline(spark, df, FROZEN)
    assert res.verified64.count() == 0
    sizes = res.clusters.groupBy("cluster_id").count().toPandas()["count"]
    assert sizes.max() == 1


def test_empty_captions_never_match_text_channels(spark):
    """Two caption-less rows with near-identical images match on the
    IMAGE channel only — the theta 'two empties are exactly equal'
    rule (J=1) must not mark them caption duplicates (the golden
    oracle never emits empty-text pairs)."""
    import pandas as pd

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from pyspark.sql import functions as F

    rows = pd.DataFrame({
        "image_id": ["e1", "e2"],
        "caption": ["", "  "],
        "phash": pd.array([0b1010101, 0b1010100], dtype="Int64"),  # hamming 1
    })
    df = spark.createDataFrame(rows, "image_id string, caption string, phash long")
    res = run_pipeline(spark, df, FROZEN)
    v = res.verified64.toPandas()
    assert len(v) == 1  # the image-channel pair
    assert bool(v.match_phash.iloc[0])
    assert not v.match_caption.any() and not v.match_simhash.any()
