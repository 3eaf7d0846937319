"""run_pipeline's in-memory stages are local-checkpoint plan leaves.

A leaf keeps the hash partitioning of its last exchange, so verify's
first join is exchange-free; it carries no upstream plan, so later
queries stop re-rendering nested cached plans; its blocks outlive
spark.catalog.clearCache(), so the result's RunScope owns them, and
PipelineResult.release() or closing the caller's scope frees them. The
checkpoint-root lane (parquet read-back) must return the same rows."""

import os
import shutil

import pytest

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.corpus.loader import corpus_dir_for_sf
from datasketches_java_spark.operators.verify import verify_pairs
from datasketches_java_spark.plans import pipeline
from tools.plan_profile import Spans

# summed physicalPlanDescription characters of one run_pipeline(with_audits=True)
# plus its three collects on the smoke corpus: ~105k with leaves, ~4.0M when
# each stage was a persisted frame printing its upstream cached plans
PLAN_CHARS_BOUND = 250_000


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir, tmp_path_factory):
    # a private copy of the corpus file, so no other module's persisted
    # frame over the same file stands in for a scan or a stage here
    copy = tmp_path_factory.mktemp("leaves") / "corpus.parquet"
    shutil.copy(os.path.join(corpus_dir_for_sf(smoke_sf_dir), "corpus.parquet"), copy)
    return spark.read.parquet(str(copy))


@pytest.fixture(scope="module")
def result(spark, corpus):
    res = pipeline.run_pipeline(spark, corpus, FROZEN, with_audits=True)
    yield res
    res.release()


def _walk(plan):
    """Pre-order nodes of a physical plan."""
    out = [plan]
    ch = plan.children()
    for i in range(ch.size()):
        out += _walk(ch.apply(i))
    return out


def _rows(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_leaves_report_hash_partitioning(result):
    """AQE off while a leaf is planned: the leaf reports its last
    exchange's partitioning instead of UnknownPartitioning."""
    sig = result.signatures._jdf.logicalPlan()
    cand = result.candidates._jdf.logicalPlan()
    assert sig.nodeName() == cand.nodeName() == "LogicalRDD"
    assert sig.outputPartitioning().toString().startswith("hashpartitioning(id64")
    assert cand.outputPartitioning().toString().startswith("hashpartitioning(id_a")


def test_verify_moves_only_pair_rows(spark, result):
    """Verify over the leaves, planned as a leaf's query is planned
    (AQE off), has one shuffle Exchange: the joined pair rows by id_b.
    No signature side is re-shuffled; an AQE-planned leaf reports no
    partitioning and would add an Exchange above the id_b side's scan."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = verify_pairs(result.candidates, result.signatures, FROZEN)
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    exchanges = [p for p in _walk(plan) if p.nodeName() == "Exchange"]
    assert len(exchanges) == 1, plan.treeString()
    ex = exchanges[0]
    assert ex.outputPartitioning().toString().startswith(
        "hashpartitioning(id_b"), plan.treeString()
    assert any(p.nodeName().endswith("Join") for p in _walk(ex)), plan.treeString()


def test_pipeline_plan_text_is_bounded(spark, corpus):
    """Plan text Spark renders for one run with audits and its three
    collects stays small: no stage prints its upstream plans."""
    spans = Spans(spark, "leaves")
    with spans.span("run"):
        res = pipeline.run_pipeline(spark, corpus, FROZEN, with_audits=True)
        res.verified.toPandas()
        res.clusters.toPandas()
        res.audits.toPandas()
    res.release()
    chars = spans.report()["run"]["plan_chars"]
    assert chars < PLAN_CHARS_BOUND, chars


def test_checkpoint_lane_returns_same_rows(spark, corpus, result, tmp_path):
    """The parquet read-back lane and the in-memory leaf lane agree on
    verified, clusters and the audit table."""
    ck = pipeline.run_pipeline(spark, corpus, FROZEN, with_audits=True,
                               checkpoint_root=str(tmp_path / "ckpt"))
    try:
        for name in ("verified", "clusters", "audits"):
            a, b = _rows(getattr(result, name)), _rows(getattr(ck, name))
            assert len(a) > 0, name
            assert a.equals(b), name
    finally:
        ck.release()


def test_release_frees_every_block(spark, corpus):
    """After release the session holds no persisted RDD the run made:
    not the stage leaves, not the boundary cache, not the CC labels."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    res = pipeline.run_pipeline(spark, corpus, FROZEN, with_audits=True)
    res.clusters.toPandas()
    res.audits.toPandas()
    assert persisted() - before
    res.release()
    assert not persisted() - before
    res.release()  # a second release is a no-op
