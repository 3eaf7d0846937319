"""Plan-shape pin at the smoke tier: the Spark jobs and exchanges of
each run_pipeline stage, the boundary collect, ingest_batch and
state_clusters. Under AQE every query stage is its own job, so at these
sizes per-job cost dominates wall time; a change that adds a job or an
exchange fails here, and one that removes some updates the pin."""

import os
import shutil

import pytest

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.corpus.loader import corpus_dir_for_sf
from datasketches_java_spark.plans.pipeline import run_pipeline
from tools.plan_profile import Spans, profile_delta, stage_spans

# span -> (jobs, exchanges) on the sf0.001 corpus with the test session. A
# span owns the jobs of its job group and the SQL executions that ran them;
# exchanges are counted in those executions' formatted plans (see
# tools/plan_profile.py), so the number is a pin, not a shuffle count.
# `tools/plan_profile.py CORPUS_DIR [--delta] --cores 8
# --shuffle-partitions 16` on the sf0.001 corpus prints both tables
PIPELINE = {
    "signatures": (1, 2),
    "candidates": (1, 2),
    "verified": (2, 2),
    "clusters": (4, 4),
    "boundary_collect": (6, 8),
}
DELTA = {"ingest_batch": (15, 26), "state_clusters": (9, 11)}


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir, tmp_path_factory):
    # a private copy of the corpus file: CacheManager matches canonical
    # plans, so another module's persisted frame over the same file (a
    # cached corpus, a pipeline's boundary clusters) would stand in for a
    # scan or a stage here and hide its jobs
    copy = tmp_path_factory.mktemp("plan_shape") / "corpus.parquet"
    shutil.copy(os.path.join(corpus_dir_for_sf(smoke_sf_dir), "corpus.parquet"), copy)
    return spark.read.parquet(str(copy))


def _pins(spans: Spans) -> dict:
    return {k: (r["jobs"], r["exchanges"]) for k, r in spans.report().items()}


def test_pipeline_plan_shape(spark, corpus):
    shape = Spans(spark, "plan-shape:pipeline")
    with stage_spans(shape):
        res = run_pipeline(spark, corpus, FROZEN)
    with shape.span("boundary_collect"):
        res.verified.toPandas()
        res.clusters.toPandas()
    res.release()
    seen = _pins(shape)
    assert seen == PIPELINE, seen


def test_delta_plan_shape(spark, corpus, tmp_path):
    shape = Spans(spark, "plan-shape:delta")
    profile_delta(spark, corpus, shape, str(tmp_path / "state"))
    seen = _pins(shape)
    assert seen == DELTA, seen
