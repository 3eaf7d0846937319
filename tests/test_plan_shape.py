"""Plan-shape pin at the smoke tier: the Spark jobs and exchanges of
each run_pipeline stage, the boundary collect, ingest_batch and
state_clusters. Under AQE every query stage is its own job, so at these
sizes per-job cost dominates wall time; a change that adds a job or an
exchange fails here, and one that removes some updates the pin."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.corpus.loader import corpus_dir_for_sf
from datasketches_java_spark.plans.delta import ingest_batch, state_clusters
from datasketches_java_spark.plans.pipeline import run_pipeline
from tools.plan_profile import Spans, stage_spans

# span -> (jobs, exchanges) on the sf0.001 corpus with the test session. A
# span owns the jobs of its job group and the SQL executions that ran them;
# exchanges are counted in those executions' formatted plans (see
# tools/plan_profile.py), so the number is a pin, not a shuffle count
PIPELINE = {
    "signatures": (3, 4),
    "candidates": (3, 4),
    "verified": (4, 4),
    "clusters": (6, 6),
    "boundary_collect": (8, 13),
}
DELTA = {"ingest_batch": (23, 30), "state_clusters": (19, 21)}


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
    batches = [corpus.filter(F.crc32("image_id") % 2 == k) for k in (0, 1)]
    state = str(tmp_path / "state")
    ingest_batch(spark, state, batches[0], FROZEN, compute_clusters=False)
    with shape.span("ingest_batch"):
        ingest_batch(spark, state, batches[1], FROZEN, compute_clusters=False)
    with shape.span("state_clusters"):
        state_clusters(spark, state).toPandas()
    seen = _pins(shape)
    assert seen == DELTA, seen
