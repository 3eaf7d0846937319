"""Plan-shape pin at the smoke tier: the Spark jobs and exchanges of
each run_pipeline stage, the boundary collect, ingest_batch and
state_clusters. Under AQE every query stage is its own job, so at these
sizes per-job cost dominates wall time; a change that adds a job or an
exchange fails here, and one that removes some updates the pin."""

import os
import re
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.corpus.loader import corpus_dir_for_sf
from datasketches_java_spark.plans import pipeline
from datasketches_java_spark.plans.delta import ingest_batch, state_clusters

# span -> (jobs, exchanges) on the sf0.001 corpus with the test session
PIPELINE = {
    "signatures": (5, 6),
    "candidates": (5, 10),
    "verified": (5, 14),
    "clusters": (8, 21),
    "boundary_collect": (12, 47),
}
DELTA = {"ingest_batch": (23, 30), "state_clusters": (19, 21)}


class _Shape:
    """Jobs and exchanges per named span. A span owns the jobs of its
    job group and the SQL executions that ran them; its exchanges are
    counted as test_plan_audits counts them, one per "(N) Exchange" or
    "(N) BroadcastExchange" node block of those executions' formatted
    plans. Those plans also print the plans of the persisted frames a
    stage reads and AQE's initial plan, so a count includes upstream
    and replaced exchanges; it is a pin, not a shuffle count."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.seen: dict = {}

    @contextmanager
    def span(self, name):
        group = f"plan-shape:{id(self)}:{name}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
            plans = [
                ex.physicalPlanDescription()
                for ex in self.conv.asJava(self.sql.executionsList())
                if jobs & {int(j) for j in self.conv.asJava(ex.jobs().keySet())}
            ]
            self.seen[name] = (len(jobs), sum(
                len(re.findall(r"^\(\d+\) \w*Exchange\b", p, re.M)) for p in plans))


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir, tmp_path_factory):
    # a private copy of the corpus file: CacheManager matches canonical
    # plans, so another module's persisted frame over the same file (a
    # cached corpus, a pipeline stage) would stand in for a scan or a
    # stage here and hide its jobs
    copy = tmp_path_factory.mktemp("plan_shape") / "corpus.parquet"
    shutil.copy(os.path.join(corpus_dir_for_sf(smoke_sf_dir), "corpus.parquet"), copy)
    return spark.read.parquet(str(copy))


def test_pipeline_plan_shape(spark, corpus, monkeypatch):
    shape = _Shape(spark)
    stage = pipeline._stage

    def traced(spark_, root, name, build, metrics, **kw):
        with shape.span(name):
            return stage(spark_, root, name, build, metrics, **kw)

    monkeypatch.setattr(pipeline, "_stage", traced)
    res = pipeline.run_pipeline(spark, corpus, FROZEN)
    with shape.span("boundary_collect"):
        res.verified.toPandas()
        res.clusters.toPandas()
    for df in (res.signatures, res.candidates, res.verified64, res.clusters):
        df.unpersist()
    assert shape.seen == PIPELINE, shape.seen


def test_delta_plan_shape(spark, corpus, tmp_path):
    shape = _Shape(spark)
    batches = [corpus.filter(F.crc32("image_id") % 2 == k) for k in (0, 1)]
    state = str(tmp_path / "state")
    ingest_batch(spark, state, batches[0], FROZEN, compute_clusters=False)
    with shape.span("ingest_batch"):
        ingest_batch(spark, state, batches[1], FROZEN, compute_clusters=False)
    with shape.span("state_clusters"):
        state_clusters(spark, state).toPandas()
    assert shape.seen == DELTA, shape.seen
