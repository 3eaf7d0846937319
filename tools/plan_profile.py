"""Per-span Spark jobs, wall time and plan-text size of one pipeline run
or one delta ingest.

Runs `run_pipeline(with_audits=True)` over a corpus directory (one that
holds `corpus.parquet`), then collects `verified` and `clusters` (the
boundary collect) and the audit table. Each stage run_pipeline runs,
the boundary collect and the audits is a span with its own job group.
With --delta it instead ingests one half of the corpus into a fresh
delta state untraced, then the other half (span `ingest_batch`), and
collects `state_clusters` (span `state_clusters`).
For each span it prints, read from Spark's status stores:

- jobs: the Spark jobs of the span's job group;
- wall_s: the span's wall time;
- execs: the SQL executions that ran those jobs;
- plan_chars: the summed length of those executions' formatted
  `physicalPlanDescription`. AQE re-renders this text at every stage
  update and at every execution start, so a plan that nests the plans
  of cached frames shows here first;
- exchanges: the "(N) Exchange" and "(N) BroadcastExchange" node
  blocks of those plans. The plans also print the plan of a persisted
  frame a query reads and AQE's initial plan, so this counts upstream
  and replaced exchanges too: a pin (tests/test_plan_shape.py), not a
  shuffle count.

The first run is cold (JIT, codegen, Python workers); later runs are
the steady state. The last line is the last run as one JSON object.

Usage: python tools/plan_profile.py CORPUS_DIR [--delta] [--cores 4]
       [--shuffle-partitions N] [--runs 2]

The pins in tests/test_plan_shape.py are the test session's numbers
(8 cores, 16 shuffle partitions) on the sf0.001 corpus; --cores 8
--shuffle-partitions 16 reproduces that session.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483648")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "2147483648")


class Spans:
    """Named spans, each its own job group; a job belongs to the
    innermost open span, and a span's wall excludes its children's.
    Read after the run ends."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.tag = tag
        self.walls: dict[str, float] = {}
        self.open: list[str] = []

    def _enter(self, name: str | None):
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.tag}:{name}", name)

    @contextmanager
    def span(self, name: str):
        parent = self.open[-1] if self.open else None
        self.open.append(name)
        self.walls.setdefault(name, 0.0)
        self._enter(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.walls[name] += wall
            if parent is not None:
                self.walls[parent] -= wall
            self.open.pop()
            self._enter(parent)

    def report(self) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        execs = [
            ({int(j) for j in self.conv.asJava(ex.jobs().keySet())},
             ex.physicalPlanDescription())
            for ex in self.conv.asJava(self.sql.executionsList())
        ]
        out = {}
        for name, wall in self.walls.items():
            group = f"{self.tag}:{name}"
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
            plans = [p for ex_jobs, p in execs if ex_jobs & jobs]
            out[name] = {
                "jobs": len(jobs), "wall_s": round(wall, 3),
                "execs": len(plans), "plan_chars": sum(map(len, plans)),
                "exchanges": sum(
                    len(re.findall(r"^\(\d+\) \w*Exchange\b", p, re.M))
                    for p in plans),
            }
        return out


@contextmanager
def stage_spans(spans: Spans):
    """A span around each stage run_pipeline runs, named after it."""
    from datasketches_java_spark.plans import pipeline

    stage = pipeline._stage

    def traced(spark, root, name, build, metrics, **kw):
        with spans.span(name):
            return stage(spark, root, name, build, metrics, **kw)

    pipeline._stage = traced
    try:
        yield
    finally:
        pipeline._stage = stage


def profile(spark, corpus, spans: Spans) -> None:
    """One traced run_pipeline(with_audits=True) + its three collects."""
    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline

    with spans.span("run_pipeline"), stage_spans(spans):
        res = run_pipeline(spark, corpus, FROZEN, with_audits=True)
    with spans.span("boundary_collect"):
        res.verified.toPandas()
        res.clusters.toPandas()
    with spans.span("audits"):
        res.audits.toPandas()
    res.release()


def profile_delta(spark, corpus, spans: Spans, state_dir: str) -> None:
    """Ingest one half of corpus into a new state at state_dir, then a
    traced ingest of the other half and a traced state_clusters collect."""
    from pyspark.sql import functions as F

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.delta import ingest_batch, state_clusters

    first, second = (corpus.filter(F.crc32("image_id") % 2 == k) for k in (0, 1))
    ingest_batch(spark, state_dir, first, FROZEN, compute_clusters=False)
    with spans.span("ingest_batch"):
        ingest_batch(spark, state_dir, second, FROZEN, compute_clusters=False)
    with spans.span("state_clusters"):
        state_clusters(spark, state_dir).toPandas()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("corpus_dir")
    ap.add_argument("--delta", action="store_true",
                    help="profile ingest_batch + state_clusters")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args(argv)

    from datasketches_java_spark.session import get_spark
    from datasketches_java_spark.sources import tables

    spark = get_spark(app="plan_profile", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        corpus = tables.load_corpus_dir(spark, args.corpus_dir)
        corpus.count()
        for run in range(args.runs):
            spark.catalog.clearCache()
            spans = Spans(spark, f"plan_profile:{run}")
            if args.delta:
                with tempfile.TemporaryDirectory(prefix="plan_profile_") as work:
                    profile_delta(spark, corpus, spans,
                                  os.path.join(work, "state"))
            else:
                profile(spark, corpus, spans)
            rep = spans.report()
            print(f"run {run}{' (cold)' if run == 0 else ''}")
            print(f"  {'span':<18}{'jobs':>6}{'wall_s':>9}{'execs':>7}"
                  f"{'plan_chars':>12}{'exchanges':>11}")
            for name, r in rep.items():
                print(f"  {name:<18}{r['jobs']:>6}{r['wall_s']:>9.3f}"
                      f"{r['execs']:>7}{r['plan_chars']:>12,}{r['exchanges']:>11}")
            tot = {k: sum(r[k] for r in rep.values())
                   for k in ("jobs", "execs", "plan_chars", "exchanges")}
            print(f"  {'total':<18}{tot['jobs']:>6}{'':>9}{tot['execs']:>7}"
                  f"{tot['plan_chars']:>12,}{tot['exchanges']:>11}")
        print(json.dumps(rep))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
