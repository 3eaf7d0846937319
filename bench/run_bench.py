#!/usr/bin/env python
"""spark-submit entrypoint for the dedup pipeline (north rule: `run
via spark-submit --py-files on a multi-executor cluster at two cluster
sizes`). The session comes from the SUBMIT context — master, executor
count and memory are whatever the cluster manager provides — so the
same artifact runs on local[N], standalone, YARN or K8s:

    python tools/build_dist.py
    spark-submit --master local[8] --py-files dist/engine.zip \
        bench/run_bench.py --rows 20000 [--reps 2] [--corpus-dir DIR]

Prints one JSON line: {"rows": N, "wall": s, "rate": img/s,
"stages": {...}, "rep_walls": [...]} — the same measurement body
bench.py drives through its interleaved-window protocol (bench.py
stays the orchestrator; this file is the per-cluster-size job)."""

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--corpus-dir", default=None,
                    help="pre-built corpus parquet dir (defaults to the "
                         "repo cache for --rows)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master/executors come from spark-submit; only app-level tuning here
    spark = (
        SparkSession.builder.appName(f"dedup-bench[{args.rows}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables

    if args.corpus_dir:
        cdir = args.corpus_dir
    else:
        from datasketches_java_spark.corpus.loader import corpus_dir

        cdir = corpus_dir(args.rows)
    corpus = tables.load_corpus_dir(spark, cdir)
    n = corpus.count()
    run_pipeline(spark, corpus, FROZEN).release()  # steady-state warm-up
    best = None
    walls = []
    for _ in range(max(1, args.reps)):
        spark.catalog.clearCache()
        t0 = time.time()
        res = run_pipeline(spark, corpus, FROZEN)
        wall = time.time() - t0
        walls.append(round(wall, 3))
        if best is None or wall < best[0]:
            best = (wall, res.metrics)
        res.release()
    wall, m = best
    print(json.dumps({
        "rows": n,
        "wall": round(wall, 3),
        "rate": round(n / wall, 2),
        "stages": {k: round(v, 3) for k, v in m.items() if k.endswith("_sec")},
        "rep_walls": walls,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
