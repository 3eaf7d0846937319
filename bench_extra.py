#!/usr/bin/env python
"""Side benchmark harness (bench.py is frozen for measurement): times
individual aux queries with the noop sink (guide §1.4) and captures
.explain("formatted") plans into plans/r06/.

Usage:
  python bench_extra.py [--plans] [--reps N] [query ...]

Times the same query list bench.py's run_aux_queries uses (plus any
named extras), same session shape (cores from $SPARK_GRAFT_CPUS,
sf dir from $SPARK_GRAFT_SF_DIR), but isolates computation from the
collect/count sink and records plans for the optimization log.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483648")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "2147483648")

AUX = [
    "exact_dedup_groups", "ngram_jaccard_pairs", "token_count",
    "text_quality", "doc_fingerprint", "embedding_topk_ip",
    "embedding_topk_lsh", "kmv_distinct_by_source", "tpch_q1",
    "bloom_customer_orders", "countmin_tokens",
    "simhash_dup_docs", "substring_dup_pairs",
    "embedding_cosine_dup_pairs", "hll_interop_audit",
    "partition_boundaries_orders", "repetition_stats", "pii_scan",
]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_plans = "--plans" in sys.argv
    reps = 2
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    tag = "after"
    for a in sys.argv[1:]:
        if a.startswith("--tag"):
            tag = a.split("=", 1)[1]

    import pandas as _pd

    import __spark_entry__ as em
    from datasketches_java_spark.scope import RunScope
    from datasketches_java_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up bench.py's aux runner uses
    spark.range(2_000_000).selectExpr("sum(id)").collect()

    def _warm_gen(batches):
        import numpy as np
        for pdf in batches:
            a = np.arange(2_000_000, dtype=np.int64)
            pdf["x"] = pdf["x"] + int(a[-1] % 2)
            yield pdf

    spark.createDataFrame(_pd.DataFrame({"x": range(100_000)})) \
        .repartition(cores).mapInPandas(_warm_gen, "x bigint").count()

    qs = em.queries()
    names = args or AUX
    out = {}
    plans_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        if do_plans:
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        best = None
        for _ in range(reps):
            spark.catalog.clearCache()
            em.SHARED_RUNS.close()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            with RunScope():
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(name, out[name], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
