"""Physical-plan audits over the gate-query surface: the properties
that decide whether a plan survives a 100× scale-up — column pruning
and predicate pushdown reaching the parquet scan, broadcast joins on
slim dimension sides, and no accidental cartesian products — asserted
on the ACTUAL plans Catalyst produces, so a regression (a new column
ref that defeats pruning, a join that silently degrades to
CartesianProduct) fails in CI instead of at the 100 TB tier."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.01"


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def queries():
    return em.queries()


def test_docs_scan_prunes_to_used_columns(spark, queries):
    """token_count touches (doc_id, text); the documents scan must not
    read lang/source/n_chars."""
    p = plan_str(queries["token_count"](spark, SF))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    rs = scan[0]
    assert "doc_id" in rs and "text" in rs
    assert "lang" not in rs and "source" not in rs and "n_chars" not in rs


def test_tpch_q1_pushes_shipdate_filter(spark, queries):
    """The l_shipdate predicate must reach the parquet scan as a
    pushed filter AND the scan must prune to the 7 referenced columns."""
    p = plan_str(queries["tpch_q1"](spark, SF))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], p
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" not in rs and "l_suppkey" not in rs


def test_gate_queries_have_no_cartesian(spark, queries):
    """No gate query may plan a CartesianProduct / unconditioned
    BroadcastNestedLoopJoin at gate scale (the exact crossJoin
    fallbacks are budget-gated OFF at this tier)."""
    names = [
        "exact_dedup_groups", "token_count", "bpe_token_count",
        "text_quality", "lang_id", "doc_fingerprint", "tpch_q1",
        "events_by_type", "frequent_tokens", "kll_caption_len_by_source",
        "bloom_customer_orders", "countmin_tokens", "kmv_distinct_by_source",
        "embedding_topk_ip", "embedding_topk_cosine",
        "simhash_dup_docs", "substring_dup_pairs",
        "embedding_cosine_dup_pairs", "ngram_jaccard_pairs",
    ]
    for n in names:
        p = plan_str(queries[n](spark, SF), mode="simple")
        assert "CartesianProduct" not in p, f"{n} plans a cartesian:\n{p}"


def test_pipeline_boundary_joins_broadcast(spark, smoke_sf_dir):
    """The id-map boundary joins (int64 → image_id) must be broadcast,
    never a shuffled sort-merge over the slim two-column side."""
    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir)
    res = run_pipeline(spark, corpus, FROZEN)
    p = plan_str(res.clusters, mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_pipeline_audits_single_sketch_reduce(spark, smoke_sf_dir):
    """The cluster audit is one partial pass, one native merge and one
    batched finisher: no per-group Python final (FlatMapGroupsInPandas,
    one Python call per cluster per sketch), and the sketch merge is
    Spark's own ObjectHashAggregate."""
    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir)
    res = run_pipeline(spark, corpus, FROZEN, with_audits=True)
    p = plan_str(res.audits, mode="simple")
    assert "FlatMapGroupsInPandas" not in p, p
    assert "ObjectHashAggregate" in p, p
    assert "CartesianProduct" not in p


def test_ks_pairwise_no_cartesian(spark, queries):
    """ks_caption_len_sources compares all source pairs — must be a
    sketch-side pairwise compare, not a row-level cartesian."""
    p = plan_str(queries["ks_caption_len_sources"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p


def test_sequence_pack_single_shard_exchange(spark, queries):
    """sequence_pack must plan ONE hash exchange on the shard key and a
    window over it — never a global (single-partition) sort, which is
    the scale-killer the sharding exists to prevent."""
    p = plan_str(queries["sequence_pack"](spark, SF))
    assert "Window" in p, p
    assert "SinglePartition" not in p, f"global window:\n{p}"
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in rs and "n_chars" not in rs


def test_split_leakage_reuses_hash_partitioning(spark, queries):
    """split_leakage_audit groups and joins on the same md5 key: the
    aggregate side must arrive at the join without a second exchange
    (partitioning reuse), and nothing may plan a cartesian."""
    p = plan_str(queries["split_leakage_audit"](spark, SF))
    assert "CartesianProduct" not in p, p
    # one exchange for the groupBy, one for the probe side; a third
    # exchange would mean the agg output was re-shuffled for the join
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"{n_exchanges} hash exchanges:\n{p}"


def test_pii_scan_is_map_only(spark, queries):
    """pii_scan is a pure map stage: no exchange of any kind may appear
    (regex count/replace over the scan, straight to output)."""
    p = plan_str(queries["pii_scan"](spark, SF))
    assert "Exchange" not in p, f"pii_scan shuffles:\n{p}"


def test_fdt_face_scan_prunes_and_single_final_exchange(spark, queries):
    """The FDT face must (a) prune the documents scan to its three
    dimension columns and (b) plan exactly one shuffle — the bounded
    partial→final exchange on the constant group (the per-partition
    bottom-k partial runs map-side inside mapInPandas), so the reduce
    input stays O(partitions·k) at any table size."""
    p = plan_str(queries["fdt_groups_lang_source"](spark, SF))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "lang" in rs[0] and "source" in rs[0] and "text" in rs[0]
    assert "doc_id" not in rs[0] and "n_chars" not in rs[0]
    # count detail-block headers only ("(N) Exchange"); formatted mode
    # also names each node in the tree line
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_exchanges == 1, p
    assert "CartesianProduct" not in p


def _node_names(df) -> list[str]:
    """Pre-order physical node names of df's plan (AQE input plan; a
    persisted frame reads as the plan that fills its cache)."""
    plan = df._jdf.queryExecution().executedPlan()
    while plan.nodeName() in ("AdaptiveSparkPlan", "InMemoryTableScan"):
        plan = (plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan"
                else plan.relation().cachedPlan())
    out = []

    def walk(p):
        out.append(p.nodeName())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return out


def test_cluster_audits_plan_nodes(spark):
    """cluster_audits over local inputs plans exactly this node list:
    one partial MapInPandas, one ObjectHashAggregate pair, one finisher
    MapInPandas, the native HLL aggregate and the join."""
    import numpy as np

    from datasketches_java_spark.operators.audits import cluster_audits

    clusters = spark.createDataFrame(
        [("a", "c1", 2), ("b", "c1", 2), ("c", "c2", 2), ("d", "c2", 2)],
        "image_id string, cluster_id string, cluster_size long",
    )
    corpus = spark.createDataFrame(
        [("a", "x y"), ("b", "x y z"), ("c", "p"), ("d", None)],
        "image_id string, caption string",
    )
    signatures = clusters.select(
        F.xxhash64("image_id").alias("id64"),
        F.lit(np.arange(4, dtype="<i4").tobytes()).alias("sig"),
    )
    out = cluster_audits(spark, clusters, signatures, corpus=corpus)
    assert _node_names(out) == [
        "Project", "SortMergeJoin", "Filter",
        "MapInPandas",                                  # batched finisher
        "ObjectHashAggregate", "ObjectHashAggregate",   # native merge
        "MapInPandas",                                  # partial
        "Project", "SortMergeJoin", "Project", "SortMergeJoin", "Project",
        "Filter", "Scan ExistingRDD", "Filter", "Scan ExistingRDD",
        "Project", "Scan ExistingRDD",
        "ObjectHashAggregate", "ObjectHashAggregate",   # HLL + exact distinct
        "ObjectHashAggregate", "ObjectHashAggregate",
        "Project", "SortMergeJoin", "Project", "Filter", "Scan ExistingRDD",
        "Filter", "Scan ExistingRDD",
    ]



def test_cluster_naming_plan_nodes(spark, smoke_sf_dir, tmp_path):
    """The three cluster-naming sites (the pipeline boundary, the delta
    state and the string-id connected_components) share one naming
    tail: members = labels ⋈ names, named by a min(name) window over
    the cluster, so the members are planned once. Each plans exactly
    this node list."""
    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.plans.delta import (
        ingest_batch, state_clusters,
    )
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir)
    clusters = run_pipeline(spark, corpus, FROZEN).clusters
    state = str(tmp_path / "state")
    ingest_batch(spark, state, corpus, FROZEN, compute_clusters=False)
    got = {
        "pipeline": _node_names(clusters),
        "state": _node_names(state_clusters(spark, state)),
        "corpus": _node_names(
            em.queries()["corpus_clusters"](spark, smoke_sf_dir)),
    }
    # labels ⋈ names; the pipeline's labels are a plan leaf (the
    # clusters stage's local checkpoint), the other sites plan the CC tail
    head = [
        "Project", "BroadcastHashJoin", "Union", "Project",
        "BroadcastHashJoin", "Filter", "InMemoryTableScan",
        "HashAggregate", "HashAggregate", "Filter", "InMemoryTableScan",
        "Project",
    ]
    members = {
        "pipeline": [
            "Project", "BroadcastHashJoin", "Project", "Filter",
            "Scan ExistingRDD", "Project", "Scan parquet ",
        ],
        "state": head + [
            "BroadcastHashJoin", "Project", "Filter", "Scan parquet ",
            "Project", "Filter", "InMemoryTableScan", "Project", "Filter",
            "Scan parquet ",
        ],
        "corpus": head + [
            "BroadcastHashJoin", "Project", "Scan parquet ", "Project",
            "Filter", "InMemoryTableScan", "Project", "Scan parquet ",
        ],
    }
    for site, m in members.items():
        assert got[site] == ["Project", "Window", *m], site


def test_ivf_in_budget_scores_in_one_pass(spark):
    """In budget, IVF scores its candidates against the broadcast
    matrix in one MapInPandas pass: no top-k Window, no vector join."""
    from datasketches_java_spark.operators.similarity import ivf_topk_cosine

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nodes = _node_names(
        ivf_topk_cosine(emb, "vec_id", "embedding", 5, n_cells=16, n_probe=8))
    assert "Window" not in nodes, nodes
    assert nodes.count("MapInPandas") == 1, nodes
