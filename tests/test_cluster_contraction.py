"""operators/cluster.connected_components' contraction rounds.

Graphs over TAIL_EDGES edges contract in parquet-checkpointed rounds
before the single-task finisher. No benchmark tier reaches 2M edges,
so TAIL_EDGES is lowered here until a few hundred edges take several
rounds, and the labels are checked against the default tail path and
a plain-Python union-find."""

import numpy as np
import pandas as pd
import pytest

from datasketches_java_spark.operators import cluster


def _union_find(edges, ids):
    """{id: (component min id, component size)}."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {i: find(i) for i in ids}
    sizes = pd.Series(list(roots.values())).value_counts()
    return {i: (r, int(sizes[r])) for i, r in roots.items()}


def _labels(spark, edges, ids, **kw):
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]),
                              "id_a long, id_b long")
    v = spark.createDataFrame(pd.DataFrame({"id64": ids}), "id64 long")
    metrics = {}
    out = cluster.connected_components(e, v, metrics=metrics, **kw).toPandas()
    got = {r.id64: (r.cluster_id, r.cluster_size) for r in out.itertuples()}
    return got, metrics


def _random_graph():
    """~300 edges over 12 components of 20 random int64 ids, plus 40
    singleton vertices."""
    rng = np.random.default_rng(21)
    ids = rng.choice(2**62, 280, replace=False).astype(np.int64)
    edges = []
    for c in range(12):
        comp = ids[c * 20:(c + 1) * 20]
        edges += [(int(comp[j]), int(comp[j + 1])) for j in range(19)]  # spanning path
        extra = rng.integers(0, 20, (6, 2))
        edges += [(int(comp[a]), int(comp[b])) for a, b in extra if a != b]
    return edges, [int(i) for i in ids]


def test_contraction_rounds_match_tail_and_union_find(spark, monkeypatch):
    edges, ids = _random_graph()
    truth = _union_find(edges, ids)
    tail, m = _labels(spark, edges, ids)
    assert m["cc_rounds"] == 1  # default: straight to the tail finisher
    monkeypatch.setattr(cluster, "TAIL_EDGES", 20)
    got, m = _labels(spark, edges, ids)
    assert m["cc_rounds"] >= 3  # ≥ 2 contraction steps, then the tail
    assert got == tail == truth


def test_contraction_monotone_path_funnels_after_max_iter(spark, monkeypatch):
    """On a monotone-id path each contraction step removes one edge
    (every node hooks to its left neighbour), so the loop stops at
    max_iter and funnels the rest into the finisher with a warning."""
    n = 40
    edges = [(i, i + 1) for i in range(n - 1)]
    ids = list(range(n))
    truth = _union_find(edges, ids)
    tail, _ = _labels(spark, edges, ids)
    monkeypatch.setattr(cluster, "TAIL_EDGES", 12)
    with pytest.warns(UserWarning, match="funneling"):
        got, m = _labels(spark, edges, ids, max_iter=4)
    assert m["cc_rounds"] == 5 and m["cc_edges_remaining"] == n - 1 - 4
    assert got == tail == truth


def test_contraction_stall_raises(spark, monkeypatch):
    """Far above the tail budget after max_iter rounds: fail loudly
    instead of funneling into one task."""
    edges = [(i, i + 1) for i in range(199)]
    monkeypatch.setattr(cluster, "TAIL_EDGES", 10)
    with pytest.raises(RuntimeError, match="contraction rounds"):
        _labels(spark, edges, list(range(200)), max_iter=2)
