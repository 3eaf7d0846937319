"""SimHash / substring / cosine near-dup pair operators
(operators/dedup_text.py, operators/similarity.cosine_dup_pairs).

Each operator claims EXACTNESS (not approximation) at its gate
setting; these tests verify that claim against independent brute-force
recomputation in numpy/python, plus plan-path equivalence for the
budget-gated cosine operator.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.operators.dedup_text import (
    simhash60,
    simhash_dup_pairs,
    substring_dup_pairs,
)
from datasketches_java_spark.operators.similarity import (
    COS_QUANT,
    QUANT,
    cosine_dup_pairs,
)


def _py_simhash60(text: str) -> int:
    toks = set(t for t in text.strip().lower().split())
    votes = [0] * 60
    for t in sorted(toks):
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for b in range(60):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(60) if votes[b] > 0)


def test_simhash60_matches_python_reference(spark, smoke_sf_dir):
    d = (
        spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
        .select("doc_id", "text", simhash60("text").alias("sig"))
        .limit(50)
        .collect()
    )
    for r in d:
        assert r.sig == _py_simhash60(r.text), r.doc_id


def test_simhash_dup_pairs_exact_vs_brute_force(spark, smoke_sf_dir):
    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
    sigs = {
        r.doc_id: r.sig
        for r in docs.select("doc_id", simhash60("text").alias("sig")).collect()
    }
    ids = sorted(sigs)
    expected = set()
    from datasketches_java_spark.kernels.hashing import popcount64

    sig_arr = np.array([sigs[i] for i in ids], dtype=np.uint64)
    for i in range(len(ids)):
        ham = popcount64(sig_arr[i] ^ sig_arr[i + 1 :])
        for j in np.nonzero(ham <= 3)[0]:
            expected.add((ids[i], ids[i + 1 + j], int(ham[j])))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    # banded pigeonhole must be lossless at hamming <= n_bands - 1
    assert got == expected and len(got) > 0


def test_substring_dup_pairs_rows_equal_without_broadcast(spark, smoke_sf_dir):
    """The candidate-doc join is sized at run time, not forced to a
    broadcast: with broadcasts disabled it plans a shuffle join and
    returns the same rows."""
    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")

    def run():
        out = substring_dup_pairs(docs, "doc_id", "text")
        rows = sorted(map(tuple, out.collect()))
        return rows, out._jdf.queryExecution().executedPlan().toString()

    default, _ = run()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        no_broadcast, plan = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan, plan
    assert no_broadcast == default and default


def test_simhash_dup_pairs_rejects_bad_band_split(spark, smoke_sf_dir):
    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        simhash_dup_pairs(docs, "doc_id", "text", max_hamming=6)  # 7 ∤ 60


def test_substring_dup_pairs_vs_brute_force(spark, smoke_sf_dir):
    L = 24
    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    windows = {
        i: {t[p : p + L] for p in range(len(t) - L + 1)}
        for i, t in texts.items()
        if len(t) >= L
    }
    ids = sorted(windows)
    expected = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            n = len(windows[ids[x]] & windows[ids[y]])
            if n:
                expected[(ids[x], ids[y])] = n
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in substring_dup_pairs(docs, "doc_id", "text", min_len=L).collect()
    }
    assert got == expected and len(got) > 0


def _np_cos_pairs(ids, M, thr_q):
    Q = np.rint(M * QUANT).astype(np.int64)
    dot = (Q @ Q.T).astype(np.float64)
    n = (Q.astype(np.float64) ** 2).sum(axis=1)
    S = np.floor(COS_QUANT * dot / np.sqrt(n[:, None] * n[None, :]) + 0.5).astype(
        np.int64
    )
    out = set()
    for i in range(len(ids)):
        for j in np.nonzero(S[i, i + 1 :] >= thr_q)[0]:
            out.add((ids[i], ids[i + 1 + j], int(S[i, i + 1 + j])))
    return out


def test_cosine_dup_pairs_matches_numpy_and_fallback(spark, smoke_sf_dir,
                                                    monkeypatch):
    emb = spark.read.parquet(f"{smoke_sf_dir}/embeddings.parquet")
    pdf = emb.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    expected = _np_cos_pairs(ids, M, int(0.4 * COS_QUANT))

    fast = {
        (r.id_a, r.id_b, r.cos_q)
        for r in cosine_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    assert fast == expected and len(fast) > 0

    # over-budget crossJoin fallback computes the identical pair set
    import datasketches_java_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_MATRIX_BUDGET_BYTES", 0)
    slow = {
        (r.id_a, r.id_b, r.cos_q)
        for r in cosine_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    assert slow == expected


def test_ssjoin_fallback_matches_bitmap_on_nonascii_and_empty(spark, monkeypatch):
    """Plan choice must never change ssjoin results: the shuffled
    rescore fallback scores CHARACTER windows with the JVM
    whole-short-string rule (byte windows diverged on non-ASCII text
    and dropped empty docs)."""
    import pandas as pd

    from datasketches_java_spark.operators import dedup_relational as dr
    from datasketches_java_spark.scope import RunScope

    rows = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(8)],
        "text": [
            "héllo wörld ünïcode téxt hére",   # non-ASCII near-dups
            "héllo wörld ünïcode téxt hére",
            "", "",                              # two empty docs
            "plain ascii text sample one",
            "plain ascii text sample two",
            "ab", "ab",                          # shorter than k
        ],
    })
    df = spark.createDataFrame(rows)

    def pairs():
        with RunScope():
            out = dr.ssjoin_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
            return {(r.id_a, r.id_b): round(r.jaccard_exact, 9)
                    for r in out.collect()}

    fast = pairs()
    # force the shuffled rescore fallback
    monkeypatch.setattr(dr, "_PULL_BUDGET_BYTES", 0)
    monkeypatch.setattr(dr, "_BITMAP_BUDGET_BYTES", 0)
    slow = pairs()
    assert fast == slow
    assert ("d2", "d3") in fast      # empty docs share the "" shingle
    assert ("d6", "d7") in fast      # whole-short-string rule
    assert ("d0", "d1") in fast      # non-ASCII near-dup pair survives
