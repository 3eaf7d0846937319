"""operators/audits.py cluster_audits against a plain-Python reference
on the smoke corpus: every column of every audited cluster, computed
once more from the raw member rows (KMV n-way union + binomial bounds
over all member signatures, one KLL sketch over all caption lengths,
exact distinct captions), plus the sketch-vs-exact-twin bounds and the
merge-order invariance the sorted partial arrays buy."""

import numpy as np
import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.functions.kll_agg import (
    _quantile_frac, kll_merge, kll_partial,
)
from datasketches_java_spark.kernels import kmv
from datasketches_java_spark.kernels.kll import DEFAULT_K, KllDoubles
from datasketches_java_spark.kernels.shingle import normalize_captions

COLS = [
    "cluster_id", "n_rows", "kmv_union_est", "kmv_union_lb", "kmv_union_ub",
    "distinct_captions_hll", "distinct_captions_exact",
    "caption_len_p50", "caption_len_p99",
]
_HLL_RSE = 1.04 / 2**6   # hll_sketch_agg(caption, 12): 1.04/sqrt(2^12)


@pytest.fixture(scope="module")
def smoke(spark, smoke_sf_dir):
    from datasketches_java_spark.plans.pipeline import run_pipeline
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir)
    res = run_pipeline(spark, corpus, FROZEN, with_audits=True)
    audits = res.audits.toPandas().sort_values("cluster_id", ignore_index=True)
    rows = (
        res.clusters.filter(F.col("cluster_size") >= 2)
        .join(corpus.select("image_id", "caption"), "image_id")
        .withColumn("id64", F.xxhash64("image_id"))
        .join(res.signatures.select("id64", "sig"), "id64")
        .select("cluster_id", "image_id", "caption", "sig")
        .toPandas()
    )
    return corpus, res, audits, rows


def _reference(rows: pd.DataFrame, k: int) -> pd.DataFrame:
    out = []
    for cid, g in rows.groupby("cluster_id"):
        sigs = [np.frombuffer(s, dtype="<i4") for s in g["sig"]]
        lb, est, ub = kmv.estimate_bounds(
            kmv.union_many(sigs, k), k, 2, hash_space=float(2**31)
        )
        caps = [c for c in g["caption"] if c is not None]
        sk = KllDoubles().update_many(np.array([len(c) for c in caps], float))
        out.append((cid, len(g), est, lb, ub, len(set(caps)),
                    _quantile_frac(sk, 1, 2), _quantile_frac(sk, 99, 100)))
    return pd.DataFrame(out, columns=[
        "cluster_id", "n_rows", "kmv_union_est", "kmv_union_lb",
        "kmv_union_ub", "distinct_captions_exact",
        "caption_len_p50", "caption_len_p99",
    ])


def _shingles(caption: str) -> set[bytes]:
    """Char-5 byte windows of the normalised caption; a caption shorter
    than 5 bytes is one shingle (kernels/shingle.py convention)."""
    b = caption.encode()
    return {b} if len(b) < 5 else {b[i:i + 5] for i in range(len(b) - 4)}


def test_audits_match_plain_python_reference(smoke):
    _, _, audits, rows = smoke
    assert list(audits.columns) == COLS
    ref = _reference(rows, FROZEN.kmv_k)
    assert len(ref) > 50 and ref["n_rows"].max() <= DEFAULT_K  # exact KLL regime
    got = audits.drop(columns="distinct_captions_hll")
    for c in ("caption_len_p50", "caption_len_p99"):
        got[c] = got[c].astype(np.float64)
    assert_frame_equal(got, ref, check_exact=True, check_dtype=False)


def test_exact_twins_inside_sketch_bounds(smoke):
    _, _, audits, rows = smoke
    a = audits.set_index("cluster_id")
    for cid, g in rows.groupby("cluster_id"):
        caps = normalize_captions(g["caption"])
        n_sh = len(set().union(*(_shingles(c) for c in caps if c)))
        assert a.at[cid, "kmv_union_lb"] <= n_sh <= a.at[cid, "kmv_union_ub"], cid
        exact = a.at[cid, "distinct_captions_exact"]
        hll = a.at[cid, "distinct_captions_hll"]
        assert abs(hll - exact) <= 3 * _HLL_RSE * exact + 0.5, cid


def test_audits_without_corpus_is_kmv_only(spark, smoke):
    from datasketches_java_spark.operators.audits import cluster_audits

    _, res, audits, _ = smoke
    kmv_only = cluster_audits(spark, res.clusters, res.signatures, FROZEN)
    got = kmv_only.toPandas().sort_values("cluster_id", ignore_index=True)
    assert list(got.columns) == COLS[:5]
    assert_frame_equal(got, audits[COLS[:5]], check_exact=True)


def test_audits_keep_remapped_rows(spark, smoke):
    """Under a narrow id hash every id collides and is re-keyed by the
    remap table: xxhash64(image_id) no longer finds any signature, so
    the audit must join through the pipeline's id map to keep them."""
    from datasketches_java_spark.plans.pipeline import run_pipeline

    corpus, _, audits, _ = smoke
    narrow = F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("bigint")
    res = run_pipeline(spark, corpus, FROZEN, with_audits=True,
                       id_remap=True, id_key=narrow)
    assert res.metrics["id_remapped_rows"] > 0
    got = res.audits.toPandas().sort_values("cluster_id", ignore_index=True)
    assert_frame_equal(got, audits, check_exact=True)


def test_finisher_merge_order_invariant(spark):
    """Lossy-regime KLL (n > k, split over several partial sketches):
    merge order changes the compacted state, and a task retry can change
    the order partials arrive in. The sorted merge makes p50/p99 a
    function of the partial bytes alone."""
    from functools import partial

    from datasketches_java_spark.functions.sketch_reduce import reduce_partials
    from datasketches_java_spark.operators.audits import _AUDIT_SCHEMA, _finish

    k = FROZEN.kmv_k
    vals = np.random.default_rng(7).integers(5, 400, 1200).astype(float)
    assert len(vals) > DEFAULT_K
    parts = np.array_split(vals, 5)
    kll_blobs = [kll_partial(p) for p in parts]
    kmv_blobs = [kmv.bottom_k_flat(p.astype(np.int32), np.zeros(len(p), np.int64), 1, k)[0]
                 .astype("<i4").tobytes() for p in parts]

    def run(order):
        pdf = pd.DataFrame({
            "cluster_id": "c", "n_rows": [len(parts[i]) for i in order],
            "kmv": [kmv_blobs[i] for i in order],
            "kll": [kll_blobs[i] for i in order],
        })
        out = reduce_partials(spark.createDataFrame(pdf).coalesce(1), "cluster_id",
                              partial(_finish, k=k), _AUDIT_SCHEMA)
        return out.toPandas().iloc[0]

    a, b = [0, 1, 2, 3, 4], [2, 0, 4, 1, 3]
    # precondition: these two orders really merge to different answers
    qa, qb = (kll_merge([kll_blobs[i] for i in o]) for o in (a, b))
    assert ([_quantile_frac(qa, 1, 2), _quantile_frac(qa, 99, 100)]
            != [_quantile_frac(qb, 1, 2), _quantile_frac(qb, 99, 100)])
    ra, rb = run(a), run(b)
    assert ra.equals(rb)
    assert ra["n_rows"] == len(vals)
    u = kmv.union_many([np.frombuffer(blob, dtype="<i4") for blob in kmv_blobs], k)
    lb, est, ub = kmv.estimate_bounds(u, k, 2, hash_space=float(2**31))
    assert (ra["kmv_union_lb"], ra["kmv_union_est"], ra["kmv_union_ub"]) == (lb, est, ub)
    want = kll_merge(sorted(kll_blobs))
    assert ra["caption_len_p50"] == _quantile_frac(want, 1, 2)
    assert ra["caption_len_p99"] == _quantile_frac(want, 99, 100)
