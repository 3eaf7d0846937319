"""Per-cluster sketch audits (SURVEY.md U1): one mergeable-sketch
reduce over one joined row set, members ⋈ signatures ⋈ captions, on
the shared functions/sketch_reduce.py:

 1. group_partials: per (Arrow batch, cluster) the row count, the KMV
    union of the member signatures (ThetaUnionImpl.java:272-303) in the
    signatures' own wire format (sorted little-endian int32 31-bit
    hashes: pipeline hashes, not raw items, so they stay on
    kernels/kmv.py rather than theta images) and a KLL sketch of the
    caption lengths as a reference KllDoublesSketch image — map-side
    combine, O(k) state per cluster whatever its size.
 2. reduce_partials: one native ObjectHashAggregate exchange (summed
    counts, sorted sketch arrays), then the batched finisher: per
    cluster row, the KMV union + binomial bounds and the KLL merge +
    integer-rank-fraction quantiles — exact when cluster size <= k
    (the gate regime), rank error 2.446/k^0.9433 beyond
    (kll/KllHelper.java:295-299).

Distinct captions stay native: Spark's hll_sketch_agg (the reference's
HLL algorithm, hll/HllSketch.java — SURVEY §2a H1-H3) beside the exact
countDistinct twin, joined on cluster_id.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, FROZEN
from ..functions.kll_agg import _quantile_frac, kll_merge, kll_partial
from ..functions.sketch_reduce import group_partials, reduce_partials
from ..kernels import kmv

_QUANTILE_COLS = ("caption_len_p50", "caption_len_p99")
_AUDIT_SCHEMA = (
    "cluster_id string, n_rows bigint, kmv_union_est double, "
    "kmv_union_lb double, kmv_union_ub double, "
    "caption_len_p50 double, caption_len_p99 double"
)

_HASH_SPACE_32 = float(2**31)  # pipeline signatures are top-32-bit truncated


def _finish(n_rows, kmv_blobs, kll_blobs, k: int) -> tuple:
    """KMV union + binomial bounds, KLL merge + p50/p99 for one cluster."""
    u = kmv.union_many([np.frombuffer(b, dtype="<i4") for b in kmv_blobs], k)
    lb, est, ub = kmv.estimate_bounds(u, k, 2, hash_space=_HASH_SPACE_32)
    sk = kll_merge(kll_blobs)
    return (n_rows, est, lb, ub,
            _quantile_frac(sk, 1, 2), _quantile_frac(sk, 99, 100))


def _build(sub: pd.DataFrame, k: int) -> tuple:
    """Row count, KMV partial union, KLL partial of caption lengths."""
    # sig wire format: little-endian int32 bytes; the partial keeps it
    sigs = [np.frombuffer(s, dtype="<i4") for s in sub["sig"]]
    return (len(sub), kmv.union_many(sigs, k).astype("<i4").tobytes(),
            kll_partial(sub["cap_len"].to_numpy(np.float64)))


def cluster_audits(
    spark: SparkSession,
    clusters: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig = FROZEN,
    corpus: DataFrame | None = None,
    min_size: int = 2,
    idmap: DataFrame | None = None,
) -> DataFrame:
    """Audit table for clusters with >= min_size members.

    `clusters` is the boundary table (image_id, cluster_id string);
    `signatures` is the internal table keyed by id64. With the default
    keying the join key is re-derived as xxhash64(image_id) — the same
    function the signature stage used, so no id map needs to travel;
    pipelines running id_remap/id_key MUST pass their `idmap`
    (id64, image_id) instead, or remapped rows would silently drop out
    of the audit join (run_pipeline does)."""
    k = cfg.kmv_k
    base = clusters.filter(F.col("cluster_size") >= min_size)
    if idmap is not None:
        members = base.join(F.broadcast(idmap), "image_id").select(
            "image_id", "id64", "cluster_id"
        )
    else:
        members = base.select(
            "image_id", F.xxhash64("image_id").alias("id64"), "cluster_id"
        )
    if corpus is not None:
        caps = members.join(corpus.select("image_id", "caption"), "image_id")
        cap_len = F.length("caption").cast("double")
    else:
        caps, cap_len = members, F.lit(None).cast("double")
    rows = caps.select("id64", "cluster_id", cap_len.alias("cap_len")).join(
        signatures.select("id64", "sig"), "id64"
    )

    partials = group_partials(
        rows.select("cluster_id", "sig", "cap_len"), "cluster_id",
        partial(_build, k=k),
        "cluster_id string, n_rows bigint, kmv binary, kll binary",
    )
    out = reduce_partials(partials, "cluster_id", partial(_finish, k=k), _AUDIT_SCHEMA)
    if corpus is None:
        return out.drop(*_QUANTILE_COLS)
    hll = caps.groupBy("cluster_id").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("caption", F.lit(12))).alias(
            "distinct_captions_hll"
        ),
        # the exact twin every estimate column is audited against
        # (clusters are small; at web scale this column is dropped
        # and the HLL/KMV estimates carry the audit)
        F.countDistinct("caption").alias("distinct_captions_exact"),
    )
    return out.join(hll, "cluster_id").select(
        *out.drop(*_QUANTILE_COLS).columns,
        "distinct_captions_hll", "distinct_captions_exact",
        *(F.col(c).cast("int").alias(c) for c in _QUANTILE_COLS),
    )
