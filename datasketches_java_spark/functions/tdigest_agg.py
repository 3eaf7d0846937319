"""t-digest as a distributed partial/final aggregation.

Spark face over kernels/tdigest.py (reference tdigest/TDigestDouble.java
merge :115-130) on functions/sketch_reduce.py: partial digest per (Arrow
batch, group) — map-side combine, O(k) centroids per group cross the
shuffle as a reference TDigestDouble image — then the sorted native
merge and one batched finisher that merges each group's digests and
queries them. The same two-level shape as functions/kll_agg.py.

Gate contract (tdigest_caption_len_by_source): while every group's item
count keeps the K_2 packing bound below 2 (n ≲ 150 at k=200; any n ≤ a
few hundred at k=1000), centroids stay singletons and the digest is
EXACT — median interpolation between adjacent unit-weight centroids is
then the classic order-statistic midpoint, so `med2 = 2·quantile(1/2)`
is the integer v_(⌈(n+1)/2⌉) + v_(⌊(n+1)/2⌋), SQL-oracle-able with no
float divergence. min/max are exact in EVERY regime
(TDigestDouble.java exact min/max tracking). The lossy-regime accuracy
contract is pytest-gated in tests/test_tdigest.py.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import tdigest
from ..kernels.tdigest import DEFAULT_K, TDigest
from .sketch_reduce import group_partials, reduce_partials


def tdigest_median_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Per-group t-digest summary: (group, n, med2, min_v, max_v) with
    med2 = round(2·median) (doubled so the even-n midpoint stays an
    integer for integer inputs), min/max exact."""

    def build(sub: pd.DataFrame) -> tuple:
        td = TDigest(k=k)
        td.update_many(sub[value_col].to_numpy(np.float64))
        return (tdigest.to_ref_bytes(td),)

    def finish(blobs) -> tuple:
        td = reduce(TDigest.merge, map(tdigest.from_ref_bytes, blobs))
        # med2 = v_⌊(n+1)/2⌋ + v_⌈(n+1)/2⌉ via the INCLUSIVE-criterion
        # order statistic over the centroid view (first centroid whose
        # cumulative weight reaches j). In the singleton regime this
        # IS the order statistic, making med2 SQL-oracle-able exactly;
        # the port-faithful get_quantile(0.5) would return the upper
        # item alone at even n (reference singleton short-circuit,
        # TDigestDouble.java:269-276), which is not the midpoint the
        # oracle computes. Lossy regime: centroid-mean approximation,
        # pytest-gated.
        n = int(round(td.n))
        cum = np.cumsum(td.weights)
        j_lo, j_hi = (n + 1) // 2, (n + 2) // 2
        lo = float(td.means[min(int(np.searchsorted(cum, j_lo)), len(cum) - 1)])
        hi = float(td.means[min(int(np.searchsorted(cum, j_hi)), len(cum) - 1)])
        return (n, int(round(lo + hi)), int(round(td.min)), int(round(td.max)))

    partials = group_partials(
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("double").alias(value_col),
        ),
        group_col, build, f"{group_col} string, sketch binary",
    )
    return reduce_partials(
        partials, group_col, finish,
        f"{group_col} string, n bigint, med2 bigint, min_v bigint, max_v bigint",
    )
