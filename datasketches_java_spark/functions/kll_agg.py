"""KLL quantile sketch as a distributed partial/final aggregation.

The reference's quantile story at scale is the mergeable sketch
(kll/KllDoublesSketch.java:275 merge, kll/KllDoublesHelper.java:134-196);
this is its Spark face over kernels/kll.py:

 1. partial (sketch_reduce.group_partials): one KLL sketch per (Arrow
    batch, group) — map-side combine; O(k log n) state per group crosses
    the shuffle regardless of group size, as a reference
    KllDoublesSketch image (the sketch's one serialized form).
 2. final (sketch_reduce.reduce_partials): sorted native merge, then a
    batched finisher merges each group's sketches and answers quantile
    queries from the weight-sorted view.

Quantile extraction uses INTEGER rank fractions (p/q), not float ranks:
the inclusive criterion "min v with q·(#items <= v) >= p·n"
(quantilescommon/QuantileSearchCriteria.java:41 INCLUSIVE) evaluates in
exact integer math on both our side and a SQL oracle's, so results
compare exactly when the sketch is in its exact regime (n <= k, no
compaction — the same exact-mode trick the KMV gate query uses). At
lossy tiers the rank-error contract 2.446/k^0.9433
(kll/KllHelper.java:295-299) is pytest-gated.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import kll
from ..kernels.kll import DEFAULT_K, KllDoubles
from .sketch_reduce import group_partials, reduce_partials


def _quantile_frac(sk, p: int, q: int) -> float:
    """min v with q·cumweight(v) >= p·n — inclusive rank, integer math.
    Any sketch with a weighted `_sorted_view()` and an item count `n`
    (KllDoubles here, ReqDoubles in functions/req_agg.py)."""
    it, wt = sk._sorted_view()
    if len(it) == 0:
        return float("nan")
    cum = np.cumsum(wt)
    idx = int(np.searchsorted(q * cum, p * sk.n, side="left"))
    return float(it[min(idx, len(it) - 1)])


def kll_partial(values: np.ndarray, k: int = DEFAULT_K, seed: int = 9001) -> bytes:
    """One partial sketch over `values` (NaN skipped), as its reference
    image."""
    return kll.to_ref_bytes(KllDoubles(k=k, seed=seed).update_many(values))


def kll_merge(blobs, seed: int = 9001) -> KllDoubles:
    """Merge partial sketch images, in the order given."""
    return reduce(KllDoubles.merge,
                  (kll.from_ref_bytes(b, seed) for b in blobs))


def _kll_partials(
    df: DataFrame, group_col: str, value_col: str, k: int, seed: int
) -> DataFrame:
    """(group, sketch): one partial sketch per (Arrow batch, group)."""
    return group_partials(
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("double").alias(value_col),
        ),
        group_col,
        lambda sub: (kll_partial(sub[value_col].to_numpy(np.float64), k, seed),),
        f"{group_col} string, sketch binary",
    )


def kll_sketch_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """Per-group KLL sketch (group, sketch binary) for operators that
    consume sketch state directly (KS drift tests, cross-window
    comparisons) rather than quantiles. `sketch` is a KllDoublesSketch
    image (kll/KllDoublesSketch.java toByteArray): datasketches-java
    heapifies it, and so do Spark's kll_sketch_get_*_double built-ins."""
    return reduce_partials(
        _kll_partials(df, group_col, value_col, k, seed), group_col,
        lambda blobs: (kll.to_ref_bytes(kll_merge(blobs, seed)),),
        f"{group_col} string, sketch binary",
    )


def kll_quantile_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: Sequence[tuple[int, int]] = ((1, 2), (99, 100)),
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """Per-group KLL quantiles. `quantiles` are integer rank fractions
    (p, q); output columns are named q_p_q (e.g. q_1_2 for the median).

    Output: (group, n, q_p_q...) with n = exact item count."""

    def finish(blobs) -> tuple:
        sk = kll_merge(blobs, seed)
        return (sk.n, *(_quantile_frac(sk, p, q) for p, q in quantiles))

    schema = f"{group_col} string, n bigint, " + ", ".join(
        f"q_{p}_{q} double" for p, q in quantiles
    )
    return reduce_partials(
        _kll_partials(df, group_col, value_col, k, seed), group_col, finish, schema
    )


def kll_items_quantile_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: Sequence[tuple[int, int]] = ((1, 2), (99, 100)),
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """Per-group ITEM-TYPED (string) KLL quantiles — the distributed
    face of kernels/kll_items.py (reference kll/KllItemsSketch.java:45
    with an ArrayOfStringsSerDe; sorted-view queries per
    quantilescommon/ItemsSketchSortedView.java). Answers "p99 caption
    by lexicographic order" — inexpressible with the doubles kernel.
    Same two-level shape as kll_quantile_agg: one O(k) partial sketch
    per batch×group crosses the shuffle, then the batched finisher
    merges and answers integer-rank-fraction queries. String
    order is identical across Python/Spark/DuckDB (UTF-8 binary
    collation), so the exact regime (n ≤ k per group) is
    SQL-oracle-able; lossy-regime rank error is the type-agnostic
    2.446/k^0.9433 contract, pytest-gated (tests/test_kll_items.py).

    Output: (group, n, q_p_q... as strings). NULL values are skipped
    (the reference's update(null) no-op)."""
    from ..kernels.kll_items import KllItems

    def build(sub: pd.DataFrame) -> tuple:
        sk = KllItems(k=k, seed=seed)
        sk.update_many([v for v in sub[value_col] if v is not None])
        return (sk.to_ref_bytes(),)

    def finish(blobs) -> tuple:
        sk = reduce(KllItems.merge, (
            KllItems.from_ref_bytes(bytes(b), seed=seed) for b in blobs
        ))
        return (sk.n, *(sk.get_quantile_frac(p, q) for p, q in quantiles))

    partials = group_partials(
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("string").alias(value_col),
        ),
        group_col, build, f"{group_col} string, sketch binary",
    )
    schema = f"{group_col} string, n bigint, " + ", ".join(
        f"q_{p}_{q} string" for p, q in quantiles
    )
    return reduce_partials(partials, group_col, finish, schema)


def ks_pairwise(sketches: DataFrame, group_col: str = "group",
                sketch_col: str = "sketch", seed: int = 9001) -> DataFrame:
    """All-pairs two-sample Kolmogorov-Smirnov D over per-group KLL
    sketches (reference X5, quantilescommon/KolmogorovSmirnov.java:47
    computeKSDelta) as an EXACT RATIONAL: one row per unordered pair
    a<b with D = d_num/d_den, d_den = n_a·n_b (kernels/ks.py
    ks_delta_rational). Integer outputs ⇒ SQL-oracle-able in the
    sketches' exact regime (gate query ks_caption_len_sources); the
    reject-threshold test over lossy sketches is kernels/ks.ks_test,
    pytest-gated (tests/test_freq_ks.py).

    Pair join = crossJoin of G-row sketch frames (broadcast right
    side): O(G²) pairs of O(k) state — sketches travel, never data."""
    from ..kernels.ks import ks_delta_rational

    a = sketches.select(
        F.col(group_col).alias("source_a"), F.col(sketch_col).alias("sk_a")
    )
    b = sketches.select(
        F.col(group_col).alias("source_b"), F.col(sketch_col).alias("sk_b")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("source_a") < F.col("source_b")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nums, dens = [], []
            for ba, bb in zip(pdf["sk_a"], pdf["sk_b"]):
                num, den = ks_delta_rational(
                    kll.from_ref_bytes(bytes(ba), seed),
                    kll.from_ref_bytes(bytes(bb), seed),
                )
                nums.append(num)
                dens.append(den)
            yield pd.DataFrame(
                {
                    "source_a": pdf["source_a"],
                    "source_b": pdf["source_b"],
                    "d_num": np.asarray(nums, np.int64),
                    "d_den": np.asarray(dens, np.int64),
                }
            )

    return pairs.mapInPandas(
        gen, "source_a string, source_b string, d_num bigint, d_den bigint"
    )
