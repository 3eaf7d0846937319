"""KLL quantile sketch as a distributed partial/final aggregation.

The reference's quantile story at scale is the mergeable sketch
(kll/KllDoublesSketch.java:275 merge, kll/KllDoublesHelper.java:134-196);
this is its Spark face over kernels/kll.py:

 1. partial (mapInPandas): one serialized KLL sketch per (Arrow batch,
    group) — map-side combine; O(k log n) state per group crosses the
    shuffle regardless of group size.
 2. final (applyInPandas per group): merge sketches, answer quantile
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

from ..kernels.kll import DEFAULT_K, KllDoubles


def _quantile_frac(sk: KllDoubles, p: int, q: int) -> float:
    """min v with q·cumweight(v) >= p·n — inclusive rank, integer math."""
    it, wt = sk._sorted_view()
    if len(it) == 0:
        return float("nan")
    cum = np.cumsum(wt)
    idx = int(np.searchsorted(q * cum, p * sk.n, side="left"))
    return float(it[min(idx, len(it) - 1)])


def kll_partial(values: np.ndarray, k: int = DEFAULT_K, seed: int = 9001) -> bytes:
    """One serialized partial sketch over `values` (NaN skipped)."""
    return KllDoubles(k=k, seed=seed).update_many(values).serialize()


def kll_merge(blobs, seed: int = 9001) -> KllDoubles:
    """Merge serialized partial sketches, in the order given."""
    return reduce(KllDoubles.merge,
                  (KllDoubles.deserialize(b, seed=seed) for b in blobs))


def _kll_partials(
    df: DataFrame, group_col: str, value_col: str, k: int, seed: int
) -> DataFrame:
    """(group, sketch): one partial sketch per (Arrow batch, group)."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_g, out_s = [], []
            for g, sub in pdf.groupby(group_col, sort=False):
                out_g.append(g)
                out_s.append(
                    kll_partial(sub[value_col].to_numpy(np.float64), k, seed)
                )
            yield pd.DataFrame({group_col: out_g, "sketch": out_s})

    return df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(value_col).cast("double").alias(value_col),
    ).mapInPandas(partial, f"{group_col} string, sketch binary")


def kll_sketch_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> DataFrame:
    """Per-group serialized KLL sketch (group, sketch binary) — the
    mergeable partial-aggregate form (kll/KllDoublesSketch.java
    toByteArray), for operators that consume sketch state directly
    (KS drift tests, cross-window comparisons) rather than quantiles."""

    def final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sk = kll_merge(pdf["sketch"], seed)
        return pd.DataFrame({group_col: [key[0]], "sketch": [sk.serialize()]})

    return _kll_partials(df, group_col, value_col, k, seed).groupBy(
        group_col
    ).applyInPandas(final, f"{group_col} string, sketch binary")


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
    qcols = [f"q_{p}_{q}" for p, q in quantiles]

    def final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sk = kll_merge(pdf["sketch"], seed)
        row = {group_col: [key[0]], "n": [sk.n]}
        for (p, q), name in zip(quantiles, qcols):
            row[name] = [_quantile_frac(sk, p, q)]
        return pd.DataFrame(row)

    schema = f"{group_col} string, n bigint, " + ", ".join(
        f"{c} double" for c in qcols
    )
    return _kll_partials(df, group_col, value_col, k, seed).groupBy(
        group_col
    ).applyInPandas(final, schema)


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
    Same two-level shape as kll_quantile_agg: mapInPandas partial
    (one O(k) sketch per batch×group crosses the shuffle) →
    applyInPandas final merge + integer-rank-fraction queries. String
    order is identical across Python/Spark/DuckDB (UTF-8 binary
    collation), so the exact regime (n ≤ k per group) is
    SQL-oracle-able; lossy-regime rank error is the type-agnostic
    2.446/k^0.9433 contract, pytest-gated (tests/test_kll_items.py).

    Output: (group, n, q_p_q... as strings). NULL values are skipped
    (the reference's update(null) no-op)."""
    from ..kernels.kll_items import KllItems

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_g, out_s = [], []
            for g, sub in pdf.groupby(group_col, sort=False):
                sk = KllItems(k=k, seed=seed)
                sk.update_many(
                    [v for v in sub[value_col] if v is not None]
                )
                out_g.append(g)
                out_s.append(sk.serialize_strings())
            yield pd.DataFrame({group_col: out_g, "sketch": out_s})

    partials = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(value_col).cast("string").alias(value_col),
    ).mapInPandas(partial, f"{group_col} string, sketch binary")

    qcols = [f"q_{p}_{q}" for p, q in quantiles]

    def final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sk = KllItems.deserialize_strings(bytes(pdf["sketch"].iloc[0]), seed=seed)
        for b in pdf["sketch"].iloc[1:]:
            sk.merge(KllItems.deserialize_strings(bytes(b), seed=seed))
        row = {group_col: [key[0]], "n": [sk.n]}
        for (p, q), name in zip(quantiles, qcols):
            row[name] = [sk.get_quantile_frac(p, q)]
        return pd.DataFrame(row)

    schema = f"{group_col} string, n bigint, " + ", ".join(
        f"{c} string" for c in qcols
    )
    return partials.groupBy(group_col).applyInPandas(final, schema)


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
                    KllDoubles.deserialize(bytes(ba), seed=seed),
                    KllDoubles.deserialize(bytes(bb), seed=seed),
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
