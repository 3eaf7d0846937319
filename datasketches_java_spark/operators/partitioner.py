"""Quantile-driven equi-weight partitioner — the reference's
`partitions/Partitioner.java` re-expressed Spark-first.

Reference semantics ported:
 - level math (`Partitioner.java:113-121`): guessNumParts =
   ceil(N / tgtPartitionSize); numLevels = ceil(log(guess)/log(maxParts));
   partitionsPerSk = min(round(guess^(1/numLevels)), maxPartsPerSk).
 - boundary extraction at evenly spaced normalized ranks with the
   INCLUSIVE criterion (`quantilescommon/ItemsSketchSortedView.java:150-184`),
   natural ranks = cumulative weight at the chosen index.
 - per-partition delta counts (`GenericPartitionBoundaries.java:66-74`):
   delta[i] = natRank[i] - natRank[i-1] (+1 at i == 1 under INCLUSIVE).
 - bounds rules (`Partitioner.java:210-242`, INCLUSIVE branch):
   part 1 = [minItem, b1] INCLUDE_BOTH; part p>1 = (b_{p-1}, b_p]
   INCLUDE_UPPER; empty parts INCLUDE_NEITHER.

Spark-first difference (the point of the port): the reference re-scans
the source once PER RANGE per level (`SketchFillRequest.getRange`,
`Partitioner.java:146-152`) — sum-over-levels(#ranges) passes. Here each
level is ONE distributed pass: every row is routed to its current range
inside the same Arrow-batched map pass that builds the per-range partial
KLL sketches, and a single groupBy merge produces ALL range sketches of
the level simultaneously. numLevels scans total; at 100 TB that is the
difference between 2-3 scans and thousands.

Sketch state per range is O(k log n) regardless of range size, so the
driver-side boundary computation touches only (#ranges x sketch) bytes —
the same contract the reference's single-CPU driver loop relies on.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kll_agg import kll_merge, kll_partial
from ..functions.sketch_reduce import reduce_partials
from ..kernels import kll
from ..kernels.kll import DEFAULT_K, KllDoubles

INCLUDE_BOTH = "INCLUDE_BOTH"
INCLUDE_UPPER = "INCLUDE_UPPER"
INCLUDE_NEITHER = "INCLUDE_NEITHER"


@dataclass
class PartitionBound:
    """One row of the final partition list (Partitioner.PartitionBoundsRow)."""

    part: int  # 1-based index in the final list
    level_part_id: str  # hierarchical id, reference levelPartId discipline
    lower: float
    upper: float
    rule: str
    approx_rows: int


def plan_levels(
    n: int, target_rows: int | None, num_parts: int | None, max_parts_per_pass: int
) -> tuple[int, int]:
    """(numLevels, partitionsPerSk) — Partitioner.java:113-121 verbatim math.

    Exactly one of target_rows / num_parts must be given; num_parts is
    the `guessNumParts` shortcut (target = ceil(n / num_parts))."""
    if (target_rows is None) == (num_parts is None):
        raise ValueError("give exactly one of target_rows / num_parts")
    if max_parts_per_pass < 2:
        raise ValueError(
            f"max_parts_per_pass must be >= 2, got {max_parts_per_pass}")
    if num_parts is not None:
        guess = max(1.0, float(num_parts))
    else:
        guess = max(1.0, math.ceil(n / float(target_rows)))
    num_levels = int(max(1, math.ceil(math.log(guess) / math.log(max_parts_per_pass))))
    parts_per_sk = int(min(round(guess ** (1.0 / num_levels)), max_parts_per_pass))
    return num_levels, parts_per_sk


def _gpb(sk: KllDoubles, parts: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(boundaries[0..P], natRanks[0..P], deltaItems[1..P]) under the
    INCLUSIVE criterion, in exact integer rank math (min v whose
    P*cumweight >= i*n), from the min/max-adjusted sorted view —
    ItemsSketchSortedView.java:150-184 + GenericPartitionBoundaries.java:66-74.
    """
    it, cum = sk._view_with_minmax()
    if len(it) == 0:
        raise ValueError("empty sketch (reference: EMPTY_MSG)")
    n = sk.n
    bounds = np.empty(parts + 1, np.float64)
    nat = np.empty(parts + 1, np.int64)
    for i in range(parts + 1):
        idx = int(np.searchsorted(parts * cum, i * n, side="left"))
        idx = min(idx, len(it) - 1)
        bounds[i] = it[idx]
        nat[i] = cum[idx]
    deltas = np.empty(parts, np.int64)
    for i in range(1, parts + 1):
        deltas[i - 1] = nat[i] - nat[i - 1] + (1 if i == 1 else 0)
    return bounds, nat, deltas


def _rows_for_level(
    prefix: str, level: int, lower_min: float, bounds: np.ndarray, deltas: np.ndarray
) -> list[PartitionBound]:
    """PartitionBoundsRow construction, INCLUSIVE branch
    (Partitioner.java:219-229); `part` is filled by the caller."""
    out = []
    parts = len(deltas)
    for p in range(1, parts + 1):
        if p == 1:
            lo, up = lower_min, float(bounds[1])
            rule = (
                INCLUDE_NEITHER
                if deltas[0] == 0
                else (INCLUDE_UPPER if lo == up else INCLUDE_BOTH)
            )
        else:
            lo, up = float(bounds[p - 1]), float(bounds[p])
            rule = INCLUDE_NEITHER if deltas[p - 1] == 0 else INCLUDE_UPPER
        out.append(
            PartitionBound(
                part=0,
                level_part_id=f"{prefix}.{p}",
                lower=lo,
                upper=up,
                rule=rule,
                approx_rows=int(deltas[p - 1]),
            )
        )
    return out


def _sketch_ranges(
    df: DataFrame,
    col: str,
    ranges: list[PartitionBound] | None,
    k: int,
    seed: int,
) -> dict[int, KllDoubles]:
    """ONE distributed pass: route each row to its range (vectorized
    searchsorted over the range uppers inside the Arrow batch) and build
    per-(batch, range) partial KLL sketches; a single groupBy merge
    yields every range sketch of the level. `ranges=None` = whole table
    (level 1). Returns {range_index: merged sketch} on the driver —
    O(#ranges * k) bytes."""
    if ranges is None:
        uppers = None
    else:
        # interior uppers: row belongs to first range whose upper >= x
        # (INCLUSIVE tiling: part1 [lb,ub], others (lb,ub])
        uppers = np.array([r.upper for r in ranges[:-1]], np.float64)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = pdf[col].to_numpy(np.float64)
            v = v[~np.isnan(v)]
            if len(v) == 0:
                continue
            if uppers is None:
                rid = np.zeros(len(v), np.int64)
            else:
                rid = np.searchsorted(uppers, v, side="left")
            out_r, out_s = [], []
            order = np.argsort(rid, kind="stable")
            rid_s, v_s = rid[order], v[order]
            cuts = np.flatnonzero(np.diff(rid_s)) + 1
            for seg_rid, seg in zip(
                rid_s[np.concatenate([[0], cuts])],
                np.split(v_s, cuts),
            ):
                out_r.append(int(seg_rid))
                out_s.append(kll_partial(seg, k, seed))
            yield pd.DataFrame({"rid": out_r, "sketch": out_s})

    partials = df.select(F.col(col).cast("double").alias(col)).mapInPandas(
        partial, "rid long, sketch binary"
    )

    merged = reduce_partials(
        partials, "rid", lambda blobs: (kll.to_ref_bytes(kll_merge(blobs, seed)),),
        "rid long, sketch binary",
    )
    return {
        int(r["rid"]): kll.from_ref_bytes(bytes(r["sketch"]), seed)
        for r in merged.collect()
    }


def partition_boundaries(
    df: DataFrame,
    col: str,
    *,
    target_rows: int | None = None,
    num_parts: int | None = None,
    max_parts_per_pass: int = 64,
    k: int = DEFAULT_K,
    seed: int = 9001,
) -> list[PartitionBound]:
    """The reference's `Partitioner.partition(sk)` over a DataFrame
    column: equi-weight partition boundaries for very large data sets,
    numLevels distributed passes total (see module docstring)."""
    level1 = _sketch_ranges(df, col, None, k, seed)
    if 0 not in level1 or level1[0].n == 0:
        raise ValueError("empty input (reference: EMPTY_MSG)")
    root = level1[0]
    n = root.n
    num_levels, parts_per_sk = plan_levels(
        n, target_rows, num_parts, max_parts_per_pass
    )

    bounds, _, deltas = _gpb(root, parts_per_sk)
    rows = _rows_for_level("1", 1, float(root._ref_min), bounds, deltas)

    for level in range(2, num_levels + 1):
        sketches = _sketch_ranges(df, col, rows, k, seed)
        next_rows: list[PartitionBound] = []
        for i, r in enumerate(rows):
            sk = sketches.get(i)
            if sk is None or sk.n == 0:
                # degenerate empty range: keep as a leaf (the reference
                # would throw EMPTY_MSG from the range sketch; we
                # degrade to emitting the empty row)
                next_rows.append(r)
                continue
            b2, _, d2 = _gpb(sk, parts_per_sk)
            # first sub-row's lower bound is the RANGE sketch's own min
            # item (PartitionBoundsRow uses gpb.getMinItem() of the range
            # sketch, Partitioner.java:221)
            next_rows.extend(
                _rows_for_level(
                    f"{r.level_part_id},{level}", level, float(sk._ref_min), b2, d2
                )
            )
        rows = next_rows

    for j, r in enumerate(rows):
        r.part = j + 1
    return rows


def partition_boundaries_df(
    spark: SparkSession, rows: Sequence[PartitionBound]
) -> DataFrame:
    """The final partition list as a small DataFrame (gate/report face)."""
    return spark.createDataFrame(
        [(r.part, r.level_part_id, r.lower, r.upper, r.rule, r.approx_rows) for r in rows],
        "part int, level_part_id string, lower double, upper double, rule string, approx_rows bigint",
    )


def repartition_by_boundaries(
    df: DataFrame, col: str, rows: Sequence[PartitionBound], part_col: str = "__part"
) -> DataFrame:
    """Route rows to their equi-weight partition and co-locate them.

    Assignment stays JVM-side (whole-stage codegen): part = 1 + count of
    interior uppers < x over a broadcast array literal — O(#parts) per
    row with no Python in the path; then one RANGE repartition on the
    part id (contiguous ints 1..P): hash repartitioning collided ~1/e
    of part ids into shared Spark partitions and left as many empty —
    3-4x target_rows in the worst-packed file — where range
    partitioning over the already-uniform part ids is ~1:1. At cluster
    scale this is the write-side of the reference's partitioning use
    case: each output partition holds ~target_rows rows regardless of
    value skew."""
    uppers = [r.upper for r in rows[:-1]]
    arr = F.array(*[F.lit(float(u)) for u in uppers])
    x = F.col(col).cast("double")
    part = F.aggregate(
        arr,
        F.lit(1),
        lambda acc, u: acc + F.when(x > u, F.lit(1)).otherwise(F.lit(0)),
    )
    out = df.withColumn(part_col, part)
    return out.repartitionByRange(len(rows), part_col)
