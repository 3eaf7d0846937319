"""Sketch aggregations as Arrow-grouped UDAFs.

The raw-item theta lane (SURVEY.md §3.1 T1-T5, T7) runs on Spark's
built-in datasketches-java theta functions: `theta_sketch_agg` builds
one compact reference image per group (partial and final aggregation
stay in the JVM, and the image bytes do not depend on the partition
layout), `theta_intersection` / `theta_difference` run the pairwise
set algebra, and `kmv_distinct_agg` reads each group's image once in a
batched finisher, kernels/theta_compat.estimate_bounds (the reference
getEstimate / getLowerBound / getUpperBound). Items are the value cast
to a Spark string, hashed as MurmurHash3 of its UTF-8 bytes with seed
9001, the reference's update(String).

The tuple aggregate runs on functions/sketch_reduce.py: a partial
sketch per (Arrow batch, group), a sorted native merge, one batched
finisher, so its state stays O(k) per group whatever the group size.
VarOpt runs on it too, its partial a k-sample frame per (Arrow batch,
group); EBPPS keeps its own single-level grouped map (see
ebpps_sample_agg).
"""

from __future__ import annotations

from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_UPDATE_SEED
from ..kernels import theta_compat
from ..kernels.hashing import hash_bytes_batch
from ..kernels.mmh3 import mmh3_128
from ..kernels.shingle import _flatten_utf8
from ..kernels.tuple_kmv import TupleKmv
from .sketch_reduce import (
    blob_frame, finish_rows, frame_blob, group_partials, reduce_partials,
)

# the one-item image of '': the reference's update(String) skips the
# empty string, but the engine counts it as a value (NULL is the no-op)
_EMPTY_STRING_IMAGE = theta_compat.serialize_compact(
    theta_compat.hash_bytes_items([b""]))


def _hash_strings(values: pd.Series, seed: int) -> np.ndarray:
    """63-bit hashes of the stringified values, NULL hashed as ''; the
    private hash of the sampling and frequent-item lanes."""
    data, starts, lens = _flatten_utf8(values.fillna("").astype(str))
    return (hash_bytes_batch(data, starts, lens, seed) >> np.uint64(1)).astype(np.int64)


def theta_lg_k(k: int) -> int:
    """log2 of a theta k: a power of two in Spark's lgNomEntries range."""
    lg = int(k).bit_length() - 1
    if k != 1 << lg or not 4 <= lg <= 26:
        raise ValueError(f"theta k must be a power of two in [2^4, 2^26], got {k}")
    return lg


def kmv_sketch_bytes_agg(
    df: DataFrame, group_col: str, value_col: str, k: int = 4096,
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """(group string, sketch binary): per group the reference compact
    theta image (CompactThetaSketch.toByteArray, theta/ThetaSketch.java
    :423) of the distinct values, built by Spark's theta_sketch_agg.
    Exact (theta = 1) up to k distinct values; beyond, the k smallest
    hashes with theta the (k+1)-th. NULL values are update no-ops; an
    all-NULL group keeps the empty image. The image is mergeable:
    theta_union_agg of images equals the one-pass image."""
    lg = theta_lg_k(k)
    if seed != DEFAULT_UPDATE_SEED:
        raise ValueError(f"Spark's theta functions hash with seed {DEFAULT_UPDATE_SEED}")
    v = F.col(value_col).cast("string")
    return df.groupBy(F.col(group_col).cast("string").alias(group_col)).agg(
        F.theta_sketch_agg(v, lg).alias("sketch"),
        F.max(v == "").alias("has_empty"),
    ).select(
        group_col,
        F.when(F.col("has_empty"),
               F.theta_union("sketch", F.lit(_EMPTY_STRING_IMAGE), lg))
        .otherwise(F.col("sketch")).alias("sketch"),
    )


def kmv_distinct_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 4096,  # reference default nominal entries, thetacommon/ThetaUtil.java:55
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """Per-group distinct-count estimate with 2SD bounds: the
    kmv_sketch_bytes_agg image of each group, read by one batched
    finisher over the G group rows. Output: (group, distinct_est,
    distinct_lb, distinct_ub, retained)."""
    return finish_rows(
        kmv_sketch_bytes_agg(df, group_col, value_col, k, seed),
        partial(theta_compat.estimate_bounds, num_std_dev=2),
        f"{group_col} string, distinct_est double, distinct_lb double, "
        "distinct_ub double, retained bigint",
    )


def _tuple_partial(
    sub: pd.DataFrame, names: list[str], k: int, combiner: str, seed: int
) -> tuple:
    """One ArrayOfDoublesCompactSketch image of a batch's (key, summary)
    rows. Keys hash as the reference's update(String): MurmurHash3 of
    the UTF-8 bytes, [0] >>> 1 (NULL hashes as ''); hash 0 is never
    stored."""
    h = np.fromiter(
        (mmh3_128(s.encode("utf-8"), seed)[0] >> 1
         for s in sub["__key"].fillna("")),
        np.int64, len(sub),
    )
    v = sub[[f"__s_{n}" for n in names]].to_numpy(np.float64)
    keep = h != 0
    return (TupleKmv.from_stream(h[keep], v[keep], k, combiner=combiner)
            .to_ref_bytes(seed),)


def tuple_sketch_agg(
    df: DataFrame,
    group_col: str,
    key_col: str,
    summary_exprs: dict[str, "object"],
    k: int = 4096,
    combiner: str = "sum",
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """Per-group TUPLE sketch aggregation (kernels/tuple_kmv.py;
    reference tuple/TupleSketch.java + arrayofdoubles): a Theta sample
    of distinct keys where each retained key carries combined summary
    columns. Two-level partial/final on functions/sketch_reduce.py — O(k·d)
    state per group per task, shipped as an ArrayOfDoublesCompactSketch
    image that datasketches-java heapifies.

    `summary_exprs` maps output names to Spark Columns evaluated per
    input ROW; rows of the same key combine per `combiner`. Output:
    (group, distinct_est, retained, total_<name>... ) where totals are
    the unbiased all-keys estimates (exact when distinct <= k).
    """
    names = list(summary_exprs.keys())
    proj = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(key_col).cast("string").alias("__key"),
        *[F.col(c).cast("double").alias(f"__s_{n}") if isinstance(c, str)
          else c.cast("double").alias(f"__s_{n}")
          for n, c in summary_exprs.items()],
    )

    def finish(blobs) -> tuple:
        sk = reduce(lambda a, b: a.union(b, combiner=combiner),
                    (TupleKmv.from_ref_bytes(b, k, seed) for b in blobs))
        return (sk.distinct_estimate(), len(sk.hashes),
                *(float(t) for t in sk.summary_totals()))

    schema = (
        f"{group_col} string, distinct_est double, retained bigint, "
        + ", ".join(f"total_{n} double" for n in names)
    )
    return reduce_partials(
        group_partials(
            proj, group_col,
            partial(_tuple_partial, names=names, k=k, combiner=combiner, seed=seed),
            f"{group_col} string, sketch binary",
        ),
        group_col, finish, schema,
    )


def varopt_sample_agg(
    df: DataFrame, group_col: str, item_col: str, weight_col: str,
    k: int = 64, seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """Per-group VarOpt weighted sample (kernels/varopt.py; reference
    sampling/VarOptItemsSketch.java): k items per group, heavy items
    exact, light items at the threshold weight — the 'QA-sample the
    biggest clusters proportional to size' operator.

    TWO-LEVEL, mirroring VarOptItemsUnion (VarOptItemsUnion.java:205):
    each Arrow batch collapses its groups to a k-sample over true
    weights (map-side combine, one frame_blob per group), then the
    finisher re-samples the union of partial samples over their
    ADJUSTED weights. Each stage preserves E[adjusted weight] = true
    weight (tower property), so subset-sum estimates stay unbiased
    while per-task state is O(k) per group — a 10^10-row mega-group
    never sits in one pandas frame. Samples are deterministic given
    the batch layout (each stage sorts its input canonically and
    derives the PPS offset from item hashes; the reduce hands the
    finisher the partials in sorted-byte order)."""
    from ..kernels.varopt import varopt_sample

    def _sample(items: np.ndarray, w: np.ndarray):
        order = np.argsort(items, kind="stable")
        items, w = items[order], w[order]
        ih = _hash_strings(pd.Series(items), seed).astype(np.uint64)
        s = seed ^ (int(ih[0]) & 0x7FFFFFFF) if len(ih) else seed
        idx, adj, _tau = varopt_sample(np.arange(len(items)), w, k, seed=s)
        return items[idx], adj

    def build(sub: pd.DataFrame) -> tuple:
        # NULL item/weight rows are update no-ops (reference rule; a
        # NaN weight would otherwise slip the kernel's positive guard
        # and poison the cumulative-weight solve)
        sub = sub[sub[item_col].notna() & sub[weight_col].notna()]
        it, adj = _sample(
            sub[item_col].astype(str).to_numpy(),
            sub[weight_col].to_numpy(np.float64),
        )
        return (frame_blob(pd.DataFrame({"item": it, "adj_weight": adj})),)

    def finish(blobs) -> tuple:
        pdf = blob_frame(blobs)
        return _sample(
            pdf["item"].to_numpy(object), pdf["adj_weight"].to_numpy(np.float64)
        )

    partials = group_partials(
        df.select(F.col(group_col).cast("string").alias(group_col), item_col, weight_col),
        group_col, build, f"{group_col} string, sample binary",
    )
    return reduce_partials(
        partials, group_col, finish,
        f"{group_col} string, {item_col} array<string>, adj_weight array<double>",
    ).select(group_col, F.inline(F.arrays_zip(item_col, "adj_weight")))


def ebpps_sample_agg(
    df: DataFrame,
    group_col: str,
    item_col: str,
    weight_col: str,
    k: float = 64.0,
    seed: int = 9001,
) -> DataFrame:
    """Per-group EBPPS sample (reference S3,
    sampling/EbppsItemsSketch.java:53-397 via kernels/ebpps.py): every
    item included with probability exactly min(1, w/tau), realized size
    floor(C)/ceil(C) with C = min(k, n). Output: (group, item, weight,
    tau) — tau = 0 means the whole group fit the budget (k >= n), the
    deterministic exact regime the gate query runs in; sub-budget
    proportionality is pytest-gated (tests/test_ebpps.py).

    Single-level per-group aggregation (applyInPandas streams each
    group into one frame). It stays off the two-level sketch reduce:
    re-sampling a union of partial samples over the true weights is
    not shown to keep pi_i = min(1, w_i/tau) of the whole group, and
    no test merges EBPPS samples. Each group is stable-sorted by item
    before sampling, so the sample does not depend on the order rows
    arrive in (task retry, shuffle order)."""
    from ..kernels.ebpps import ebpps_sample

    def agg(key, pdf):
        # NULL item/weight rows: update no-op (see varopt_sample_agg)
        pdf = pdf[pdf[item_col].notna() & pdf[weight_col].notna()]
        items = pdf[item_col].astype(str).to_numpy()
        order = np.argsort(items, kind="stable")
        items = items[order]
        w = pdf[weight_col].to_numpy(np.float64)[order]
        idx = np.arange(len(items))
        sel, tau = ebpps_sample(idx, w, float(k), seed=seed)
        return pd.DataFrame(
            {
                group_col: key[0],
                item_col: items[sel],
                "weight": w[sel],
                "tau": tau,
            }
        )

    return (
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(item_col),
            F.col(weight_col),
        )
        .groupBy(group_col)
        .applyInPandas(
            agg,
            f"{group_col} string, {item_col} string, weight double, tau double",
        )
    )


def theta_pair_set_ops(
    sketches: DataFrame, group_col: str = "group", sketch_col: str = "sketch"
) -> DataFrame:
    """All-pairs theta set algebra over per-group compact images
    (reference T4/T5: theta/ThetaIntersectionImpl.java:442-480
    intersection, theta/ThetaAnotBimpl.java:83-98 A-not-B, both under
    the min-theta rule), run by Spark's theta_intersection and
    theta_difference.

    Input: (group, sketch) as produced by kmv_sketch_bytes_agg. Output
    one row per unordered pair a<b: (group_a, group_b, n_common,
    n_a_only, n_b_only) = the rounded estimates of |A∩B|, |A\\B| and
    |B\\A|. In the exact regime (theta = 1, distinct <= k) these are
    the exact set cardinalities, the DuckDB INTERSECT/EXCEPT oracle
    (gate query theta_user_overlap). An empty image is the empty set.

    The pair join is a crossJoin of two G-row sketch frames: G groups
    of O(k) state, the already-reduced form; at any scale this is a
    broadcast of sketches, never of data."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col(sketch_col).alias("sk_a")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col(sketch_col).alias("sk_b")
    )
    return a.crossJoin(F.broadcast(b)).filter(
        F.col("group_a") < F.col("group_b")
    ).select(
        "group_a", "group_b",
        F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b")).alias("n_common"),
        F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b")).alias("n_a_only"),
        F.theta_sketch_estimate(F.theta_difference("sk_b", "sk_a")).alias("n_b_only"),
    )
