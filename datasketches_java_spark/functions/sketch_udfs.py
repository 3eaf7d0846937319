"""Sketch aggregations as Arrow-grouped UDAFs.

`kmv_distinct_agg` is the Spark face of the Theta/KMV distinct-count
lifecycle (SURVEY.md §3.1): per-group vectorized hash → bottom-k →
estimate with binomial bounds (theta/ThetaSketch.java:621-623 estimate,
thetacommon/BinomialBoundsN.java bounds). The KMV and tuple aggregates
run on functions/sketch_reduce.py: a partial sketch per (Arrow batch,
group), a sorted native merge, one batched finisher — signature state
stays O(k) per group regardless of group size. VarOpt runs on it too,
its partial a k-sample frame per (Arrow batch, group); EBPPS keeps its
own single-level grouped map (see ebpps_sample_agg).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_UPDATE_SEED
from ..kernels import kmv
from ..kernels.hashing import hash_bytes_batch
from ..kernels.shingle import _flatten_utf8
from .sketch_reduce import blob_frame, frame_blob, group_partials, reduce_partials


def _hash_strings(values: pd.Series, seed: int) -> np.ndarray:
    """63-bit hashes; the caller must handle NULLs (see _kmv_partials —
    the reference's update(null) is a NO-OP, theta/UpdatableThetaSketch
    update contract, so NULL must not hash like an empty string)."""
    data, starts, lens = _flatten_utf8(values.fillna("").astype(str))
    return (hash_bytes_batch(data, starts, lens, seed) >> np.uint64(1)).astype(np.int64)


def _kmv_partials(
    df: DataFrame, group_col: str, value_col: str, k: int, seed: int
) -> DataFrame:
    """(group, sketch): one bottom-k sketch per (Arrow batch, group).
    NULL values are masked out (reference update(null) no-op) instead
    of hashing as ''."""

    def build(sub: pd.DataFrame) -> tuple:
        v = sub[value_col]
        h = _hash_strings(v, seed)[v.notna().to_numpy()]
        return (kmv.serialize(kmv.bottom_k(h, k), k),)

    return group_partials(
        df.select(F.col(group_col).cast("string").alias(group_col), value_col),
        group_col, build, f"{group_col} string, sketch binary",
    )


def _kmv_union(blobs, k: int) -> np.ndarray:
    return kmv.union_many([kmv.deserialize(b)[0] for b in blobs], k)


def kmv_distinct_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 4096,  # reference default nominal entries, thetacommon/ThetaUtil.java:55
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """Per-group distinct-count estimate with 2SD bounds.

    Two-level, like Catalyst's partial/final split: (1) one serialized
    sketch per (arrow batch, group) — map-side combine, so only O(k)
    bytes per group cross the shuffle; (2) the batched finisher unions
    each group's sorted sketches (ThetaUnionImpl semantics). A group
    of 10^10 rows never materializes in one pandas frame.
    Output: (group, distinct_est, distinct_lb, distinct_ub, retained).
    """

    def finish(blobs) -> tuple:
        u = _kmv_union(blobs, k)
        lb, est, ub = kmv.estimate_bounds(u, k, 2)
        return (est, lb, ub, len(u))

    return reduce_partials(
        _kmv_partials(df, group_col, value_col, k, seed), group_col, finish,
        f"{group_col} string, distinct_est double, distinct_lb double, "
        "distinct_ub double, retained bigint",
    )


def kmv_sketch_bytes_agg(
    df: DataFrame, group_col: str, value_col: str, k: int = 4096,
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """Per-group serialized KMV sketch (BinaryType) — the mergeable
    partial-aggregate form that crosses checkpoints/shuffles, the
    analog of CompactThetaSketch.toByteArray (theta/ThetaSketch.java:423).
    The union of per-batch bottom-k sketches is the bottom-k of the
    whole group, so the bytes match a one-pass sketch."""
    return reduce_partials(
        _kmv_partials(df, group_col, value_col, k, seed), group_col,
        lambda blobs: (kmv.serialize(_kmv_union(blobs, k), k),),
        f"{group_col} string, sketch binary",
    )


def kmv_merge_sketches(sketches: list[bytes]) -> tuple[float, float, float]:
    """Driver-side final merge of serialized sketches → (lb, est, ub).
    Union is associative/commutative, so any merge tree is equivalent
    (ThetaUnionImpl semantics)."""
    sigs = []
    k = None
    for b in sketches:
        sig, kk = kmv.deserialize(b)
        sigs.append(sig)
        k = kk if k is None else min(k, kk)
    if k is None:
        return 0.0, 0.0, 0.0
    u = kmv.union_many(sigs, k)
    return kmv.estimate_bounds(u, k, 2)


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
    columns. Two-level partial/final like kmv_distinct_agg — O(k·d)
    state per group per task, shipped as an ArrayOfDoublesCompactSketch
    image that datasketches-java heapifies.

    `summary_exprs` maps output names to Spark Columns evaluated per
    input ROW; rows of the same key combine per `combiner`. Output:
    (group, distinct_est, retained, total_<name>... ) where totals are
    the unbiased all-keys estimates (exact when distinct <= k).
    """
    from ..kernels.tuple_kmv import TupleKmv

    names = list(summary_exprs.keys())
    proj = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(key_col).cast("string").alias("__key"),
        *[F.col(c).cast("double").alias(f"__s_{n}") if isinstance(c, str)
          else c.cast("double").alias(f"__s_{n}")
          for n, c in summary_exprs.items()],
    )

    def build(sub: pd.DataFrame) -> tuple:
        h = _hash_strings(sub["__key"], seed)
        v = sub[[f"__s_{n}" for n in names]].to_numpy(np.float64)
        return (TupleKmv.from_stream(h, v, k, combiner=combiner).to_ref_bytes(seed),)

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
        group_partials(proj, group_col, build, f"{group_col} string, sketch binary"),
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
    """All-pairs Theta set algebra over per-group serialized KMV
    sketches (reference T4/T5: theta/ThetaIntersectionImpl.java:442-480
    intersection θ-rule, theta/ThetaAnotBimpl.java:83-98 A-not-B;
    corner cases thetacommon/SetOperationCornerCases.java — both empty
    inputs and θ<1 inputs follow the min-θ rule in kernels/kmv.py).

    Input: (group, sketch) as produced by kmv_sketch_bytes_agg. Output
    one row per unordered pair a<b: (group_a, group_b, n_common,
    n_a_only, n_b_only) = RETAINED counts of A∩B, A\\B, B\\A under the
    pair's min-θ. In the exact regime (θ=1, distinct < k) these are
    the exact set cardinalities — the DuckDB INTERSECT/EXCEPT oracle
    (gate query theta_user_overlap); in estimation mode divide by θ
    for the estimate (pytest-gated).

    The pair join is a crossJoin of two G-row sketch frames — G groups
    of O(k) state, the already-reduced form; at any scale this is a
    broadcast of sketches, never of data."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col(sketch_col).alias("sk_a")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col(sketch_col).alias("sk_b")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("group_a") < F.col("group_b"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_c, n_a, n_b = [], [], []
            for ba, bb in zip(pdf["sk_a"], pdf["sk_b"]):
                sa, ka = kmv.deserialize(bytes(ba))
                sb, kb = kmv.deserialize(bytes(bb))
                kk = min(ka, kb)
                n_c.append(len(kmv.intersect(sa, sb, kk)))
                n_a.append(len(kmv.a_not_b(sa, sb, kk)))
                n_b.append(len(kmv.a_not_b(sb, sa, kk)))
            yield pd.DataFrame(
                {
                    "group_a": pdf["group_a"],
                    "group_b": pdf["group_b"],
                    "n_common": np.asarray(n_c, np.int64),
                    "n_a_only": np.asarray(n_a, np.int64),
                    "n_b_only": np.asarray(n_b, np.int64),
                }
            )

    return pairs.mapInPandas(
        gen,
        "group_a string, group_b string, n_common bigint, "
        "n_a_only bigint, n_b_only bigint",
    )
