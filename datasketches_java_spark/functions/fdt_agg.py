"""Distributed FDT (Frequent Distinct Tuples) aggregation face —
reference fdt/FdtSketch.java + fdt/PostProcessor.java re-expressed as
the standard two-level theta partial/final split:

  stage 1 (mapInPandas, per partition): bottom-k theta sample of the
    DISTINCT full tuples — O(k) state, one hash pass per Arrow batch,
    emits one frame_blob of ≤ k (hash, dims..., theta) rows per
    partition;
  stage 2 (sketch_reduce.reduce_partials on one constant key, one
    finisher task): theta-rule union of the partials (θ = min, re-trim
    to k) — O(partitions·k) rows in, ≤ k out;
  stage 3: reference post-processing over the ≤ k retained tuples
    (kernels/fdt.py — group by primary key, BinomialBoundsN bounds).

The final union is a single task by design: the FDT result is ONE
sketch (k ≤ 2^26 bounded state), so the reduce input is bounded by
partitions·k fixed-width rows regardless of table size — the same
shape as the reference's own union, with Spark's partial aggregation
standing in for its single-process stream.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_UPDATE_SEED
from ..kernels.fdt import extract_pri_keys, post_process
from .sketch_reduce import blob_frame, frame_blob, reduce_partials
from .sketch_udfs import _hash_strings

_MAX63 = np.int64(2**62 - 1 + 2**62)

_OUT_COLS = ("pri_key", "grp_count", "est", "lb", "ub", "fraction", "rse")
_OUT_SCHEMA = (
    "__g int, pri_key array<string>, grp_count array<long>, est array<double>, "
    "lb array<double>, ub array<double>, fraction array<double>, rse array<double>"
)


def fdt_group_list(
    df: DataFrame,
    dims: list[str],
    pri_key_indices: list[int],
    lgk: int = 12,
    num_std_dev: int = 2,
    limit: int = 0,
    sep: str = ",",
    seed: int = DEFAULT_UPDATE_SEED,
) -> DataFrame:
    """FdtSketch.getResult over `dims` string columns of `df` with the
    given primary-key dimension indices: one row per primary key with
    (grp_count, est, lb, ub, fraction, rse), ordered by decreasing
    count (fdt/Group.java compareTo; ties pri_key asc, deterministic).

    Exact regime (distinct tuples ≤ k = 2^lgk): grp_count is the exact
    distinct count of non-primary combinations per primary key, est ==
    lb == ub == grp_count, rse == 0 — the oracle-checked gate contract.
    Update key is the ','-joined tuple (tuple/Util.stringConcat) on our
    MurmurHash3 lane; dims are carried as separate columns so primary
    keys never re-split a joined string. CAVEAT (mirrors the
    reference's own Util.stringConcat ambiguity, kept for parity):
    dimension values containing the separator collide — ('a,b','c')
    and ('a','b,c') share one update key, so on comma-containing data
    distinct tuples can silently dedupe and the retained dims are
    ingestion-order dependent. Pass a `sep` that cannot occur in the
    data (e.g. '\\x1f') when exactness on such data matters."""
    k = 1 << lgk
    n_dims = len(dims)
    dcols = [f"__d{i}" for i in range(n_dims)]
    proj = df.select(*[
        F.coalesce(F.col(c).cast("string"), F.lit("")).alias(a)
        for c, a in zip(dims, dcols)
    ])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hs = np.empty(0, np.int64)
        tups: pd.DataFrame | None = None
        theta = _MAX63
        for pdf in batches:
            if len(pdf) == 0:
                continue
            joined = pdf[dcols[0]].astype(str)
            # saturated sample: rows hashing >= theta can never enter
            # the bottom-k — drop them before the sort/concat below
            # (the dominant share of a large partition's later batches)
            for c in dcols[1:]:
                joined = joined + sep + pdf[c].astype(str)
            hb = _hash_strings(joined, seed)
            live = hb < theta
            if not live.all():
                hb = hb[live]
            batch_dims = pdf[dcols] if live.all() else pdf.loc[live, dcols]
            h = np.concatenate([hs, hb])
            t = batch_dims if tups is None else pd.concat(
                [tups, batch_dims], ignore_index=True)
            # dedupe on hash (first occurrence keeps its tuple), sort
            order = np.argsort(h, kind="stable")
            h = h[order]
            first = np.ones(len(h), dtype=bool)
            first[1:] = h[1:] != h[:-1]
            hs = h[first]
            tups = t.iloc[order[first]].reset_index(drop=True)
            if len(hs) > k:  # trim to bottom-k, theta = (k+1)-th
                theta = np.int64(min(theta, hs[k]))
                hs, tups = hs[:k], tups.iloc[:k]
        if tups is None:
            return
        out = tups.copy()
        out.insert(0, "__h", hs)
        out["__theta"] = np.int64(theta)
        yield pd.DataFrame({"__g": [0], "fdt": [frame_blob(out)]})

    partials = proj.mapInPandas(partial, "__g int, fdt binary")

    def finish(blobs) -> tuple:
        pdf = blob_frame(blobs)
        theta = np.int64(pdf["__theta"].min())
        h = pdf["__h"].to_numpy(np.int64)
        keep = h < theta
        h = h[keep]
        t = pdf.loc[keep, dcols]
        order = np.argsort(h, kind="stable")
        h = h[order]
        first = np.ones(len(h), dtype=bool)
        first[1:] = h[1:] != h[:-1]
        h = h[first]
        t = t.iloc[order[first]]
        if len(h) > k:
            theta = np.int64(h[k])
            h, t = h[:k], t.iloc[:k]
        pri = extract_pri_keys(t.to_numpy(dtype=object), pri_key_indices, sep)
        res = post_process(pri, int(theta), num_std_dev, limit)
        return tuple(res[c].to_numpy() for c in _OUT_COLS)

    return reduce_partials(partials, "__g", finish, _OUT_SCHEMA).select(
        F.inline(F.arrays_zip(*_OUT_COLS)))
