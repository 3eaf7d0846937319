"""REQ sketch as a distributed partial/final aggregation.

Spark face over kernels/req.py (reference req/ReqSketch.java merge
:381-405) on functions/sketch_reduce.py: partial REQ sketch per (Arrow
batch, group) — map-side combine, O(k·log(n/k)) state per group crosses
the shuffle as a reference ReqSketch image — then the sorted native
merge and one batched finisher
that merges each group's sketches and answers quantiles. Identical
two-level shape to functions/kll_agg.py; quantile extraction uses the
same INCLUSIVE integer rank fractions (min v with q·cumweight(v) ≥
p·n) so exact-regime results are SQL-oracle-able (gate query
req_caption_len_by_source); the lossy-regime relative-error contract
(RSE bounds of BaseReqSketch.java:198-216) is pytest-gated in
tests/test_req.py.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import req
from ..kernels.req import DEFAULT_K, ReqDoubles
from .kll_agg import _quantile_frac
from .sketch_reduce import group_partials, reduce_partials


def req_quantile_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: Sequence[tuple[int, int]] = ((1, 2), (99, 100)),
    k: int = DEFAULT_K,
    hra: bool = True,
    seed: int = 9001,
) -> DataFrame:
    """Per-group REQ quantiles at integer rank fractions (p, q);
    output columns q_p_q. Output: (group, n, q_p_q...)."""

    def build(sub: pd.DataFrame) -> tuple:
        sk = ReqDoubles(k=k, hra=hra, seed=seed)
        sk.update_many(sub[value_col].to_numpy(np.float64))
        return (req.to_ref_bytes(sk),)

    def finish(blobs) -> tuple:
        sk = reduce(ReqDoubles.merge,
                    (req.from_ref_bytes(b, seed) for b in blobs))
        return (sk.n, *(_quantile_frac(sk, p, q) for p, q in quantiles))

    partials = group_partials(
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(value_col).cast("double").alias(value_col),
        ),
        group_col, build, f"{group_col} string, sketch binary",
    )
    schema = f"{group_col} string, n bigint, " + ", ".join(
        f"q_{p}_{q} double" for p, q in quantiles
    )
    return reduce_partials(partials, group_col, finish, schema)
