"""Distributed Misra-Gries frequent-items aggregation.

The reference makes MG a mergeable partial/final aggregate
(frequencies/FrequentItemsSketch.java:467 merge; ε = 3.5/M per
frequencies/FrequentLongsSketch.java:120); this is its Spark face:

 1. partial (mapInPandas): each worker partition collapses to one MG
    map of at most M (item, cnt) rows, shipped as one frame_blob with
    its purge offset — map-side combine, so at 100 TB the shuffle moves
    O(partitions·M) rows instead of every token.
 2. final (sketch_reduce.reduce_partials on one constant key): the
    offsets are summed natively, and the finisher sums counts per item
    (the MG merge rule) and reverse-purges back down to M.

The MG guarantee survives the tree: every reported count is an
underestimate by at most sum-of-offsets, and any item with true count
> ε·n is retained (NO_FALSE_NEGATIVES, frequencies/ErrorType.java:26-43).
When M exceeds the stream's distinct count no purge ever fires, offsets
stay 0 and the output is exact — the regime the oracle-checked gate
query runs in (the same collision-free trick the Count-Min gate uses).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.freq import NO_FALSE_NEGATIVES, NO_FALSE_POSITIVES, purge_to  # noqa: F401
from .sketch_reduce import blob_frame, frame_blob, reduce_partials

def mg_frequent_items_agg(
    df: DataFrame,
    item_col: str,
    max_map_size: int = 1 << 15,
    threshold: int = 1,
    error_type: str = NO_FALSE_NEGATIVES,
) -> DataFrame:
    """Heavy hitters over df[item_col] via distributed MG.

    Output: (item, est, lb, ub) for items whose bound passes
    `threshold` under `error_type` — lb = retained count, ub = retained
    count + accumulated purge offset, est = ub (the reference reports
    the upper-bound estimate, FrequentItemsSketch.getEstimate).
    """
    m = max_map_size

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one MG map per worker partition (merging batches locally):
        # the whole partition collapses to one row of <= m items
        agg: dict = {}
        offset = 0
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf[item_col].value_counts()
            n += int(vc.sum())
            for it, c in vc.items():
                agg[it] = agg.get(it, 0) + int(c)
            if len(agg) > m:
                items = np.array(list(agg.keys()), dtype=object)
                counts = np.array(list(agg.values()), dtype=np.int64)
                items, counts, cut = purge_to(items, counts, m)
                offset += cut
                agg = dict(zip(items.tolist(), counts.tolist()))
        if n == 0:
            return
        blob = frame_blob(pd.DataFrame({
            "item": pd.Series(list(agg.keys()), dtype=object),
            "cnt": pd.Series(list(agg.values()), dtype=np.int64),
        }))
        yield pd.DataFrame({"_g": [0], "mg": [blob], "offset": [offset]})

    partials = df.select(F.col(item_col).cast("string").alias(item_col)).mapInPandas(
        partial, "_g int, mg binary, offset bigint"
    )

    def finish(blobs, offset) -> tuple:
        merged = blob_frame(blobs).groupby("item", sort=False)["cnt"].sum()
        items = merged.index.to_numpy(dtype=object)
        counts = merged.to_numpy(np.int64)
        items, counts, cut = purge_to(items, counts, m)
        offset += cut
        ub = counts + offset
        keep = (
            ub >= threshold if error_type == NO_FALSE_NEGATIVES
            else counts >= threshold
        )
        return items[keep], ub[keep], counts[keep], ub[keep]

    # the final merge is one narrow task over <= partitions·M rows —
    # the same single-reducer shape as the reference's union object
    return reduce_partials(
        partials, "_g", finish,
        "_g int, item array<string>, est array<bigint>, lb array<bigint>, "
        "ub array<bigint>",
    ).select(F.inline(F.arrays_zip("item", "est", "lb", "ub")))
