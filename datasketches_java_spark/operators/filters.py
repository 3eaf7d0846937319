"""Distributed Bloom-filter and Count-Min operators over the reference
sketches (kernels/bloom_compat.py, kernels/countmin_compat.py).

Both sketches are mergeable (Bloom: bitwise OR, BloomFilter.java:681;
Count-Min: elementwise add, CountMinSketch.java:365), so they follow
the canonical partial/final shape (SURVEY.md §1.1): one serialized
partial per Arrow batch → single-group merge → broadcast the compact
final sketch to the probe side. The build side never shuffles raw
rows — only O(sketch) bytes per batch cross the wire, which is the
whole point of a shuffle-reduction prefilter at 100 TB.

Every partial, merged sketch and broadcast blob is the reference's
serial-v1 image: `bloom_build`'s `sketch` column is a filter that
datasketches-java's `BloomFilter.heapify` reads, and its
`query(xxhash64(key))` answers as `bloom_might_contain` does.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import bloom_compat, countmin_compat
from ..scope import own


def bloom_build(df: DataFrame, key_col: str, max_distinct: int,
                target_fpp: float = 0.01, seed: int = 9001) -> DataFrame:
    """One-row DataFrame holding the Bloom filter of xxhash64(key_col)
    as a reference serial-v1 image. Sized by the reference builder
    formulas."""
    m = bloom_compat.suggest_num_filter_bits(max_distinct, target_fpp)
    h = bloom_compat.suggest_num_hashes_from_size(max_distinct, m)
    keys = df.select(F.xxhash64(key_col).alias("k"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = bloom_compat.RefBloomFilter(m, h, seed)
        nonempty = False
        for pdf in batches:
            if len(pdf):
                bf.update(pdf["k"].to_numpy(np.int64))
                nonempty = True
        if nonempty:
            yield pd.DataFrame({"sketch": [bloom_compat.to_ref_bytes(bf)]})

    partials = keys.mapInPandas(partial, "sketch binary")

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = None
        for pdf in batches:
            for b in pdf["sketch"]:
                nxt = bloom_compat.from_ref_bytes(b)
                out = nxt if out is None else out.union(nxt)
        if out is not None:
            yield pd.DataFrame({"sketch": [bloom_compat.to_ref_bytes(out)]})

    # repartition(1) (single round-robin reduce task over O(filter)-
    # sized partial rows) instead of a groupBy(1) hash exchange whose
    # 31 empty reduce tasks + grouped-map machinery dominated the
    # build (NOT coalesce: that would collapse the parallel scan
    # upstream into one task)
    return partials.repartition(1).mapInPandas(merge, "sketch binary")


def bloom_might_contain(
    probe: DataFrame, key_col: str, bloom_df: DataFrame
) -> DataFrame:
    """Rows of `probe` whose key the broadcast filter admits (no false
    negatives — the exact confirm join downstream sees every true
    match, just ~fpp·|probe| extra rows)."""
    cols = probe.columns
    kcol = "__k"
    while kcol in cols:  # never clobber a caller's column
        kcol += "_"
    with_k = probe.withColumn(kcol, F.xxhash64(key_col))

    schema = ", ".join(f"`{c}` {probe.schema[c].dataType.simpleString()}"
                       for c in cols)

    # Spark-broadcast VARIABLE, not a crossJoin of the 1-row sketch
    # frame: a crossJoin replicates the O(100KB) sketch bytes onto
    # EVERY probe row, and the Python-UDF boundary then materializes
    # |probe|·|sketch| Arrow bytes (measured 8s of a 9s probe at
    # sf0.1). The broadcast ships the sketch once per executor. EAGER:
    # collects the built filter at plan time.
    rows = bloom_df.collect()
    if not rows:
        # empty build side ⇒ the filter contains nothing ⇒ admit nothing
        # (the old crossJoin formulation returned empty here; indexing
        # [0] would raise at plan-construction time)
        return probe.filter(F.lit(False))
    blob = bytes(rows[0]["sketch"])
    bc = own(probe.sparkSession.sparkContext.broadcast(blob))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = bloom_compat.from_ref_bytes(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ok = bf.query(pdf[kcol].to_numpy(np.int64))
            yield pdf.loc[ok, cols]

    return with_k.mapInPandas(gen, schema)


def countmin_counts(
    items: DataFrame, item_col: str,
    num_hashes: int, num_buckets: int, seed: int = 9001,
) -> DataFrame:
    """(item, cm_count) for every distinct item: global Count-Min built
    via partial/final merge, then the distinct items are scored against
    the broadcast final sketch. Items are hashed with xxhash64 JVM-side
    (typed canonicalization, SURVEY §1.2)."""
    keys = items.select(
        # cast: the score stage's declared schema is `item string`, and
        # the JVM xxhash64 canonicalizes the TYPED value for counting
        F.col(item_col).cast("string").alias("item"),
        F.xxhash64(item_col).alias("k"),
    )

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = countmin_compat.RefCountMin(num_hashes, num_buckets, seed)
        nonempty = False
        for pdf in batches:
            if len(pdf):
                cm.update(pdf["k"].to_numpy(np.int64))
                nonempty = True
        if nonempty:
            yield pd.DataFrame({"sketch": [countmin_compat.to_ref_bytes(cm)]})

    partials = keys.select("k").mapInPandas(partial, "sketch binary")

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = None
        for pdf in batches:
            for b in pdf["sketch"]:
                nxt = countmin_compat.from_ref_bytes(b, seed)
                out = nxt if out is None else out.merge(nxt)
        if out is not None:
            yield pd.DataFrame({"sketch": [countmin_compat.to_ref_bytes(out)]})

    # single round-robin reduce task over the O(sketch) partials (see
    # bloom_build note — a groupBy(1) exchange is mostly empty tasks)
    merged = partials.repartition(1).mapInPandas(merge, "sketch binary")

    distinct = keys.distinct()

    # broadcast variable, not a crossJoin — the CM matrix is MBs and a
    # crossJoin would replicate it onto every scored row through the
    # Arrow boundary (see bloom_might_contain). EAGER at plan time.
    rows = merged.collect()
    if not rows:
        # empty input ⇒ no distinct items to score
        return items.sparkSession.createDataFrame(
            [], "item string, cm_count bigint"
        )
    blob = bytes(rows[0]["sketch"])
    bc = own(items.sparkSession.sparkContext.broadcast(blob))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cm = countmin_compat.from_ref_bytes(bc.value, seed)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            est = cm.estimate(pdf["k"].to_numpy(np.int64))
            yield pd.DataFrame({"item": pdf["item"], "cm_count": est})

    return distinct.mapInPandas(score, "item string, cm_count bigint")
