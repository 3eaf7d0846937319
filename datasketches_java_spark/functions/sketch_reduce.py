"""The two-level sketch reduce every keyed sketch aggregate runs on.

The reference's reduce side is a mergeable sketch union
(theta/ThetaUnionImpl.java:272-303, kll/KllDoublesSketch.java:275
merge): one partial sketch per slice of the input, then one merge per
key. In Spark that is two functions:

 1. group_partials — one mapInPandas: per (Arrow batch, key group) the
    caller's build(sub) returns the group's partial values (serialized
    sketches, counts). Map-side combine: O(sketch) bytes per group
    cross the shuffle whatever the group size. A NULL key is a group,
    as in SQL GROUP BY.
 2. reduce_partials — one native groupBy(key).agg, then one batched
    mapInPandas finisher. In the agg every binary column becomes
    array_sort(collect_list(c)) and every integral column sum(c); the
    sort makes the merge order a function of the partial bytes, not of
    task completion order, so lossy merges are deterministic under
    task retry. finish(*values) then runs once per merged key row.

Both emit rows (key, *values) as unlabelled pandas columns, which Spark
assigns to the output schema by position. A partial that is a small
frame rather than one sketch (a sample, a frequency map, a theta
sample of tuples) crosses as one frame_blob; its finisher reads the
key's sorted blobs back with blob_frame.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegralType


def frame_blob(frame: pd.DataFrame) -> bytes:
    """`frame` as one Arrow IPC stream: a binary partial value."""
    table = pa.Table.from_pandas(frame, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def blob_frame(blobs) -> pd.DataFrame:
    """The frame_blob partials of one key, concatenated in the order
    given (an empty partial's untyped columns promote to the others')."""
    return pa.concat_tables(
        [pa.ipc.open_stream(b).read_all() for b in blobs], promote_options="default"
    ).to_pandas()


def group_partials(
    df: DataFrame, key: str, build: Callable[[pd.DataFrame], tuple], schema: str
) -> DataFrame:
    """(key, *build(sub)) per (Arrow batch, key group) of `df`."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame.from_records([
                    (None if pd.isna(g) else g, *build(sub))
                    for g, sub in pdf.groupby(key, sort=False, dropna=False)
                ])

    return df.mapInPandas(partial, schema)


def reduce_partials(
    partials: DataFrame, key: str, finish: Callable[..., tuple], schema: str
) -> DataFrame:
    """One row (key, *finish(*merged)) per key: sorted binary lists and
    integral sums, merged natively, finished in batches."""
    aggs = []
    for f in partials.schema.fields:
        if f.name == key:
            continue
        if isinstance(f.dataType, BinaryType):
            aggs.append(F.array_sort(F.collect_list(f.name)).alias(f.name))
        elif isinstance(f.dataType, IntegralType):
            aggs.append(F.sum(f.name).alias(f.name))
        else:
            raise TypeError(
                f"no merge rule for partial column {f.name} {f.dataType.simpleString()}"
            )

    return finish_rows(partials.groupBy(key).agg(*aggs), finish, schema)


def finish_rows(df: DataFrame, finish: Callable[..., tuple], schema: str) -> DataFrame:
    """One row (key, *finish(*values)) per row (key, *values) of `df`,
    in one batched mapInPandas."""

    def finisher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame.from_records([
                    (row[0], *finish(*row[1:]))
                    for row in pdf.itertuples(index=False, name=None)
                ])

    return df.mapInPandas(finisher, schema)
