"""functions/sketch_reduce.py: the shared partial → sorted native merge →
batched finisher reduce.

In the lossy regime (KLL, REQ and t-digest compaction) merging the same
partial sketches in a different order gives a different state, and a
task retry can change the order partials reach a per-group final. The
sorted merge makes the finisher's input a function of the partial bytes
alone."""

from functools import reduce

import numpy as np
import pandas as pd
import pytest

from datasketches_java_spark.functions.sketch_reduce import reduce_partials
from datasketches_java_spark.kernels import kll, req, tdigest
from datasketches_java_spark.kernels.kll import KllDoubles
from datasketches_java_spark.kernels.req import ReqDoubles
from datasketches_java_spark.kernels.tdigest import TDigest

# family -> (new empty sketch, its reference codec module); all three
# merge in place and return self, so reduce(merge) folds partial
# images in the order given
_FAMILIES = {
    "kll": (lambda: KllDoubles(k=8), kll),
    "req": (lambda: ReqDoubles(k=12), req),
    "tdigest": (lambda: TDigest(k=20), tdigest),
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_reduce_partials_merge_order_invariant(spark, family):
    new, codec = _FAMILIES[family]
    vals = np.random.default_rng(11).normal(100.0, 30.0, 1500)
    blobs = []
    for part in np.array_split(vals, 6):
        sk = new()
        sk.update_many(part)
        blobs.append(codec.to_ref_bytes(sk))

    def fold(sketches) -> bytes:  # merge in the order given
        return codec.to_ref_bytes(reduce(
            lambda x, y: x.merge(y), map(codec.from_ref_bytes, sketches)))

    a, b = [0, 1, 2, 3, 4, 5], [3, 5, 0, 4, 2, 1]
    # precondition: a per-group final that folds partials in arrival
    # order gives two different states for these two orders
    assert fold([blobs[i] for i in a]) != fold([blobs[i] for i in b])

    def run(order):
        pdf = pd.DataFrame({"g": "x", "sketch": [blobs[i] for i in order]})
        out = reduce_partials(
            spark.createDataFrame(pdf).coalesce(1), "g", lambda s: (fold(s),),
            "g string, sketch binary",
        ).toPandas()
        return bytes(out["sketch"].iloc[0])

    got = run(a)
    assert got == run(b)
    assert got == fold(sorted(blobs))


def test_reduce_partials_rejects_unmergeable_columns(spark):
    """The merge rule follows the column type: binary → sorted list,
    integral → sum; anything else has no rule and fails at plan time."""
    df = spark.createDataFrame(pd.DataFrame({"g": ["x"], "v": [1.0]}))
    with pytest.raises(TypeError, match="v double"):
        reduce_partials(df, "g", lambda v: (v,), "g string, v double")


def _row_agg_cases(spark):
    """(module, build) for the three aggregates whose partials are
    frame_blob frames, each over 8 input partitions in its lossy
    regime: MG purges (M=16), VarOpt re-samples items that repeat
    across partials, FDT trims to k=16 retained tuples."""
    from datasketches_java_spark.functions import fdt_agg, freq_agg, sketch_udfs

    rng = np.random.default_rng(4)
    n = 4000
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b"], n),
        "item": rng.zipf(1.6, n).astype(str),
        "w": rng.pareto(1.5, n) + 0.1,
    })
    df = spark.createDataFrame(pdf).repartition(8)
    return {
        "mg": (freq_agg, lambda: freq_agg.mg_frequent_items_agg(
            df, "item", max_map_size=16)),
        "varopt": (sketch_udfs, lambda: sketch_udfs.varopt_sample_agg(
            df, "g", "item", "w", k=32)),
        "fdt": (fdt_agg, lambda: fdt_agg.fdt_group_list(
            df, ["g", "item"], [0], lgk=4)),
    }


@pytest.mark.parametrize("family", ["fdt", "mg", "varopt"])
def test_row_agg_finisher_order_invariant(spark, monkeypatch, family):
    """Each frame-blob finisher returns the same rows for two row orders
    of the same partials: the aggregate's real partials are collected,
    reversed, and reduced again with its real finisher."""
    module, build = _row_agg_cases(spark)[family]
    seen = {}

    def spy(partials, key, finish, schema):
        seen.update(partials=partials, key=key, finish=finish, schema=schema)
        return reduce_partials(partials, key, finish, schema)

    monkeypatch.setattr(module, "reduce_partials", spy)
    build()
    parts = seen["partials"].toPandas()
    assert len(parts) > 1

    def run(rows):
        df = spark.createDataFrame(rows, seen["partials"].schema).coalesce(1)
        out = reduce_partials(df, seen["key"], seen["finish"], seen["schema"])
        return sorted(map(tuple, out.collect()), key=repr)

    got = run(parts)
    assert got == run(parts.iloc[::-1].reset_index(drop=True))
    assert any(len(r[1]) for r in got)
