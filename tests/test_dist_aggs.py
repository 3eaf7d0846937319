"""Distributed MG frequent-items + KLL quantile aggregations.

Mirrors the reference's contracts: MG error ≤ accumulated purge offset
with NO_FALSE_NEGATIVES semantics (frequencies/FrequentItemsSketch.java:385-398,
merge :467), KLL normalized rank error 2.446/k^0.9433
(kll/KllHelper.java:295-299) surviving the partial/final merge tree."""

import numpy as np
import pandas as pd
import pytest

from datasketches_java_spark.functions.freq_agg import (
    NO_FALSE_POSITIVES,
    mg_frequent_items_agg,
)
from datasketches_java_spark.functions.kll_agg import kll_quantile_agg


def _token_df(spark, n=20_000, seed=7):
    rng = np.random.default_rng(seed)
    # zipf-ish: heavy head + long tail
    heavy = rng.choice([f"hot{i}" for i in range(20)], size=n // 2)
    tail = rng.integers(0, n, size=n - n // 2).astype(str)
    pdf = pd.DataFrame({"token": np.concatenate([heavy, tail])})
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_mg_exact_regime_matches_groupby(spark):
    df, pdf = _token_df(spark)
    out = (
        mg_frequent_items_agg(df, "token", max_map_size=1 << 16, threshold=100)
        .toPandas()
        .sort_values("item")
        .reset_index(drop=True)
    )
    exact = pdf["token"].value_counts()
    expect = exact[exact >= 100].sort_index()
    assert list(out["item"]) == list(expect.index)
    assert list(out["est"]) == list(expect.values)
    assert (out["lb"] == out["ub"]).all()  # no purge → zero error


def test_mg_lossy_regime_no_false_negatives_and_bound(spark):
    df, pdf = _token_df(spark)
    m = 64  # force purges
    exact = pdf["token"].value_counts()
    n = len(pdf)
    thresh = int(n * 0.01)
    out = mg_frequent_items_agg(df, "token", max_map_size=m, threshold=thresh).toPandas()
    got = dict(zip(out["item"], zip(out["lb"], out["ub"])))
    # every item with true count >= threshold must be reported (NFN)
    for item, cnt in exact[exact >= thresh].items():
        assert item in got, f"false negative: {item} ({cnt})"
        lb, ub = got[item]
        assert lb <= cnt <= ub, (item, cnt, lb, ub)


def test_mg_no_false_positives_view(spark):
    df, pdf = _token_df(spark)
    exact = pdf["token"].value_counts()
    thresh = 200
    out = mg_frequent_items_agg(
        df, "token", max_map_size=64, threshold=thresh,
        error_type=NO_FALSE_POSITIVES,
    ).toPandas()
    for item in out["item"]:
        assert exact[item] >= thresh  # lb >= thresh ⇒ true count >= thresh


def _lengths_df(spark, groups=5, per=50, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(groups):
        vals = rng.integers(10, 500, size=per)
        rows.append(pd.DataFrame({"g": f"g{g}", "v": vals}))
    pdf = pd.concat(rows, ignore_index=True)
    return spark.createDataFrame(pdf).repartition(8), pdf


def _exact_quantile_frac(vals: np.ndarray, p: int, q: int) -> float:
    s = np.sort(vals)
    cum = np.arange(1, len(s) + 1)
    idx = int(np.searchsorted(q * cum, p * len(s), side="left"))
    return float(s[min(idx, len(s) - 1)])


def test_kll_exact_regime_matches_sorted_array(spark):
    df, pdf = _lengths_df(spark)  # 50 per group < k=200 → exact
    out = kll_quantile_agg(
        df, "g", "v", quantiles=((1, 2), (99, 100)), k=200
    ).toPandas().set_index("g")
    for g, sub in pdf.groupby("g"):
        v = sub["v"].to_numpy(np.float64)
        assert out.loc[g, "n"] == len(v)
        assert out.loc[g, "q_1_2"] == _exact_quantile_frac(v, 1, 2)
        assert out.loc[g, "q_99_100"] == _exact_quantile_frac(v, 99, 100)


def test_kll_lossy_regime_rank_error_contract(spark):
    """One mega-group through many partials: merged sketch honors the
    published rank error (the merge property the UDAF relies on)."""
    n = 60_000
    rng = np.random.default_rng(11)
    vals = rng.normal(0.0, 1.0, size=n)
    pdf = pd.DataFrame({"g": "all", "v": vals})
    df = spark.createDataFrame(pdf).repartition(16)
    k = 200
    out = kll_quantile_agg(
        df, "g", "v", quantiles=((1, 2), (9, 10)), k=k
    ).toPandas().iloc[0]
    eps = 2.446 / k**0.9433  # kll/KllHelper.java:295-299 (PMF, 99%)
    s = np.sort(vals)
    for (p, q), col in (((1, 2), "q_1_2"), ((9, 10), "q_9_10")):
        got = out[col]
        true_rank = np.searchsorted(s, got, side="right") / n
        assert abs(true_rank - p / q) <= eps, (col, got, true_rank)
    assert out["n"] == n


def test_varopt_two_level_unbiased_mega_group(spark):
    """One mega-group split across many partitions/batches: the
    partial/final VarOpt tree keeps subset sums unbiased (tower
    property over adjusted weights) with O(k) state per task."""
    from datasketches_java_spark.functions.sketch_udfs import varopt_sample_agg

    rng = np.random.default_rng(5)
    n = 40_000
    pdf = pd.DataFrame(
        {
            "g": "all",
            "item": [f"i{j:06d}" for j in range(n)],
            "w": rng.pareto(1.5, n) + 0.1,
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)
    out = varopt_sample_agg(df, "g", "item", "w", k=256).toPandas()
    assert len(out) <= 256
    # total-weight estimate: adjusted weights sum ≈ true total
    true = pdf["w"].sum()
    assert abs(out["adj_weight"].sum() - true) / true < 0.25
    # heavy items survive with exact weight
    w_by_item = dict(zip(pdf["item"], pdf["w"]))
    top = pdf.nlargest(5, "w")
    got = dict(zip(out["item"], out["adj_weight"]))
    for it in top["item"]:
        assert it in got and abs(got[it] - w_by_item[it]) < 1e-9


def test_varopt_agg_null_rows_are_no_ops(spark):
    """NULL item and NULL/NaN weight rows are update no-ops. A batch
    whose group holds only such rows sends an empty sample partial,
    which merges with the group's other partials; a group with only
    such rows emits nothing. A NULL group key is a group, as in SQL
    GROUP BY (a batch of only NULL-key rows used to raise
    "No objects to concatenate")."""
    from datasketches_java_spark.functions.sketch_udfs import varopt_sample_agg

    rows = [
        ("a", None, 1.0), ("b", "y", None),           # batch 1: empty partials
        ("a", "x", 2.0), ("a", "z", float("nan")),    # batch 2
        (None, "n", 3.0),                             # batch 3: NULL key only
    ]
    df = spark.createDataFrame(rows, "g string, item string, w double").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = varopt_sample_agg(df, "g", "item", "w", k=4).collect()
    finally:
        spark.conf.set(key, prev)
    assert sorted(map(tuple, out), key=repr) == [("a", "x", 2.0), (None, "n", 3.0)]


# ---- round-4 agg faces: t-digest, EBPPS, theta set ops, KS --------------


def test_tdigest_agg_exact_regime_and_minmax(spark):
    import numpy as np
    import pandas as pd
    from datasketches_java_spark.functions.tdigest_agg import tdigest_median_agg

    rng = np.random.default_rng(7)
    rows = []
    for g, n in (("a", 25), ("b", 100), ("c", 1)):
        for v in rng.integers(10, 5000, n):
            rows.append((g, int(v)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "v"]))
    out = {r["g"]: r for r in tdigest_median_agg(df, "g", "v", k=1000).collect()}
    pdf = pd.DataFrame(rows, columns=["g", "v"])
    for g, sub in pdf.groupby("g"):
        v = np.sort(sub["v"].to_numpy())
        n = len(v)
        med2 = int(v[(n - 1) // 2] + v[n // 2])
        assert out[g]["n"] == n
        assert out[g]["med2"] == med2, (g, out[g]["med2"], med2)
        assert out[g]["min_v"] == int(v[0]) and out[g]["max_v"] == int(v[-1])


def test_tdigest_agg_lossy_minmax_still_exact(spark):
    import numpy as np
    import pandas as pd
    from datasketches_java_spark.functions.tdigest_agg import tdigest_median_agg

    rng = np.random.default_rng(8)
    v = rng.normal(1000, 300, 20000).astype(int)
    df = spark.createDataFrame(
        pd.DataFrame({"g": "x", "v": v})
    ).repartition(8)
    row = tdigest_median_agg(df, "g", "v", k=100).collect()[0]
    assert row["n"] == len(v)
    assert row["min_v"] == int(v.min()) and row["max_v"] == int(v.max())
    # lossy-regime median within the merging-t-digest accuracy envelope
    true_med = float(np.median(v))
    assert abs(row["med2"] / 2.0 - true_med) <= 0.02 * abs(true_med) + 2


def test_ebpps_agg_full_budget_and_sub_budget(spark):
    import numpy as np
    import pandas as pd
    from datasketches_java_spark.functions.sketch_udfs import ebpps_sample_agg

    pdf = pd.DataFrame(
        {"g": ["a"] * 50 + ["b"] * 10,
         "item": [str(i) for i in range(60)],
         "w": np.arange(1.0, 61.0)}
    )
    df = spark.createDataFrame(pdf)
    # k >= n: whole set back, tau = 0
    full = ebpps_sample_agg(df, "g", "item", "w", k=100.0).toPandas()
    assert len(full) == 60 and (full["tau"] == 0.0).all()
    # sub-budget: realized size floor(k) or ceil(k) per group
    samp = ebpps_sample_agg(df, "g", "item", "w", k=7.0).toPandas()
    sizes = samp.groupby("g").size()
    assert sizes["a"] in (7, 8)
    assert sizes["b"] in (7, 8)  # k=7 < n=10: sub-budget here too


def test_ebpps_agg_sample_independent_of_row_order(spark):
    """A sub-budget EBPPS sample is a function of the group's rows, not
    of the order they reach the grouped map (task retry, shuffle
    order): the group is sorted by item before the kernel hashes
    positions into its systematic offset."""
    from datasketches_java_spark.functions.sketch_udfs import ebpps_sample_agg

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({"g": "a", "item": [f"i{j:02d}" for j in range(50)],
                        "w": rng.pareto(1.5, 50) + 0.1})

    def sample(rows):
        df = spark.createDataFrame(rows).coalesce(1)
        out = ebpps_sample_agg(df, "g", "item", "w", k=7.0).toPandas()
        assert (out["tau"] > 0).all()  # sub-budget regime
        return sorted(out["item"])

    first = sample(pdf)
    for seed in (2, 3, 4):
        assert sample(pdf.sample(frac=1.0, random_state=seed)) == first


def test_theta_pair_set_ops_exact(spark):
    import pandas as pd
    from datasketches_java_spark.functions.sketch_udfs import (
        kmv_sketch_bytes_agg, theta_pair_set_ops,
    )

    rows = [("a", f"u{i}") for i in range(40)] + \
           [("b", f"u{i}") for i in range(25, 70)] + \
           [("c", f"u{i}") for i in range(100, 110)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "u"]))
    sk = kmv_sketch_bytes_agg(df, "g", "u", k=512)
    out = {(r["group_a"], r["group_b"]): r
           for r in theta_pair_set_ops(sk, "g").collect()}
    ab = out[("a", "b")]
    assert (ab["n_common"], ab["n_a_only"], ab["n_b_only"]) == (15, 25, 30)
    ac = out[("a", "c")]
    assert (ac["n_common"], ac["n_a_only"], ac["n_b_only"]) == (0, 40, 10)
    assert len(out) == 3


def test_ks_pairwise_matches_exact_d(spark):
    import numpy as np
    import pandas as pd
    from datasketches_java_spark.functions.kll_agg import (
        kll_sketch_agg, ks_pairwise,
    )

    rng = np.random.default_rng(9)
    va = rng.integers(0, 100, 200)
    vb = rng.integers(20, 140, 300)
    pdf = pd.DataFrame(
        {"g": ["a"] * len(va) + ["b"] * len(vb),
         "v": np.concatenate([va, vb])}
    )
    sk = kll_sketch_agg(spark.createDataFrame(pdf), "g", "v", k=1024)
    row = ks_pairwise(sk, "g").collect()[0]
    # exact two-sample D from numpy
    pts = np.unique(np.concatenate([va, vb]))
    ca = np.searchsorted(np.sort(va), pts, side="right")
    cb = np.searchsorted(np.sort(vb), pts, side="right")
    num = int(np.abs(ca * len(vb) - cb * len(va)).max())
    assert (row["d_num"], row["d_den"]) == (num, len(va) * len(vb))


def test_kmv_agg_null_semantics_and_int_groups(spark):
    """NULL values are update no-ops (the reference's update(null)
    rule, NOT an extra '' distinct); NULL groups survive like SQL
    GROUP BY; integer group columns work (cast at entry)."""
    import pandas as pd

    from datasketches_java_spark.functions.sketch_udfs import kmv_distinct_agg

    rows = pd.DataFrame({
        "g": pd.array([1, 1, 1, 2, None, None], dtype="Int64"),
        "v": ["a", "b", None, "", "x", None],
    })
    df = spark.createDataFrame(rows, "g long, v string")
    out = kmv_distinct_agg(df, "g", "v", k=64).toPandas()
    got = {r.g: r.distinct_est for r in out.itertuples()}
    assert got["1"] == 2.0      # NULL value not counted
    assert got["2"] == 1.0      # '' is a real value
    null_keys = [k for k in got if k is None or (isinstance(k, float))]
    assert len(out) == 3        # NULL group kept


def _converted_aggs():
    """The aggregates that run on functions/sketch_reduce.py, over the
    (g long, s string, v double, u long) test frame."""
    from pyspark.sql import functions as F

    from datasketches_java_spark.functions.cpc_agg import cpc_distinct_agg
    from datasketches_java_spark.functions.kll_agg import (
        kll_items_quantile_agg, kll_sketch_agg,
    )
    from datasketches_java_spark.functions.req_agg import req_quantile_agg
    from datasketches_java_spark.functions.sketch_udfs import tuple_sketch_agg
    from datasketches_java_spark.functions.tdigest_agg import tdigest_median_agg

    return {
        "tuple_sketch_agg": lambda df: tuple_sketch_agg(
            df, "g", "s", {"n": F.lit(1), "v": "v"}, k=64),
        "cpc_distinct_agg": lambda df: cpc_distinct_agg(df, "g", "u", lg_k=8),
        "kll_sketch_agg": lambda df: kll_sketch_agg(df, "g", "v"),
        "kll_quantile_agg": lambda df: kll_quantile_agg(df, "g", "v"),
        "kll_items_quantile_agg": lambda df: kll_items_quantile_agg(df, "g", "s"),
        "req_quantile_agg": lambda df: req_quantile_agg(df, "g", "v"),
        "tdigest_median_agg": lambda df: tdigest_median_agg(df, "g", "v"),
    }


def _theta_aggs():
    """The raw-item theta aggregates: Spark's built-in theta functions,
    not the shared reduce."""
    from datasketches_java_spark.functions.sketch_udfs import (
        kmv_distinct_agg, kmv_sketch_bytes_agg,
    )

    return {
        "kmv_distinct_agg": lambda df: kmv_distinct_agg(df, "g", "s", k=64),
        "kmv_sketch_bytes_agg": lambda df: kmv_sketch_bytes_agg(df, "g", "s", k=64),
    }


def _nulls_frame(spark):
    rows = pd.DataFrame({
        "g": pd.array([1, 1, 2, None, None, None], dtype="Int64"),
        "s": ["a", "b", "c", "x", "y", "z"],
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "u": [1, 2, 3, 4, 5, 6],
    })
    return spark.createDataFrame(rows, "g long, s string, v double, u long")


@pytest.mark.parametrize("name", sorted({**_converted_aggs(), **_theta_aggs()}))
def test_null_group_kept(spark, name):
    """Every keyed sketch aggregate keeps a NULL group like SQL GROUP
    BY, and the NULL group's rows land only there."""
    out = {**_converted_aggs(), **_theta_aggs()}[name](_nulls_frame(spark)).toPandas()
    assert len(out) == 3
    assert sorted(out["g"].dropna()) == ["1", "2"]
    assert out["g"].isna().sum() == 1
    null_row = out[out["g"].isna()].iloc[0]
    for col in ("n", "retained", "coupons"):  # the NULL group's 3 rows
        if col in out:
            assert null_row[col] == 3


@pytest.mark.parametrize("name", sorted(_converted_aggs()))
def test_converted_agg_plan_has_no_grouped_map(spark, name):
    """No per-group Python final: the merge is Spark's own
    ObjectHashAggregate and the finisher a batched MapInPandas."""
    df = _converted_aggs()[name](_nulls_frame(spark))
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    p = df._jdf.queryExecution().explainString(mode.fromString("simple"))
    assert "FlatMapGroupsInPandas" not in p, p
    assert "ObjectHashAggregate" in p and "MapInPandas" in p, p


def _theta_plans():
    from datasketches_java_spark.functions.sketch_udfs import (
        kmv_sketch_bytes_agg, theta_pair_set_ops,
    )

    return {
        **_theta_aggs(),
        "theta_pair_set_ops": lambda df: theta_pair_set_ops(
            kmv_sketch_bytes_agg(df, "g", "s", k=64), "g"),
    }


@pytest.mark.parametrize("name", sorted(_theta_plans()))
def test_theta_agg_plans(spark, name):
    """The theta images are built, merged and intersected in the JVM:
    the only Python node is kmv_distinct_agg's one batched finisher."""
    df = _theta_plans()[name](_nulls_frame(spark))
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    p = df._jdf.queryExecution().explainString(mode.fromString("simple"))
    python_nodes = ("InPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")
    if name == "kmv_distinct_agg":
        assert p.count("MapInPandas") == 1, p
        assert sum(p.count(n) for n in python_nodes) == 1, p
    else:
        assert not any(n in p for n in python_nodes), p


def test_theta_pair_set_ops_empty_group(spark):
    """An all-NULL group's image is the empty set (the reference's
    empty rules, thetacommon/SetOperationCornerCases.java): nothing in
    common with any group, A-not-empty is A, empty-not-B is empty."""
    import pandas as pd

    from datasketches_java_spark.functions.sketch_udfs import (
        kmv_sketch_bytes_agg, theta_pair_set_ops,
    )

    rows = pd.DataFrame({
        "g": ["a"] * 10 + ["z", "z"],
        "u": [f"u{i}" for i in range(10)] + [None, None],
    })
    df = spark.createDataFrame(rows, "g string, u string")
    out = theta_pair_set_ops(kmv_sketch_bytes_agg(df, "g", "u", k=64), "g").collect()
    assert [(r["group_a"], r["group_b"], r["n_common"], r["n_a_only"], r["n_b_only"])
            for r in out] == [("a", "z", 0, 10, 0)]


def test_theta_k_must_be_a_power_of_two_in_range(spark):
    from datasketches_java_spark.functions.sketch_udfs import (
        kmv_distinct_agg, kmv_sketch_bytes_agg,
    )

    df = _nulls_frame(spark)
    for bad in (100, 8, 1 << 27):
        with pytest.raises(ValueError):
            kmv_sketch_bytes_agg(df, "g", "s", k=bad)
        with pytest.raises(ValueError):
            kmv_distinct_agg(df, "g", "s", k=bad)


def _row_aggs():
    """The aggregates whose finisher returns arrays that one
    inline(arrays_zip(...)) turns back into rows."""
    from pyspark.sql import functions as F

    from datasketches_java_spark.functions.fdt_agg import fdt_group_list
    from datasketches_java_spark.functions.freq_agg import mg_frequent_items_agg
    from datasketches_java_spark.functions.sketch_udfs import varopt_sample_agg

    return {
        "mg_frequent_items_agg": lambda df: mg_frequent_items_agg(df, "s"),
        "varopt_sample_agg": lambda df: varopt_sample_agg(df, "g", "s", "v", k=2),
        "fdt_group_list": lambda df: fdt_group_list(
            df.withColumn("t", F.col("g").cast("string")), ["t", "s"], [0]),
    }


@pytest.mark.parametrize("name", sorted(_row_aggs()))
def test_row_agg_plan_has_no_grouped_map(spark, name):
    """MG, VarOpt and FDT merge on the shared reduce too: a native
    ObjectHashAggregate, one batched finisher and one Generate, no
    per-group Python final."""
    df = _row_aggs()[name](_nulls_frame(spark))
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    p = df._jdf.queryExecution().explainString(mode.fromString("simple"))
    assert "FlatMapGroupsInPandas" not in p, p
    assert "ObjectHashAggregate" in p and "MapInPandas" in p, p
    assert "Generate inline" in p, p


def test_no_eval_type_warning(spark):
    """Building any package aggregate's plan raises no "Cannot infer
    the eval type" warning (a grouped-map function with partial type
    hints)."""
    import warnings

    from datasketches_java_spark.functions.live_audit import sketch_family_audit
    from datasketches_java_spark.functions.sketch_udfs import ebpps_sample_agg

    df = _nulls_frame(spark).dropna()
    builds = [
        *_converted_aggs().values(),
        *_theta_aggs().values(),
        *_row_aggs().values(),
        lambda d: ebpps_sample_agg(d, "g", "s", "v", k=2.0),
        lambda d: sketch_family_audit(d, "g", "u", "v"),
    ]
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        for build in builds:
            build(df)
    msgs = [str(w.message) for w in seen if issubclass(w.category, UserWarning)]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
