"""REQ sketch kernel (reference req/ReqSketch.java semantics):
exact regime, high-rank relative-error contract, deterministic rank
bounds, merge, serde, and the distributed agg face."""

import numpy as np
import pytest

from datasketches_java_spark.kernels import req
from datasketches_java_spark.kernels.req import ReqDoubles


def test_exact_regime_is_exact():
    rng = np.random.default_rng(2)
    v = rng.permutation(np.arange(60.0))
    sk = ReqDoubles(k=12).update_many(v)
    assert sk._retained() == 60  # level0 nomCap = 2*3*12 = 72 > 60
    srt = np.sort(v)
    for r in (0.0, 0.1, 0.5, 0.9, 1.0):
        # inclusive quantile over unit weights = order statistic
        idx = min(int(np.searchsorted(np.arange(1, 61), r * 60, side="left")), 59)
        assert sk.get_quantile(r) == srt[idx]
    assert sk.get_rank(srt[29]) == 0.5


def test_high_rank_relative_error_contract():
    """hra=True: measured rank error at high ranks within the ±2SD
    a-priori bounds (BaseReqSketch.java:198-216) for a 1M stream."""
    rng = np.random.default_rng(3)
    sk = ReqDoubles(k=12, hra=True)
    sk.update_many(rng.permutation(np.arange(1_000_000.0)))
    for r in (0.9, 0.99, 0.999, 0.9999):
        lb, ub = sk.rank_bounds(r, num_std_dev=3)
        got = sk.get_rank(r * 1e6)
        assert lb <= got <= ub, (r, lb, got, ub)


def test_low_rank_mode_mirrors():
    rng = np.random.default_rng(4)
    sk = ReqDoubles(k=12, hra=False)
    sk.update_many(rng.permutation(np.arange(1_000_000.0)))
    for r in (0.0001, 0.001, 0.01):
        lb, ub = sk.rank_bounds(r, num_std_dev=3)
        got = sk.get_rank(r * 1e6)
        assert lb <= got <= ub, (r, lb, got, ub)


def test_exact_rank_window():
    sk = ReqDoubles(k=12).update_many(np.arange(500.0))
    # baseCap = 3k = 36; hra protects ranks >= 1 - 36/500
    assert sk.exact_rank(0.999)
    assert not sk.exact_rank(0.5)


def test_merge_matches_single_stream_envelope():
    rng = np.random.default_rng(5)
    a = ReqDoubles(k=16).update_many(rng.uniform(0, 1, 150_000))
    b = ReqDoubles(k=16).update_many(rng.uniform(0, 1, 250_000))
    a.merge(b)
    assert a.n == 400_000
    for r in (0.95, 0.99, 0.999):
        lb, ub = a.rank_bounds(r, num_std_dev=3)
        assert lb <= a.get_rank(a.get_quantile(r)) <= ub + 1e-9


def test_serde_round_trip():
    rng = np.random.default_rng(6)
    sk = ReqDoubles(k=24).update_many(rng.normal(0, 1, 50_000))
    back = req.from_ref_bytes(req.to_ref_bytes(sk))
    assert back.n == sk.n
    assert back._retained() == sk._retained()
    for r in (0.1, 0.5, 0.99):
        assert back.get_quantile(r) == sk.get_quantile(r)
    # the heapified sketch keeps updating identically (schedule state)
    sk.update_many(np.arange(100.0))
    back.update_many(np.arange(100.0))
    assert sk.get_quantile(0.5) == back.get_quantile(0.5)


def test_invalid_k():
    with pytest.raises(ValueError):
        ReqDoubles(k=13)
    with pytest.raises(ValueError):
        ReqDoubles(k=2)


def test_req_agg_exact_regime(spark):
    import pandas as pd

    from datasketches_java_spark.functions.req_agg import req_quantile_agg

    rng = np.random.default_rng(7)
    rows = []
    for g, n in (("a", 25), ("b", 60)):
        for v in rng.integers(10, 5000, n):
            rows.append((g, int(v)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "v"]))
    out = {r["g"]: r for r in req_quantile_agg(
        df, "g", "v", quantiles=((1, 2), (9, 10)), k=32
    ).collect()}
    pdf = pd.DataFrame(rows, columns=["g", "v"])
    for g, sub in pdf.groupby("g"):
        v = np.sort(sub["v"].to_numpy())
        n = len(v)
        cum = np.arange(1, n + 1)
        for (p, q), col in (((1, 2), "q_1_2"), ((9, 10), "q_9_10")):
            idx = min(int(np.searchsorted(q * cum, p * n, side="left")), n - 1)
            assert out[g][col] == v[idx], (g, col)
        assert out[g]["n"] == n
