"""Closed-form bounds math, transcribed from the reference's estimator
arithmetic (Apache-2.0) so results are BIT-EQUAL to datasketches-java
(validated live in tests/test_live_jvm_interop.py):
 - binomial proportion bounds (common/BoundsOnBinomialProportions.java:106-190)
 - ratios in sampled sets (common/BoundsOnRatiosInSampledSets.java:52-112)
 - B-over-A ratios in theta/tuple sketched sets
   (thetacommon/BoundsOnRatiosInThetaSketchedSets.java:59-120)
 - binomial bounds on distinct counts (thetacommon/BinomialBoundsN.java:36-267)
"""

from __future__ import annotations

import math

import numpy as np


def ref_erf(x: float) -> float:
    """The reference's erf approximation (Abramowitz & Stegun formula
    7.1.28, ~7 decimal digits; common/BoundsOnBinomialProportions.java:
    erf/erf_of_nonneg). Bit-equal to Java: same polynomial, same
    association."""
    if x < 0.0:
        return -1.0 * ref_erf(-1.0 * x)
    a1, a2, a3 = 0.0705230784, 0.0422820123, 0.0092705272
    a4, a5, a6 = 0.0001520143, 0.0002765672, 0.0000430638
    x2 = x * x
    x3 = x2 * x
    x4 = x2 * x2
    x5 = x2 * x3
    x6 = x3 * x3
    s = 1.0 + (a1 * x) + (a2 * x2) + (a3 * x3) + (a4 * x4) + (a5 * x5) + (a6 * x6)
    s2 = s * s
    s4 = s2 * s2
    s8 = s4 * s4
    s16 = s8 * s8
    return 1.0 - (1.0 / s16)


def ref_normal_cdf(x: float) -> float:
    """normalCDF via ref_erf (BoundsOnBinomialProportions.normalCDF)."""
    return 0.5 * (1.0 + ref_erf(x / math.sqrt(2.0)))


def _delta_of_num_stdevs(kappa: float) -> float:
    return ref_normal_cdf(-1.0 * kappa)


def _as_formula_26_5_22(a: float, b: float, yp: float) -> float:
    """Abramowitz & Stegun 26.5.22: approximate inverse of the
    incomplete beta I_x(a,b) = delta, delta given via yp std devs
    (BoundsOnBinomialProportions.abramowitzStegunFormula26p5p22,
    variable names kept as in the book / the reference)."""
    b2m1 = (2.0 * b) - 1.0
    a2m1 = (2.0 * a) - 1.0
    lam = ((yp * yp) - 3.0) / 6.0
    htmp = (1.0 / a2m1) + (1.0 / b2m1)
    h = 2.0 / htmp
    term1 = (yp * (math.sqrt(h + lam))) / h
    term2 = (1.0 / b2m1) - (1.0 / a2m1)
    term3 = (lam + (5.0 / 6.0)) - (2.0 / (3.0 * h))
    w = term1 - (term2 * term3)
    return a / (a + (b * math.exp(2.0 * w)))


def _check_nk(n: int, k: int) -> None:
    if n < 0 or k < 0 or k > n:
        raise ValueError(f"bad binomial inputs n={n} k={k}")


def ref_approx_lower_bound_on_p(n: int, k: int, num_std_devs: float) -> float:
    """Approximate Clopper-Pearson lower bound, the reference's exact
    arithmetic incl. the k==1 and k==n closed forms
    (BoundsOnBinomialProportions.approximateLowerBoundOnP)."""
    _check_nk(n, k)
    if n == 0 or k == 0:
        return 0.0
    if k == 1:
        return 1.0 - math.pow(1.0 - _delta_of_num_stdevs(num_std_devs), 1.0 / n)
    if k == n:
        return math.pow(_delta_of_num_stdevs(num_std_devs), 1.0 / n)
    return 1.0 - _as_formula_26_5_22((n - k) + 1, k, -1.0 * num_std_devs)


def ref_approx_upper_bound_on_p(n: int, k: int, num_std_devs: float) -> float:
    """(BoundsOnBinomialProportions.approximateUpperBoundOnP)."""
    _check_nk(n, k)
    if n == 0 or k == n:
        return 1.0
    if k == n - 1:
        return math.pow(1.0 - _delta_of_num_stdevs(num_std_devs), 1.0 / n)
    if k == 0:
        return 1.0 - math.pow(_delta_of_num_stdevs(num_std_devs), 1.0 / n)
    return 1.0 - _as_formula_26_5_22(n - k, k + 1, num_std_devs)


def _hacky_adjuster(f: float) -> float:
    """BoundsOnRatiosInSampledSets.hackyAdjuster (widens the interval
    as the inclusion probability grows)."""
    tmp = math.sqrt(1.0 - f)
    return tmp if f <= 0.5 else tmp + (0.01 * (f - 0.5))


def ref_ratio_bounds_sampled(a: int, b: int, f: float) -> tuple[float, float, float]:
    """(lb, est, ub) for B/A where the size-`a` sample of A was drawn
    with inclusion probability `f` and `b` of it lies in B
    (common/BoundsOnRatiosInSampledSets.java:52-112, NUM_STD_DEVS=2)."""
    if ((a - b) | a | b) < 0 or f > 1.0 or f <= 0.0:
        raise ValueError(f"bad inputs a={a} b={b} f={f}")
    est = 0.5 if a == 0 else b / a
    if a == 0:
        return 0.0, est, 1.0
    if f == 1.0:
        return est, est, est
    z = 2.0 * _hacky_adjuster(f)
    return (
        ref_approx_lower_bound_on_p(a, b, z),
        est,
        ref_approx_upper_bound_on_p(a, b, z),
    )


_LONG_MAX_AS_DOUBLE = float((1 << 63) - 1)  # (double) Long.MAX_VALUE == 2^63


def b_over_a_bounds(
    hashes_a: np.ndarray,
    theta_long_a: int,
    hashes_b: np.ndarray,
    theta_long_b: int,
) -> tuple[float, float, float]:
    """(lb, est, ub) on |B|/|A| where B ⊆ A (B formed by intersecting A
    with a predicate sketch), transcribed from
    thetacommon/BoundsOnRatiosInThetaSketchedSets.java:59-120; the
    tuple-summary variant BoundsOnRatiosInTupleSketchedSets.java is the
    same arithmetic over the tuple sketch's hash set, so this one
    kernel serves both (our tuple state kernels/tuple_kmv.py shares the
    KMV hash representation). countA restricts A's retained hashes to
    < thetaB exactly like getCountLessThanThetaLong."""
    if theta_long_b > theta_long_a:
        raise ValueError("thetaLongB cannot be > thetaLongA")
    count_b = int(len(hashes_b))
    a = np.asarray(hashes_a)
    count_a = int(len(a)) if theta_long_b == theta_long_a else int(
        np.count_nonzero(a < theta_long_b)
    )
    if count_a <= 0:
        return 0.0, 0.5, 1.0
    f = theta_long_b / _LONG_MAX_AS_DOUBLE
    return ref_ratio_bounds_sampled(count_a, count_b, f)


# --- BinomialBoundsN exact transcription ---------------------------
# (thetacommon/BinomialBoundsN.java:36-267, Apache-2.0) — the
# reference's frequentist binomial tail bounds on a distinct count
# given `num_samples` retained below sampling probability theta.
# Bit-equal to datasketches-java (validated live in
# tests/test_live_jvm_interop.py); used by the theta/tuple/FDT bound
# surfaces.

_DELTA_OF_NUM_SDEV = (
    0.5000000000000000000,
    0.1586553191586026479,
    0.0227502618904135701,
    0.0013498126861731796,
)


def _cont_classic_lb(num_samples_f: float, theta: float, num_sdev: float) -> float:
    n_hat = (num_samples_f - 0.5) / theta
    b = num_sdev * math.sqrt((1.0 - theta) / theta)
    d = 0.5 * b * math.sqrt((b * b) + (4.0 * n_hat))
    return (n_hat + (0.5 * (b * b))) - d


def _cont_classic_ub(num_samples_f: float, theta: float, num_sdev: float) -> float:
    n_hat = (num_samples_f + 0.5) / theta
    b = num_sdev * math.sqrt((1.0 - theta) / theta)
    d = 0.5 * b * math.sqrt((b * b) + (4.0 * n_hat))
    return (n_hat + (0.5 * (b * b))) + d


def _special_n_star(num_samples: int, p: float, delta: float) -> int:
    # Bayesian-inspired exact LB search (BinomialBoundsN.java:76-99);
    # callers guarantee num_samples/p < 500 so no log-space needed
    q = 1.0 - p
    cur = p ** num_samples
    tot = cur
    m = num_samples
    while tot <= delta:
        cur = (cur * q * m) / ((m + 1) - num_samples)
        tot += cur
        m += 1
    return m - 1


def _special_n_prime_b(num_samples: int, p: float, delta: float) -> int:
    q = 1.0 - p
    one_minus_delta = 1.0 - delta
    cur = p ** num_samples
    tot = cur
    m = num_samples
    while tot < one_minus_delta:
        cur = (cur * q * m) / ((m + 1) - num_samples)
        tot += cur
        m += 1
    return m


def _approx_bino_lb(num_samples: int, theta: float, num_sdev: int) -> float:
    from ._equiv_tables import LB_EQUIV

    if theta == 1.0:
        return float(num_samples)
    if num_samples == 0:
        return 0.0
    if num_samples == 1:
        delta = _DELTA_OF_NUM_SDEV[num_sdev]
        return math.floor(math.log(1.0 - delta) / math.log(1.0 - theta))
    if num_samples > 120:
        return _cont_classic_lb(num_samples, theta, num_sdev) - 0.5
    if theta > (1.0 - 1e-5):
        return float(num_samples)
    if theta < (num_samples / 360.0):
        idx = (3 * num_samples) + (num_sdev - 1)
        return _cont_classic_lb(num_samples, theta, LB_EQUIV[idx]) - 0.5
    delta = _DELTA_OF_NUM_SDEV[num_sdev]
    return float(_special_n_star(num_samples, theta, delta))


def _approx_bino_ub(num_samples: int, theta: float, num_sdev: int) -> float:
    from ._equiv_tables import UB_EQUIV

    if theta == 1.0:
        return float(num_samples)
    if num_samples == 0:
        delta = _DELTA_OF_NUM_SDEV[num_sdev]
        return math.ceil(math.log(delta) / math.log(1.0 - theta))
    if num_samples > 120:
        return _cont_classic_ub(num_samples, theta, num_sdev) + 0.5
    if theta > (1.0 - 1e-5):
        return float(num_samples + 1)
    if theta < (num_samples / 360.0):
        idx = (3 * num_samples) + (num_sdev - 1)
        return _cont_classic_ub(num_samples, theta, UB_EQUIV[idx]) + 0.5
    delta = _DELTA_OF_NUM_SDEV[num_sdev]
    return float(_special_n_prime_b(num_samples + 1, theta, delta))


def _check_bino_args(num_samples: int, theta: float, num_sdev: int) -> None:
    if num_sdev not in (1, 2, 3) or num_samples < 0:
        raise ValueError(
            f"numSDev must be 1, 2, or 3 and numSamples >= 0: "
            f"numSDev={num_sdev}, numSamples={num_samples}")
    if theta <= 0.0 or theta > 1.0:
        raise ValueError(f"0.0 < theta <= 1.0: {theta}")


def ref_binomial_lower_bound(
    num_samples: int, theta: float, num_sdev: int, no_data_seen: bool = False
) -> float:
    """BinomialBoundsN.getLowerBound (java:234-243), bit-equal."""
    if no_data_seen:
        return 0.0
    _check_bino_args(num_samples, theta, num_sdev)
    lb = _approx_bino_lb(num_samples, theta, num_sdev)
    est = num_samples / theta
    return min(est, max(float(num_samples), lb))


def ref_binomial_upper_bound(
    num_samples: int, theta: float, num_sdev: int, no_data_seen: bool = False
) -> float:
    """BinomialBoundsN.getUpperBound (java:257-267), bit-equal."""
    if no_data_seen:
        return 0.0
    _check_bino_args(num_samples, theta, num_sdev)
    ub = _approx_bino_ub(num_samples, theta, num_sdev)
    est = num_samples / theta
    return max(est, ub)
