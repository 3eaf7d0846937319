"""t-digest — mean-centroid quantile sketch (reference
tdigest/TDigestDouble.java; Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests", 2019).

Same design parameters as the reference: compression k (DEFAULT_K =
200, TDigestDouble.java:49), the K_2 scale function with cluster sizes
proportional to q·(1-q) under the normalizer C/z(C,n) with
z = 4·ln(n/C) + 24 (TDigestDouble.java:655-669, C = 2k as used at
:676), greedy left-to-right centroid packing with the min(f(q0),
f(q2)) bound (:676-681), overflow-safe weighted centroid means
(:683-693), exact min/max tracking. This is the BATCH construction —
one sort + one greedy pass per batch/merge instead of the reference's
amortized buffer — so accuracy matches the merging-t-digest family,
not byte-level state.

Queries interpolate linearly between adjacent centroid means with the
standard half-weight convention (each centroid's mean sits at the
midpoint of its weight span), clamped to exact min/max at the tails.
Merge = concatenate centroids and re-pack (weights carried), the same
merge rule the reference's merge(TDigestDouble) applies (:115-130);
associative up to the documented accuracy, tested empirically.
"""

from __future__ import annotations

import numpy as np

DEFAULT_K = 200  # TDigestDouble.java:49


def _pack(means: np.ndarray, weights: np.ndarray, k: int):
    """Greedy centroid packing of weight-sorted input (one merge pass
    of TDigestDouble.merge, vectorized where possible)."""
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order].astype(np.float64)
    total = weights.sum()
    C = 2.0 * k
    norm = C / (4.0 * np.log(max(total, C + 1) / C) + 24.0)
    out_m = [means[0]]
    out_w = [weights[0]]
    weight_so_far = 0.0
    n = len(means)
    for i in range(1, n):
        proposed = out_w[-1] + weights[i]
        add = False
        if i != 1 and i != n - 1:
            q0 = weight_so_far / total
            q2 = (weight_so_far + proposed) / total
            bound = total * min(q0 * (1 - q0), q2 * (1 - q2)) / norm
            add = proposed <= bound
        if add:
            w_new = out_w[-1] + weights[i]
            out_m[-1] += (means[i] - out_m[-1]) * weights[i] / w_new
            out_w[-1] = w_new
        else:
            weight_so_far += out_w[-1]
            out_m.append(means[i])
            out_w.append(weights[i])
    return np.array(out_m), np.array(out_w)


class TDigest:
    def __init__(self, k: int = DEFAULT_K):
        self.k = k
        self.means = np.empty(0)
        self.weights = np.empty(0)
        self.min = np.inf
        self.max = -np.inf

    @property
    def n(self) -> float:
        return float(self.weights.sum())

    def update_many(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        m = np.concatenate([self.means, v])
        w = np.concatenate([self.weights, np.ones(len(v))])
        self.means, self.weights = _pack(m, w, self.k)
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if len(other.means) == 0:
            return self
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        # the merged digest's effective compression is the looser of the
        # two; keep self.k consistent so later updates/serialize don't
        # silently revert to the original tighter packing
        self.k = min(self.k, other.k)
        self.means, self.weights = _pack(m, w, self.k)
        return self

    # --- queries ----------------------------------------------------

    def _mid_cum(self) -> np.ndarray:
        """Cumulative weight at each centroid's mean (half-weight)."""
        cum = np.cumsum(self.weights)
        return cum - self.weights / 2.0

    @staticmethod
    def _weighted_average(x1: float, w1: float, x2: float, w2: float) -> float:
        # TDigestDouble.java:676-678 (normalize before multiplying)
        w = w1 + w2
        return x1 * (w1 / w) + x2 * (w2 / w)

    def get_quantile(self, rank: float, ref_parity: bool = False) -> float:
        """Port of TDigestDouble.getQuantile (TDigestDouble.java:239-287):
        min/max clamps at total weight < 1 from either end, half-weight
        tail interpolation anchored one unit inside each extreme,
        singleton short-circuits, weighted-average midpoint rule.

        One deliberate divergence, gated by `ref_parity`: the
        reference's interior branch (:278-280) passes
        weightedAverage(means[i], weight-ws, means[i+1], ws+dw-weight)
        — the weights are SWAPPED relative to the rank geometry
        (means[i] sits at cumulative half-weight ws, so the fraction
        toward means[i+1] is (weight-ws)/dw, not its complement) and
        to Dunning's reference t-digest implementation, biasing
        interior quantiles by up to one inter-centroid gap (Java reads
        the median of 0..19999 as 9900.5). Default False computes the
        correctly-oriented average; ref_parity=True reproduces the
        library bit-for-bit (asserted live against datasketches-java
        in tests/test_live_jvm_interop.py)."""
        nc = len(self.means)
        if nc == 0:
            return float("nan")
        if nc == 1:
            return float(self.means[0])
        total = self.n
        weight = rank * total
        if weight < 1.0:
            return float(self.min)
        if weight > total - 1.0:
            return float(self.max)
        first_w = float(self.weights[0])
        if first_w > 1.0 and weight < first_w / 2.0:
            return float(self.min + (weight - 1.0) / (first_w / 2.0 - 1.0)
                         * (self.means[0] - self.min))
        last_w = float(self.weights[-1])
        if last_w > 1.0 and total - weight <= last_w / 2.0:
            return float(self.max + (total - weight - 1.0) / (last_w / 2.0 - 1.0)
                         * (self.max - self.means[-1]))
        # between centroids i and i+1: first i with weightSoFar+dw > weight.
        # cums replays the Java loop's left-to-right accumulation
        # exactly (cumsum is sequential), so every threshold is the
        # same float64 the reference computes — quantiles match to the
        # last bit, not just approximately.
        dw = (self.weights[:-1] + self.weights[1:]) / 2.0
        cums = np.cumsum(np.concatenate([[first_w / 2.0], dw]))
        i = int(np.searchsorted(cums[1:], weight, side="right"))
        if i >= len(dw):  # fell past the last midpoint (:284-286)
            w1 = weight - total - last_w / 2.0
            w2 = last_w / 2.0 - w1
            return float(self._weighted_average(
                float(self.means[-1]), w1, float(self.max), w2))
        ws = float(cums[i])
        ws_next = float(cums[i + 1])  # == weightSoFar + dw, Java's operand order
        left = 0.0
        if self.weights[i] == 1:
            if weight - ws < 0.5:
                return float(self.means[i])
            left = 0.5
        right = 0.0
        if self.weights[i + 1] == 1:
            if ws_next - weight <= 0.5:
                return float(self.means[i + 1])
            right = 0.5
        w1 = weight - ws - left
        w2 = ws_next - weight - right
        if ref_parity:  # the reference's swapped orientation (:278-280)
            return float(self._weighted_average(
                float(self.means[i]), w1, float(self.means[i + 1]), w2))
        return float(self._weighted_average(
            float(self.means[i]), w2, float(self.means[i + 1]), w1))

    def get_rank(self, value: float) -> float:
        """Port of TDigestDouble.getRank (TDigestDouble.java:181-233)
        with one deliberate fix: the reference snapshot's left-tail
        branch (:195) returns its interpolated weight WITHOUT dividing
        by the total weight (the right tail at :205-206 does divide) —
        an upstream asymmetry that yields ranks > 1 for values below
        the first centroid mean. We normalize both tails, which is
        also what the released datasketches-java 6.2.0 does (verified
        live: its left-tail ranks are normalized), so the live parity
        test covers the full domain against that jar."""
        nc = len(self.means)
        if nc == 0:
            return float("nan")
        if value < self.min:
            return 0.0
        if value > self.max:
            return 1.0
        if nc == 1:
            return 0.5
        total = self.n
        first_mean = float(self.means[0])
        if value < first_mean:
            if first_mean - self.min > 0:
                if value == self.min:
                    return 0.5 / total
                return float((1.0 + (value - self.min) / (first_mean - self.min)
                              * (self.weights[0] / 2.0 - 1.0)) / total)
            return 0.0
        last_mean = float(self.means[-1])
        if value > last_mean:
            if self.max - last_mean > 0:
                if value == self.max:
                    return 1.0 - 0.5 / total
                return float(1.0 - ((1.0 + (self.max - value) / (self.max - last_mean)
                                     * (self.weights[-1] / 2.0 - 1.0)) / total))
            return 1.0
        lower = int(np.searchsorted(self.means, value, side="left"))
        upper = int(np.searchsorted(self.means, value, side="right"))
        if lower == nc or value < self.means[lower]:
            lower -= 1
        if upper == nc or self.means[upper - 1] >= value:
            upper -= 1
        cum = np.cumsum(self.weights)
        weight_below = (float(cum[lower - 1]) if lower > 0 else 0.0) \
            + float(self.weights[lower]) / 2.0
        weight_delta = float(cum[upper - 1] - (cum[lower - 1] if lower > 0 else 0.0)) \
            - float(self.weights[lower]) / 2.0 + float(self.weights[upper]) / 2.0 \
            if upper > lower else \
            float(self.weights[upper]) / 2.0 - float(self.weights[lower]) / 2.0
        span = float(self.means[upper] - self.means[lower])
        if span > 0:
            return float((weight_below + weight_delta
                          * (value - float(self.means[lower])) / span) / total)
        return float((weight_below + weight_delta / 2.0) / total)


# --- reference-format interop (reads the reference library's own bytes)

_FAMILY_TDIGEST = 20  # common/Family.java:160


def from_ref_bytes(buf: bytes) -> "TDigest":
    """Parse a serialized image produced by the reference library
    (tdigest/TDigestDouble.java toByteArray, little-endian) or by the
    original t-digest reference implementation (heapifyCompat formats,
    big-endian: COMPAT_DOUBLE=asBytes, COMPAT_FLOAT=asSmallBytes —
    TDigestDouble.java:463-508). Auto-detected the same way heapify
    does: famID byte == 20 selects the library format. Validated in
    tests/test_ref_goldens.py against the goldens the reference ships
    in src/test/resources (tdigest_ref_k100_n10000_{double,float}.sk,
    consumed by TDigestDoubleTest.deserializeFromReferenceImplementation*).
    """
    if len(buf) >= 3 and buf[2] == _FAMILY_TDIGEST:
        pre_longs, ser_ver = buf[0], buf[1]
        if ser_ver != 1:
            raise ValueError(f"unsupported tdigest serial version {ser_ver}")
        k = int(np.frombuffer(buf[3:5], dtype="<u2")[0])
        flags = buf[5]
        is_empty = bool(flags & 1)      # Flags.IS_EMPTY ordinal 0
        is_single = bool(flags & 2)     # Flags.IS_SINGLE_VALUE ordinal 1
        td = TDigest(k=k)
        if is_empty:
            return td
        if is_single:
            v = float(np.frombuffer(buf[8:16], dtype="<f8")[0])
            td.min = td.max = v
            td.means = np.array([v])
            td.weights = np.array([1.0])
            return td
        if pre_longs != 2:
            raise ValueError(f"bad tdigest preamble longs {pre_longs}")
        nc = int(np.frombuffer(buf[8:12], dtype="<i4")[0])
        td.min = float(np.frombuffer(buf[16:24], dtype="<f8")[0])
        td.max = float(np.frombuffer(buf[24:32], dtype="<f8")[0])
        pairs = np.frombuffer(buf[32:32 + 16 * nc], dtype="<f8").reshape(nc, 2)
        td.means = pairs[:, 0].copy()
        # weights are int64 longs bit-stored in the pair stream
        td.weights = (
            np.frombuffer(buf[32:32 + 16 * nc], dtype="<i8")
            .reshape(nc, 2)[:, 1].astype(np.float64)
        )
        return td
    # big-endian compat formats of the original reference implementation
    typ = int(np.frombuffer(buf[0:4], dtype=">i4")[0])
    if typ == 1:  # COMPAT_DOUBLE (asBytes)
        mn, mx, kd = np.frombuffer(buf[4:28], dtype=">f8")
        nc = int(np.frombuffer(buf[28:32], dtype=">i4")[0])
        pairs = np.frombuffer(buf[32:32 + 16 * nc], dtype=">f8").reshape(nc, 2)
        td = TDigest(k=int(kd))
        td.min, td.max = float(mn), float(mx)
        td.weights = pairs[:, 0].astype(np.float64)  # weight first, then mean
        td.means = pairs[:, 1].copy()
        return td
    if typ == 2:  # COMPAT_FLOAT (asSmallBytes)
        mn, mx = np.frombuffer(buf[4:20], dtype=">f8")
        kd = float(np.frombuffer(buf[20:24], dtype=">f4")[0])
        nc = int(np.frombuffer(buf[28:30], dtype=">i2")[0])
        pairs = np.frombuffer(buf[30:30 + 8 * nc], dtype=">f4").reshape(nc, 2)
        td = TDigest(k=int(kd))
        td.min, td.max = float(mn), float(mx)
        td.weights = pairs[:, 0].astype(np.float64)
        td.means = pairs[:, 1].astype(np.float64)
        return td
    raise ValueError(f"unrecognized tdigest image (compat type {typ})")


def to_ref_bytes(td: TDigest) -> bytes:
    """Serialize in the reference library's own wire format
    (tdigest/TDigestDouble.java toByteArray, little-endian): preamble
    byte layout {preLongs, serVer=1, famID=20, k:short, flags, unused:
    short}, then empty / single-value / full images. A Java
    TDigestDouble.heapify() reads these bytes directly — the write
    side of the interop lane whose read side is from_ref_bytes
    (round-trip tested in tests/test_ref_goldens.py), and the one
    serialized form: partials cross the shuffle as these bytes.
    Lossless for this engine's state (weights are integer counts)."""
    if not 0 < td.k <= 0xFFFF:
        raise ValueError(f"k={td.k} does not fit the t-digest image's u16 field")
    n_c = len(td.means)
    k16 = np.array([td.k], dtype="<u2").tobytes()
    if n_c == 0:
        return bytes([1, 1, _FAMILY_TDIGEST]) + k16 + bytes([1, 0, 0])
    if n_c == 1 and td.weights[0] == 1.0 and td.min == td.max:
        return (
            bytes([1, 1, _FAMILY_TDIGEST]) + k16 + bytes([2, 0, 0])
            + np.array([td.min], dtype="<f8").tobytes()
        )
    head = (
        bytes([2, 1, _FAMILY_TDIGEST]) + k16 + bytes([0, 0, 0])
        + np.array([n_c, 0], dtype="<i4").tobytes()
        + np.array([td.min, td.max], dtype="<f8").tobytes()
    )
    pairs = np.empty(2 * n_c, dtype="<i8")
    pairs[0::2] = td.means.astype("<f8").view("<i8")
    pairs[1::2] = np.round(td.weights).astype("<i8")
    return head + pairs.tobytes()
