"""Similarity search over embedding columns.

 - brute_force_topk_ip: exact top-k by inner product of 1e6-quantized
   vectors. Quantizing to int64 makes the score an exact integer, so
   the DuckDB oracle matches bit-for-bit (float dot products diverge
   across engines in the last ulp and flip rankings).
 - brute_force_topk_cosine: float cosine variant (rows-only check).
 - brute_force_topk_cosine_q: oracle-exact integer-quantized cosine.
 - cosine_dup_pairs: every pair at or above a quantized cosine.
 - lsh_topk_cosine / ivf_topk_cosine: the ANN scale lanes — SRP
   buckets or IVF cells turn the all-pairs scan into candidate pairs,
   rescored exactly. Approximate by design.

ONE plan decision per call, made by input size: _collect_matrix runs
one cheap aggregate (n, min/max dimension, max |component|) and
collects the (ids, matrix) pair only when n·(d+1)·8 bytes fit
_MATRIX_BUDGET_BYTES. In budget the matrix is broadcast: the exact
lanes score each Arrow batch against it with one matmul and emit
their top-k or pairs directly (no crossJoin, no O(n²) shuffle, no
window; b×n score tiles never leave a worker), and the ANN lanes score
their candidate pairs in one vec_id-partitioned pass (_ann_topk). Over
budget the exact lanes crossJoin (the all-pairs shuffle IS the exact
semantics at that point) and the ANN lanes join vectors back onto the
deduped candidates; both distributed plans end in one top-k tail,
_topk. Either plan computes the same rows. This is the classic
broadcast-or-repartition choice by measured input size.
"""

from __future__ import annotations

import operator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..kernels.hashing import xxhash64_int, xxhash64_long
from ..scope import own

QUANT = 1_000_000
COS_QUANT = 1_000_000_000

# broadcast cap for the (ids, matrix) pair of the broadcast plans
_MATRIX_BUDGET_BYTES = 256 << 20


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))


def _quantized(src: DataFrame) -> DataFrame:
    return src.select(
        "id",
        F.transform(
            F.col("v"),
            lambda x: F.round(x.cast("double") * QUANT).cast("bigint"),
        ).alias("q"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _collect_matrix(src: DataFrame, exact_bits: int | None = None):
    """(ids sorted asc, matrix) of the (id, v) frame for the broadcast
    plans, or None when the caller must take its distributed plan.

    One aggregate decides first, observed over a no-op scan (one Spark
    job, no shuffle): n, min/max dimension and max |component|. With
    exact_bits (the quantized lanes) it enforces the integer-exactness
    contract the oracle depends on: with components quantized to 1e6,
    a dot product is exact only while d·max_q² < 2^exact_bits (53 for
    cos_q, whose dot must convert losslessly to float64; 62 for the
    raw-int64 IP path, leaving a sign bit + headroom for the int64
    matmul). Data that breaks it raises — the distributed plan has the
    identical quantized arithmetic, so falling back would not help.

    The matrix is collected only when the ids are integral (the
    broadcast scorers pack them as int64), every vector has the same
    dimension d, and n·(d+1)·8 bytes fit _MATRIX_BUDGET_BYTES: int64
    quantized components with exact_bits, float64 without."""
    stats = Observation()
    src.observe(
        stats,
        F.count(F.lit(1)).alias("n"),
        F.min(F.coalesce(F.size("v"), F.lit(-1))).alias("d_min"),
        F.max(F.size("v")).alias("d"),
        F.max(F.array_max(
            F.transform("v", lambda x: F.abs(x.cast("double")))
        )).alias("mx"),
    ).write.format("noop").mode("overwrite").save()
    row = stats.get
    n, d = row["n"], row["d"] or 0
    if exact_bits is not None:
        max_q = int(round((row["mx"] or 0.0) * QUANT)) + 1
        if n and d and d * max_q * max_q >= (1 << exact_bits):
            raise ValueError(
                f"integer-exact quantized scores need d*max_q^2 < "
                f"2^{exact_bits} (d={d}, max|component|~{row['mx']:.3g} "
                f"-> max_q={max_q}); rescale the embeddings or lower QUANT"
            )
    if (n == 0 or row["d_min"] != d
            or dict(src.dtypes)["id"] not in ("bigint", "int")
            or n * (d + 1) * 8 > _MATRIX_BUDGET_BYTES):
        return None
    pdf = (src if exact_bits is None else _quantized(src)).toPandas()
    ids = pdf["id"].to_numpy(np.int64)
    M = np.stack(pdf.iloc[:, 1].to_numpy()).astype(
        np.float64 if exact_bits is None else np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], M[order]


def _topk(scored: DataFrame, score_col: str, topk: int) -> DataFrame:
    """Per-vec_id top-k of (vec_id, neighbor_id, score) rows, ranked by
    (score desc, neighbor_id asc): the tail of every distributed plan."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("vec_id", "neighbor_id", score_col,
                F.col("rank").cast("int").alias("rank"))
    )


def _broadcast_scored(src, mat, score_fn, emit, schema) -> DataFrame:
    """One scan of the quantized (id, q) table against the broadcast
    (ids sorted, int64 matrix) pair: every Arrow batch's (b, n) score
    tile S = score_fn(Q, M) becomes output rows through
    emit(qid, ids, S) inside the worker."""
    sc = src.sparkSession.sparkContext
    bc = own(sc.broadcast(mat))

    def gen(batches):
        ids_b, M = bc.value
        for pdf in batches:
            if len(pdf):
                qid = pdf["id"].to_numpy(np.int64)
                Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                yield emit(qid, ids_b, score_fn(Q, M))

    return _quantized(src).repartition(sc.defaultParallelism) \
        .mapInPandas(gen, schema)


def _emit_topk(topk: int, score_name: str):
    """Per-query top-k of a score tile, self excluded. Ties break on
    neighbor_id ascending: the broadcast ids are sorted ascending and
    the argsort on negated scores is stable."""

    def emit(qid, ids_b, S):
        k = min(topk, len(ids_b) - 1)
        # mask self with min+1: np.argsort(-S) negates, and
        # -int64.min overflows back to int64.min (sorting the masked
        # self FIRST instead of last); min+1 negates cleanly
        S[np.arange(len(qid)), np.searchsorted(ids_b, qid)] = \
            np.iinfo(np.int64).min + 1
        order = np.argsort(-S, axis=1, kind="stable")[:, :k]
        rows = np.repeat(np.arange(len(qid)), k)
        return pd.DataFrame({
            "vec_id": qid.repeat(k),
            "neighbor_id": ids_b[order.ravel()],
            score_name: S[rows, order.ravel()],
            "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), len(qid)),
        })

    return emit


def _emit_pairs(thr_q: int):
    """Every (a < b) pair of a score tile at or above thr_q: output is
    O(qualifying pairs)."""

    def emit(qid, ids_b, S):
        r, c = np.nonzero((S >= thr_q) & (qid[:, None] < ids_b[None, :]))
        return pd.DataFrame(
            {"id_a": qid[r], "id_b": ids_b[c], "cos_q": S[r, c]})

    return emit


def _cross(src: DataFrame, a: str, b: str, keep) -> DataFrame:
    """Every (a, b) pair of quantized rows passing keep(a, b), with the
    two vectors as qa / qb: the exact over-budget plan."""
    q = _quantized(src)
    qa = q.select(F.col("id").alias(a), F.col("q").alias("qa"))
    qb = q.select(F.col("id").alias(b), F.col("q").alias("qb"))
    return qa.crossJoin(qb).filter(keep(F.col(a), F.col(b)))


def _ip_scores(Q: np.ndarray, M: np.ndarray) -> np.ndarray:
    return Q @ M.T


def _cos_q_scores(Q: np.ndarray, M: np.ndarray) -> np.ndarray:
    """round(1e9·cos) from exact integer dot/norms: dot_q, na_q, nb_q
    are exact int64 (quantized components ≤ 1e6, d ≤ 8192 keeps the
    squared sums < 2^53), so `1e9·dot/sqrt(double(na)·double(nb))` is
    the same correctly-rounded IEEE expression the SQL oracle
    evaluates — engine-independent to the bit. Half-up rounding
    (floor(x+0.5)) matches Spark/DuckDB ROUND for doubles."""
    dot = (Q @ M.T).astype(np.float64)
    nq = (Q.astype(np.float64) ** 2).sum(axis=1)
    nm = (M.astype(np.float64) ** 2).sum(axis=1)
    c = COS_QUANT * dot / np.sqrt(nq[:, None] * nm[None, :])
    return np.floor(c + 0.5).astype(np.int64)


def _cos_q_expr():
    """SQL twin of _cos_q_scores over the crossed qa / qb columns."""
    qa, qb = F.col("qa"), F.col("qb")
    return F.round(
        F.lit(float(COS_QUANT)) * _dot(qa, qb).cast("double")
        / F.sqrt(_dot(qa, qa).cast("double") * _dot(qb, qb).cast("double"))
    ).cast("bigint")


def _exact_topk(df, id_col, vec_col, topk, score_name, exact_bits,
                score_fn, score_expr) -> DataFrame:
    src = _vectors(df, id_col, vec_col)
    mat = _collect_matrix(src, exact_bits)
    if mat is not None:
        t = dict(df.dtypes)[id_col]
        return _broadcast_scored(
            src, mat, score_fn, _emit_topk(topk, score_name),
            f"vec_id {t}, neighbor_id {t}, {score_name} bigint, rank int",
        )
    scored = _cross(src, "vec_id", "neighbor_id", operator.ne).select(
        "vec_id", "neighbor_id", score_expr.alias(score_name))
    return _topk(scored, score_name, topk)


def brute_force_topk_ip(
    df: DataFrame, id_col: str, vec_col: str, topk: int = 5
) -> DataFrame:
    """(vec_id, neighbor_id, dot_q, rank) — exact integer MIPS top-k.

    Broadcast-matmul plan when the matrix fits (one scan, no shuffle);
    crossJoin+window fallback above the budget. EAGER: the plan choice
    runs _collect_matrix's aggregate, and its collect in budget."""
    return _exact_topk(df, id_col, vec_col, topk, "dot_q", 62, _ip_scores,
                       _dot(F.col("qa"), F.col("qb")))


def _cosine_batch(a, b):
    """float64 cosine over two array<float/double> columns as ONE
    numpy pass per Arrow batch — replaces the three per-row JVM
    `aggregate` folds of `_cosine` in the candidate-scoring hot path
    (measured 7.2s -> ~1.5s over 515k LSH candidate pairs at d=64;
    same fold-vs-matmul economics as srp_buckets_array). Sum order
    differs from the left fold by ~1 ulp, far below the quantized-vs-
    float gap the recall gates already tolerate; ranking ties remain
    broken by neighbor_id.

    Callers must drop NULL/ragged vector rows first (see
    _drop_invalid_pairs) — np.stack needs a rectangular batch; the rows
    the old expression scored as NULL are filtered out instead, which
    also keeps them out of the top-k window (desc ordering put NULLs
    last anyway)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=float)
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dots / (na * nb))

    return _cos(a, b)


def _drop_invalid_pairs(df: DataFrame, a: str, b: str) -> DataFrame:
    """Remove candidate rows the batch scorer can't stack: NULL vectors
    or mismatched dimensions (the old per-row fold scored these NULL,
    which the desc top-k window already ranked last)."""
    return df.filter(
        F.col(a).isNotNull() & F.col(b).isNotNull()
        & (F.size(a) == F.size(b))
    )


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (na * nb)


def brute_force_topk_cosine(
    df: DataFrame, id_col: str, vec_col: str, topk: int = 5
) -> DataFrame:
    a = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", _cosine(F.col("va"), F.col("vb")).alias("cosine"))
    )
    return _topk(scored, "cosine", topk)


def brute_force_topk_cosine_q(
    df: DataFrame, id_col: str, vec_col: str, topk: int = 5
) -> DataFrame:
    """Oracle-exact cosine top-k: score = round(1e9·cos) over
    1e6-quantized components. dot and squared norms are exact integers,
    so `1e9·dot/sqrt(CAST(na AS DOUBLE)·nb)` is the identical IEEE
    expression on both engines — no fold-order dependence at all
    (tightened from the round-3 left-fold formulation). Ties break on
    neighbor_id. Broadcast-matmul plan under the budget, crossJoin
    fallback above it."""
    return _exact_topk(df, id_col, vec_col, topk, "cos_q", 53,
                       _cos_q_scores, _cos_q_expr())


def cosine_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (id_a < id_b) pair
    with integer-quantized cosine >= threshold — the embedding channel
    of the dedup brief as a first-class thresholded similarity join.

    Score contract is identical to brute_force_topk_cosine_q
    (round(1e9·cos) over 1e6-quantized components: exact int64
    dot/norms, one correctly-rounded IEEE division), so the DuckDB
    oracle matches bit-for-bit. Threshold compares in the quantized
    domain (cos_q >= round(1e9·threshold)).

    Plan: broadcast-matmul under the budget (one scan, no shuffle;
    each Arrow batch emits only its qualifying pairs — the b×n tile
    never leaves the worker). Over budget: crossJoin+filter exact
    fallback; the approximate 100 TB lane is lsh_topk_cosine's SRP
    bucketing + this same exact rescore within buckets.
    """
    thr_q = int(round(threshold * COS_QUANT))
    src = _vectors(df, id_col, vec_col)
    mat = _collect_matrix(src, exact_bits=53)
    if mat is not None:
        t = dict(df.dtypes)[id_col]
        return _broadcast_scored(
            src, mat, _cos_q_scores, _emit_pairs(thr_q),
            f"id_a {t}, id_b {t}, cos_q bigint",
        )
    return (
        _cross(src, "id_a", "id_b", operator.lt)
        .select("id_a", "id_b", _cos_q_expr().alias("cos_q"))
        .filter(F.col("cos_q") >= F.lit(thr_q))
    )


def _srp_planes(d: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """Deterministic ±1 hyperplane tensor (d, n_tables·n_planes) from
    mix64 over (component, table, plane) indices — every executor
    derives the identical planes from the seed alone, nothing is
    shipped (Charikar SimHash over vector components, the same
    hashed-sign construction kernels/simhash.py uses for tokens)."""
    from ..kernels.hashing import mix64, seed_mix

    idx = (
        np.arange(d, dtype=np.uint64)[:, None]
        + (np.arange(n_tables * n_planes, dtype=np.uint64)[None, :] << np.uint64(20))
    )
    h = mix64(idx.ravel() ^ seed_mix(seed)).reshape(d, n_tables * n_planes)
    return np.where((h & np.uint64(1)).astype(bool), 1.0, -1.0)


def srp_buckets_array(vec_col, n_planes: int, n_tables: int, seed: int):
    """array<bigint> of per-table SRP bucket ids, computed as ONE
    NumPy matmul per Arrow batch: S = V·W (b×d @ d×(T·P)), bit =
    S > 0, bucket_t = packed P bits. Replaces the per-row JVM fold
    expression (48 aggregate-over-d folds/row measured ~1.3 ms/row at
    d=64 — the explode stage's entire cost); the matmul form is
    ~1000× cheaper and scales with Arrow batch size."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        arrs = vs.to_numpy()
        out: list = [None] * len(arrs)  # null/empty vectors bucket nowhere
        by_dim: dict[int, list[int]] = {}
        for i, a in enumerate(arrs):
            if a is not None and len(a):
                by_dim.setdefault(len(a), []).append(i)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        for d, idxs in by_dim.items():  # one stack+matmul per distinct dim
            V = np.stack([arrs[i] for i in idxs]).astype(np.float64)
            W = _srp_planes(d, n_planes, n_tables, seed)
            bits = (V @ W) > 0  # (b, T*P)
            B = (
                bits.reshape(len(V), n_tables, n_planes) * weights[None, None, :]
            ).sum(axis=2)
            for j, i in enumerate(idxs):
                out[i] = B[j]
        return pd.Series(out)

    return _buckets(vec_col)


def _lsh_candidates(
    src: DataFrame, n_planes: int, n_tables: int, seed: int, bucket_cap: int,
) -> DataFrame:
    """(id, v) → candidate (vec_id, neighbor_id) pairs via the capped
    multi-table bucket join (see lsh_topk_cosine's BOUNDED BUCKET JOIN
    notes). A pair sharing buckets in several tables repeats; the
    scorer dedups (_ann_topk). Split out so the O(g·cap) pair bound is
    directly testable (tests/test_operators.py)."""
    with_b = src.select(
        "id",
        F.posexplode(
            srp_buckets_array(F.col("v"), n_planes, n_tables, seed)
        ).alias("table_idx", "bucket"),
    )
    a = with_b.select(F.col("id").alias("vec_id"), "table_idx", "bucket")
    wcap = Window.partitionBy("table_idx", "bucket").orderBy(
        F.xxhash64(F.col("id"), F.lit(seed ^ 0x5EED)), F.col("id")
    )
    b = (
        with_b.withColumn("__r", F.row_number().over(wcap))
        .filter(F.col("__r") <= bucket_cap)
        .select(F.col("id").alias("neighbor_id"), "table_idx", "bucket")
    )
    return (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
    )


def _ann_scored_partition(bc, topk: int):
    """mapInPandas over candidate (vec_id, neighbor_id) pairs hash-
    partitioned by vec_id: buffer the partition, dedup pairs (global
    dedup — every pair of a vec lands in this partition), score from
    the broadcast float64 matrix with the same einsum expressions
    _cosine_batch evaluates (bit-identical sums), rank per vec by
    (cosine desc, neighbor_id asc) exactly like _topk's window.
    Spark orders NaN above every double in a desc sort; the sort key
    maps NaN to +inf to match."""

    def gen(batches):
        ids_b, M = bc.value
        abuf, bbuf = [], []
        for pdf in batches:
            if len(pdf):
                abuf.append(pdf["vec_id"].to_numpy(np.int64))
                bbuf.append(pdf["neighbor_id"].to_numpy(np.int64))
        if not abuf:
            return
        a = np.concatenate(abuf)
        b = np.concatenate(bbuf)
        order = np.lexsort((b, a))
        a, b = a[order], b[order]
        first = np.ones(len(a), dtype=bool)
        first[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
        a, b = a[first], b[first]
        A = M[np.searchsorted(ids_b, a)]
        B = M[np.searchsorted(ids_b, b)]
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        cos = dots / (na * nb)
        key = np.where(np.isnan(cos), np.inf, cos)
        order = np.lexsort((b, -key, a))
        a, b, cos = a[order], b[order], cos[order]
        starts = np.ones(len(a), dtype=bool)
        starts[1:] = a[1:] != a[:-1]
        idx = np.arange(len(a), dtype=np.int64)
        run_start = np.maximum.accumulate(np.where(starts, idx, 0))
        rank = idx - run_start + 1
        keep = rank <= topk
        yield pd.DataFrame(
            {
                "vec_id": a[keep],
                "neighbor_id": b[keep],
                "cosine": cos[keep],
                "rank": rank[keep].astype(np.int32),
            }
        )

    return gen


def _ann_topk(cand: DataFrame, src: DataFrame, mat, topk: int) -> DataFrame:
    """Exact cosine top-k over ANN candidate pairs (vec_id, neighbor_id,
    repeats allowed) of the (id, v) frame — the scorer both ANN lanes
    share. `mat` is _collect_matrix(src): in budget, the pairs are
    scored against the broadcast float64 matrix in ONE vec_id-
    partitioned Arrow pass (one exchange; the pair dedup happens in
    the same pass). Over budget, the deduped pairs join their vectors
    back once per side and end in _topk — same einsum scores, same
    (cosine desc, neighbor_id asc) ranking, so the same rows."""
    if mat is not None:
        from ..session import plan_width

        sess = src.sparkSession
        bc = own(sess.sparkContext.broadcast(mat))
        t = dict(src.dtypes)["id"]
        return cand.repartition(plan_width(sess), "vec_id").mapInPandas(
            _ann_scored_partition(bc, topk),
            f"vec_id {t}, neighbor_id {t}, cosine double, rank int",
        )
    va = src.select(F.col("id").alias("vec_id"), F.col("v").alias("va"))
    vb = src.select(F.col("id").alias("neighbor_id"), F.col("v").alias("vb"))
    scored = (
        _drop_invalid_pairs(
            cand.dropDuplicates(["vec_id", "neighbor_id"])
            .join(va, "vec_id").join(vb, "neighbor_id"), "va", "vb")
        .select(
            "vec_id", "neighbor_id",
            _cosine_batch(F.col("va"), F.col("vb")).alias("cosine"),
        )
    )
    return _topk(scored, "cosine", topk)


def _ann_src(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return _vectors(df, id_col, vec_col) \
        .filter(F.col("v").isNotNull() & (F.size("v") > 0))


def lsh_topk_cosine(
    df: DataFrame, id_col: str, vec_col: str, topk: int = 5,
    n_planes: int | None = None, n_tables: int = 8, seed: int = 9001,
    bucket_cap: int = 1024, target_bucket: int = 128,
) -> DataFrame:
    """Multi-table bucketed ANN: L independent SRP tables; candidates
    are pairs sharing a bucket in ANY table; exact cosine within
    candidates. Recall for a neighbor at collision prob p per table is
    1-(1-p)^L — the classic LSH recall/compute dial (MMDS ch.3). Turns
    the O(n²) cross join into per-bucket joins.

    IDS-ONLY EXCHANGE (round 4): the ×L explode and the band self-join
    move only (id, table_idx, bucket) int64 triples — vector payload
    never rides the multi-table fan-out. The candidate pairs are
    scored by _ann_topk: against the broadcast matrix when it fits the
    budget, else by joining vectors back once per side onto the
    deduped pairs. At 100×-scale embedding tables this is the
    difference between shuffling ids and shuffling the corpus.

    BOUNDED BUCKET JOIN (round 4 verdict #2 — was the last O(g²)
    scale hole): two mechanisms, mirroring the text lane's cap-and-
    degrade policy (operators/lsh.py):

    - n_planes=None derives the bucket count from the corpus size —
      ceil(log2(n / target_bucket)) planes ⇒ average bucket ≈
      target_bucket regardless of n, instead of the old fixed 64
      buckets/table that at 10⁸ vectors meant ~10⁶-member buckets.
      n comes from the budget decision's collect; over budget it costs
      one count() at plan time (pass n_planes explicitly to avoid it).
    - the NEIGHBOR side of the per-bucket self-join is capped at
      bucket_cap members per (table, bucket), chosen by deterministic
      hash rank — a skew backstop (e.g. a mass of identical vectors)
      that bounds any bucket's pair count to g·bucket_cap = O(g).
      The QUERY side stays uncapped, so every vector still receives
      candidates; a capped bucket degrades recall only for ties the
      multi-table OR usually recovers. The cap's row_number window
      partitions on the same (table_idx, bucket) key as the join, so
      AQE reuses one exchange.

    EAGER: the budget decision runs _collect_matrix's aggregate, and
    its collect in budget.
    """
    src = _ann_src(df, id_col, vec_col)
    mat = _collect_matrix(src)
    if n_planes is None:
        n = len(mat[0]) if mat is not None else src.count()
        n_planes = int(
            min(24, max(1, np.ceil(np.log2(max(n, 2) / target_bucket))))
        )
    cand = _lsh_candidates(src, n_planes, n_tables, seed, bucket_cap)
    return _ann_topk(cand, src, mat, topk)


def ivf_topk_cosine(
    df: DataFrame, id_col: str, vec_col: str, topk: int = 5,
    n_cells: int | None = None, n_probe: int = 4, seed: int = 9001,
) -> DataFrame:
    """IVF-flat approximate nearest neighbors: a deterministic coarse
    quantizer (n_cells ≈ √n centroid vectors chosen by smallest
    xxhash64(id) — reproducible across runs/executors; k-means
    refinement is a quality knob that slots in here) partitions the
    corpus into cells; every vector is INDEXED in its nearest cell and
    each query PROBES its n_probe nearest cells, scoring exact cosine
    only within probed cells. The classic recall dial: recall rises
    with n_probe, compute ~ n·d·n_cells (assignment matmul) +
    n·(n/n_cells)·n_probe·d (scoring).

    Scale shape mirrors lsh_topk_cosine: the cell join moves (id, cell)
    int pairs ONLY, and the candidate pairs go through the same scorer,
    _ann_topk (a broadcast matrix in budget, a vector join-back above
    it).
    The centroid matrix (√n·d floats) is a Spark broadcast variable.
    EAGER: plan construction runs Spark jobs — _collect_matrix's
    aggregate (whose n sizes n_cells=None) and collect; in budget the
    centroids are picked from the collected matrix in the same hash
    order. Over budget n_cells=None costs one count(), and the
    centroids one TopK+collect (orderBy+limit compiles to
    TakeOrderedAndProject, O(n_cells) per task, not a global sort)."""
    sess = df.sparkSession
    src = _ann_src(df, id_col, vec_col)
    mat = _collect_matrix(src)
    if n_cells is None:
        n_rows = len(mat[0]) if mat is not None else src.count()
        n_cells = max(4, int(np.ceil(np.sqrt(max(n_rows, 1)))))
    n_probe = min(n_probe, n_cells)

    if mat is not None:
        # the order of Spark's xxhash64(id, lit(seed)) below: seed 42,
        # each column hashed by its type into the running hash
        ids, M = mat
        h = np.uint64(42)
        for v, is_int in ((ids, dict(src.dtypes)["id"] == "int"),
                          (seed, -(2**31) <= seed < 2**31)):
            h = (xxhash64_int if is_int else xxhash64_long)(v, h)
        C = M[np.argsort(h.astype(np.int64), kind="stable")[:n_cells]]
    else:
        cent_pdf = (
            src.withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
            .orderBy("__h").limit(n_cells).select("v").toPandas()
        )
        C = np.stack(cent_pdf["v"].to_numpy()).astype(np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    bc = own(sess.sparkContext.broadcast(C))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _probe_cells(vs: pd.Series) -> pd.Series:
        Cm = bc.value
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        arrs = vs.to_numpy()
        # null / empty / centroid-dim-mismatched vectors probe nowhere
        # (None cells -> element_at yields null, explode emits no rows)
        idxs = [i for i, a in enumerate(arrs)
                if a is not None and len(a) == Cm.shape[1]]
        out: list = [None] * len(arrs)
        if not idxs:
            return pd.Series(out)
        X = np.stack([arrs[i] for i in idxs]).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = X @ Cm.T
        p = min(n_probe, S.shape[1])
        top = np.argpartition(-S, p - 1, axis=1)[:, :p]
        # order probes by similarity so probe[0] is the index cell
        row = np.arange(len(X))[:, None]
        order = np.argsort(-S[row, top], axis=1, kind="stable")
        cells = np.take_along_axis(top, order, axis=1).astype(np.int32)
        for j, i in enumerate(idxs):
            out[i] = cells[j]
        return pd.Series(out)

    probed = src.select("id", _probe_cells(F.col("v")).alias("cells"))
    indexed = probed.select("id", F.element_at("cells", 1).alias("cell"))
    queries = probed.select(
        F.col("id").alias("vec_id"), F.explode("cells").alias("cell")
    )
    cand = (
        queries.join(indexed.withColumnRenamed("id", "neighbor_id"), "cell")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
    )
    return _ann_topk(cand, src, mat, topk)
