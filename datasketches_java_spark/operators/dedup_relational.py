"""Relational dedup operators over text tables — pure DataFrame ops.

Exact dedup is a hash groupBy; n-gram Jaccard dedup is the exact
similarity self-join (shingle postings → pair intersection counts →
integer threshold test), the relational twin of the sketch pipeline.
At 100 TB the exact join is only viable after the LSH prefilter; here
it doubles as the oracle-checkable query (thresholds compare as exact
integers: t=p/q ⇒ q·|A∩B| >= p·|A∪B|, no float divergence).
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_shingles
from ..scope import own

# 16-bit popcount lookup (numpy 1.26 has no bitwise_count)
_POP16 = np.array(
    [bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8
)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: canonical (min) id, dup count, md5."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
        .select("canonical_id", "dup_count", "text_md5")
    )


def ssjoin_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, threshold: float = 0.8,
    normalized: bool = False,
) -> DataFrame:
    """Exact prefix-filtered similarity self-join (PPJoin family: Xiao
    et al. WWW 2008) — all pairs with char-k shingle Jaccard >=
    threshold, scalable: candidates come only from each document's
    (1-t)|x|+1 globally-rarest shingles (lossless prefix lemma) with
    the length filter t·|b| <= |a|, so hot shingles never join.

    Everything stays JVM-side (substring/xxhash64/window), no Python.
    Output: (id_a, id_b, intersect_ct, union_ct, jaccard_exact).

    EAGER-EXECUTION CONTRACT: this operator runs Spark jobs at
    plan-construction time (postings stats + the bitmap collect when
    the broadcast plan is chosen) and leaves the postings frame
    persisted (and, on the broadcast plan, the bitmap broadcast) alive
    for the returned DataFrame to consume. Both belong to the innermost
    open `RunScope` (scope.py): materialize the result before that
    scope closes, or it recomputes uncached. Outside any scope they
    stay until `spark.catalog.clearCache()` and the ContextCleaner
    free them.
    """
    from ..operators.rescore import exact_rescore_pairs

    t = threshold
    text = F.col(text_col)
    if not normalized:
        text = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    id_type = dict(df.dtypes)[id_col]
    # narrow projection respread across all cores BEFORE the explode:
    # small doc tables arrive as 1-2 input splits and the O(len·k)
    # shingle expansion would run serially (same pattern as
    # operators/signatures.py compute_signatures)
    par = df.sparkSession.sparkContext.defaultParallelism
    ndocs = df.select(
        F.col(id_col).alias("id"), text.alias("txt")
    ).repartition(par)
    sh = ndocs.select(
        "id", F.explode(char_shingles(F.col("txt"), k)).alias("s")
    ).select("id", F.xxhash64("s").alias("sh"))

    # cheap pull-budget estimate WITHOUT exploding: total text chars is
    # an upper bound on postings (one shingle per character position)
    est = ndocs.agg(
        F.count("*").alias("docs"), F.sum(F.length("txt")).alias("chars")
    ).collect()[0]
    n_docs_est, est_post = est["docs"] or 0, est["chars"] or 0
    id_bytes = 8 if id_type in ("bigint", "int") else 64
    pull_ok = 0 < est_post * (8 + id_bytes) <= _PULL_BUDGET_BYTES

    bm = None
    if pull_ok:
        # ONE distributed explode pass straight to the driver (no
        # persist, no separate stats pass — the pre-estimate above
        # already bounded the pull)
        bm = _collect_doc_bitmaps(sh)
        if bm is not None and _dense_dict_allpairs_fits(bm):
            # DENSE-DICTIONARY DEGENERATION: when the global distinct-
            # shingle dictionary is tiny relative to the postings (the
            # fixture corpus: 2k shingles over 1M postings), the prefix
            # lemma stops pruning — almost every pair shares a "rare"
            # shingle and the candidate self-join explodes (measured
            # 2.95M candidates / 8.7s of a 9.5s query at sf0.1). The
            # exact intersection of ALL pairs is then cheaper as one
            # blocked BLAS matmul over the binary doc×shingle matrix
            # (results identical; budget-gated, the distributed prefix
            # join below remains the big-dictionary path).
            return _allpairs_bitmap(df.sparkSession, bm, t, id_type)

    # the postings frame fans out to three plan references (freq, the
    # ranked join); Catalyst does not CSE across DataFrame reuse, so
    # without a persist the explode+hash of every shingle recomputes
    # per reference (the round-2 bench's worst query at 168s). At web
    # scale this is a checkpointed stage.
    sh = own(sh.persist())

    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    from pyspark.sql import Window

    w_rank = Window.partitionBy("id").orderBy("f", "sh")
    w_sz = Window.partitionBy("id")
    ranked = (
        sh.join(freq, "sh")
        .withColumn("pos", F.row_number().over(w_rank))
        .withColumn("sz", F.count("*").over(w_sz))
    )
    pref = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select("id", "sh", "sz")

    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(b, "sh")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") >= t * F.col("b.sz"))
            & (F.col("b.sz") >= t * F.col("a.sz"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # verification: exact distinct-shingle intersection per candidate
    # pair. Two plans, picked by dimension size (the broadcast-vs-
    # shuffle decision Catalyst makes for joins, applied to the verify
    # kernel):
    #  - broadcast bitmaps (default here): one driver pass builds a
    #    per-doc bitset over the global distinct-shingle dictionary;
    #    workers verify a pair with AND + popcount — O(pairs · D/64)
    #    word ops, no posting-level join, no re-hashing of text. (The
    #    previous posting-join verification shuffled |pairs|·|doc|
    #    rows: 1.5e9 intermediates / 74s on the sf0.1 template corpus,
    #    where 1M postings share only ~2k distinct shingles.)
    #  - shuffled rescore (fallback when the bitmap matrix would
    #    exceed the broadcast budget): exact_rescore_pairs re-shingles
    #    the texts per pair (operators/rescore.py) — O(pairs) rows
    #    moved, scales to corpora whose docs can't sit on the driver.
    if bm is not None:
        return _verify_pairs_bitmap(cand, bm, t, id_type)
    #    char_mode: the fallback must score the SAME char-window
    #    shingles the candidate generator and oracle use (byte windows
    #    diverge on non-ASCII text and drop empty docs)
    return exact_rescore_pairs(
        cand, ndocs, "id", "txt", k, t,
        normalize=False, id_type=id_type, broadcast_docs=True,
        char_mode=True,
    )


_BITMAP_BUDGET_BYTES = 256 << 20  # broadcast cap for the bitset matrix
_PULL_BUDGET_BYTES = 512 << 20    # driver heap cap for the postings pull


def _collect_doc_bitmaps(sh: DataFrame):
    """(id, sh) postings → (sorted ids, bitset matrix, set sizes) on
    the driver, or None when the bitset matrix is over the broadcast
    budget. The caller bounds the postings pull BEFORE this runs (the
    chars-sum pre-estimate in ssjoin_jaccard_pairs), so this is one
    distributed explode pass straight to the driver."""
    pdf = sh.toPandas()
    if len(pdf) == 0:
        return None
    ids = pdf["id"].to_numpy()
    hs = pdf["sh"].to_numpy(np.int64)
    D = np.unique(hs)
    n_docs = pdf["id"].nunique()
    words = (len(D) + 63) // 64
    if n_docs * words * 8 > _BITMAP_BUDGET_BYTES:
        return None
    order = np.argsort(ids, kind="stable")
    ids_s, hs_s = ids[order], hs[order]
    uids, starts = np.unique(ids_s, return_index=True)
    counts = np.diff(np.append(starts, len(ids_s)))
    pos = np.searchsorted(D, hs_s)
    rows = np.repeat(np.arange(len(uids), dtype=np.int64), counts)
    B = np.zeros((len(uids), words), dtype=np.uint64)
    np.bitwise_or.at(
        B.reshape(-1),
        rows * words + (pos >> 6),
        np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)),
    )
    # distinct set size per doc = popcount of the row
    nset = _POP16[B.view(np.uint16)].reshape(len(uids), -1).sum(
        axis=1, dtype=np.int64
    )
    return uids, B, nset


_DENSE_DICT_MAX = 4096        # dictionary size where the dense path wins
_ALLPAIRS_BUDGET = 512 << 20  # bytes for the n² score tiles


def _dense_dict_allpairs_fits(bm) -> bool:
    uids, B, nset = bm
    n, words = B.shape
    return words * 64 <= _DENSE_DICT_MAX and n * n * 4 <= _ALLPAIRS_BUDGET


def _allpairs_bitmap(spark, bm, threshold: float, id_type: str) -> DataFrame:
    """Exact all-pairs shingle-set Jaccard from the doc bitsets via
    blocked float32 matmul (intersections are exact integers < 2^24).
    O(n²·dict) flops through BLAS — for a 5k-doc / 2k-shingle corpus
    that is ~50 GFLOPs, far cheaper than shuffling millions of
    degenerate prefix candidates.

    DRIVER-SIDE BY DESIGN, and bounded out of any 100x plan:
    `_dense_dict_allpairs_fits` admits only corpora whose whole score
    matrix fits in _ALLPAIRS_BUDGET (n ≲ 11.5k docs) AND whose
    dictionary is degenerate-small (≤ _DENSE_DICT_MAX distinct
    shingles) — the adversarial regime where prefix filtering
    generates ~n² candidates anyway. Anything larger takes the
    distributed prefix join / shuffled `exact_rescore_pairs` path, so
    scale-up never routes more work to the driver."""
    uids, B, nset = bm
    n, words = B.shape
    # binary doc × shingle matrix from the packed bitsets
    bits = np.unpackbits(
        B.view(np.uint8).reshape(n, words * 8), axis=1, bitorder="little"
    ).astype(np.float32)
    out_a, out_b, out_i = [], [], []
    # block rows so the (step, n) float32 score tile fits the budget:
    # step·n·4 ≤ budget. The previous formula also divided by the
    # dictionary width, yielding 6-row blocks at the sf0.1 shape —
    # 834 tiny threaded GEMM calls whose per-call thread sync
    # dominated (measured 17.5 s under ambient load vs 0.4 s for the
    # same flops as one 5000×5000 GEMM); block size only partitions
    # the computation, every pair's scores are unchanged.
    step = max(1, (_ALLPAIRS_BUDGET // 4) // max(n, 1))
    for s in range(0, n, step):
        blk = bits[s:s + step] @ bits.T  # (b, n) exact intersections
        ii, jj = np.nonzero(blk >= 1.0)
        jj_ok = jj > (ii + s)  # upper triangle only
        ii, jj = ii[jj_ok], jj[jj_ok]
        inter = blk[ii, jj].astype(np.int64)
        uni = nset[ii + s] + nset[jj] - inter
        # division form, same float semantics as _verify_pairs_bitmap
        # (a multiply form can flip exact-boundary pairs by one ulp)
        keep = (inter / np.maximum(uni, 1)) >= threshold
        out_a.append(ii[keep] + s)
        out_b.append(jj[keep])
        out_i.append(inter[keep])
    ia = np.concatenate(out_a) if out_a else np.empty(0, np.int64)
    ib = np.concatenate(out_b) if out_b else np.empty(0, np.int64)
    inter = np.concatenate(out_i) if out_i else np.empty(0, np.int64)
    uni = (nset[ia] + nset[ib] - inter) if len(ia) else np.empty(0, np.int64)
    pdf = pd.DataFrame(
        {
            "id_a": uids[ia],
            "id_b": uids[ib],
            "intersect_ct": inter,
            "union_ct": uni,
            "jaccard_exact": inter / np.maximum(uni, 1),
        }
    )
    schema = (
        f"id_a {id_type}, id_b {id_type}, intersect_ct bigint, "
        "union_ct bigint, jaccard_exact double"
    )
    return spark.createDataFrame(pdf, schema=schema)


def _verify_pairs_bitmap(cand: DataFrame, bm, threshold: float, id_type: str) -> DataFrame:
    """Exact Jaccard per candidate pair from broadcast bitsets."""
    uids, B, nset = bm
    bc = own(cand.sparkSession.sparkContext.broadcast((uids, B, nset)))
    schema = (
        f"id_a {id_type}, id_b {id_type}, intersect_ct bigint, "
        "union_ct bigint, jaccard_exact double"
    )

    def gen(batches):
        u, bmat, ns = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = np.searchsorted(u, pdf["id_a"].to_numpy())
            ib = np.searchsorted(u, pdf["id_b"].to_numpy())
            inter = _POP16[(bmat[ia] & bmat[ib]).view(np.uint16)].reshape(
                len(pdf), -1
            ).sum(axis=1, dtype=np.int64)
            na, nb = ns[ia], ns[ib]
            uni = na + nb - inter
            with np.errstate(invalid="ignore", divide="ignore"):
                j = np.where(uni > 0, inter / np.maximum(uni, 1), 0.0)
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "intersect_ct": inter,
                    "union_ct": uni,
                    "jaccard_exact": j,
                }
            )
            yield out[out["jaccard_exact"] >= threshold]

    return cand.mapInPandas(gen, schema)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, threshold: float = 0.8
) -> DataFrame:
    """All id pairs with exact char-k shingle Jaccard >= threshold.

    Output: (id_a, id_b, intersect_ct, union_ct) — integers only, with
    the threshold applied as an exact integer cross-multiplication.
    Implemented on the prefix-filtered SSJoin (the naive full postings
    self-join measured 676s on 5k template docs — hot shingles join
    quadratically; the prefix filter is lossless, results identical).
    """
    frac = Fraction(threshold).limit_denominator(1000)
    p, q = frac.numerator, frac.denominator
    pairs = ssjoin_jaccard_pairs(
        df, id_col, text_col, k, threshold, normalized=True
    )
    # re-apply the threshold as exact integer math (ssjoin uses float)
    return pairs.filter(
        F.lit(q) * F.col("intersect_ct") >= F.lit(p) * F.col("union_ct")
    ).select("id_a", "id_b", "intersect_ct", "union_ct")
