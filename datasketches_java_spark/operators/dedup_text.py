"""SimHash and exact-substring near-dup pair operators over a text
column.

These are the two dedup variants from the pipeline brief that had no
first-class oracle-checked face: the corpus pipeline uses SimHash as a
candidate *channel* (operators/signatures.py, kernels/simhash.py) and
rolling-hash fingerprints for containment, but neither was exposed as
a standalone, deterministically-verifiable operator over an arbitrary
documents table. Both faces here are pure JVM column programs — no
Python in the hot path, whole-stage codegen end to end.

SimHash grounding: Charikar, "Similarity estimation techniques from
rounding algorithms" (STOC 2002). Not present in the reference
(SURVEY.md §2a note); the Hamming-pair face mirrors the reference's
Jaccard-pair use case (theta/JaccardSimilarity.java:57-98) on the
angular-distance channel.

Determinism contract (what makes the DuckDB oracle possible): the
per-token hash is the first 15 hex chars of md5(token) — a 60-bit
integer both engines derive identically from the same UTF-8 bytes —
and the signature bit rule is strictly-positive vote sum. No seeds,
no engine-private hash.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SIMHASH_BITS = 60

# 60-bit SimHash over the DISTINCT whitespace tokens of lower(text).
# Bit b votes +1 when bit b of the token's 60-bit md5-prefix hash is
# set, else -1; signature bit b is 1 iff the vote sum is > 0 (ties ->
# 0). Everything below is Catalyst built-ins: the shift amounts are
# lambda variables, which the SQL ShiftRight/ShiftLeft expressions
# accept (the Python F.shiftright wrapper only takes literals).
_SIG_TEMPLATE = """
aggregate(
  transform(
    array_distinct(split(trim(lower({text})), '\\\\s+')),
    t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)),
  array_repeat(cast(0 as int), 60),
  (acc, h) -> zip_with(acc, sequence(0, 59),
                       (v, b) -> v + cast(shiftright(h, b) % 2 as int) * 2 - 1),
  acc -> aggregate(
    zip_with(acc, sequence(0, 59),
             (v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b),
                          cast(0 as bigint))),
    cast(0 as bigint), (s, x) -> s + x))
"""


def simhash60(text_sql: str = "text") -> F.Column:
    """60-bit SimHash signature column over a text column/expression
    (SQL fragment, e.g. a column name)."""
    return F.expr(_SIG_TEMPLATE.format(text=text_sql))


def simhash60_sigs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig) SimHash signatures in COLUMNAR form — semantically
    identical to simhash60 (same tokens, same md5-prefix hash, same
    strictly-positive vote rule; asserted equal against the per-row
    fold in tests/test_dedup_text.py).

    Plan (round 6): tokenization stays a Catalyst expression (split /
    trim / lower — the engine-neutral token contract), but the md5
    votes run as ONE Arrow map pass (guide §4.2): the former 60-column
    SUM aggregate exceeded the whole-stage-codegen field limit and
    executed interpreted (measured 0.81s of a 0.86s stage at sf0.1 for
    just 116k token rows), and its groupBy exchange disappears
    entirely — a doc's token array is already one row. Per batch the
    kernel md5-hashes the DISTINCT tokens only (np.unique over the
    flattened batch vocabulary), unpacks the 60 hash bits, and
    segment-sums votes per doc with np.add.reduceat. NULL text yields
    no output row, exactly like the exploded groupBy it replaces."""
    from ..session import plan_width

    id_type = dict(df.dtypes)[id_col]
    # Re-spread the slim (id, tokens) projection across all cores —
    # a single-file table otherwise runs the whole map stage on one
    # task (guide §2.5; ssjoin/compute_signatures precedent).
    toks_arr = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("__ts"),
    ).repartition(plan_width(df.sparkSession))

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :]

    def gen(batches):
        import hashlib

        for pdf in batches:
            lists = pdf["__ts"].to_numpy()
            keep = np.array([x is not None for x in lists], dtype=bool)
            if not keep.any():
                continue
            ids = pdf["id"].to_numpy()[keep]
            lists = lists[keep]
            lens = np.fromiter(
                (len(x) for x in lists), np.int64, len(lists)
            )
            flat = np.concatenate(lists)
            uniq, inv = np.unique(flat, return_inverse=True)
            hv = np.empty(len(uniq), np.uint64)
            md5 = hashlib.md5
            for i, t in enumerate(uniq):
                # first 15 hex chars of md5 == high 60 bits of digest
                hv[i] = int.from_bytes(
                    md5(t.encode("utf-8")).digest()[:8], "big"
                ) >> 4
            h = hv[inv]
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            starts = np.zeros(len(lens), np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            s = np.add.reduceat(bits, starts, axis=0)  # (docs, 60)
            # vote sum > 0  <=>  2·(set-bit count) > n_tokens
            sigbits = (2 * s) > lens[:, None]
            sig = (
                sigbits.astype(np.uint64) << shifts
            ).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"id": ids, "sig": sig})

    return toks_arr.mapInPandas(gen, f"id {id_type}, sig bigint")


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= max_hamming —
    EXACT, not approximate: the signature is split into
    (max_hamming + 1) disjoint bands, and by pigeonhole any pair
    within the Hamming budget agrees on at least one whole band, so
    the banded self-join is a lossless candidate generator; the
    bit_count(xor) filter then makes the result the exact pair set.
    (Same block-pigeonhole scheme as the corpus pHash channel,
    operators/signatures.py; Norouzi et al., "Multi-Index Hashing",
    CVPR 2012.)

    Returns (id_a, id_b, hamming) with id_a < id_b.

    Scale shape: one hash-shuffle on the int64 band key; rows are
    (id int64, sig int64, bk int64) — fixed-width, no strings move.
    Hot bands (e.g. a sea of empty docs all hashing to signature 0)
    degrade O(g^2) like any LSH bucket; production corpora go through
    the capped pipeline lane (operators/lsh.py:96-115 hot-group
    policy). 60/(d+1) must be a whole band width.
    """
    n_bands = max_hamming + 1
    if SIMHASH_BITS % n_bands:
        raise ValueError(f"max_hamming+1={n_bands} must divide {SIMHASH_BITS}")
    w = SIMHASH_BITS // n_bands
    sig = simhash60_sigs(df, id_col, text_col)
    bands = sig.selectExpr(
        "id",
        "sig",
        f"explode(transform(sequence(0, {n_bands - 1}), "
        f"  b -> cast(b as bigint) * {1 << w} + shiftright(sig, b * {w}) % {1 << w}"
        f")) AS bk",
    )
    a = bands.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "bk"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "bk"
    )
    return (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("cast(bit_count(sig_a ^ sig_b) as int)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 24,
) -> DataFrame:
    """Pairs of documents sharing at least one exact common substring
    of length `min_len`, with the count of distinct shared windows —
    the suffix-array/containment dedup variant (verbatim boilerplate,
    quoted spans, injected templates) expressed as a window self-join.

    Returns (id_a, id_b, n_shared) with id_a < id_b; n_shared counts
    DISTINCT length-`min_len` windows the two documents share.

    Plan (round 6, the int64-keyed form the round-5 docstring
    promised): pass A explodes each document's distinct windows as
    xxhash64 keys — the big shuffle moves (int64, int64) rows only,
    never 24-char strings — and groups them to find CANDIDATE docs
    (any window shared by >=2 docs). Collisions only add candidates,
    never lose one. Pass B re-runs the original exact string-keyed
    group/pair-decode plan restricted to candidate docs (a broadcast
    semi-join; candidates are a tiny fraction of the corpus), so the
    result is exact by construction (the group key IS the substring)
    while the corpus-sized exchange is fixed-width. Scale shape:
    window count is O(total chars); the string pass is O(candidate
    chars) only.
    """
    from ..session import plan_width

    par = plan_width(df.sparkSession)
    base = (
        df.filter(F.length(text_col) >= min_len)
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        # re-spread the slim projection before the O(chars·L) window
        # explode — a single-file table otherwise generates every
        # window on one task (guide §2.5; ssjoin precedent)
        .repartition(par)
    )

    def _windows(value_expr: str, alias: str):
        return base.selectExpr(
            "id",
            f"explode(array_distinct(transform("
            f"  sequence(1, length(__t) - {min_len - 1}),"
            f"  i -> {value_expr}))) AS {alias}",
        )

    # Pass A — candidate discovery on an INT64-only exchange (guide
    # §2.3 "shuffle keys instead of payloads"): windows travel as
    # xxhash64 keys, not 24-char strings. Hash collisions can only ADD
    # candidate docs (a shared true window always lands both docs in
    # one group), so the pass is a lossless candidate generator; the
    # exact string pass below restores exactness regardless.
    cand = (
        _windows(f"xxhash64(substring(__t, i, {min_len}))", "h")
        .groupBy("h")
        .agg(F.collect_set("id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id"))
        .distinct()
    )

    # Pass B — the original exact string-keyed plan, restricted to the
    # candidate docs (the group key IS the substring, so equality-
    # verify comes free and the result is exact by construction). The
    # candidate set has no size bound, so AQE's runtime size check, not
    # a hint, decides whether it is broadcast.
    subs = (
        base.join(cand, "id")
        .selectExpr(
            "id",
            f"explode(array_distinct(transform("
            f"  sequence(1, length(__t) - {min_len - 1}),"
            f"  i -> substring(__t, i, {min_len})))) AS sub",
        )
    )
    groups = (
        subs.groupBy("sub")
        .agg(F.collect_set("id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select("ids")
    )
    pairs = (
        groups.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").cast("bigint").alias("n_shared")
    )
