"""Signature map stage: corpus rows → sketch columns, one Arrow pass.

Each batch computes, fully vectorized (no per-row Python):
 - sig: bottom-k KMV/Theta signature of caption char-k shingles
   (reference T1, theta/HeapQuickSelectSketch.java:233-261 semantics)
   in the 31-bit hash lane, packed as little-endian int32 bytes (one
   flat Arrow buffer per row; per-pair spurious-match probability
   ~k²/2³¹ ≈ 3e-5, far below the Jaccard estimator's own noise)
 - bands: LSH band keys = 32 caption bands (OPH MinHash b=32 r=8,
   non-negative int32) + 6 pHash block-pair keys (C(4,2) combinations
   of the four 16-bit blocks, strictly negative int32 — the sign bit IS
   the channel tag; any error pattern confined to <=2 blocks is
   guaranteed a candidate, covering all Hamming<=2)
 - simhash: 64-bit Charikar signature over caption tokens
 - n_shingles: exact distinct shingle count (exact while < k, per the
   Theta sketch's exact mode)

Rows are keyed by `id64 = xxhash64(image_id)` (computed JVM-side); all
downstream shuffles move only fixed-width integers. At 10^12 rows a
64-bit key needs a collision story — production uses the 128-bit
variant (two xxhash64 seeds); at bench scale P(collision) < 1e-8.

This is the only stage that reads captions/bytes; everything after it
moves only ids + fixed-size sketch columns across shuffles — at 100 TB
that is the difference between shuffling terabytes and gigabytes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, FROZEN
from ..kernels import kmv
from ..kernels.hashing import mix64, seed_mix
from ..kernels.minhash import band_hashes, oph_signature_matrix
from ..kernels.shingle import (
    _flatten_utf8,
    char_shingle_hashes_flat,
    normalize_captions,
    token_hashes_spacesep,
)
from ..kernels.simhash import simhash_batch

SIG_SCHEMA = (
    "id64 bigint, sig binary, bands array<int>, "
    "simhash bigint, phash bigint, n_shingles int, n_tokens int"
)


_BLOCK_PAIRS = ((0, 1), (2, 3), (0, 2), (1, 3), (0, 3), (1, 2))


def phash_band_keys(phash: np.ndarray, n_bands: int, seed: int) -> np.ndarray:
    """int32[n, 6] (all negative): one key per *pair* of 16-bit pHash blocks.

    Keys are the C(4,2)=6 two-block combinations of the four 16-bit
    blocks, so any error pattern confined to <= 2 blocks (covers all
    Hamming <= 2 and most realistic re-encode patterns, measured p99=4
    concentrated in low-order DCT bits) leaves the complementary pair
    intact — guaranteed detection. The mixed 32-bit key is forced
    negative (sign bit set) so caption and pHash bands share one
    exploded column without a separate channel flag. 31-bit key space
    keeps random/skew collisions ~n²/2^31 per key even on the
    correlated DCT-sign distribution of natural/synthetic images, where
    single 16-bit blocks measured 17M collision pairs on a 200k corpus.
    n_bands <= 0 disables the channel (text-only tables).
    """
    ph = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    if n_bands <= 0:
        return np.empty((len(ph), 0), dtype=np.int32)
    blocks = [(ph >> np.uint64(16 * i)) & np.uint64(0xFFFF) for i in range(4)]
    out = np.empty((len(ph), len(_BLOCK_PAIRS)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        s = seed_mix(seed + 7777)
        for idx, (i, j) in enumerate(_BLOCK_PAIRS):
            key = (blocks[i] << np.uint64(16)) | blocks[j]
            out[:, idx] = mix64(
                key ^ (np.uint64(idx) * np.uint64(0xD1B54A32D192ED03)) ^ s
            )
    # keep the top 31 mixed bits, set the sign bit → strictly negative
    return (
        (out >> np.uint64(33)).astype(np.int64) - np.int64(2**31)
    ).astype(np.int32)


def phash_mih_keys(phash: np.ndarray, seed: int) -> np.ndarray:
    """int32[n, 68] (all negative): multi-index-hashing keys — per
    16-bit block, the block value plus its 16 one-bit flips (Norouzi
    et al., "Fast Search in Hamming Space with Multi-Index Hashing",
    CVPR 2012). A block collides with certainty when its Hamming
    distance is <= 2: 0 errors → identical base keys; 1 error e →
    A's flip e meets B's base; 2 errors e1^e2 → A's flip e1 meets B's
    flip e2 (x ^ y = e has single-bit solutions). By pigeonhole over
    4 blocks, min-block-Hamming <= 2 holds for EVERY total Hamming
    <= 11 pattern, so the channel's verify threshold (Hamming <= 8,
    config.phash_max_hamming) is fully guaranteed — tested in
    tests/test_operators.py. Keys are mixed with the block index and
    sign-tagged negative like all image-channel keys."""
    ph = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    n = len(ph)
    out = np.empty((n, 4 * 17), dtype=np.uint64)
    with np.errstate(over="ignore"):
        s = seed_mix(seed + 990_001)
        col = 0
        for b in range(4):
            block = (ph >> np.uint64(16 * b)) & np.uint64(0xFFFF)
            for flip in range(17):
                v = block if flip == 0 else block ^ np.uint64(1 << (flip - 1))
                out[:, col] = mix64(
                    v
                    ^ (np.uint64(b) * np.uint64(0x9E3779B97F4A7C15))
                    ^ s
                )
                col += 1
    return (
        (out >> np.uint64(33)).astype(np.int64) - np.int64(2**31)
    ).astype(np.int32)


def _signature_batches(cfg: DedupConfig):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            norm = normalize_captions(pdf["caption"])
            # flatten once; the shingle and token paths share the buffer
            data, starts, slens = _flatten_utf8(norm)
            # 31-bit narrow lane: every downstream sort/sketch moves
            # half the bytes (see char_shingle_hashes docstring)
            h, rows = char_shingle_hashes_flat(
                data, starts, slens, cfg.shingle_k, cfg.seed, bits=31
            )

            flat, lens, n_shingles = kmv.bottom_k_flat(h, rows, n, cfg.kmv_k)
            # wire format: little-endian int32 bytes — Arrow moves one
            # flat buffer per row instead of a list column. One batch
            # tobytes + per-row buffer slices: a bytes slice is a bare
            # memcpy, vs per-row numpy astype+tobytes dispatch.
            buf = flat.astype("<i4", copy=False).tobytes()
            byte_ends = 4 * np.cumsum(lens)
            byte_starts = byte_ends - 4 * lens
            sig32 = [
                buf[a:b]
                for a, b in zip(byte_starts.tolist(), byte_ends.tolist())
            ]

            mat, nonempty = oph_signature_matrix(h, rows, n, cfg.minhash_n, cfg.seed)
            cap_bands = (
                band_hashes(mat, cfg.lsh_bands, cfg.lsh_rows, cfg.seed)
                >> np.int64(32)
            ).astype(np.int32)  # non-negative 31-bit keys
            if cfg.phash_bands > 0:
                ph_bands = phash_band_keys(
                    pdf["phash"].to_numpy(np.int64), cfg.phash_bands, cfg.seed
                )
                if cfg.phash_mih:
                    ph_bands = np.concatenate(
                        [ph_bands,
                         phash_mih_keys(pdf["phash"].to_numpy(np.int64), cfg.seed)],
                        axis=1,
                    )
            else:  # text-only tables: no image channel
                ph_bands = np.empty((n, 0), dtype=np.int32)

            th, trows = token_hashes_spacesep(data, starts, slens, cfg.seed)
            sh = simhash_batch(th, trows, n)
            n_tokens = (
                np.bincount(trows, minlength=n).astype(np.int32)
                if len(trows) else np.zeros(n, dtype=np.int32)
            )

            # one (n, 38) int32 matrix → per-row band lists; rows with
            # no shingles keep only their pHash keys (an empty caption
            # must not become an LSH wildcard)
            allb = np.concatenate([cap_bands, ph_bands], axis=1)
            if nonempty.all():  # common case: no per-row branch
                bands_col = list(allb)
            else:
                ph_only = ph_bands
                bands_col = [
                    allb[i] if nonempty[i] else ph_only[i] for i in range(n)
                ]
            yield pd.DataFrame(
                {
                    "id64": pdf["id64"].to_numpy(np.int64),
                    "sig": sig32,
                    "bands": bands_col,
                    "simhash": sh,
                    "phash": pdf["phash"].to_numpy(np.int64),
                    "n_shingles": n_shingles,
                    "n_tokens": n_tokens,
                }
            )

    return gen


def id_map(corpus: DataFrame, remap: DataFrame | None = None,
           key=None) -> DataFrame:
    """(id64, image_id) dimension for boundary remaps. Small relative to
    the corpus (two columns); broadcast below ~10M rows, bucketed join
    above. `remap`/`key` must match what compute_signatures used so the
    boundary join sees the same keys."""
    if key is None:
        key = F.xxhash64("image_id")
    base = corpus.select(key.alias("id64"), "image_id")
    if remap is None:
        return base
    return (
        base.join(
            F.broadcast(remap.withColumnRenamed("id64", "id64_r")),
            "image_id", "left",
        )
        .select(F.coalesce("id64_r", "id64").alias("id64"), "image_id")
    )


def build_id_remap(corpus: DataFrame, key=None) -> DataFrame:
    """The 128-bit quarantine lane promised by id_collision_audit:
    (image_id, id64) side-table re-keying the FEW image_ids whose
    64-bit key collides across distinct ids (expected ~27 rows at
    10^12 corpus rows — n²/2^65). Per colliding group the minimum
    image_id keeps its original key; every other member gets the
    second-seed tiebreak xxhash64(image_id || '#r1') — together with
    the first hash that is an effectively-128-bit keyspace, applied
    only where the first 64 bits failed, so the hot path still moves
    one int64 per row.

    The table is tiny by construction (collision members only):
    broadcast-joined wherever it is applied (apply_id_remap). Callers
    in production re-run id_collision_audit on the remapped keys once
    per ingest; tests assert the combined keyspace is collision-free
    under a deliberately narrow injected hash."""
    audit = id_collision_audit(corpus, key=key)
    members = audit.select(
        "id64", F.explode("image_ids").alias("image_id")
    )
    keep = members.groupBy("id64").agg(F.min("image_id").alias("keep_id"))
    return (
        members.join(keep, "id64")
        .filter(F.col("image_id") != F.col("keep_id"))
        .select(
            "image_id",
            F.xxhash64(F.concat(F.col("image_id"), F.lit("#r1"))).alias("id64"),
        )
    )


def apply_id_remap(df: DataFrame, remap: DataFrame | None, key=None):
    """id64 column expression/frame: df + id64 where id64 =
    remap.id64 for quarantined image_ids else key(image_id)."""
    if key is None:
        key = F.xxhash64("image_id")
    if remap is None:
        return df.withColumn("id64", key)
    return (
        df.join(
            F.broadcast(remap.withColumnRenamed("id64", "id64_r")),
            "image_id", "left",
        )
        .withColumn("id64", F.coalesce("id64_r", key))
        .drop("id64_r")
    )


def id_collision_audit(corpus: DataFrame, key=None) -> DataFrame:
    """Exact audit of the internal 64-bit key: rows whose id64 collides
    across DISTINCT image_ids (a birthday collision would silently
    merge two rows through the whole pipeline). Output:
    (id64, n_ids, image_ids) — empty means the run is collision-free.

    At 10^12 rows the expected number of 64-bit collisions is ~27
    (n²/2^65), so production runs this audit once per corpus ingest and
    quarantines colliding ids into a remap side-table (the '128-bit
    lane': those few ids get xxhash64(image_id || seed2) as a
    tiebreak); at bench tiers P(any collision) < 1e-8. The audit is a
    single groupBy on the slim (id64, image_id) projection — one
    shuffle of two fixed-width columns.

    `key` overrides the hash expression (tests inject a deliberately
    narrow hash to exercise the detection path)."""
    if key is None:
        key = F.xxhash64("image_id")
    return (
        corpus.select(key.alias("id64"), "image_id")
        .groupBy("id64")
        .agg(
            F.countDistinct("image_id").alias("n_ids"),
            F.collect_set("image_id").alias("image_ids"),
        )
        .filter(F.col("n_ids") > 1)
    )


def effective_cfg(corpus: DataFrame, cfg: DedupConfig) -> DedupConfig:
    """Disable the image channel when the corpus has no phash column:
    the old fabricated phash=0 gave every row identical pHash band
    keys — one corpus-sized hot band whose star pairs then verified at
    hamming 0 and merged the WHOLE corpus into a single cluster. A
    text-only table gets a text-only config automatically."""
    if "phash" not in corpus.columns and (
        cfg.phash_bands > 0 or cfg.phash_max_hamming >= 0
    ):
        from dataclasses import replace

        return replace(cfg, phash_bands=0, phash_max_hamming=-1)
    return cfg


def compute_signatures(corpus: DataFrame, cfg: DedupConfig = FROZEN,
                       remap: DataFrame | None = None, key=None) -> DataFrame:
    """corpus (input_hint schema) → signature table keyed by id64.

    Column pruning matters: select only what the kernel reads so the
    parquet scan never materializes `bytes` (check ReadSchema in
    .explain — the 100 TB of pixels stays on disk).

    `remap` (build_id_remap) re-keys quarantined colliding ids; `key`
    overrides the hash expression (tests inject a narrow hash)."""
    cfg = effective_cfg(corpus, cfg)
    cols = (
        ["image_id", "caption", "phash"] if "phash" in corpus.columns
        else ["image_id", "caption"]
    )
    keyed = apply_id_remap(corpus.select(*cols), remap, key)
    if "phash" in corpus.columns:
        # NULL phash would reach the kernel as NaN and cast to a SHARED
        # int64 garbage value (every null row band-colliding and
        # verifying at hamming 0 against every other null row); the
        # row's own id64 is a per-row-unique stand-in that never
        # systematically collides or matches.
        slim = keyed.select(
            "id64", "caption",
            F.coalesce(F.col("phash"), F.col("id64")).alias("phash"),
        )
    else:
        slim = keyed.select(
            "id64", "caption", F.lit(0).cast("bigint").alias("phash")
        )
    # Input splits follow file layout (maxPartitionBytes), which for a
    # byte-heavy corpus can mean 1-2 splits of the *projected* columns —
    # starving the CPU-bound kernel. Re-spread the slim projection (a
    # few MB of captions, never the pixels) across all cores.
    from ..session import plan_width

    par = plan_width(slim.sparkSession)
    out = slim.repartition(par).mapInPandas(_signature_batches(cfg), SIG_SCHEMA)
    # hash-partition the OUTPUT by id64: the verify stage joins this
    # table twice on id64 — with the cached layout already
    # hash-partitioned, both joins skip their signature-side Exchange
    # (one shuffle here saves two downstream; at web scale this is the
    # bucketed-table layout). mapInPandas can't advertise its input
    # partitioning, hence the explicit repartition after it.
    return out.repartition(par, "id64")


def explode_bands(signatures: DataFrame) -> DataFrame:
    """(id64, band_key) — one row per LSH band. The key's sign encodes
    the channel (>=0 caption MinHash, <0 pHash block pair), so one
    explode serves both channels with no flag column."""
    return signatures.select("id64", F.explode("bands").alias("band_key"))
