"""Operator tests: relational dedup, similarity, sketch UDAFs,
multimodal plumbing, audits — all against exact oracles computed
in pandas/DuckDB at small scale."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, smoke_sf_dir):
    return spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")


def test_exact_dedup_groups(spark):
    from datasketches_java_spark.operators.dedup_relational import exact_dedup_groups

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "id bigint, t string"
    )
    out = {r.text_md5: (r.canonical_id, r.dup_count)
           for r in exact_dedup_groups(df, "id", "t").collect()}
    assert len(out) == 2
    assert (1, 3) in out.values() and (2, 1) in out.values()


def test_ngram_jaccard_matches_python(spark, docs):
    from datasketches_java_spark.operators.dedup_relational import ngram_jaccard_pairs

    got = ngram_jaccard_pairs(docs, "doc_id", "text", 5, 0.5).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()

    def sset(t):
        return {t[i:i + 5] for i in range(max(1, len(t) - 4))}

    expect = set()
    sets = {r.doc_id: sset(r.text) for r in pdf.itertuples()}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and 2 * inter >= union:  # J >= 0.5
                expect.add((a, b))
    assert set(zip(got["id_a"], got["id_b"])) == expect


def test_kmv_distinct_agg_accuracy(spark, docs):
    """Estimate within binomial bounds and near-exact when unsaturated
    (the Theta sketch's exact mode below k)."""
    from datasketches_java_spark.functions.sketch_udfs import kmv_distinct_agg

    out = kmv_distinct_agg(docs, "source", "text", k=4096).toPandas()
    exact = (
        docs.groupBy("source").agg(F.countDistinct("text").alias("n")).toPandas()
        .set_index("source")["n"]
    )
    for r in out.itertuples():
        true = exact[getattr(r, "source")]
        assert r.distinct_lb <= true <= r.distinct_ub
        if r.retained < 4096:
            assert r.distinct_est == true  # exact mode


def test_kmv_sketch_bytes_merge(spark, docs):
    """Per-source images union (Spark's theta_union_agg) to the image of
    all texts; the finisher reads it."""
    from datasketches_java_spark.functions.sketch_udfs import kmv_sketch_bytes_agg
    from datasketches_java_spark.kernels.theta_compat import estimate_bounds

    sk = kmv_sketch_bytes_agg(docs, "source", "text", k=4096)
    merged = sk.agg(F.theta_union_agg("sketch", 12)).collect()[0][0]
    est, lb, ub, _ = estimate_bounds(bytes(merged), 2)
    true = docs.select("text").distinct().count()
    assert lb <= true <= ub
    assert est == true  # unsaturated at smoke scale


def test_embedding_topk_matches_numpy(spark, smoke_sf_dir):
    from datasketches_java_spark.operators.similarity import brute_force_topk_cosine

    emb = spark.read.parquet(f"{smoke_sf_dir}/embeddings.parquet")
    got = brute_force_topk_cosine(emb, "vec_id", "embedding", 3).toPandas()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    for qi in range(min(20, len(ids))):
        order = np.lexsort((ids, -sims[qi]))[:3]
        expect = set(ids[order])
        mine = set(got[got["vec_id"] == ids[qi]]["neighbor_id"])
        assert mine == expect, (ids[qi], mine, expect)


def test_lsh_topk_recall(spark, smoke_sf_dir):
    """Bucketed ANN recall vs brute force (same-label vectors cluster)."""
    from datasketches_java_spark.operators.similarity import (
        brute_force_topk_cosine,
        lsh_topk_cosine,
    )

    emb = spark.read.parquet(f"{smoke_sf_dir}/embeddings.parquet")
    bf = brute_force_topk_cosine(emb, "vec_id", "embedding", 1).toPandas()
    ann = lsh_topk_cosine(emb, "vec_id", "embedding", 1, n_planes=4).toPandas()
    merged = bf.merge(ann, on="vec_id", suffixes=("_bf", "_ann"))
    recall = (merged["neighbor_id_bf"] == merged["neighbor_id_ann"]).mean()
    assert recall >= 0.5, recall  # 4 planes, top-1: generous floor


def test_multimodal_decode_features(spark, smoke_sf_dir):
    from datasketches_java_spark.operators.multimodal import decode_features
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir).limit(200)
    out = decode_features(corpus).toPandas()
    assert out["decode_ok"].all()
    src = corpus.select("image_id", "phash", "w", "h").toPandas().set_index("image_id")
    for r in out.itertuples():
        assert r.phash_check == src.loc[r.image_id, "phash"]  # stored == recomputed
        assert r.w == src.loc[r.image_id, "w"]


def test_multimodal_decode_stub_for_foreign_format(spark):
    from datasketches_java_spark.operators.multimodal import decode_features

    df = spark.createDataFrame(
        [("x", bytearray(b"\x89PNG\r\n\x1a\n1234"))], "image_id string, bytes binary"
    )
    out = decode_features(df).toPandas()
    assert not out["decode_ok"].any()


def test_multimodal_resize(spark, smoke_sf_dir):
    from datasketches_java_spark.corpus import codec
    from datasketches_java_spark.operators.multimodal import resize_thumbnails
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir).limit(50)
    out = resize_thumbnails(corpus, max_side=16).toPandas()
    # ceil-div stride: the documented bound holds exactly
    assert (out["tw"] <= 16).all() and (out["th"] <= 16).all()
    img, _ = codec.decode(bytes(out.iloc[0]["thumb"]))
    assert img.shape[0] == out.iloc[0]["th"]


def test_psnr_pairs_invariant(spark, smoke_sf_dir):
    """Per-row invariant (BASELINE.json:16): same-pixel variants in
    golden pairs decode within PSNR >= 40 dB."""
    from datasketches_java_spark.operators.multimodal import psnr_pairs
    from datasketches_java_spark.sources import tables

    corpus = tables.load_corpus(spark, smoke_sf_dir)
    golden = tables.load_golden(spark, smoke_sf_dir, "golden_pairs").limit(300)
    out = psnr_pairs(golden.select("id_a", "id_b"), corpus).toPandas()
    same = out[out["same_dims"]]
    assert len(same) > 50
    assert (same["psnr"] >= 40.0).all()


def test_id_collision_audit(spark):
    """Audit detects colliding internal keys (injected via a narrow
    hash); the real xxhash64 lane is collision-free at test tiers."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datasketches_java_spark.operators.signatures import id_collision_audit

    docs = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"img{i:05d}" for i in range(500)]})
    )
    # narrow 3-bit key → guaranteed collisions, detection must fire
    narrow = id_collision_audit(docs, key=F.pmod(F.xxhash64("image_id"), F.lit(8)))
    rows = narrow.collect()
    assert len(rows) == 8 and all(r.n_ids > 1 for r in rows)
    # true 64-bit lane: no collisions at this tier
    assert id_collision_audit(docs).count() == 0


def test_phash_mih_keys_guarantee():
    """Exhaustive-ish check of the MIH collision guarantee: every
    total-Hamming <= 11 pattern has a block with <= 2 errors and thus
    a shared key; random Hamming <= 8 patterns always collide."""
    import numpy as np

    from datasketches_java_spark.operators.signatures import phash_mih_keys

    rng = np.random.default_rng(0)
    base = rng.integers(-(2**62), 2**62, size=1, dtype=np.int64)
    kb = set(phash_mih_keys(base, 9001)[0].tolist())
    for trial in range(300):
        h = int(rng.integers(1, 9))  # Hamming 1..8
        bits = rng.choice(64, size=h, replace=False)
        other = base.view(np.uint64)[0]
        for b in bits:
            other = other ^ (np.uint64(1) << np.uint64(b))
        ko = set(phash_mih_keys(other.reshape(1).view(np.int64), 9001)[0].tolist())
        assert kb & ko, f"no shared key at hamming {h} bits {bits}"
    # hamming 12 spread 3/block CAN miss (min block = 3) — not guaranteed
    other = base.view(np.uint64)[0]
    for blk in range(4):
        for j in (0, 5, 10):
            other = other ^ (np.uint64(1) << np.uint64(16 * blk + j))
    ko = set(phash_mih_keys(other.reshape(1).view(np.int64), 9001)[0].tolist())
    assert not (kb & ko)  # documents the boundary of the guarantee


def test_phash_mih_pipeline_candidates(spark):
    """End-to-end image channel with phash_mih on: pairs at Hamming
    3-8 (including the 2+2+2+2 spread the block-pair keys cannot see)
    become LSH candidates; with mih off the spread-8 pair is missed."""
    import pandas as pd
    import numpy as np
    from pyspark.sql import functions as F

    from datasketches_java_spark.config import DedupConfig
    from datasketches_java_spark.operators.lsh import candidate_pairs
    from datasketches_java_spark.operators.signatures import (
        compute_signatures, explode_bands,
    )

    rng = np.random.default_rng(7)
    words = ["alpha","bravo","charlie","delta","echo","foxtrot","golf",
             "hotel","india","juliet","kilo","lima","mike","november"]
    rows = []
    base_hashes = rng.integers(-(2**62), 2**62, size=40, dtype=np.int64)
    planted = []
    for i, bh in enumerate(base_hashes):
        cap_a = " ".join(rng.choice(words, 12))
        rows.append((f"img{i:04d}a", cap_a, int(bh)))
        if i < 6:
            # hamming patterns: 3,4,..,8 with the last spread 2/block
            if i == 5:
                flip = 0x0003_0003_0003_0003  # 2+2+2+2 = 8
            else:
                flip = (1 << (3 + i)) - 1     # 3..7 bits in block 0
            other = np.int64(np.uint64(bh) ^ np.uint64(flip))
            cap_b = " ".join(rng.choice(words, 12))
            rows.append((f"img{i:04d}b", cap_b, int(other)))
            planted.append((f"img{i:04d}a", f"img{i:04d}b"))
    pdf = pd.DataFrame(rows, columns=["image_id", "caption", "phash"])
    corpus = spark.createDataFrame(pdf)

    def cands(cfg):
        sig = compute_signatures(corpus, cfg)
        pairs = candidate_pairs(explode_bands(sig), cfg)
        idm = corpus.select(
            F.xxhash64("image_id").alias("id64"), "image_id"
        )
        a = idm.select(F.col("id64").alias("id_a"), F.col("image_id").alias("na"))
        b = idm.select(F.col("id64").alias("id_b"), F.col("image_id").alias("nb"))
        out = pairs.join(a, "id_a").join(b, "id_b").select("na", "nb").collect()
        return {tuple(sorted((r.na, r.nb))) for r in out}

    with_mih = cands(DedupConfig(phash_mih=True))
    for p in planted:
        assert tuple(sorted(p)) in with_mih, f"missed {p} with MIH on"
    without = cands(DedupConfig(phash_mih=False))
    assert tuple(sorted(planted[5])) not in without  # spread-8 invisible to block pairs


def test_ivf_topk_recall(spark, smoke_sf_dir):
    """IVF-flat contracts: probing EVERY cell is exhaustive (recall
    1.0 vs the exact ranking by construction); a partial probe keeps
    deterministic recall above the fixture floor."""
    import numpy as np

    from datasketches_java_spark.operators.similarity import (
        brute_force_topk_cosine, ivf_topk_cosine,
    )

    emb = spark.read.parquet(f"{smoke_sf_dir}/embeddings.parquet")
    n = emb.count()
    exact = brute_force_topk_cosine(emb, "vec_id", "embedding", 3).toPandas()
    full = ivf_topk_cosine(
        emb, "vec_id", "embedding", 3, n_cells=8, n_probe=8
    ).toPandas()
    e = set(zip(exact.vec_id, exact.neighbor_id))
    f = set(zip(full.vec_id, full.neighbor_id))
    assert e == f  # all-cells probe == exhaustive search

    part = ivf_topk_cosine(
        emb, "vec_id", "embedding", 3, n_cells=8, n_probe=3
    ).toPandas()
    p = set(zip(part.vec_id, part.neighbor_id))
    recall = len(e & p) / len(e)
    assert recall >= 0.5, recall  # deterministic fixture floor
    # structural contracts
    assert (part.vec_id != part.neighbor_id).all()
    assert part.groupby("vec_id")["rank"].apply(
        lambda s: sorted(s) == list(range(1, len(s) + 1))
    ).all()


def test_lsh_bucket_join_bounded_on_skew(spark):
    """Round-4 verdict #2: the ANN per-bucket self-join must be O(g·cap),
    not O(g²), under adversarial skew. Fixture: 200 IDENTICAL vectors —
    every table hashes them all into ONE bucket. With bucket_cap=8 the
    candidate pair count must be ≤ n·cap (each query sees at most the
    cap'd neighbor set, the same deterministic members in every table);
    uncapped it would be n·(n-1) = 39,800."""
    import numpy as np

    from datasketches_java_spark.operators.similarity import (
        _lsh_candidates, lsh_topk_cosine,
    )
    from pyspark.sql import functions as F

    n, cap = 200, 8
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    cand = _lsh_candidates(
        df, n_planes=2, n_tables=4, seed=9001, bucket_cap=cap,
    ).dropDuplicates()
    n_pairs = cand.count()
    assert 0 < n_pairs <= n * cap, n_pairs

    # every query still receives candidates and a ranked top-k
    out = lsh_topk_cosine(
        df, "id", "v", topk=3, n_planes=2, n_tables=4, bucket_cap=cap
    ).toPandas()
    assert out.vec_id.nunique() == n
    assert (out.groupby("vec_id").size() <= 3).all()


def test_lsh_adaptive_planes_scale_with_n(spark):
    """n_planes=None derives bucket count from corpus size: average
    bucket ≈ target_bucket instead of a fixed 64 buckets/table."""
    import numpy as np

    from datasketches_java_spark.operators.similarity import lsh_topk_cosine

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    # target 32 ⇒ ceil(log2(300/32)) = 4 planes ⇒ 16 buckets/table;
    # just assert the derived config produces a full ranked result
    out = lsh_topk_cosine(
        df, "id", "v", topk=2, n_tables=6, target_bucket=32
    ).toPandas()
    assert out.vec_id.nunique() >= 290  # near-all queries covered


def test_lsh_topk_skips_null_and_ragged_vectors(spark):
    """NULL or dimension-mismatched embeddings must not crash the
    batched scorer — they are dropped before scoring (the old per-row
    fold scored them NULL, which the desc top-k ranked last)."""
    import pandas as pd

    from datasketches_java_spark.operators.similarity import lsh_topk_cosine

    rows = pd.DataFrame({
        "vec_id": list(range(8)),
        "embedding": [
            [1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0],
            None, [0.5, 0.5],  # null + ragged
            [0.0, 1.0, 0.0, 0.0], [0.1, 0.9, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.9, 0.1],
        ],
    })
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_topk_cosine(df, "vec_id", "embedding", 2,
                          n_planes=1, n_tables=8).toPandas()
    # ids 2 and 3 never appear on either side of a scored pair
    assert not set(out.vec_id) & {2, 3} or True  # query side may bucket them
    assert 2 not in set(out.neighbor_id) and 3 not in set(out.neighbor_id)
    assert 2 not in set(out.vec_id) and 3 not in set(out.vec_id)
    assert out.cosine.notna().all()


def test_lsh_broadcast_scorer_matches_join_scorer(spark, monkeypatch):
    """Round-6 optimization: under the matrix budget the LSH lane
    scores deduped candidates against a broadcast float64 matrix in
    one vec_id-partitioned Arrow pass. The result frame must be
    IDENTICAL to the join-based scorer it replaces — same pairs,
    bitwise-equal cosines, same ranks (ties broken by neighbor_id,
    including exact-duplicate vectors)."""
    import numpy as np

    import datasketches_java_spark.operators.similarity as sim

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(400)]
    # exact duplicates exercise cosine ties in the ranking
    rows += [(1000 + i, rows[i][1]) for i in range(20)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    kw = dict(topk=3, n_planes=3, n_tables=4)
    fast = sim.lsh_topk_cosine(df, "id", "v", **kw).toPandas()
    monkeypatch.setattr(sim, "_MATRIX_BUDGET_BYTES", 0)
    slow = sim.lsh_topk_cosine(df, "id", "v", **kw).toPandas()

    def norm(p):
        return p.sort_values(["vec_id", "rank"]).reset_index(drop=True)

    f, s = norm(fast), norm(slow)
    assert len(f) == len(s) and len(f) > 0
    assert (f.vec_id.to_numpy() == s.vec_id.to_numpy()).all()
    assert (f.neighbor_id.to_numpy() == s.neighbor_id.to_numpy()).all()
    assert (f.cosine.to_numpy() == s.cosine.to_numpy()).all()  # bitwise
    assert (f["rank"].to_numpy() == s["rank"].to_numpy()).all()


def _budget_fixture(spark):
    """Random 16-d vectors plus exact duplicates (cosine ties)."""
    rng = np.random.default_rng(23)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(160)]
    rows += [(1000 + i, rows[i][1]) for i in range(12)]
    return spark.createDataFrame(rows, "id bigint, v array<double>")


_BUDGET_CALLS = {
    "topk_ip": lambda sim, df: sim.brute_force_topk_ip(df, "id", "v", 4),
    "topk_cosine_q": lambda sim, df: sim.brute_force_topk_cosine_q(
        df, "id", "v", 4),
    "cosine_dup_pairs": lambda sim, df: sim.cosine_dup_pairs(
        df, "id", "v", 0.4),
    "lsh": lambda sim, df: sim.lsh_topk_cosine(
        df, "id", "v", 4, n_planes=2, n_tables=4),
    "ivf": lambda sim, df: sim.ivf_topk_cosine(df, "id", "v", 4, n_probe=3),
}


@pytest.mark.parametrize("name", sorted(_BUDGET_CALLS))
def test_tiny_budget_rows_equal_in_budget_rows(spark, monkeypatch, name):
    """The broadcast-or-distribute choice is made by input size alone:
    at a zero byte budget every embedding lane takes its distributed
    plan and returns the in-budget rows — same pairs, bitwise-equal
    scores, equal ranks."""
    import datasketches_java_spark.operators.similarity as sim

    df = _budget_fixture(spark)
    fast = _BUDGET_CALLS[name](sim, df).toPandas()
    monkeypatch.setattr(sim, "_MATRIX_BUDGET_BYTES", 0)
    slow = _BUDGET_CALLS[name](sim, df).toPandas()

    def norm(p):
        return p.sort_values(list(p.columns[:2])).reset_index(drop=True)

    assert len(fast) > 0
    pd.testing.assert_frame_equal(norm(fast), norm(slow), check_exact=True)


def test_collect_matrix_over_budget_collects_nothing(spark, monkeypatch):
    """Over the byte budget the decision comes from one aggregate: wide
    vectors (d=512) are never pulled to the driver, neither by the
    budget check itself nor by the plan construction of a lane."""
    import datasketches_java_spark.operators.similarity as sim

    rng = np.random.default_rng(3)
    rows = [(i, rng.uniform(-0.1, 0.1, 512).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    # 400 · 513 · 8 B ≈ 1.6 MB > 1 MB
    monkeypatch.setattr(sim, "_MATRIX_BUDGET_BYTES", 1 << 20)
    pulls = []
    for meth in ("toPandas", "collect"):
        orig = getattr(type(df), meth)
        monkeypatch.setattr(
            type(df), meth,
            lambda self, *a, _m=meth, _o=orig, **k: (
                pulls.append(_m), _o(self, *a, **k))[1],
        )
    sim.brute_force_topk_ip(df, "id", "v", 3)
    sim.cosine_dup_pairs(df, "id", "v", 0.4)
    sim.lsh_topk_cosine(df, "id", "v", 3, n_planes=4)
    assert pulls == []
    assert sim._collect_matrix(df) is None
    assert sim._collect_matrix(df, exact_bits=53) is None
    assert pulls == []
