"""End-to-end dedup pipeline: corpus → signatures → LSH → verify →
clusters (→ audits), with optional checkpoint/resume per stage.

Every stage is a DataFrame→DataFrame function; `run_pipeline` wires
them and (when `checkpoint_root` is given) persists each stage with the
frozen config hash in the path, so a re-run resumes from the last
completed stage and reproduces identical outputs (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Internal dataflow is keyed by `id64 = xxhash64(image_id)` and carries
int32 signatures/band keys (operators/signatures.py) — every shuffle
between the scan and the final cluster table moves only fixed-width
integers. String image_ids re-enter at the two boundary products
(`verified`, `clusters`) via a broadcast join against the slim id map.

In memory, each stage (signatures, candidates, verified, the id64
cluster labels) is materialized as a local-checkpoint plan leaf, not a
persisted frame: a cached frame carries its whole upstream plan, and
Spark re-plans, canonicalizes and re-renders that nested plan in every
later query. A leaf's materializing query is planned without AQE, so the
leaf keeps the hash partitioning its consumers rely on (signatures by
id64, candidates by id_a: verify's first join needs no exchange).
Each stage's row count is observed in the job that materializes its
leaf. The boundary `clusters` frame stays a lazy persist over the
labels leaf, so its collect and the audit join share one id-map join +
min-name window. Each result's leaves and boundary cache belong to its
own `RunScope` (scope.py), owned in turn by the caller's open scope:
`spark.catalog.clearCache()` does not free local checkpoints, but
closing the caller's scope or `PipelineResult.release()` does.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig, FROZEN
from ..operators.cluster import connected_components, name_clusters
from ..operators.lsh import candidate_pairs
from ..operators.signatures import compute_signatures, explode_bands, id_map
from ..operators.verify import verify_pairs
from ..scope import RunScope, own
from ..sources import tables


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidates: DataFrame
    verified64: DataFrame
    labels64: DataFrame      # id64, cluster_id, cluster_size
    verified: DataFrame      # boundary schema: string id_a < id_b + scores
    clusters: DataFrame      # boundary schema: image_id, cluster_id, cluster_size
    metrics: dict = field(default_factory=dict)
    scope: RunScope = field(default_factory=RunScope)

    def release(self) -> None:
        """Free the stage leaves and the boundary cache."""
        self.scope.close()


def _stage(
    spark: SparkSession,
    root: str | None,
    name: str,
    build,
    metrics: dict,
    force: bool = False,
    *,
    scope: RunScope,
):
    """Run (or resume) one stage; record wall time + row count.

    In memory the stage is materialized as a plan leaf, so its
    consumers neither recompute it nor carry its plan. The leaf is
    eager, so every SQL metric of the stage lands in this call, not in
    a later consumer's query, and its row count is observed in that
    same job. With a checkpoint root the parquet/Iceberg read-back is
    already a leaf; neither it nor a resumed stage has a materializing
    job of its own here, so those lanes count with one more query.
    The leaf belongs to `scope`."""
    t0 = time.time()
    if root is not None and not force and tables.checkpoint_exists(
            root, name, spark=spark):
        df = tables.read_checkpoint(spark, root, name)
        metrics[f"{name}_resumed"] = True
    else:
        df = build()
        if root is not None:
            tables.write_checkpoint(df, root, name)
            df = tables.read_checkpoint(spark, root, name)
            # per-partition lineage + metrics side-table (north rule):
            # one row per checkpointed partition, traceable to the
            # (config, corpus) identity that produced it
            tables.write_partition_metrics(
                df, root, name,
                lineage={"lineage_key": os.path.basename(root)},
            )
        metrics[f"{name}_resumed"] = False
    if root is None:
        obs = Observation()
        df = scope.own(_leaf(df.observe(obs, F.count(F.lit(1)).alias("rows"))))
        metrics[f"{name}_rows"] = obs.get["rows"]
    else:
        metrics[f"{name}_rows"] = df.count()
    metrics[f"{name}_sec"] = round(time.time() - t0, 3)
    return df


def _leaf(df: DataFrame) -> DataFrame:
    """Materialize df as a local-checkpoint leaf. AQE is off while its
    query is planned: AQE's final plan exposes no output partitioning,
    so the leaf would report UnknownPartitioning and every join on its
    key would re-shuffle it. Planned statically, the leaf reports its
    last exchange's hashpartitioning."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _corpus_fingerprint(corpus: DataFrame) -> str:
    """Corpus identity for checkpoint keying: source files (when the
    plan reads files) + the canonicalized-plan hash (covers filters,
    limits, in-memory frames)."""
    import hashlib

    basis = "|".join(sorted(corpus.inputFiles())) + f"#%{corpus.semanticHash()}"
    return hashlib.sha256(basis.encode()).hexdigest()[:10]


def _remap_pairs(pairs64: DataFrame, idmap: DataFrame) -> DataFrame:
    """int64 pairs → string pairs with id_a < id_b (golden convention).
    All score columns are symmetric, so the swap is value-preserving."""
    ma = idmap.select(F.col("id64").alias("id_a"), F.col("image_id").alias("name_a"))
    mb = idmap.select(F.col("id64").alias("id_b"), F.col("image_id").alias("name_b"))
    named = pairs64.join(F.broadcast(ma), "id_a").join(F.broadcast(mb), "id_b")
    extra = [c for c in pairs64.columns if c not in ("id_a", "id_b")]
    return named.select(
        F.least("name_a", "name_b").alias("id_a"),
        F.greatest("name_a", "name_b").alias("id_b"),
        *extra,
    )


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: DedupConfig = FROZEN,
    checkpoint_root: str | None = None,
    with_audits: bool = False,
    id_remap: bool = False,
    id_key=None,
) -> PipelineResult:
    """`id_remap=True` runs the per-ingest id64 collision audit and
    quarantines colliding image_ids into the 128-bit remap side-table
    (operators/signatures.py build_id_remap) before signing — the
    production setting for 10^12-row corpora, where ~27 birthday
    collisions are expected; off by default at bench tiers where
    P(any collision) < 1e-8. `id_key` overrides the id hash (tests
    inject a deliberately narrow hash to force the collision path)."""
    from ..operators.signatures import effective_cfg

    cfg = effective_cfg(corpus, cfg)  # no-phash corpus => text-only run
    metrics: dict = {"config_hash": cfg.config_hash()}
    remap = None
    if id_remap:
        from ..operators.signatures import build_id_remap

        remap = build_id_remap(corpus, key=id_key)
        metrics["id_remapped_rows"] = remap.count()
    if checkpoint_root is not None:
        # key checkpoints by (config, corpus identity, id keying):
        # resuming a different corpus — or the same corpus with a
        # different id_remap/id_key scheme, which re-keys id64 — from
        # the same root must never serve stale stage outputs
        import hashlib as _hl

        idk = (
            "0" if id_key is None
            else _hl.md5(str(id_key).encode()).hexdigest()[:8]
        )
        ckey = (
            f"{cfg.config_hash()}_{_corpus_fingerprint(corpus)}"
            f"_r{int(id_remap)}k{idk}"
        )
        if tables._is_table_root(checkpoint_root):
            # Iceberg lane: a path join would turn the catalog
            # namespace into a filesystem path — key the TABLE NAMES
            # instead (cat.db, stage "<ckey>__signatures")
            _key_prefix = f"{ckey}__"
        else:
            checkpoint_root = os.path.join(checkpoint_root, ckey)
            _key_prefix = ""
    else:
        _key_prefix = ""

    scope = own(RunScope())  # the result's; the caller's scope owns it
    signatures = _stage(
        spark, checkpoint_root, _key_prefix + "signatures",
        lambda: compute_signatures(corpus, cfg, remap=remap, key=id_key),
        metrics, scope=scope,
    )
    candidates = _stage(
        spark, checkpoint_root, _key_prefix + "candidates",
        lambda: candidate_pairs(explode_bands(signatures), cfg), metrics,
        scope=scope,
    )
    verified64 = _stage(
        spark, checkpoint_root, _key_prefix + "verified",
        lambda: verify_pairs(candidates, signatures, cfg), metrics,
        scope=scope,
    )

    vertices = signatures.select("id64")
    with RunScope():  # what CC caches, freed once the labels leaf holds it
        labels64 = _stage(
            spark, checkpoint_root, _key_prefix + "clusters",
            lambda: connected_components(
                verified64.select("id_a", "id_b"), vertices,
                n_edges=metrics["verified_rows"],
            ), metrics, scope=scope,
        )

    # boundary remaps: internal int64 keys → image_id strings. The id
    # map is two slim columns; broadcast at this scale, bucketed join at
    # web scale. Computed lazily — consumers that stay on id64 (the
    # bench loop, audits) never pay for it.
    idmap = id_map(corpus, remap=remap, key=id_key)
    verified = _remap_pairs(verified64, idmap)
    clusters = scope.own(
        name_clusters(labels64, F.broadcast(idmap), "id64").persist())

    result = PipelineResult(
        signatures, candidates, verified64, labels64, verified, clusters,
        metrics, scope,
    )
    if with_audits:
        from ..operators.audits import cluster_audits

        result.audits = cluster_audits(spark, clusters, signatures, cfg,
                                       corpus=corpus, idmap=idmap)
    return result


def dup_pairs_caption(verified: DataFrame) -> DataFrame:
    """The recall-graded output: caption-channel duplicate pairs."""
    return verified.filter(F.col("match_caption")).select(
        "id_a", "id_b", "jaccard_est", "jaccard_lb", "jaccard_ub"
    )


def recall_against_golden(
    verified: DataFrame, golden_pairs: DataFrame, threshold: float
) -> dict:
    """Dup-pair recall vs the exact golden oracle at the frozen config."""
    gold = golden_pairs.filter(F.col("jaccard_exact") >= threshold).select(
        "id_a", "id_b"
    )
    found = verified.select("id_a", "id_b")
    n_gold = gold.count()
    n_hit = gold.join(found, ["id_a", "id_b"], "left_semi").count()
    return {
        "golden_pairs": n_gold,
        "hit": n_hit,
        "recall": (n_hit / n_gold) if n_gold else 1.0,
    }
