"""Incremental (delta) dedup ingest — add a batch of new images to an
existing dedup state without re-scoring old-vs-old pairs.

The production loop at 10^12 rows is daily ingest, not one-shot: the
cost of a batch must scale with the DELTA, not the corpus. Per ingest:

  1. sign ONLY the new rows (one Arrow pass — the pipeline's signature
     stage on the batch);
  2. explode the stored signatures' bands map-only and SEMI-JOIN them
     to the bands the new batch touches — untouched bands (the vast
     majority of state) are pruned at the scan;
  3. run the capped band-group pair generator over (new ∪ touched-old)
     band rows, then DROP pairs whose both sides are old: old×old
     candidates in a touched band were already generated by the ingest
     that added them (band keys are per-row-deterministic, so the band
     existed then);
  4. verify only the surviving delta pairs (channel scoring joins the
     signature columns back, old rows fetched by id);
  5. append the new signatures, edges and id map as a NEW batch
     directory and atomically flip a JSON manifest (same
     snapshot-pointer pattern as streaming/incremental.py): each ingest
     writes O(delta) bytes, a crashed ingest leaves the previous
     manifest intact, and the manifest carries per-batch lineage (batch
     id, row/edge counts, config hash). The counts are observed in the
     jobs that write the rows (an Observation directly above each
     write, so a retried task counts once), never re-read from disk;
  6. `state_clusters`: connected components over the stored verified
     edges — CC cost is edge-count-scaled (operators/cluster.py), never
     corpus-scaled — with the vertices and the min-image_id names both
     taken from the id map, which holds the signature table's id64 set
     under the same key.

Every state read passes its fixed schema (SIG_SCHEMA, VERIFY_SCHEMA,
the id map's two columns), so no read starts a footer job to infer
it. The on-disk format is unchanged, so existing state directories read
as before.

Exactness: with hot-band caps disabled or untriggered, N sequential
ingests produce the same verified-pair SET and cluster partition as a
one-shot run over the union corpus (asserted in
tests/test_delta_ingest.py). When a cap fires in a band that grew
across ingests, pair selection inside that band may differ from the
one-shot run — both are the documented O(g) degradation, not silent
loss.

The membership filter in step 3 broadcasts the new batch's id set —
the delta is small by definition; at 10^12-row state the old side is
never collected anywhere.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import FROZEN, DedupConfig
from ..operators.cluster import connected_components, name_clusters
from ..operators.lsh import candidate_pairs
from ..operators.signatures import (
    SIG_SCHEMA, compute_signatures, explode_bands, id_map,
)
from ..operators.verify import VERIFY_SCHEMA, verify_pairs
from ..scope import RunScope, own

_MANIFEST = "MANIFEST.json"
_IDMAP_SCHEMA = "id64 bigint, image_id string"


def _read_manifest(state_dir: str) -> dict:
    try:
        with open(os.path.join(state_dir, _MANIFEST)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"batches": []}


def _flip_manifest(state_dir: str, manifest: dict) -> None:
    tmp = os.path.join(state_dir, f".{_MANIFEST}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(state_dir, _MANIFEST))


def _batch_paths(state_dir: str, manifest: dict, kind: str) -> list[str]:
    return [
        os.path.join(state_dir, kind, b["id"])
        for b in manifest["batches"]
        if b[f"n_{kind}"] > 0
    ]


def _read_batches(
    spark: SparkSession, state_dir: str, manifest: dict, kind: str, schema: str
) -> DataFrame | None:
    paths = _batch_paths(state_dir, manifest, kind)
    return spark.read.schema(schema).parquet(*paths) if paths else None


def read_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame | None, DataFrame | None, dict]:
    """(signatures, verified edges, manifest) for the CURRENT state —
    parquet reads of exactly the batch directories the manifest lists."""
    manifest = _read_manifest(state_dir)
    return (
        _read_batches(spark, state_dir, manifest, "signatures", SIG_SCHEMA),
        _read_batches(spark, state_dir, manifest, "verified", VERIFY_SCHEMA),
        manifest,
    )


def _write_counted(df: DataFrame, path: str) -> int:
    """Write df to parquet at path; return the rows the write wrote."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.parquet(path)
    return obs.get["rows"]


def ingest_batch(
    spark: SparkSession,
    state_dir: str,
    new_corpus: DataFrame,
    cfg: DedupConfig = FROZEN,
    epoch: int | str | None = None,
    compute_clusters: bool = True,
) -> DataFrame | None:
    """Ingest `new_corpus` into the dedup state at `state_dir`; returns
    the updated cluster assignment (image_id, cluster_id, cluster_size)
    over ALL rows ingested so far (or None with
    `compute_clusters=False` — the streaming sink defers clustering to
    `state_clusters`, reading it on demand instead of per micro-batch).
    See module docstring for the plan.

    `epoch` makes the ingest IDEMPOTENT per source batch: Structured
    Streaming's foreachBatch re-delivers the same epoch_id after a
    failed/interrupted micro-batch, so a replayed (already committed)
    epoch is a no-op — the manifest records each batch's epoch, and the
    atomic flip (_flip_manifest) means a crash mid-ingest leaves the
    epoch unrecorded and the orphan batch directory unreferenced (the
    replay writes a fresh directory; orphans are never read). The
    streaming sink passes a STRING token namespaced by its checkpoint
    identity ('<query_id>:<epoch_id>') so two streams, or a recreated
    checkpoint restarting at epoch 0, can never false-match each
    other's recorded epochs."""
    os.makedirs(state_dir, exist_ok=True)
    manifest = _read_manifest(state_dir)
    if epoch is not None and any(
        b.get("epoch") == epoch for b in manifest["batches"]
    ):
        return state_clusters(spark, state_dir) if compute_clusters else None
    sigs_old = _read_batches(spark, state_dir, manifest, "signatures", SIG_SCHEMA)

    # the scope frees sigs_new even if a write below raises; it closes
    # before state_clusters, whose CC labels the caller's scope owns
    with RunScope():
        sigs_new = own(compute_signatures(new_corpus, cfg).persist())
        bands_new = explode_bands(sigs_new)

        if sigs_old is None:
            candidates = candidate_pairs(bands_new, cfg)
            sigs_all = sigs_new
        else:
            touched = bands_new.select("band_key").distinct()
            bands_old_touched = explode_bands(sigs_old).join(
                F.broadcast(touched), "band_key", "semi"
            )
            new_ids = sigs_new.select("id64").distinct()
            pairs_all = candidate_pairs(bands_new.unionByName(bands_old_touched), cfg)
            # keep pairs with >= 1 new member (old x old existed at their
            # own ingest time); the new-id set is the small delta -> broadcast
            candidates = pairs_all.join(
                F.broadcast(new_ids.select(F.col("id64").alias("id_a"))
                            .withColumn("__na", F.lit(True))),
                "id_a", "left",
            ).join(
                F.broadcast(new_ids.select(F.col("id64").alias("id_b"))
                            .withColumn("__nb", F.lit(True))),
                "id_b", "left",
            ).filter(
                F.col("__na").isNotNull() | F.col("__nb").isNotNull()
            ).select("id_a", "id_b")
            sigs_all = sigs_old.unionByName(sigs_new)

        verified_new = verify_pairs(candidates, sigs_all, cfg)

        batch_id = f"b{len(manifest['batches']):05d}_{uuid.uuid4().hex[:8]}"
        sig_path = os.path.join(state_dir, "signatures", batch_id)
        edge_path = os.path.join(state_dir, "verified", batch_id)
        map_path = os.path.join(state_dir, "idmap", batch_id)
        n_sig = _write_counted(sigs_new, sig_path)
        n_edge = _write_counted(verified_new, edge_path)
        id_map(new_corpus).write.parquet(map_path)
        manifest["batches"].append(
            {
                "id": batch_id,
                "n_signatures": n_sig,
                "n_verified": n_edge,
                "n_idmap": n_sig,
                "config_hash": cfg.config_hash(),
                "ts": round(time.time(), 1),
                **({"epoch": epoch} if epoch is not None else {}),
            }
        )
        _flip_manifest(state_dir, manifest)
    if not compute_clusters:
        return None
    return state_clusters(spark, state_dir)


def state_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """Cluster assignment (image_id, cluster_id, cluster_size) over the
    CURRENT state — connected components on the full stored edge set
    (edge-scaled, not corpus-scaled), min-image_id cluster naming (the
    pipeline's convention, plans/pipeline.py). The id map is both the
    vertex set and the boundary remap, so the signatures are not read."""
    manifest = _read_manifest(state_dir)
    edges_cur = _read_batches(spark, state_dir, manifest, "verified", VERIFY_SCHEMA)
    idmap = _read_batches(spark, state_dir, manifest, "idmap", _IDMAP_SCHEMA)
    edges = (
        edges_cur.select("id_a", "id_b")
        if edges_cur is not None
        else spark.createDataFrame([], "id_a bigint, id_b bigint")
    )
    total_edges = sum(b["n_verified"] for b in manifest["batches"])
    labels64 = connected_components(edges, idmap.select("id64"),
                                    n_edges=total_edges)
    # boundary remap — slim two-column join, bucketed at web scale
    return name_clusters(labels64, idmap, "id64")
