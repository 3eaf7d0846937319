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
  5. append the new signatures, edges and id map to the state's three
     unbucketed tables and commit one snapshot (sources/state_store.py
     owns the format, the atomic flip, replay tokens and GC): each
     ingest writes O(delta) bytes, and the manifest's "batches" carry
     per-batch lineage (batch id, row/edge counts, config hash). The
     counts are observed in the jobs that write the rows (an
     Observation directly above each write, so a retried task counts
     once), never re-read from disk;
  6. `state_clusters`: connected components over the stored verified
     edges — CC cost is edge-count-scaled (operators/cluster.py), never
     corpus-scaled — with the vertices and the min-image_id names both
     taken from the id map, which holds the signature table's id64 set
     under the same key.

Every state read passes its fixed schema (SIG_SCHEMA, VERIFY_SCHEMA,
the id map's two columns), so no read starts a footer job to infer
it.

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

import time

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
from ..sources import state_store

_FORMAT = "dedup/2"  # the manifest's "format": the store layout of this lane
_SCHEMAS = {
    "signatures": SIG_SCHEMA,
    "verified": VERIFY_SCHEMA,
    "idmap": "id64 bigint, image_id string",
}


def _table(spark: SparkSession, snap: state_store.Snapshot, table: str) -> DataFrame | None:
    paths = snap.paths(table)
    return spark.read.schema(_SCHEMAS[table]).parquet(*paths) if paths else None


def read_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame | None, DataFrame | None, dict]:
    """(signatures, verified edges, manifest) for the committed state —
    parquet reads of exactly the batch directories the manifest lists."""
    snap = state_store.load(state_dir, _FORMAT)
    return _table(spark, snap, "signatures"), _table(spark, snap, "verified"), snap.manifest


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

    `epoch` makes the ingest IDEMPOTENT per source batch: a token the
    state already holds (sources/state_store.py's replay rule) is a
    no-op, so a foreachBatch re-delivery after a failure ingests once.
    The streaming sink passes tokens namespaced by its checkpoint
    ('<query_id>:<epoch_id>'); a crash mid-ingest leaves the previous
    snapshot and an orphan the next commit collects."""
    snap = state_store.load(state_dir, _FORMAT)
    if snap.replayed(epoch):
        return state_clusters(spark, state_dir) if compute_clusters else None
    sigs_old = _table(spark, snap, "signatures")

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

        version = snap.new_version()
        n_sig = _write_counted(sigs_new, snap.path("signatures", version))
        n_edge = _write_counted(verified_new, snap.path("verified", version))
        id_map(new_corpus).write.parquet(snap.path("idmap", version))
        counts = {"signatures": n_sig, "verified": n_edge, "idmap": n_sig}
        batch = {
            "id": version,
            **{f"n_{t}": n for t, n in counts.items()},
            "config_hash": cfg.config_hash(),
            "ts": round(time.time(), 1),
            **({"epoch": epoch} if epoch is not None else {}),
        }
        snap.commit(version, token=epoch,
                    append=[t for t, n in counts.items() if n > 0],
                    batches=snap.manifest.get("batches", []) + [batch])
    if not compute_clusters:
        return None
    return state_clusters(spark, state_dir)


def state_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """Cluster assignment (image_id, cluster_id, cluster_size) over the
    committed state — connected components on the full stored edge set
    (edge-scaled, not corpus-scaled), min-image_id cluster naming (the
    pipeline's convention, plans/pipeline.py). The id map is both the
    vertex set and the boundary remap, so the signatures are not read."""
    snap = state_store.load(state_dir, _FORMAT)
    edges_cur = _table(spark, snap, "verified")
    idmap = _table(spark, snap, "idmap")
    edges = (
        edges_cur.select("id_a", "id_b")
        if edges_cur is not None
        else spark.createDataFrame([], "id_a bigint, id_b bigint")
    )
    total_edges = sum(b["n_verified"] for b in snap.manifest["batches"])
    labels64 = connected_components(edges, idmap.select("id64"),
                                    n_edges=total_edges)
    # boundary remap — slim two-column join, bucketed at web scale
    return name_clusters(labels64, idmap, "id64")
