"""Connected components over the verified edge list — star contraction.

Catalyst has no fixpoint operator (SURVEY.md §4 custom work #2), so
this is a driver loop of DataFrame contractions: every node merges
into the minimum id of its closed neighborhood, the edge set is
rewritten between supernodes (self-loops dropped, multi-edges
deduped), and the loop repeats until the edge set is small enough for
the single-task tail finisher. Each contraction removes at least half
of the remaining supernodes per component, so the edge set shrinks
geometrically — O(log n) rounds *on hashed/random ids* (id64 =
xxhash64 is pseudorandom, which is what makes the bound hold; on an
adversarial monotone-id path the deterministic min-neighborhood rule
removes ~1 node per round). The classic min-label-propagation +
pointer-jumping loop has the same caveat — measured 37+ rounds on a
30k-node near-dup component where contraction takes 11. Equivalent
family: large-star/small-star, Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014.

Rounds checkpoint to parquet and read back (at production scale: an
Iceberg state table — same call site). Parquet, NOT `localCheckpoint`:
Spark 4's LogicalRDD preserves the origin plan for stats estimation,
so chained localCheckpoints nest joins inside stats;
SizeInBytesOnlyStatsPlanVisitor multiplies sizeInBytes across joins
(repeated squaring), and by ~10 rounds the BigInteger products reach
1e8 digits — one planning pass then burns CPU-minutes in
BigInteger.multiply. A parquet round-trip severs the stats chain. The
contraction loop's chain is unbounded (it grows with the graph), so it
needs that severing; plans/pipeline.py chains a fixed four stages, a
depth at which local-checkpoint leaves stay cheap to plan. The
loop runs at its own shuffle parallelism, derived from the edge count,
so each round costs a handful of tasks instead of
spark.sql.shuffle.partitions tasks per join.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import warnings

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, ShortType

from ..scope import RunScope, own


def _pq_checkpoint(df: DataFrame, root: str, name: str) -> DataFrame:
    """Materialize to parquet and read back — a plan-and-stats barrier
    (Iceberg state-table write at production scale)."""
    path = os.path.join(root, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _contract(E: DataFrame):
    """One star-contraction step: (contracted edges, node→supernode map).
    Every node maps to min(closed neighborhood); the global component
    minimum maps to itself, so the fixpoint label IS the component min
    (the golden oracle's cluster_id convention)."""
    sym = E.select("u", "v").unionByName(
        E.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
    mu = m.select(F.col("u").alias("u"), F.col("m").alias("mu"))
    mv = m.select(F.col("u").alias("v"), F.col("m").alias("mv"))
    E2 = (
        E.join(mu, "u").join(mv, "v")
        .select(F.col("mu").alias("u"), F.col("mv").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return E2, m


def _apply_map(labels: DataFrame, m: DataFrame) -> DataFrame:
    ml = m.select(F.col("u").alias("label"), F.col("m").alias("newl"))
    return labels.join(ml, "label", "left").select(
        "x", F.coalesce(F.col("newl"), F.col("label")).alias("label")
    )


# one task comfortably owns this many tail edges (int64 pair ≈ 16 B/row
# → 32 MB of edges, ≤ 2·TAIL_EDGES label rows ≈ 64 MB at the cap; the
# vectorized min-hook kernel below clears 2M edges in well under a second)
TAIL_EDGES = 2_000_000


def _min_hook_components(a: np.ndarray, b: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Vectorized connected components on dense edge arrays: min-label
    hooking + pointer doubling. Each pass is O(E) in C (np.minimum.at);
    the number of passes is O(log n). Returns root index per node,
    where the root is the component's minimum id (ids is sorted unique,
    so the minimum dense index IS the minimum id)."""
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        pa, pb = parent[a], parent[b]
        mn = np.minimum(pa, pb)
        before = parent.copy()
        np.minimum.at(parent, pa, mn)
        np.minimum.at(parent, pb, mn)
        # pointer doubling: compress chains created by hooking
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if np.array_equal(parent, before):
            return parent


def _unionfind_finish(E: DataFrame) -> DataFrame:
    """Tail finisher: once contraction shrinks the edge set under
    TAIL_EDGES, one executor task running the vectorized min-hook
    kernel beats O(log n) more distributed rounds of pure scheduling
    latency — the same small-side cutover AQE applies to joins.
    Returns the (supernode u → component-min root) map."""
    import pandas as pd

    def gen(batches):
        import numpy as np

        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        df = pd.concat(chunks, ignore_index=True)
        ids, inv = np.unique(
            np.concatenate([df["u"].to_numpy(np.int64), df["v"].to_numpy(np.int64)]),
            return_inverse=True,
        )
        a, b = inv[: len(df)], inv[len(df):]
        roots = _min_hook_components(a, b, ids)
        yield pd.DataFrame({"u": ids, "m": ids[roots]})

    return E.repartition(1).mapInPandas(gen, "u bigint, m bigint")


def _integral(df: DataFrame, cols: tuple[str, ...]) -> bool:
    types = dict((f.name, f.dataType) for f in df.schema.fields)
    return all(
        isinstance(types[c], (LongType, IntegerType, ShortType)) for c in cols
    )


def name_clusters(labels: DataFrame, names: DataFrame, key: str) -> DataFrame:
    """labels(key, cluster_id, cluster_size) ⋈ names(key, name) →
    (name, cluster_id, cluster_size) with cluster_id = the component's
    minimum member name (the golden oracle's convention). `names` is
    joined as given, so a caller that wants a broadcast join passes
    F.broadcast(names).

    The minimum is a window over the cluster, not an aggregate joined
    back to the members: the members are planned once and cross one
    exchange on the cluster key, where the self-join planned the whole
    member plan (at the delta state, the lazy connected-components
    tail) twice. Trade-off: a window partition is one task, so a giant
    cluster is named by one task (its rows spill past the window
    buffer), where AQE could split a skewed join partition."""
    name = next(c for c in names.columns if c != key)
    return (
        labels.withColumnRenamed("cluster_id", "__cid").join(names, key)
        .select(
            name,
            F.min(name).over(Window.partitionBy("__cid")).alias("cluster_id"),
            "cluster_size",
        )
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id64",
    max_iter: int = 25,
    n_edges: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """edges(id_a, id_b) + vertices(id_col) → (id_col, cluster_id,
    cluster_size); cluster_id = min member id (the golden oracle's
    convention), in the caller's id type.

    Integral ids run the contraction loop directly. Arbitrary ids
    (strings at the pipeline boundary) are remapped to int64 via
    xxhash64 — the same keying the signature stage uses — and the
    cluster_id is re-derived as min(original id) per component, so the
    min-member convention holds in the ORIGINAL id space regardless of
    hash order. (A 64-bit collision would merge two vertices; at 10^12
    rows production carries the 128-bit lane documented in
    operators/signatures.py.)

    Only vertices that appear in an edge enter the iteration — at web
    scale the overwhelming majority of rows are singletons and must not
    pay the per-iteration shuffles; they rejoin as size-1 clusters at
    the end.

    The small-graph label table is persisted for the returned frame and
    owned by the innermost open `RunScope`: materialize the result
    before that scope closes, or it recomputes uncached."""
    if not _integral(edges, ("id_a", "id_b")):
        e64 = edges.select(
            F.xxhash64(F.col("id_a").cast("string")).alias("id_a"),
            F.xxhash64(F.col("id_b").cast("string")).alias("id_b"),
        )
        v64 = vertices.select(
            F.col(id_col),
            F.xxhash64(F.col(id_col).cast("string")).alias("__id64"),
        )
        labels64 = connected_components(
            e64, v64.select(F.col("__id64")), id_col="__id64",
            max_iter=max_iter, n_edges=n_edges, metrics=metrics,
        )
        return name_clusters(labels64, v64, "__id64")

    spark = edges.sparkSession
    if n_edges is None:
        n_edges = edges.count()
    par = spark.sparkContext.defaultParallelism
    # ~500k symmetric edge rows per partition: a handful of tasks per
    # round at bench scale, linear growth when the dup graph is a large
    # fraction of a web corpus (no hardcoded cap)
    n_parts = int(np.clip(2 * n_edges / 500_000, 4, 4 * par))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        if n_edges <= TAIL_EDGES:
            # common case at bench tiers: no contraction rounds at all —
            # the edge plan streams straight into the one-task finisher,
            # and the finisher's (u → root) map IS the label table.
            # Persist instead of a parquet checkpoint (round 6): the
            # small-graph label table is a few MB and its consumers
            # (the size aggregate + the vertex join below) re-read it
            # in the same action chain — the checkpoint's write+read
            # round trip was a fixed ~1s the multi-core leg cannot
            # parallelize (a contraction ROUND still checkpoints: its
            # state must survive plan-growth across iterations).
            E = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
            labels = own(_unionfind_finish(E).select(
                F.col("u").alias("x"), F.col("m").alias("label")
            ).persist())
            if metrics is not None:
                metrics["cc_rounds"] = 1
        else:
            state_root = tempfile.mkdtemp(prefix="cc_state_")
            # the returned DataFrame lazily reads the final parquet
            # state, so the directory must outlive this call; reclaim
            # it at exit
            atexit.register(shutil.rmtree, state_root, ignore_errors=True)
            E = _pq_checkpoint(
                edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
                .repartition(n_parts, "u"),
                state_root, "edges_0",
            )
            labels = _pq_checkpoint(
                E.select(F.col("u").alias("x"))
                .unionByName(E.select(F.col("v").alias("x")))
                .distinct()
                .select("x", F.col("x").alias("label")),
                state_root, "labels_0",
            )

            rounds = 0
            remaining = n_edges
            while remaining > TAIL_EDGES and rounds < max_iter:
                # two contraction steps per checkpoint: halves the
                # materialization/latency overhead of the geometric tail
                E1, m1 = _contract(E)
                E2, m2 = _contract(E1)
                rounds += 2
                # persist the (small) hook maps and write the edge
                # checkpoint FIRST: the label job then reads m1/m2 from
                # cache instead of re-running both contraction chains
                # (the two writes are separate Spark jobs — without
                # this, every round paid ~2x its shuffle cost)
                with RunScope():
                    m1, m2 = own(m1.persist()), own(m2.persist())
                    E = _pq_checkpoint(E2, state_root, f"edges_{rounds}")
                    new_labels = _apply_map(_apply_map(labels, m1), m2)
                    labels = _pq_checkpoint(new_labels, state_root,
                                            f"labels_{rounds}")
                remaining = E.count()
                for name in (f"labels_{rounds - 2}", f"edges_{rounds - 2}"):
                    shutil.rmtree(os.path.join(state_root, name), ignore_errors=True)
                if metrics is not None:
                    metrics["cc_rounds"] = rounds
                    metrics["cc_edges_remaining"] = remaining
            if remaining > 4 * TAIL_EDGES:
                # contraction stalled far above the tail budget — funneling
                # this into one task risks an executor OOM; fail loudly so
                # the caller raises max_iter / inspects the graph instead
                raise RuntimeError(
                    f"connected_components: {remaining} edges remain after "
                    f"{rounds} contraction rounds (tail budget {TAIL_EDGES}); "
                    "raise max_iter or investigate graph structure"
                )
            if remaining > TAIL_EDGES:
                warnings.warn(
                    f"connected_components: funneling {remaining} edges "
                    f"(> TAIL_EDGES={TAIL_EDGES}) into the single-task "
                    f"finisher after max_iter={max_iter} rounds"
                )
            if remaining > 0:
                labels = _pq_checkpoint(
                    _apply_map(labels, _unionfind_finish(E)),
                    state_root, f"labels_{rounds + 1}",
                )
                if metrics is not None:
                    metrics["cc_rounds"] = rounds + 1

        # Small-graph path: the label table is bounded by construction
        # (≤ 2·TAIL_EDGES rows × 16 B ≈ 64 MB of int64 pairs), so the size
        # attach and the singleton anti-join broadcast it instead of
        # exchanging the (much larger) vertex table — two Exchanges
        # become none on the stage's fixed-cost tail (guide §3.1).
        # The contraction path keeps shuffle joins: its label table
        # scales with the graph.
        small = n_edges <= TAIL_EDGES
        sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
        connected = labels.join(
            F.broadcast(sizes) if small else sizes, "label"
        ).select(
            F.col("x").alias(id_col),
            F.col("label").alias("cluster_id"),
            F.col("cluster_size").cast("int").alias("cluster_size"),
        )
        label_ids = labels.select(F.col("x").alias(id_col))
        singletons = (
            vertices.select(F.col(id_col))
            .join(F.broadcast(label_ids) if small else label_ids,
                  id_col, "left_anti")
            .select(
                F.col(id_col),
                F.col(id_col).alias("cluster_id"),
                F.lit(1).cast("int").alias("cluster_size"),
            )
        )
        return connected.unionByName(singletons)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
