"""Table sources/sinks: driver parquet fixtures, the derived corpus,
and an Iceberg-or-parquet checkpoint writer.

At production scale the corpus is an Iceberg table partitioned by
bucket(image_id) (SURVEY.md §1.5). `write_checkpoint`/`read_checkpoint`
carry both lanes: a catalog-namespace root + Iceberg runtime on the
classpath selects `writeTo(...).createOrReplace()` (atomic snapshot
commit); a filesystem root — all this container can exercise, no
Iceberg jar — takes the parquet lane with the same DataFrame-level
API and `_SUCCESS`-gated atomic-replace semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DRIVER_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image+caption corpus for a scale tier (generated+cached)."""
    from ..corpus.loader import corpus_dir_for_sf

    d = corpus_dir_for_sf(sf_dir)
    return spark.read.parquet(os.path.join(d, "corpus.parquet"))


def load_corpus_dir(spark: SparkSession, corpus_cache_dir: str) -> DataFrame:
    """Corpus from an explicit cache dir (bench scaling tiers)."""
    return spark.read.parquet(os.path.join(corpus_cache_dir, "corpus.parquet"))


def load_golden(spark: SparkSession, sf_dir: str, which: str = "golden_pairs") -> DataFrame:
    from ..corpus.loader import corpus_dir_for_sf

    d = corpus_dir_for_sf(sf_dir)
    return spark.read.parquet(os.path.join(d, f"{which}.parquet"))


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _is_table_root(root: str) -> bool:
    """A checkpoint root that names a catalog namespace (``cat.db``)
    rather than a filesystem path selects the Iceberg lane."""
    return os.sep not in root and "." in root


def write_checkpoint(df: DataFrame, root: str, name: str, partition_by: list[str] | None = None) -> str:
    """Atomic checkpoint write.

    Iceberg lane (prod): ``root`` is a catalog namespace and the
    Iceberg Spark runtime is on the classpath → ``writeTo(...)
    .createOrReplace()`` — a single atomic snapshot commit, readable
    concurrently at the previous snapshot (the cluster-scale analog of
    the parquet ``_SUCCESS`` + atomic-rename discipline used below).
    Parquet lane (this container, no Iceberg jar): path-based
    ``mode("overwrite")`` with the same DataFrame-level API.
    """
    if _is_table_root(root) and _iceberg_available(df.sparkSession):
        ident = f"{root}.{name}"
        w = df.writeTo(ident).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return ident
    path = os.path.join(root, name)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def read_checkpoint(spark: SparkSession, root: str, name: str) -> DataFrame:
    if _is_table_root(root) and _iceberg_available(spark):
        return spark.read.table(f"{root}.{name}")
    return spark.read.parquet(os.path.join(root, name))


def checkpoint_exists(root: str, name: str, spark: SparkSession | None = None) -> bool:
    if _is_table_root(root):
        if spark is None:
            return False
        try:
            return spark.catalog.tableExists(f"{root}.{name}")
        except Exception:
            return False
    return os.path.exists(os.path.join(root, name, "_SUCCESS"))


def write_partition_metrics(
    df: DataFrame, root: str, name: str, lineage: dict | None = None
) -> str:
    """Per-partition metrics + lineage side-table for a checkpointed
    stage (north rule: 'resumable from checkpoint with per-partition
    lineage + metrics'): one row per physical partition of the
    checkpointed output — (stage, partition_id, n_rows) — plus the
    lineage identity that produced it (config hash, corpus
    fingerprint, upstream stage), so an operator can audit skew and
    trace any partition back to its inputs without re-reading data.
    Iceberg's files/manifests metadata tables are the production
    twin; parquet here."""
    from pyspark.sql import functions as F

    lineage = lineage or {}
    pm = (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(F.count("*").alias("n_rows"))
        .withColumn("stage", F.lit(name))
    )
    for k, v in sorted(lineage.items()):
        pm = pm.withColumn(k, F.lit(str(v)))
    path = os.path.join(root, f"{name}__partmetrics")
    pm.write.mode("overwrite").parquet(path)
    return path


def read_partition_metrics(spark: SparkSession, root: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, f"{name}__partmetrics"))
