"""SparkSession factory with scale-appropriate defaults.

Local mode stands in for a 1000-executor cluster; every knob here is
one we'd set identically at 100 TB: Arrow for all Python boundaries,
AQE (+skew join) on, explicit shuffle parallelism, bounded Arrow batch
sizes so pandas-UDF peak memory is independent of partition size.

Python workers start from `datasketches_java_spark._pydaemon` (the
stock `spark.python.daemon.module` conf) instead of `pyspark.daemon`.
Spark's worker calls `importlib.invalidate_caches()` before every task,
and on CPython < 3.13 that re-parses the directory of every zip archive
on the worker's path (pyspark.zip, py4j, the spark-core jar), about
0.25 s of CPU per task; the daemon re-reads an archive only when its
mtime or size changed. CPython >= 3.13 re-reads lazily, so there the
daemon is plain `pyspark.daemon`. Sessions built without `get_spark`
keep the stock daemon and its per-task cost.

The compiled-class cache (`spark.sql.codegen.cache.maxEntries`) holds
1000 entries instead of 100: a warm run_pipeline then re-uses every
whole-stage class instead of re-compiling and re-JITting ~150 of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "datasketches_java_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_mem_mb: int = 12288,
) -> SparkSession:
    """local[cores] session, or — when `executors` is given — a
    local-cluster[executors, cores, executor_mem_mb] session: real
    multi-process executors on one machine, the faithful simulation of
    scaling a cluster from N to 4N executors (each executor is its own
    JVM with its own memory pools and Python worker pool, exactly like
    production; a single local[] JVM serializes all executor threads
    behind one process's memory-management path)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    total_cores = cores * executors if executors else cores
    if shuffle_partitions is None:
        # one task per core measured fastest on a flat-memory host
        # (extra partitions only add scheduling + shuffle-file
        # overhead; AQE splits skewed partitions when it matters). On a
        # real cluster 2-3 tasks per core is the standard straggler
        # insurance: pass shuffle_partitions.
        shuffle_partitions = total_cores
    if executors:
        master = f"local-cluster[{executors},{cores},{executor_mem_mb}]"
    else:
        master = f"local[{cores}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.executor.memory", f"{executor_mem_mb}m")
        # executor processes (local-cluster) spawn their own Python
        # workers: ship the repo on PYTHONPATH (spark-submit --py-files
        # equivalent) and the malloc policy this sandbox needs
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483648")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483648")
        # Python workers fork from a daemon that skips per-task re-reads
        # of unchanged zip archives on sys.path (see module docstring)
        .config("spark.python.daemon.module", "datasketches_java_spark._pydaemon")
        # the JVM-wide LRU of compiled whole-stage classes: one
        # run_pipeline with audits generates ~150 distinct classes, so
        # the stock 100 entries evict each class before its next use
        # and every run re-compiles all of them in Janino (and re-JITs
        # them), over a third of a warm run's CPU; sized for the pipeline
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        # shuffled hash join over sort-merge: the pipeline's joins have
        # bounded per-partition build sides (fixed-width sketch rows),
        # and SMJ's big sorts measured 2-4x slower with high variance
        # under this sandbox's memory-write throughput; AQE still
        # overrides per-join when sizes say otherwise
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # zstd over lz4 for shuffle/broadcast/spill blocks: the
        # pipeline's wide stages (38M-row band shuffle, pair distinct)
        # are memory-bus-bound on this box — zstd's ~2x better ratio
        # trades idle CPU for bus bytes (measured: candidates stage
        # c8 45.1s -> 42.6s, headline c32 9.8s -> 7.4s). On a real
        # cluster the same trade wins harder: shuffle bytes cross the
        # network. Level 1 (default) keeps compression CPU negligible.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.io.compression.zstd.level", "1")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def plan_width(spark: SparkSession) -> int:
    """Partition width for the pipeline's explicit repartitions.

    Returns spark.sql.shuffle.partitions so hand-placed exchanges
    (signature spread, band grouping, id64 output partitioning) agree
    with the width Catalyst gives implicit ones — co-partitioned joins
    stay exchange-free whatever width the session was built with."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism
