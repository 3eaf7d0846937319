"""Session factory invariants (session.py) and its Python worker daemon
(_pydaemon.py)."""

import sys
import zipfile
import zipimport

import pytest

from datasketches_java_spark.session import plan_width

lazy_zip_reads = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip directories lazily; nothing is installed",
)


def test_plan_width_matches_shuffle_partitions(spark):
    """Explicit pipeline repartitions must use the same width Catalyst
    gives implicit exchanges, or co-partitioned joins re-shuffle."""
    assert plan_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


@lazy_zip_reads
def test_worker_skips_zip_directory_rereads(spark):
    """A Python worker's per-task importlib.invalidate_caches() must not
    re-read any unchanged zip archive on its path (pyspark.zip, py4j,
    the spark-core jar)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = [0]
        read = zipimport._read_directory

        def spy(archive):
            reads[0] += 1
            return read(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [reads[0]], "zips": [zips]})

    out = (spark.range(0, 400, numPartitions=4)
           .mapInPandas(probe, "reads long, zips long").toPandas())
    assert len(out) == 4
    assert (out["zips"] > 0).all(), out
    assert (out["reads"] == 0).all(), out


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


@lazy_zip_reads
def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """An unchanged archive is not re-read on invalidate_caches(); a
    rewritten one is, and its new module resolves."""
    from datasketches_java_spark import _pydaemon

    # record the stock hooks so monkeypatch restores them after install()
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _pydaemon.install()
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("a") is not None

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read(a))
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["a", "b"])
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importer.find_spec("b") is not None


def test_codegen_cache_holds_pipeline_working_set(spark):
    """Re-planning and re-executing 160 distinct whole-stage plans (more
    than a run_pipeline with audits generates, and more than Spark's
    stock 100-entry cache) compiles nothing the second time: a warm run
    reuses every class instead of re-compiling it in Janino."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def execute_all():
        # fresh plans each pass: a plan keeps its own compiled class, so
        # only the session-wide cache can serve a second pass
        for i in range(2, 162):
            (spark.range(1).selectExpr(f"id * {i} + {i} AS v")
             ._jdf.queryExecution().executedPlan().execute())  # compiles, runs no job

    execute_all()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    execute_all()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled
