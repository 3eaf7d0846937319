"""Driver-contract tests: every oracle-backed __spark_entry__ query
matches its DuckDB twin at the smoke tier (row count, schema, exact
values) — a local mimic of the driver's CORRECTNESS gate."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_correctness import TABLES, compare  # noqa: E402


@pytest.fixture(scope="module")
def duck(smoke_sf_dir):
    # corpus oracles must read the golden parquet of the tier the
    # queries run at (driver gates at 20k; this mimic at the smoke tier)
    from datasketches_java_spark.corpus.loader import rows_for_sf_dir

    os.environ["SPARK_GRAFT_ORACLE_ROWS"] = str(rows_for_sf_dir(smoke_sf_dir))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(smoke_sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    os.environ.pop("SPARK_GRAFT_ORACLE_ROWS", None)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_oracle_query_matches(spark, smoke_sf_dir, duck, name):
    """The query's rows match the oracle's, and once the query's scope
    and the shared pipeline runs are closed, no RDD it persisted stays."""
    from datasketches_java_spark.scope import RunScope

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with RunScope():
        sdf = entrymod.queries()[name](spark, smoke_sf_dir).toPandas()
    entrymod.SHARED_RUNS.close()
    odf = duck.sql(entrymod.oracle_sql()[name]).df()
    problems = compare(sdf, odf)
    assert not problems, problems
    assert not set(jsc.getPersistentRDDs().keySet()) - before


def test_all_queries_have_impl():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {"id_a", "id_b", "jaccard_est"}


def test_shared_run_outlives_the_scope_that_built_it(spark, smoke_sf_dir, duck):
    """SHARED_RUNS alone owns the runs it hands out: the scope open when
    a query first builds a run closes, and a later query that shares the
    run, in its own scope, still reads it (it failed with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND when the first scope freed it)."""
    from datasketches_java_spark.scope import RunScope

    try:
        for name in ("corpus_dup_pairs", "corpus_clusters"):
            with RunScope():
                sdf = entrymod.queries()[name](spark, smoke_sf_dir).toPandas()
            odf = duck.sql(entrymod.oracle_sql()[name]).df()
            assert not compare(sdf, odf), name
    finally:
        entrymod.SHARED_RUNS.close()
