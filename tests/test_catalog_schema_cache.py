"""The catalog's per-path schema cache (catalog.read_parquet): a repeat
read of an unchanged table launches no schema-inference job, returns the
same schema and rows as an inferring read, and a rewrite at the same
path is always seen."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_jlp_spark import catalog
from etl_jlp_spark.catalog import TABLES, load_table, table_path
from tests.conftest import SF_SMALL
from tools.parity import table_hash


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hash(df):
    return table_hash(df.columns, [tuple(r) for r in df.collect()])


def test_second_load_launches_no_job(spark, tmp_path):
    sf = str(tmp_path)
    shutil.copy(table_path(SF_SMALL, "orders"), table_path(sf, "orders"))
    first, n_first = _jobs(spark, "cache-first", lambda: load_table(spark, sf, "orders"))
    second, n_second = _jobs(spark, "cache-second", lambda: load_table(spark, sf, "orders"))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema


@pytest.mark.parametrize("name", TABLES)
def test_cached_read_matches_inferred_read(spark, name):
    path = table_path(SF_SMALL, name)
    catalog._SCHEMAS.pop(path, None)
    inferred = load_table(spark, SF_SMALL, name)
    assert path in catalog._SCHEMAS
    cached, jobs = _jobs(spark, f"cache-{name}", lambda: load_table(spark, SF_SMALL, name))
    assert jobs == 0
    assert cached.dtypes == inferred.dtypes
    assert _hash(cached) == _hash(inferred)


def _region_rows(n, extra=False):
    cols = {
        "r_regionkey": pa.array(range(n), pa.int64()),
        "r_name": pa.array([f"R{i}" for i in range(n)]),
    }
    if extra:
        cols["r_extra"] = pa.array([i * 10 for i in range(n)], pa.int64())
    return pa.table(cols)


def test_single_file_rewrite_is_seen(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "region")
    pq.write_table(_region_rows(3), path)
    before = load_table(spark, sf, "region")
    assert before.columns == ["r_regionkey", "r_name"]
    assert before.count() == 3
    pq.write_table(_region_rows(5, extra=True), path)
    after = load_table(spark, sf, "region")
    assert after.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r["r_extra"] for r in after.collect()) == [0, 10, 20, 30, 40]


def test_spark_directory_rewrite_is_seen(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "region")
    spark.createDataFrame(_region_rows(3).to_pandas()).write.mode("overwrite").parquet(path)
    before = load_table(spark, sf, "region")
    assert os.path.isdir(path)
    assert before.columns == ["r_regionkey", "r_name"]
    assert before.count() == 3
    new = spark.createDataFrame(_region_rows(5, extra=True).to_pandas())
    new.write.mode("overwrite").parquet(path)
    after = load_table(spark, sf, "region")
    assert after.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r["r_extra"] for r in after.collect()) == [0, 10, 20, 30, 40]


def test_unstatable_path_reads_uncached(spark):
    glob = os.path.join(SF_SMALL, "regio*.parquet")
    df, jobs = _jobs(spark, "cache-glob", lambda: catalog.read_parquet(spark, glob))
    assert jobs >= 1
    assert glob not in catalog._SCHEMAS
    assert df.count() == load_table(spark, SF_SMALL, "region").count()


def test_watermark_builder_launches_no_job_when_warm(spark):
    from etl_jlp_spark.registry import QUERIES

    import __spark_entry__  # noqa: F401  (populates the registry)

    build = QUERIES["ingest_incremental_watermark"]
    build(spark, SF_SMALL)
    df, jobs = _jobs(spark, "cache-watermark", lambda: build(spark, SF_SMALL))
    assert jobs == 0
    assert df.count() > 0
