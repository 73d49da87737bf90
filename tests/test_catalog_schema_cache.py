"""catalog.read_parquet's schema cache: parquet schema inference (one
Spark job per read) runs once per file identity, so a warm load_table
and a warm query build launch no Spark job, while a rewritten table, a
missing path and a self-join behave exactly like a plain
spark.read.parquet."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from master_airflow_spark import catalog
from master_airflow_spark.catalog import (
    TABLES,
    load_table,
    parquet_part_stats,
    parquet_schema,
    read_parquet,
    table_path,
)

# The headline queries whose plan construction should need no Spark
# job once their tables' schemas are known (the LLM-class headline
# queries collect vocabularies/centroids while building, by design).
TPCH_HEADLINE = (
    "pricing_summary",
    "revenue_by_nation",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_filter",
    "q21_waiting_suppliers",
    "top_customers_per_segment",
    "asof_join_events_orders",
)
PRICE_HEADLINE = ("top1_price_today", "top1_price_alltime", "daily_high_low")


def _copy_table(sf_dir: str, name: str, dst_dir) -> str:
    path = table_path(str(dst_dir), name)
    shutil.copy(table_path(sf_dir, name), path)
    return path


def test_warm_load_table_launches_no_job(spark, sf_dir, tmp_path, jobs_launched):
    # A table the session has never read: the first load infers (the
    # counter sees that job), the second reuses the schema.
    _copy_table(sf_dir, "nation", tmp_path)
    with jobs_launched() as cold:
        load_table(spark, str(tmp_path), "nation")
    with jobs_launched() as warm:
        df = load_table(spark, str(tmp_path), "nation")
    assert len(cold) >= 1
    assert warm == []
    assert df.count() == 25


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    base = spark.range(5).withColumn("a", F.col("id") * 2)
    base.write.parquet(path)
    assert read_parquet(spark, path).columns == ["id", "a"]
    base.withColumn("b", F.lit("x")).write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "a", "b"]
    assert df.where("b = 'x'").count() == 5


def test_missing_path_raises_and_caches_nothing(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    with pytest.raises(AnalysisException):
        read_parquet(spark, path)
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "region")
    assert path not in catalog._SCHEMA_CACHE
    assert table_path(str(tmp_path), "region") not in catalog._SCHEMA_CACHE


def test_self_join_of_two_loads(spark, sf_dir):
    # q7/q8 shape: two loads of one table joined to each other must be
    # distinct relations, or the join condition collapses to a tautology.
    load_table(spark, sf_dir, "nation")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    got = n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
    ).count()
    pdf = n1.toPandas()
    pairs = pdf.merge(pdf, on="n_regionkey")
    want = int((pairs["n_nationkey_x"] < pairs["n_nationkey_y"]).sum())
    assert got == want > 0


@pytest.mark.parametrize("name", TABLES)
def test_cached_read_matches_plain_read(spark, sf_dir, name):
    path = table_path(sf_dir, name)
    read_parquet(spark, path)
    cached = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert cached.schema == plain.schema
    assert cached.dtypes == plain.dtypes
    assert parquet_schema(spark, path) == plain.schema


def test_concurrent_reads_agree(spark, sf_dir):
    """More threads than cores read every table at once from a cold
    cache, with a short switch interval: every frame carries the plain
    read's schema, and every entry left behind matches its files."""
    paths = [table_path(sf_dir, t) for t in TABLES]
    want = {p: spark.read.parquet(p).schema for p in paths}
    for p in paths:
        catalog._SCHEMA_CACHE.pop(p, None)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [
                ex.submit(lambda p=p: (p, read_parquet(spark, p).schema))
                for _ in range(3)
                for p in paths
            ]
            got = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(prev)
    assert all(schema == want[p] for p, schema in got)
    for p in paths:
        _, ident, schema, _ = catalog._SCHEMA_CACHE[p]
        assert ident == tuple(parquet_part_stats(p))
        assert schema == want[p]


def test_second_headline_build_launches_no_job(spark, sf_dir, jobs_launched):
    """Plan-time job pin: once every table's schema is known, building
    the TPC-H and price headline queries launches no Spark job."""
    from master_airflow_spark import registry

    registry._ensure_loaded()

    def build_all() -> None:
        for n in TPCH_HEADLINE + PRICE_HEADLINE:
            registry.REGISTRY[n].fn(spark, sf_dir)
            registry.release_caches()

    build_all()
    with jobs_launched() as second:
        build_all()
    assert second == []


def test_identity_change_replaces_the_entry(spark, sf_dir, tmp_path):
    path = _copy_table(sf_dir, "region", tmp_path)
    read_parquet(spark, path)
    before = catalog._SCHEMA_CACHE[path]
    os.utime(path, ns=(0, before[1][0][1] + 1))
    read_parquet(spark, path)
    after = catalog._SCHEMA_CACHE[path]
    assert after[1] != before[1]
    assert after[2] == before[2]
