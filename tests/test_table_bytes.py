"""relation_bytes must read a table's DATA bytes for every layout and URI.

The q5 / revenue_by_nation fact-probe gates, the q18 band and the
session drain's state-partition pick compare a table's size against
fixed bounds. They read Catalyst's size of the loaded relation, the
number Spark's own broadcast choice uses, so every layout Spark reads
is sized the same way: a single file, a Spark-written directory (its
_SUCCESS and .crc files do not count), a Hive-partitioned directory
and a file:// URI. A relation Catalyst cannot size must read as huge,
so every gate closes instead of opening at any volume.
"""

from __future__ import annotations

import os
import shutil

from master_airflow_spark.catalog import (
    load_table,
    parquet_part_stats,
    relation_bytes,
)


def _part_bytes(d) -> int:
    """Byte sum of the parquet parts Spark reads under ``d``."""
    total = 0
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def _write_orders(spark, sf_dir, dest, partition_cols=()):
    """A Spark-written replica of the test SF's orders at ``dest``."""
    w = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).repartition(3).write
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(str(dest))


def test_single_file_table(spark, sf_dir, tmp_path):
    p = tmp_path / "orders.parquet"
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), p)
    assert relation_bytes(load_table(spark, str(tmp_path), "orders")) == (
        os.path.getsize(p)
    )


def test_directory_table_sums_parts_not_inode(spark, sf_dir, tmp_path):
    d = tmp_path / "orders.parquet"
    _write_orders(spark, sf_dir, d)
    names = os.listdir(d)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    size = relation_bytes(load_table(spark, str(tmp_path), "orders"))
    assert size == _part_bytes(d)
    assert size != os.path.getsize(d)  # the directory inode's size


def test_nested_partition_dirs_are_walked(spark, sf_dir, tmp_path):
    """Hive-partitioned layout (key=value/part-*): every part under the
    partition dirs counts, and Spark's uncommitted _temporary output
    does not — for Catalyst's size and for the parquet_part_stats
    identity walk alike."""
    d = tmp_path / "orders.parquet"
    _write_orders(spark, sf_dir, d, ["o_orderpriority"])
    tmp = d / "_temporary" / "0"
    tmp.mkdir(parents=True)
    (tmp / "part-00009.parquet").write_bytes(b"t" * 500)
    size = relation_bytes(load_table(spark, str(tmp_path), "orders"))
    assert size == _part_bytes(d)
    parts = sorted(
        os.path.join(sub, f)
        for sub in os.listdir(d)
        if sub.startswith("o_orderpriority=")
        for f in os.listdir(d / sub)
        if f.endswith(".parquet")
    )
    assert len({os.path.dirname(p) for p in parts}) == 5
    assert [s[0] for s in parquet_part_stats(str(d))] == parts


def test_file_uri_table(spark, sf_dir, tmp_path):
    p = tmp_path / "orders.parquet"
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), p)
    df = load_table(spark, f"file://{tmp_path}", "orders")
    assert relation_bytes(df) == os.path.getsize(p)


def test_unsized_relation_closes_every_gate(spark):
    """An RDD-backed frame has no file size; Catalyst reports
    spark.sql.defaultSizeInBytes, which is past every bound the gates
    use (64 MB fact probe, q18's 256 MB band edge)."""
    rdd = spark.sparkContext.parallelize([(1,), (2,)])
    df = spark.createDataFrame(rdd, "x long")
    assert relation_bytes(df) >= 256 << 20
