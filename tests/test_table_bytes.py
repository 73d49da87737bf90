"""table_bytes must measure DATA bytes for both table layouts.

The q5 / revenue_by_nation fact-probe broadcast gates compare the
orders table's on-disk size against a 64 MB bound. os.path.getsize
returns the directory INODE size (~4-16 KB) for a directory-layout
table (any Spark-written output), which would hold the "small build
side" broadcast hint open at any data volume — the exact failure the
gate exists to prevent. table_bytes sums the part files instead.
"""

from __future__ import annotations

import os

from master_airflow_spark.catalog import parquet_part_stats, table_bytes


def test_single_file_table(tmp_path):
    p = tmp_path / "orders.parquet"
    p.write_bytes(b"x" * 1234)
    assert table_bytes(str(tmp_path), "orders") == 1234


def test_directory_table_sums_parts_not_inode(tmp_path):
    d = tmp_path / "orders.parquet"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"a" * 1000)
    (d / "part-00001.parquet").write_bytes(b"b" * 2000)
    (d / "_SUCCESS").write_bytes(b"")  # non-parquet markers don't count
    assert table_bytes(str(tmp_path), "orders") == 3000
    # the bug being pinned: getsize on the directory is the inode size
    assert os.path.getsize(str(d)) != 3000


def test_nested_partition_dirs_are_walked(tmp_path):
    """Hive-partitioned layout (key=value/part-*): every part under the
    partition dirs counts, parts sharing a file name in different dirs
    are distinct, and Spark's uncommitted _temporary output does not."""
    d = tmp_path / "orders.parquet"
    for prio, size in (("1-URGENT", 1000), ("2-HIGH", 2000)):
        part_dir = d / f"o_orderpriority={prio}"
        part_dir.mkdir(parents=True)
        (part_dir / "part-00000.parquet").write_bytes(b"p" * size)
    (d / "_SUCCESS").write_bytes(b"")
    tmp = d / "_temporary" / "0"
    tmp.mkdir(parents=True)
    (tmp / "part-00009.parquet").write_bytes(b"t" * 500)
    assert table_bytes(str(tmp_path), "orders") == 3000
    assert [s[0] for s in parquet_part_stats(str(d))] == [
        os.path.join("o_orderpriority=1-URGENT", "part-00000.parquet"),
        os.path.join("o_orderpriority=2-HIGH", "part-00000.parquet"),
    ]


def test_missing_table_is_zero(tmp_path):
    assert table_bytes(str(tmp_path), "orders") == 0
