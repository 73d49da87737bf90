"""Table maintenance — small-file compaction.

Streaming sinks and per-batch appends produce many small files; at
100 TB the file count, not the byte count, kills scan planning (driver
file-listing, one task per tiny split, row-group overhead). Compaction
rewrites a parquet directory into ~target-sized files. The sort_by
option re-clusters rows so min/max row-group statistics become
selective for the sorted column (the poor man's Z-order: range
predicates on that column skip whole row groups after compaction)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from master_airflow_spark.catalog import relation_bytes

TARGET_FILE_BYTES = 128 * 1024 * 1024  # the maxPartitionBytes-friendly size


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite `path` into ceil(total_bytes / target) files, optionally
    range-clustered by sort_by, where total_bytes is Catalyst's size of
    the table (catalog.relation_bytes). Write-then-swap: the rewrite
    lands in a sibling temp dir and replaces the original only on
    success. Returns {files_before, files_after}."""
    before = [
        f for f in os.listdir(path) if f.endswith(".parquet") or f.startswith("part-")
    ]
    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(relation_bytes(df) / target_file_bytes))
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)

    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")))
    try:
        df.write.mode("overwrite").parquet(tmp)
        old = path.rstrip("/") + ".old"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    after = [
        f for f in os.listdir(path) if f.endswith(".parquet") or f.startswith("part-")
    ]
    return {"files_before": len(before), "files_after": len(after)}
