"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001; every
``queries()[name]`` runs at sf=0.01 and is compared against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). Implementations live in
``master_airflow_spark/``; this module only adapts the registry to the
driver's three-function surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from master_airflow_spark import registry

    # Load every operator module before topk alone, so registration
    # order (the order queries() exposes after PRIORITY) is the same
    # whichever driver function is called first.
    registry._ensure_loaded()
    from master_airflow_spark.operators.topk import flagship

    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # registry.queries() callables release the previous query's tracked
    # caches/broadcasts before building their own plan, keeping
    # executor/driver memory flat across the driver's sampling loop.
    from master_airflow_spark import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    from master_airflow_spark import registry

    return registry.oracles()
