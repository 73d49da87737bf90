"""Operator modules. ``registry._ensure_loaded()`` imports every one of
them, which registers each named query (and its DuckDB oracle) into
master_airflow_spark.registry. The package itself imports nothing, so a
Python worker that unpickles one module's kernel loads that module
alone."""
