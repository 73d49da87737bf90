"""Generated-code cache pin: a warm pass over the 24 batch headline
queries reuses the classes Janino compiled for the previous pass instead
of recompiling them (session.py sizes spark.sql.codegen.cache.maxEntries
to the engine's working set; at Spark's default of 100 entries the LRU
evicts every class of a ~300-class pass before the next pass needs it)."""

from __future__ import annotations

import bench

# A warm pass may still compile a few classes: q8's codegen stage ids
# follow the order in which AQE's three parallel broadcast stages finish,
# so a different finishing order produces the same classes with permuted
# ids (new source text). Probes saw 0-8 warm recompiles per pass (q8's,
# where broken down per query); without the sized cache a pass
# recompiles ~330.
WARM_COMPILE_BOUND = 20


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_headline_pass_reuses_compiled_classes(spark, sf_dir):
    from master_airflow_spark import registry

    registry._ensure_loaded()
    names = [n for n in bench.HEADLINE if n not in bench.DRAIN_GROUP]
    assert len(names) == 24

    def one_pass() -> None:
        for n in names:
            bench.materialize(registry.REGISTRY[n].fn(spark, sf_dir))
            registry.release_caches()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= WARM_COMPILE_BOUND
