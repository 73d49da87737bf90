"""Named-query registry.

Every judged operator (SURVEY.md §2) registers here as a named query:
a Spark implementation ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, the exact DuckDB oracle SQL the
driver diffs it against. Keeping impl + oracle side-by-side in the same
decorator call is what keeps column names / types / tiebreakers in sync
— the driver hash-compares values after sorting columns by name, so
drift between the two is an instant failure.

Float-determinism contract used throughout the registered queries:
sums/avgs over double columns are made exact and order-independent
before aggregating — either on the scaled-long fast path (integer
cents; functions/exact.py cents/lsum_money — the default for money
and fixed-precision columns since round 7) or by casting to DECIMAL
(the wide-magnitude fallback) — and converted to DOUBLE once at the
end, so Spark's parallel partial aggregates and DuckDB's
single-threaded fold produce bit-identical values. Top-k queries
always carry a total ordering (explicit tiebreaker keys).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# Exposure order for the driver contract. The driver samples the
# FIRST 50 registry entries each round, so ordering is the lever that
# decides which queries get externally certified. Policy: oldest
# freshest stamp first (the freshest stamp of a query is the latest
# CORRECTNESS_rNN.json that lists it), ties in name order.
# (1) slot 1: video_frame_sample, last certified at r9 — the oldest
#     stamp in the registry.
# (2) slots 2-33: the r12 remainder (events_rollup_grids ..
#     top_customers_per_segment, 32 queries), name order.
# (3) slots 34-50: the 17 oldest r13 stamps, name order
#     (cluster_keep_longest .. pricing_summary). After this window the
#     oldest stamp anywhere in the registry is r13.
# The previous window's changed-code slots held q18_large_orders (its
# band-gated broadcast of the HAVING-filtered aggregate; the X36 bloom
# was measured for that join and rejected) and jaccard_block_pairs
# (its code did not change). Both certified green in
# CORRECTNESS_r16.
# Changed-code note (round-9 verdict protocol): queries whose code is
# touched but NOT in the window are re-verified via testing.run_one in
# the touching session.
PRIORITY: tuple[str, ...] = (
    # (1) the oldest stamp, r9.
    "video_frame_sample",
    # (2) the 32 r12-stamped queries, name order.
    "events_rollup_grids",
    "exact_quantiles_sketched",
    "funnel_conversion",
    "fuzzy_customer_pairs",
    "in_subquery_parts",
    "incremental_corpus_dedup",
    "incremental_rollup_merge",
    "interpolate_sparse_series",
    "lateral_join_agg",
    "listagg_nation_customers",
    "math_conditional",
    "minhash_near_dup",
    "multimodal_features",
    "multiset_set_ops",
    "null_semantics",
    "pivot_priority_by_status",
    "ppm_decode_resize",
    "price_histogram",
    "q21_waiting_suppliers",
    "range_join_price_bands",
    "ratio_to_report",
    "recursive_cte_hierarchy",
    "repeated_shingle_ratio",
    "rolling_hash_fingerprint",
    "rollup_sales",
    "salted_hot_key_agg",
    "scd2_purchase_history",
    "term_frequencies",
    "tfidf_top_terms",
    "top1_price_alltime",
    "top1_price_today",
    "top_customers_per_segment",
    # (3) the 17 oldest-r13 stamps, name order.
    "cluster_keep_longest",
    "composite_key",
    "corrupt_record_quarantine",
    "customer_order_counts",
    "daily_event_type_pivot",
    "date_functions",
    "date_parse_roundtrip",
    "dedup_clusters",
    "dedup_rate_by_source",
    "distinct_order_status",
    "dq_checks",
    "embedding_covariance",
    "embedding_near_dup",
    "equi_depth_price_buckets",
    "event_type_association",
    "keyed_upsert_latest",
    "pricing_summary",
)


def _ordered() -> dict[str, QuerySpec]:
    _ensure_loaded()
    out = {n: REGISTRY[n] for n in PRIORITY if n in REGISTRY}
    out.update((n, s) for n, s in REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, QueryFn]:
    """The driver-facing query dict. Each callable releases the
    PREVIOUS query's tracked caches/broadcasts before building its own
    plan: the external driver materializes one query fully before
    invoking the next and never calls release_caches() itself, so
    without this wrapper every track_cache()d frame in a 50-query
    certification loop would stay persisted and executor memory would
    ratchet. Bench and tests manage release explicitly via
    registry.REGISTRY / release_caches().

    Hazard (build-then-materialize): a caller that builds SEVERAL of
    these plans before materializing any loses the persistence of all
    but the last — an unpersisted frame silently recomputes, which is
    only a perf hit because no registered query's CORRECTNESS depends
    on single materialization (plans are deterministic column
    expressions; the one operator that relied on a sampled exchange,
    surrogate_keys, was rewritten to deterministic bucketing). Keep it
    that way: never register a query whose correctness requires a
    persist to stick."""

    def wrap(spec: QuerySpec) -> QueryFn:
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_caches()
            return spec.fn(spark, sf_dir)

        fn.__name__ = spec.fn.__name__
        fn.__doc__ = spec.fn.__doc__
        return fn

    return {name: wrap(spec) for name, spec in _ordered().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None
    }


# Intra-query caches (persist() of a frame feeding both sides of a
# self-join) and SparkContext broadcasts (query matrices shipped to
# executors). Both must outlive the query's ACTION, so the query fn
# can't free them itself — it records them here and the harness
# releases them once the result is materialized, keeping executor and
# driver memory flat across a long many-query session.
_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_BROADCASTS: list = []
_TRACKED_MEMORY_TABLES: list[tuple[SparkSession, str]] = []
_TRACKED_SCRATCH_DIRS: list[str] = []


def track_scratch_dir(path: str) -> None:
    """Register an on-disk scratch dir (e.g. a shared-drain partial
    spool on tmpfs) for release_caches(). Same lifecycle contract as
    memory tables: any plan reading the dir must be materialized
    before the next registered query (or explicit release) runs."""
    _TRACKED_SCRATCH_DIRS.append(path)


def track_cache(df: DataFrame) -> DataFrame:
    """Persist df and register it for release_caches()."""
    df.persist()
    _TRACKED_CACHES.append(df)
    return df


def track_broadcast(bc):
    """Register a SparkContext broadcast for release_caches()."""
    _TRACKED_BROADCASTS.append(bc)
    return bc


def track_memory_table(spark: SparkSession, name: str) -> None:
    """Register a stream-drain memory-sink table for release_caches().
    Memory sinks hold every drained row in driver memory behind a temp
    view; without this, a 50-query certification loop or bench pass
    accumulates one table per drain and driver heap ratchets. Dropping
    the view is safe for the drain's already-returned DataFrame — it
    was analyzed at creation, so its plan no longer goes through the
    catalog — but frees the rows for GC once the caller discards it."""
    _TRACKED_MEMORY_TABLES.append((spark, name))


def release_caches() -> None:
    """Unpersist every tracked cache and broadcast (call after
    consuming a query). Broadcasts are unpersist()ed, not destroy()ed:
    unpersist frees the executor-side blocks (the leak) but leaves the
    broadcast re-sendable from the driver value, so a caller that
    builds several query plans before materializing them can still
    execute an older plan afterwards."""
    while _TRACKED_CACHES:
        try:
            _TRACKED_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped
    while _TRACKED_BROADCASTS:
        try:
            _TRACKED_BROADCASTS.pop().unpersist()
        except Exception:
            pass
    while _TRACKED_MEMORY_TABLES:
        spark, name = _TRACKED_MEMORY_TABLES.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    while _TRACKED_SCRATCH_DIRS:
        import shutil

        shutil.rmtree(_TRACKED_SCRATCH_DIRS.pop(), ignore_errors=True)


_loaded = False

# Import order is registration order, i.e. the order of REGISTRY (and of
# queries() after PRIORITY).
_OPERATOR_MODULES = (
    "attribution",
    "bloom_prune",
    "bpe",
    "clusters",
    "corpus_quality",
    "dedup",
    "embeddings",
    "graph",
    "ingest",
    "layout",
    "multimodal",
    "outer_joins",
    "quality",
    "robust_stats",
    "sampling",
    "relational",
    "retrieval",
    "scalar",
    "scalarfns",
    "scrub",
    "similarity",
    "sketches",
    "skew",
    "sql_api",
    "stats",
    "streaming_queries",
    "subqueries",
    "text",
    "topk",
    "tpch_like",
    "udfs",
    "window",
)


def _ensure_loaded() -> None:
    """Import every operator module so decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"master_airflow_spark.operators.{mod}")
    _loaded = True
