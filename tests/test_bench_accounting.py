"""Golden test for bench.py's timing accounting (no Spark session).

bench.py's numbers come from one rule: credited rep, convergence of the
primary and every paired oracle series, ABAB oracle pairing and
min-of-pairs. This test drives `bench.main()` through scripted series
and pins its stdout line and BENCH_DETAIL dict, so a refactor of the
rep/pairing code cannot move any emitted number.

Everything Spark or DuckDB would do is stubbed: `session.get_spark`,
`registry.REGISTRY` (plus its loader and `release_caches`),
`catalog.load_table`, `testing.duckdb_connection`,
`shared_drain.drain_events_multi` and the `streaming.events` drain
counters. `bench.time.perf_counter` reads a virtual clock that only the
stubs advance, each by the next duration scripted for its key, so every
rep's wall time is exactly the scripted work inside it.

bench.py is imported from a copy in `tmp_path`, so the BENCH_DETAIL.json
it writes next to itself never touches the committed file.

The expected literals were produced by this harness run against the
bench.py that predates the PairedSeries refactor.
"""

from __future__ import annotations

import importlib.util
import json
import shutil
import sys
import types
from pathlib import Path

import pytest

from master_airflow_spark import catalog, registry, session, testing
from master_airflow_spark.streaming import events as stream_events
from master_airflow_spark.streaming import shared_drain

BENCH = Path(__file__).resolve().parents[1] / "bench.py"


class World:
    """Virtual clock, per-key scripted durations and the drain counters."""

    def __init__(self, script: dict) -> None:
        self.now = 0.0
        self.script = {k: list(v) for k, v in script.items()}
        self.trigger = self.drain_wall = 0.0
        self.trace: list[str] = []

    def perf_counter(self) -> float:
        return self.now

    def take(self, key):
        queue = self.script.get(key)
        assert queue, f"script for {key!r} exhausted"
        return queue.pop(0)

    def tick(self, key) -> None:
        self.now += self.take(key)


class Frame:
    """Stands in for a DataFrame: count() is free; a noop-sink write
    advances the clock by the next scripted duration for its key."""

    def __init__(self, world: World, key: tuple) -> None:
        self.world, self.key = world, key

    def count(self) -> int:
        return 7

    @property
    def write(self):
        return self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self) -> None:
        self.world.trace.append(":".join(self.key))
        self.world.tick(self.key)


def _query(world: World, name: str):
    """A registered fn. Names scripted under ("drain", name) behave like
    a stream drain: the call spends `drain_wall` seconds and leaves
    (`drain_wall`, `trigger`) in the drain counters."""

    def fn(spark, sf_dir):
        world.trace.append(f"fn:{name}")
        if ("drain", name) in world.script:
            world.drain_wall, world.trigger = world.take(("drain", name))
            world.now += world.drain_wall
        return Frame(world, ("run", name))

    return fn


def run_bench(path, monkeypatch, tmp_path, capsys, registered, script, argv=()):
    """Run `bench.main()` from a copy of `path` under the stubs; return
    (stdout JSON line, BENCH_DETAIL dict, call trace)."""
    world = World(script)
    copy = tmp_path / "bench.py"
    shutil.copy(path, copy)
    spec = importlib.util.spec_from_file_location("bench_under_test", copy)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    bench.time = types.SimpleNamespace(perf_counter=world.perf_counter)

    reg = {
        name: registry.QuerySpec(
            name=name, fn=_query(world, name), oracle=f"oracle:{name}" if has_oracle else None
        )
        for name, has_oracle in registered.items()
    }

    class Con:
        def execute(self, sql):
            name = sql.split(":", 1)[1]
            world.trace.append(f"duck:{name}")
            world.tick(("oracle", name))
            return types.SimpleNamespace(fetchall=lambda: [])

    def drain_events_multi(spark, sf_dir, views, timings=None):
        world.trace.append("unit")
        pass_wall, trigger, handler = world.take(("unit",))
        world.now += pass_wall
        if timings is not None:
            timings.update(
                pass_wall=pass_wall,
                trigger=trigger,
                trigger_recent=trigger,
                views=dict(zip(views, handler)),
            )
        return {v: Frame(world, ("merge", v)) for v in views}

    def reset():
        world.trigger = world.drain_wall = 0.0

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda _lvl: None, defaultParallelism=4)
    )
    monkeypatch.setattr(session, "get_spark", lambda **_kw: spark)
    monkeypatch.setattr(registry, "REGISTRY", reg)
    monkeypatch.setattr(registry, "_ensure_loaded", lambda: None)
    monkeypatch.setattr(registry, "release_caches", lambda: world.trace.append("release"))
    monkeypatch.setattr(catalog, "load_table", lambda *_a: Frame(world, ("table",)))
    monkeypatch.setattr(testing, "duckdb_connection", lambda _sf: Con())
    monkeypatch.setattr(shared_drain, "drain_events_multi", drain_events_multi)
    monkeypatch.setattr(stream_events, "reset_drain_trigger_seconds", reset)
    monkeypatch.setattr(stream_events, "drain_trigger_seconds", lambda: world.trigger)
    monkeypatch.setattr(stream_events, "drain_wall_seconds", lambda: world.drain_wall)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setattr(sys, "argv", ["bench.py", *argv])

    capsys.readouterr()
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    return line, detail, world.trace


# Scripts: the first ("run", name) duration of a batch query and the
# first ("unit",)/("merge", view) entries belong to the untimed warm pass.
# ("unit",) entries are (pass_wall, trigger, per-view handler seconds).
FAIR = dict(
    registered={
        "top1_price_today": True,  # converges at 3 reps
        "pricing_summary": False,  # no oracle; 2nd-fastest 1.19x at rep 3
        "q3_shipping_priority": True,  # oracle converges after Spark
        "lsh_bucketed_ann": True,  # rebuilt each rep, with a drain credit
        "q5_local_supplier_volume": True,  # never converges: REPS_MAX
        "stream_tumbling_agg": True,
        "stream_session_window": True,
        "stream_session_window_state": False,  # per-query audit twin
    },
    script={
        ("run", "top1_price_today"): [0.5, 1.0, 1.0625, 1.125],
        ("oracle", "top1_price_today"): [0.25, 0.25, 0.265625],
        ("run", "pricing_summary"): [0.5, 1.5, 1.0, 1.1875, 1.0625],
        ("run", "q3_shipping_priority"): [0.75, 1.0, 1.0, 1.0625, 1.5, 1.25],
        ("oracle", "q3_shipping_priority"): [0.5, 0.375, 1.0, 0.75, 0.40625],
        ("run", "lsh_bucketed_ann"): [0.25, 0.75, 0.75, 0.8125],
        ("drain", "lsh_bucketed_ann"): [(0.0, 0.0), (0.5, 0.125), (0.5, 0.125), (0.5, 0.125)],
        ("oracle", "lsh_bucketed_ann"): [1.0, 1.0, 1.0625],
        ("run", "q5_local_supplier_volume"): [2.0, 3.0, 1.0, 2.0, 1.25, 1.5, 5.0, 6.0, 7.0],
        ("oracle", "q5_local_supplier_volume"): [2.0, 1.0625, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0],
        # shared-drain unit: trigger credit on reps 1, 3, 4; rep 2 has
        # trigger == 0 and falls back to wall
        ("unit",): [
            (1.0, 0.25, (0.5, 0.5)),
            (2.0, 0.5, (0.75, 0.25)),
            (2.0, 0.0, (0.75, 0.25)),
            (1.875, 0.5, (0.5, 0.5)),
            (2.0, 0.5625, (0.625, 0.375)),
        ],
        ("merge", "stream_tumbling_agg"): [0.125, 0.25, 0.25, 0.25, 0.25],
        ("merge", "stream_session_window"): [0.125, 0.125, 0.125, 0.125, 0.125],
        # per-query audits: (drain_wall, trigger) per fn call
        ("drain", "stream_tumbling_agg"): [(1.0, 0.25), (1.0, 0.25), (1.125, 0.25)],
        ("run", "stream_tumbling_agg"): [0.125, 0.125, 0.125],
        ("drain", "stream_session_window_state"): [(1.5, 0.0), (1.5, 0.5), (1.5, 0.5)],
        ("run", "stream_session_window_state"): [0.25, 0.25, 0.25],
        # the unit's and the audit's oracle reps share one queue per view
        ("oracle", "stream_tumbling_agg"): [0.125] * 7,
        ("oracle", "stream_session_window"): [0.25, 0.5, 0.5, 0.5, 0.375, 0.5, 0.25],
    },
)

UNFAIR = dict(
    registered={"top1_price_alltime": True, "daily_high_low": True},
    script={
        ("run", "top1_price_alltime"): [0.5, 1.0, 1.5, 1.0625],
        ("oracle", "top1_price_alltime"): [1.0, 0.25, 0.25],
        ("run", "daily_high_low"): [0.5, 1.0, 1.0, 1.0],
        ("oracle", "daily_high_low"): [0.5, 0.5, 0.5],
    },
)

NO_ORACLE = dict(
    registered={
        "top1_price_today": True,
        "q18_large_orders": True,
        "stream_tumbling_agg": True,
        "stream_session_window": True,
        "stream_session_window_state": False,
    },
    script={
        ("run", "top1_price_today"): [0.5, 1.0, 1.0625, 1.125],
        ("run", "q18_large_orders"): [0.5, 2.0, 1.25, 1.25],
        ("unit",): [
            (1.0, 0.25, (0.5, 0.5)),
            (2.0, 0.5, (0.75, 0.25)),
            (2.0, 0.5, (0.75, 0.25)),
            (2.0, 0.5, (0.75, 0.25)),
        ],
        ("merge", "stream_tumbling_agg"): [0.125, 0.25, 0.25, 0.25],
        ("merge", "stream_session_window"): [0.125, 0.125, 0.125, 0.125],
        ("drain", "stream_tumbling_agg"): [(1.0, 0.25), (1.0, 0.25), (1.0, 0.25)],
        ("run", "stream_tumbling_agg"): [0.125, 0.125, 0.125],
        ("drain", "stream_session_window_state"): [(1.5, 0.5), (1.5, 0.5), (1.5, 0.5)],
        ("run", "stream_session_window_state"): [0.25, 0.25, 0.25],
    },
    argv=("--no-oracle",),
)


# Expected output, recorded from the pre-refactor bench.py under this harness.

FAIR_EXPECTED = {
    "line": {
        "metric": "headline_queries_total",
        "value": 5.75,
        "unit": "sec",
        "queries": {
            "top1_price_today": 1.0,
            "pricing_summary": 1.0,
            "q3_shipping_priority": 1.0,
            "stream_tumbling_agg": 0.625,
            "stream_session_window": 0.25,
            "q5_local_supplier_volume": 1.0,
            "lsh_bucketed_ann": 0.875,
        },
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 4.125,
        "value_wall_drains": 7.5,
        "legacy_total_wall": 5.875,
        "cpus_effective": 4,
        "oracle_total": 3.1875,
        "oracle_total_min": 3.0,
        "pairing_fairness": 1.0625,
        "pairing_fair": True,
        "oracle_legacy_total": 1.375,
    },
    "detail": {
        "reps": {
            "min": 3,
            "max": 8,
            "used": {
                "top1_price_today": 3,
                "pricing_summary": 4,
                "q3_shipping_priority": 5,
                "stream_tumbling_agg": 4,
                "stream_session_window": 4,
                "q5_local_supplier_volume": 8,
                "lsh_bucketed_ann": 3,
            },
        },
        "rebuilt": ["cosine_topk", "embedding_near_dup", "lsh_bucketed_ann"],
        "queries": {
            "top1_price_today": 1.0,
            "pricing_summary": 1.0,
            "q3_shipping_priority": 1.0,
            "stream_tumbling_agg": 0.625,
            "stream_session_window": 0.25,
            "q5_local_supplier_volume": 1.0,
            "lsh_bucketed_ann": 0.875,
        },
        "drain_wall_sec": {
            "stream_tumbling_agg": 1.75,
            "stream_session_window": 0.625,
            "lsh_bucketed_ann": 1.25,
        },
        "wall_timings_drains": {
            "stream_tumbling_agg": 1.1875,
            "stream_session_window": 1.0625,
            "lsh_bucketed_ann": 1.25,
        },
        "per_query_drain_sec": {"stream_tumbling_agg": 0.375, "stream_session_window": 0.75},
        "per_query_drain_wall_sec": {"stream_tumbling_agg": 1.125, "stream_session_window": 1.75},
        "drain_group": {
            "unit_credited_sec": 0.875,
            "unit_wall_sec": 2.375,
            "pass_wall_sec": 2.0,
            "trigger_sec_listener": 0.5,
            "trigger_sec_recent_progress": 0.5,
            "view_handler_sec": {"stream_tumbling_agg": 0.75, "stream_session_window": 0.25},
            "merge_sec": {"stream_tumbling_agg": 0.25, "stream_session_window": 0.125},
            "reps": 4,
        },
        "oracle_queries": {
            "top1_price_today": 0.25,
            "q3_shipping_priority": 0.5,
            "stream_tumbling_agg": 0.125,
            "stream_session_window": 0.25,
            "q5_local_supplier_volume": 1.0625,
            "lsh_bucketed_ann": 1.0,
        },
        "oracle_queries_min": {
            "top1_price_today": 0.25,
            "q3_shipping_priority": 0.375,
            "stream_tumbling_agg": 0.125,
            "stream_session_window": 0.25,
            "q5_local_supplier_volume": 1.0,
            "lsh_bucketed_ann": 1.0,
        },
        "speedup_vs_oracle": {
            "top1_price_today": 0.25,
            "q3_shipping_priority": 0.5,
            "stream_tumbling_agg": 0.2,
            "stream_session_window": 1.0,
            "q5_local_supplier_volume": 1.06,
            "lsh_bucketed_ann": 1.14,
        },
        "oracle_queries_pq_drain_paired": {"stream_tumbling_agg": 0.125, "stream_session_window": 0.5},
        "oracle_spread": {
            "top1_price_today": 1.0,
            "q3_shipping_priority": 1.083,
            "stream_tumbling_agg": 1.0,
            "stream_session_window": 1.0,
            "q5_local_supplier_volume": 1.0,
            "lsh_bucketed_ann": 1.0,
        },
        "metric": "headline_queries_total",
        "value": 5.75,
        "unit": "sec",
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 4.125,
        "value_wall_drains": 7.5,
        "legacy_total_wall": 5.875,
        "cpus_effective": 4,
        "oracle_total": 3.1875,
        "oracle_total_min": 3.0,
        "pairing_fairness": 1.0625,
        "pairing_fair": True,
        "oracle_legacy_total": 1.375,
    },
    "trace": (
        "fn:top1_price_today run:top1_price_today release fn:pricing_summary "
        "run:pricing_summary release fn:q3_shipping_priority run:q3_shipping_priority "
        "release fn:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "fn:lsh_bucketed_ann run:lsh_bucketed_ann release unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "run:top1_price_today release duck:top1_price_today run:top1_price_today "
        "release duck:top1_price_today run:top1_price_today release "
        "duck:top1_price_today run:pricing_summary release run:pricing_summary "
        "release run:pricing_summary release run:pricing_summary release "
        "run:q3_shipping_priority release duck:q3_shipping_priority "
        "run:q3_shipping_priority release duck:q3_shipping_priority "
        "run:q3_shipping_priority release duck:q3_shipping_priority "
        "run:q3_shipping_priority release duck:q3_shipping_priority "
        "run:q3_shipping_priority release duck:q3_shipping_priority unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "duck:stream_tumbling_agg duck:stream_session_window fn:stream_tumbling_agg "
        "run:stream_tumbling_agg release duck:stream_tumbling_agg "
        "fn:stream_session_window_state run:stream_session_window_state release "
        "duck:stream_session_window unit merge:stream_tumbling_agg "
        "merge:stream_session_window release duck:stream_tumbling_agg "
        "duck:stream_session_window fn:stream_tumbling_agg run:stream_tumbling_agg "
        "release duck:stream_tumbling_agg fn:stream_session_window_state "
        "run:stream_session_window_state release duck:stream_session_window unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "duck:stream_tumbling_agg duck:stream_session_window fn:stream_tumbling_agg "
        "run:stream_tumbling_agg release duck:stream_tumbling_agg "
        "fn:stream_session_window_state run:stream_session_window_state release "
        "duck:stream_session_window unit merge:stream_tumbling_agg "
        "merge:stream_session_window release duck:stream_tumbling_agg "
        "duck:stream_session_window run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume run:q5_local_supplier_volume release "
        "duck:q5_local_supplier_volume fn:lsh_bucketed_ann run:lsh_bucketed_ann "
        "release duck:lsh_bucketed_ann fn:lsh_bucketed_ann run:lsh_bucketed_ann "
        "release duck:lsh_bucketed_ann fn:lsh_bucketed_ann run:lsh_bucketed_ann "
        "release duck:lsh_bucketed_ann"
    ),
}

UNFAIR_EXPECTED = {
    "line": {
        "metric": "headline_queries_total",
        "value": 2.0,
        "unit": "sec",
        "queries": {"top1_price_alltime": 1.0, "daily_high_low": 1.0},
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 2.0,
        "value_wall_drains": 2.0,
        "legacy_total_wall": 2.0,
        "cpus_effective": 4,
        "oracle_total": 1.5,
        "oracle_total_min": 0.75,
        "pairing_fairness": 2.0,
        "pairing_fair": False,
        "oracle_legacy_total": 1.5,
    },
    "detail": {
        "reps": {"min": 3, "max": 8, "used": {"top1_price_alltime": 3, "daily_high_low": 3}},
        "rebuilt": ["cosine_topk", "embedding_near_dup", "lsh_bucketed_ann"],
        "queries": {"top1_price_alltime": 1.0, "daily_high_low": 1.0},
        "drain_wall_sec": {},
        "wall_timings_drains": {},
        "per_query_drain_sec": {},
        "per_query_drain_wall_sec": {},
        "drain_group": {},
        "oracle_queries": {"top1_price_alltime": 1.0, "daily_high_low": 0.5},
        "oracle_queries_min": {"top1_price_alltime": 0.25, "daily_high_low": 0.5},
        "speedup_vs_oracle": {"top1_price_alltime": 1.0, "daily_high_low": 0.5},
        "oracle_queries_pq_drain_paired": {},
        "oracle_spread": {"top1_price_alltime": 1.0, "daily_high_low": 1.0},
        "metric": "headline_queries_total",
        "value": 2.0,
        "unit": "sec",
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 2.0,
        "value_wall_drains": 2.0,
        "legacy_total_wall": 2.0,
        "cpus_effective": 4,
        "oracle_total": 1.5,
        "oracle_total_min": 0.75,
        "pairing_fairness": 2.0,
        "pairing_fair": False,
        "oracle_legacy_total": 1.5,
    },
    "trace": (
        "fn:top1_price_alltime run:top1_price_alltime release fn:daily_high_low "
        "run:daily_high_low release run:top1_price_alltime release "
        "duck:top1_price_alltime run:top1_price_alltime release "
        "duck:top1_price_alltime run:top1_price_alltime release "
        "duck:top1_price_alltime run:daily_high_low release duck:daily_high_low "
        "run:daily_high_low release duck:daily_high_low run:daily_high_low release "
        "duck:daily_high_low"
    ),
}

NO_ORACLE_EXPECTED = {
    "line": {
        "metric": "headline_queries_total",
        "value": 3.125,
        "unit": "sec",
        "queries": {
            "top1_price_today": 1.0,
            "stream_tumbling_agg": 0.625,
            "stream_session_window": 0.25,
            "q18_large_orders": 1.25,
        },
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 2.125,
        "value_wall_drains": 4.625,
        "legacy_total_wall": 3.875,
        "cpus_effective": 4,
    },
    "detail": {
        "reps": {
            "min": 3,
            "max": 8,
            "used": {
                "top1_price_today": 3,
                "stream_tumbling_agg": 3,
                "stream_session_window": 3,
                "q18_large_orders": 3,
            },
        },
        "rebuilt": ["cosine_topk", "embedding_near_dup", "lsh_bucketed_ann"],
        "queries": {
            "top1_price_today": 1.0,
            "stream_tumbling_agg": 0.625,
            "stream_session_window": 0.25,
            "q18_large_orders": 1.25,
        },
        "drain_wall_sec": {"stream_tumbling_agg": 1.75, "stream_session_window": 0.625},
        "wall_timings_drains": {"stream_tumbling_agg": 1.75, "stream_session_window": 0.625},
        "per_query_drain_sec": {"stream_tumbling_agg": 0.375, "stream_session_window": 0.75},
        "per_query_drain_wall_sec": {"stream_tumbling_agg": 1.125, "stream_session_window": 1.75},
        "drain_group": {
            "unit_credited_sec": 0.875,
            "unit_wall_sec": 2.375,
            "pass_wall_sec": 2.0,
            "trigger_sec_listener": 0.5,
            "trigger_sec_recent_progress": 0.5,
            "view_handler_sec": {"stream_tumbling_agg": 0.75, "stream_session_window": 0.25},
            "merge_sec": {"stream_tumbling_agg": 0.25, "stream_session_window": 0.125},
            "reps": 3,
        },
        "metric": "headline_queries_total",
        "value": 3.125,
        "unit": "sec",
        "sf": 0.1,
        "methodology": "v7-abab-min-of-pairs",
        "legacy_total": 2.125,
        "value_wall_drains": 4.625,
        "legacy_total_wall": 3.875,
        "cpus_effective": 4,
    },
    "trace": (
        "fn:top1_price_today run:top1_price_today release fn:q18_large_orders "
        "run:q18_large_orders release unit merge:stream_tumbling_agg "
        "merge:stream_session_window release run:top1_price_today release "
        "run:top1_price_today release run:top1_price_today release unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "fn:stream_tumbling_agg run:stream_tumbling_agg release "
        "fn:stream_session_window_state run:stream_session_window_state release unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "fn:stream_tumbling_agg run:stream_tumbling_agg release "
        "fn:stream_session_window_state run:stream_session_window_state release unit "
        "merge:stream_tumbling_agg merge:stream_session_window release "
        "fn:stream_tumbling_agg run:stream_tumbling_agg release "
        "fn:stream_session_window_state run:stream_session_window_state release "
        "run:q18_large_orders release run:q18_large_orders release "
        "run:q18_large_orders release"
    ),
}


@pytest.mark.parametrize(
    "case, expected",
    [
        pytest.param(FAIR, "FAIR_EXPECTED", id="fair"),
        pytest.param(UNFAIR, "UNFAIR_EXPECTED", id="unfair"),
        pytest.param(NO_ORACLE, "NO_ORACLE_EXPECTED", id="no_oracle"),
    ],
)
def test_bench_accounting_golden(case, expected, monkeypatch, tmp_path, capsys):
    line, detail, trace = run_bench(BENCH, monkeypatch, tmp_path, capsys, **case)
    want = globals()[expected]
    assert json.loads(line) == want["line"]
    assert len(line) <= 1500
    assert detail == want["detail"]
    assert " ".join(trace) == want["trace"]
