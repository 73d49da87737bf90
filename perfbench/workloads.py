"""The benchmark's three workloads, each driven from outside the engine
through its public modules.

Every workload has the same life cycle: ``start`` binds it to a
session, ``gate`` runs the untimed correctness checks (and warms the
code paths it measures), ``warm`` is the lighter warm-up of a restarted
session, ``measure`` runs the timed loop and returns one latency per
operation, and ``layers`` turns a traced run's spans and attributed
Spark work into the per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import queue
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

import datagen
import stats
from spans import SpanCost, Tracer

TPCH = (
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
LLM = (
    "dedup_exact",
    "minhash_near_dup",
    "cosine_topk",
    "embedding_near_dup",
    "text_quality",
    "training_corpus_pipeline",
    "tfidf_top_terms",
    "lsh_bucketed_ann",
)
PRICE = ("top1_price_today", "top1_price_alltime", "daily_high_low")
CLASSES = {"tpch": TPCH, "llm": LLM, "price": PRICE}
DRAIN_VIEWS = ("stream_tumbling_agg", "stream_session_window")
GATE_THREADS = 4

# serve_prices: fixed open-loop arrival rate, connection cap, latency limit
SERVE_RATE_PER_S = 2.0
SERVE_MAX_CONNS = 4
SERVE_LIMIT_S = 2.0
SERVE_SERIAL_CALLS = 8
SERVE_WARM_ROUNDS = 8

# daily_ingest: dates per backfill cycle (the upsert history grows
# K-fold within a cycle), pages per date, rows per page
INGEST_DATES_PER_CYCLE = 4
INGEST_PAGES = 40
INGEST_ROWS_PER_PAGE = 250
INGEST_FIRST_DATE = dt.date(2024, 3, 1)

# a run stops starting new operations once this much wall time has gone
RUN_BUDGET_S = 140.0


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    t_start: float
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        msg = f"FAILED {what}: {detail}"[:2000]
        with self.lock:  # the gate records from several threads
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.notes.append(msg)
        if not ok:
            print(msg, file=sys.stderr, flush=True)
        return ok

    def attempt(self, what: str, fn) -> bool:
        """Run ``fn``. It passes by returning None or True; anything else
        it returns, or an exception it raises, is the failure's detail."""
        try:
            res = fn()
        except Exception as ex:  # one failed operation must not end the run
            return self.record(what, False, repr(ex))
        return self.record(what, res is None or res is True, str(res))

    def over_budget(self) -> bool:
        return time.perf_counter() - self.t_start > RUN_BUDGET_S


def settle(spark) -> None:
    """Collect the set-up's garbage before timing starts, so the first
    timed operation does not pay for it."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def noop(df) -> None:
    """Write every output column in full, collecting nothing back."""
    df.write.format("noop").mode("overwrite").save()


def per_unit(tr: Tracer, name: str, unit: str) -> float:
    """Mean over ``unit`` spans of the summed wall of ``name`` spans
    inside each (matched by the shared group id)."""
    groups = {s.group for s in tr.named(unit)}
    if not groups:
        return 0.0
    return sum(s.wall for s in tr.named(name) if s.group in groups) / len(groups)


def subtree(tr: Tracer, root_name: str) -> dict[int, list[int]]:
    """id of each ``root_name`` span -> ids of it and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in tr.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out = {}
    for r in tr.named(root_name):
        ids, todo = [], [r.id]
        while todo:
            i = todo.pop()
            ids.append(i)
            todo.extend(kids.get(i, ()))
        out[r.id] = ids
    return out


def merged_cost(costs: dict[int, SpanCost], ids) -> SpanCost:
    out = SpanCost()
    for i in ids:
        c = costs.get(i)
        if c is None:
            continue
        for k, v in vars(c).items():
            if k == "stage_intervals":
                out.stage_intervals.extend(v)
            else:
                setattr(out, k, getattr(out, k) + v)
    return out


class Batch:
    """batch_headline: closed loop, one client. A pass builds each of the
    24 headline queries fresh, writes it in full to the noop sink and
    releases its caches, then runs the two-view shared drain and
    materializes both views."""

    uses_tables = True

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.drain_timings: list[dict] = []
        self.drain_batches: list[int] = []
        self.serve_probe: Serve | None = None

    def start(self, spark) -> None:
        self.ctx.spark = spark
        from master_airflow_spark import registry

        registry._ensure_loaded()

    def stop(self) -> None:
        pass

    def gate(self) -> None:
        """Check all 26 headline outputs against their DuckDB oracles.

        The 24 batch queries are checked GATE_THREADS at a time (each
        with its own DuckDB cursor) and their caches released once all
        are done; the gate is untimed warm-up, and a query's result does
        not depend on what runs beside it."""
        from concurrent.futures import ThreadPoolExecutor

        from master_airflow_spark import registry, testing
        from master_airflow_spark.streaming.shared_drain import drain_events_multi

        spark, d = self.ctx.spark, self.ctx.data_dir
        con = testing.duckdb_connection(d)

        def compare(name: str, df_fn):
            cur = con.cursor()
            try:
                r = testing.compare(name, df_fn(), cur, registry.REGISTRY[name].oracle)
            finally:
                cur.close()
            return r.ok or " | ".join(r.mismatches[:3])

        def check(name: str, df_fn) -> None:
            self.ctx.attempt(f"gate {name}", lambda: compare(name, df_fn))

        try:
            with ThreadPoolExecutor(GATE_THREADS) as ex:
                futs = [
                    ex.submit(check, n, lambda n=n: registry.REGISTRY[n].fn(spark, d))
                    for names in CLASSES.values()
                    for n in names
                ]
                for f in futs:
                    f.result()
            registry.release_caches()
            try:
                res = drain_events_multi(spark, d, DRAIN_VIEWS)
            except Exception as ex:
                for v in DRAIN_VIEWS:
                    self.ctx.record(f"gate {v}", False, repr(ex))
            else:
                for v in DRAIN_VIEWS:
                    check(v, lambda v=v: res[v])
            registry.release_caches()
        finally:
            con.close()

    def warm(self) -> None:
        """A restarted session keeps the JVM's compiled code; run one
        query of each class and the drain so per-session state (Python
        workers, file listings, the stream source) is live again."""
        from master_airflow_spark import registry
        from master_airflow_spark.streaming.shared_drain import drain_events_multi

        spark, d = self.ctx.spark, self.ctx.data_dir
        for names in CLASSES.values():
            noop(registry.REGISTRY[names[0]].fn(spark, d))
            registry.release_caches()
        for df in drain_events_multi(spark, d, DRAIN_VIEWS).values():
            noop(df)
        registry.release_caches()

    def run_pass(self, tr: Tracer, i: int) -> None:
        from master_airflow_spark import registry
        from master_airflow_spark.streaming.shared_drain import drain_events_multi

        spark, d, ctx = self.ctx.spark, self.ctx.data_dir, self.ctx
        with tr.span("batch.pass", group=f"pass-{i}"):
            for cls, names in CLASSES.items():
                for n in names:
                    fn = registry.REGISTRY[n].fn

                    def one(cls=cls, fn=fn, n=n):
                        with tr.span(f"batch.query.{cls}", label=n):
                            with tr.span(f"registry.plan.{cls}"):
                                df = fn(spark, d)
                            with tr.span(f"operators.exec.{cls}"):
                                noop(df)
                            with tr.span("registry.release"):
                                registry.release_caches()

                    ctx.attempt(n, one)

            def drain():
                tm: dict = {}
                with tr.span("drain.unit"):
                    with tr.span("drain.pass"):
                        res = drain_events_multi(spark, d, DRAIN_VIEWS, timings=tm)
                    n_batches = self._committed_batches()
                    with tr.span("drain.merge"):
                        for v in DRAIN_VIEWS:
                            noop(res[v])
                    with tr.span("registry.release"):
                        registry.release_caches()
                self.drain_timings.append(tm)
                self.drain_batches.append(n_batches)

            ctx.attempt("shared drain", drain)

    def _committed_batches(self) -> int:
        """Micro-batches the drain just committed (its checkpoint's
        commit log; the drain's scratch root is released after use)."""
        root = os.path.join(os.environ["MAS_STREAM_SCRATCH_DIR"], "mas_shared_drain")
        n = 0
        for run in os.listdir(root) if os.path.isdir(root) else ():
            commits = os.path.join(root, run, "ckpt", "commits")
            if os.path.isdir(commits):
                n += sum(1 for f in os.listdir(commits) if f.isdigit())
        return n

    def measure(self, tr: Tracer, seconds: float) -> list[float]:
        self.drain_timings.clear()
        self.drain_batches.clear()
        settle(self.ctx.spark)
        t0 = time.perf_counter()
        i = 0
        while i == 0 or (time.perf_counter() - t0 < seconds and not self.ctx.over_budget()):
            self.run_pass(tr, i)
            i += 1
        if tr.sc is not None:
            self._probe_serving(tr)
        return [s.wall for s in tr.named("batch.pass")]

    def _probe_serving(self, tr: Tracer) -> None:
        """Serial serve/HTTP calls on the warm batch session (traced runs
        only): the serve and http_api layers' fixed cost per request."""
        probe = Serve(self.ctx)
        probe.start(self.ctx.spark)
        try:
            probe.payload = {path: call() for path, call in probe._calls().items()}
            probe.serial_probe(tr)
        finally:
            probe.stop()
        self.serve_probe = probe

    def details(self, tr: Tracer) -> dict:
        passes = tr.named("batch.pass")

        def by_group(name: str) -> list[float]:
            return [sum(s.wall for s in tr.named(name) if s.group == p.group) for p in passes]
        return {
            "batch_passes": len(passes),
            "batch_pass_walls_s": [p.wall for p in passes],
            "batch_pass_s": stats.median([p.wall for p in passes]),
            "batch_tpch_s": stats.median(by_group("batch.query.tpch")),
            "batch_llm_s": stats.median(by_group("batch.query.llm")),
            "batch_price_s": stats.median(by_group("batch.query.price")),
            "drain_s": stats.median([s.wall for s in tr.named("drain.unit")] or [0.0]),
        }

    def layers(self, tr: Tracer, costs: dict[int, SpanCost]) -> dict:
        out: dict[str, tuple[float, str]] = {}
        n_pass = max(1, len(tr.named("batch.pass")))
        plan_jobs = 0
        for cls in CLASSES:
            out[f"registry.plan_s.{cls}"] = (
                per_unit(tr, f"registry.plan.{cls}", "batch.pass"),
                "s",
            )
            plan_ids = [s.id for s in tr.named(f"registry.plan.{cls}")]
            plan_jobs += merged_cost(costs, plan_ids).jobs
            spans = tr.named(f"operators.exec.{cls}")
            c = merged_cost(costs, [s.id for s in spans])
            gap = sum(merged_cost(costs, [s.id]).sched_gap_s(s) for s in spans)
            for key, value, unit in (
                ("exec_s", sum(s.wall for s in spans), "s"),
                ("jobs", c.jobs, "count"),
                ("stages", c.stages, "count"),
                ("tasks", c.tasks, "count"),
                ("executor_run_s", c.executor_run_s, "s"),
                ("executor_cpu_s", c.executor_cpu_s, "s"),
                ("gc_s", c.gc_s, "s"),
                ("sched_gap_s", gap, "s"),
                ("shuffle_write_bytes", c.shuffle_write_bytes, "bytes"),
                ("shuffle_read_bytes", c.shuffle_read_bytes, "bytes"),
                ("input_bytes", c.input_bytes, "bytes"),
                ("spill_bytes", c.spill_bytes, "bytes"),
            ):
                out[f"operators.{key}.{cls}"] = (value / n_pass, unit)
        op_ids = [s.id for s in tr.spans if s.name.startswith("operators.")]
        out["operators.failed_tasks"] = (merged_cost(costs, op_ids).failed_tasks, "count")
        out["registry.plan_jobs"] = (plan_jobs / n_pass, "count")
        out["registry.release_s"] = (per_unit(tr, "registry.release", "batch.pass"), "s")

        tms = self.drain_timings or [{}]
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        out["drain.pass_wall_s"] = (mean([t.get("pass_wall", 0.0) for t in tms]), "s")
        out["drain.trigger_s"] = (mean([t.get("trigger", 0.0) for t in tms]), "s")
        for v in DRAIN_VIEWS:
            out[f"drain.view_handler_s.{v}"] = (
                mean([t.get("views", {}).get(v, 0.0) for t in tms]),
                "s",
            )
        out["drain.batches"] = (mean(self.drain_batches or [0]), "count")
        out["drain.merge_s"] = (per_unit(tr, "drain.merge", "batch.pass"), "s")
        units = tr.named("drain.unit")
        trees = subtree(tr, "drain.unit")
        n_units = max(1, len(units))
        unit_costs = [(u, merged_cost(costs, trees[u.id])) for u in units]
        out["drain.jobs"] = (sum(c.jobs for _, c in unit_costs) / n_units, "count")
        out["drain.sched_gap_s"] = (
            sum(c.sched_gap_s(u) for u, c in unit_costs) / n_units,
            "s",
        )
        if self.serve_probe is not None:
            out.update(self.serve_probe.serial_layers(costs))
        return out


def expected_payload(con, oracle: str) -> dict:
    """The serving payload the reference shape gives for oracle rows."""
    rows = {r[0]: r for r in con.execute(oracle).fetchall()}
    out = {}
    for which, key in (("highest", "highest_price"), ("lowest", "lowest_price")):
        r = rows.get(which)
        out[key] = (
            {"price": float(r[1]), "l_orderkey": int(r[2]), "l_linenumber": int(r[3])}
            if r is not None
            else None
        )
    return out


def http_get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


class Serve:
    """serve_prices: open loop over http_api.PriceServer on a warm
    session — Poisson arrivals at SERVE_RATE_PER_S, at most
    SERVE_MAX_CONNS connections, latency timed from each due time."""

    uses_tables = True

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.server = None
        self.payload: dict[str, dict] = {}
        self.requests: list[dict] = []
        self.lag: list[float] = []
        self.max_in_flight = 0
        self.serial: dict[str, list[float]] = {}

    def _calls(self):
        from master_airflow_spark import serve

        spark, d = self.ctx.spark, self.ctx.data_dir
        return {
            "/prices/today": lambda: serve.get_prices_today(spark, d),
            "/prices/alltime": lambda: serve.get_prices_alltime(spark, d),
        }

    def start(self, spark) -> None:
        from master_airflow_spark.http_api import PriceServer

        self.ctx.spark = spark
        self.server = PriceServer(spark, self.ctx.data_dir)
        self.server.__enter__()

    def stop(self) -> None:
        if self.server is not None:
            self.server.__exit__(None, None, None)
            self.server = None

    def gate(self) -> None:
        """The set-up payloads must match the DuckDB oracle, and the HTTP
        bodies must match the set-up payloads."""
        from master_airflow_spark import registry, testing

        registry._ensure_loaded()
        con = testing.duckdb_connection(self.ctx.data_dir)
        try:
            oracles = {
                "/prices/today": registry.REGISTRY["top1_price_today"].oracle,
                "/prices/alltime": registry.REGISTRY["top1_price_alltime"].oracle,
            }
            for path, call in self._calls().items():
                want = expected_payload(con, oracles[path])

                def check(call=call, want=want):
                    got = call()
                    return got == want or f"payload {got} != oracle {want}"

                self.ctx.attempt(f"gate payload {path}", check)
                self.payload[path] = want
        finally:
            con.close()
        self.warm()

    def _body_ok(self, path: str, status: int, body: bytes) -> bool:
        return status == 200 and json.loads(body) == self.payload[path]

    def warm(self) -> None:
        for _ in range(SERVE_WARM_ROUNDS):
            for path, call in self._calls().items():
                call()
                self.ctx.attempt(
                    f"warm GET {path}",
                    lambda path=path: self._body_ok(path, *http_get(self.server.port, path)),
                )

    def measure(self, tr: Tracer, seconds: float) -> list[float]:
        if tr.sc is not None:
            self.serial_probe(tr)
        sched = datagen.arrival_schedule(self.ctx.seed, SERVE_RATE_PER_S, seconds)
        port = self.server.port
        work: queue.Queue = queue.Queue()
        results: list[dict | None] = [None] * len(sched)
        lock = threading.Lock()
        in_flight = [0, 0]  # current, max

        def worker() -> None:
            while True:
                item = work.get()
                if item is None:
                    return
                i, due, path = item
                with lock:
                    in_flight[0] += 1
                    in_flight[1] = max(in_flight[1], in_flight[0])
                ok, err = False, ""
                with tr.span("serve.request", group=f"req-{i}"):
                    try:
                        ok = self._body_ok(path, *http_get(port, path))
                    except Exception as ex:  # refused / reset: counted as a miss
                        err = repr(ex)
                end = time.time()
                with lock:
                    in_flight[0] -= 1
                results[i] = {"path": path, "latency": end - due, "ok": ok, "err": err}

        threads = [threading.Thread(target=worker, daemon=True) for _ in range(SERVE_MAX_CONNS)]
        for t in threads:
            t.start()
        t0 = time.time() + 0.05
        lag = []
        for i, (off, path) in enumerate(sched):
            due = t0 + off
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            lag.append(time.time() - due)
            work.put((i, due, path))
        for _ in threads:
            work.put(None)
        deadline = time.time() + 30
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.time()))
        self.lag = lag
        self.max_in_flight = in_flight[1]
        self.requests = []
        for i, r in enumerate(results):
            if r is None:
                r = {"path": sched[i][1], "latency": float("inf"), "ok": False, "err": "unfinished"}
            self.ctx.record(f"GET {r['path']}", r["ok"], r["err"] or "wrong body")
            self.requests.append(r)
        done = [r["latency"] for r in self.requests if r["ok"]]
        return done or [float("inf")]

    def serial_probe(self, tr: Tracer) -> None:
        """Serial direct calls and serial HTTP requests, one at a time,
        alternating which of the pair goes first."""
        calls = self._calls()
        direct, over_http = [], []

        def call(k: int, path: str) -> None:
            with tr.span("serve.call", group=f"serial-{k}") as s:
                calls[path]()
            direct.append(s)

        def get(k: int, path: str) -> None:
            with tr.span("http.serial", group=f"serial-{k}") as s:
                ok = self._body_ok(path, *http_get(self.server.port, path))
            self.ctx.record(f"serial GET {path}", ok, "wrong body")
            over_http.append(s)

        for k in range(SERVE_SERIAL_CALLS):
            path = datagen.ENDPOINTS[k % 2]
            first, second = (call, get) if k % 4 < 2 else (get, call)
            first(k, path)
            second(k, path)
        self.serial = {"call": direct, "http": over_http}

    def serial_layers(self, costs: dict[int, SpanCost]) -> dict:
        calls = self.serial["call"]
        call = 1000 * stats.median([s.wall for s in calls])
        over_http = 1000 * stats.median([s.wall for s in self.serial["http"]])
        n = len(calls)
        return {
            "serve.call_ms": (call, "ms"),
            "http_api.overhead_ms": (over_http - call, "ms"),
            "serve.jobs_per_call": (merged_cost(costs, [s.id for s in calls]).jobs / n, "count"),
            "serve.sched_gap_ms_per_call": (
                1000 * sum(merged_cost(costs, [s.id]).sched_gap_s(s) for s in calls) / n,
                "ms",
            ),
        }

    def details(self, tr: Tracer) -> dict:
        lat = [r["latency"] for r in self.requests]
        miss = sum(1 for r in self.requests if not r["ok"] or r["latency"] > SERVE_LIMIT_S)
        ok_lat = [x for x in lat if x != float("inf")] or [float("inf")]
        tail, pct = stats.tail(ok_lat)
        return {
            "serve_requests": len(lat),
            "serve_p50_ms": 1000 * stats.median(ok_lat),
            "serve_tail_ms": 1000 * tail,
            "serve_tail_percentile": pct,
            "serve_slo_miss_frac": miss / max(1, len(lat)),
            "serve_rate_per_s": SERVE_RATE_PER_S,
            "loadgen_lag_ms_max": 1000 * max(self.lag or [0.0]),
        }

    def layers(self, tr: Tracer, costs: dict[int, SpanCost]) -> dict:
        over_http = 1000 * stats.median([s.wall for s in self.serial["http"]])
        p50 = 1000 * stats.median([r["latency"] for r in self.requests])
        reqs = tr.named("serve.request")
        n = max(1, len(reqs))
        out = self.serial_layers(costs)
        out.update(
            {
                "serve.queue_ms": (p50 - over_http, "ms"),
                "serve.jobs_per_request": (
                    merged_cost(costs, [s.id for s in reqs]).jobs / n,
                    "count",
                ),
                "serve.sched_gap_ms_per_request": (
                    1000 * sum(merged_cost(costs, [s.id]).sched_gap_s(s) for s in reqs) / n,
                    "ms",
                ),
                "loadgen.lag_ms": (1000 * stats.median(self.lag or [0.0]), "ms"),
                "loadgen.max_in_flight": (self.max_in_flight, "count"),
            }
        )
        return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of a Spark output directory, hidden files
    (checksums) excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.startswith("."):
                continue
            total += os.path.getsize(os.path.join(root, f))
            files += f.endswith(".parquet")
    return total, files


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith(".")
    )


def read_upsert(path: str) -> dict[tuple[str, str], tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        path, columns=["date", "station", "price", "city", "time", "user", "page_id"]
    ).to_pylist()
    return {
        (r["date"].isoformat(), r["station"]): (
            r["price"],
            r["city"],
            r["time"],
            r["user"],
            r["page_id"],
        )
        for r in t
    }


class Ingest:
    """daily_ingest: closed loop backfilling pipeline.gas_prices_pipeline
    over consecutive logical dates into a fresh sink per cycle of
    INGEST_DATES_PER_CYCLE dates, so the upsert history grows K-fold.
    It reads none of the engine tables."""

    uses_tables = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pages = {
            j: datagen.make_pages(
                ctx.seed, j, INGEST_PAGES, INGEST_ROWS_PER_PAGE
            )
            for j in range(INGEST_DATES_PER_CYCLE)
        }
        self.cycle = 0
        self.dates: list[dict] = []
        self.cycle_bytes_per_row: list[float] = []
        self.extracted: list[float] = []
        self.tr = Tracer()

    def start(self, spark) -> None:
        import pandas as pd

        from master_airflow_spark.pipeline import gas_prices_pipeline

        self.ctx.spark = spark
        if spark.sparkContext.getConf().get("spark.eventLog.enabled", "false") == "true":
            self._trace_writers()

        def pages_provider(rc):
            j = (dt.date.fromisoformat(rc.run_date) - INGEST_FIRST_DATE).days
            return spark.createDataFrame(
                pd.DataFrame(self.pages[j][0], columns=["page_id", "html"])
            )

        self.pipeline = gas_prices_pipeline(pages_provider)

    def _trace_writers(self) -> None:
        """Wrap the writer layer's entry points in spans (traced runs
        only): the pipeline's load stage calls them from inside."""
        from master_airflow_spark.sinks import writers

        for attr, name in (("fan_out", "writers.fan_out"), ("write_keyed_upsert", "writers.upsert")):
            fn = getattr(writers, attr)
            if getattr(fn, "__wrapped__", None) is not None:
                continue

            def wrapped(*a, _fn=fn, _name=name, **kw):
                with self.tr.span(_name):
                    return _fn(*a, **kw)

            wrapped.__wrapped__ = fn
            setattr(writers, attr, wrapped)

    def stop(self) -> None:
        pass

    def run_cycle(self, tr: Tracer, n_dates: int, check_label: str) -> None:
        self.tr = tr
        sink = os.path.join(self.ctx.work_dir, "sinks", f"cycle-{self.cycle}")
        self.cycle += 1
        shutil.rmtree(sink, ignore_errors=True)
        seen: list[tuple[str, list[dict]]] = []
        append_rows = 0
        prev_append = 0
        for j in range(n_dates):
            run_date = (INGEST_FIRST_DATE + dt.timedelta(days=j)).isoformat()
            rows = self.pages[j][1]
            rec: dict = {"rows": len(rows), "date_index": j}
            try:
                with tr.span("pipeline.run", group=f"c{self.cycle}-d{j}") as s:
                    out = self.pipeline.run(
                        self.ctx.spark, run_date, params={"sink_dir": sink}
                    )
            except Exception as ex:
                self.ctx.record(f"{check_label} {run_date}", False, repr(ex))
                return
            self.ctx.record(f"{check_label} {run_date}", True)
            rec["wall"] = s.wall
            rec["stage_s"] = dict(out.outputs["__timings__"])
            rec["attempts"] = sum(out.outputs["__attempts__"].values())
            seen.append((run_date, rows))
            append_rows += len(rows)
            append_bytes, _ = dir_bytes(os.path.join(sink, "append"))
            upsert_bytes, upsert_files = dir_bytes(os.path.join(sink, "upsert"))
            new_bytes = append_bytes - prev_append
            prev_append = append_bytes
            rec.update(
                bytes_written=new_bytes + upsert_bytes,
                write_amp=(new_bytes + upsert_bytes) / max(1, new_bytes),
                upsert_files=upsert_files,
            )
            got_rows = parquet_rows(os.path.join(sink, "append"))
            self.ctx.record(
                f"append rows {run_date}",
                got_rows == append_rows,
                f"{got_rows} != {append_rows}",
            )
            want = datagen.expected_upsert(seen)
            got = read_upsert(os.path.join(sink, "upsert"))
            self.ctx.record(
                f"upsert contents {run_date}",
                got == want,
                f"{len(got)} rows vs {len(want)} expected",
            )
            rec["live_rows"] = len(want)
            rec["stored_bytes_per_row"] = upsert_bytes / max(1, len(want))
            self.dates.append(rec)
        self.cycle_bytes_per_row.append(self.dates[-1]["stored_bytes_per_row"])
        shutil.rmtree(sink, ignore_errors=True)

    def gate(self) -> None:
        """Two checked dates: the first write, then a merge."""
        self.run_cycle(Tracer(), 2, "gate ingest")
        self.dates.clear()
        self.cycle_bytes_per_row.clear()

    def warm(self) -> None:
        self.gate()

    def measure(self, tr: Tracer, seconds: float) -> list[float]:
        self.dates.clear()
        self.cycle_bytes_per_row.clear()
        settle(self.ctx.spark)
        t0 = time.perf_counter()
        while not self.dates or (
            time.perf_counter() - t0 < seconds and not self.ctx.over_budget()
        ):
            self.run_cycle(tr, INGEST_DATES_PER_CYCLE, "ingest")
            if tr.sc is not None:
                self._extract_probe(tr)
        return [d["wall"] for d in self.dates] or [float("inf")]

    def _extract_probe(self, tr: Tracer) -> None:
        """The extract plan of one date run on its own (the pipeline only
        executes it inside the load stage's first write)."""
        from master_airflow_spark.sources.html_extract import scrape_pipeline

        import pandas as pd

        j = (self.cycle - 1) % INGEST_DATES_PER_CYCLE
        pages = self.ctx.spark.createDataFrame(
            pd.DataFrame(self.pages[j][0], columns=["page_id", "html"])
        )
        df = scrape_pipeline(pages, INGEST_FIRST_DATE.isoformat())
        with tr.span("html_extract.exec", group=f"probe-{self.cycle}"):
            n = df.count()
        self.extracted.append(n / INGEST_PAGES)
        self.ctx.record("extract rows", n == len(self.pages[j][1]), f"{n} rows")

    def details(self, tr: Tracer) -> dict:
        walls = [d["wall"] for d in self.dates]
        rows = sum(d["rows"] for d in self.dates)
        return {
            "ingest_dates": len(walls),
            "ingest_rows_per_s": rows / max(sum(walls), 1e-9),
            "ingest_stored_bytes_per_row": stats.median(self.cycle_bytes_per_row or [0.0]),
            "ingest_rows_per_date": rows / max(1, len(walls)),
            "ingest_date_s": walls,
        }

    def layers(self, tr: Tracer, costs: dict[int, SpanCost]) -> dict:
        n = max(1, len(self.dates))
        mean = lambda key: sum(d[key] for d in self.dates) / n  # noqa: E731
        out: dict[str, tuple[float, str]] = {
            f"pipeline.stage_s.{st}": (
                sum(d["stage_s"].get(st, 0.0) for d in self.dates) / n,
                "s",
            )
            for st in ("create_tables", "extract", "load")
        }
        out["pipeline.attempts"] = (mean("attempts"), "count")
        probes = [s.wall for s in tr.named("html_extract.exec")]
        out["html_extract.exec_s"] = (stats.median(probes or [0.0]), "s")
        out["html_extract.rows_per_page"] = (stats.median(self.extracted or [0.0]), "count")
        fan = sum(s.wall for s in tr.named("writers.fan_out"))
        ups = sum(s.wall for s in tr.named("writers.upsert"))
        out["writers.append_s"] = ((fan - ups) / n, "s")
        out["writers.upsert_s"] = (ups / n, "s")
        out["writers.bytes_written_per_date"] = (mean("bytes_written"), "bytes")
        out["writers.write_amp"] = (mean("write_amp"), "ratio")
        out["writers.upsert_files"] = (mean("upsert_files"), "count")
        out["writers.stored_bytes_per_row"] = (
            stats.median(self.cycle_bytes_per_row or [0.0]),
            "bytes",
        )
        return out


WORKLOADS = {"batch_headline": Batch, "serve_prices": Serve, "daily_ingest": Ingest}
