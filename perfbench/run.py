"""Benchmark of the master_airflow_spark engine, driven from outside it.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run pins its environment, makes
its inputs from ``--seed`` under ``.perfbench_work/`` in the checkout,
starts a session, runs the workload's untimed correctness gate, then
measures for ``--seconds``. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a second, traced measurement (Spark event log on) made in
the same process after the untraced one. The line before it carries
the workload's own figures and the pinned environment.

Without the engine package next to this directory the run exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM_GB = 3


def pin_env(work: str) -> dict[str, str]:
    """Everything the session and its Python workers read from the
    environment, pointed inside ``work``; returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gb = max(1, min(DRIVER_MEM_GB, int(ram_gb // 2)))
    dirs = {
        "SPARK_LOCAL_DIRS": "spark-local",
        "TMPDIR": "tmp",
        "MAS_STREAM_SCRATCH_DIR": "stream-scratch",
        "SPARK_GRAFT_WAREHOUSE": "warehouse",
    }
    pinned = {k: os.path.join(work, v) for k, v in dirs.items()}
    for path in pinned.values():
        os.makedirs(path, exist_ok=True)
    pinned.update(
        # every JVM the session starts (the launcher too) keeps its
        # temp files in the work dir and writes no perf-data file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={pinned['TMPDIR']}",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.update(pinned)
    for k in ("SPARK_GRAFT_UI", "SPARK_GRAFT_EVENTLOG_DIR", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    return pinned


def start_session(event_log: str | None):
    from master_airflow_spark.session import get_spark

    if event_log:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = event_log
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_catalog(spark, data_dir: str) -> float:
    """Load every table once; returns the median of five warm
    ``load_table`` calls in milliseconds."""
    from master_airflow_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, data_dir, t)
    warm = []
    for _ in range(5):
        t0 = time.perf_counter()
        load_table(spark, data_dir, "lineitem")
        warm.append(1000 * (time.perf_counter() - t0))
    return sorted(warm)[2]


def shutdown_jvm() -> None:
    """Stop the session's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "master_airflow_spark", "__init__.py")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import stats
    import workloads
    from spans import Tracer, attribute, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    data_dir = os.path.join(work, "data")
    wl_cls = workloads.WORKLOADS[args.workload]
    if wl_cls.uses_tables:
        datagen.write_tables(args.seed, data_dir)
    ctx = workloads.Ctx(None, data_dir, work, args.seed, t_run)
    wl = wl_cls(ctx)
    gen_s = time.perf_counter() - t_run

    layers: dict[str, tuple[float, str]] = {}
    try:
        t0 = time.perf_counter()
        spark = start_session(None)
        layers["session.start_s"] = (time.perf_counter() - t0, "s")
        if wl.uses_tables:
            t1 = time.perf_counter()
            layers["catalog.load_table_ms"] = (load_catalog(spark, data_dir), "ms")
            layers["catalog.load_s"] = (time.perf_counter() - t1, "s")
        wl.start(spark)
        wl.gate()
        setup_s = time.perf_counter() - t0

        tr = Tracer()
        ops = wl.measure(tr, args.seconds)
        details = wl.details(tr)
        p50 = stats.median(ops)
        tail, tail_pct = stats.tail(ops)
        e2e = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (1000 * p50, "ms"),
            "latency_tail_ms": (1000 * tail, "ms"),
        }
        details.update(
            ops_measured=len(ops),
            latency_tail_percentile=tail_pct,
            input_gen_s=gen_s,
        )

        if args.trace:
            wl.stop()
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = start_session(log_dir)
            if wl.uses_tables:
                load_catalog(spark, data_dir)
            wl.start(spark)
            wl.warm()
            ttr = Tracer(spark.sparkContext)
            traced_ops = wl.measure(ttr, args.seconds)
            app_id = spark.sparkContext.applicationId
            wl.stop()
            spark.stop()
            costs = attribute(ttr.spans, read_event_log(log_dir, app_id))
            layers.update(wl.layers(ttr, costs))
            layers["trace.overhead_frac"] = (stats.median(traced_ops) / p50 - 1.0, "fraction")
            ttr.dump(os.path.join(work, "spans.json"))
        else:
            wl.stop()
            spark.stop()
    finally:
        shutdown_jvm()

    metrics = {
        k: {"value": v, "unit": u}
        for k, (v, u) in (declared_layers(layers) if args.trace else e2e).items()
    }
    details.update(env=env, run_s=time.perf_counter() - t_run, failures=ctx.notes[:20])
    print(json.dumps({"workload": args.workload, "seed": args.seed, "details": details}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def declared_layers(measured: dict[str, tuple[float, str]]) -> dict:
    """Every per-layer metric BENCHMARK.json declares, in its order: a
    layer the workload does not call reads 0. Without BENCHMARK.json,
    what the workload measured."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return dict(sorted(measured.items()))
    with open(path) as f:
        declared = json.load(f)["per_layer"]
    return {
        m["name"]: (measured.get(m["name"], (0.0, m["unit"]))[0], m["unit"])
        for m in declared
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
