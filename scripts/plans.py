"""Plan capture: dump .explain("formatted") for the named queries
(default: every registered bench.HEADLINE query) into
plans/<label>/<query>_<suffix>.txt, and print a one-line plan-shape
summary (Exchange count, join kinds, Python-eval nodes) per query.

Run: python scripts/plans.py <label> <suffix> [query ...]
e.g. python scripts/plans.py r16 before
     python scripts/plans.py r16 after q18_large_orders
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

# stream_session_window's plan reads the shared drain's spool, whose
# directory carries a random run id; a fixed placeholder keeps dumps
# of one plan byte-identical across runs.
_SPOOL_RUN = re.compile(r"mas_shared_drain/[0-9a-f]{10}/")


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    label, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from master_airflow_spark import registry
    from master_airflow_spark.plans.explain import formatted
    from master_airflow_spark.session import get_spark

    import bench

    spark = get_spark(app_name=f"mas-plans-{label}")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", label)
    os.makedirs(out_dir, exist_ok=True)

    for name in names or [n for n in bench.HEADLINE if n in registry.REGISTRY]:
        try:
            df = registry.REGISTRY[name].fn(spark, sf_dir)
            plan = _SPOOL_RUN.sub("mas_shared_drain/<run>/", formatted(df))
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: PLAN FAILED {type(ex).__name__}: {ex}", flush=True)
            registry.release_caches()
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        tree = plan.split("\n\n")[0]
        n_ex = len(re.findall(r"\bExchange \(", tree))
        n_bex = len(re.findall(r"\bBroadcastExchange \(", tree))
        joins = sorted(
            {
                k
                for k in (
                    "BroadcastHashJoin",
                    "SortMergeJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                    "CartesianProduct",
                )
                if k in plan
            }
        )
        py = sorted(
            {
                k
                for k in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
                if k in plan
            }
        )
        scans = plan.count("Scan parquet") // 2 or plan.count("Scan parquet")
        print(
            f"{name}: exchanges={n_ex} bcast={n_bex} scans~{scans}"
            f" joins={joins or '[]'} python={py or '[]'}",
            flush=True,
        )
        registry.release_caches()
    print(f"plans written to {out_dir} (*_{suffix}.txt)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
