"""Within-session interleaved A/B of a runtime-settable SQL conf over
selected registered queries. Each rep: set conf to A, run, set to B,
run — paired samples from the same contention window; min and median
reported both ways.

Run: python scripts/ab.py <conf> <valA> <valB> <reps> <q1> [q2 ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    conf, val_a, val_b, reps = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    names = sys.argv[5:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from master_airflow_spark import registry
    from master_airflow_spark.session import get_spark

    import bench

    spark = get_spark(app_name="mas-ab")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    def run(name: str) -> float:
        """Wall seconds of one fresh build + materialization."""
        return bench.timed_rep(lambda: registry.REGISTRY[name].fn(spark, sf_dir))[1]

    for name in names:
        # warm both configs once
        for v in (val_a, val_b):
            spark.conf.set(conf, v)
            run(name)
        a_s, b_s = [], []
        for _ in range(reps):
            spark.conf.set(conf, val_a)
            a_s.append(run(name))
            spark.conf.set(conf, val_b)
            b_s.append(run(name))
        spark.conf.set(conf, val_a)
        fmt = lambda s: " ".join(f"{x:.3f}" for x in s)
        print(
            f"{name}: A(min={min(a_s):.3f} med={sorted(a_s)[len(a_s)//2]:.3f})"
            f" B(min={min(b_s):.3f} med={sorted(b_s)[len(b_s)//2]:.3f})"
            f"  A=[{fmt(a_s)}] B=[{fmt(b_s)}]",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
