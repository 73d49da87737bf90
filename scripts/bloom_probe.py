"""X36 value-claim probe: does Bloom pruning actually shrink the join
shuffle, and does the saving hold as data grows?

For each scale replica (reusing scale_probe's key-shifted builder) the
two bloom-pruned operators run twice — pruned and control (same plan
minus the bitmap filter, via the use_bloom flag on the frame builders)
— and the SHUFFLE BYTES of each run are read from the Spark UI REST
API (per-stage shuffleReadBytes/shuffleWriteBytes, scoped to the run
via a unique job group). Bytes, not time: time on this box carries
2-5x neighbor noise, while shuffle bytes are deterministic plan
behavior — exactly the quantity the semi-join-reduction argument is
about. The bitmap-build jobs (count + bit_or collect) run INSIDE the
measured group, so the probe charges the pruning its own overhead.

Writes a marked section appended to SCALE.md (scale_probe.py preserves
it when regenerating the main curve).

Run: python scripts/bloom_probe.py
     SCALE_FACTORS="1 5 10" BLOOM_OUT=path python scripts/bloom_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
import uuid

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

from scale_probe import FACTORS, build_scale, _global_key_shift  # noqa: E402

import bench  # noqa: E402

from master_airflow_spark import registry  # noqa: E402
from master_airflow_spark.catalog import TABLES, load_table  # noqa: E402
from master_airflow_spark.operators.bloom_prune import (  # noqa: E402
    incremental_dedup_frame,
    join_prune_frame,
)
from master_airflow_spark.session import get_spark  # noqa: E402

OUT_MD = os.environ.get("BLOOM_OUT", "SCALE.md")
MARKER = "## Bloom pruning probe (generated by scripts/bloom_probe.py)"

PAIRS = {
    "bloom_join_prune": join_prune_frame,
    "bloom_incremental_dedup": incremental_dedup_frame,
}


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def run_measured(spark, build_frame, sf_dir: str, use_bloom: bool):
    """Run the frame to the noop sink under a unique job group and
    return (wall_sec, shuffle_read_bytes, shuffle_write_bytes, rows)
    summed over every COMPLETE stage of the group's jobs — including
    the bitmap build's count/collect jobs when use_bloom."""
    group = f"bloomprobe_{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = build_frame(spark, sf_dir, use_bloom)
        # Full materialization via the noop sink, matching bench v5 /
        # scale_probe: count() would let Catalyst prune output columns
        # and understate the shipped plan's shuffle bytes.
        bench.materialize(df)
        dt = time.perf_counter() - t0
    finally:
        sc.setJobGroup("", "")
    # Row count for the pruned-vs-control equality assert only — run
    # OUTSIDE the job group so its (column-pruned) stages don't
    # contaminate the measured byte totals.
    n = df.count()
    registry.release_caches()
    stage_ids = set()
    for j in _rest(spark, "jobs"):
        if j.get("jobGroup") == group:
            stage_ids.update(j.get("stageIds", []))
    rd = wr = 0
    for s in _rest(spark, "stages"):
        if s.get("stageId") in stage_ids and s.get("status") == "COMPLETE":
            rd += s.get("shuffleReadBytes", 0)
            wr += s.get("shuffleWriteBytes", 0)
    return dt, rd, wr, n


def fmt_bytes(b: int) -> str:
    return f"{b / 1e6:.2f} MB" if b >= 1e5 else f"{b / 1e3:.1f} KB"


def main() -> None:
    # the probe reads per-stage shuffle bytes from the live UI REST
    # API — opt back into the UI the session now disables by default
    spark = get_spark(
        app_name="mas-bloom-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    shift = _global_key_shift(spark)
    rows_lines = []
    for k in FACTORS:
        sf_dir = build_scale(spark, k, shift)
        for t in TABLES:  # warm file listing + footer cache
            load_table(spark, sf_dir, t).count()
        for qname, frame in PAIRS.items():
            res = {}
            for use_bloom in (False, True):
                # warm once (codegen, scans), measure second run
                run_measured(spark, frame, sf_dir, use_bloom)
                res[use_bloom] = run_measured(spark, frame, sf_dir, use_bloom)
            (dt0, rd0, wr0, n0), (dt1, rd1, wr1, n1) = res[False], res[True]
            assert n0 == n1, f"{qname} x{k}: pruned result differs ({n0} vs {n1})"
            rows_lines.append(
                f"| {qname} | x{k} | {fmt_bytes(wr0)} | {fmt_bytes(wr1)} | "
                f"{wr1 / wr0 if wr0 else float('nan'):.2f} | "
                f"{fmt_bytes(rd0)} | {fmt_bytes(rd1)} | "
                f"{dt0:.2f}s | {dt1:.2f}s | {n1:,} |"
            )
            print(rows_lines[-1], file=sys.stderr)

    section = [
        MARKER,
        "",
        "X36's value claim, measured: shuffle bytes of the bloom-pruned",
        "operators vs the identical plan minus the bitmap filters (control),",
        "at key-shifted scale replicas of sf0.1. Bytes come from the Spark",
        "UI REST API per-stage totals scoped by job group; the pruned runs",
        "INCLUDE their bitmap-build jobs (sizing count + bit_or collect), so",
        "the ratio charges the pruning its own overhead. Both arms carry the",
        "same merge hint — the shuffle-join regime the operators model (at",
        "100 TB neither side broadcasts; locally AQE would broadcast and",
        "hide the reduction). `write ratio` = pruned/control shuffle-write",
        "bytes: for bloom_join_prune it should track the dim filter's ~4%",
        "key selectivity; for bloom_incremental_dedup the TWO-sided",
        "reduction (bloom(yesterday) prunes today -> suspects, then",
        "bloom(suspects) prunes yesterday) should cut both anti-join legs",
        "to ~|true dups| + bitmap-build traffic. Identical row counts per",
        "pair are asserted at run time (result unchanged by pruning).",
        "Ratio dynamics: with the anti-join legs pruned to ~nothing, the",
        "pruned side's residual bytes are mostly the bitmap-BUILD exchange",
        "(<= m_bits/64 words x map partitions, and m_bits caps at 2^20 —",
        "functions/bloom.py), a bounded floor. The control's legs grow",
        "linearly with rows forever, so the ratio can drift up mid-scale",
        "while the adaptive bitmap grows, then falls once m hits its cap",
        "while data keeps growing — the crossover regime 100 TB sits in.",
        "Time columns: the pruned arms pay ~6-8 extra DRIVER-side jobs",
        "(bitmap sizing counts, bit_or collects, fingerprint-cache",
        "materialization) — a fixed few seconds at any SF, which is why",
        "pruned wall time reads WORSE here while shuffle bytes read 2-25x",
        "better: at local SF the fixed job overhead dominates and a",
        "broadcast join would subsume the whole technique; the bytes",
        "column is the quantity that scales to the 1000-executor regime.",
        "",
        "| query | scale | ctrl shuf write | pruned shuf write | write ratio |"
        " ctrl shuf read | pruned shuf read | ctrl time | pruned time | rows |",
        "|---|---|---|---|---|---|---|---|---|---|",
        *rows_lines,
        "",
    ]
    existing = ""
    if os.path.exists(OUT_MD):
        with open(OUT_MD) as f:
            existing = f.read()
        if MARKER in existing:  # replace the old probe section
            existing = existing.split(MARKER)[0].rstrip() + "\n"
        if existing and not existing.endswith("\n\n"):
            existing += "\n"
    with open(OUT_MD, "w") as f:
        f.write(existing + "\n".join(section))
    print(f"{OUT_MD}: bloom probe section written")


if __name__ == "__main__":
    main()
