"""Empirical scale-up probe: replicate the sf0.1 tables K× with
key-shifted copies (distinct surrogate keys, so join/group
cardinalities grow linearly, not quadratically), then time a headline
subset at each scale. The point is the CURVE, not the absolute
numbers: plans whose runtime grows ~linearly in rows on local[32]
are the plans whose single shuffle / broadcast structure survives a
1000-executor scale-out; superlinear growth here flags a plan that
would melt at 100 TB.

Run: python scripts/scale_probe.py            (writes SCALE.md)
     SCALE_FACTORS="1 2 5" python scripts/scale_probe.py

Control-experiment knobs (round-6 verdict item #3 — prove the salt
explanation for the two superlinear cells, don't just assert it):
  SCALE_UNSALTED=1   replicate documents WITHOUT the per-copy rotation —
                     vocabulary stays FIXED while rows grow, the clean
                     control for vocabulary-sensitive non-pair queries
                     (boilerplate, divergence, quality). NEVER probe
                     pair-output queries (minhash_*, dup_span_*,
                     jaccard) unsalted: byte-identical replicas make
                     candidate pairs k²-explode by data construction.
  SCALE_QUERIES="a b"  probe only these queries.
  SCALE_OUT=path     explicit output path. When unset, subset/control
                     runs (SCALE_QUERIES or SCALE_UNSALTED active)
                     write SCALE_subset.md with an annotated header —
                     never the official SCALE.md curve.

Dimension tables nation/region stay fixed (they are fixed-cardinality
in any warehouse); customer/supplier/part/orders/lineitem/documents/
embeddings/events replicate with shifted keys.
"""

from __future__ import annotations

import functools
import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from master_airflow_spark import registry  # noqa: E402
from master_airflow_spark.catalog import TABLES, load_table  # noqa: E402
from master_airflow_spark.session import get_spark  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_ROT_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)
UNSALTED = os.environ.get("SCALE_UNSALTED") == "1"
OUT_ROOT = "/tmp/mas_scale" + ("_unsalted" if UNSALTED else "")
# Subset (SCALE_QUERIES) and control (SCALE_UNSALTED) runs must never
# clobber the official full curve: when either knob is set and
# SCALE_OUT isn't, the output defaults to SCALE_subset.md and the
# table header names the active knobs (see main()).
_SUBSET_RUN = UNSALTED or bool(os.environ.get("SCALE_QUERIES"))
OUT_MD = os.environ.get("SCALE_OUT") or (
    "SCALE_subset.md" if _SUBSET_RUN else "SCALE.md"
)
FACTORS = [int(x) for x in os.environ.get("SCALE_FACTORS", "1 2 5 10").split()]

# per-table key columns that must be disjoint across copies
SHIFT_KEYS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# headline subset spanning the main physical shapes: fact-fact joins
# (q3/q7/q18), single-scan agg (q6), window dedup (keyed upsert),
# LSH dedup over documents, text scoring, exact dedup
PROBE_QUERIES = (
    "q3_shipping_priority",
    "q7_volume_shipping",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "pricing_summary",
    "dedup_exact",
    "minhash_near_dup",
    "text_quality",
    "sessionize_events",
    "lsh_bucketed_ann",
    "bm25_lite_ranking",
    # round-4 additions: iterative graph (per-iteration join+agg),
    # union-scan attribution window, inverted-index build, TV
    # divergence (two-level agg + broadcast join), distributed NTILE
    "pagerank_trade_graph",
    "last_touch_attribution",
    "inverted_index_postings",
    "source_token_divergence",
    "equi_depth_price_buckets",
    # round-5 additions: corpus-frequency boilerplate (explode + two
    # keyed aggs + join-back), candidate-bounded estimator audit,
    # pure-scan classifier, two shared-exchange SCD2 windows
    "boilerplate_shingle_ratio",
    "minhash_estimate_error",
    "quality_logit_score",
    "scd2_history_build",
    # round-5 late additions: span-level exact-substring dedup (gram
    # frequency join + islands / rolling-max cover + in-agg text
    # reassembly), triangle counting (oriented edge self-join), and
    # bounded multi-source BFS (per-hop join+agg)
    "dup_span_extract",
    "dup_span_cut",
    "triangle_count_cosuppliers",
    "bfs_reachability_hops",
    # sketch-then-verify: bounded-memory candidates + exact verify
    "heavy_hitters_mg_verified",
    # round-10 addition: LSH-candidates-then-exact-verify near-dup —
    # the 100 TB all-pairs path (x1/x10/x50 row in SCALE.md §round-10)
    "embedding_near_dup_lsh_verified",
    # round-7 addition: exact quantiles via rank sketch — the curve
    # should track the two scans (linear) since the candidate sort is
    # ~U rows, corpus-size-bounded by the per-batch budget
    "exact_quantiles_sketched",
)


def _global_key_shift(spark) -> int:
    """ONE replica key shift for every table: next power of 10 above
    the max key across ALL shifted tables. It must be global — orders
    replica i references customer replica i through o_custkey, so a
    per-table shift (orders' max ≫ customer's max) would desynchronize
    the foreign keys and silently empty every replica join, flattening
    the very growth curve this script measures. Deriving it from the
    data (not a fixed constant) keeps replicas collision-free at any
    base SF."""
    hi = 0
    for t, keys in SHIFT_KEYS.items():
        df = load_table(spark, BASE_SF, t)
        maxes = [F.max(c) for c in keys]
        v = df.select(F.greatest(*maxes) if len(maxes) > 1 else maxes[0]).first()[0]
        hi = max(hi, v or 0)
    shift = 10
    while shift <= hi:
        shift *= 10
    return shift


def _copy(df, t: str, keys: tuple[str, ...], i: int, shift: int):
    out = df.select(
        *[
            (F.col(c) + F.lit(i * shift)).alias(c) if c in keys else F.col(c)
            for c in df.columns
        ]
    )
    if t == "documents" and i > 0 and not UNSALTED:
        # De-duplicate replica text cross-copy: byte-identical (or
        # nearly identical) replicas are legitimate near-dups of the
        # base copy, so pair output would k²-explode by data
        # construction rather than plan behavior.
        #
        # Round-12 scheme: per-copy DISJOINT-PLANE CHARACTER MAP (a
        # bijective translate shifting the 62 alphanumeric chars by
        # i*64 code points — copy i's alphabet occupies its own
        # 64-code-point plane). The previous per-token suffix salt
        # only broke TOKEN-level similarity — character-gram queries
        # (jaccard_block_pairs' 3-grams, containment_pairs' 8-gram
        # shingles) still shared every interior gram of long tokens
        # across copies, so their true pair output k²-exploded anyway
        # (measured: containment 35 → 370k pairs at x10); and an
        # in-alphabet ROTATION still collided on this corpus's tiny
        # dense gram space (rot_i(g) is itself a frequent base gram),
        # polluting candidate pairs 58× at x10. Disjoint planes make
        # cross-copy tokens AND character grams collision-FREE at
        # every gram width, while a bijective char map preserves each
        # copy's internal structure exactly (same equalities, same
        # char lengths; whitespace/punctuation unmapped, so
        # tokenization and punctuation stats are unchanged).
        shifted = "".join(chr(ord(c) + i * 64) for c in _ROT_ALPHABET)
        out = out.withColumn(
            "text", F.translate("text", _ROT_ALPHABET, shifted)
        )
    if t == "customer" and i > 0 and not UNSALTED:
        # Same construction-vs-plan argument for NAME-keyed pair
        # queries (fuzzy_customer_pairs, round 12): unsalted copies
        # make every base name reappear k times at edit distance 0,
        # so TRUE pair output grows k² by data construction. The
        # doubled two-digit copy code keeps every cross-copy pair at
        # Levenshtein ≥ 2 (any two distinct codes differ in ≥1 digit,
        # and the code appears twice), while each copy's internal
        # distance-≤1 structure stays identical to the base.
        code = f"{i:02d}"
        out = out.withColumn("c_name", F.concat("c_name", F.lit(code + code)))
    return out


def build_scale(spark, k: int, shift: int) -> str:
    dst = os.path.join(OUT_ROOT, f"x{k}")
    if os.path.isdir(dst):
        return dst
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        df = load_table(spark, BASE_SF, t)
        keys = SHIFT_KEYS.get(t)
        if not keys:  # nation/region: fixed-cardinality dims
            out = df
        else:
            out = _copy(df, t, keys, 0, shift)
            for i in range(1, k):
                out = out.unionByName(_copy(df, t, keys, i, shift))
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
    return dst


def main() -> None:
    spark = get_spark(app_name="mas-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    probe_queries = tuple(os.environ.get("SCALE_QUERIES", "").split()) or PROBE_QUERIES
    results: dict[str, dict[int, float]] = {q: {} for q in probe_queries}
    rows_at: dict[int, int] = {}
    shift = _global_key_shift(spark)
    for k in FACTORS:
        sf_dir = build_scale(spark, k, shift)
        rows_at[k] = load_table(spark, sf_dir, "lineitem").count()
        for t in TABLES:  # warm file listing + footer cache
            load_table(spark, sf_dir, t).count()
        for q in probe_queries:
            spec = registry.REGISTRY[q]
            # Full materialization via the noop sink (bench.materialize):
            # a bare count() lets Catalyst prune unreferenced aggregate
            # expressions and the operators that feed only them (e.g.
            # dup_span_cut's window + in-agg text reassembly vanish
            # entirely), which would silently time a lighter plan.
            build = functools.partial(spec.fn, spark, sf_dir)
            bench.timed_rep(build)  # warm (codegen cache, broadcast build)
            # median of 3 wall times: GC outliers hit ~1 run in 10
            samples = [bench.timed_rep(build)[1] for _ in range(3)]
            dt = sorted(samples)[1]
            results[q][k] = round(dt, 3)
            print(f"x{k} {q}: {dt:.3f}s {['%.2f' % s for s in samples]}", file=sys.stderr)

    base_k = FACTORS[0]
    row_growth_txt = rows_at[FACTORS[-1]] / rows_at[base_k]
    knobs = []
    if UNSALTED:
        knobs.append("SCALE_UNSALTED=1 (control: fixed vocabulary)")
    if os.environ.get("SCALE_QUERIES"):
        knobs.append(f"SCALE_QUERIES={os.environ['SCALE_QUERIES']!r}")
    title = "# SCALE — empirical scale-up curve (generated by scripts/scale_probe.py)"
    if knobs:
        title = (
            "# SCALE (SUBSET/CONTROL RUN — not the official curve; knobs: "
            + "; ".join(knobs)
            + ")"
        )
    lines = [
        title,
        "",
        "Base: sf0.1 replicated with key-shifted copies; lineitem rows at each",
        "scale: " + ", ".join(f"x{k}={rows_at[k]:,}" for k in FACTORS) + ".",
        "Timings are steady-state (plan warmed, caches released), local[32],",
        "full-materialization via the noop sink (count() would let Catalyst",
        "prune work that feeds only unreferenced output columns).",
        f"`growth` = T(x{FACTORS[-1]}) / T(x{base_k}) vs the "
        f"{row_growth_txt:.0f}× row growth — a plan",
        "whose growth ≤ the row growth scales linearly or better; superlinear",
        "growth flags a shape that would not survive 100 TB.",
        "",
        "| query | " + " | ".join(f"x{k} (s)" for k in FACTORS) + " | growth | rows grew |",
        "|---|" + "---|" * (len(FACTORS) + 2),
    ]
    row_growth = rows_at[FACTORS[-1]] / rows_at[base_k]
    for q in probe_queries:
        r = results[q]
        growth = r[FACTORS[-1]] / r[base_k] if r[base_k] else float("nan")
        lines.append(
            f"| {q} | "
            + " | ".join(f"{r[k]:.3f}" for k in FACTORS)
            + f" | {growth:.1f}× | {row_growth:.0f}× |"
        )
    lines += [
        "",
        "Notes: timings are median-of-3 (single-JVM GC outliers hit ~1 run in",
        "10). Replica text is de-duplicated by per-copy character ROTATION",
        "(round 12; previously a per-token suffix salt): same text length,",
        "same in-copy structure, cross-copy tokens AND char-grams disjoint.",
        "minhash_near_dup's pair OUTPUT scales exactly linearly",
        "(~212 pairs per copy). lsh_bucketed_ann's query side (vec_id % 50)",
        "grows WITH the corpus until the MAX_QUERIES cap, so its candidate",
        "space grows ~quadratically (~100× at x10) while runtime grows far",
        "slower — the fused kernel's collide mask pays the dot-product fold",
        "only on colliding pairs, which is the designed behavior. Sub-1×",
        "growth = fixed driver/scheduling overhead amortizing, the regime",
        "the engine is built for.",
        "boilerplate_shingle_ratio's replicas inherit the rotation:",
        "each copy contributes a disjoint gram vocabulary (until charset^k",
        "saturation), so the gram-frequency aggregate's key space grows",
        "~linearly with copies — input grows faster than the row column.",
        "pagerank_trade_graph's x1 number carries ~3s of fixed cost (edge",
        "build + 3 iteration plans, each a join+agg job); growth reflects",
        "only the data-dependent part, which is the 100 TB question.",
        "source_token_divergence replicas inherit the vocabulary caveat:",
        "rotation multiplies vocabulary ~linearly per copy, so its",
        "input grows faster than the row column suggests.",
        "minhash_estimate_error inherits it too (signatures over a ~10×",
        "vocabulary at x10) and its per-sample spread on this multi-tenant",
        "box reaches 2-5× (noisy neighbors), so treat its growth cell as",
        "an upper bound. dup_span_extract/cut also inherit the rotation — the",
        "disjoint per-copy gram vocabulary keeps duplicated pairs",
        "within-copy, i.e. the dup workload grows linearly by design",
        "rather than quadratically across replicas.",
        "embedding_near_dup_lsh_verified: embeddings replicate UNSALTED",
        "(byte-identical vectors under shifted ids), so its TRUE-pair",
        "output grows ~k² by data construction — 0 pairs at x1 (the sf0.1",
        "base has none ≥0.95) vs 2000·C(k,2) cross-copy pairs after (90k",
        "at x10). Its growth cell is therefore time over a ~100×-growing",
        "pair workload, not over the 10× row column — 3× time over 100×",
        "pairs is the LSH pipeline doing its job (cf. the x50 section:",
        "16.8× faster than exact all-pairs at equal output).",
    ]
    # Preserve the bloom_probe.py section and the manually-curated
    # control-experiment section (both appended after their markers)
    # across regenerations of the main curve: keep everything from the
    # FIRST preserved marker onward.
    tail = ""
    markers = (
        "## Control experiments",
        "## Bloom pruning probe (generated by scripts/bloom_probe.py)",
    )
    if os.path.exists(OUT_MD):
        with open(OUT_MD) as f:
            old = f.read()
        cut = min((old.find(m) for m in markers if m in old), default=-1)
        if cut >= 0:
            tail = "\n" + old[cut:]
    with open(OUT_MD, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print(f"{OUT_MD} written")


if __name__ == "__main__":
    main()
