"""Semantic-law tests for the round-5 additions: cross-document
boilerplate ratio, the linear quality classifier, the MinHash
estimator-error audit, and SCD2 history construction. Exact-value
certification is the DuckDB differential harness (test_oracle.py);
these pin the semantics a hash comparison can't express."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from master_airflow_spark.registry import release_caches


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "crafted", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_boilerplate_ratio_crafted(spark, tmp_path):
    """Five docs share the same 4-word footer; one is footer-free.
    The shared 4-gram must be flagged for the sharers and the clean
    doc must score zero."""
    from master_airflow_spark.operators.corpus_quality import (
        BOILER_MIN_DOCS,
        boilerplate_shingle_ratio,
    )

    assert BOILER_MIN_DOCS <= 5
    footer = "all rights reserved worldwide"
    docs = [f"unique body {i} words here {footer}" for i in range(5)]
    docs.append("completely original content with no shared furniture at all")
    d = tmp_path / "sfX"
    d.mkdir()
    _docs(spark, docs).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in boilerplate_shingle_ratio(spark, str(d)).collect()}
    release_caches()
    for i in range(5):
        assert out[i].n_boiler >= 1, f"doc {i} must flag the shared footer gram"
        assert 0 < out[i].boiler_ratio <= 1
    assert out[5].n_boiler == 0
    assert out[5].boiler_ratio == 0.0


def test_quality_logit_threshold_is_sigmoid_half(spark, sf_dir):
    """keep == (logit >= 0) == (sigmoid(logit) >= 0.5): the gate the
    operator ships (no exp()) is exactly the p>=0.5 gate."""
    from master_airflow_spark.operators.corpus_quality import quality_logit_score

    rows = quality_logit_score(spark, sf_dir).collect()
    release_caches()
    assert rows
    for r in rows:
        assert r.keep == (r.logit >= 0.0)
        if abs(r.logit) > 1e-12:  # at |z|~eps, float sigmoid rounds to 0.5
            assert r.keep == (1.0 / (1.0 + math.exp(-r.logit)) >= 0.5)
        assert 0.0 <= r.stop_ratio <= 1.0
        assert 0.0 < r.type_token_ratio <= 1.0


def test_quality_logit_monotone_in_stopwords(spark, tmp_path):
    """Adding stopwords (holding other features roughly fixed) must
    not lower the score — the classifier is monotone in its weights."""
    from master_airflow_spark.operators.corpus_quality import quality_logit_score

    base = "zq wv xk yj uh tg rf ed"
    rich = "the a and of to in is it"
    d = tmp_path / "sfX"
    d.mkdir()
    _docs(spark, [base, rich]).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r.logit for r in quality_logit_score(spark, str(d)).collect()}
    release_caches()
    assert out[1] > out[0]


def test_minhash_estimate_error_laws(spark, sf_dir):
    """Estimator audit invariants: both estimates live in [0,1]; a
    pair's abs_err is literally |est-exact|; identical-text pairs (the
    corpus contains planted exact dups) show exact_jaccard == 1."""
    from master_airflow_spark.operators.dedup import minhash_estimate_error

    rows = minhash_estimate_error(spark, sf_dir).collect()
    release_caches()
    assert rows, "the sf0.001 corpus plants near-dups — candidates expected"
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 1e-15
    exact_dups = [r for r in rows if r.exact_jaccard == 1.0]
    for r in exact_dups:
        assert r.est_jaccard == 1.0, "identical shingle sets -> identical sigs"


def test_scd2_intervals(spark, tmp_path):
    """Crafted change log: consecutive duplicate states collapse,
    intervals chain (valid_to == next valid_from), exactly one current
    row per user, versions dense from 1."""
    from master_airflow_spark.operators.window import scd2_history_build

    rows = [
        # user 1: A A B A  -> A[t1,t3) B[t3,t4) A[t4,)
        (1, "2024-01-01 00:00:00", 1, "A"),
        (2, "2024-01-02 00:00:00", 1, "A"),
        (3, "2024-01-03 00:00:00", 1, "B"),
        (4, "2024-01-04 00:00:00", 1, "A"),
        # user 2: single state
        (5, "2024-01-01 00:00:00", 2, "Z"),
    ]
    d = tmp_path / "sfX"
    d.mkdir()
    spark.createDataFrame(
        [(e, ts, u, et, 1.0, "{}") for e, ts, u, et in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(
        str(d / "events.parquet")
    )
    out = scd2_history_build(spark, str(d)).collect()
    release_caches()
    u1 = sorted([r for r in out if r.user_id == 1], key=lambda r: r.version)
    assert [r.status for r in u1] == ["A", "B", "A"]
    assert [r.version for r in u1] == [1, 2, 3]
    for prev, nxt in zip(u1, u1[1:]):
        assert prev.valid_to == nxt.valid_from
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].valid_to is None


def test_stream_unique_users_matches_batch_distinct(spark, sf_dir):
    """The streaming pre-agg + batch rollup recast must equal the
    direct batch count(DISTINCT user_id) per hour."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r.window_start: r.n_users
        for r in REGISTRY["stream_unique_users_rollup"].fn(spark, sf_dir).collect()
    }
    release_caches()
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.window_start: r.n_users
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    }
    assert got == want


def test_dup_span_extract_merges_touching_windows(spark, tmp_path):
    """Two docs share a 7-token passage; a third is clean. The 3
    overlapping duplicated 5-gram windows (positions 2,3,4 in doc 0;
    0,1,2 in doc 1) must merge into ONE maximal span each, with token
    coordinates covering exactly the shared passage, and the clean
    doc must emit nothing."""
    from master_airflow_spark.operators.corpus_quality import (
        DUPSPAN_K,
        dup_span_extract,
    )

    assert DUPSPAN_K == 5  # positions below are computed for K=5
    shared = "the quick brown fox jumps over fences"  # 7 tokens
    docs = [
        f"alpha beta {shared} gamma delta",  # span tokens 2..8
        f"{shared} epsilon zeta eta theta iota",  # span tokens 0..6
        "completely original text with no repeated passage anywhere at all",
    ]
    d = tmp_path / "sfX"
    d.mkdir()
    _docs(spark, docs).write.parquet(str(d / "documents.parquet"))
    out = dup_span_extract(spark, str(d)).collect()
    release_caches()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc, "clean doc must emit no spans"
    assert len(by_doc[0]) == 1 and len(by_doc[1]) == 1
    s0, s1 = by_doc[0][0], by_doc[1][0]
    assert (s0.span_start, s0.span_end) == (2, 8)
    assert (s1.span_start, s1.span_end) == (0, 6)
    for s in (s0, s1):
        assert s.n_windows == 3
        assert s.n_tokens == 7
        assert s.span_seq == 1


def test_dup_span_cut_removes_shared_passage(spark, tmp_path):
    """The shared 7-token passage must vanish from both carriers
    (clean_text keeps only the unique flanks), the clean doc must be
    untouched, and a doc that IS the shared passage verbatim must
    survive as a row with clean_text='' — not disappear."""
    from master_airflow_spark.operators.corpus_quality import (
        DUPSPAN_K,
        dup_span_cut,
    )

    assert DUPSPAN_K == 5
    shared = "the quick brown fox jumps over fences"  # 7 tokens
    docs = [
        f"alpha beta {shared} gamma delta",
        f"{shared} epsilon zeta eta theta iota",
        "completely original text with no repeated passage anywhere at all",
        shared,  # every token duplicated -> clean_text ''
    ]
    d = tmp_path / "sfX"
    d.mkdir()
    _docs(spark, docs).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in dup_span_cut(spark, str(d)).collect()}
    release_caches()
    assert set(out) == {0, 1, 2, 3}
    assert out[0].clean_text == "alpha beta gamma delta"
    assert out[1].clean_text == "epsilon zeta eta theta iota"
    assert out[2].clean_text == docs[2]
    assert out[2].n_tokens_removed == 0
    assert out[3].clean_text == ""
    assert out[3].n_tokens_kept == 0
    for r in out.values():
        assert r.n_tokens_kept + r.n_tokens_removed == r.n_tokens


def test_dup_span_extract_and_cut_are_consistent(spark, tmp_path):
    """Cross-operator law on a small-alphabet random corpus (dense
    5-gram collisions): for every doc, the extract spans' token sums
    equal the cut's removed count, clean_text is exactly the
    uncovered tokens in original order, and spans are disjoint,
    in-bounds, and separated by gaps > K (maximality)."""
    import random

    from master_airflow_spark.operators.corpus_quality import (
        DUPSPAN_K,
        dup_span_cut,
        dup_span_extract,
    )

    rng = random.Random(20260814)
    words = ["ax", "bo", "cu", "de", "el", "fi", "gu", "ho"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
        for _ in range(25)
    ]
    d = tmp_path / "sfX"
    d.mkdir()
    _docs(spark, texts).write.parquet(str(d / "documents.parquet"))
    try:
        spans = dup_span_extract(spark, str(d)).collect()
        cut = {r.doc_id: r for r in dup_span_cut(spark, str(d)).collect()}
    finally:
        release_caches()
    spans_by_doc = {}
    for s in spans:
        spans_by_doc.setdefault(s.doc_id, []).append(s)
    assert set(cut) == set(range(len(texts))), "cut must keep every doc"
    for doc_id, r in cut.items():
        toks = texts[doc_id].split() if texts[doc_id] else [""]
        assert r.n_tokens == len(toks)
        ss = sorted(spans_by_doc.get(doc_id, []), key=lambda s: s.span_start)
        covered = set()
        prev_end = None
        for s in ss:
            assert 0 <= s.span_start <= s.span_end < len(toks)
            assert s.n_tokens == s.span_end - s.span_start + 1
            if prev_end is not None:
                assert s.span_start - prev_end - 1 > 0, "spans must not touch"
            prev_end = s.span_end
            covered.update(range(s.span_start, s.span_end + 1))
        assert r.n_tokens_removed == len(covered)
        want_clean = " ".join(
            t for i, t in enumerate(toks) if i not in covered
        )
        assert r.clean_text == want_clean
    assert any(spans_by_doc.values()), "corpus must actually contain dups"
