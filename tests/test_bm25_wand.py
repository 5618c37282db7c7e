"""Block-Max WAND tier (similarity/bm25.py mode='wand') + the
round-10 champions regime gate and tier-parameter guards.

WAND's contract is the strong one the champions tier cannot make:
EXACT top-k (hash-equal to mode='exact' over the same snapshot) for
ANY query shape on ANY corpus — pruning only ever skips buckets whose
score upper bound cannot reach the running k-th score. Sublinearity
is a property of impact skew (Zipf corpora), verified here via the
plan's postings_kept fraction; on flat-impact data the tier degrades
to the exact scan cost, never to a wrong answer.
"""

from __future__ import annotations

import os
import warnings

import pytest

from lakehouse_dba_tools_spark.similarity.bm25 import (
    _champ_snapshot,
    _wand_plan,
    bm25_topk,
    build_postings_index,
    query_postings_index,
)


def _zipf_docs(spark, n=2000):
    from tools.index_scale_run import synth_zipf_docs

    df = synth_zipf_docs(spark, n)
    df.cache()
    df.count()
    return df


def _flat_docs(spark, n=60):
    """Adversarial-for-impact-ordering corpus: every doc has the same
    length and tf=1 for the shared terms — all impacts tie."""
    rows = [(i, f"common filler w{i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_wand_equals_exact_on_flat_corpus(spark, tmp_path):
    """The no-regime guarantee: on the flat corpus where champions
    collapse (round-9 honesty note), wand still equals exact."""
    docs = _flat_docs(spark)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=8)
    for q in ("common w3", "common", "common filler w1"):
        exact = [tuple(r) for r in query_postings_index(spark, path, q, k=10).collect()]
        wand = [
            tuple(r)
            for r in query_postings_index(spark, path, q, k=10, mode="wand").collect()
        ]
        assert wand == exact, q


def test_wand_equals_exact_and_prunes_on_zipf(spark, tmp_path):
    """On the tier's design regime (Zipf tf + varied dl), wand answers
    are exact AND the plan proves real pruning: a stopword-grade
    single term, a common multi-term, and a rare+common mix each scan
    well under half of their postings."""
    docs = _zipf_docs(spark)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=1024)
    for q in ("t1", "t1 t7 t113", "t1 t1500", "t3 t9 t27 t81"):
        exact = [tuple(r) for r in query_postings_index(spark, path, q, k=10).collect()]
        wand = [
            tuple(r)
            for r in query_postings_index(spark, path, q, k=10, mode="wand").collect()
        ]
        assert wand == exact, q
        plan = _wand_plan(spark, path, q, 10, None, None)
        frac = plan["postings_kept"] / plan["postings_total"]
        assert frac < 0.5, (q, frac)
    docs.unpersist()


def test_wand_plan_threshold_is_sound(spark, tmp_path):
    """θ must be a lower bound of the true k-th score (seed scores are
    true scores), and every kept bucket must satisfy ub ≥ θ while the
    exact top-k all live in kept buckets."""
    docs = _zipf_docs(spark, 1000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=256)
    plan = _wand_plan(spark, path, "t1 t5 t42", 10, None, None)
    exact = query_postings_index(spark, path, "t1 t5 t42", k=10).collect()
    assert plan["theta"] is not None
    # θ ≤ true k-th score
    assert plan["theta"] <= exact[-1]["bm25_score"] + 1e-4
    # top-k docs' buckets are kept (re-derive each doc's hash bucket)
    from pyspark.sql import functions as F

    kept = set(plan["kept"])
    buckets = {
        r["doc_id"]: r["bucket"]
        for r in spark.createDataFrame(
            [(r["doc_id"],) for r in exact], "doc_id long"
        )
        .select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(plan["total_buckets"]))
            .cast("int")
            .alias("bucket"),
        )
        .collect()
    }
    assert all(bk in kept for bk in buckets.values())
    docs.unpersist()


def test_wand_lifecycle_staleness_and_compact_refresh(spark, tmp_path):
    """Tier cadence contract (same as champions): appends are visible
    to exact mode immediately, to wand mode after compact — and the
    post-compact wand answer equals the direct full-corpus scorer."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        append_to_postings_index,
        compact_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "query engines join tables"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=4)
    newdoc = spark.createDataFrame(
        [(3, "glacierworm spark appears here")], "doc_id int, text string"
    )
    append_to_postings_index(newdoc, path)
    append_to_postings_index(newdoc, path)  # replayed epoch
    assert {
        r.doc_id for r in query_postings_index(spark, path, "glacierworm").collect()
    } == {3}
    assert (
        query_postings_index(spark, path, "glacierworm", mode="wand").count() == 0
    )
    compact_postings_index(spark, path)
    full = docs.union(newdoc)
    want = [tuple(r) for r in bm25_topk(full, "spark glacierworm", k=3).collect()]
    got = [
        tuple(r)
        for r in query_postings_index(
            spark, path, "spark glacierworm", k=3, mode="wand"
        ).collect()
    ]
    assert got == want  # replay folded, tier refreshed, scores exact


def test_wand_no_matching_terms_returns_empty(spark, tmp_path):
    docs = _flat_docs(spark, 10)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=4)
    out = query_postings_index(spark, path, "zzzzunseen", mode="wand")
    assert out.count() == 0
    assert out.columns == ["doc_id", "bm25_score"]


def test_missing_tiers_raise_actionable_errors(spark, tmp_path):
    """Opt-in tiers fail loudly with the rebuild remedy (round-9
    ADVICE: the bare FileNotFoundError never reached the caller)."""
    docs = _flat_docs(spark, 10)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path)  # no tiers
    with pytest.raises(RuntimeError, match="champion_n"):
        query_postings_index(spark, path, "common", mode="champions")
    with pytest.raises(RuntimeError, match="wand_buckets"):
        query_postings_index(spark, path, "common", mode="wand")


def test_tier_param_override_guard(spark, tmp_path):
    """Champions/wand tiers were ordered/bounded under the stored
    k1/b; a DIFFERENT explicit override raises (round-9 ADVICE: it
    silently voided the single-term exactness guarantee), while
    matching or None overrides pass."""
    docs = _flat_docs(spark, 10)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=100, wand_buckets=4)
    for mode in ("champions", "wand"):
        with pytest.raises(ValueError, match="k1"):
            query_postings_index(spark, path, "common", mode=mode, k1=2.0)
        with pytest.raises(ValueError, match="b="):
            query_postings_index(spark, path, "common", mode=mode, b=0.5)
        # stored values or None are fine
        assert query_postings_index(
            spark, path, "common", mode=mode, k1=1.2, b=0.75
        ).count() > 0


def test_champions_flat_impact_warns_zipf_does_not(spark, tmp_path):
    """The regime gate (round-9 VERDICT #5): the build measures
    impact_flatness; a MULTI-term champions query over a near-flat
    tier warns, single-term (exact by construction) does not, and a
    Zipf-skewed tier does not."""
    flat_path = str(tmp_path / "flat")
    build_postings_index(_flat_docs(spark, 60), flat_path, champion_n=4)
    _, cm = _champ_snapshot(flat_path)
    assert cm["impact_flatness"] > 0.5
    with pytest.warns(UserWarning, match="near-flat"):
        query_postings_index(
            spark, flat_path, "common filler", mode="champions"
        ).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        query_postings_index(spark, flat_path, "common", mode="champions").collect()

    zipf_path = str(tmp_path / "zipf")
    docs = _zipf_docs(spark, 1000)
    build_postings_index(docs, zipf_path, champion_n=4)
    _, zm = _champ_snapshot(zipf_path)
    assert zm["impact_flatness"] <= 0.5
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        query_postings_index(
            spark, zipf_path, "t1 t7", mode="champions"
        ).collect()
    docs.unpersist()


def test_champions_termstats_ride_the_tier_version(spark, tmp_path):
    """Round-9 ADVICE: df must be co-published with the tier under ONE
    pointer flip — the stats table lives INSIDE the champions version
    dir, and champions scoring reads its df from there."""
    docs = _flat_docs(spark, 20)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=100)
    champ_dir, _ = _champ_snapshot(path)
    assert os.path.isdir(os.path.join(champ_dir, "_termstats"))
    assert not os.path.exists(os.path.join(path, "termstats"))
    # champion_n covers the term's whole df, so champions scores (idf
    # from the in-version df) equal the exact path's
    got = [
        tuple(r)
        for r in query_postings_index(
            spark, path, "common", k=5, mode="champions"
        ).collect()
    ]
    want = [tuple(r) for r in query_postings_index(spark, path, "common", k=5).collect()]
    assert got == want and len(got) == 5


def test_wand_string_doc_ids(spark, tmp_path):
    """Bucket assignment hashes the id COLUMN (xxhash64 over any
    type), so string-keyed corpora work end-to-end — including the
    empty-result schema, which is derived from the stored tier."""
    docs = spark.createDataFrame(
        [(f"doc-{i}", f"common w{i} extra{i % 3}") for i in range(30)],
        "doc_id string, text string",
    )
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=8)
    exact = [tuple(r) for r in query_postings_index(spark, path, "common extra1", k=5).collect()]
    wand = [
        tuple(r)
        for r in query_postings_index(
            spark, path, "common extra1", k=5, mode="wand"
        ).collect()
    ]
    assert wand == exact and len(wand) == 5
    empty = query_postings_index(spark, path, "zzzunseen", mode="wand")
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "string",
        "double",
    ]


def test_wand_large_kept_set_joins_distributed(spark, tmp_path, monkeypatch):
    """When the kept-bucket set exceeds WAND_COLLECT_MAX the planner
    returns kept=None and the scorer broadcast-semi-joins the
    distributed kept frame instead of inlining ids — answers must be
    IDENTICAL to the inline path (and to exact). Forced here by
    dropping the collect cap to 0."""
    import lakehouse_dba_tools_spark.similarity.bm25 as bm25

    docs = _zipf_docs(spark, 1000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=256)
    q = "t1 t3 t9"
    exact = [tuple(r) for r in query_postings_index(spark, path, q, k=10).collect()]
    inline = [
        tuple(r)
        for r in query_postings_index(spark, path, q, k=10, mode="wand").collect()
    ]
    monkeypatch.setattr(bm25, "WAND_COLLECT_MAX", 0)
    plan = _wand_plan(spark, path, q, 10, None, None)
    assert plan["kept"] is None and plan["kept_count"] > 0
    joined = [
        tuple(r)
        for r in query_postings_index(spark, path, q, k=10, mode="wand").collect()
    ]
    assert joined == inline == exact
    docs.unpersist()


def test_wand_theta_reaches_true_kth_on_zipf(spark, tmp_path):
    """The round-11 seed fix's contract: scoring the FULL max(k, 8k)
    top-ub seed (never early-stopping on covered-doc count) recovers
    θ == the true k-th score whenever fewer than max(k,8k) buckets
    have ub ≥ θ* — which holds on the Zipf fixture at this scale. The
    round-10 planner's early stop left θ measurably below θ* and kept
    ~2.7× more postings than a perfect threshold."""
    docs = _zipf_docs(spark, 2000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=512)
    for q in ("t1", "t1 t3 t9"):
        plan = _wand_plan(spark, path, q, 10, None, None)
        exact = query_postings_index(spark, path, q, k=10).collect()
        assert plan["theta"] == pytest.approx(
            float(exact[-1]["bm25_score"]), abs=1e-3
        ), q
    docs.unpersist()


def test_wand_refinement_round_preserves_exactness(spark, tmp_path, monkeypatch):
    """Force the θ-refinement round (factor 0 → any multi-term query
    with kept buckets refines) and pin that (a) the plan reports it,
    (b) θ never overshoots the true k-th score, and (c) answers stay
    hash-identical to exact mode."""
    import lakehouse_dba_tools_spark.similarity.bm25 as bm25

    docs = _zipf_docs(spark, 2000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=512)
    monkeypatch.setattr(bm25, "WAND_REFINE_FACTOR", 0)
    q = "t1 t3 t9"
    plan = _wand_plan(spark, path, q, 10, None, None)
    exact = [tuple(r) for r in query_postings_index(spark, path, q, k=10).collect()]
    wand = [
        tuple(r)
        for r in query_postings_index(spark, path, q, k=10, mode="wand").collect()
    ]
    assert wand == exact
    # θ is a true-score lower bound even after refinement
    assert plan["theta"] <= exact[-1][1] + 1e-4
    docs.unpersist()


def test_score_kept_join_fallback_rederives_without_frame(spark, tmp_path, monkeypatch):
    """_score_kept_join's compat path: a plan stripped of the
    planner's persisted kept frame (hand-built plans, external
    tooling) re-derives the kept buckets from the pinned blockmax
    slice and still scores exactly."""
    import lakehouse_dba_tools_spark.similarity.bm25 as bm25
    from lakehouse_dba_tools_spark.similarity.bm25 import _score_kept_join

    docs = _zipf_docs(spark, 1000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=256)
    monkeypatch.setattr(bm25, "WAND_COLLECT_MAX", 0)
    q = "t1 t3 t9"
    plan = _wand_plan(spark, path, q, 10, None, None)
    assert plan["kept"] is None and "_kept_frame" in plan
    exact = [tuple(r) for r in query_postings_index(spark, path, q, k=10).collect()]
    from pyspark.sql import functions as F

    def topk(scored):
        return [
            (r[0], round(r["_score"], 4))
            for r in scored.orderBy(F.col("_score").desc(), "doc_id")
            .limit(10)
            .collect()
        ]

    with_frame = topk(_score_kept_join(spark, plan))
    plan.pop("_kept_frame")
    without_frame = topk(_score_kept_join(spark, plan))
    assert with_frame == without_frame == exact
    docs.unpersist()


def test_wand_refinement_fires_organically_and_stays_exact(spark, tmp_path):
    """VERDICT r11 directive #4: the θ-refinement round occurs WITHOUT
    monkeypatching in its natural regime — a many-common-term query
    with k small relative to the bucket count over the moderate-skew
    Zipf corpus. 8 head terms sum 8 per-term block maxima into every
    bucket's bound, the maxima come from DIFFERENT docs (head terms
    rarely co-peak in one doc), so ub clears the seed θ for far more
    than 4×|seed| buckets AND a non-seed bucket holds a true score
    above the seed's k-th — θ provably rises (refined=True is set only
    on a raise). Pins: organic refined=True, the kept/seed trigger
    ratio, θ ≤ the true k-th score (lower-bound contract), and
    wand == exact on the same snapshot."""
    import lakehouse_dba_tools_spark.similarity.bm25 as bm25
    from lakehouse_dba_tools_spark.similarity.bm25 import _wand_plan

    docs = _zipf_docs(spark, 4000)
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, wand_buckets=512)
    q = "t1 t2 t3 t4 t5 t6 t7 t8"
    k = 5
    plan = _wand_plan(spark, path, q, k, None, None)
    pb = plan.pop("_per_bucket", None)
    if pb is not None:
        pb.unpersist()
    assert plan["refined"] is True  # no monkeypatch anywhere
    assert plan["kept_count"] > bm25.WAND_REFINE_FACTOR * len(plan["seed"])
    exact = [tuple(r) for r in query_postings_index(spark, path, q, k=k).collect()]
    wand = [
        tuple(r)
        for r in query_postings_index(spark, path, q, k=k, mode="wand").collect()
    ]
    assert wand == exact
    assert plan["theta"] <= exact[-1][1] + 1e-4
    docs.unpersist()
