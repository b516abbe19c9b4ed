"""Structural invariants of the round-4 late-addition operators —
properties the DuckDB oracle can't state (it replays the same
computation, so a shared logic error passes parity; these pin the math
against its own contracts instead).
"""

from __future__ import annotations

from etl_github_spark.queries.registry import QUERIES

from .conftest import SF_ORACLE


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_ORACLE).collect()


def test_countmin_never_undercounts(spark):
    """CM sketch guarantee: estimate >= exact for every probed token,
    and the overcount column is exactly their difference."""
    rows = _rows(spark, "agg_countmin_tokens")
    assert rows
    for r in rows:
        assert r.cm_est >= r.exact_cnt, r
        assert r.overcount == r.cm_est - r.exact_cnt


def test_quantile_sketch_monotone_and_merge_consistent(spark):
    """p50 <= p90 <= p99 per scope, and the GLOBAL sketch's n equals
    the sum of the per-source n (the merge lost nothing)."""
    rows = _rows(spark, "agg_quantile_sketch_rollup")
    g = [r for r in rows if r.scope == "GLOBAL"]
    src = [r for r in rows if r.scope != "GLOBAL"]
    assert len(g) == 1 and src
    for r in rows:
        assert r.p50_est <= r.p90_est <= r.p99_est, r
    assert g[0].n == sum(r.n for r in src)


def test_survival_curve_monotone_with_censoring(spark):
    """Survival counts are non-increasing in k, survived <= at-risk
    everywhere, and k=0 has every user at risk and surviving."""
    rows = sorted(_rows(spark, "analytics_survival_curve"), key=lambda r: r.day_k)
    assert rows and rows[0].day_k == 0
    assert rows[0].n_at_risk == rows[0].n_survived  # everyone survives day 0
    prev_ar, prev_sv = None, None
    for r in rows:
        assert r.n_survived <= r.n_at_risk, r
        if prev_ar is not None:
            assert r.n_at_risk <= prev_ar and r.n_survived <= prev_sv, r
        prev_ar, prev_sv = r.n_at_risk, r.n_survived


def test_activity_bitmap_counts_conserve_users(spark):
    """Histogram buckets partition the user set: sum(n_users) equals the
    distinct active users, active_days stays within the 64-bit window,
    and week-intersection counts never exceed the bucket."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table

    rows = _rows(spark, "analytics_activity_bitmap")
    n_users = (
        load_table(spark, SF_ORACLE, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        assert 1 <= r.active_days <= 63  # bit 63 excluded (sign bit)
        assert 0 <= r.n_both_weeks <= r.n_users


def test_hits_scores_bounded_by_renormalization(spark):
    """The per-round integer renormalization bounds every emitted score:
    score div (max div S) keeps values near S regardless of degree —
    the overflow contract the docstring claims."""
    rows = _rows(spark, "graph_hits_bipartite")
    assert rows
    roles = {r.role for r in rows}
    assert roles == {"authority", "hub"}
    for r in rows:
        assert 0 <= r.score_q6 <= 3_000_000, r  # ~2x the 1e6 scale + slack


def test_hits_storage_does_not_grow_with_rounds(spark, monkeypatch):
    """Each HITS round checkpoints two frames; the round's checkpoints
    must be released once the next round has consumed them, so a
    6-round run leaves exactly as many persisted RDDs behind as a
    3-round run (the final scores). Both outputs equal the oracle
    unrolled to the same number of rounds (its CTEs materialized: each
    round references the previous one twice, so inlined CTEs grow as
    4^rounds scans)."""
    from etl_github_spark.queries import graph

    from .oracle_harness import compare

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    left = []
    for iters in (3, 6):
        monkeypatch.setattr(graph, "_HITS_ITERS", iters)
        before = persisted()
        out = graph.graph_hits_bipartite(spark, SF_ORACLE)  # held: keeps its scores
        left.append(len(persisted() - before))
        errors = compare(
            spark, SF_ORACLE, "graph_hits_bipartite", lambda *_: out,
            graph._hits_sql().replace(" AS (", " AS MATERIALIZED ("),
        )
        assert not errors, errors
    assert left[0] == left[1], left


def test_fk_orphans_covers_every_edge_and_no_orphans_in_fixture(spark):
    """All seven audited edges report, each with n_rows equal to the
    child table's count; the TPC-H-shaped fixture is referentially
    intact so every orphan count is zero."""
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.validate import _FK_EDGES

    rows = {r.fk_edge: r for r in _rows(spark, "quality_fk_orphans")}
    assert set(rows) == {e[0] for e in _FK_EDGES}
    for label, child, _, _, _ in _FK_EDGES:
        assert rows[label].n_rows == load_table(spark, SF_ORACLE, child).count()
        assert rows[label].n_orphans == 0, label


def test_expectations_full_row_accounting(spark):
    """Every check row carries the same n_rows (single shared scan) and
    violations never exceed the row count."""
    rows = _rows(spark, "quality_expectations")
    assert len(rows) == 8
    ns = {r.n_rows for r in rows}
    assert len(ns) == 1
    for r in rows:
        assert 0 <= r.n_violations <= r.n_rows
        assert r.viol_permille == (1000 * r.n_violations) // r.n_rows


def test_winsorized_mean_between_cutoffs(spark):
    """A winsorized mean is clamped by construction: lo <= mean <= hi,
    and cutoffs are ordered."""
    for r in _rows(spark, "stat_winsorized_mean"):
        assert r.lo <= r.hi
        assert r.lo <= r.winsor_mean <= r.hi, r


def test_pca_power_vector_is_unit_scale_fixed_point(spark):
    """The iterated vector's max |component| sits at the 1e6 fixed-point
    scale (the renormalization contract) and the eigenvalue estimate is
    positive for a Gram (PSD) matrix."""
    rows = _rows(spark, "stat_embedding_pca_power")
    assert len(rows) == 64
    mx = max(abs(r.v_q6) for r in rows)
    assert 900_000 <= mx <= 2_100_000  # ~S, slack for div truncation
    assert rows[0].eig_scaled > 0


def test_theil_sen_slope_within_pairwise_extremes(spark):
    """The median slope must lie within the min/max pairwise slopes and
    the pair count must be n*(n-1)/2."""
    r = _rows(spark, "stat_theil_sen_daily_trend")[0]
    assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
    # a median of slopes is itself a pairwise slope: finite, and for a
    # roughly-stationary daily series it stays near zero while OLS may
    # wander — only sanity-bound it here
    assert abs(r.ts_slope) < 1e6 and abs(r.ols_slope) < 1e6


def test_frame_sample_bounded_fanout_and_timestamps(spark):
    """Every clip emits ceil(n_frames/stride) rows, indices stay below
    n_frames, and timestamps are consistent with fps."""
    import collections

    rows = _rows(spark, "multimodal_frame_sample")
    per = collections.defaultdict(list)
    for r in rows:
        per[r.doc_id].append(r)
    for doc, rs in per.items():
        nf, fps = rs[0].n_frames, rs[0].fps
        assert len(rs) == (nf + 9) // 10
        for r in rs:
            assert 0 <= r.frame_idx < nf
            assert r.ts_ms == (1000 * r.frame_idx) // fps
            assert r.duration_ms == (1000 * nf) // fps


def test_mad_anomaly_flags_match_definition(spark):
    """Flags recompute from the emitted med/mad columns — the flag can
    never disagree with its own published statistics."""
    for r in _rows(spark, "trend_anomaly_mad"):
        expect = 1 if 2 * abs(r.n_events - r.med) > 5 * max(r.mad, 1) else 0
        assert r.is_anomaly == expect, r


def test_benford_permille_accounting(spark):
    """Digits 1-9 all present, observed permille consistent with counts,
    deviations equal observed minus expected."""
    rows = _rows(spark, "stat_benford_first_digit")
    assert {r.first_digit for r in rows} == set(range(1, 10))
    total = sum(r.n for r in rows)
    for r in rows:
        assert r.obs_permille == (1000 * r.n) // total
        assert r.dev_permille == r.obs_permille - r.benford_permille


def test_interval_overlap_bucketing_adds_no_duplicates(spark):
    """The day-bucketed equi-join must agree with a direct (unbucketed)
    overlap join computed on the same session frame — bucketing is an
    execution strategy, not a semantics change."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table

    e = load_table(spark, SF_ORACLE, "events")
    s = e.groupBy(F.session_window("ts", "1 day").alias("w"), "user_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    days = e.select(F.to_date("ts").alias("day")).distinct()
    c = days.select(
        "day",
        (F.col("day").cast("timestamp") + F.expr("INTERVAL 12 HOURS")).alias("c_start"),
        (F.col("day").cast("timestamp") + F.expr("INTERVAL 14 HOURS")).alias("c_end"),
    )
    direct = (
        s.crossJoin(c)
        .where((F.col("s_start") < F.col("c_end")) & (F.col("s_end") >= F.col("c_start")))
        .groupBy("day")
        .agg(F.count("*").alias("n_sessions"), F.countDistinct("user_id").alias("n_users"))
    )
    want = {(r.day, r.n_sessions, r.n_users) for r in direct.collect()}
    got = {
        (r.day, r.n_sessions, r.n_users)
        for r in _rows(spark, "join_interval_overlap")
    }
    assert got == want


def test_minhash_planted_exact_duplicates_surface_at_est_one(spark):
    """Banded MinHash-LSH invariants any correct family keeps: output
    schema, est_jaccard in [0.5, 1], doc_a < doc_b, and —
    deterministically — every exact-duplicate pair (true Jaccard ==
    1.0, so identical signatures collide in every band) surfaced with
    est 1.0. The fixture has no exact dups, so the test plants them:
    each doc is unioned with a copy under doc_id+OFFSET."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table
    from etl_github_spark.minhash import candidates, near

    base = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .where(F.size(F.split("text", " ")) >= 3)
        .limit(100)
    )
    offset = 10_000_000
    docs = base.unionByName(
        base.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    )
    planted = {(r.doc_id, r.doc_id + offset) for r in base.collect()}
    rows = near(candidates(docs, with_est=True)).collect()
    assert rows and rows[0].__fields__ == ["doc_a", "doc_b", "est_jaccard"]
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in rows}
    for r in rows:
        assert 0.5 <= r.est_jaccard <= 1.0 and r.doc_a < r.doc_b
    for pair in planted:
        assert got.get(pair) == 1.0, pair


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark):
    """The winnowing theorem: two documents sharing a token run of
    length >= k+w-1 (= 6 here) MUST share at least one selected
    fingerprint — the recall contract dedup_winnow_overlap's candidate
    stage relies on. Planted docs share exactly one 6-token run inside
    otherwise-disjoint text; a third doc with no overlap must share
    nothing."""
    from etl_github_spark.queries.text_ext import (
        _WINNOW_K,
        _WINNOW_W,
        text_winnow_fingerprints,
    )

    assert _WINNOW_K + _WINNOW_W - 1 == 6
    run = "alpha bravo charlie delta echo foxtrot"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {run} four five six"),
            (2, f"seven eight nine ten {run} eleven twelve"),
            (3, "totally different words with no shared run at all here"),
        ],
        "doc_id long, text string",
    )
    # route the fixture loader at our in-memory frame
    import etl_github_spark.queries.text_ext as te

    orig_T = te.T
    te.T = lambda _s, _d, _n: docs
    try:
        rows = text_winnow_fingerprints(spark, "ignored").collect()
    finally:
        te.T = orig_T
    by_doc = {d: set() for d in (1, 2, 3)}
    for r in rows:
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_bloom_prefilter_prunes_without_false_negatives(spark):
    """The join bloom: (a) passes EVERY true-matching fact row (no
    false negatives — the correctness property the exact join cannot
    repair), (b) actually prunes (pass rate well below 1 for a
    selective key set), (c) the prefiltered exact join equals the
    plain join exactly."""
    from pyspark.sql import functions as F

    from etl_github_spark.queries._util import T
    from etl_github_spark.queries.joins import bloom_prefilter

    sf = "/root/testdata/sf0.001"
    li = T(spark, sf, "lineitem").select("l_suppkey", "l_orderkey")
    # a selective key set: suppliers with s_suppkey % 7 == 0 (~14%)
    keys = (
        T(spark, sf, "supplier")
        .where(F.col("s_suppkey") % 7 == 0)
        .select("s_suppkey")
    )
    pref = bloom_prefilter(li, "l_suppkey", keys, "s_suppkey")

    total = li.count()
    passed = pref.count()
    true_match = li.join(keys, li.l_suppkey == keys.s_suppkey, "left_semi").count()
    assert passed >= true_match  # no false negatives
    assert passed < total * 0.6  # genuinely prunes a selective probe

    exact_after = (
        pref.join(keys, pref.l_suppkey == keys.s_suppkey)
        .groupBy("l_suppkey")
        .count()
        .collect()
    )
    plain = (
        li.join(keys, li.l_suppkey == keys.s_suppkey)
        .groupBy("l_suppkey")
        .count()
        .collect()
    )
    assert sorted(map(tuple, exact_after)) == sorted(map(tuple, plain))


def test_bloom_prefilter_rejects_mismatched_key_types(spark):
    """xxhash64 is type-sensitive (int 5 and bigint 5 hash to different
    values), so a type mismatch between the fact and key columns would
    silently fail every membership probe — dropping every true match
    before the exact join can repair it. The helper must raise, never
    guess a cast."""
    import pytest
    from pyspark.sql import functions as F

    from etl_github_spark.queries._util import T
    from etl_github_spark.queries.joins import bloom_prefilter

    sf = "/root/testdata/sf0.001"
    li = T(spark, sf, "lineitem").select(
        F.col("l_suppkey").cast("int").alias("l_suppkey")
    )
    keys = T(spark, sf, "supplier").select("s_suppkey")  # bigint
    with pytest.raises(TypeError, match="type-sensitive"):
        bloom_prefilter(li, "l_suppkey", keys, "s_suppkey")


def test_degenerate_group_guards_null_on_both_engines(spark):
    """Constant-valued / single-row groups must yield NULL — never an
    engine-version-sensitive 0/0 (NULL vs NaN vs ANSI error) — from
    the shared shape/correlation expressions. The guard text is the
    SAME string both engines evaluate, so assert both."""
    import duckdb

    from etl_github_spark.queries.aggregates import _KURT_EXPR, _SKEW_EXPR
    from etl_github_spark.queries.stats import _RHO_EXPR, _TAU_EXPR

    cases = [
        # constant x = 3 over n = 5 rows: s_k = 5 * 3^k → m2 = 0
        (f"SELECT {_SKEW_EXPR} AS v FROM "
         "(SELECT 5 AS n, 15 AS s1, 45 AS s2, 135 AS s3, 405 AS s4)"),
        (f"SELECT {_KURT_EXPR} AS v FROM "
         "(SELECT 5 AS n, 15 AS s1, 45 AS s2, 135 AS s3, 405 AS s4)"),
        # all-tied x ranks: sxx = 0
        (f"SELECT {_RHO_EXPR} AS v FROM "
         "(SELECT 4 AS n, 0 AS sxy, 0 AS sxx, 20 AS syy)"),
        # single-day series and fully-tied series
        (f"SELECT {_TAU_EXPR} AS v FROM "
         "(SELECT 1 AS n, 0 AS c, 0 AS d, 0 AS ty)"),
        (f"SELECT {_TAU_EXPR} AS v FROM "
         "(SELECT 5 AS n, 0 AS c, 0 AS d, 10 AS ty)"),
    ]
    con = duckdb.connect()
    for q in cases:
        assert spark.sql(q).first()["v"] is None, q
        assert con.sql(q).fetchone()[0] is None, q
    con.close()


def test_silhouette_bounds_and_assignment_consistency(spark):
    """Simplified silhouette contract: a is the argmin distance so
    s = (b−a)/max(a,b) ∈ [0, 1]; every cell's mean inherits the bound;
    point counts sum to the corpus."""
    from etl_github_spark.io.tables import load_table

    rows = _rows(spark, "sim_silhouette_kmeans")
    assert rows
    for r in rows:
        assert 0.0 <= r.mean_silhouette <= 1.0, r
        assert r.n_points > 0
    n = load_table(spark, SF_ORACLE, "embeddings").count()
    assert sum(r.n_points for r in rows) == n


def test_modularity_bipartite_pathology_and_bounds(spark):
    """Newman-Girvan bounds: Q ∈ [−1, 1); on THIS bipartite graph the
    synchronous-LPA two-coloring puts every edge across communities
    (e_in = 0 ∀c), whose closed form is Q = −Σ(d_c/2m)² — the check
    exists to catch exactly this pathology, so assert it fires."""
    rows = _rows(spark, "graph_modularity_lpa")
    assert len(rows) == 1
    r = rows[0]
    assert -1.0 <= r.modularity < 1.0
    assert r.modularity < 0.0  # bipartite two-coloring: every edge crosses


def test_mutual_information_bounds(spark):
    """Plug-in MI contracts: 0 ≤ MI ≤ min(H(s), H(l)) (up to the
    nano-nat quantization grain) and NMI ∈ [0, 1]."""
    rows = _rows(spark, "stat_mutual_information")
    assert len(rows) == 1
    r = rows[0]
    grain = 1e-6  # quantization slack: cells × 1e-9 each side
    assert r.mi_nats >= -grain
    assert r.mi_nats <= min(r.h_source, r.h_lang) + grain
    assert r.h_source > 0 and r.h_lang > 0
    assert 0.0 - grain <= r.nmi <= 1.0 + grain


def test_auc_matches_pairwise_definition(spark):
    """Rank-formula AUC must equal the O(n²) pairwise definition
    (P(pos > neg) + ½P(tie)) computed naively per source."""
    from collections import defaultdict

    from etl_github_spark.io.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select(
        "source", "lang", "n_chars"
    ).collect()
    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append((d.n_chars, 1 if d.lang == "en" else 0))
    rows = _rows(spark, "stat_auc_roc")
    assert rows
    for r in rows:
        pts = by_src[r.source]
        pos = [x for x, y in pts if y == 1]
        neg = [x for x, y in pts if y == 0]
        assert r.n_pos == len(pos) and r.n_neg == len(neg)
        if not pos or not neg:
            assert r.auc is None
            continue
        wins = sum(1 for p in pos for q in neg if p > q)
        ties = sum(1 for p in pos for q in neg if p == q)
        expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
        assert abs(r.auc - expected) < 1e-12, (r.source, r.auc, expected)


def test_shapley_efficiency_axiom(spark):
    """Σφ_i = v(N) − v(∅): the factorial weights must telescope exactly
    (integers, so exact equality). v(N) = all converting user-days,
    v(∅) = purchase-only days — recompute both from the fact table."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table

    rows = _rows(spark, "analytics_shapley_attribution")
    assert len(rows) == 3
    ev = load_table(spark, SF_ORACLE, "events")
    ud = ev.groupBy("user_id", F.date_trunc("day", "ts")).agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("s"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    v_full = ud.where("conv = 1").count()
    v_empty = ud.where("conv = 1 AND v = 0 AND c = 0 AND s = 0").count()
    assert sum(r.phi6 for r in rows) == 6 * (v_full - v_empty)


def test_assortativity_and_knn_curve_consistent(spark):
    """r ∈ [−1, 1]; the knn curve's weighted mean over endpoints equals
    Σjk/M from the same moments; and on a bipartite graph with
    customer-degree ≠ supplier-degree distributions r is negative
    (hub-and-spoke disassortativity)."""
    rows = _rows(spark, "graph_assortativity")
    assert len(rows) == 1
    r = rows[0]
    assert -1.0 <= r.assortativity <= 1.0
    assert r.assortativity < 0.0  # bipartite hub-and-spoke
    curve = _rows(spark, "graph_knn_degree_curve")
    assert curve
    assert sum(c.neighbor_degree_sum for c in curve) == r.sum_deg
    assert sum(c.degree * c.neighbor_degree_sum for c in curve) == r.sum_jk
    assert sum(c.n_edge_endpoints for c in curve) == r.m_directed_edges


def test_lsh_parameter_plan_monotone_tradeoff(spark):
    """More rows per band ⇒ a sharper, later-crossing S-curve: s50
    rises with r, false-positive mass falls with r, false-negative
    mass rises with r — the planner's entire reason to exist."""
    rows = sorted(_rows(spark, "dedup_lsh_parameter_plan"),
                  key=lambda x: x.rows_per_band)
    assert len(rows) == 5
    for a, b in zip(rows, rows[1:]):
        assert a.s50_below_permille <= b.s50_below_permille
        assert a.fp_nano_sum >= b.fp_nano_sum
        assert a.fn_nano_sum <= b.fn_nano_sum


def test_diff_in_diff_cell_identity(spark):
    """DID must equal the four cell means recombined — and every cell
    mean must be finite and present (the 2×2 never degenerates on the
    fixture)."""
    rows = _rows(spark, "stat_diff_in_diff")
    assert len(rows) == 1
    r = rows[0]
    for c in ("m_t_pre", "m_t_post", "m_c_pre", "m_c_post"):
        assert getattr(r, c) is not None
    assert r.did == (r.m_t_post - r.m_t_pre) - (r.m_c_post - r.m_c_pre)


def test_cramers_v_bounds_and_correction_shrinks(spark):
    """V ∈ [0, 1]; the Bergsma correction can only shrink the estimate;
    chi2 must be non-negative."""
    rows = _rows(spark, "stat_cramers_v")
    assert len(rows) == 1
    r = rows[0]
    assert r.chi2 >= 0.0
    assert 0.0 <= r.cramers_v <= 1.0
    assert r.cramers_v_corrected is None or (
        0.0 <= r.cramers_v_corrected <= r.cramers_v + 1e-12
    )


def test_clustering_coefficient_consistency(spark):
    """avg-cc and transitivity both ∈ [0, 1]; the triangle total must
    equal graph_triangle_count's (same edge definition)."""
    rows = _rows(spark, "graph_clustering_coefficient")
    assert len(rows) == 1
    r = rows[0]
    assert 0.0 <= r.avg_clustering <= 1.0
    assert 0.0 <= r.transitivity <= 1.0
    tri = _rows(spark, "graph_triangle_count")
    assert r.n_triangles == tri[0].n_triangles


def test_shannon_entropy_evenness_bounds(spark):
    """H ≥ 0; evenness H/ln(V) ∈ [0, 1] (up to nano-nat grain); the
    uniform upper bound H ≤ ln(V) must hold per source."""
    import math

    rows = _rows(spark, "quality_shannon_entropy")
    assert rows
    grain = 1e-6
    for r in rows:
        assert r.entropy_nats >= -grain, r
        assert r.entropy_nats <= math.log(r.n_types) + grain, r
        if r.entropy_ratio is not None:
            assert -grain <= r.entropy_ratio <= 1.0 + grain, r


def test_two_proportion_cells_partition_user_days(spark):
    """The four z-test cells must partition the user-day frame exactly:
    n_t + n_c = total user-days, x ≤ n per arm, and z's sign must match
    the proportion gap."""
    rows = _rows(spark, "stat_two_proportion_ztest")
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r.x_t <= r.n_t and 0 <= r.x_c <= r.n_c
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table

    ud = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("user_id", F.date_trunc("day", "ts"))
        .count()
        .count()
    )
    assert r.n_t + r.n_c == ud
    if r.z_stat is not None:
        assert (r.z_stat > 0) == (r.p_treat > r.p_ctrl) or r.z_stat == 0


def test_hte_deciles_partition_users_and_balance(spark):
    """Integer deciles must partition the pre-period cohort into 10
    near-equal cells (sizes differ by ≤ 1 per the div formula), and
    every user lands in exactly one (decile, arm) cell."""
    rows = _rows(spark, "stat_hte_uplift_deciles")
    assert len(rows) == 10
    sizes = sorted(r.n_treat + r.n_ctrl for r in rows)
    assert sizes[-1] - sizes[0] <= 1
    assert {r.decile for r in rows} == set(range(1, 11))


def test_phash_pairs_respect_radius_and_ordering(spark):
    """Every emitted pair: doc_a < doc_b, hamming ≤ 3; and the pair set
    must be closed under the pigeonhole guarantee — recompute a few
    hashes and confirm any distance-0 duplicate pair is present."""
    rows = _rows(spark, "multimodal_phash_dedup_pairs")
    assert rows
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b and 0 <= r.hamming <= 3, r
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_rotation_window_matches_generator():
    """The driver-rotation window in queries/__init__.py is a PASTE of
    tools_gen_rotation.py output — a stale or hand-edited paste silently
    wastes driver slots re-verifying fresh greens while the backlog
    starves. Assert the committed window equals compute_window() for the
    committed promote list, and that the promote list is the window's
    prefix (the tool ranks promotions first when there are no reds).

    Round-aware: the expectation is computed from CORRECTNESS files of
    rounds < N (N parsed from the ``_RN_WINDOW`` attr name) — the paste
    is made before round N's own driver artifact exists, so a
    ``CORRECTNESS_rN.json`` the driver drops after the final commit must
    not retroactively re-rank the window (it reddened round 9 live)."""
    import importlib.util
    import os
    import re

    spec = importlib.util.spec_from_file_location(
        "tools_gen_rotation",
        os.path.join(os.path.dirname(__file__), "..", "tools_gen_rotation.py"),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    import etl_github_spark.queries as q

    window_attr = [a for a in dir(q) if a.endswith("_WINDOW")]
    promoted_attr = [a for a in dir(q) if a.endswith("_PROMOTED")]
    assert len(window_attr) == 1, f"expected one window, got {window_attr}"
    assert len(promoted_attr) == 1, f"expected one promote list, got {promoted_attr}"
    window = getattr(q, window_attr[0])
    promoted = getattr(q, promoted_attr[0])
    m = re.fullmatch(r"_R(\d+)_WINDOW", window_attr[0])
    assert m, f"window attr must be named _RN_WINDOW, got {window_attr[0]}"
    paste_round = int(m.group(1))

    expect = tool.compute_window(
        window=len(window), promote=promoted, before_round=paste_round
    )
    assert window == expect, (
        "rotation window is stale — regenerate with "
        f"`python tools_gen_rotation.py --promote {','.join(promoted)}` "
        "and re-paste"
    )
    # the driver hashes the FIRST len(window) registry entries — the
    # applied rotation must actually put the window there.
    assert list(q.QUERIES)[: len(window)] == window


def test_queries_md_matches_registry():
    """QUERIES.md is generated from the registry; a committed copy that
    drifted (a renamed query, a rewritten docstring) misdescribes the
    engine. Regenerate with `python tools_gen_query_index.py`."""
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "tools_gen_query_index", root / "tools_gen_query_index.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert (root / "QUERIES.md").read_text() == tool.render(), (
        "QUERIES.md is stale — run `python tools_gen_query_index.py`"
    )


def test_bench_names_are_registered():
    """Every bench HEADLINE/EXTENDED name must exist in the registry — a
    typo or a renamed query would otherwise surface only as a silent
    -1.0 entry in the driver's BENCH_r{N}.json."""
    import bench

    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    dupes = [
        n
        for n in set(bench.HEADLINE) & set(bench.EXTENDED)
    ]
    assert not dupes, f"queries benched twice (headline AND extended): {dupes}"


def test_enc_node_round_trips_and_rejects_keys_outside_envelope(spark):
    """`_enc_node` is order-preserving and `_dec_node` inverts it inside
    [0, 10^12); a negative key or one of 10^12 or more would encode
    ambiguously, so the projection itself must fail the job."""
    import pytest

    from etl_github_spark.queries.graph import _dec_node, _enc_node

    keys = [0, 1, 9, 10, 19, 2, 100, 999_999_999_999]
    enc = (
        spark.createDataFrame([(k,) for k in keys], "k long")
        .select("k", _enc_node("k", 1).alias("e"))
        .select("k", "e", _dec_node("e").alias("d"))
        .collect()
    )
    assert all(r.d == f"S{r.k}" for r in enc)
    assert [r.k for r in sorted(enc, key=lambda r: r.e)] == sorted(keys, key=str)

    for bad in (-1, 10**12):
        df = spark.createDataFrame([(5,), (bad,)], "k long")
        with pytest.raises(Exception, match="_enc_node: key outside"):
            df.select(_enc_node("k", 0).alias("e")).collect()
    nulls = spark.createDataFrame([(None,)], "k long").select(_enc_node("k", 0).alias("e"))
    assert nulls.first().e is None


def test_mutable_tables_have_no_copy_on_write_swap():
    """Every mutation of an existing table, index store or view commits
    through the Delta log, so no module may bring back the copy-on-write
    path: a dynamic partition overwrite (`partitionOverwriteMode`) or a
    rename-aside directory swap (`__compacting` / `_compact_tmp` /
    `__refreshing` staging dirs, `__old` / `.old` set-asides moved with
    `shutil.move`). No module is exempt."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "etl_github_spark"
    pattern = re.compile(
        r"partitionOverwriteMode|__compacting|_compact_tmp|__refreshing|__old"
        r"|\.old\"|shutil\.move"
    )
    hits = [
        f"{path.relative_to(pkg).as_posix()}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"copy-on-write table machinery is back: {hits}"


def test_cc_storage_does_not_grow_with_diameter(spark):
    """Connected components releases each round's label checkpoints
    once the next round has consumed them, so a long chain (more
    rounds) leaves as many persisted RDDs behind as a short one: the
    returned labels."""
    import pytest

    from etl_github_spark.queries.clustering import connected_components

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def chain(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
        )

    # the long chain really needs more rounds than the short one
    connected_components(chain(4), max_iters=3)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain(64), max_iters=3)
    left = []
    for n in (4, 64):
        before = persisted()
        lab = connected_components(chain(n))  # held: keeps its labels
        left.append(len(persisted() - before))
        assert {r.label for r in lab.collect()} == {0}
    assert left[0] == left[1], left


def _scoped(tree):
    """(node, names of the enclosing functions) for every node in tree."""
    import ast

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = (*scope, child.name)
            yield child, inner
            yield from walk(child, inner)

    yield from walk(tree, ())


def _calls(tree):
    """(call, names of the enclosing functions) for every call in tree."""
    import ast

    return ((n, scope) for n, scope in _scoped(tree) if isinstance(n, ast.Call))


def test_query_code_never_writes_session_conf():
    """Session conf is written in one module, `session.py`, and tuned
    only at the session boundaries: the factory (`get_spark`), the
    driver entry (`query_map`) and the SQL entry (`open_catalog`).
    Query code that wrote session-wide conf would race against any
    other query running on a concurrent driver thread."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "etl_github_spark"
    boundary = {"get_spark", "query_map", "open_catalog"}
    conf_sets, tunes = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for call, scope in _calls(ast.parse(path.read_text())):
            f = call.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if (
                name == "set"
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
                and rel != "session.py"
            ):
                conf_sets.append(f"{rel}:{call.lineno}")
            if name == "tune" and not boundary & set(scope):
                tunes.append(f"{rel}:{call.lineno} in {'.'.join(scope) or '<module>'}")
    assert not conf_sets, f"conf.set outside session.py: {conf_sets}"
    assert not tunes, f"tune() outside the session boundary: {tunes}"


def test_loop_and_replay_queries_are_thread_safe(spark):
    """Two loop queries and two streaming replays run at once on four
    driver threads give their serial outputs, and leave the shared
    session's conf exactly as they found it. The replays share one
    streaming child session, so this also checks that their memory
    sinks keep apart."""
    from concurrent.futures import ThreadPoolExecutor

    names = (
        "dedup_cluster_components",
        "graph_kcore_peel",
        "stream_hourly_counts_replay",
        "stream_sessionize_replay",
    )

    def run(name):
        return sorted(map(tuple, QUERIES[name].fn(spark, SF_ORACLE).collect()))

    conf = dict(spark.conf.getAll)
    serial = {n: run(n) for n in names}
    assert dict(spark.conf.getAll) == conf
    with ThreadPoolExecutor(len(names)) as pool:
        concurrent = dict(zip(names, pool.map(run, names)))
    assert concurrent == serial
    assert dict(spark.conf.getAll) == conf


def test_stream_replays_do_not_grow_the_listener_bus(spark):
    """A session that runs a stream adds listeners to the SparkContext's
    shared listener bus, and nothing removes them. Replays share one
    streaming child per width, so replays after the first add none.
    The SCD2 and exactly-once replays start foreachBatch sinks on the
    caller's own session; repeating them must not grow the bus either."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    names = (
        "stream_hourly_counts_replay",
        "stream_scd2_replay",
        "stream_delta_sink_exactly_once",
    )
    for name in names:
        QUERIES[name].fn(spark, SF_ORACLE).collect()
    after_first = bus.listeners().size()
    for _ in range(2):
        for name in names:
            QUERIES[name].fn(spark, SF_ORACLE).collect()
    assert bus.listeners().size() == after_first


def test_spark_internals_only_in_session_module():
    """Private Spark handles (py4j `_jvm`/`_jdf`/`_jsq`/`_jsc`/
    `_jsparkSession`), JVM reflection (`getDeclaredField`), the Python
    worker's import machinery (`zipimport`, `pyspark.daemon`) and frames
    built from driver rows (`createDataFrame(`, which `local_frame`
    wraps) appear in `session.py` only, so a Spark upgrade that moves
    one breaks one module and its tests, not a loop query somewhere
    else."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "etl_github_spark"
    private = {"_jvm", "_jdf", "_jsq", "_jsc", "_jsparkSession", "getDeclaredField"}
    texts = ("zipimport", "pyspark.daemon", "createDataFrame(")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "session.py":
            continue
        src = path.read_text()
        for n in ast.walk(ast.parse(src)):
            name = n.attr if isinstance(n, ast.Attribute) else getattr(n, "id", None)
            if name in private:
                hits.append(f"{rel}:{n.lineno} {name}")
        for lineno, line in enumerate(src.splitlines(), 1):
            hits += [f"{rel}:{lineno} {t}" for t in texts if t in line]
    assert not hits, f"Spark internals outside session.py: {hits}"


def test_minhash_family_defined_only_in_minhash_module():
    """The banded-MinHash family lives in `etl_github_spark/minhash.py`
    alone: the md5 shingle id (`md5(s)` over a shingle `s`, Spark and
    DuckDB forms) and the signature agreement fold (Spark `zip_with`
    equality, DuckDB `CASE WHEN a.s{i} = b.s{i}` sum) appear nowhere
    else in the package or in bench.py, and no module or test imports a
    MinHash name from `queries.dedup`."""
    import ast
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "etl_github_spark"
    family = pkg / "minhash.py"
    tree = ast.parse(family.read_text())
    names = {
        n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    } | {
        t.id
        for n in tree.body
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    names |= {f"_{n}" for n in names} | {
        "_md5_band_rows", "_md5_minhash_candidates", "_md5_sig_bands_cte",
        "_md5_lsh_cte", "_N_HASHES", "_BAND_SIZE", "_MERSENNE_P", "_words",
    }
    patterns = (
        re.compile(r"md5\(s\)"),
        re.compile(r"\(x == y\)\.cast"),
        re.compile(r"CASE WHEN \w+\.s\{i\} = \w+\.s\{i\}"),
    )
    hits = []
    files = sorted(pkg.rglob("*.py")) + [root / "bench.py"]
    for path in files + sorted((root / "tests").glob("*.py")):
        src = path.read_text()
        rel = path.relative_to(root).as_posix()
        if path in files and path != family:
            hits += [f"{rel}: {p.pattern}" for p in patterns if p.search(src)]
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, ast.ImportFrom) and (n.module or "").endswith("dedup") and (
                "queries" in (n.module or "") or path.parent.name == "queries"
            ):
                hits += [f"{rel}: imports {a.name}" for a in n.names if a.name in names]
    assert not hits, hits


def test_driver_boundary_tunes_an_adversarial_session(spark):
    """The driver hands `queries()` a session it configured itself.
    Each query must tune that session before planning: on a session
    with ANSI off, nanosecond timestamps read natively and a non-UTC
    zone, a table query over `events.ts`, a GH Archive query, a
    streaming replay and the freshness capstone still match their
    oracles. The test session those sessions derive from keeps its
    conf."""
    import __spark_entry__ as entry

    from .oracle_harness import compare

    conf = dict(spark.conf.getAll)
    adv = spark.newSession()
    adv.conf.set("spark.sql.ansi.enabled", "false")
    adv.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    adv.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    queries, oracles = entry.queries(), entry.oracle_sql()
    for name in (
        "sessionize_events",
        "gha_extract_commits",
        "stream_hourly_counts_replay",
        "pipeline_index_freshness",
    ):
        errors = compare(adv, SF_ORACLE, name, queries[name], oracles[name])
        assert not errors, (name, errors)
    assert dict(spark.conf.getAll) == conf


def test_delta_log_does_each_job_in_one_place():
    """`io/delta_log.py` builds the `commitInfo` action in one function
    (the commit step), opens a version file in one function (the log
    reader), and calls `_commit` only from the commit step, so every
    verb commits and reads the log the same way and the hand-written
    copies cannot come back."""
    import ast
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "etl_github_spark/io/delta_log.py"
    infos, opens, commits = set(), set(), set()
    for node, scope in _scoped(ast.parse(path.read_text())):
        where = scope[0] if scope else "<module>"
        if isinstance(node, ast.Dict) and any(
            isinstance(k, ast.Constant) and k.value == "commitInfo" for k in node.keys
        ):
            infos.add(where)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "_commit":
                commits.add(where)
            if (
                node.func.id == "open"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and getattr(node.args[0].func, "id", None) == "_version_file"
            ):
                opens.add(where)
    assert len(infos) == 1, f"commitInfo actions built in {sorted(infos)}"
    assert len(opens) == 1, f"version files opened in {sorted(opens)}"
    assert commits == infos, f"_commit called from {sorted(commits)}, not the commit step"
