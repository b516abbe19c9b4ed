"""Physical-plan regression tests: the properties ARCHITECTURE.md claims
(pushdown, pruning, broadcast, TakeOrderedAndProject) must survive
refactors — a correct-but-slow plan is a perf regression the oracle
can't catch."""

from __future__ import annotations

import contextlib
import io
import re

from etl_github_spark.queries.registry import QUERIES

from .conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name].fn(spark, SF_SMALL).explain("formatted")
    return buf.getvalue()


def test_projection_prunes_scan(spark):
    p = plan_of(spark, "project_subset")
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_extendedprice" not in read


def test_filters_push_to_scan(spark):
    p = plan_of(spark, "filter_range_date")
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "o_orderdate" in pushed and "GreaterThanOrEqual" in pushed
    assert "EqualTo(o_orderstatus,F)" in pushed.replace(" ", "").replace("'", "")


def test_flagship_uses_broadcast_join(spark):
    p = plan_of(spark, "flagship_popular_user_clicks")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_dims_broadcast(spark):
    p = plan_of(spark, "join_multiway_dims")
    assert p.count("BroadcastHashJoin") >= 2


def test_topk_avoids_global_sort(spark):
    p = plan_of(spark, "sort_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_q1_partial_final_aggregate(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert p.count("HashAggregate") >= 2  # partial + final


def test_minhash_band_rows_no_shuffle(spark):
    """Banding must stay pure map-side work: no Exchange between the
    scan and the band explode."""
    from etl_github_spark.io.tables import load_table
    from etl_github_spark.minhash import band_rows

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        band_rows(load_table(spark, SF_SMALL, "documents"), with_sig=True).explain("formatted")
    plan = buf.getvalue()
    assert "Generate" in plan and "explode" in plan
    assert "Exchange" not in plan


def test_ann_codebook_fit_frames_are_sampled(spark):
    """lloyd_fit / pq_fit must train on a bounded deterministic sample,
    not the full corpus: the fit frame filters vec_id by modulus (the
    100 TB contract their docstrings make), and the sampled fit still
    yields the oracle-pinned results (covered by parity/recall tests)."""
    from pyspark.sql import functions as F

    from etl_github_spark.io.tables import load_table
    from etl_github_spark.queries.scale_paths import fit_sample

    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    fit = fit_sample(emb, 0.25)
    # the sample is exactly the mod-4 ids — deterministic, engine-portable
    ids = [r.vec_id for r in fit.select("vec_id").collect()]
    assert ids and all(i % 4 == 0 for i in ids)
    n_all = emb.count()
    assert len(ids) <= n_all // 4 + 1
    # and the filter sits in the plan (a fit over the corpus would not
    # have it), so a refactor can't silently drop the sampling
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fit.explain("formatted")
    assert "% 4" in buf.getvalue()
    # fraction >= 1 short-circuits to the corpus
    assert fit_sample(emb, 1.0) is emb


def test_jaccard_df_cap_contract(spark):
    """The shingle df-cap must not bind on fixture data (results identical
    to uncapped), and a cap of 1 must kill every candidate pair (any
    shared shingle has df >= 2 by definition)."""
    from etl_github_spark.queries.dedup import dedup_jaccard_pairs

    sf = SF_SMALL
    capped = {tuple(r) for r in dedup_jaccard_pairs(spark, sf).collect()}
    uncapped = {tuple(r) for r in dedup_jaccard_pairs(spark, sf, df_cap=1 << 40).collect()}
    assert capped == uncapped
    assert dedup_jaccard_pairs(spark, sf, df_cap=1).count() == 0


def test_containment_cap_ignores_hot_shingles_both_sides(spark, tmp_path):
    """A contained doc holding one hot (df > cap) shingle must still be
    caught: per-doc sizes are counted AFTER the hot filter, so the cap
    treats boilerplate shingles as ignorable on both sides rather than
    making shared == |A| unreachable."""
    from etl_github_spark.queries.dedup import dedup_containment_pairs

    # 12 filler docs share the boilerplate prefix "x y z q1 q2", so every
    # trigram bridging it into the contained doc's core ("x y z", "y z q1",
    # "z q1 q2") has df = 13 > cap = 10 — all hot.
    filler = [(100 + i, f"x y z q1 q2 t{i} u{i}") for i in range(12)]
    # contained doc = hot prefix + a quoted core; container = the same
    # core wrapped in unique text WITHOUT the hot prefix. After the cap,
    # contained's set is {"q1 q2 q3", "q2 q3 q4"} ⊂ container's set.
    contained = (1, "x y z q1 q2 q3 q4")
    container = (2, "w1 w2 q1 q2 q3 q4 w3 w4")
    df = spark.createDataFrame(filler + [contained, container], "doc_id long, text string")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r.contained_id, r.container_id)
        for r in dedup_containment_pairs(spark, sf, df_cap=10).collect()
    }
    # pre-fix behavior: n_a counted "x y z*" shingles, shared could not
    # reach it, and (1, 2) was silently dropped
    assert (1, 2) in got
    # no filler doc is contained in anything once the hot shingle is ignored
    assert all(a not in range(100, 112) for a, _ in got)


def test_jaccard_hot_shingle_anti_join_is_broadcast(spark):
    """The df-cap anti-join must broadcast the hot-shingle set, not
    shuffle the inverted index a second time."""
    import contextlib
    import io

    from etl_github_spark.queries.dedup import dedup_jaccard_pairs

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup_jaccard_pairs(spark, SF_SMALL).explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_tpch_ext_plans_no_accidental_cartesian(spark):
    """Every extended TPC-H shape must plan equi-joins (broadcast or
    shuffle), never a cartesian/nested-loop — except q22's deliberate
    1-row scalar-threshold cross join."""
    for name in (
        "q2_min_cost_supplier",
        "q4_order_priority",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_type_profit",
        "q12_priority_by_status",
        "q14_promo_effect",
        "q16_supplier_part_cnt",
        "q18_large_volume_customers",
        "q19_disjunctive_revenue",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, name
        assert "BroadcastHashJoin" in p, name


def test_q4_plans_semi_join(spark):
    assert "LeftSemi" in plan_of(spark, "q4_order_priority")


def test_q22_scalar_crossjoin_is_broadcast_single_row(spark):
    """The threshold aggregate must arrive as a broadcast nested-loop of
    a 1-row relation, and the no-recent-orders filter as an anti-join."""
    p = plan_of(spark, "q22_idle_rich_customers")
    # tree section: exactly one BroadcastNestedLoopJoin node (the 1-row
    # threshold relation); formatted explain repeats nodes in the detail
    # section, so count tree lines only.
    tree = p.split("\n\n")[0]
    assert sum("BroadcastNestedLoopJoin" in l for l in tree.splitlines()) == 1
    assert "LeftAnti" in p


def test_quantize_is_pure_projection(spark):
    """int8 quantization must compile to a single shuffle-free
    whole-stage-codegen projection over the scan."""
    p = plan_of(spark, "emb_quantize_int8")
    assert "Exchange" not in p
    assert "Join" not in p and "Aggregate" not in p


def test_multi_query_topk_broadcasts_queries(spark):
    """The query-vector set must broadcast (one corpus scan regardless
    of |Q|), never shuffle the corpus against it."""
    p = plan_of(spark, "sim_topk_multi_query")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q17_semi_join_is_broadcast(spark):
    """The brand part-list semi-join must be broadcast and applied
    before the per-part stats aggregation."""
    p = plan_of(spark, "q17_small_qty_revenue")
    assert "BroadcastHashJoin" in p
    assert "LeftSemi" in p


def test_q21_dim_join_is_broadcast(spark):
    """The nation-filtered supplier dim must broadcast; the semi/anti
    self-joins may shuffle on the order key only."""
    p = plan_of(spark, "q21_waiting_suppliers")
    assert "BroadcastHashJoin" in p


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval-set shingle list must broadcast so the contamination
    check is a map-side join over the corpus scan."""
    p = plan_of(spark, "curate_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sample_predicate_is_scan_side(spark):
    """Content-hash sampling must stay a per-row filter (no shuffle,
    no join)."""
    p = plan_of(spark, "curate_sample_stratified")
    assert "Exchange" not in p
    assert "Join" not in p


def test_quality_stats_pure_projection(spark):
    """Per-doc quality stats must pipeline with the scan: no Exchange,
    no Python evaluation anywhere in the plan."""
    p = plan_of(spark, "quality_gopher_stats")
    assert "Exchange" not in p
    assert "Python" not in p  # BatchEvalPython / ArrowEvalPython


def test_pii_redact_pure_projection(spark):
    p = plan_of(spark, "quality_pii_redact")
    assert "Exchange" not in p


def test_boilerplate_ngrams_partial_agg(spark):
    """df-count over exploded trigrams must partial-aggregate map-side so
    shuffle volume is the distinct (ngram, doc) set."""
    p = plan_of(spark, "quality_boilerplate_ngrams")
    assert p.count("HashAggregate") >= 2


def test_q11_broadcasts_dims_single_agg_shuffle(spark):
    p = plan_of(spark, "q11_important_stock")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_q20_pair_key_join_broadcast_part(spark):
    p = plan_of(spark, "q20_potential_promotion")
    assert "BroadcastHashJoin" in p


def test_outliers_single_shuffle_broadcast_moments(spark):
    """Moment table must broadcast back onto the scan — exactly one
    aggregation exchange, no sort-merge join."""
    p = plan_of(spark, "stat_outliers_zscore")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_collocations_broadcast_unigram_sides(spark):
    p = plan_of(spark, "text_collocations_lift")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_gap_fill_spine_broadcast(spark):
    p = plan_of(spark, "trend_gap_filled_hourly")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_salted_join_partitions_on_salt(spark):
    """The salted join must shuffle on (key, salt), not the bare key —
    otherwise the rewrite silently degenerates to the plain hot-key join."""
    p = plan_of(spark, "join_salted_hotkey")
    assert "__salt" in p


def test_rolling_wau_broadcasts_day_spine(spark):
    """The trailing-window distinct must be a broadcast range join over
    the deduped (day, user) set — never a shuffled cartesian."""
    p = plan_of(spark, "trend_rolling_7d_users")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_event_dedup_single_window_shuffle(spark):
    import re

    p = plan_of(spark, "dedup_events_hourly")
    # exactly one exchange node (formatted plans print each node twice:
    # tree + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    # and the rn=1 filter must push a partial top-1 below the shuffle
    assert "WindowGroupLimit" in p


def test_capstone_pipeline_no_python_broadcast_moments(spark):
    """The composed curation pipeline must stay JVM-only, broadcast the
    per-source moment table, and never sort-merge join."""
    p = plan_of(spark, "curate_pipeline_full")
    assert "Python" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_profile_documents_single_scan(spark):
    """The profiler must read the table ONCE (multi-distinct planned as
    one Scan + Expand), not once per profiled column — at 100 TB the
    scan dominates the profile cost."""
    import re

    p = plan_of(spark, "profile_documents")
    # each scan node prints one "(N) Scan parquet" detail header
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "Expand" in p


def test_lsh_recall_truth_join_no_cartesian(spark):
    """The recall pin joins truth pairs to LSH candidates on (doc_a,
    doc_b) — an equi-join, never a cartesian."""
    p = plan_of(spark, "dedup_lsh_recall")
    assert "CartesianProduct" not in p


def test_flagship_no_global_sort_exchange(spark):
    """Sink-side clustering (sortWithinPartitions) must not reintroduce
    the rangepartitioning exchange of a global orderBy (the r02 flagship
    regression)."""
    p = plan_of(spark, "flagship_popular_user_clicks")
    assert "rangepartitioning" not in p.lower()


def test_pack_sequences_windows_per_shard(spark):
    """The packing cumsum must partition by shard — a single-partition
    global window would serialize the whole corpus through one task."""
    p = plan_of(spark, "pack_sequences")
    assert "Exchange SinglePartition" not in p
    assert "hashpartitioning(shard" in p


def test_token_rarity_df_join_is_broadcast(spark):
    # vocab-sized doc-frequency table broadcasts; the token stream is
    # never sort-merge shuffled against it.
    p = plan_of(spark, "quality_token_rarity")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_normalize_clean_shuffle_free(spark):
    p = plan_of(spark, "text_normalize_clean")
    assert "Exchange" not in p


def test_int8_topk_plan(spark):
    p = plan_of(spark, "sim_topk_int8")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_anomaly_days_broadcasts_moments(spark):
    # 1-row moment summary joins back as a broadcast nested loop, never
    # a shuffle join or raw cartesian.
    p = plan_of(spark, "trend_anomaly_days")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_knn_classify_broadcasts_query_set(spark):
    p = plan_of(spark, "sim_knn_classify")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_inverted_index_no_cartesian(spark):
    p = plan_of(spark, "text_inverted_index")
    assert "CartesianProduct" not in p


def test_span_coverage_no_cartesian(spark):
    """Span coverage is linear in the corpus: gram-keyed hash joins
    only, never a pairwise document join."""
    p = plan_of(spark, "dedup_span_coverage")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" not in p  # full per-doc output, no sort


def test_span_trim_no_cartesian_no_token_explode_join(spark):
    """The trim reuses the gram-df kernel, then joins positions back to
    docs ONCE on doc_id — the corpus token arrays are never exploded
    into the join, so plan cost stays linear in the corpus."""
    p = plan_of(spark, "dedup_span_trim")
    assert "CartesianProduct" not in p


def test_semantic_prune_cell_local_join(spark):
    """SemDeDup prune must join cell-local (label equi-join), never
    all-pairs: candidate volume is sum(|cell|^2), not corpus^2."""
    p = plan_of(spark, "dedup_semantic_prune")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # label key makes it an equi-join


def test_importance_weights_broadcast_totals(spark):
    """The 1-row totals aggregate must broadcast; no cartesian of data."""
    p = plan_of(spark, "curate_importance_weights")
    assert "CartesianProduct" not in p


def test_matryoshka_rerank_topk_plan(spark):
    """Both passes must plan as TakeOrderedAndProject (no global sort);
    the single-row query vector joins as a broadcast."""
    p = plan_of(spark, "sim_matryoshka_rerank")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row query side, broadcast
    assert "CartesianProduct" not in p


def test_binary_hamming_topk_plan(spark):
    """Both passes plan as TakeOrderedAndProject (no global sort); the
    1-row query signature joins as a broadcast."""
    p = plan_of(spark, "sim_topk_binary_hamming")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_word_concentration_pure_projection(spark):
    """HHI must pipeline with the scan — the sorted-run fold keeps the
    whole computation per-row: no key-based shuffle, no join, no
    aggregate (the only Exchange is par()'s round-robin spread of the
    single-row-group fixture)."""
    p = plan_of(spark, "quality_word_concentration")
    assert "hashpartitioning" not in p
    assert "Join" not in p and "HashAggregate" not in p


def test_embedding_separation_cell_local_join(spark):
    """Cohesion QA joins cell-local on label (equi-join), never
    all-pairs."""
    p = plan_of(spark, "stat_embedding_separation")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_event_transitions_single_corpus_shuffle(spark):
    """The only corpus-sized exchange is the user-id window partition;
    the pair agg and the normalization window run on the tiny
    |types|^2 matrix."""
    p = plan_of(spark, "analytics_event_transitions")
    assert "CartesianProduct" not in p
    assert "Join" not in p  # pure window + agg pipeline, no join at all


def test_semantic_pipeline_composition_shape(spark):
    """Capstone #2 composes filter -> trim -> HHI -> sample in one plan:
    semi-join for the rule filter, gram-keyed joins from the span
    kernel, and no cartesian anywhere."""
    p = plan_of(spark, "curate_semantic_pipeline")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p


def test_sample_quota_window_group_limit(spark):
    """The per-stratum quota must push into the window as a group limit
    (each partition retains only quota rows pre-filter), and there must
    be no global sort."""
    p = plan_of(spark, "curate_sample_quota")
    assert "WindowGroupLimit" in p
    assert "Exchange rangepartitioning" not in p


def test_doc_keywords_window_group_limit(spark):
    """Top-3 keywords per doc must plan a WindowGroupLimit (per-group
    rank pushdown) and broadcast the vocabulary-sized df table."""
    p = plan_of(spark, "text_doc_keywords")
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p


def test_user_paths_single_window_pass(spark):
    """Both leads share one Window node (same partition/order), and the
    top-20 plans as TakeOrderedAndProject."""
    p = plan_of(spark, "analytics_user_paths_topk")
    tree = p.split("\n\n")[0]
    assert tree.count("Window (") + tree.count("Window(") <= 1
    assert "TakeOrderedAndProject" in p


def test_fuzzy_corpus_no_cartesian(spark):
    """The dedup capstone must stay candidate-bounded: band-bucket
    equi-joins and doc-keyed verification joins only."""
    p = plan_of(spark, "dedup_fuzzy_corpus")
    assert "CartesianProduct" not in p


def test_bloom_decontaminate_probe_is_joinless(spark):
    """The bloom probe must be a pure per-row fold over the corpus scan:
    the 8 KB filter rides as a literal, so the plan contains NO join —
    the whole point vs the exact variant's broadcast-hash-join."""
    p = plan_of(spark, "curate_decontaminate_bloom")
    assert "Join" not in p
    # and the flagged set can only GROW vs the exact variant (bloom
    # false positives over-count; false negatives are impossible)
    from etl_github_spark.queries.curation import curate_decontaminate_bloom
    from etl_github_spark.queries.registry import QUERIES

    exact = {r.doc_id for r in QUERIES["curate_decontaminate"].fn(spark, SF_SMALL).collect()}
    bloom = {r.doc_id for r in curate_decontaminate_bloom(spark, SF_SMALL).collect()}
    assert exact <= bloom


def test_concurrent_sessions_sweep_is_distributed(spark):
    """The sweep must be a bucket-partitioned window + broadcast offset
    join — never an interval self-join (no nested-loop) and never a
    single-partition global window."""
    p = plan_of(spark, "analytics_concurrent_sessions")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the running-sum window is partitioned on the sweep bucket (its
    # exchange hashes on bucket — NOT a SinglePartition global sort)
    assert "windowspecdefinition(bucket" in p
    assert "hashpartitioning(bucket" in p
    assert "SinglePartition" not in p


def test_prefix_jaccard_equals_exhaustive_above_threshold(spark):
    """Prefix filtering must lose NOTHING at its threshold: results equal
    the exhaustive inverted-index op filtered to jaccard >= 1/2, while
    generating strictly fewer candidate pairs."""
    from pyspark.sql import functions as F

    from etl_github_spark.queries.dedup import dedup_jaccard_pairs, dedup_jaccard_prefix

    exhaustive = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_jaccard_pairs(spark, SF_SMALL).collect()
        if r.jaccard >= 0.5
    }
    prefix = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_jaccard_prefix(spark, SF_SMALL).collect()
    }
    assert prefix == exhaustive

    # candidate reduction: rebuild both indexes and count distinct
    # candidate pairs — the prefix index (rarest ~half of each doc)
    # must generate strictly fewer than the full inverted index
    from pyspark.sql import Window

    from etl_github_spark.io.tables import load_table
    from etl_github_spark.minhash import words
    from etl_github_spark.queries.dedup import _hashed_shingles

    def cands(idx):
        a, b = idx.alias("a"), idx.alias("b")
        return (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    full = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", F.explode(_hashed_shingles(F.col("w"))).alias("sh"))
    )
    ex = full.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    dfreq = full.groupBy("sh").agg(F.count("*").alias("df"))
    pref_idx = (
        ex.join(dfreq, "sh")
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh"))
        )
        .where(F.col("rn") <= F.expr("n_sh - ((n_sh + 1) div 2) + 1"))
        .select("doc_id", "sh")
    )
    assert cands(pref_idx) < cands(full)


def test_bm25_single_scan_and_topk(spark):
    """BM25 must compute dl + all tf columns in ONE token-scan aggregate
    (no per-term join), broadcast the 1-row stats, and take the top-k
    with TakeOrderedAndProject (no rangepartitioning sort)."""
    p = plan_of(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "SortMergeJoin" not in p
    # one corpus explode only: the token stream is materialized once
    assert p.count("Generate explode") <= 1


def test_perplexity_vocab_broadcasts(spark):
    """The surprisal table is vocab-sized: it must reach the token
    stream as a broadcast, never a shuffled join."""
    p = plan_of(spark, "quality_perplexity_unigram")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_perplexity_bigram_no_self_join_for_bigrams(spark):
    """Bigram pairs come from a lead() window partitioned by doc_id —
    not a positional self-join of the token stream."""
    p = plan_of(spark, "quality_perplexity_bigram")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pagerank_scalars_broadcast_topk_bounded(spark):
    """Every per-iteration scalar (N, dangling mass) joins as a 1-row
    broadcast (BroadcastNestedLoopJoin) — a cartesian there would scan
    the rank frame per row. The final top-k must be
    TakeOrderedAndProject, not a global sort.

    Since r13 each round materializes through localCheckpoint (the
    measured-width loop window), so the returned frame's lineage stops
    at a Scan ExistingRDD — the round-join shapes are only visible in
    the PRE-checkpoint plans. Capture them by hooking localCheckpoint
    and assert over every frame the loop materializes."""
    # patch the CLASSIC class — `pyspark.sql.DataFrame` is the abstract
    # base in Spark 4 and instances resolve the classic override
    from pyspark.sql.classic.dataframe import DataFrame

    round_plans: list[str] = []
    orig = DataFrame.localCheckpoint

    def capturing(self, eager=True):
        round_plans.append(
            self._jdf.queryExecution().explainString(
                self.sparkSession._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        )
        return orig(self, eager)

    DataFrame.localCheckpoint = capturing
    try:
        p = plan_of(spark, "graph_pagerank_purchases")
    finally:
        DataFrame.localCheckpoint = orig

    # final frame: bounded top-k over the materialized loop result
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "CartesianProduct" not in p
    # round frames: scalar joins broadcast, never cartesian
    assert round_plans, "loop materialized no frames"
    assert all("CartesianProduct" not in rp for rp in round_plans)
    assert any("BroadcastNestedLoopJoin" in rp for rp in round_plans)


def test_hll_rollup_partial_aggregates(spark):
    """Daily sketches must build with map-side partial aggregation
    (partial + final HashAggregate/ObjectHashAggregate pairs)."""
    p = plan_of(spark, "agg_hll_sketch_rollup")
    assert (p.count("HashAggregate") + p.count("ObjectHashAggregate")) >= 2
    assert "CartesianProduct" not in p


def test_degree_histogram_map_side_combine(spark):
    p = plan_of(spark, "graph_degree_histogram")
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_market_basket_broadcast_frequencies_no_cartesian(spark):
    """Item frequencies are part-dimension-sized and must broadcast to
    the pair table; the pair self-join keys on the order (no cartesian
    anywhere — the 1-row n_baskets join is a broadcast NLJ)."""
    p = plan_of(spark, "analytics_market_basket")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_triangle_count_keyed_joins_only(spark):
    p = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p


def test_stats_and_growth_ops_plan_hygiene(spark):
    """The statistical-testing and growth-accounting family must stay
    free of accidental cartesians and keep partial+final aggregation;
    their only nested-loop joins are deliberate 1-row or
    dimension-sized broadcasts (pair frames, totals)."""
    for name in (
        "stat_welch_ttest_sources",
        "stat_mannwhitney_sources",
        "stat_ks_sources",
        "trend_weekday_profile",
        "trend_cusum_changepoint",
        "analytics_growth_accounting",
        "analytics_stickiness_dau_wau",
        "analytics_time_to_convert",
        "analytics_attribution_last_touch",
        "dedup_rate_by_source",
        "pack_bins_shelf",
        "stat_embedding_drift_split",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        # attribution is a pure join+window op; shelf packing is a pure
        # window op — neither aggregates.
        if name not in ("analytics_attribution_last_touch", "pack_bins_shelf"):
            assert "HashAggregate" in p or "SortAggregate" in p, name


def test_validation_ops_single_pass_shape(spark):
    """quality_expectations must be ONE scan of events — a single
    partial+final aggregate pair and no joins (every check is a
    conditional aggregate, not a separate pass)."""
    p = plan_of(spark, "quality_expectations")
    assert "Join" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1


def test_fk_orphans_broadcasts_parent_keys(spark):
    """Every FK-audit edge joins against a distinct parent-key
    projection — dimension-sized, so all seven audits should broadcast
    (no SortMergeJoin at fixture/dimension scale)."""
    p = plan_of(spark, "quality_fk_orphans")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 5


def test_activity_bitmap_two_aggregates_no_join(spark):
    """Raw events collapse to one int64 per user (map-side-combinable
    bit_or) then a tiny histogram — no joins, no window, exactly two
    aggregate pairs."""
    p = plan_of(spark, "analytics_activity_bitmap")
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("HashAggregate") >= 2


def test_windowed_funnel_reuses_user_partitioning(spark):
    """The bounded funnel keeps the unbounded funnel's shape: user-keyed
    aggregations, 1-row final crossjoins (broadcast), no cartesian of
    fact-sized frames."""
    p = plan_of(spark, "analytics_funnel_windowed")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the three 1-row count joins


def test_winsorized_mean_broadcasts_cutoffs(spark):
    """Cutoff table is |langs| rows — must broadcast back onto the
    scan, not shuffle the corpus a second time for the clamp join."""
    p = plan_of(spark, "stat_winsorized_mean")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_quantile_sketch_rollup_sketch_sized_merge(spark):
    """The GLOBAL rollup must derive from the per-source sketch rows
    (one scan of documents total), and the quantile walk windows over
    sketch-sized partitions."""
    p = plan_of(spark, "agg_quantile_sketch_rollup")
    # the sketch is localCheckpoint-materialized: both the per-source
    # branch and the GLOBAL merge read the SAME sketch RDD — zero
    # parquet re-scans in the final plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, re.M)) == 2
    assert "Window" in p


def test_image_dims_pure_projection(spark):
    """Header encode+parse is a per-row column chain: no shuffle, no
    join, no aggregate — scan-speed by construction."""
    p = plan_of(spark, "multimodal_image_dims")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "HashAggregate" not in p


def test_hits_no_cartesian_and_bounded_topk(spark):
    """HITS rounds are edge-keyed sum joins plus 1-row max broadcasts;
    the outputs are bounded top-k (TakeOrderedAndProject), never a
    global sort exchange."""
    p = plan_of(spark, "graph_hits_bipartite")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_pca_power_gram_is_single_distributed_pass(spark):
    """The PCA corpus cost is ONE Gram pass: the collected matrix is
    64x64 metadata, and the partial fold must not shuffle raw
    embeddings (only the 4096-row partials exchange)."""
    from etl_github_spark.queries.stats import _gram_partials

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _gram_partials(spark, SF_SMALL).explain("formatted")
    p = buf.getvalue()
    # one scan, one repartition of the (small) input ahead of the fold,
    # and no aggregate before the partials emerge from mapInPandas
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "HashAggregate" not in p


def test_interval_overlap_is_bucketed_equi_join(spark):
    """The session×campaign overlap must run as a hash equi-join on the
    day bucket with the range predicate as a residual — never a
    nested-loop/cartesian over the two interval sets."""
    p = plan_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # the day-bucket hash join survived optimization


def test_countmin_sketch_rides_preaggregated_counts(spark):
    """The CM sketch must build from the localCheckpoint'd per-token
    counts (no second corpus explode) and broadcast the 2048-row sketch
    into the probe join."""
    p = plan_of(spark, "agg_countmin_tokens")
    assert p.count("Generate explode") <= 1
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anomaly_mad_single_events_scan(spark):
    """`daily` feeds the median, the deviation frame, and the output;
    Spark does not CSE DataFrame subtrees, so without the lazy
    localCheckpoint the events scan+agg would run 3-4×. The checkpoint
    cuts lineage: the physical plan of the result must contain at most
    one parquet scan of events (zero once the checkpoint materializes —
    then the days frame is an in-memory LogicalRDD)."""
    df = QUERIES["trend_anomaly_mad"].fn(spark, SF_SMALL)
    df.collect()  # materialize the lazy checkpoint
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) <= 1
    assert "Scan ExistingRDD" in p or len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1


def test_winnow_fingerprints_shuffle_only_for_distinct(spark):
    """The winnowing pipeline is a pure per-row fold — the ONLY exchange
    in the plan may be the final output DISTINCT (hash aggregate), and
    no join may appear; the corpus is scanned once."""
    p = plan_of(spark, "text_winnow_fingerprints")
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1


def test_cep_journey_single_user_day_shuffle(spark):
    """The CEP query is one aggregation keyed on (user, day): exactly
    one corpus scan, no join, and the regex motif counting happens in
    the post-agg projection (scan-side, no second shuffle)."""
    p = plan_of(spark, "analytics_event_pattern_cep")
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1


def test_null_safe_join_is_hash_not_nested_loop(spark):
    """eqNullSafe must plan as a hash join on the (coalesce, isnull)
    key wrapper — a BroadcastNestedLoopJoin here would be O(n·|keys|)
    at scale for what is semantically an equi-join."""
    p = plan_of(spark, "join_null_safe_eq")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_resource_allocation_single_edge_shuffle(spark):
    """The RA edge set repartitions by c ONCE; the (c,p) distinct, the
    degree agg, and both self-join sides must all reuse that
    clustering — EnsureRequirements adding exchanges on c or (c,p)
    would triple the corpus shuffle at scale."""
    p = plan_of(spark, "graph_resource_allocation")
    assert "Cartesian" not in p
    # exchanges: the explicit repartition(c) + the (part_a, part_b)
    # pair agg + the single-partition TakeOrdered feed; anything on
    # (c, p) means the distinct stopped reusing the c clustering
    assert not re.search(r"hashpartitioning\(c#\d+L?, p#", p)


def test_weighted_median_range_frame_and_one_sort(spark):
    """The cumulative weight must use the RANGE frame (tie-group
    stable, engine-portable) and the per-group value sort should
    appear once — a second sort means the totw window stopped sharing
    the partitioning."""
    p = plan_of(spark, "agg_weighted_median")
    assert re.search(r"RangeFrame, unboundedpreceding\$\(\), currentrow\$\(\)", p)
    # ONE exchange + ONE sort feed both Window nodes (cumw shares its
    # (flag, price) sort with the totw full-partition frame)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1


def test_markov_iteration_off_corpus(spark):
    """The K=32 absorption solve must run on the ONE-row cells frame:
    no window or join may appear after the transition count aggs —
    the corpus contributes exactly the journey window + count."""
    p = plan_of(spark, "analytics_markov_attribution")
    assert "Cartesian" not in p
    # the scenario explode is a Generate over a 1-row input; the
    # iteration itself is pure projection (aggregate HOF) — assert no
    # sort-merge join anywhere (all joins are tiny broadcasts)
    assert "SortMergeJoin" not in p


def test_holt_winters_fold_is_projection(spark):
    """The seasonal fold must stay a whole-stage projection over the
    per-type series arrays — a Python UDF or extra shuffle here means
    the recurrence left the JVM."""
    p = plan_of(spark, "trend_holt_winters_seasonal")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert len(re.findall(r"hashpartitioning\(event_type#", p)) <= 2


def test_reservoir_sample_avoids_global_sort(spark):
    """The hash-rank reservoir must plan as TakeOrderedAndProject
    (per-partition top-k + driver merge), never a range-partitioned
    global sort — that IS the distributed-reservoir claim."""
    p = plan_of(spark, "agg_reservoir_sample")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_decayed_leaderboard_single_shuffle(spark):
    """One groupBy(user) exchange + top-k merge; the d0 scalar joins as
    a broadcast, and the final ranking never range-partitions."""
    p = plan_of(spark, "analytics_decayed_leaderboard")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_scene_cuts_no_join_no_window(spark):
    """Consecutive-frame distance is closed-form per row — the plan
    must contain NO join and NO window, just explode + aggregate."""
    p = plan_of(spark, "multimodal_video_scene_cuts")
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_knn_join_never_nested_loop(spark):
    """The kNN self-join must key on the SRP bucket (hash-joinable) —
    a BroadcastNestedLoopJoin/CartesianProduct would mean the bucket
    equi-key fell out of the join condition and the plan went all-pairs."""
    p = plan_of(spark, "sim_knn_join_bucketed")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_threshold_sweep_no_cartesian(spark):
    """Nine thresholds ride an explode over the aggregated PAIR frame —
    the sweep must never plan a cartesian against the shingle fan-out."""
    p = plan_of(spark, "dedup_threshold_sweep")
    assert "CartesianProduct" not in p


def test_ltv_windows_over_grid_only(spark):
    """The cumulative-revenue window must run on the cohort×offset grid
    (below the cell aggregate), never over the raw event scan: exactly
    one Window node, with at least one aggregate beneath it."""
    p = plan_of(spark, "analytics_ltv_cohort_revenue")
    # formatted explain lists each node twice (tree + details): one
    # Window node == exactly two mentions
    assert 1 <= p.count("Window") <= 2
    assert p.count("HashAggregate") >= 2


def test_randomization_test_partial_agg_no_range(spark):
    """The K=199 explode must reduce via partial+final aggregation (the
    shuffle carries K-keyed partials, never the exploded corpus) and
    the observed split joins as a broadcast — no range partitioning,
    no cartesian against the users frame."""
    p = plan_of(spark, "stat_randomization_test")
    assert "Generate" in p  # the K-way explode
    assert p.count("HashAggregate") >= 4  # users agg + perms partial/final
    assert "Exchange rangepartitioning" not in p
    assert "CartesianProduct" not in p


def test_quantile_normalize_broadcasts_distribution(spark):
    """The pooled-distribution range join must broadcast the value-
    domain-sized CDF table — a SortMergeJoin or CartesianProduct would
    mean the corpus is being sorted/paired against it."""
    p = plan_of(spark, "stat_quantile_normalize")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_hotkey_skew_topk_and_histogram_window(spark):
    """Top-10 keys must plan as TakeOrderedAndProject (per-partition
    heap), and nothing in the plan may range-partition — the Gini runs
    on the counts-of-counts histogram, not a ranked sort of the keys
    frame."""
    p = plan_of(spark, "quality_hotkey_skew")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_novelty_curve_single_hash_shuffle(spark):
    """Keep-first novelty needs exactly the content-hash partitioning
    exact dedup pays: a hash-partitioned window, no range exchange, no
    join beyond the broadcast 1-row total."""
    p = plan_of(spark, "dedup_novelty_over_time")
    assert "Exchange rangepartitioning" not in p
    assert "SortMergeJoin" not in p
    assert p.count("Window") >= 1


def test_pareto_fronts_dominance_off_corpus(spark):
    """The dominance self-join runs on the catalog-sized per-source
    frame under a broadcast — never a SortMergeJoin or cartesian of
    corpus-sized inputs."""
    p = plan_of(spark, "curate_pareto_fronts")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_isotonic_calibration_all_broadcast(spark):
    """Every minimax join runs on bucket-domain frames under broadcast
    — a SortMergeJoin or cartesian would mean a corpus-sized side
    leaked into the O(B^3) lattice."""
    p = plan_of(spark, "stat_isotonic_calibration")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def _optimized_logical(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cluster_membership_joins_not_hint_broadcast(spark):
    """The cluster-membership / core-point frames are O(clustered docs)
    — unbounded in corpus size on a duplicate-heavy crawl — so none of
    the downstream joins may carry a FORCED broadcast hint (a hint pins
    the frame in executor memory and OOMs at 100x scale; AQE already
    broadcasts at runtime when the frame actually fits). Guards the
    round-9 de-broadcast of clustering.py against regression."""
    for name in (
        "dedup_cluster_survivors",
        "split_by_cluster",
        "dedup_soft_downweight",
        "cluster_dbscan_lsh",
    ):
        plan = _optimized_logical(spark, name)
        assert "strategy=broadcast" not in plan, name


def test_dbscan_exhaustive_baseline_not_hint_broadcast(spark):
    """The O(N^2) DBSCAN baseline must not force-broadcast the full
    embedding table into its inequality join — unhinted it grid-
    partitions (memory-safe, degrades instead of OOM). The contract
    O(N^2) compute is documented; the LSH sibling is the scale path."""
    for name in ("cluster_dbscan_embeddings", "dedup_embedding_cosine"):
        plan = _optimized_logical(spark, name)
        assert "strategy=broadcast" not in plan, name


def test_knn_lsh_classify_not_hint_broadcast(spark):
    """The banded kNN-classify sibling exists to REMOVE the exact
    form's growing query-set broadcast (O(N/50) rows pinned per
    executor) — so its own plan must carry no forced broadcast hint
    anywhere, and no cartesian: candidates come from the (band, bb)
    equi-join."""
    plan = _optimized_logical(spark, "sim_knn_classify_lsh")
    assert "strategy=broadcast" not in plan
    p = plan_of(spark, "sim_knn_classify_lsh")
    assert "CartesianProduct" not in p


def test_semdedup_autok_cell_local_no_cartesian(spark):
    """Auto-k SemDeDup's pairwise prune must stay CELL-LOCAL: the
    self-join is keyed by the learned cell id (an equi-condition), so
    the physical plan has no cartesian and no forced broadcast of the
    corpus-sized assignment frame."""
    plan = _optimized_logical(spark, "dedup_semantic_prune_autok")
    assert "strategy=broadcast" not in plan
    p = plan_of(spark, "dedup_semantic_prune_autok")
    assert "CartesianProduct" not in p


def test_autoband_plan_matches_fixed_sibling_shape(spark):
    """The autoband query's physical plan must be the fixed sibling's
    bucket-local shape: no cartesian product (the candidate join is
    keyed on (band, bucket)), and the layout-selection metadata adds no
    extra exchange beyond the sibling's."""
    p_auto = plan_of(spark, "dedup_minhash_lsh_autoband")
    p_fixed = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in p_auto
    assert p_auto.count("Exchange") <= p_fixed.count("Exchange")
