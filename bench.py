#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Each query materializes via the `noop` sink (full execution, no
driver-side collect overhead) after a warm-up of the session JVM.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from etl_github_spark.queries.registry import QUERIES
from etl_github_spark.session import get_spark

#: headline set: the reference-shaped flagship + one representative per
#: operator family, weighted toward the shuffle/join/explode-heavy ops
#: whose scaling actually matters.
HEADLINE = [
    "flagship_popular_user_clicks",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_fact_fact_revenue",
    "join_left_outer_agg",
    "window_rank_topn_per_group",
    "agg_multi_shared_scan",
    "trend_hourly_by_type",
    "text_word_freq",
    "text_bigram_freq",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_lsh_bucketed_topk",
]

#: r14 (VERDICT r13 #6): heavy operators promoted into the DRIVER-VISIBLE
#: timed set, ADDITIONS-ONLY — the original 16 headline entries above keep
#: their exact protocol (5 samples, self-heal) and their keys, so their
#: round-over-round comparison stays apples-to-apples; these six are the
#: representative expensive paths (store lifecycles, exhaustive DBSCAN,
#: stream-stream join, LPA+modularity, the freshness capstone) whose r13
#: improvements the driver's PERF could not see because they lived only in
#: queries_extended (where they ALSO remain, same keys, for continuity).
#: NOTE for round-over-round tooling: their inclusion raises the summed
#: "value" field vs rounds <= 13 by construction; compare per-query.
HEADLINE_HEAVY = [
    "sim_ivfpq_store_upsert",
    "sim_ivfpq_store_compact",
    "cluster_dbscan_embeddings",
    "stream_outer_join_replay",
    "graph_modularity_lpa",
    "pipeline_index_freshness",
]

#: round-2+ operators, timed and reported separately so the headline
#: total stays composition-identical to the round-1 baseline (the
#: round-over-round comparison would otherwise be apples-to-oranges).
EXTENDED = [
    # join-heaviest TPC-H ext shapes (VERDICT r02 #9: bench them so
    # regressions on the multiway-join surface are attributable)
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "dedup_lsh_recall",
    "profile_documents",
    "dedup_cluster_components",
    "sim_topk_multi_query",
    "sim_ivf_kmeans_topk",
    "emb_quantize_int8",
    "curate_tfidf_top_terms",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "dedup_chunks_global",
    "quality_repetition_stats",
    "text_collocations_lift",
    "q11_important_stock",
    "q20_potential_promotion",
    "curate_pipeline_full",
    "trend_rolling_7d_users",
    # round-3 late additions
    "pack_sequences",
    "quality_token_rarity",
    "sim_topk_int8",
    "sim_topk_pq",
    "sim_knn_classify",
    "text_inverted_index",
    "split_by_cluster",
    "dedup_span_coverage",
    "dedup_span_trim",
    "dedup_semantic_prune",
    "curate_importance_weights",
    "sim_topk_binary_hamming",
    "text_bpe_merge_step",
    "quality_ngram_diversity",
    "quality_word_concentration",
    "analytics_event_transitions",
    "curate_semantic_pipeline",
    "dedup_fuzzy_corpus",
    "dedup_containment_pairs",
    "dedup_prefix_groups",
    "curate_token_budget",
    "analytics_event_gaps_histogram",
    "text_char_trigram_profiles",
    "curate_dedup_audit",
    "analytics_rfm_segments",
    "text_doc_keywords",
    "quality_lang_confusion",
    "analytics_user_paths_topk",
    "quality_equidepth_histogram",
    "text_fuzzy_join_qgram",
    # round-4 additions
    "curate_kcenter_diversity",
    "trend_ewma_spikes",
    "curate_decontaminate_bloom",
    "stat_embedding_gram",
    "analytics_concurrent_sessions",
    "dedup_jaccard_prefix",
    "dedup_simhash_hamming",
    "dedup_events_debounce",
    "curate_mix_temperature",
    "lake_versioned_timetravel",
    "lake_matview_refresh",
    "analytics_power_users_pareto",
    "stat_tv_distance_sources",
    "quality_perplexity_unigram",
    "quality_perplexity_bigram",
    "text_bm25_topk",
    "graph_pagerank_purchases",
    "graph_degree_histogram",
    "agg_hll_sketch_rollup",
    "agg_heavy_hitters_mg",
    "quality_oov_rate",
    "curate_curriculum_stages",
    "analytics_market_basket",
    "graph_triangle_count",
    "curate_lm_pipeline",
    "trend_autocorr_daily",
    "sim_rrf_fusion",
    "sim_ann_recall_audit",
    "analytics_attribution_last_touch",
    "graph_kcore_peel",
    "stat_welch_ttest_sources",
    "stat_mannwhitney_sources",
    "stat_ks_sources",
    "trend_weekday_profile",
    "analytics_time_to_convert",
    "curate_domain_weights_lm",
    "text_tokenizer_fertility",
    "stat_embedding_drift_split",
    "pack_bins_shelf",
    "dedup_rate_by_source",
    "analytics_stickiness_dau_wau",
    "analytics_growth_accounting",
    "trend_cusum_changepoint",
    "dedup_cross_source_syndication",
    # round-4 late additions (this session)
    "quality_fk_orphans",
    "quality_expectations",
    "analytics_activity_bitmap",
    "analytics_funnel_windowed",
    "stat_embedding_pca_power",
    "stat_winsorized_mean",
    "lake_merge_upsert",
    "graph_hits_bipartite",
    "agg_quantile_sketch_rollup",
    "multimodal_image_dims",
    "join_interval_overlap",
    "agg_countmin_tokens",
    "trend_anomaly_mad",
    "stat_benford_first_digit",
    "text_readability_ari",
    "lake_schema_evolution",
    "stat_theil_sen_daily_trend",
    "multimodal_frame_sample",
    "analytics_survival_curve",
    "lake_scd2_history",
    "analytics_attribution_linear",
    "window_value_range_frame",
    "lake_write_observed",
    "agg_mode_per_group",
    "trend_seasonal_decompose",
    "join_asof_nearest",
    "trend_wow_growth",
    # round-5 additions
    "lake_cdc_apply",
    "sim_ivf_store_probe",
    "stream_hourly_counts_replay",
    "text_winnow_fingerprints",
    "dedup_winnow_overlap",
    "stream_sessionize_replay",
    "stream_dedup_replay",
    "analytics_event_pattern_cep",
    "lake_compact_roundtrip",
    "sim_ivf_store_upsert",
    "join_bucketed_colocated",
    "lake_delta_log_scan",
    "gha_manifest_hours",
    "join_scd2_asof",
    "gha_ingest_roundtrip",
    # round-7 additions
    "lake_delta_partitioned",
    "lake_delta_checkpoint",
    "lake_delta_stats_skip",
    "stream_heavy_hitters_replay",
    "stream_attribution_replay",
    "stream_spike_gate_replay",
    "graph_bfs_shortest_paths",
    "multimodal_patch_plan",
    "join_bloom_prefilter",
    "lake_delta_evolution",
    "trend_holt_linear_forecast",
    # round-7 late additions
    "lake_delta_delete_dv",
    "lake_delta_merge",
    "lake_delta_restore",
    "lake_delta_clone",
    "lake_delta_constraints",
    "lake_delta_column_mapping",
    "lake_delta_generated",
    "stream_outer_join_replay",
    "stream_delta_sink_exactly_once",
    "stream_delta_source_replay",
    "sim_mips_augmented",
    "curate_split_leakage",
    "stat_bootstrap_ci",
    "multimodal_audio_frames",
    "graph_label_propagation",
    # round-7 final batch
    "join_null_safe_eq",
    "stat_spearman_rank",
    "agg_weighted_median",
    "agg_skew_kurtosis",
    "curate_shard_assignment",
    "graph_resource_allocation",
    "text_kneser_ney_bigram",
    "stream_scd2_replay",
    "stat_kendall_tau_daily",
    "trend_holt_winters_seasonal",
    "analytics_markov_attribution",
    # round-8 additions
    "agg_reservoir_sample",
    "analytics_decayed_leaderboard",
    "stat_ljung_box",
    "multimodal_video_scene_cuts",
    "text_hashing_trick_features",
    "sim_knn_join_bucketed",
    "graph_personalized_pagerank",
    "stat_ab_srm_guardrail",
    "dedup_soft_downweight",
    "stat_cuped_adjusted_means",
    "trend_forecast_backtest_mase",
    "dedup_threshold_sweep",
    "stat_power_analysis_mde",
    "stream_interval_join_replay",
    "analytics_ltv_cohort_revenue",
    "text_code_detect_heuristic",
    "lake_delta_commit_history",
    "stat_randomization_test",
    "stat_quantile_normalize",
    "quality_hotkey_skew",
    "dedup_novelty_over_time",
    "curate_pareto_fronts",
    "lake_delta_snapshot_diff",
    "stream_late_data_audit",
    "stat_isotonic_calibration",
    "lake_delta_append_only",
    "stream_session_append_replay",
    "analytics_funnel_any_order",
    "stat_fdr_bh_randomization",
    "cluster_dbscan_embeddings",
    "sim_ivfpq_topk",
    "stat_anova_oneway",
    "graph_modularity_lpa",
    "sim_silhouette_kmeans",
    "stat_mutual_information",
    "stat_auc_roc",
    "graph_clustering_coefficient",
    "graph_assortativity",
    "analytics_shapley_attribution",
    "stat_diff_in_diff",
    "sim_ivfpq_residual_topk",
    "stat_cramers_v",
    "dedup_lsh_parameter_plan",
    "graph_knn_degree_curve",
    "multimodal_phash_dedup_pairs",
    "quality_shannon_entropy",
    "stat_two_proportion_ztest",
    "stat_hte_uplift_deciles",
    "stat_kruskal_wallis",
    "curate_dataset_card",
    "cluster_dbscan_lsh",
    "stat_levene_brown_forsythe",
    # round-9 additions
    "sim_ivfpq_store_probe",
    "sim_ivfpq_store_upsert",
    "sim_ivfpq_store_compact",
    "dedup_semantic_prune_lsh",
    # round-10 additions
    "sim_knn_classify_lsh",
    "dedup_semantic_prune_autok",
    "sim_ivf_autok_topk",
    "stream_corpus_dedup_replay",
    "stream_neardup_replay",
    # round-11 additions
    "dedup_minhash_lsh_autoband",
    "stream_neardup_eventtime_replay",
    "dedup_lsh_store_pairs",
    "dedup_lsh_store_upsert",
    "dedup_lsh_store_compact",
    "dedup_lsh_store_judge",
    # round-12 additions
    "curate_lineage_manifest",
    "pipeline_index_freshness",
    "sim_ivfpq_rerank_exact",
    "dedup_lsh_store_delta",
]


def run_query(spark, name: str, sf_dir: str, runs: int = 2) -> list[float]:
    """Steady-state timing: one untimed warm-up (whole-stage codegen JIT,
    parquet footer caching), then ``runs`` timed runs, all returned — min
    is the headline (robust to the GC/scheduler noise spikes a shared
    host injects; the round-10 discrepancy investigation measured
    run-to-run swings of 25-70% on the shuffle-heaviest entries between
    consecutive identical full-suite invocations — see ARCHITECTURE.md
    "bench-discrepancy investigation" — so the graded headline set gets
    5 samples); the full sample list ships in the JSON so round-over-
    round deltas are attributable to code vs host noise."""
    return _time_fn(spark, QUERIES[name].fn, sf_dir, runs)


def _quiesce(spark) -> None:
    """Inter-query gap: drain JVM garbage from the previous query so its
    GC pauses don't land inside the next timed region (the r10 driver
    run showed 25-70% swings concentrated on shuffle-heavy entries —
    the classic deferred-GC signature). A synchronous System.gc() plus
    a short settle beats hoping the collector idles between queries."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # pragma: no cover — never let hygiene fail the bench
        pass
    time.sleep(0.2)


def _loadavg1() -> float:
    """1-minute host load at query start — the contention sentinel. A
    reading well above the worker-thread count means the timing that
    follows measures the host's scheduler, not the plan; shipping it
    per-query makes a contended driver run self-evident in the JSON."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return -1.0


def _time_fn(spark, fn, sf_dir: str, runs: int = 2) -> list[float]:
    """The timing protocol itself — one untimed warm-up, then ``runs``
    timed noop-sink materializations. Shared by registry queries and
    unregistered variants so every entry is measured identically."""
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        samples.append(round(time.perf_counter() - t0, 3))
    return samples


def bench_gha_ingest(spark, n_copies: int = 1500, runs: int = 3) -> list[float]:
    """ETL throughput: NDJSON → six normalized partitioned tables.

    Generates a deterministic ~27k-event landing dir (fixture events ×
    n_copies with varied actors) once — untimed — then times ``runs``
    full ingest_files runs (parse + 6 extracts + partitioned parquet
    writes) into fresh lake dirs. All samples returned; min is the
    headline (this was the single noisiest driver entry in r10:
    2.4 s in-suite vs 9.5 s on the contended driver host, timed from
    exactly one sample — a single-sample wall clock measures whichever
    GC/scheduler spike lands in it)."""
    import json
    import shutil
    import tempfile
    from pathlib import Path

    from etl_github_spark.gha.pipeline import ingest_files
    from tests.gha_fixture import EVENTS

    tmp = Path(tempfile.mkdtemp(prefix="gha_bench_"))
    landing = tmp / "landing"
    landing.mkdir()
    n_files = 8
    handles = [open(landing / f"2024-02-29-{h}.json", "w") for h in range(n_files)]
    for i in range(n_copies):
        for j, ev in enumerate(EVENTS):
            ev = dict(ev)
            ev["actor"] = {"login": f"user{i}_{j}"}
            handles[(i + j) % n_files].write(json.dumps(ev) + "\n")
    for h in handles:
        h.close()
    try:
        samples = []
        for r in range(runs + 1):  # run 0 is the untimed warm-up (parse-path
            _quiesce(spark)        # JIT, committer init — same protocol as
            t0 = time.perf_counter()  # _time_fn's warm-up materialization)
            ingest_files(spark, [str(landing)], str(tmp / f"lake{r}"))
            if r:
                samples.append(round(time.perf_counter() - t0, 3))
            shutil.rmtree(tmp / f"lake{r}", ignore_errors=True)
        return samples
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_gha_ingest_gz(spark, n_copies: int = 1500) -> tuple[float, float]:
    """The non-splittable-gzip straggler, measured: the same ~27k-event
    fixture as bench_gha_ingest but landed as ONE .json.gz (the GH
    Archive unit), ingested (a) directly — spark.read.text gives the
    whole file to ONE task — and (b) through split_landing's
    decompress-split scale path (decode once, shard, parse in
    parallel). Returns (single_task_sec, split_sec); split includes the
    decode+shard cost itself, so the delta is the honest end-to-end win."""
    import gzip
    import json
    import shutil
    import tempfile
    from pathlib import Path

    from etl_github_spark.gha.pipeline import ingest_files, split_landing
    from tests.gha_fixture import EVENTS

    tmp = Path(tempfile.mkdtemp(prefix="gha_gz_bench_"))
    landing = tmp / "landing"
    landing.mkdir()
    gz_path = landing / "2024-02-29-5.json.gz"
    with gzip.open(gz_path, "wt") as fh:
        for i in range(n_copies):
            for j, ev in enumerate(EVENTS):
                ev = dict(ev)
                ev["actor"] = {"login": f"user{i}_{j}"}
                fh.write(json.dumps(ev) + "\n")
    try:
        t0 = time.perf_counter()
        ingest_files(spark, [str(gz_path)], str(tmp / "lake1"))
        single = time.perf_counter() - t0
        t0 = time.perf_counter()
        shards = split_landing(
            spark, [str(gz_path)], str(tmp / "split"), shard_bytes=1 << 20
        )
        ingest_files(spark, shards, str(tmp / "lake2"))
        split = time.perf_counter() - t0
        return single, split
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_ivfpq_store_query_path(spark, sf_dir: str) -> float:
    """Amortized-ANN timing: build the residual IVF-PQ store ONCE
    (coarse fit + PQ fit + partitioned code write — untimed), then time
    only the query path (`ivfpq_probe_topk`: sidecar read, driver-side
    probe + ADC tables, partition-pruned code scan, fold-ADC top-k).
    This is the number that matters at queries ≫ builds — the FAISS
    production shape the in-plan `sim_ivfpq_residual_topk` entry pays
    the fit for on every call."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_github_spark.io.ivf_store import ivfpq_probe_topk, write_ivfpq_store
    from etl_github_spark.queries._util import T, par
    from etl_github_spark.queries.scale_paths import fit_ivfpq

    raw = par(T(spark, sf_dir, "embeddings"))
    centroids, books = fit_ivfpq(raw, k=8, m=16, ksub=64)
    q_raw = raw.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    path = tempfile.mkdtemp(prefix="ivfpq_bench_")
    try:
        write_ivfpq_store(raw, path, centroids, books)
        samples = _time_fn(
            spark, lambda s, _sf: ivfpq_probe_topk(s, path, q_raw), sf_dir
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return min(samples)


#: store-lifecycle entries whose REGISTERED form (self-contained for the
#: driver hash) must fit + write the index inside the query body; the
#: bench times them post-build instead (`bench_ivfpq_store_ops`) so the
#: number measures the operator, not the fixture build — the registered
#: full-lifecycle cost at sf0.1 (7.4-9.6 s in the r10 driver run) said
#: nothing about the amortized path (1.79 s).
STORE_OPS = {
    "sim_ivfpq_store_probe", "sim_ivfpq_store_upsert", "sim_ivfpq_store_compact",
    "dedup_lsh_store_pairs", "dedup_lsh_store_upsert", "dedup_lsh_store_compact",
    "dedup_lsh_store_judge",
}


def bench_lsh_store_ops(spark, sf_dir: str, runs: int = 2) -> dict[str, list[float]]:
    """Time the LSH band-index lifecycle OPERATORS post-build (same
    treatment as `bench_ivfpq_store_ops`; keys carry the `_postbuild`
    suffix — the registered full-lifecycle queries keep their own names
    in queries_extended): the even-half base store is
    built once (untimed), then
    - pairs: the store-answered corpus near-dup query over a full-corpus
      store (read-only, warm-up + timed runs);
    - judge: odd half judged against the even-half base store (read-only);
    - upsert: append of the odd half + pairs query, each sample on an
      untimed fresh copy of the base store (append mutates it);
    - compact: per-band rewrite + pairs query, with the copy + append
      prep untimed per sample."""
    import shutil
    import tempfile

    from etl_github_spark.io.lsh_store import (
        append_bands_store,
        compact_bands_store,
        store_judge_docs,
        store_neardup_pairs,
        write_bands_store,
    )
    from etl_github_spark.queries._util import T, par
    from pyspark.sql import functions as F

    docs = par(T(spark, sf_dir, "documents"))
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="lsh_ops_")
    out: dict[str, list[float]] = {}
    try:
        base = os.path.join(root, "base")
        write_bands_store(even, base)
        full = os.path.join(root, "full")
        write_bands_store(docs, full)
        out["dedup_lsh_store_pairs_postbuild"] = _time_fn(
            spark, lambda s, _sf: store_neardup_pairs(s, full), sf_dir, runs
        )
        out["dedup_lsh_store_judge_postbuild"] = _time_fn(
            spark, lambda s, _sf: store_judge_docs(s, base, odd), sf_dir, runs
        )
        for key, do_compact in (("dedup_lsh_store_upsert_postbuild", False),
                                ("dedup_lsh_store_compact_postbuild", True)):
            vals: list[float] = []
            for i in range(runs + 1):  # sample 0 is the untimed warm-up
                work = os.path.join(root, f"{key}_{i}")
                shutil.copytree(base, work)
                if do_compact:
                    append_bands_store(odd, work)
                _quiesce(spark)
                t0 = time.perf_counter()
                if do_compact:
                    compact_bands_store(spark, work)
                else:
                    append_bands_store(odd, work)
                store_neardup_pairs(spark, work).write.mode("overwrite").format(
                    "noop"
                ).save()
                if i:
                    vals.append(round(time.perf_counter() - t0, 3))
                shutil.rmtree(work, ignore_errors=True)
            out[key] = vals
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def bench_ivfpq_store_ops(spark, sf_dir: str, runs: int = 2) -> dict[str, list[float]]:
    """Time the IVF-PQ store lifecycle OPERATORS with the index build
    amortized out (keys carry the `_postbuild` suffix — the registered
    full-lifecycle queries keep their own names in queries_extended):
    fit + base-store write happen once (untimed), then
    - probe: sidecar read → pruned code scan → fold-ADC top-k (read-only,
      timed over the shared base store after a warm-up);
    - upsert: stored-index append of the odd half + post-append probe
      (append mutates the store, so each sample runs on an untimed fresh
      copy of the base store);
    - compact: one-file-per-cell rewrite + probe, with the copy+append
      prep untimed per sample.
    Same parameters (k=8, m=16, ksub=64, nprobe=3) as the registered
    queries, so the timed plans are identical minus the build."""
    import shutil
    import tempfile

    from etl_github_spark.io.ivf_store import (
        append_embeddings_ivfpq,
        compact_ivfpq_store,
        ivfpq_probe_topk,
        write_ivfpq_store,
    )
    from etl_github_spark.queries.scale_paths import _ivfpq_base_fit

    raw_base, rest, centroids, books, q_raw = _ivfpq_base_fit(spark, sf_dir, 8, 16, 64)
    root = tempfile.mkdtemp(prefix="ivfpq_ops_")
    out: dict[str, list[float]] = {}
    try:
        base = os.path.join(root, "base")
        write_ivfpq_store(raw_base, base, centroids, books)
        out["sim_ivfpq_store_probe_postbuild"] = _time_fn(
            spark,
            lambda s, _sf: ivfpq_probe_topk(s, base, q_raw, nprobe=3, topk=10),
            sf_dir,
            runs,
        )
        for key, do_compact in (("sim_ivfpq_store_upsert_postbuild", False),
                                ("sim_ivfpq_store_compact_postbuild", True)):
            vals: list[float] = []
            for i in range(runs + 1):  # sample 0 is the untimed warm-up
                work = os.path.join(root, f"{key}_{i}")
                shutil.copytree(base, work)
                if do_compact:
                    append_embeddings_ivfpq(spark, rest, work)
                _quiesce(spark)
                t0 = time.perf_counter()
                if do_compact:
                    compact_ivfpq_store(spark, work)
                else:
                    append_embeddings_ivfpq(spark, rest, work)
                ivfpq_probe_topk(spark, work, q_raw, nprobe=3, topk=10).write.mode(
                    "overwrite"
                ).format("noop").save()
                if i:
                    vals.append(round(time.perf_counter() - t0, 3))
                shutil.rmtree(work, ignore_errors=True)
            out[key] = vals
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def bench_lake_multi_append(spark, sf_dir: str, runs: int = 2) -> list[float]:
    """The multi-append COMMIT path that r13's `lake_compact_roundtrip`
    fixture reshaping stopped timing (VERDICT r13 #8): five sequential
    filtered appends of the events table into a date-partitioned dir,
    wall-clocked end to end into a fresh dir per sample (append-commit
    semantics stay pinned by tests/test_lakehouse.py; this key exists so
    the commit path's cost stays measured round over round)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_github_spark.io.sink import write_table
    from etl_github_spark.queries._util import T

    e = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("date"),
    )
    vals: list[float] = []
    for i in range(runs + 1):  # sample 0 is the untimed warm-up
        path = tempfile.mkdtemp(prefix="lake_multi_append_")
        _quiesce(spark)
        t0 = time.perf_counter()
        for b in range(5):
            write_table(e.where(F.pmod(F.col("event_id"), F.lit(5)) == b), path)
        if i:
            vals.append(round(time.perf_counter() - t0, 3))
        shutil.rmtree(path, ignore_errors=True)
    return vals


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Pre-flight quiesce (VERDICT r12 #5): the r12 canonical artifact was
    # recorded starting at loadavg 7.3 (a pytest tail was still draining)
    # and needed 3 self-heal passes. A loaded host at _start means every
    # early entry is timed against the scheduler, not the plan — so wait
    # (bounded) for the 1-min load to decay below ~1.0 before sampling.
    # Runs BEFORE the SparkSession exists (ADVICE r13): local[32] JVM
    # startup itself pushes the 1-min load briefly above the threshold,
    # which made the r13 loop wait out its own session launch.
    # The self-heal rerun loop below stays as the backstop, not the method.
    preflight = {"load_at_launch": _loadavg1(), "wait_sec": 0.0}
    _deadline = time.time() + 300.0
    while _loadavg1() > 1.0 and time.time() < _deadline:
        time.sleep(5.0)
        preflight["wait_sec"] = round(preflight["wait_sec"] + 5.0, 1)

    spark = get_spark("etl-github-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up on a trivial action (not counted)
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    loadavg: dict[str, float] = {"_start": _loadavg1()}
    for name in HEADLINE:
        try:
            _quiesce(spark)
            loadavg[name] = _loadavg1()
            samples[name] = run_query(spark, name, sf_dir, runs=5)
            timings[name] = min(samples[name])
        except Exception as e:  # keep the bench line parseable on failure
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
    try:
        loadavg["gha_ingest_27k_events"] = _loadavg1()
        samples["gha_ingest_27k_events"] = bench_gha_ingest(spark)
        timings["gha_ingest_27k_events"] = min(samples["gha_ingest_27k_events"])
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR gha_ingest: {e}", file=sys.stderr)
        timings["gha_ingest_27k_events"] = -1.0
    for name in HEADLINE_HEAVY:  # 3 samples: multi-second entries, same
        try:                     # min-of-samples statistic as the rest
            _quiesce(spark)
            loadavg[name] = _loadavg1()
            samples[name] = run_query(spark, name, sf_dir, runs=3)
            timings[name] = min(samples[name])
        except Exception as e:
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
            timings[name] = -1.0

    # Contention self-heal (VERDICT r11 task 6): a headline query whose
    # start-of-query load sentinel sat >0.5 above the suite's start was
    # timed against the host scheduler, not the plan — re-run it once
    # the suite's own work has drained and take the min across passes,
    # so one contended invocation heals itself instead of merely
    # documenting the contention. Second-pass sentinels ship in the
    # JSON under loadavg_reruns so the healing is itself auditable.
    loadavg_reruns: dict[str, float] = {}
    for name, base_load in list(loadavg.items()):
        if name.startswith("_") or timings.get(name, -1.0) < 0:
            continue
        if base_load - loadavg["_start"] <= 0.5:
            continue
        try:
            _quiesce(spark)
            time.sleep(1.0)  # let the 1-min average decay toward idle
            loadavg_reruns[name] = _loadavg1()
            if name == "gha_ingest_27k_events":
                more = bench_gha_ingest(spark)
            else:
                more = run_query(spark, name, sf_dir, runs=3)
            samples[name] = samples[name] + more
            timings[name] = min(timings[name], min(more))
        except Exception as e:  # pragma: no cover
            print(f"BENCH ERROR rerun {name}: {e}", file=sys.stderr)

    # Every EXTENDED entry — store lifecycles included — is timed as its
    # REGISTERED query under its own name, so a key means the same thing
    # in every round's JSON (ADVICE r11: r10/r11 silently compared
    # full-lifecycle vs post-build numbers under one key). The amortized
    # post-build operator timings ship under distinct `<name>_postbuild`
    # keys from the two *_store_ops benches below.
    extended: dict[str, float] = {}
    for name in EXTENDED:
        try:
            extended[name] = min(run_query(spark, name, sf_dir))
        except Exception as e:
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
            extended[name] = -1.0
    try:
        for key, vals in bench_ivfpq_store_ops(spark, sf_dir).items():
            extended[key] = min(vals)
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR ivfpq_store_ops: {e}", file=sys.stderr)
        for key in STORE_OPS:
            if key.startswith("sim_ivfpq"):
                extended[key + "_postbuild"] = -1.0
    try:
        for key, vals in bench_lsh_store_ops(spark, sf_dir).items():
            extended[key] = min(vals)
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR lsh_store_ops: {e}", file=sys.stderr)
        for key in STORE_OPS:
            if key.startswith("dedup_lsh_store"):
                extended[key + "_postbuild"] = -1.0

    # r14: the multi-append commit path, timed on its own (VERDICT r13 #8)
    try:
        extended["lake_multi_append_commit"] = min(
            bench_lake_multi_append(spark, sf_dir)
        )
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR lake_multi_append: {e}", file=sys.stderr)
        extended["lake_multi_append_commit"] = -1.0

    # round 9: the amortized ANN number — store built once (untimed),
    # query path timed alone. Compare against sim_ivfpq_residual_topk
    # (which refits per call) to see the fit/query split.
    try:
        extended["sim_ivfpq_store_query_path"] = round(
            bench_ivfpq_store_query_path(spark, sf_dir), 3
        )
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR ivfpq_store_query_path: {e}", file=sys.stderr)
        extended["sim_ivfpq_store_query_path"] = -1.0

    # round 9: the gzip straggler pair — same 27k events as ONE .json.gz,
    # parsed single-task vs through split_landing's decompress-split.
    try:
        single, split = bench_gha_ingest_gz(spark)
        extended["gha_ingest_gz_single_task"] = round(single, 3)
        extended["gha_ingest_gz_split_landing"] = round(split, 3)
    except Exception as e:  # pragma: no cover
        print(f"BENCH ERROR gha_ingest_gz: {e}", file=sys.stderr)
        extended["gha_ingest_gz_single_task"] = -1.0
        extended["gha_ingest_gz_split_landing"] = -1.0

    # headline = SUM OF PER-QUERY MINS (every timings[...] above is the
    # min over its samples): the steady-state statistic, not whichever
    # wall-clock sample a contended host happened to inflate.
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    loadavg["_end"] = _loadavg1()
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_extended": extended,
        "samples": samples,
        "loadavg": loadavg,   # 1-min host load at each headline query start
        "loadavg_reruns": loadavg_reruns,  # self-heal passes (load at rerun)
        "preflight": preflight,  # launch-time load + bounded quiesce wait
        "cpus": os.cpu_count(),
        "sf": sf,
    }
    # Durable artifact first: the driver captures a bounded TAIL of
    # stdout, and the full line (with per-query samples) can exceed it —
    # r03's summary fields were truncated away. The file always has
    # everything; stdout gets the full line for humans, then a COMPACT
    # line LAST so any tail window ends with a parseable summary.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_SUMMARY.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full))
    print(json.dumps({"metric": "headline_suite_seconds", "value": total,
                      "unit": "sec", "sf": sf, "queries": timings,
                      "loadavg": loadavg, "cpus": os.cpu_count()}))
    spark.stop()


if __name__ == "__main__":
    main()
