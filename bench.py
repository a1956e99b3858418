"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

The headline set exercises every scale-relevant plan shape: pushdown
agg, shuffle joins (broadcast + sort-merge), window rank, event-time
windows, sessionization, hash dedup, MinHash-LSH, SimHash, relational
sentiment, brute-force + LSH + IVF + PQ vector search, iterative
algorithms (k-means, PageRank, BPE), LM-based quality scores, corpus
sampling, calendar analytics (interpolation, rolling actives, cohorts),
CDC/SCD2, sketches (count-min), layout (Z-order), the DQ gate, and one
end-to-end streaming ingest->upsert row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "shipping_priority_top10",
    "regional_supplier_volume",
    "fk_join_agg",
    "star_join_broadcast",
    "topk_per_group",
    "union_schema_aligned",
    "normalize_text",
    "doc_frequency",
    "sentiment_relational",
    "dedup_exact_content",
    "dedup_fingerprint",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "window_tumbling",
    "session_windows",
    "pivot_event_counts",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "asof_join_clicks_purchases",
    "tfidf_per_doc",
    "range_band_join",
    "embedding_neardup",
    "cube_agg",
    "percentile_stats",
    "running_window_funcs",
    "salted_join_agg",
    "ann_ivf_topk",
    "training_corpus_select",
    "training_corpus_select_v2",
    "rolling_hash_fingerprint",
    "ranked_search_bm25",
    "repetition_stats",
    "sequence_chunking",
    "benchmark_contamination",
    "kmeans_embeddings",
    "pagerank_copurchase",
    "pq_ann_topk",
    "lm_perplexity",
    "mixture_sample",
    "priority_sample",
    "unigram_divergence",
    "scd2_history",
    "bpe_merges",
    "interpolate_daily",
    "join_key_skew",
    "cdc_apply",
    "label_centroid_cos",
    "cms_heavy_hitters",
    "sliding_chunks",
    "int8_quantize",
    "zorder_layout",
    "dq_checks",
    "table_profile",
    "grouped_outliers",
    "association_rules",
    "fuzzy_part_matches",
    "session_overlap",
    "promo_revenue_share",
    "disjunctive_filter_revenue",
    "supplier_cnt_by_part_attrs",
    "rolling_active_users",
    "cohort_retention",
    "duplicate_spans",
    "span_dup_fraction",
    "cut_duplicate_spans",
    "training_corpus_select_v3",
    "forecast_revenue_q6",
    "training_shards",
    "khop_reachability",
    "asof_join_forward",
    "weighted_sample",
    "agg_state_merge",
    "point_in_time_join",
    "semantic_dedup",
    "pii_scrub",
    "ivf_pq_topk",
    "kmv_distinct_custkeys",
    "bloom_semi_join_orders",
    "sssp_cosupply",
    "pareto_skyline_parts",
    "snapshot_diff_users",
    "token_label_leakage",
    "inverted_index_terms",
    "ohlc_daily_bars",
    "daily_trend_ols",
    "ann_truncation_recall",
    "frequent_event_paths",
    "seasonal_anomaly_days",
    "cusum_changepoint",
    "benford_digit_audit",
    "k_anonymity_audit",
    "copurchase_recommendations",
    "split_leakage_check",
    "readability_scores",
    "winsorize_values",
    "ecdf_normalize_lengths",
    "bollinger_breakouts",
    "spend_concentration",
    "histogram_quantile_sketch",
    "pii_scrub_v2",
    "unicode_script_profile",
    "zipf_token_spectrum",
    "stratified_split",
    "touch_attribution",
    "ntile_deciles",
    "rfm_segments",
    "cross_source_duplication",
    "linear_attribution",
    "dsir_importance_resample",
    "line_dedup_corpus",
    "phrase_search_slop",
    "gopher_quality_gate",
    "entity_resolution",
    "hard_negative_mining",
    "ann_ivf_eval",
    "training_batch_prepare",
    # bitext: the LSH-bounded scale form is benched; the brute A x B
    # twin (bitext_margin_mine) is correctness-gated only, same policy
    # as the exact-Jaccard joins
    "bitext_margin_mine_lsh",
    # round-8 additions
    "token_budget_select",
    "dedup_yield_report",
    "fasttext_hash_score",
    "personalized_pagerank",
    "jl_projection_recall",
    "incremental_dedup",
    "length_grouped_batches",
    "quality_gate_agreement",
    "unimax_allocation",
    "epoch_shuffle",
    "badwords_filter",
    "curriculum_stages",
    "kneser_ney_perplexity",
    "corpus_manifest",
    "retrieve_rerank",
    "negative_sampling",
    "snapshot_drift_psi",
    "image_phash_dedup",
    "audio_fingerprint_dedup",
    "semantic_decontamination",
    "ann_hamming_topk",
    "ann_hamming_rerank",
    "classifier_calibration",
    "perplexity_buckets",
    "preference_pairs",
    "dedup_aware_split",
    "self_bleu_diversity",
    "domain_hardness_weights",
    "pii_scrub_recall",
    "event_sequence_examples",
    "rag_context_pack",
    "quality_threshold_yield",
    "encoding_repair_audit",
    "ann_cell_balance",
    "dedup_cluster_histogram",
    "corpus_manifest_diff",
    "corpus_datacard",
    "hll_distinct_custkeys",
    "vocab_coverage",
    "embargo_time_split",
    "winnowing_fingerprint_stats",
    "winnowing_overlap_pairs",
    "vocab_drift_topk",
    "filter_attribution",
    "kcore_copurchase",
    "simhash_dedup_pairs",
    "label_balance_sample",
    "source_quality_ci",
    "json_quality_gate",
    "epoch_shard_manifest",
    "mmr_diversity_rerank",
    "daily_hll_users",
    "video_frame_dedup",
    # round-9 additions (streaming_interval_join_outer follows the
    # replay-twin exclusion below, same as streaming_interval_join)
    "multimodal_dedup_manifest",
    "unigram_lm_vocab",
    "unigram_lm_encode",
    "wordpiece_merges",
    "wordpiece_encode",
    "tokenizer_fertility_compare",
    "span_corruption_examples",
    "unigram_lm_vocab_pruned",
    "image_text_contrastive_pairs",
    "cluster_balanced_sample",
    "kmv_set_overlap",
    # round-9 continuation additions (streaming_thread_paths follows
    # the replay-twin exclusion below)
    "comment_tree_paths",
    "thread_conversations",
    "thread_engagement_rollup",
    "ks_price_drift",
    "source_keyness_terms",
    "poisson_bootstrap_ci",
    "ab_conversion_ztest",
    "cuped_variance_reduction",
    "ab_srm_check",
    "pmi_collocations",
    "shapley_attribution",
    "markov_attribution",
    "sft_thread_examples",
    "target_encode_loo",
    "hilbert_layout",
    "shard_merkle_receipt",
    "kaplan_meier_conversion",
    "langid_confusion",
    "funnel_latency",
    "ks_drift_by_segment",
    "event_arm_chi2",
    "poisson_bootstrap_lift",
    "funnel_stage_report",
    "km_conversion_by_arm",
    "degree_powerlaw",
    "source_length_ci",
    # round-10 additions: the persistent ANN index (build-once /
    # probe-many split of the fused IVF/PQ forms)
    "ann_index_build",
    "ann_index_probe",
    "ann_index_probe_pq",
    "ann_index_append",
    "bpe_artifact_roundtrip",
    "fellegi_sunter_scores",
    "golden_record_merge",
    "l_diversity_t_closeness",
    "reddit_hot_rank",
    "ann_index_compact",
    "min_cost_supplier",
    "important_supply_share",
    "latency_bucket_priority",
    "excess_supply_semi_chain",
    "late_supplier_blame",
    "ann_index_version_diff",
    "rank_functions_suite",
    "embedding_isotropy_audit",
    "ann_nprobe_recall_curve",
    "ann_index_delete",
    "ann_index_fsck",
    # streaming_ann_serving_under_deletes and
    # streaming_golden_record_maintenance follow the streaming
    # replay-twin exclusion (fixed micro-batch fixtures; their cost
    # stories are the benched index verbs / golden_record_merge).
    # ann_index_lifecycle (build->append->delete->compact->probe in one
    # run) is correctness-gated only: each verb is individually benched
    # above, and the capstone's wall is their sum plus tempdir churn.
    # wordpiece_artifact_roundtrip / unigram_artifact_roundtrip are
    # correctness-gated only: their cost is the already-benched
    # learn+encode (wordpiece_encode / unigram_lm_encode) plus a tiny
    # artifact save/load — bpe_artifact_roundtrip represents the
    # artifact path in the headline.
    # streaming_ann_probe and streaming_ann_index_maintenance follow
    # the streaming replay-twin exclusion (fixed two-batch fixtures;
    # the cost stories are ann_index_probe / ann_index_append, benched)
    # streaming replay twins (streaming_sequence_examples,
    # streaming_drift_psi, streaming_corpus_manifest) follow the
    # existing policy: correctness-gated but NOT benched — the family's
    # fixed Structured-Streaming cost is represented by the ONE
    # end-to-end streaming_ingest_upsert row below, same as the
    # line/span/neardup/cdc twins.
    # clustering_coefficient is correctness-gated but not benched for
    # the same reason as the triangle count it rides on: the synthetic
    # co-purchase pattern yields a near-complete co-supply graph (mean
    # degree ~95 even at min_orders=5) whose wedge volume misrepresents
    # the algorithm's cost on real sparse supply graphs.
    # NOTE: the exact-Jaccard joins (jaccard_prefix_join,
    # ngram_jaccard_pairs) are correctness-gated but not benched here:
    # the synthetic corpus draws every token from a ~50-word vocabulary,
    # so NO shingle is rare and every sparse-similarity join degenerates
    # toward all-pairs — an adversarial input that misrepresents the
    # algorithms' scale behavior on real corpora (see
    # operators/dedup.jaccard_prefix_pairs docstring).
    # Round-11 dedup-index family: the registry rows are BUILD(+verb)
    # composites (same harness constraint as ann_index_*); the true
    # per-verb serving costs are the dedupidx_*_only rows from
    # bench_dedupidx_verbs against one shared prebuilt index.  The
    # append/delete/compact/stats registry twins and the lifecycle
    # capstone are correctness-gated only (each is build + a verb whose
    # cost its *_only row isolates; the capstone's wall is their sum
    # plus tempdir churn), and streaming_dedup_index_ingest follows the
    # streaming replay-twin exclusion (the family's fixed
    # Structured-Streaming cost is the streaming_ingest_upsert row;
    # the per-batch cost story is dedupidx_probe_only + append_only).
    "dedup_index_build",
    "dedup_index_probe",
    # minhash_band_recall_curve (the dedup twin of the benched
    # ann_nprobe_recall_curve) is correctness-gated but NOT benched,
    # for the same documented reason as the exact-Jaccard joins above:
    # its loosest (rows=1) truth-denominator banding degenerates on the
    # ~50-word synthetic vocabulary (candidate volume grows ~quadratic
    # — measured 11.9x at 10x data, blow-up at 100x), misrepresenting
    # the operator's behavior on real corpora where single-hash
    # collisions are rare.
    # Snapshot store: the time-travel composite (3 commits + 3 as-of
    # reads) represents the family; the compaction twin and the
    # streaming twin follow the capstone/streaming exclusions.
    "snapshot_store_time_travel",
    # round-12 additions: the ES multi_match analyzer behaviors
    # (stemmed BM25, levenshtein fuzzy match).  snapshot_store_retention
    # follows the compaction-twin exclusion (its cost story is
    # snapshot_store_time_travel + one compact, both represented).
    "ranked_search_stemmed",
    "fuzzy_keyword_search",
    # cell-pruned ADC off the persisted store (the FAISS serving shape;
    # probe_pq's corpus-wide-ADC twin is already benched)
    "ann_index_probe_ivfpq",
    # ann_index_probe_filtered / _vectors_filtered and
    # ann_index_probe_ivfpq_vectors are correctness-gated only: each is
    # a benched probe plus a semi-join on the allowed ids and/or an
    # external (byte-identical) query frame — same build-composite,
    # same routing.
    # ann_index_maintain / dedup_index_maintain follow the lifecycle-
    # capstone exclusion: each is build + delete + compact + gc + probe,
    # every leg individually benched (annidx_*_only / dedupidx_*_only
    # rows isolate the per-verb serving costs); the maintain receipts
    # themselves are three metadata-cheap counts + one driver listing.
    # per-field boosted BM25 (title^2 most_fields) — the ES relevance
    # knob the round-12 verdict listed as the remaining search delta
    "ranked_search_fielded",
    # persistent incremental search index: the serving row (build 3/4 +
    # append 1/4 + bucket-pruned BM25 query — the ES continuous-indexing
    # shape).  search_index_serving_under_deletes / _maintain / _serve_stemmed / 
    # streaming_search_index follow the lifecycle-capstone exclusion:
    # each is the same build composite plus delete/compact/stream legs
    # whose verb costs this row already exercises.
    "search_index_serve",
    # round 14: the reference's literal production query — fielded
    # (title^2/body) BM25 answered BY the store (field-tagged postings,
    # norms-in-rows, per-field stats log).
    # search_index_fielded_under_deletes follows the lifecycle-capstone
    # exclusion (same composite + a delete leg);
    # search_index_serve_fuzzy's per-verb serving cost is isolated in
    # the searchidx_query_fuzzy_only row.
    "search_index_serve_fielded",
]


# FROZEN round-over-round comparison set (round-8 verdict task 5): the
# full headline grows every round as queries are added, so its single
# number no longer tracks regressions.  This is exactly the 41-query
# r7∩r8 shared set the round-8 judge compared (the queries expensive
# enough to survive the 2000-byte JSON-line truncation in BOTH rounds
# — i.e. the cost-dominant, shape-diverse core: shuffle joins, window
# ranks, the ANN family, MinHash/SimHash/semantic dedup, graph
# iterations, BPE, corpus-selection capstones, and the end-to-end
# streaming row).  DO NOT grow this list as queries are added; the sum
# over it is emitted as "core_value" next to the full-headline "value".
CORE_HEADLINE = [
    "ann_ivf_eval", "ann_ivf_topk", "ann_lsh_topk", "association_rules",
    "benchmark_contamination", "bitext_margin_mine_lsh",
    "bloom_semi_join_orders", "bpe_merges", "cms_heavy_hitters",
    "copurchase_recommendations", "cross_source_duplication",
    "doc_frequency", "duplicate_spans", "embedding_neardup",
    "entity_resolution", "inverted_index_terms", "ivf_pq_topk",
    "khop_reachability", "kmeans_embeddings", "minhash_lsh_pairs",
    "ntile_deciles", "pagerank_copurchase", "phrase_search_slop",
    "pq_ann_topk", "ranked_search_bm25", "regional_supplier_volume",
    "rfm_segments", "salted_join_agg", "semantic_dedup",
    "session_overlap", "shipping_priority_top10", "simhash_signatures",
    "spend_concentration", "sssp_cosupply", "streaming_ingest_upsert",
    "tfidf_per_doc", "topk_per_group", "training_batch_prepare",
    "training_corpus_select", "training_corpus_select_v2",
    "training_corpus_select_v3",
]


# SECOND frozen core (round-9 verdict task 8): ten representative
# round-8/9 additions — the tokenizer family, the bootstrap/causal
# family, the multimodal capstone, layout, and the comment-tree family —
# so the NEW families are round-over-round comparable the same way
# CORE_HEADLINE tracks the r7 core.  DO NOT grow this list; its sum is
# emitted as "core2_value".
CORE_HEADLINE_V2 = [
    "comment_tree_paths", "hilbert_layout", "image_text_contrastive_pairs",
    "multimodal_dedup_manifest", "poisson_bootstrap_lift",
    "tokenizer_fertility_compare", "unigram_lm_encode", "unigram_lm_vocab",
    "wordpiece_encode", "wordpiece_merges",
]


# THIRD frozen core (round-10 verdict task 3 / landed round 11): the
# twelve round-10 additions — the ANN index verb family, the artifact
# round-trip, and record linkage — anchored to their BENCH_r10 numbers
# so this family stays round-over-round comparable.  NOTE: the registry
# harness gives each entry only (spark, sf_dir), so every ann_index_*
# row here is a BUILD(+verb) composite (each rebuilds into a tempdir);
# the true per-verb serving costs are the separate annidx_*_only rows
# emitted by bench_annidx_verbs against one shared prebuilt index.
# DO NOT grow this list; its sum is emitted as "core3_value".
CORE_HEADLINE_V3 = [
    "ann_index_build", "ann_index_probe", "ann_index_probe_pq",
    "ann_index_append", "ann_index_compact", "ann_index_delete",
    "ann_index_version_diff", "ann_index_fsck", "ann_nprobe_recall_curve",
    "bpe_artifact_roundtrip", "fellegi_sunter_scores", "golden_record_merge",
]


def bench_annidx_verbs(spark, sf_dir) -> dict[str, float]:
    """Per-verb ANN index timings against ONE shared prebuilt index —
    the serving-path numbers the composite registry rows can't show
    (those rebuild per query).  Build is timed once as its own row;
    probes are best-of-2 (read-only); append/delete/compact are timed
    once each in lifecycle order (they mutate the store).  The held-out
    5% (vec_id % 20 == 7) provides genuinely NEW ids for the append."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cloud_native_reddit_data_pipeline_spark.operators import ann_index
    from cloud_native_reddit_data_pipeline_spark.sources.tables import load

    tmp = tempfile.mkdtemp(prefix="cnrdp-bench-annidx-")
    out: dict[str, float] = {}
    try:
        emb = load(spark, sf_dir, "embeddings")
        base_df = emb.filter(F.col("vec_id") % 20 != 7)
        new_df = emb.filter(F.col("vec_id") % 20 == 7)
        idx = f"{tmp}/idx"
        t0 = time.perf_counter()
        ann_index.ann_index_build(
            base_df, idx, n_centroids=16, m=4, k_codes=16
        ).collect()
        out["annidx_build_only"] = round(time.perf_counter() - t0, 2)

        qids = [3, 4, 5]
        for name, fn in (
            ("annidx_probe_only",
             lambda: ann_index.ann_index_probe(spark, idx, qids).count()),
            ("annidx_probe_pq_only",
             lambda: ann_index.ann_index_probe_pq(spark, idx, qids).count()),
            ("annidx_probe_ivfpq_only",
             lambda: ann_index.ann_index_probe_ivfpq(spark, idx, qids).count()),
        ):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 2)

        t0 = time.perf_counter()
        ann_index.ann_index_append(spark, new_df, idx).collect()
        out["annidx_append_only"] = round(time.perf_counter() - t0, 2)

        dead = [r["vec_id"] for r in
                emb.filter((F.col("vec_id") % 20 == 9) & (F.col("vec_id") > 16))
                .select("vec_id").limit(200).collect()]
        t0 = time.perf_counter()
        ann_index.ann_index_delete(spark, idx, dead).collect()
        out["annidx_delete_only"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        ann_index.ann_index_compact(spark, idx).collect()
        out["annidx_compact_only"] = round(time.perf_counter() - t0, 2)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_dedupidx_verbs(spark, sf_dir) -> dict[str, float]:
    """Per-verb dedup-index timings against ONE shared prebuilt index —
    the ingest-serving numbers the composite registry rows can't show
    (those re-sign the corpus per query).  Build is timed once; the
    probe is best-of-2 (read-only); append/delete/compact are timed
    once each in lifecycle order.  The held-out 5% (doc_id % 20 == 7)
    provides the probe batch and genuinely NEW ids for the append."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cloud_native_reddit_data_pipeline_spark.operators import dedup_index
    from cloud_native_reddit_data_pipeline_spark.sources.tables import load

    tmp = tempfile.mkdtemp(prefix="cnrdp-bench-dedupidx-")
    out: dict[str, float] = {}
    try:
        docs = load(spark, sf_dir, "documents")
        base_df = docs.filter(F.col("doc_id") % 20 != 7)
        new_df = docs.filter(F.col("doc_id") % 20 == 7)
        idx = f"{tmp}/idx"
        t0 = time.perf_counter()
        dedup_index.dedup_index_build(base_df, idx).collect()
        out["dedupidx_build_only"] = round(time.perf_counter() - t0, 2)

        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            dedup_index.dedup_index_probe(spark, new_df, idx, min_agree=4).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out["dedupidx_probe_only"] = round(best, 2)

        t0 = time.perf_counter()
        dedup_index.dedup_index_append(spark, new_df, idx).collect()
        out["dedupidx_append_only"] = round(time.perf_counter() - t0, 2)

        dead = [r["doc_id"] for r in
                docs.filter(F.col("doc_id") % 20 == 9)
                .select("doc_id").limit(200).collect()]
        t0 = time.perf_counter()
        dedup_index.dedup_index_delete(spark, idx, dead).collect()
        out["dedupidx_delete_only"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        dedup_index.dedup_index_compact(spark, idx).collect()
        out["dedupidx_compact_only"] = round(time.perf_counter() - t0, 2)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_searchidx_verbs(spark, sf_dir) -> dict[str, float]:
    """Per-verb search-index timings against ONE shared prebuilt index
    — the serving numbers the composite registry rows can't show
    (those rebuild per query).  Build is timed once; the query is
    best-of-2 (read-only, the hot serving path); append/delete/compact
    are timed once each in lifecycle order.  The held-out 5%
    (doc_id % 20 == 7) provides genuinely NEW ids for the append."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cloud_native_reddit_data_pipeline_spark.operators import search_index
    from cloud_native_reddit_data_pipeline_spark.sources.tables import load

    kws = ["join", "spark", "stream", "window"]
    tmp = tempfile.mkdtemp(prefix="cnrdp-bench-searchidx-")
    out: dict[str, float] = {}
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        base_df = docs.filter(F.col("doc_id") % 20 != 7)
        new_df = docs.filter(F.col("doc_id") % 20 == 7)
        idx = f"{tmp}/idx"
        t0 = time.perf_counter()
        search_index.search_index_build(base_df, idx).collect()
        out["searchidx_build_only"] = round(time.perf_counter() - t0, 2)

        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            search_index.search_index_query(spark, idx, kws, k=20).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out["searchidx_query_only"] = round(best, 2)

        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            search_index.search_index_query_fuzzy(
                spark, idx, kws, max_edits=1, k=20
            ).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out["searchidx_query_fuzzy_only"] = round(best, 2)

        t0 = time.perf_counter()
        search_index.search_index_append(spark, new_df, idx).collect()
        out["searchidx_append_only"] = round(time.perf_counter() - t0, 2)

        dead = [r["doc_id"] for r in
                docs.filter(F.col("doc_id") % 20 == 9)
                .select("doc_id").limit(200).collect()]
        t0 = time.perf_counter()
        search_index.search_index_delete(spark, idx, dead).collect()
        out["searchidx_delete_only"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        search_index.search_index_compact(spark, idx).collect()
        out["searchidx_compact_only"] = round(time.perf_counter() - t0, 2)

        # fielded serving (round 14): its store layout differs (field-
        # tagged postings, per-field norms), so it gets its own build +
        # best-of-2 query rows against a second shared index.
        fidx = f"{tmp}/fidx"
        t0 = time.perf_counter()
        search_index.search_index_build(
            base_df, fidx, title_len=8
        ).collect()
        out["searchidx_build_fielded_only"] = round(
            time.perf_counter() - t0, 2
        )
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            search_index.search_index_query_fielded(
                spark, fidx, kws, k=20
            ).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out["searchidx_query_fielded_only"] = round(best, 2)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_streaming_ingest_upsert(spark) -> tuple[float, int]:
    """End-to-end streaming path: JSON queue batches -> explicit-schema
    parse -> stateful dedup -> bucketed idempotent upsert, drained with
    availableNow (deterministic: fixed synthetic batches, ~10% redelivered
    ids so the dedup + upsert merge paths both do real work).  Returns
    (wall seconds, final table rows)."""
    import shutil
    import tempfile

    from cloud_native_reddit_data_pipeline_spark.streaming.ingest import (
        ingest_posts_stream,
        read_bucketed_table,
        start_upsert_stream,
        write_queue_batch,
    )

    tmp = tempfile.mkdtemp(prefix="cnrdp-bench-stream-")
    try:
        queue = os.path.join(tmp, "queue")
        target = os.path.join(tmp, "table")
        ckpt = os.path.join(tmp, "ckpt")
        n_batches, per = 24, 500
        distinct = int(n_batches * per * 0.9)  # ~10% duplicate ids
        for b in range(n_batches):
            docs = [
                {
                    "author": f"user{(b * per + i) % 97}",
                    "created_utc": "2024-01-01T00:00:00Z",
                    "id": f"p{(b * per + i) % distinct}",
                    "num_comments": i % 7,
                    "score": i % 100,
                    "selftext": "body text for the streaming benchmark row",
                    "subreddit": "sydney",
                    "title": f"post {b}-{i}",
                    "url": None,
                }
                for i in range(per)
            ]
            write_queue_batch(queue, "rharvest", [json.dumps(docs)])
        # Size shuffle/state partitions to the micro-batch, not the batch
        # corpus: a 12k-row trigger with 32 state-store partitions pays
        # pure task + state-maintenance overhead (measured 2x wall).
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            t0 = time.perf_counter()
            q = start_upsert_stream(
                ingest_posts_stream(spark, queue), target, ckpt, key="id",
                available_now=True,
            )
            q.awaitTermination(600)
            dt = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        n = read_bucketed_table(spark, target).count()
        assert n == distinct, f"streaming bench expected {distinct} rows, got {n}"
        return dt, n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _provenance() -> dict:
    """Machine-state fields recorded into BENCH_DETAIL.json (round-12
    verdict task 8): the builder's close-out and the driver's stamp of
    the SAME code have differed >2x, so round-over-round comparisons
    need the load average and FS cache state of each run to normalize
    against.  Never emitted on the stdout JSON line (2000-byte cap)."""
    prov: dict = {}
    try:
        prov["loadavg_1m"], prov["loadavg_5m"], prov["loadavg_15m"] = (
            round(x, 2) for x in os.getloadavg()
        )
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            mem = dict(
                (line.split(":")[0], line.split(":")[1].strip())
                for line in f
                if ":" in line
            )
        for k_src, k_out in (
            ("Cached", "fs_cached_kb"),
            ("MemAvailable", "mem_available_kb"),
            ("Dirty", "dirty_kb"),
        ):
            if k_src in mem:
                prov[k_out] = int(mem[k_src].split()[0])
    except OSError:
        pass
    prov["cpus"] = os.environ.get("SPARK_GRAFT_CPUS", "")
    return prov


def _warm_page_cache(sf_dir: str) -> dict:
    """Round-14 (verdict task 7): the driver's official stamp has twice
    absorbed page-cache state — the 34-minute pytest suite that runs
    just before the bench evicts the FS cache, and the stamped run then
    pays cold reads the builder's same-session close-out run does not
    (r13: frozen core3 +22% cold vs -4% warm under identical code).
    Read every byte of the sf tables through the OS page cache BEFORE
    timing begins, so the stamped numbers measure plans, not the
    machine state the previous gate left behind.  The before/after
    fs_cached_kb delta is recorded in BENCH_DETAIL.json provenance."""
    t0 = time.perf_counter()
    n_bytes = 0
    for root, _dirs, files in os.walk(sf_dir):
        for fn in files:
            try:
                with open(os.path.join(root, fn), "rb") as f:
                    while True:
                        chunk = f.read(1 << 22)
                        if not chunk:
                            break
                        n_bytes += len(chunk)
            except OSError:
                pass
    return {
        "warmed_mb": round(n_bytes / 1048576.0, 1),
        "warm_sec": round(time.perf_counter() - t0, 2),
    }


def _emit_final_json(payload: dict, limit: int = 1950) -> str:
    """Serialize the result line, guaranteed to fit the driver's 2000-byte
    stdout tail buffer (round 3's 70-query line overflowed it and the
    driver recorded "parsed": null).  Compact separators first; if still
    over, drop the cheapest per-query entries (full detail is always in
    BENCH_DETAIL.json and on stderr)."""
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) <= limit:
        return line
    queries = dict(payload["queries"])
    for name, _ in sorted(queries.items(), key=lambda kv: kv[1]):
        queries.pop(name)
        payload = {**payload, "queries": queries, "queries_truncated": True}
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= limit:
            return line
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from cloud_native_reddit_data_pipeline_spark import queries as registry
    from cloud_native_reddit_data_pipeline_spark.session import build_session

    prov_start = _provenance()
    warm = _warm_page_cache(sf_dir)  # untimed: page cache, before timing
    prov_warm = _provenance()
    prov_warm["warm_scan"] = warm
    print(
        f"# warm-start: {warm['warmed_mb']} MB of {sf_dir} read in "
        f"{warm['warm_sec']}s (fs_cached "
        f"{prov_start.get('fs_cached_kb', '?')} -> "
        f"{prov_warm.get('fs_cached_kb', '?')} kB)",
        file=sys.stderr,
    )
    spark = build_session("cnrdp-bench")
    qs = registry.queries()

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    qs["project_rename"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in HEADLINE:
        # Best-of-2 with cache-clear + JVM GC between runs: a single pass
        # over 70 queries in one JVM conflates each query's plan cost with
        # accumulated GC pressure and codegen-cache churn from its
        # predecessors (round 3 measured a broad ~1.2-1.4x drift on
        # UNCHANGED plans as the set grew).  min() of two isolated runs
        # measures the plan, which is what regressions show up in.
        best, n = None, 0
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()  # full execution; count avoids driver-collect cost
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # Release intra-query persist() caches and collect JVM garbage
            # so the next run starts from a quiet heap.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 2)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    # One end-to-end streaming row so ingest/upsert regressions surface
    # in BENCH, not only in pytest.
    t_stream, n_stream = bench_streaming_ingest_upsert(spark)
    timings["streaming_ingest_upsert"] = round(t_stream, 2)
    print(
        f"# streaming_ingest_upsert: {timings['streaming_ingest_upsert']}s "
        f"({n_stream} rows upserted, {n_stream / t_stream:.0f} rows/s)",
        file=sys.stderr,
    )

    # Per-verb ANN index rows against one shared prebuilt index — the
    # true serving costs (the ann_index_* registry rows are
    # build-composite by harness construction; see CORE_HEADLINE_V3).
    for name, dt in bench_annidx_verbs(spark, sf_dir).items():
        timings[name] = dt
        print(f"# {name}: {dt}s", file=sys.stderr)
    # ... and per-verb dedup-index rows, same shared-index rationale.
    for name, dt in bench_dedupidx_verbs(spark, sf_dir).items():
        timings[name] = dt
        print(f"# {name}: {dt}s", file=sys.stderr)
    # ... and per-verb search-index rows (round 13), same rationale.
    for name, dt in bench_searchidx_verbs(spark, sf_dir).items():
        timings[name] = dt
        print(f"# {name}: {dt}s", file=sys.stderr)
    # "value" is the sum of best-of-2 per-query times (the comparable
    # headline), not raw loop wall-clock (which includes the warm-up runs).
    total = round(sum(timings.values()), 2)
    core = round(sum(timings[n] for n in CORE_HEADLINE if n in timings), 2)
    core2 = round(sum(timings[n] for n in CORE_HEADLINE_V2 if n in timings), 2)
    core3 = round(sum(timings[n] for n in CORE_HEADLINE_V3 if n in timings), 2)
    print(f"# total loop wall: {round(time.perf_counter() - t_all, 1)}s, "
          f"headline (sum of best-of-2): {total}s, "
          f"core ({len(CORE_HEADLINE)} frozen): {core}s, "
          f"core2 ({len(CORE_HEADLINE_V2)} frozen r8/9): {core2}s, "
          f"core3 ({len(CORE_HEADLINE_V3)} frozen r10): {core3}s",
          file=sys.stderr)

    payload = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        # frozen 41-query r7∩r8 subset — the round-over-round
        # comparable number (see CORE_HEADLINE comment / BASELINE.md)
        "core_value": core,
        "core_n": len(CORE_HEADLINE),
        # frozen 10-query round-8/9-additions subset (tokenizers,
        # bootstrap, capstones) — see CORE_HEADLINE_V2 comment
        "core2_value": core2,
        "core2_n": len(CORE_HEADLINE_V2),
        # frozen 12-query round-10-additions subset (ANN index verbs,
        # artifact round-trip, record linkage) — see CORE_HEADLINE_V3
        "core3_value": core3,
        "core3_n": len(CORE_HEADLINE_V3),
        "queries": timings,
        "sf": sf,
    }
    # Preserve ONLY the known foreign sections other tools maintain in
    # the detail file (an allowlist — carrying every unknown key forward
    # let stale sections from old formats persist indefinitely).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    detail = dict(payload)
    detail["provenance"] = {
        "start": prov_start,
        "after_warm": prov_warm,
        "end": _provenance(),
    }
    try:
        with open(detail_path) as f:
            prev = json.load(f)
        for k in prev:
            if k.startswith("scale_smoke") and k not in detail:
                detail[k] = prev[k]
    except (OSError, ValueError):
        pass
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(_emit_final_json(payload))
    spark.stop()


if __name__ == "__main__":
    main()
