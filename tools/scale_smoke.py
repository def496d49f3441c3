"""10× scale smoke: synthesize an sf1-like dataset (deterministically
derived from the read-only sf0.1 testdata) and run the headline queries.

Purpose: evidence for the SCALE.md claims — runtimes should grow roughly
linearly for the linear-shaped operators and nothing should spill, OOM, or
flip plans into cartesian/global-sort shapes at 10× the bench scale.

Derivation (seedless, fully deterministic):
* lineitem/orders/customer/supplier/part/events: 10 replicas with key
  offsets (keys stay join-consistent: the same offset is applied to both
  sides of every FK), events shifted +i days per replica.
* documents: 2 replicas; replica i rotates each doc's word order by 7·i —
  rotation destroys almost all word-3-gram shingles, so planted near-dup
  structure is preserved instead of exploding into all-pairs duplicates.
* embeddings: 5 replicas; replica i rolls the vector components by i —
  rotations of uniform random vectors are ~orthogonal, preserving the
  "no planted near-dups" property.

Usage: python tools/scale_smoke.py [--regen]
Writes to .scratch/sf1/ (gitignored); prints one JSON line of timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from udacitydatawarehouseprj_spark import queries as Q  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scratch", "sf1")

SMOKE = [
    "flagship_hourly_activity",
    "star_join_region_revenue",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "agg_grouping_sets",
    "window_user_top_events",
    "sessionize_events",
    "cte_hourly_active_users",
    "time_dimension_build",
    "pandas_udf_zscore",
    "json_extract_props",
    "dedup_exact",
    "dedup_exact_prehashed",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk_blas",
    "ann_cosine_topk_lsh",
    "embedding_near_dup",
    "text_token_stats",
    "text_quality_score",
    "doc_fingerprint_rolling",
    "multimodal_byte_features",
    "asof_join_purchase_view",
    "range_join_value_bands",
    "text_tfidf",
    "time_rollup_multigrain",
    "decontaminate_overlap",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q16_supplier_part_count",
    "window_functions_suite",
    "chunk_documents_windows",
    "vocab_build_topk",
    "embedding_quantize_int8",
    "weighted_sample_chars",
    "knn_label_vote",
    # round 3
    "dedup_near_dup_clusters",
    "dedup_keep_best_quality",
    "mix_sources_weighted",
    "pack_bins_ffd_check",
    "corpus_stats_by_source",
    "semantic_dedup_kmeans",
    "span_dedup_global",
    "approx_percentile_check",
    "decontaminate_bloom",
    "quality_filter_top_pct",
    "length_bucket_batches",
    "bpe_tokenize_corpus",
    "mmr_rerank_diversified",
    "gap_fill_forward",
    "delete_propagate_index",
    "corpus_diff_snapshots",
    # round 4
    "source_cap_topn",
    "funnel_signup_purchase",
    "retention_cohorts",
    "winsorize_event_values",
    "truncate_token_budget",
    "contamination_fraction",
    "cluster_size_histogram",
    # round 4 wave 2
    "text_normalize_nfc",
    "dsir_importance_weights",
    "curriculum_order_shards",
    "reservoir_sample_per_group",
    "random_projection_embeddings",
    "jl_distortion_check",
    # round 4 wave 3
    "dedup_exact_substring",
    "partitioned_ingest_pruned",
    "record_linkage_blocked",
    "text_char_entropy",
    # round 4 wave 4
    "incremental_rollup_maintain",
    "profile_table_stats",
    "pagerank_similarity_graph",
    # round 4 waves 5-8
    "linreg_by_group",
    "event_transition_matrix",
    "ewma_user_value",
    "mad_outlier_filter",
    "triangle_count_similarity",
    "bootstrap_ci_mean",
    "grouped_topk_salted",
    "ann_pq_topk",
    "histogram_quantile_sketch",
    "json_variant_shred",
    "cross_source_overlap",
    "dedup_ngram_containment",
    "count_min_heavy_hitters",
    "tokenizer_oov_rate",
    "retrieval_mrr_eval",
    "multimodal_image_resize",
    "hll_sketch_rollup",
    # round 4 waves 9-12
    "cooccurrence_event_pairs",
    "key_skew_report",
    "rfm_customer_segments",
    "dpp_partitioned_join",
    "map_functions_suite",
    "array_hof_suite",
    "python_datasource_scan",
    "python_datasink_roundtrip",
    "sql_scripting_control_flow",
    "pipeline_observe_metrics",
    "profile_table_stats_approx",
    # round 5 wave 13
    "equidepth_value_buckets",
    "ngram_pmi_collocations",
    "bm25_topk",
    "matryoshka_prefix_ann",
    "temperature_mix_sources",
    "bloom_prefilter_join",
    "skyline_orders_pareto",
    "label_propagation_communities",
    "inverted_index_postings",
    "quantile_normalize_by_group",
    "classifier_eval_suite",
    "resample_interpolate_hourly",
    "xml_ingest_roundtrip",
    "leakage_safe_split",
    "distinct_ngram_diversity",
    "zipf_law_fit",
    "compact_small_files",
    "hopping_window_counts",
    "k_anonymity_audit",
    "modern_sql_syntax_suite",
    "moments_rollup_mergeable",
    "benford_digit_audit",
    "surrogate_keys_dense",
    # round 6
    "connected_components_minlabel",
    "skipgram_pairs",
    "cdc_apply_changes",
    "stratified_exact_n_sample",
    "json_malformed_recovery",
    "fuzzy_match_blocked_levenshtein",
    "anomaly_seasonal_residuals",
    "ks_drift_test",
    "l_diversity_audit",
    "hard_negative_mining",
    "multimodal_video_frames",
    "lines_ingest_roundtrip",
    "binary_files_ingest",
    "sparse_tfidf_allpairs",
    "url_canonicalize_dedup",
    "annotator_agreement_kappa",
    "streaming_static_join_readback",
    "python_datasource_stream_scan",
    "psi_drift_bins",
    "calibration_curve_deciles",
    "dp_noisy_counts_seeded",
    "ab_test_two_proportion",
    "k_core_similarity_graph",
    "minhash_banding_sweep",
    "entity_resolution_pipeline",
    "collation_aware_grouping",
    "sql_udf_suite",
    "scd2_point_in_time_join",
    "ratio_to_report_share",
    "gini_concentration",
    "json_schema_profile",
    "sequence_pattern_match",
    # round 7
    "table_ddl_lifecycle",
    "sequence_pattern_compile",
    "er_survivorship_scored",
    "chi_square_independence",
    "welch_t_test",
    "spearman_rank_correlation",
    "mann_whitney_u",
    "gaps_islands_streaks",
    "max_concurrent_sessions",
    "autocorrelation_hourly",
    "cusum_changepoint",
    "personalized_pagerank_seeded",
    "running_distinct_users",
    "t_closeness_audit",
    "randomized_response_seeded",
    "streaming_stream_join_readback",
    "domain_blocklist_filter",
    "holt_exponential_smoothing",
    "theil_sen_slope",
    "sequential_pattern_support",
    "rolling_regression_slope",
    "anova_oneway_f",
    "fleiss_kappa_multi_rater",
    "conversion_latency_percentiles",
    "dedup_shard_locality_audit",
    "target_encoding_loo",
    "mutual_information_bands",
    "time_weighted_average",
    "embedding_class_separability",
    "cluster_medoid_selection",
    "weighted_jaccard_allpairs",
    "embedding_standardize_check",
    "degree_assortativity",
    "forecast_baseline_mase",
    "interval_integrity_audit",
    "sliding_window_distinct_users",
    "jackknife_ratio_variance",
    "funnel_three_step_ordered",
    "heaps_law_fit",
    "ivm_delta_aggregate",
    "seasonality_strength",
    "table_checksum_portable",
    "weighted_median_exact",
    "diff_in_diff_estimator",
    "negative_sampling_unigram",
    "ablation_nested_subsets",
    "simpsons_paradox_audit",
    "late_dimension_backfill",
    "scd3_previous_value",
    "cuped_variance_reduction",
    "message_passing_two_hop",
    "bom_quantity_rollup",
    "bitemporal_snapshot_read",
    "control_chart_xbar",
    "minhash_overlap_estimate",
    "covariate_balance_smd",
    "probabilistic_forecast_eval",
    "luhn_checksum_audit",
    "market_basket_lift",
    "ltv_cohort_curve",
    "token_diversity_by_source",
    "duplicate_transaction_flags",
    "term_trend_log_odds",
    # round 13 (VERDICT r12 item 5): first-decade row for the neural
    # reranker's scale ledger (see SMOKE10/SMOKE100 notes), plus the
    # round-13 learned-weight seam exercise (same cascade, so its
    # ledger starts complete instead of becoming round-14 debt).
    "rerank_neural_scorer_eval",
    "rerank_learned_weights_eval",
]


def _replicate_keyed(spark, name: str, key_cols: dict[str, int], copies: int,
                     ts_cols: tuple[str, ...] = ()):
    """Union `copies` replicas, offsetting each key column by i × its
    declared stride (strides chosen > max key so replicas never collide)."""
    base = S.load_table(spark, SRC, name)
    parts = []
    for i in range(copies):
        df = base
        for col, stride in key_cols.items():
            df = df.withColumn(col, F.col(col) + F.lit(i * stride))
        for tc in ts_cols:
            df = df.withColumn(tc, F.col(tc) + F.expr(f"INTERVAL {i} DAYS"))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generate(spark) -> None:
    os.makedirs(OUT, exist_ok=True)
    K = 10_000_000  # key stride, > any base key
    plans = {
        "lineitem": _replicate_keyed(
            spark, "lineitem",
            {"l_orderkey": K, "l_partkey": K, "l_suppkey": K}, 10),
        "orders": _replicate_keyed(
            spark, "orders", {"o_orderkey": K, "o_custkey": K}, 10),
        "customer": _replicate_keyed(
            spark, "customer", {"c_custkey": K}, 10),
        "supplier": _replicate_keyed(
            spark, "supplier", {"s_suppkey": K}, 10),
        "part": _replicate_keyed(spark, "part", {"p_partkey": K}, 10),
        "events": _replicate_keyed(
            spark, "events", {"event_id": K, "user_id": K}, 10,
            ts_cols=("ts",)),
        "region": S.load_table(spark, SRC, "region"),
        "nation": S.load_table(spark, SRC, "nation"),
    }
    docs = S.load_table(spark, SRC, "documents")
    doc_parts = [docs]
    for i in range(1, 2):
        rot = 7 * i
        doc_parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * K))
            .withColumn(
                "text",
                F.array_join(
                    F.expr(
                        f"concat(slice(split(text, ' '), {rot + 1}, 100000),"
                        f" slice(split(text, ' '), 1, {rot}))"
                    ),
                    " ",
                ),
            )
        )
    plans["documents"] = doc_parts[0].unionByName(doc_parts[1])
    emb = S.load_table(spark, SRC, "embeddings")
    emb_parts = [emb]
    for i in range(1, 5):
        emb_parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * K))
            .withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {i + 1}, 100000),"
                    f" slice(embedding, 1, {i}))"
                ),
            )
        )
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionByName(p)
    plans["embeddings"] = e

    for name, df in plans.items():
        df.write.mode("overwrite").parquet(os.path.join(OUT, f"{name}.parquet"))


#: 10 words — exactly one span at the slice boundary, planted verbatim at
#: the head of every even-doc_id document (50% of the corpus shares ONE
#: span_text). This is the hot-key shape C4 dedup exists to remove; a
#: row_number window on span_text would funnel every copy into one
#: partition, while the groupBy+min(struct) form partial-aggregates each
#: input partition down to one candidate before the shuffle.
BOILERPLATE = (
    "subscribe to our newsletter all rights reserved terms of service"
)


def boilerplate_smoke(spark) -> dict:
    """Planted-boilerplate property + timing smoke for span_dedup_global.

    Properties checked (hard assertions, not timings):
    * exactly ONE surviving document keeps the boilerplate span — the
      first occurrence (min doc_id among planted docs);
    * every planted document survives (each still has ≥1 unique span
      from its original text) and no doc_id is duplicated.
    """
    boiler_dir = os.path.join(os.path.dirname(OUT), "boiler")
    docs = S.load_table(spark, SRC, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(BOILERPLATE + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    os.makedirs(boiler_dir, exist_ok=True)
    planted.write.mode("overwrite").parquet(
        os.path.join(boiler_dir, "documents.parquet")
    )
    t0 = time.perf_counter()
    out = Q.queries()["span_dedup_global"](spark, boiler_dir)
    rows = out.select("doc_id", "clean_text").collect()
    elapsed = round(time.perf_counter() - t0, 3)

    keepers = [r for r in rows if r.clean_text.startswith(BOILERPLATE)]
    planted_ids = {r.doc_id for r in rows if r.doc_id % 2 == 0}
    min_planted = min(planted_ids)
    assert len(keepers) == 1, (
        f"boilerplate span must survive exactly once, got {len(keepers)}"
    )
    assert keepers[0].doc_id == min_planted, (
        f"first occurrence must win: keeper={keepers[0].doc_id}, "
        f"min planted={min_planted}"
    )
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), "duplicate doc_id in output"
    return {"span_dedup_boilerplate_50pct": elapsed, "n_docs": len(rows)}


#: sf10 tier (--sf10): 100× the bench scale, for the operators where
#: SUPER-LINEAR risk lives (round-6 verdict ask): CC/k-core round
#: counts, LSH banding candidate growth, exact countDistinct width,
#: all-pairs term joins, iterative BPE driver rounds. The sf0.1→sf1
#: ledger proves one decade; this proves the second.
OUT10 = os.path.join(os.path.dirname(OUT), "sf10")
SMOKE10 = [
    "entity_resolution_pipeline",
    "er_survivorship_scored",
    "k_core_similarity_graph",
    "connected_components_minlabel",
    "minhash_banding_sweep",
    "sparse_tfidf_allpairs",
    "json_schema_profile",
    "profile_table_stats",
    "bpe_learn_merges",
    "bpe_learn_merges_batched",
    "streaming_corpus_dedup_readback",
    # round 8 (VERDICT r7 item 6): the round-7 heavy hitters. The
    # spectral pair runs BOTH forms — the decimal-explode oracle twin
    # (linear in rows, 4096-way per-row expansion) and the BLAS
    # production swap (gram_partials) that replaces it at scale.
    "power_iteration_top_eigen",
    "power_iteration_blas_production",
    "cka_embedding_views",
    "cka_blas_production",
    "capture_recapture_dups",
    "capture_recapture_loglinear",
    "ensemble_dedup_consensus",
    "dbscan_grid_clusters",
    "modularity_components",
    # round 13 (VERDICT r12 item 5): the round-12 neural-rerank wave's
    # scale row — pins that the pandas-UDF scorer stays candidate-
    # batch-shaped (BM25 front-half scans the corpus linearly; the MLP
    # touches exactly <=100 candidates regardless of corpus size).
    "rerank_neural_scorer_eval",
    "rerank_learned_weights_eval",
]


def generate_sf10(spark) -> None:
    """Only the tables SMOKE10 touches (each query in the subset reads
    ONE table; no cross-table joins, so per-table strides are
    independent). Customer uses a 1e9 stride so the ER pipeline's
    +10M dirty-id offset can never collide with a replica's clean
    keys — a collision would merge replicas through duplicate ids and
    measure a degenerate graph instead of the operator."""
    os.makedirs(OUT10, exist_ok=True)
    K = 10_000_000
    # c_name must be regenerated from the OFFSET key: replicas keeping
    # identical name strings would multiply the ER fuzzy-match pair
    # count by copies^2 (every dirty name matching every replica's
    # clean twin) — measuring a degenerate blow-up, not the operator.
    cust = _replicate_keyed(
        spark, "customer", {"c_custkey": 1_000_000_000}, 100
    ).withColumn(
        "c_name", F.format_string("Customer#%018d", F.col("c_custkey"))
    ).withColumn(
        # c_acctbal gets a per-replica shift spanning ~100× the DBSCAN
        # eps at this n (eps = 400/n ≈ 2.7e-4 in x units = 0.267
        # acctbal units): replicas keeping IDENTICAL coordinates would
        # stack 100 zero-distance copies of every point and the 9-cell
        # candidate relation would measure copies×n pair degeneracy,
        # not the operator (the c_name lesson, in coordinate space).
        # The shift spreads replicas across the acctbal axis the way
        # 100× real data fills the domain.
        "c_acctbal",
        F.col("c_acctbal")
        + F.lit(0.27) * (F.col("c_custkey") / F.lit(1_000_000_000))
        .cast("long").cast("double"),
    )
    plans = {
        "customer": cust,
        "orders": _replicate_keyed(
            spark, "orders", {"o_orderkey": K, "o_custkey": K}, 100),
        "lineitem": _replicate_keyed(
            spark, "lineitem",
            {"l_orderkey": K, "l_partkey": K, "l_suppkey": K}, 100),
        # events joined the tier in round 9 (yuen_trimmed_t_test):
        # same replication as the sf1 tier — key offsets + per-replica
        # day shift so the temporal queries see a spread axis, not 100
        # stacked copies of one week.
        "events": _replicate_keyed(
            spark, "events", {"event_id": K, "user_id": K}, 100,
            ts_cols=("ts",)),
        # part joined in round 9 (inclusion_dependency_audit): the same
        # p_partkey stride lineitem's l_partkey uses, so the FK
        # inclusion relation the audit measures survives replication.
        "part": _replicate_keyed(spark, "part", {"p_partkey": K}, 100),
    }
    docs = S.load_table(spark, SRC, "documents")
    doc_parts = [docs]
    for i in range(1, 20):
        rot = 7 * i
        doc_parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * K))
            .withColumn(
                "text",
                F.array_join(
                    F.expr(
                        f"concat(slice(split(text, ' '), {rot + 1}, 100000),"
                        f" slice(split(text, ' '), 1, {rot}))"
                    ),
                    " ",
                ),
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    plans["documents"] = d
    # embeddings: 50 replicas (10× the sf1 tier's 5); replica i rolls
    # the 64 components by i (all rolls distinct for i < 64) —
    # rotations of uniform random unit vectors stay ~orthogonal, so
    # the "no planted near-dups" property survives and the cosine
    # ≥ 0.4 graph stays sparse instead of exploding replica-cliques.
    embv = S.load_table(spark, SRC, "embeddings")
    emb_parts = [embv]
    for i in range(1, 50):
        emb_parts.append(
            embv.withColumn("vec_id", F.col("vec_id") + F.lit(i * K))
            .withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {i + 1}, {64 - i}),"
                    f" slice(embedding, 1, {i}))"
                ),
            )
        )
    ee = emb_parts[0]
    for p in emb_parts[1:]:
        ee = ee.unionByName(p)
    plans["embeddings"] = ee
    for name, df in plans.items():
        df.write.mode("overwrite").parquet(
            os.path.join(OUT10, f"{name}.parquet"))


#: sf100 tier (--sf100): THIRD-decade probe (VERDICT r9 item 8). First
#: the three production-path dedup/ANN flagships (the 100 TB claims
#: previously extrapolated from the second decade), then — second
#: installment, same round — the round-10 wave (rerank cascade,
#: composite filtered ANN) and the fused retrieval path (rrf), so no
#: round-10 registration's scale claim stops at the second decade.
#: documents at 1M rows, embeddings at 1M vectors; only queries that
#: read documents/embeddings alone are eligible (the tier generates no
#: other table).
OUT100 = os.path.join(os.path.dirname(OUT), "sf100")
SMOKE100 = [
    "dedup_minhash_lsh",
    "ann_filtered_topk",
    "capture_recapture_lsh",
    "rrf_hybrid_fusion",
    "rerank_cross_encoder_eval",
    "ann_filtered_topk_composite",
    # third installment: exact dedup, the SimHash detector, the
    # single-scan text-analysis family, fingerprinting, vocab build,
    # the trigram-LM scorer (DoReMi's loss feed), and the BM25
    # retrieval baseline — the families whose "JVM Column expressions
    # throughout, flat/linear" claims previously stopped at sf10.
    "dedup_exact",
    "dedup_simhash",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "text_char_entropy",
    "doc_fingerprint_rolling",
    "vocab_build_topk",
    "text_trigram_lm_score",
    "bm25_topk",
    # fourth installment: the query-serving ANN paths at 1M vectors —
    # brute-force baseline, LSH, IVF, PQ. embedding_near_dup (the
    # tiled all-pairs verification relation) is deliberately excluded:
    # O(n²/tile) at 1M vectors is 10¹² pairs, and its production
    # substitute is the LSH-bucketed candidate path measured via
    # dedup/ANN entries above.
    "ann_cosine_topk_blas",
    "ann_cosine_topk_lsh",
    "ann_ivf_topk",
    "ann_pq_topk",
    # fifth installment: graph algorithms on the LSH-derived pair
    # graph at 1M nodes. Isolated sessions rebuild the shared pair
    # relation each time, so each number = pair build + rounds — the
    # honest end-to-end cost; in-session the relation is shared across
    # all graph consumers (production shape: build once per corpus
    # snapshot).
    "pagerank_similarity_graph",
    "triangle_count_similarity",
    "k_core_similarity_graph",
    # wave completion: with this entry every round-9 AND round-10 wave
    # registration carries a third-decade row.
    "doremi_lm_loss_reweight",
    # sixth installment (round 11, VERDICT r10 items 5+6): the batch
    # ANN serving economics pair (per-query cost at a ~10k-query batch
    # vs the brute floor at the SAME batch) and the training-data
    # layout family — packing, mixing, curriculum, and the training
    # shuffle are the operators a 100 TB pipeline runs LAST and at
    # full volume.
    "ann_batch_serving_ivf",
    "ann_batch_serving_brute",
    "pack_bins_ffd_check",
    "pack_context_windows",
    "mix_sources_weighted",
    "temperature_mix_sources",
    "curriculum_order_shards",
    "training_shuffle_buckets",
    # seventh installment (round 12, VERDICT r11 item 4): the
    # multimodal family — the one pipeline stage still missing a
    # third-decade row. Per-object Arrow kernels (PPM decode, decode+
    # resize, stride frame-sampling over raw bytes, RIFF/WAVE framed
    # energy) whose claimed shape is linear and executor-parallel;
    # payload synthesis (attach_*_payload) is part of the measured
    # cost, exactly as in the oracled queries. These also exercise the
    # round-11 Python-worker faulthandler in the worker-heavy path
    # where the r11 silent segfault hang occurred.
    "multimodal_image_decode",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "audio_frame_energy",
    # eighth installment (round 13, VERDICT r12 item 5): the neural
    # second-stage reranker. The BM25 front-half already has its
    # third-decade rows (bm25_topk, rerank_cross_encoder_eval); this
    # pins that swapping the pair scorer for the Arrow-batched MLP
    # keeps the cascade candidate-bounded — the UDF sees exactly
    # <=100 rows whether the corpus is 5k or 1M docs. The learned
    # variant adds one integer-sum aggregation over the same <=100
    # candidates — training cost is batch-shaped too.
    "rerank_neural_scorer_eval",
    "rerank_learned_weights_eval",
]


def generate_sf100(spark) -> None:
    """documents = replica 0 as the IDENTITY copy of the sf0.1 corpus
    plus 199 TOKEN-REMAPPED replicas (1M docs); embeddings = 500
    orthogonally-transformed replicas (1M vectors). One crossJoin with
    a replica-index range per table — a single scan, not an N-way
    union plan.

    Replica design: REMAP, don't rotate. The sf10 tier's word-rotation
    replicas preserve shingles, so every shingle's df multiplies by the
    replica count — tolerable for one extra decade, but at 200 replicas
    the detectors would measure a df-degenerate corpus, and rotations
    of ~60-token docs alias past rot≈len into exact-duplicate cliques
    (the c_name lesson in text space). Replicas 1-199 instead suffix
    every token with the replica ordinal, making each an ISOMORPHIC
    copy of the sf0.1 corpus in its own disjoint shingle vocabulary:
    per-shingle df stays at sf0.1 levels (median 9, max 25 — measured
    round 10), true-pair structure scales exactly linearly, and
    cross-replica pairs among 1-199 are impossible by construction.
    Replica 0 stays unsuffixed because the retrieval-path fixed-literal
    query terms ('spark'/'merge'/'window') must exist somewhere in the
    tier; its vocabulary is still disjoint from 1-199 because no sf0.1
    token ends in _<digits> (measured round 10: 0 of the corpus). That
    is the shape a real 100 TB crawl has: vocabulary grows with the
    corpus, df distribution stationary.

    embeddings: replica r applies roll(r%64) ∘ reverse((r//64)%2) ∘
    sign-pattern((r//128)%4 ∈ {identity, negate-all, negate-even,
    negate-odd}) — 512 distinct orthogonal maps, so all 500 replicas
    are distinct, transformed random unit vectors stay random (no
    planted near-1 cosines; a vector and its negation land at cosine
    -1, the bottom of a max-cosine ranking), and the "no planted
    near-dups" property survives. Replicas 200-499 have no documents
    row — their vectors are scanned but correctly pruned by
    ann_filtered_topk's semi-join (coverage documented in SCALE.md)."""
    os.makedirs(OUT100, exist_ok=True)
    K = 10_000_000
    docs = S.load_table(spark, SRC, "documents")
    reps = F.broadcast(
        spark.range(200).select(F.col("id").alias("rep"))
    )
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.lit("_"),
                               F.col("rep").cast("string")),
        ),
        " ",
    )
    # Replica 0 is the IDENTITY copy (no suffix): fixed-literal query
    # terms ('spark'/'merge'/'window' in the BM25 stack) must exist in
    # the tier or the retrieval-path sf100 runs would measure an empty
    # lexical arm. Disjointness holds — no sf0.1 token matches _<digits>
    # (measured round 10: 0 of the corpus), so replicas 1..199 cannot
    # collide with replica 0's vocabulary.
    d = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * K).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(suffixed).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )
    d.repartition(32).write.mode("overwrite").parquet(
        os.path.join(OUT100, "documents.parquet"))
    embv = S.load_table(spark, SRC, "embeddings")
    ereps = F.broadcast(
        spark.range(500).select(
            F.col("id").alias("rep"),
            (F.col("id") % 64).cast("int").alias("roll"),
            ((F.col("id") / 64).cast("long") % 2).alias("rev"),
            ((F.col("id") / 128).cast("long") % 4).alias("pat"),
        )
    )
    rolled = F.concat(
        F.slice(F.col("embedding"), F.col("roll") + F.lit(1),
                F.lit(64) - F.col("roll")),
        F.slice(F.col("embedding"), F.lit(1), F.col("roll")),
    )
    flipped = F.when(F.col("rev") == 1, F.reverse(rolled)).otherwise(rolled)
    signed = F.transform(
        flipped,
        lambda x, i: F.when(
            (F.col("pat") == 1)
            | ((F.col("pat") == 2) & (i % 2 == 0))
            | ((F.col("pat") == 3) & (i % 2 == 1)),
            -x,
        ).otherwise(x),
    )
    ee = (
        embv.crossJoin(ereps)
        .select(
            (F.col("vec_id") + F.col("rep") * K).alias("vec_id"),
            signed.alias("embedding"),
            *[c for c in embv.columns if c not in ("vec_id", "embedding")],
        )
    )
    ee.repartition(32).write.mode("overwrite").parquet(
        os.path.join(OUT100, "embeddings.parquet"))


def run_tier(spark, out: str, marker: str, generate_fn, roster: list[str],
             metric: str, sf: float, warmup: str | None = None,
             extra: dict | None = None) -> None:
    """Run one scale tier: generate its data into ``out`` if ``marker`` is
    missing (or on --regen), run ``warmup`` untimed, time each roster
    query (or the --only=a,b,c subset) into the noop sink, and print one
    JSON line. ``extra`` maps unregistered query names to functions that
    are timed after a full-roster run."""
    if "--regen" in sys.argv or not os.path.exists(os.path.join(out, marker)):
        t0 = time.perf_counter()
        generate_fn(spark)
        print(f"# generated {out} in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
    fns = dict(Q.queries())
    if warmup:
        fns[warmup](spark, out).write.format("noop").mode("overwrite").save()
    names = roster
    for arg in sys.argv[1:]:
        if arg.startswith("--only="):
            names = [n for n in arg.split("=", 1)[1].split(",") if n]
    if names is roster and extra:
        fns.update(extra)
        names = [*roster, *extra]
    timings = {}
    for name in names:
        print(f"# sf{sf:g} running {name}", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        fns[name](spark, out).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# sf{sf:g} {name}: {timings[name]}s",
              file=sys.stderr, flush=True)
    print(json.dumps({"metric": metric,
                      "value": round(sum(timings.values()), 3),
                      "unit": "sec", "queries": timings, "sf": sf}))


def main() -> None:
    spark = S.get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    if "--sf100" in sys.argv:
        run_tier(spark, OUT100, "documents.parquet", generate_sf100,
                 SMOKE100, "scale_smoke_1000x_total", 100.0)
    elif "--sf10" in sys.argv:
        run_tier(spark, OUT10, "documents.parquet", generate_sf10,
                 SMOKE10, "scale_smoke_100x_total", 10.0)
    elif "--boilerplate" in sys.argv:
        res = boilerplate_smoke(spark)
        print(json.dumps({"metric": "span_dedup_boilerplate", "unit": "sec",
                          **res}))
    else:
        # the production sketch profile (approx only, no Expand) is not
        # registry-registered (approx values are engine-specific,
        # invariant-checked via profile_table_stats_approx); timed here
        # to document the exact-vs-sketch gap at sf1 in SCALE.md
        run_tier(spark, OUT, "lineitem.parquet", generate, SMOKE,
                 "scale_smoke_10x_total", 1.0, warmup="agg_count_star",
                 extra={"profile_table_stats_approx_only":
                        Q.profile_table_stats_approx_only})


if __name__ == "__main__":
    main()
