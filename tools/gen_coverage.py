#!/usr/bin/env python
"""Regenerate COVERAGE.md from the live query registry."""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from cdc_sync_poc_spark.registry import ORACLES, QUERIES, load_all_queries

GROUPS = [
    ("§2.1 Scans / sources / sinks",
     ["src_kafka_cdc", "src_debezium_parse", "src_jdbc_snapshot",
      "src_jdbc_lookup", "src_point_lookup", "src_schema_drift",
      "source_jsonl_docs", "source_csv_docs", "source_orc_docs",
      "sink_cdc_append", "sink_target_apply", "sink_audit_log"]),
    ("§2.2 Row transforms", [f"r{i:02d}" for i in range(1, 16)]),
    ("§2.3 Joins", [f"j{i:02d}" for i in range(1, 10)]),
    ("§2.4 Aggregations", [f"a{i:02d}" for i in range(1, 14)]),
    ("§2.5 Sorts / limits / top-K", [f"s{i:02d}" for i in range(1, 6)]),
    ("§2.6 Stateful / streaming", [f"st{i:02d}" for i in range(1, 9)]),
    ("§2.7 Apply / upsert", [f"ap{i:02d}" for i in range(1, 11)]),
    ("§2.8 Conflict resolution", [f"cf{i:02d}" for i in range(1, 7)]),
    ("Pipeline & mapping compiler",
     ["pipeline_e2e", "plan_mapping_compile", "plan_mapping_roundtrip",
      "llm_curation_e2e"]),
    ("Relational bench (all 22 TPC-H query shapes)",
     ["bench_q1_pricing", "bench_q2_mincost", "bench_q3_shipping",
      "bench_q4_priority", "bench_q5_local_supplier", "bench_q6_forecast",
      "bench_q7_volume", "bench_q8_mktshare", "bench_q9_profit",
      "bench_q10_returned", "bench_q11_important", "bench_q12_latemix",
      "bench_q13_custdist", "bench_q14_promo", "bench_q15_top_supplier",
      "bench_q16_suppcnt", "bench_q17_small_qty", "bench_q18_large_orders",
      "bench_q19_disjunctive", "bench_q20_dominant", "bench_q21_waiting",
      "bench_q22_idle_balance"]),
    ("M6: dedup",
     ["dedup_exact", "dedup_normalized", "dedup_minhash_lsh",
      "dedup_minhash_cluster", "dedup_simhash", "dedup_ngram_jaccard",
      "dedup_embedding_cosine", "dedup_span_exact",
      "dedup_segment_boilerplate", "dedup_corpus_keep", "sem_dedup",
      "dedup_incremental", "dedup_recall_minhash",
      "dedup_prefix_containment", "dedup_rate_by_source",
      "corpus_dedup_rate_by_source", "dedup_minhash_estimate",
      "dedup_lsh_curve", "dedup_threshold_curve",
      "dedup_winnowing_pairs", "dedup_precision_minhash",
      "dedup_cluster_stats", "dedup_line_global",
      "dedup_ppjoin_exact", "dedup_recall_corpuswide",
      "dedup_span_intervals", "sem_dedup_incremental",
      "dedup_minhash_cluster_incremental"]),
    ("M6: similarity search",
     ["sim_topk_bruteforce", "sim_ann_lsh", "sim_ann_topk_all",
      "sim_ivf_topk", "sim_ivfpq_topk", "sim_ivfpq_residual_topk",
      "emb_index_growth", "ann_recall_lsh",
      "ann_recall_ivf", "ann_recall_ivfpq", "ann_recall_truncated",
      "emb_ivf_cell_balance",
      "emb_pq_error", "emb_pq_residual_error", "retrieval_rrf_fusion",
      "retrieval_hard_negatives", "emb_hard_negatives",
      "ann_recall_ivf_stream", "emb_ivf_resplit",
      "sim_rerank_exact_topk"]),
    ("M6: text analysis",
     ["text_langid", "text_langid_eval", "text_quality", "text_tokens",
      "text_fingerprint",
      "text_tfidf_top_term", "text_top_terms", "text_repetition_filter",
      "text_oov_ratio", "text_lexical_concentration",
      "text_winnowing_overlap", "text_cms_error", "text_hapax_ratio",
      "text_gini_concentration", "text_gopher_rules",
      "text_char_diversity", "corpus_zipf_coverage",
      "gopher_rate_by_source"]),
    ("M6: corpus curation & hygiene",
     ["sample_stratified", "sample_fixed_n", "corpus_mix_weights",
      "emb_quantize_error",
      "corpus_train_split", "corpus_contamination",
      "corpus_decontam_incremental", "corpus_contamination_by_source",
      "emb_norm_stats",
      "doc_length_quantiles", "slice_length_quantiles",
      "corpus_simpson_diversity",
      "corpus_vocab_growth", "emb_dim_stats", "emb_covariance_topk",
      "corpus_shard_manifest", "slice_length_mad",
      "sample_systematic_pps", "sample_fixed_n_by_lang",
      "sample_cluster_balanced", "emb_proto_prune",
      "emb_proto_prune_stream"]),
    ("M6: preprocessing & packing",
     ["pii_redact", "doc_chunking", "seq_packing", "pack_padding_waste",
      "train_order_shuffle", "text_rarity_score",
      "emb_label_centroids", "emb_centroid_shift", "dup_ngram_fraction",
      "text_cooccur_lift", "text_ngram_novelty"]),
    ("M6: tokenizer induction",
     ["bpe_merge_steps", "bpe_tokenize_count", "bpe_fertility_by_lang"]),
    ("M6: multimodal",
     ["mm_attach_meta", "mm_decode_features", "mm_resize",
      "mm_frame_sample", "mm_integrity_check", "mm_dedup_phash"]),
    ("M6: event analytics",
     ["events_sessionize", "events_window_agg", "events_funnel",
      "events_retention", "events_rolling_stats", "events_concurrency",
      "events_anomaly_zscore", "events_markov_transitions",
      "events_path_topk", "events_attribution", "events_ab_ttest",
      "events_session_window",
      "events_kmv_distinct", "events_kmv_union", "events_value_histogram",
      "events_lateness_profile", "events_user_overlap",
      "events_cohort_ltv", "events_active_users",
      "events_rfm_segments", "events_interarrival_stats",
      "events_seasonality", "events_decayed_engagement",
      "events_view_click_pairs",
      "events_hll_distinct", "events_hll_union", "events_pagerank",
      "graph_pagerank_dist", "graph_pagerank_mass"]),
    ("M6: quality scoring & data selection",
     ["text_lm_score", "text_bm25_rank", "dsir_importance",
      "text_classifier_score", "text_classifier_confusion",
      "clf_calibration_by_length",
      "dsir_resample", "corpus_token_budget",
      "corpus_filter_funnel", "corpus_funnel_counts",
      "corpus_divergence_chi2"]),
    ("Lake maintenance, layout & data quality",
     ["maint_zorder_layout", "maint_partition_stats",
      "dq_constraint_report", "dq_profile_table"]),
]


def main() -> None:
    load_all_queries()
    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory -> implementation",
        "",
        "Generated by `tools/gen_coverage.py` from the live registry.",
        "Every query id below is an entry in `__spark_entry__.queries()`;",
        "'exact DuckDB' = hash-check oracle, verified in",
        "`tests/test_oracle_parity.py` and the driver's t2 gate.",
        "",
    ]
    seen: set[str] = set()
    for title, prefixes in GROUPS:
        lines += [f"## {title}", "", "| query id | implementation | oracle |", "|---|---|---|"]
        for p in prefixes:
            for q in sorted(
                q for q in QUERIES if q == p or (len(p) <= 4 and q.startswith(p))
            ):
                if q in seen:
                    continue
                seen.add(q)
                fn = QUERIES[q]
                mod = fn.__module__.replace("cdc_sync_poc_spark.", "")
                oracle = "exact DuckDB" if q in ORACLES else "rows-only"
                lines.append(f"| `{q}` | `{mod}.{fn.__name__}` | {oracle} |")
        lines.append("")
    missing = sorted(set(QUERIES) - seen)
    if missing:
        lines += ["## Unlisted", ""] + [f"- `{q}`" for q in missing]
    window = list(QUERIES)[:50]
    lines += [
        "## Driver correctness-sample window (first 50 registered)",
        "",
        "The registry orders ids by their module's rank in",
        "`registry.REGISTERING_MODULES` (CDC core modules first), then",
        "by source line, so the driver's 50-query sample is the CDC sync",
        "path.",
        "",
    ] + [f"{i + 1}. `{q}`" for i, q in enumerate(window)]
    lines.append(
        f"\n**Total: {len(QUERIES)} queries, {len(ORACLES)} with exact oracles.**"
    )
    out = pathlib.Path(__file__).resolve().parents[1] / "COVERAGE.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"{len(seen)} listed, {len(missing)} unlisted -> {out}")


if __name__ == "__main__":
    main()
