#!/usr/bin/env python3
"""Emit the stress-run chunk files consumed by run_stress.sh.

Usage: make_chunks.py <oracle_sql.json> [chunk_dir]

One chunk = one Bench JVM. Grouping follows build-sharing families
(queries that ride the same memoized frames go to the same
JVM so shared builds are paid once per chunk, mirroring how a scheduled
cluster job would co-locate them). The seven output-quadratic expanded
pair reports (*_pairs_full / *_full) are contract opt-ins excluded from
stress scales per SURVEY §5 — their output is linear in duplicate mass,
i.e. ~N^2 rows on the shifted-copy stress corpus by design.

The chunk map is validated against the live registry (oracle_sql.json
from a Verify run): a query added to SparkEntry but missing here — or
named here but gone from the registry — fails loudly instead of
silently shrinking the stress surface.
"""
import json
import os
import sys

# Excluded from stress scales: the seven output-quadratic expanded pair
# contracts, plus the kmv exact-audit opt-in (its exact union/intersection
# columns self-join the distinct (source,h) corpus frame — the gate-scale
# verification affordance for the kmv_overlap sketch, not a serving path;
# SURVEY §5 / rows-160-style precedent).
EXPANDED_OPT_INS = {
    "dedup_minhash_pairs_full", "jaccard_prefix_pairs_full",
    "containment_join_pairs_full", "minhash_est_pairs_full",
    "embed_cosine_dup_pairs_full", "dedup_simhash_pairs_full",
    "dedup_simhash_multiprobe_full", "kmv_overlap_audit",
}

CHUNKS = {
    # Similarity.scala family: shares sim.* vector/index/list builds.
    "a_ann": """
        ann_agreement ann_hard_neg_shortlist ann_hard_negatives ann_ivf
        ann_ivf_hier ann_ivf_hier_recall ann_ivfpq_recall ann_ivfpq_rerank
        ann_ivfpq_rerank_recall ann_ivfpq_res_recall ann_ivfpq_res_search
        ann_ivfpq_search ann_lsh ann_mrr ann_nprobe_sweep ann_pq
        ann_pq_recall ann_pq_search ann_recall ann_topk knn_classify
        label_noise lsh_bucket_stats embed_cosine_dup mutual_knn
        ann_nn_graph ann_nn_graph_recall
    """,
    # Embedding analytics (same file, but stats-side builds).
    "b_embed": """
        embed_centroids embed_covariance embed_drift embed_label_margin
        embed_norm_audit embed_pca_power embed_prune embed_quant
        embed_whiten_audit dedup_semantic embed_trunc_audit
        decontaminate_semantic embed_jl_audit
    """,
    # Dedup.scala family: shares shingle/minhash/rep-collapse frames.
    "c_dedup": """
        dedup_agreement dedup_clusters dedup_exact dedup_minhash
        dedup_simhash dedup_simhash_multiprobe dedup_simhash_pairs
        dedup_threshold_sweep minhash_est shingle_df_hist doc_rarity
        cluster_size_hist graph_degree dup_pagerank source_diversity
        decontaminate dedup_canonical winnow_overlap dedup_snm
        dedup_normalized dup_triangles
    """,
    # TextStats/Ngrams/Retrieval: shares the memoized tf/token frames.
    "d_text": """
        text_stats lang_id lang_confusion doc_fingerprint
        repetition_filter gopher_quality ngram_topk ngram_pmi
        ngram_coverage_curve tfidf_topterms token_drift vocab_build
        oov_rate bpe_merges bpe_compression dsir_weights bm25_topk
        retrieval_rrf lm_fluency char_collision_audit readability
    """,
    # Pipeline.scala + Clean.scala: corpus curation mechanics.
    "e_pipeline": """
        quality_filter sample_stratified sample_reservoir sample_weighted
        pack_sequences source_mix shard_assign split_assign epoch_order
        mix_temperature token_budget_plan curriculum_plan quality_dup_corr
        padding_waste ccnet_bucket pipeline_e2e source_cap source_lang_gini
        source_quality_matrix lang_quantiles lang_trim quantile_sketch
        quantile_merge segment_dedup segment_keep_k pii_scrub pii_audit
        substring_dup corpus_diff curation_e2e source_copy_matrix
        skyline_docs table_profile compaction_plan filter_ablation
    """,
    # Relational/events queries (Queries.scala).
    "f_rel": """
        q1_agg q3_join q5_broadcast window_topn agg_skew_distinct
        events_sessionize session_native events_asof events_range_join
        events_pivot events_retention events_funnel events_hopping
        events_props_stats events_dow_hour event_anomalies funnel_latency
        funnel_latency_hist user_window_1h user_spend_decile
        user_activity_gini join_salted join_skew_audit events_rollup k_anonymity
        user_decay_score event_transitions session_paths user_ltv
        benford_audit user_burstiness zorder_layout user_rfm
        attribution_credit user_churn_hazard events_forecast_baseline
        q17_smallqty orders_backlog
    """,
    # CDC family: shares the decoded change-feed frame.
    "g_cdc": """
        resume_offsets change_decode change_type_filter filter_eq
        filter_in filter_typed subscription_route table_route_validate
        hyper_remap fanout_forward auth_restrict cdc_snapshot cdc_lag
        cdc_redact cdc_schema_drift cdc_scd2 cdc_dlq replay_window
        lsn_roundtrip stream_window_counts cdc_snapshot_inc cdc_scd2_inc
    """,
    # Chunk/set-join/sketch/multimodal remainder.
    "h_misc": """
        doc_chunks chunk_boilerplate bloom_decontaminate dedup_incremental
        content_chunks source_overlap hll_distinct hll_merge cms_topk
        cms_merge jaccard_prefix containment_join mm_features mm_frames
        mm_header_fields mm_content_chunks frame_dedup knob_report
        kmv_overlap
    """,
}


def main():
    oracle = sys.argv[1]
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/chunks"
    registry = set(json.load(open(oracle)))
    chunk_map = {n: q.split() for n, q in CHUNKS.items()}
    named = [q for qs in chunk_map.values() for q in qs]
    dup = {q for q in named if named.count(q) > 1}
    if dup:
        sys.exit(f"FATAL: query in multiple chunks: {sorted(dup)}")
    want = registry - EXPANDED_OPT_INS
    missing = want - set(named)
    stale = set(named) - registry
    if missing or stale:
        sys.exit(f"FATAL: chunk map drift vs registry: "
                 f"missing={sorted(missing)} stale={sorted(stale)}")
    os.makedirs(out_dir, exist_ok=True)
    for name, qs in chunk_map.items():
        with open(f"{out_dir}/{name}.txt", "w") as f:
            f.write(" ".join(qs) + "\n")
        print(f"{name}: {len(qs)} queries")
    print(f"total {len(named)} (registry {len(registry)}, "
          f"{len(EXPANDED_OPT_INS)} expanded opt-ins excluded)")


if __name__ == "__main__":
    main()
