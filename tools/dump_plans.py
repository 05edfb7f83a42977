#!/usr/bin/env python
"""Formatted physical plans of registered queries and bench rows.

  python tools/dump_plans.py                    # regenerate PLANS.md
  python tools/dump_plans.py OUT_DIR NAME ...   # OUT_DIR/NAME.txt

With no arguments PLANS.md is rebuilt from the HEAD queries at sf0.01.
With an output directory and names (any registered query or bench
EXTRA_OPS row), each plan is written by ``explain("formatted")`` to
OUT_DIR/NAME.txt at the bench's SPARK_GRAFT_SF_DIR and
SPARK_GRAFT_CPUS, so a before/after pair is comparable with bench
rows. Iterative rows run their checkpointed loops while they build,
so their dumped plan is the post-checkpoint tail.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA_OPS, settings  # noqa: E402
from cc_pyspark_spark.caching import release_caches  # noqa: E402
from cc_pyspark_spark.session import build_session  # noqa: E402
from cc_pyspark_spark.plans.registry import QUERIES  # noqa: E402
import cc_pyspark_spark.plans  # noqa: E402,F401 — registers queries

HEAD = [
    "tpch_q1_pricing_summary", "tpch_q5_local_supplier_volume", "topk_global",
    "dedup_minhash_lsh", "dedup_minhash_scale", "dedup_embedding_fixture",
    "sim_cosine_topk", "sim_ann_ivf", "events_session_window",
    "text_word_count_tfdf", "url_tld_validation_counts",
    "text_gopher_rules", "dedup_url_normalize", "curation_pack_sequences",
    "text_html_extract", "merge_upsert", "multimodal_audio_features",
    "dedup_substring_spans", "text_bpe_token_count", "curation_pipeline_e2e",
    "dedup_simhash_pairs", "text_c4_line_rules", "curation_mix_weights",
    "embedding_pq_codes", "sim_ann_pq_adc",
    "agg_hll_sketch_union", "agg_count_min_heavy_hitters",
    "events_hypertable_rollup", "text_bigram_lm_score",
    "sim_ann_pq_rerank", "sim_sparse_tfidf_topk",
    "curation_pipeline_full", "dedup_prefix_jaccard",
    "agg_salted_distinct_count", "events_gapfill_locf",
    "sim_hybrid_rrf", "graph_triangle_stats",
    "agg_exact_median_histogram", "text_drift_chi2",
    "events_funnel_conversion", "events_retention_cohorts",
    "events_rolling_zscore",
    # r7 continuation block
    "graph_pagerank", "graph_bfs_hops", "sim_ann_ivf_pq",
    "dedup_minhash_delta", "sim_eval_recall_at_k", "events_ks_drift",
    "layout_zorder_stats", "dedup_edit_distance",
    "text_hashed_classifier", "embedding_kmeans_lloyd",
    "events_cusum_changepoint", "sim_eval_recall_matrix",
    "curation_dataset_card",
    # r8: production-geometry sign-LSH + Hamming-1 multi-probe twin,
    # log-round CC, and the embedding delta probe
    "dedup_embedding_scale_wide", "dedup_embedding_scale_probe",
    "graph_cc_alternating", "dedup_embedding_delta",
    # r8 continuation: the remaining first-row queries from the r8 window
    "curation_stratified_sample", "curation_difficulty_bins",
    "sim_ann_ivfpq_residual",
    # r9: the auto-convergence CC deployment wrapper, DSIR importance
    # weighting, n-gram novelty, k-center coreset
    "graph_cc_converged", "curation_dsir_importance", "text_ngram_novelty",
    "embedding_kcenter_coreset", "text_ngram_novelty_bloom",
    # r9 backfill: every bench headliner gets a PLANS.md entry (the
    # TPC-H spine + the scalar-agg/dedup/events rows that predate the
    # PLANS.md convention)
    "tpch_q3_shipping_priority", "tpch_q4_late_shipments",
    "tpch_q6_forecast_revenue", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q18_large_volume",
    "tpch_q19_disjunctive", "dedup_exact", "dedup_simhash_scale",
    "events_tumbling_hourly", "agg_approx_percentile_bound",
    # late r9: the MP4/MP3 structural probe, BPE merge induction,
    # dataset release diff
    "multimodal_container_probe", "text_bpe_train",
    "curation_snapshot_diff",
    # latest r9: Aho-Corasick blocklist pass, Okapi BM25, JL projection,
    # KMV/theta sketch set algebra
    "text_blocklist_phrases", "sim_bm25_topk",
    "embedding_random_projection", "agg_theta_sketch_intersect",
    "curation_priority_sample", "sim_hard_negatives",
    "agg_weighted_percentiles",
    # community structure: label propagation + k-core peeling
    "graph_label_propagation", "graph_kcore",
    # batch-GD classifier training (broadcast-weight loop) + eval
    "text_classifier_train", "text_classifier_eval",
    # r10: WAT links, sparse trainer, HITS, MMR, canonical-URL dedup,
    # domain cap, budget mix + execution, vocab coverage, tar/zip
    # container probes, bitext mining, Kneser-Ney, modularity, soft
    # dedup
    "wat_links_host_graph", "text_classifier_train_sparse", "graph_hits",
    "sim_mmr_rerank", "dedup_url_canonical", "curation_domain_cap",
    "curation_token_budget_mix", "curation_mix_execute",
    "text_vocab_coverage", "multimodal_tar_index", "multimodal_zip_probe",
    "sim_bitext_mine", "text_kneser_ney_bigram", "graph_modularity",
    "curation_soft_dedup",
    # r11: converged wrappers, quota-semantics contract, CCNet
    # paragraph dedup, tokenizer fertility, strided chunking, cluster
    # histogram, assortativity
    "graph_lpa_converged", "graph_kcore_converged",
    "curation_quota_semantics", "dedup_paragraph",
    "text_tokenizer_fertility", "curation_chunk_overlap",
    "dedup_cluster_histogram", "graph_degree_assortativity",
    # r12: the enforced-cap pair, containment, SCD2, layout tier,
    # skew join, epoch shuffle, WAT compositions, interval overlap,
    # impact-pruned sparse topk, S-curve eval
    "dedup_minhash_capped", "dedup_minhash_salted", "dedup_containment",
    "events_scd2_asof", "layout_bucketed_join", "layout_bucketed_agg",
    "layout_partition_pruning", "text_boilerplate_shingles",
    "graph_link_prediction", "events_ohlc_bars", "text_code_detect",
    "join_skew_salted", "curation_epoch_shuffle", "wat_anchor_topk",
    "wat_host_pagerank", "events_interval_overlap",
    "sim_sparse_impact_topk", "dedup_lsh_recall_eval",
    # r13: the production capped-default deployment geometries +
    # SemDeDup
    "dedup_minhash_scale_capped", "dedup_embedding_scale_capped",
    "curation_semdedup",
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump(out_dir: str, names: list) -> None:
    """Write OUT_DIR/NAME.txt for each name, at the bench's scale."""
    unknown = [n for n in names if n not in QUERIES and n not in EXTRA_OPS]
    if unknown or not names:
        raise SystemExit(
            f"dump_plans: unknown names {unknown}" if unknown else __doc__
        )
    sf_dir, cpus, _, _ = settings()
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(
        app_name="dump-plans", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    for name in names:
        builder = EXTRA_OPS.get(name) or QUERIES[name].spark
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(_plan(builder(spark, sf_dir)))
        print(f"wrote {path}")
        release_caches()
    spark.stop()


def main(sf: str = "/root/testdata/sf0.01") -> None:
    spark = build_session(master="local[8]", shuffle_partitions=16)
    out = [
        "# PLANS — physical plans of headline queries (sf0.01, local[8])",
        "",
        "Generated by `python tools/dump_plans.py`. What to look for is noted per query;",
        "`tests/test_plan_shape.py` asserts the load-bearing properties.",
        "",
    ]
    #: queries whose final plan is intentionally opaque, with the reason
    NOTES = {
        "graph_pagerank": (
            "Plan is `Scan ExistingRDD` by design: the 8th (final) power-iteration round sits behind the eager `localCheckpoint` that truncates "
            "the iterative lineage (the discipline that keeps 100-round "
            "runs plannable). Per-iteration shape: one shuffle keyed by "
            "target vertex + broadcast scalars; partition invariance "
            "pinned in tests/test_pagerank_fixed.py, no per-iteration "
            "driver actions in tests/test_pagerank.py::"
            "test_pagerank_no_per_iteration_driver_actions."
        ),
        "graph_bfs_hops": (
            "Same checkpoint truncation as graph_pagerank; "
            "frontier-based rounds (only newly-settled vertices "
            "propagate), all-BIGINT labels, pinned in "
            "tests/test_pagerank_fixed.py."
        ),
        "graph_cc_converged": (
            "Final labels join a checkpointed star forest (r9 "
            "deployment wrapper): round loop runs at construction time "
            "until a round changes zero edges (count gate + exceptAll "
            "probe), so like the other iterative queries the recorded "
            "plan is the post-checkpoint label join, not the loop; "
            "convergence behavior pinned in tests/test_pagerank.py."
        ),
    }
    for name in HEAD:
        lines = _plan(QUERIES[name].spark(spark, sf)).splitlines()
        tree_end = next(i for i, l in enumerate(lines) if l.strip() == "" and i > 2)
        detail = [
            l
            for l in lines[tree_end:]
            if any(
                k in l
                for k in (
                    "PushedFilters", "ReadSchema", "Arguments: hashpartitioning",
                    "Location:", "Keys [",
                )
            )
        ]
        note = [NOTES[name], ""] if name in NOTES else []
        out += [f"## {name}", "", *note, "```", *lines[:tree_end], "", *detail[:12], "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        dump(sys.argv[1], sys.argv[2:])
    else:
        main()
