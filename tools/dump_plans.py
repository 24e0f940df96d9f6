"""Dump formatted AQE-final physical plans, as reviewable evidence of
pushdown, pruning and join strategy, and as a before/after check that
a refactor leaves plans unchanged.

Usage::

    python tools/dump_plans.py [data_dir] [query ...] [--out PATH]

``data_dir`` defaults to ``$SPARK_GRAFT_SF_DIR`` (else sf0.1 test
data); queries default to the flagship list below and may be
``fnmatch`` patterns over ``__spark_entry__.all_queries()`` (e.g.
``'stats_*'``). Ids that change from run to run (expression, plan,
RDD, codegen and query-stage ids) are stripped, so dumps made from two
commits diff cleanly. The dump is written to ``--out``
(default ``docs/PLANS.md``, which is not committed).
"""

from __future__ import annotations

import argparse
import contextlib
import fnmatch
import io
import os
import re
import sys

sys.path.insert(0, ".")

# run-dependent ids: expression ids, exchange plan ids, checkpoint RDD
# ids and call sites, codegen stage ids, and AQE query-stage ids (the
# order in which concurrently submitted stages happen to finish)
_IDS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,\s]+"), r"RDD[] at \1"),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"(QueryStage\nOutput \[\d+\]: \[[^\n]*\]\nArguments: )\d+"),
     r"\1"),
]


def strip_ids(plan: str) -> str:
    for pat, repl in _IDS:
        plan = pat.sub(repl, plan)
    return plan

QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "where_predicate_dsl",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "asof_join_events",
    "dedup_cluster_components",
    "dedup_fuzzy_join",
    "quota_filter_batch",
    "validate_expectations",
    "substring_dedup",
    "table_diff",
    "sessionize_events",
    "rolling_window",
    "ks_drift",
    "scd2_merge",
    "text_unigram_logprob",
    "sample_temperature_mix",
    "dedup_semantic_pairs",
    "dedup_stored_index",
    "similarity_ivf_pq",
    "q17_small_quantity_revenue",
    "q21_sole_returner",
    "event_transitions",
    "graph_pagerank",
    "text_c4_clean",
    "sample_token_budget",
    "near_dedup_exact",
    "asof_nearest",
    "interval_overlap_join",
    "sessions_active_users",
    "text_logprob_buckets",
    "text_bigram_logprob",
    "text_readability",
    "text_dedup_lines",
    "stats_chi2_drift",
    "dedup_containment",
    "layout_bucketed_join",
    "search_rrf_hybrid",
    "similarity_topk_metrics",
    "sample_deterministic_shuffle",
    "stats_pass_at_k",
    "text_char_entropy",
    "stats_bt_ratings",
    "stats_bootstrap_ci",
    "stats_trimmed_mean",
    "embedding_random_projection",
    "stats_auc",
    "stats_average_precision",
    "stats_spearman",
    "stats_mad",
    "stats_cusum",
    "stats_cohens_kappa",
    "search_rank_eval",
    "sample_hard_negatives",
    "stats_quantiles",
    "stats_gini",
    "interval_merge_islands",
    "sample_preference_pairs",
    "text_collocations",
    "stats_wilcoxon",
    "stats_permutation_test",
    "dedup_shingle_profile",
    "layout_file_profile",
    "text_code_blocks",
    "stats_proportion_ci",
    "stats_tost",
    "stats_kappa_matrix",
    "stats_cuped",
    "stats_classification_report",
    "text_sentences",
    "stats_srm",
    "sample_balanced_downsample",
    "text_bpe_corpus",
    "corpus_curation_full",
    "stats_anova",
    "stats_kaplan_meier",
    "stats_log_rank",
    "grouped_winsorize",
    "dedup_cdc_corpus",
    "stats_benford",
    "stats_cronbach_alpha",
    "stats_kendall_w",
    "stats_krippendorff_alpha",
    "layout_compaction_plan",
    "sessions_bot_score",
    "text_contamination_report",
    "embedding_diversity",
    "stats_theil_sen",
    "similarity_matryoshka_recall",
    "graph_k_core",
    "stats_gains_table",
    "stats_drift_report",
    "quality_label_noise",
    "stats_ab_report",
    "sessions_resample",
    "validate_unique_key",
    "validate_foreign_key",
    "stats_kruskal_wallis",
    "stats_dunn_test",
    "similarity_knn_label",
    "stats_odds_ratio",
    # round-10 operators
    "stats_drift_report_categorical",
    "dedup_merge_minhash_index",
    "similarity_merge_ivf_index",
    "stats_mcnemar",
    "stats_cochran_q",
    "stats_mcnemar_pairs",
    "embedding_procrustes_align",
    "sample_kcenter",
    "similarity_knn_label_ivf",
    "dedup_stored_index_query",
    "text_extract_links",
    "stats_welch_anova",
    "graph_triangle_count",
    "graph_label_propagation",
    "similarity_mmr_rerank",
    "stats_fisher_exact",
    "sessions_attribution",
    "stats_mann_kendall",
    "graph_adamic_adar",
    "stats_cochran_armitage",
    "embedding_pca_whiten",
    "stats_ipw_balance",
    "quality_weak_label_vote",
    "stats_diff_in_diff",
    # round-11 operators
    "similarity_ivf_health",
    "dedup_minhash_index_health",
    "dedup_lsh_plan",
    "sample_dsir_weights",
    "stats_bayes_ab",
    "stats_ratio_metric",
    "stats_meta_analysis",
    "stats_sample_size",
    "graph_hits",
    "graph_cooccurrence",
    "similarity_topk_hamming",
    "stats_eb_rates",
    "stats_qini",
    "sessions_rfm",
    "dedup_merge_minhash_index_merge_only",
    "similarity_merge_ivf_index_merge_only",
    # round 12
    "stats_psm_match",
    "sessions_stickiness",
    "text_lang_mix",
    "similarity_recall_hamming",
    "graph_bfs_distances",
    # round 13
    "stats_psm_att",
    "graph_personalized_pagerank",
    "sessions_lness",
    "sessions_stickiness_daily",
    "stats_ols",
    "grouped_ols",
]



def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "data_dir",
        nargs="?",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("queries", nargs="*", help="names or fnmatch patterns")
    ap.add_argument("--out", default="docs/PLANS.md")
    args = ap.parse_args(argv)

    import __spark_entry__ as entry_mod
    from getl_spark import get_spark

    queries = entry_mod.all_queries()
    names = []
    for pat in args.queries or QUERIES:
        hits = sorted(fnmatch.filter(queries, pat))
        if not hits:
            print(f"UNKNOWN query {pat!r}: not in all_queries()")
            return 2
        names += [n for n in hits if n not in names]

    spark = get_spark("plan-dump")
    out = [
        f"# PLANS — physical plans ({os.path.basename(args.data_dir)})\n",
        "Generated by `python tools/dump_plans.py`. What to look for:",
        "`PushedFilters` on scans, pruned `ReadSchema`, broadcast joins",
        "for dimension tables, partial aggregation before exchanges,",
        "AQE-final plans.\n",
    ]
    for name in names:
        df = queries[name](spark, args.data_dir)
        df.collect()  # let AQE finalize
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = strip_ids(buf.getvalue().strip())
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(args.out, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {args.out} ({len(names)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
