"""Regenerate PLANS.md: the actual physical plans of the headline queries
with the scale-relevant properties called out.  Run from the repo root:

    python scripts/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    (
        "q_bm25_serve",
        "serving fold: df partials + corpus scalars broadcast one-row; TakeOrderedAndProject top-k",
    ),
    (
        "q_bm25_prf",
        "two-pass RM3: feedback docs + mined terms broadcast; both passes postings-pruned",
    ),
    (
        "q_bm25_facets",
        "scored relation postings-pruned; facet rollup one keyed agg",
    ),
    (
        "q_bm25_snippets",
        "k ranked rows broadcast into ONE corpus read; snippet map-side",
    ),
    (
        "q_doc_vector",
        "forward point read: fbucket partition filter + doc_id row-group skip; zero joins",
    ),
    (
        "q_bm25_mlt_served",
        "source vector one forward bucket; weighted postings probe broadcast; reads bounded by source vocabulary",
    ),
    (
        "q_bm25_serve_deleted",
        "tombstones broadcast anti-join; negative partials fold inside the same aggregates",
    ),
    (
        "q_bm25_serve_upserted",
        "versioned cutoff join keeps only each doc's latest version; replace == rebuild by hash",
    ),
    (
        "q_bm25_serve_salted",
        "salted sub-buckets all partition-pruned; word equality keeps scores exact",
    ),
    (
        "q_bm25_batch_served",
        "one pruned postings pass for ALL queries; (query,term) broadcast; per-query k-cut WindowGroupLimit",
    ),
    ("q_tf", "one hash-agg shuffle; explode+filter fused map-side"),
    ("q_topk_per_doc", "WindowGroupLimit pushes the k-cut below the sort"),
    ("q_df", "re-aggregates the TF relation; partial counts map-side"),
    ("q_bm25_rank", "broadcast idf + broadcast avgdl; TakeOrderedAndProject top-k"),
    (
        "q_hybrid_rrf",
        "both rankers keep TakeOrderedAndProject; RRF fuses <=2*pool rows",
    ),
    (
        "q_cjk_fmm",
        "translate fused into the scan; one Arrow mapInPandas stage, no shuffle",
    ),
    (
        "q_contrastive_triplets",
        "blocked theta-join pairs; argmax = ONE conditional struct-max agg",
    ),
    (
        "q_ivf_topk",
        "centroid literals map-side; cell filter = partition pruning shape",
    ),
    (
        "q_ivf_stats_churn",
        "drift gauge: ONE aggregate over the visible cells (tombstone fold joined in-plan); no collect of vector data",
    ),
    (
        "q_bm25_serve_snapshot",
        "pinned-version serve: same bucket-partition-pruned shape as the live serve, rooted at the frozen tree",
    ),
    (
        "q_late_interaction",
        "QxD query literals, no join/fanout; MaxSim = one groupBy",
    ),
    (
        "q_ann_filtered",
        "label predicate pushed to the scan below the top-k heap",
    ),
    (
        "q_ccnet_buckets",
        "min-rank = strictly-before + 1: keyed join on the distinct-value cumsum, NO row window",
    ),
    (
        "q_quality_gate",
        "atom-spread rank: distinct-value cumsum + sub-blocked tie windows, no whole-atom sort",
    ),
    (
        "q_quality_gate_by_lang",
        "grouped atom-spread: EVERY window carries lang as partition prefix",
    ),
    (
        "q_ccnet_by_lang",
        "per-language LM co-keyed on (lang, w1, w2); grouped min-rank join",
    ),
    (
        "q_line_dedup",
        "ONE line-keyed shuffle (min-struct agg IS the survivor); doc-keyed reassembly",
    ),
    (
        "q_strip_markup",
        "pure map-side regexp chain — zero shuffles, whole-stage codegen",
    ),
    (
        "q_web_intake",
        "composed intake: line dedup checkpointed ONCE; every window partitioned",
    ),
    (
        "q_c4_line_filter",
        "C4 line/page rules: one map-side projection + filter, zero Exchange",
    ),
    (
        "q_gopher_filter",
        "ONE corpus read (lazy checkpoint) replayed by all 4 branches; "
        "flags map-side; unit + (n,gram) counts corpus-linear",
    ),
    (
        "q_gopher_ngram_fracs",
        "single scan + single tokenization: checkpointed token projection "
        "replayed per width; (doc,n,hash,len)-keyed count",
    ),
    (
        "q_lm_score_backoff",
        "three co-keyed LEFT joins (pair/context/group) + one agg; "
        "streaming-legal frozen-model scoring",
    ),
    (
        "q_edit_distance",
        "Ed-Join prefix probe (q·d+1 rarest grams) into the full positional-gram index",
    ),
    (
        "q_knn_graph",
        "blocked pairs; WindowGroupLimit pushes the per-anchor k-cut",
    ),
    (
        "q_mutual_knn_clusters",
        "mutuality = one count=2 groupBy; pointer-jump components",
    ),
    ("q_dedup_minhash", "wide min-agg signature; banded equi-join; pruned verify"),
    ("q_ann_cosine_topk", "map-side scoring, no shuffle before the top-k heap"),
    ("q_tpch_q1", "decimal partial aggs; scan-level predicate pushdown"),
    ("q_mktsegment_revenue", "dimension side broadcast — no fact shuffle for the join"),
    ("q_asof_join", "as-of via union+window: ONE exchange, no range cross-join"),
    ("q_sessionize", "lag + cumsum windows share a single exchange on user_id"),
    (
        "q_small_qty_revenue",
        "correlated subquery DECORRELATED: one agg over lineitem, joined back",
    ),
    ("q_revenue_by_nation", "large-large shuffle join + broadcast dim chain"),
    ("q_pos_filter", "nature CASE fused into the scan stage; one agg exchange"),
    ("q_top30_lines", "per-doc window (hash on doc_id) — no single-reducer sort"),
    ("q_training_shuffle", "ONE hash exchange + in-shard rank; no global range sort"),
    ("q_bpe_encode", "merge replaces on the vocab relation; corpus pays one word-count shuffle"),
    ("q_forecast_revenue", "Q6 shape: every predicate pushed to the scan; 1-row exchange"),
    ("q_late_ship_priority", "EXISTS as LEFT SEMI — no fan-out before the count"),
    ("q_promo_revenue", "conditional-sum ratio over a broadcast part join"),
    ("q_brand_revenue", "disjunctive predicate evaluated post-broadcast-join, single scan"),
    ("q_corpus_clean", "quality codegen + LSH dedup + broadcast anti-join, one plan"),
    ("q_embed_quantize", "pure map-side higher-order exprs — zero shuffles"),
    (
        "q_semantic_dedup",
        "cluster+block-grid equi-join (kG² tasks, AQE-coalesce-pinned); norms map-side",
    ),
    (
        "q_remove_dup_spans",
        "gram-df + offset anti-join; doc_id-keyed ordered reassembly",
    ),
    ("q_hll_distinct", "constant-state sketch: 64-group agg, map-side partial max"),
    ("q_kmv_quantiles", "bottom-k heap (TakeOrderedAndProject); 1-row finalizer"),
    ("q_kmv_by_lang", "WindowGroupLimit k-cut per group; one agg for all groups"),
    ("q_split_join_revenue", "hot keys salted, cold plain; hot set broadcast <= n/threshold"),
    ("q_winsorize", "KMV bounds as one broadcast 2-value row; clip map-side"),
    ("q_bm25_batch", "query terms broadcast into postings; per-query WindowGroupLimit"),
    ("q_ann_batch_topk", "broadcast query fanout over one scan; WindowGroupLimit k-cut"),
    ("q_bloom_filter", "16-slot bit_or agg; filter broadcasts as 128-byte literal"),
    ("q_cms_sketch", "4x256 exact counters; weighted build, no row re-expansion"),
    ("q_phrase_search", "postings pre-filtered to phrase terms before the position join"),
    ("q_repetition_scores", "bigram metrics map-side; top-word via O(tokens) TF shuffle"),
    ("q_tpch_q4", "EXISTS as one left-semi; quarter filter below the shuffle"),
    ("q_tpch_q5", "region/nation/supplier broadcast; ONE fact-fact shuffle chain"),
    ("q_tpch_q6", "pure scan-agg: all predicates pushed to parquet, no join"),
    ("q_tpch_q10", "returned-revenue top-20 as TakeOrderedAndProject, no global sort"),
    ("q_tpch_q14", "conditional-sum ratio over the unhinted (AQE) part join"),
    ("q_tpch_q17", "hand-decorrelated quantity cap: part slice -> per-part agg -> join-back"),
    ("q_tpch_q19", "part-only OR factored below the join; mixed predicate post-join"),
    ("q_tpch_q18", "HAVING agg runs FIRST; surviving orderkeys broadcast back"),
    ("q_tpch_q21", "EXISTS/NOT-EXISTS collapsed to one per-order aggregation"),
    ("q_tpch_q22", "1-row stats broadcast; inactivity as LEFT ANTI probe"),
    (
        "q_decontaminate",
        "eval grams + overlap both broadcast; train side shuffles only for its own aggs",
    ),
    ("q_bpe_pair_counts", "map-side pair generation; ONE partial-agg count shuffle"),
    ("q_kmeans", "centroid literals in codegen — assignment is shuffle-free map work"),
    (
        "q_curation_pipeline",
        "clean ∧ ¬contaminated → mix → pack in ONE plan; drop-sets broadcast anti-joins",
    ),
    (
        "q_dup_span_fraction",
        "positional grams map-side; gram-df + offset-coverage aggs, map-side partials",
    ),
    ("q_lm_perplexity", "model fit = two count aggs; scoring joins co-keyed on (w1,w2)"),
    (
        "q_winnow_fps",
        "window-min selection inside array columns — ZERO exchanges before the explode",
    ),
    (
        "q_winnow_pairs",
        "boilerplate fps pruned pre-self-join; buckets bounded at cap²",
    ),
    ("q_textrank", "share relation normalized once; per-round keyed join + agg, O(E)"),
    (
        "q_dq_summary",
        "fused same-table checks = one agg pass; scalar-only union legs",
    ),
    ("q_dq_null_profile", "ALL per-column null counters in ONE map-side agg pass"),
    (
        "q_token_budget_sample",
        "two-phase cumsum: block window of ~buckets rows; doc window only in the boundary block",
    ),
    (
        "q_leakage_safe_split",
        "cluster relation duplicate-fraction-sized, keyed left join; split stays a projection",
    ),
    ("q_key_skew", "TakeOrderedAndProject top-k; window spans top_k rows only"),
    (
        "q_cohort_retention",
        "first-event agg + co-keyed log join; nothing user-level broadcast",
    ),
    ("q_funnel", "ONE conditional-min agg per user; no per-step self-joins"),
    (
        "q_cluster_reps",
        "argmax window partitioned by cluster — partition size = cluster population",
    ),
    (
        "q_quality_classifier",
        "GD weights as codegen literals; scoring is a pure projection",
    ),
    (
        "q_classifier_metrics",
        "AUC rank window over the bounded distinct-score relation",
    ),
    ("q_drift_psi", "map-side binning; one count agg per side; 6-row window"),
    (
        "q_dataset_diff",
        "sides reduced to (key, digest) BEFORE the full-outer join",
    ),
    (
        "q_curation_report",
        "drop-sets as keyed flag joins; quality map-side; one plan",
    ),
    (
        "q_winnow_spans",
        "fp relation semi-join-pruned to pair docs before the position join",
    ),
    ("q_stratified_topk", "hash-rank window per group — one shuffle on the stratum"),
    ("q_period_growth", "lag window on the aggregated (type, period) relation"),
    ("q_group_percentiles", "sort-based exact percentile, one group-key shuffle"),
    (
        "q_pca_top_component",
        "dot projected once per row; one d-sum agg per round (no covariance)",
    ),
    (
        "q_silhouette",
        "final-centroid literals; scoring a projection + one groupBy",
    ),
]

INTERESTING = re.compile(
    r"Exchange|BroadcastHashJoin|SortMergeJoin|HashAggregate|TakeOrderedAndProject"
    r"|WindowGroupLimit|PushedFilters|PartitionFilters|ReadSchema|Generate|Window\b"
    r"|BroadcastExchange|Scan parquet|AdaptiveSparkPlan"
)


def main() -> None:
    import __spark_entry__ as entrymod
    from flink_bm25_spark.plans import explain_str
    from flink_bm25_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    qs = entrymod.queries()

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `scripts/plan_audit.py` at `{sf_dir}`. Lines are the",
        "scale-relevant operators extracted from `explain('formatted')`;",
        "`tests/test_plan_shape.py` asserts the load-bearing properties stay true.",
        "",
    ]
    for name, why in AUDITED:
        df = qs[name](spark, sf_dir)
        plan = explain_str(df, "formatted")
        # exprIds (``fbucket#1649``) depend on how many plans the
        # session analyzed before this one; strip them so two runs of
        # one tree diff clean.  PushedFilters name source columns (no
        # exprIds) and print literals verbatim (``Brand#23``): keep them.
        lines = [
            line.rstrip()
            if line.startswith("PushedFilters:")
            else re.sub(r"#\d+", "", line.rstrip())
            for line in plan.splitlines()
            if INTERESTING.search(line)
        ]
        out += [f"## {name}", "", f"*{why}*", "", "```"]
        out += lines[:30]
        out += ["```", ""]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
