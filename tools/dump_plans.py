#!/usr/bin/env python
"""Regenerate PLANS.md — physical-plan evidence for the headline queries
(pushdown, broadcast joins, partial aggregation, TakeOrderedAndProject).
Run: python tools/dump_plans.py

Plan-identity check: ``python tools/dump_plans.py --md5 NAME...`` prints
one JSON object mapping each registry entry to the md5 of its normalized
``explain("formatted")`` text — for the DataFrame the entry returns
(``entry``) and for every streaming DataFrame started while the entry
builds (``streams``, in start order). Run it on two trees and compare:
equal md5s mean a refactor left the plans byte-identical."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_gmall_spark.registry import registry
from flink_gmall_spark.session import get_spark

SHOW = [
    "dwd_page_views",
    "dwm_order_wide",
    "dwm_order_detail_wide",
    "dws_visitor_stats",
    "dws_product_stats",
    "ads_top_brands",
    "ads_top_sku_per_brand",
    "scale_bucketed_join",
    "text_repetition",
    "ads_customers_no_orders",
    "curation_bigram_counts",
    "curation_domain_cap",
    "dedup_chunk_first_occurrence",
    "sim_semantic_dedup",
    "curation_bpe_pair_counts",
    "scale_binned_range_join",
    "scale_partition_pruned_read",
    "scale_dynamic_partition_pruning",
    "scale_runtime_bloom_join",
    "curation_adaptive_quality_filter",
    "sim_pq_encode",
    "sim_pq_adc_topk",
    "dedup_intra_doc_chunks",
    "dedup_incremental_minhash",
    "curation_collocations_lift",
    "scale_zorder_layout",
    "scale_join_preflight",
    "curation_decontaminate_bloom",
    "curation_mixture_temperature",
    "ads_rolling_activity_7d",
    "dwd_cdc_delete_aware_agg",
    "text_hll_union_rollup",
    "text_hashed_classifier",
    "dwd_props_variant_stats",
    "curation_multimodal_dedup_pipeline",
    "curation_bpe_encode",
    "dws_keyword_stats_udtf",
    "sim_ivfpq_topk",
    "ads_user_activity_similarity",
    "ads_copurchase_pairs",
    "curation_train_val_test_split",
    "tpch_q1",
    "tpch_q5",
    "tpch_q21",
    # round 6
    "ads_rfm_segments_approx",
    "ads_part_pagerank_deep",
    "ads_part_triangles",
    "ads_pit_features",
    "ads_last_touch_attribution",
    "ads_top_event_paths",
    "ads_negative_samples",
    "curation_weighted_sample",
    "text_sparse_topk_pairs",
    # round 8
    "ads_ldiversity_export",
    "sim_hard_negatives",
    "curation_bpe_greedy_drift",
    # round 9
    "sim_hard_negatives_ivf",
    "dedup_containment_prefix",
    "sim_mrl_truncation_recall",
    "dedup_funnel_report",
    "sim_ivf_cell_balance",
    "sim_pq_distortion",
    "curation_span_corruption",
    "text_quality_threshold_sweep",
    "sim_ivf_nprobe_sweep",
    "dedup_dup_ngram_coverage",
    "curation_bpe_fertility",
    "curation_dataset_card",
    "dedup_minhash_band_tuning",
    "curation_global_shuffle",
    "curation_padding_waste",
    "sim_ann_filtered_topk",
    "sim_ivf_filtered_topk",
    "curation_chunk_overlap",
    "curation_repeat_epochs",
    "dedup_jaccard_prefix",
    "curation_pretrain_build",
    "text_classifier_roc",
    "curation_filter_funnel",
    "curation_source_overlap",
    "text_frequent_terms",
    "ads_kanon_export",
    # round-10 additions
    "dedup_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "sim_range_search",
    "sim_ivf_range_search",
    "text_token_diversity",
    "curation_curriculum_stages",
    "curation_preference_pairs",
    "dedup_winnowing_recall_report",
    # round-11 additions
    "sim_ivf_range_search_sampled",
    "dedup_winnowing_w_sweep",
    "curation_seq_len_sweep",
    "curation_dsir_weights",
    "curation_importance_resample",
    "text_bm25_topk",
    "sim_hybrid_rrf",
    "text_bm25_param_sweep",
    "scale_bucketed_postings_serve",
    "text_query_expansion_prf",
    # round-12 additions
    "curation_retrieval_triplets",
    "text_bm25_topk_logidf",
    "sim_rrf_k_sweep",
    "scale_bucketed_prf_serve",
    "scale_bucketed_triplets_serve",
    "sim_retrieval_eval",
    "text_zipf_slope",
    "curation_lm_logprob",
    "text_token_entropy",
    # round-12 session 2
    "text_phrase_search",
    "sim_rrf_weighted",
    "sim_bm25_hard_negatives",
]

INTERESTING = re.compile(
    r"FileScan|PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
    r"HashAggregate|Exchange|TakeOrderedAndProject|Window|Expand|"
    r"SelectedBucketsCount|BroadcastNestedLoopJoin|WindowGroupLimit|"
    r"PartitionFilters|dynamicpruning|might_contain|bloom_filter_agg"
)


def condense(plan: str, max_lines: int = 40) -> str:
    lines = [
        ln.rstrip()[:160]
        for ln in plan.splitlines()
        if INTERESTING.search(ln)
    ]
    if not lines:
        # eagerly-checkpointed results (pagerank_deep-style constant
        # plans) have no scan/join/agg nodes left — show the scan line
        # so the excerpt documents the shape instead of reading empty
        lines = [
            ln.rstrip()[:160]
            for ln in plan.splitlines()
            if "ExistingRDD" in ln or "Scan" in ln
        ] or ["(plan is a single checkpointed scan)"]
    return "\n".join(lines[:max_lines])


# Per-run noise in explain text: expression, plan and lambda-variable
# ids, streaming run ids, the random names of drain tables and scratch
# dirs, and the per-session tag (scratch.session_tag; 8 hex digits in
# older trees) in scratch paths and bucketed table names.
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_#"),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(mem_|/|fgs_bkt_\w+?_)[0-9a-f]{8}(?:[0-9a-f]{4})?\b"), r"\1<id>"),
)


def normalized_plan(df) -> str:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for pat, repl in _VOLATILE:
        text = pat.sub(repl, text)
    return text


def plan_md5s(spark, sf: str, names: list[str]) -> dict[str, dict]:
    """{name: {"entry": md5, "streams": [md5, ...]}} — the streams are
    captured at DataStreamWriter.start, so run_to_memory and every other
    drain an entry starts are covered."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def md5(df) -> str:
        return hashlib.md5(normalized_plan(df).encode()).hexdigest()

    streams: list[str] = []
    start = DataStreamWriter.start

    def recording_start(writer, *args, **kwargs):
        streams.append(md5(writer._df))
        return start(writer, *args, **kwargs)

    DataStreamWriter.start = recording_start
    out = {}
    try:
        for name in names:
            streams.clear()
            entry = md5(registry()[name].fn(spark, sf))
            out[name] = {"entry": entry, "streams": list(streams)}
    finally:
        DataStreamWriter.start = start
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--md5", nargs="+", metavar="NAME",
                    help="print normalized plan md5s for these entries")
    args = ap.parse_args()
    spark = get_spark("dump-plans", cpus="4")
    sf = "/root/testdata/sf0.001"
    if args.md5:
        print(json.dumps(plan_md5s(spark, sf, args.md5), indent=1))
        spark.stop()
        return
    out = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        "Condensed `executedPlan` excerpts showing the scale-relevant plan",
        "properties asserted in tests/test_plans.py: parquet pushdown +",
        "column pruning, broadcast dim joins, map-side partial aggregation,",
        "and TakeOrderedAndProject top-N. Regenerate after plan-affecting",
        "changes.",
        "",
    ]
    for name in SHOW:
        q = registry()[name]
        plan = q.fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        out += [f"## {name}", "", "```", condense(plan), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
