"""Dump `.explain(formatted)` physical plans for the headline queries into
BENCH/PLANS.md — the reviewable evidence that filters reach the parquet
scan (PushedFilters), small sides broadcast, aggregations are
partial+final, and the validation hot path stays inside whole-stage
codegen with no Python eval nodes.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

HEADLINE = [
    "validate_lineitem_keywords",
    "images_flagship_verdicts",
    "uniqueness_orders_custkey",
    "referential_dangling_partkeys",
    "referential_bloom_dangling",
    "tpch_q1_pricing_summary",
    "join_revenue_by_nation",
    "drift_ks_psi_orders",
    "dedup_minhash_lsh",
    "dedup_exact_substring",
    "decontamination",
    "ann_lsh_topk",
    "sample_stratified_orders",
    "infer_json_paths_orders",
    "stats_profile_by_priority",
    "violation_examples_orders",
    "sampled_validation_orders",
    "referential_coverage_partkeys",
    "text_repetition_profile",
    "pii_scan_documents",
    "pack_documents_bins",
    "corpus_mix_documents",
    "table_diff_orders",
    "asof_user_tier_events",
    "sessionize_events",
    "budget_select_documents",
    "expectations_orders",
    "aggregate_consistency_orders",
    "vocab_stats_documents",
    "images_jpeg_header_conformance",
    "images_webp_header_conformance",
    "images_health_profile",
    "referential_bucketed_dangling",
]

CALLOUTS = {
    "validate_lineitem_keywords": "whole-stage codegen over the compiled "
    "check tree; no BatchEvalPython/ArrowEvalPython in the predicate path",
    "uniqueness_orders_custkey": "one exchange for the count: partial count "
    "on the map side, final count and n > 1 filter per key (the other "
    "Exchange is the query's ORDER BY)",
    "referential_dangling_partkeys": "BroadcastHashJoin LeftAnti — the dim "
    "key projection broadcasts as scanned, no aggregate or exchange",
    "referential_bloom_dangling": "distributed bit_or bitmap build + "
    "broadcast probes; exact SMJ anti-join only on bloom survivors",
    "drift_ks_psi_orders": "one (group, bucket) sketch counts all rows and "
    "baseline rows together; its subtree shows twice here (per-group scores "
    "and the pooled one-row broadcast), AQE runs its exchange once and "
    "reuses it; no SortMergeJoin",
    "tpch_q1_pricing_summary": "PushedFilters + partial/final HashAggregate",
    "join_revenue_by_nation": "broadcast dims, shuffle only on the fact agg",
    "dedup_minhash_lsh": "single ArrowEvalPython/MapInPandas stage for "
    "signatures; narrow (id, band, bh) bucket self-join, no cartesian",
    "decontamination": "benchmark window set broadcasts; train side "
    "streams through the probe with no shuffle on the window key",
    "ann_lsh_topk": "query side broadcast; no BroadcastNestedLoopJoin",
    "table_diff_orders": "merkle screen = partial+final HashAggregate per "
    "side; exceptAll only over dirty-bucket rows",
    "asof_user_tier_events": "union-tag + window partitioned by "
    "(key, time bucket) — no SinglePartition, no cartesian",
    "sessionize_events": "native session_window aggregate over events; the "
    "only row_number window runs on the aggregated session rows",
    "budget_select_documents": "grouped two-stage prefix sum — windows "
    "partition by (source, bucket), offsets join back broadcast",
    "expectations_orders": "the whole 9-expectation suite is ONE "
    "partial+final HashAggregate over one scan, no joins",
    "aggregate_consistency_orders": "partial-agg'd child rollup + one "
    "keyed join; statuses derive in the same projection",
    "vocab_stats_documents": "explode + partial-agg'd count, top-k as "
    "TakeOrderedAndProject, summary reads the persisted counted frame",
    "images_jpeg_header_conformance": "the T.81 marker walk is one "
    "Project expression (bounded aggregate over a hex projection) — no "
    "Python eval, no extra Exchange beyond the final groupBy",
    "images_webp_header_conformance": "RIFF chunk walk as one Project "
    "expression; the crafted VP8X/lossy/non-RIFF rows ride the same "
    "single agg",
    "images_health_profile": "format-gated header structs materialized "
    "once, decode flag carried row-for-row through ONE mapInPandas (no "
    "id join), single partial+final agg on fmt",
    "referential_bucketed_dangling": "SortMergeJoin LeftAnti over two "
    "bucketed scans with ZERO Exchange nodes — the layout write paid "
    "the shuffle once",
    "sample_stratified_orders": "the sampling itself is Filter-on-Scan "
    "(no shuffle); the only Exchange is the query wrapper's ORDER BY for "
    "oracle comparison",
    "infer_json_paths_orders": "parse_json + variant_explode Generate, "
    "pure Catalyst (no Python eval); partial+final HashAggregate on the "
    "(path, type) key",
    "stats_profile_by_priority": "keyed one-pass profile: single scan, "
    "partial+final HashAggregate on the partition key, stack on the "
    "aggregate output only",
    "violation_examples_orders": "two-phase top-k: Sort + WindowGroupLimit "
    "Partial (k rows per path per task) below the one Exchange on the path, "
    "WindowGroupLimit Final + Window above it — pure Catalyst, no Python "
    "worker and no unbounded Window over the low-cardinality key",
    "sampled_validation_orders": "md5-bucket sample is Filter-on-Scan; one "
    "partial+final agg for the breakdown, BroadcastExchange for the 1-row "
    "totals join",
    "referential_coverage_partkeys": "join-free set-overlap: tagged Union, "
    "partial+final aggregate of three distinct-counts, no Exchange of the "
    "fact table on the key",
    "text_repetition_profile": "ONE Generate (tagged gram explode) feeding "
    "a partial+final HashAggregate on (id, n, gram); per-doc rollup + join "
    "back — linear in corpus tokens, pure Catalyst",
    "pii_scan_documents": "Filter-free Project-over-Scan; the only "
    "Exchange is the oracle ORDER BY",
    "pack_documents_bins": "two-stage distributed prefix sum: window "
    "partitioned by quantile bucket (parallel, never SinglePartition), "
    "|buckets|-row totals collect, BroadcastHashJoin of offsets",
    "corpus_mix_documents": "expansion is Generate-over-Filter-over-Scan "
    "(no shuffle, no RNG); totals pass collected once into plan literals",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from json_schema_clj_spark.queries import QUERIES

    out = [
        "# Physical plans (`.explain(formatted)`) — headline queries\n",
        f"Generated by tools/dump_plans.py at {sf_dir}; re-run after plan-"
        "affecting changes.  The plan-quality assertions live in tests "
        "(tests/test_plan_quality.py and per-operator plan audits); this "
        "file is the human-readable rendering.\n",
    ]
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        note = CALLOUTS.get(name)
        out.append(f"\n## {name}\n")
        if note:
            out.append(f"_{note}_\n")
        out.append("```\n" + plan.rstrip() + "\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
