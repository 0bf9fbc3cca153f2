"""Physical-plan audit: print the formatted plan of each headline query
plus the scale-relevant facts a reviewer checks (pushed filters, read
schema, join strategies, exchange count) to stdout as markdown:

    python scripts/plan_audit.py > plans.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Headline queries: one per operator family, chosen where the plan
#: shape IS the point.
HEADLINE = [
    "tumbling_signup_count",      # partial+final agg around one shuffle
    "session_windows_per_user",   # session merge inside one keyed agg
    "pricing_summary",            # TPC-H Q1: pushdown + codegen agg
    "regional_revenue",           # multi-join: dimension broadcasts
    "asof_latest_order_per_event",  # union-merge single-shuffle as-of
    "dedup_minhash_lsh",          # staged projections + banded bucket join
    "ann_topk_ivf",               # broadcast centroids + cell equi-join
    "winnowing_shared_pairs",     # inverted index + df-cut
    "curation_audit",             # five-stage composition, one doc_id join
    "multimodal_real_decode",     # Arrow mapInPandas over binary payloads
    "ngram_novelty",              # count-only gram join (no self-join)
    "weighted_reservoir_sample",  # TakeOrderedAndProject top-k, no total sort
    "zorder_locality_stats",      # codegen'd Morton key + one agg exchange
    "passage_dedup",              # explode + partial-min groupBy, no self-join
    "semdedup_flags",             # cell-keyed self-join bounded by cell size
    "kmeans_clusters",            # per-round broadcast-k + partial-sum recompute
    "value_outliers_mad",         # two chained two-phase selections, no hot-key sort
    "curriculum_buckets",         # bucket-offset global rank + integer ntile
    "quality_quartiles",          # multi-rank histogram selection, shared resolve
    "sequence_packing",           # two-phase running sum, (source,bucket) window
    "sorted_neighborhood_pairs",  # range-partitioned leads + bounded heads patch
    "pack_layout",                # un-keyed two-phase prefix sum, integral div packs
    "bigram_logprob_score",       # in-row pair extraction, two count joins, 1-row vocab
    "peak_concurrent_sessions",   # session agg -> endpoint sweep on two-phase sum
    "lsh_recall_audit",           # two full dedup pipelines, full-outer pair compare
    "count_trigger_cumulative",   # un-keyed rank+sum, 1-row broadcast prefixes
    "repeated_ngram_flags",       # co-partitioned gram confirm, no self-join
    "scd2_order_status_history",  # lag+lead over ONE customer-partitioned sort
    "pagerank_copurchase",        # per-round: broadcast ranks, edges never move
    "contrastive_triplets",       # bucket-join negatives + two anti joins
    "feature_drift_psi",          # one scan, 40-row spine, quantized terms
    "similar_revenue_weeks",      # spine windows + 1-row pattern broadcast
    "host_blocklist_audit",       # regexp host census + broadcast blocklist join
]


def main() -> None:
    from flink_start_spark.plans import QUERIES
    from flink_start_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    print("# PLANS — physical-plan audit of headline queries\n")
    print(
        "Printed by `python scripts/plan_audit.py`.\n"
        "For each headline query: the scale-relevant plan facts, then the\n"
        "formatted plan. The pytest twin of this audit is\n"
        "`tests/test_plan_quality.py` (nested-loop ban, exchange budget,\n"
        "column pruning, single-scan persist rule).\n"
    )
    from flink_start_spark import cache

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in HEADLINE:
        # cache-ownership contract (cache.py): iterative headliners run
        # eager jobs during plan build and register persists; without a
        # per-query release, leftover caches rewrite LATER queries'
        # plans into InMemoryTableScan and the audit reports wrong
        # exchange/pushdown facts
        cache.release()
        spark.catalog.clearCache()
        df = QUERIES[name].spark(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        formatted = df._jdf.queryExecution().explainString(mode)
        n_ex = len(set(re.findall(r"Exchange hashpartitioning[^\n]*plan_id=(\d+)", plan)))
        joins = sorted(set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin))", plan)))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        print(f"\n## {name}\n")
        print(f"- distinct hash exchanges: {n_ex}")
        print(f"- join strategies: {joins or 'none'}")
        if pushed:
            print(f"- pushed filters: {[p for p in pushed if p][:3]}")
        print("\n```")
        # formatted explain, trimmed to the operator tree (drop the
        # verbose per-node field dump for readability)
        tree = formatted.split("\n\n")[0]
        print(tree)
        print("```")


if __name__ == "__main__":
    main()
