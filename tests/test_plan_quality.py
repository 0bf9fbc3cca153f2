"""Plan-quality sweep: every catalog query must have a scale-safe
physical plan — no nested-loop/cartesian joins, bounded shuffle count.

This is the 100 TB gate in test form: a correct-but-quadratic plan
passes the oracle at sf0.01 and dies on a cluster; this sweep fails it
in CI instead.
"""

from __future__ import annotations

import re

import pytest

from flink_start_spark.plans import QUERIES

from tests.conftest import SF_SMOKE

# Queries where a small broadcast nested-loop is expected and bounded:
# brute-force ANN does an intentional broadcast cross join of a FIXED
# 10-query set against candidates (|Q| x |N|, linear in N); IVF crosses
# the query set with the 16 broadcast centroids (|Q| x n_cells), as do
# the IVF-based SemDeDup clustering step and every k-means assignment
# round (the k-row centroid table is the broadcast side by design —
# linear in N, collapsed map-side by the follow-up min_by aggregate).
_ALLOWED_NESTED_LOOP = {
    "ann_cosine_topk",
    "ann_topk_ivf",
    "semdedup_flags",
    # exact stage = fixed 256-row md5-ranked sample broadcast against
    # the corpus (linear in N, smaller-id condition in the join), plus
    # the semdedup pipeline's own allowlisted centroid broadcasts
    "semdedup_recall_audit",
    # exact stage = fixed 128-row md5-ranked sample broadcast against
    # the corpus (linear in N, non-equi self-pair exclusion in the
    # join condition)
    "embedding_lsh_recall_audit",
    "kmeans_clusters",
    "knn_label_purity",
    # 1-row corpus-total broadcasts (crossJoin of global count rows)
    "unigram_logprob_score",
    "bigram_logprob_score",
    "source_token_kl",
    "pmi_collocations",
    # un-keyed two-phase rank/sum (operators/selection.py): the global
    # stats row and the bucket-histogram prefix table flow back as
    # 1-row broadcasts
    "count_trigger_cumulative",
    "count_trigger_buckets",
    "pack_layout",
    # un-keyed interval sweep: two-phase running sum + 1-row peak
    "peak_concurrent_sessions",
    # 1-row mixture-normalizer broadcast (crossJoin of the totals row)
    "source_mixture_weights",
    # 1-row (total, count) broadcast for the cross-multiplied
    # above-average filter (TPC-H Q22 shape)
    "dormant_customer_balance",
    # BPE encode: 6 chained 1-row merge-pair broadcasts (one per
    # learned merge — the same bounded class as the totals rows above)
    "bpe_token_stats",
    # 1-row bucket-count broadcast (ceil(N/16)) for the negative-
    # sampling bucket address arithmetic
    "contrastive_triplets",
    # 1-row query-pattern broadcast (the latest week's z-vector)
    "similar_revenue_weeks",
    # 1-row heads-array broadcast ((w-1) x shuffle-partitions structs,
    # bounded by cluster config) patching range-boundary leads in the
    # scale-safe sorted-neighborhood pass (global_sorted_leads)
    "sorted_neighborhood_pairs",
}

# Shuffle budget per query, counted as DISTINCT EXCHANGE SHAPES
# (partitioning text with expression/plan ids stripped — see
# test_plan_is_scale_safe). Multi-join pipelines legitimately need one
# per non-broadcast join + aggregation; the two-phase selection
# queries' extra bounded-relation exchanges dedupe to <=7 shapes.
_MAX_EXCHANGES = 8

# Iterative queries (driver-controlled rounds) print the whole multi-
# round lineage in one plan; their per-ROUND cost is the bounded
# quantity (one join + one agg for components, one assignment + one
# quantized-mean recompute for Lloyd's — asserted by the operators'
# design), so the single-plan exchange budget doesn't apply.
_ITERATIVE = {
    "dedup_clusters",
    "kmeans_clusters",
    "cluster_cap_sample",
    "leakage_safe_split",
    # K driver-controlled rounds, each one edge⋈rank join + one agg;
    # the printed plan is the last round's (checkpoint leaves), but the
    # budget is per-ROUND by design (operators/graph.py)
    "pagerank_copurchase",
    # 6 training rounds + 6 chained encode folds over checkpoint leaves
    "bpe_token_stats",
}


# Columns whose domain is O(10) values at ANY corpus size: a Window
# whose whole partition spec is drawn from these (or is empty = global)
# funnels an unbounded share of the corpus through one task — the
# single-reducer hazard operators/selection.py exists to remove.
_LOW_CARD_COLS = {
    "event_type",
    "lang",
    "source",
    "status",
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "c_mktsegment",
    "r_name",
}

# Disclosed exceptions: windows over relations whose size is bounded by
# something OTHER than the corpus (so a single task is fine at 100 TB).
# Machine-checked membership replaces comment-only caveats (round-3
# ADVICE): any new low-cardinality/global window fails the sweep unless
# justified here.
_ALLOWED_BOUNDED_WINDOW = {
    # calendar-spine windows: O(days-in-range) rows, set by the date
    # span, not the corpus
    "daily_revenue_gapfill": "LOCF over generated calendar spine",
    "revenue_anomaly_days": "7-day rolling z over daily rollup spine",
    "similar_revenue_weeks": "7-day windows over daily rollup spine",
    "daily_revenue_moving_avg": "7-day window over daily rollup spine",
    "monthly_revenue_trend": "regression over monthly rollup spine",
    "forecast_revenue_change": "delta over monthly rollup spine",
    # k-row seeding/centroid relations (same family as the allowlisted
    # bounded broadcasts above)
    "ann_topk_ivf": "kmeans seeding over k*oversample sample rows",
    "kmeans_clusters": "kmeans seeding over k*oversample sample rows",
    "semdedup_flags": "kmeans seeding over k*oversample sample rows",
}


def _window_specs(plan: str):
    """Yield (kind, partition_cols, has_order) for every Window-family
    node in a physical plan string. Bracket groups never nest (window
    specs use parens inside), so a flat regex is exact."""
    for line in plan.splitlines():
        s = line.strip().lstrip("+-*: ")
        m = re.match(r"(Window|WindowGroupLimit)\s+(.*)", s)
        if not m:
            continue
        groups = re.findall(r"\[([^\[\]]*)\]", m.group(2))
        if not groups:
            continue
        if m.group(1) == "WindowGroupLimit":
            # [partition], [order] or [order] alone
            part = groups[0] if len(groups) > 1 else ""
            order = groups[-1]
        elif len(groups) >= 3:
            part, order = groups[1], groups[2]
        else:  # [exprs], [partition-or-order]
            spec = groups[1] if len(groups) > 1 else ""
            if " ASC" in spec or " DESC" in spec:
                part, order = "", spec
            else:
                part, order = spec, ""
        cols = [
            t.strip().split("#")[0]
            for t in part.split(",")
            if t.strip()
        ]
        yield m.group(1), cols, bool(order)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_low_cardinality_window_partitions(spark, name):
    """No catalog query may sort (or even collect) a low-cardinality
    window partition: partition specs must include at least one
    unbounded-cardinality column, unless the query is a disclosed
    bounded exception or the window runs after a rank-pushdown /
    top-k limit (WindowGroupLimit / TakeOrderedAndProject caps its
    input at k rows per partition)."""
    if name in _ALLOWED_BOUNDED_WINDOW:
        pytest.skip(_ALLOWED_BOUNDED_WINDOW[name])
    df = QUERIES[name].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    has_take_ordered = "TakeOrderedAndProject" in plan
    specs = list(_window_specs(plan))
    # rank-pushdown exemptions must match the SPECIFIC partition spec:
    # a WindowGroupLimit on one window must not grandfather an
    # unrelated hot-key window elsewhere in the same plan
    limited = {tuple(cols) for kind, cols, _ in specs if kind == "WindowGroupLimit"}
    bad = []
    for kind, cols, has_order in specs:
        if kind != "Window":
            continue
        low_card = (not cols) or all(c in _LOW_CARD_COLS for c in cols)
        if not low_card:
            continue
        if tuple(cols) in limited:
            continue  # per-partition top-k pushdown bounds this window
        if not cols and has_take_ordered:
            continue  # global rank reconstructed over a k-row limit
        bad.append((cols, has_order))
    assert not bad, (name, bad)


# Queries whose operators persist their base projection: the optimized
# plan must read the input ONLY through InMemoryRelation leaves — a bare
# parquet `Relation` means some DataFrame reference re-evaluates the
# projection (and re-scans the file) instead of hitting the cache.
_SINGLE_SCAN = {
    "ann_topk_lsh",
    "ann_topk_rp_lsh",
    "char_ngram_jaccard_pairs",
    "dedup_minhash_lsh",
    "embedding_near_dup_lsh",
    "embedding_near_dup_rp",
    "lsh_recall_audit",
    "simhash_near_dups",
}


@pytest.mark.parametrize("name", sorted(_SINGLE_SCAN))
def test_persisted_projection_single_scan(spark, name):
    # start cold, as test_plan_is_scale_safe does: a cache an earlier test
    # left behind can substitute for part of this plan
    from flink_start_spark import cache as _c

    _c.release()
    spark.catalog.clearCache()
    try:
        df = QUERIES[name].spark(spark, SF_SMOKE)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        _c.release()
    # a bare (Local)Relation leaf; not InMemoryRelation, and not the
    # HashedRelationBroadcastMode of a broadcast inside a cached plan
    uncached = [
        line for line in opt.splitlines() if re.search(r"(?<!InMemory)Relation\b", line)
    ]
    assert not uncached and opt.count("InMemoryRelation") > 0, (name, uncached)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_is_scale_safe(spark, name):
    # plan-id counting is cache-state dependent (a materialized cache
    # prints one shared subtree; an unmaterialized one compiles per
    # branch) — start from a deterministic cold cache so the budget
    # means the same thing in any test order
    from flink_start_spark import cache as _c

    _c.release()
    spark.catalog.clearCache()
    df = QUERIES[name].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _c.release()
    spark.catalog.clearCache()
    if name not in _ALLOWED_NESTED_LOOP:
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Python on the hot path is Arrow-vectorized ONLY: row-at-a-time
    # Python UDFs (BatchEvalPython) are banned outright — 10-100x slower
    # than the codegen'd/Arrow paths, and nothing in the catalog needs
    # one. (ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas are the
    # allowed vectorized idioms.)
    assert "BatchEvalPython" not in plan, name
    # count DISTINCT exchange SHAPES (partitioning text with expr ids
    # and plan ids stripped): plan_id counting is unstable — an
    # UNMATERIALIZED cached subtree compiles one physical instance per
    # referencing branch, each with fresh plan_ids, so the same logical
    # topology counts differently depending on cache state / test
    # order. Shape counting is a property of the logical plan alone.
    shapes = {
        re.sub(r"#\d+L?|plan_id=\d+", "", line)
        for line in re.findall(r"Exchange hashpartitioning[^\n]*", plan)
    }
    if name not in _ITERATIVE:
        assert len(shapes) <= _MAX_EXCHANGES, (name, len(shapes), sorted(shapes)[:4])
    # every parquet scan must prune columns: reading all 5+ columns of a
    # table for a 2-column query is a bug; allow scans that genuinely
    # need wide rows (documents text pipelines read doc_id+text of 5).
    for line in plan.splitlines():
        if "FileScan parquet" in line and "ReadSchema" in line:
            schema = line.split("ReadSchema:")[1]
            n_cols = schema.count(":")
            assert n_cols <= 8, f"{name}: unpruned scan {schema[:120]}"
