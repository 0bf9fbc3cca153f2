"""Cache-ownership contract (flink_start_spark/cache.py).

Operators persist intermediates that must outlive their caller's action
(both branches of a self-join read the cache within one collect), so
they cannot unpersist before returning. The contract is: every internal
persist registers via cache.track, and whoever runs the action calls
cache.release() afterwards. These tests pin that (a) release leaves the
SQL CacheManager empty after each persist-heavy catalog query, and (b)
results are correct when materialized before release (the cache is
live during the action).
"""

from __future__ import annotations

import pytest

from flink_start_spark import cache
from flink_start_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# every query whose operators call cache.track today
PERSIST_HEAVY = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "char_ngram_jaccard_pairs",
    "winnowing_shared_pairs",
    "simhash_near_dups",
    "embedding_near_dup_lsh",
    "ann_topk_lsh",
    "ann_topk_rp_lsh",
    "passage_dedup",
    "semdedup_flags",
    "kmeans_clusters",
    "vocab_oov_stats",
    # round 5: C.track-ing additions
    "pack_layout",
    "bigram_logprob_score",
    "source_token_kl",
    "peak_concurrent_sessions",
    "lsh_recall_audit",
]


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", PERSIST_HEAVY)
def test_release_empties_cache_manager(spark, name):
    cache.release()  # isolate from any earlier test's leftovers
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)

    n = QUERIES[name].spark(spark, SF_DIR).count()
    assert n >= 0
    # the query's internal persists are registered, not leaked
    assert cache.tracked_count() > 0, f"{name} no longer tracks its persists"
    cache.release()
    assert _cache_manager_empty(spark), f"{name} left caches after release()"
    assert cache.tracked_count() == 0


def test_release_is_idempotent_and_safe_without_tracked(spark):
    assert cache.release() == 0
    assert cache.release() == 0


# ---------------------------------------------------------------------------
# memo_count: the session-scoped corpus-count memo behind auto_n_cells
# (round-7 verdict item 2 — one eager count per IVF query per bench run
# became a uniform embedding-family creep; the memo keys the count on
# the CANONICALIZED analyzed plan so repeated load_table calls hit).


def test_memo_count_hits_across_fresh_loads(spark):
    from flink_start_spark.sources.catalog import load_table

    cache.clear_count_memo()
    a = load_table(spark, "embeddings", SF_DIR)
    b = load_table(spark, "embeddings", SF_DIR)  # new DataFrame, new expr ids
    n1 = cache.memo_count(a)
    before = dict(cache._COUNT_MEMO)
    n2 = cache.memo_count(b)
    assert n1 == n2 == a.count()
    # second call was a memo hit: same single entry, not a second key
    assert dict(cache._COUNT_MEMO) == before and len(before) == 1


def test_memo_count_distinguishes_filters_and_paths(spark):
    from pyspark.sql import functions as F

    from flink_start_spark.sources.catalog import load_table

    cache.clear_count_memo()
    emb = load_table(spark, "embeddings", SF_DIR)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    n_all = cache.memo_count(emb)
    n_half = cache.memo_count(half)
    assert n_half < n_all  # a filtered plan must NOT collide with its base
    assert n_half == half.count()
    docs = load_table(spark, "documents", SF_DIR)
    assert cache.memo_count(docs) == docs.count()
    assert len(cache._COUNT_MEMO) == 3
    cache.clear_count_memo()
    assert len(cache._COUNT_MEMO) == 0


def test_memo_count_distinguishes_same_schema_paths(spark):
    """Round-8 regression: a parquet relation canonicalizes to a
    schema-only string (no path), so same-schema corpora at DIFFERENT
    paths collided and the second silently reused the first's count —
    at sf1 that collapsed auto_n_cells from 156 cells to 16 and made
    the cell-bounded pair stage quadratic (semdedup 24 s vs ~6 s). The
    scanned file list is now part of the memo key."""
    from flink_start_spark.sources.catalog import load_table

    cache.clear_count_memo()
    small = load_table(spark, "embeddings", SF_DIR)
    # sf0.1 is the nearest SF where embeddings actually grows (2000
    # rows vs 500) — sf0.01 ties at 500 and couldn't catch the bug
    big = load_table(spark, "embeddings", "/root/testdata/sf0.1")
    n_small = cache.memo_count(small)
    n_big = cache.memo_count(big)
    assert n_small == small.count()
    assert n_big == big.count()
    assert n_small != n_big  # distinct corpora, distinct memo entries
    assert len(cache._COUNT_MEMO) == 2
    cache.clear_count_memo()


def test_memo_count_never_memoizes_fileless_plans(spark):
    """In-memory frames (LocalRelation) also canonicalize schema-only;
    two distinct literal frames must not poison each other — file-less
    plans are counted directly, never memoized."""
    cache.clear_count_memo()
    a = spark.createDataFrame([(i,) for i in range(5)], "vec_id long")
    b = spark.createDataFrame([(i,) for i in range(9)], "vec_id long")
    assert cache.memo_count(a) == 5
    assert cache.memo_count(b) == 9
    assert len(cache._COUNT_MEMO) == 0  # nothing memoized for either
    cache.clear_count_memo()


def test_memo_count_drops_other_sessions_entries(spark):
    """An entry keyed by a stopped SparkContext's applicationId can never
    hit again; the next insert must drop it so the memo stays bounded
    across sessions (one process can build many contexts in turn)."""
    from flink_start_spark.sources.catalog import load_table

    cache.clear_count_memo()
    stale = ("app-stopped-0000", "Relation [none#0L] parquet", ("f.parquet",))
    cache._COUNT_MEMO[stale] = 7
    emb = load_table(spark, "embeddings", SF_DIR)
    assert cache.memo_count(emb) == emb.count()
    assert stale not in cache._COUNT_MEMO
    assert len(cache._COUNT_MEMO) == 1
    cache.clear_count_memo()
