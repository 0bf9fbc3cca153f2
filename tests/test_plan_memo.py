"""The per-session built-plan memo behind ``Query.spark`` (plans/catalog.py).

A repeat call of a catalog query reuses the analyzed plan of its first
build: it must return the rows a fresh build returns, re-track the
caches the build tracked, and miss whenever a file under a load path or
a SQL conf changed. A build that raises, or that reads anything but
``load_table`` paths, must leave no entry.
"""

from __future__ import annotations

import inspect
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_start_spark import cache
from flink_start_spark.plans import QUERIES
from flink_start_spark.plans import catalog
from flink_start_spark.sources.catalog import load_table

from tests.conftest import SF_SMOKE
from tests.test_codegen_cache import _CATALOG_LIGHT


def _entry(spark, name, sf_dir):
    return catalog._PLAN_MEMO.get((spark.sparkContext.applicationId, name, sf_dir))


def _rows(df) -> list[tuple]:
    try:
        return sorted((tuple(r) for r in df.collect()), key=repr)
    finally:
        cache.release()


def _fresh(spark, name, sf_dir) -> list[tuple]:
    """The rows of an unmemoized build."""
    return _rows(inspect.unwrap(QUERIES[name].spark)(spark, sf_dir))


@pytest.fixture
def corpus(tmp_path):
    """sf0.001 with events.parquet as a directory holding one file, so a
    test can add a file under the load path or rewrite the one in it."""
    for name in os.listdir(SF_SMOKE):
        if name != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, name), tmp_path / name)
    (tmp_path / "events.parquet").mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), tmp_path / "events.parquet" / "part-0.parquet")
    return str(tmp_path)


def test_hit_returns_fresh_build_rows(spark):
    for name in _CATALOG_LIGHT:
        first = _rows(QUERIES[name].spark(spark, SF_SMOKE))
        built = _entry(spark, name, SF_SMOKE)
        assert built is not None, f"{name} was not memoized"
        hit = _rows(QUERIES[name].spark(spark, SF_SMOKE))
        assert _entry(spark, name, SF_SMOKE) is built, f"{name} missed on an unchanged repeat"
        assert hit == first == _fresh(spark, name, SF_SMOKE), name


def test_hit_returns_a_dataframe_with_its_own_execution(spark):
    q = QUERIES["keyed_tumbling_counts"]
    q.spark(spark, SF_SMOKE)
    a, b = q.spark(spark, SF_SMOKE), q.spark(spark, SF_SMOKE)
    assert a is not b
    assert not a._jdf.queryExecution().equals(b._jdf.queryExecution())


def test_added_file_under_load_path_misses(spark, corpus):
    name = "tumbling_signup_count"
    before = _rows(QUERIES[name].spark(spark, corpus))
    built = _entry(spark, name, corpus)
    assert built is not None
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), os.path.join(corpus, "events.parquet", "part-1.parquet"))
    after = _rows(QUERIES[name].spark(spark, corpus))
    assert _entry(spark, name, corpus) is not built
    assert after == _fresh(spark, name, corpus)
    # every event is there twice now
    assert [r[:2] + (2 * r[2],) for r in before] == after


def test_rewritten_file_misses(spark, corpus):
    name = "tumbling_signup_count"
    before = _rows(QUERIES[name].spark(spark, corpus))
    built = _entry(spark, name, corpus)
    part = os.path.join(corpus, "events.parquet", "part-0.parquet")
    table = pq.read_table(part)
    pq.write_table(table.slice(0, table.num_rows // 2), part)
    after = _rows(QUERIES[name].spark(spark, corpus))
    assert _entry(spark, name, corpus) is not built
    assert after == _fresh(spark, name, corpus)
    assert after != before


def test_changed_sql_conf_misses(spark):
    name = "scalar_function_showcase"
    key = "spark.sql.ansi.enabled"
    QUERIES[name].spark(spark, SF_SMOKE)
    built = _entry(spark, name, SF_SMOKE)
    assert built is not None
    old = spark.conf.get(key)
    spark.conf.set(key, "false" if old == "true" else "true")
    try:
        QUERIES[name].spark(spark, SF_SMOKE)
        flipped = _entry(spark, name, SF_SMOKE)
        assert flipped is not None and flipped is not built
    finally:
        spark.conf.set(key, old)
    QUERIES[name].spark(spark, SF_SMOKE)
    assert _entry(spark, name, SF_SMOKE) not in (built, flipped)


def test_hit_retracks_the_builds_caches(spark):
    name = "feature_drift_psi"
    cache.release()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    fresh_df = inspect.unwrap(QUERIES[name].spark)(spark, SF_SMOKE)
    n_fresh = cache.tracked_count()
    fresh = _rows(fresh_df)
    assert n_fresh > 0 and cm.isEmpty()
    QUERIES[name].spark(spark, SF_SMOKE)
    cache.release()
    built = _entry(spark, name, SF_SMOKE)
    df = QUERIES[name].spark(spark, SF_SMOKE)
    assert _entry(spark, name, SF_SMOKE) is built
    assert cache.tracked_count() == n_fresh
    assert not cm.isEmpty()
    assert _rows(df) == fresh
    assert cm.isEmpty()


def _memoized(name, build):
    """A catalog-style query that is not registered in QUERIES."""
    return catalog._memoized(f"plan_memo_test_{name}", build)


def test_build_that_raises_leaves_no_entry(spark):
    def build(spark, sf_dir):
        load_table(spark, "events", sf_dir)
        raise RuntimeError("build failed")

    q = _memoized("raises", build)
    with pytest.raises(RuntimeError):
        q(spark, SF_SMOKE)
    assert _entry(spark, "plan_memo_test_raises", SF_SMOKE) is None


def test_build_reading_outside_load_table_is_not_memoized(spark):
    def load_only(spark, sf_dir):
        return load_table(spark, "region", sf_dir).select("r_regionkey")

    def direct_read(spark, sf_dir):
        other = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select("n_regionkey")
        return load_only(spark, sf_dir).join(other, F.col("r_regionkey") == F.col("n_regionkey"))

    _memoized("load_only", load_only)(spark, SF_SMOKE)
    assert _entry(spark, "plan_memo_test_load_only", SF_SMOKE) is not None
    q = _memoized("direct_read", direct_read)
    assert len(_rows(q(spark, SF_SMOKE))) == 25
    assert _entry(spark, "plan_memo_test_direct_read", SF_SMOKE) is None


def test_nested_query_loads_reach_the_outer_key(spark):
    """A catalog query built inside another adds its load paths to the
    outer build's key, whether the inner call hits or misses."""

    def outer(spark, sf_dir):
        inner = QUERIES["tumbling_signup_count"].spark(spark, sf_dir)
        return inner.crossJoin(load_table(spark, "region", sf_dir).select("r_regionkey"))

    events = os.path.join(SF_SMOKE, "events.parquet")
    region = os.path.join(SF_SMOKE, "region.parquet")
    for inner_hits in (False, True):
        if not inner_hits:
            catalog._PLAN_MEMO.pop((spark.sparkContext.applicationId, "tumbling_signup_count", SF_SMOKE), None)
        _memoized("outer", outer)(spark, SF_SMOKE)
        built = _entry(spark, "plan_memo_test_outer", SF_SMOKE)
        assert built is not None
        assert {p for p, _ in built.loads} == {events, region}, inner_hits
        catalog._PLAN_MEMO.pop((spark.sparkContext.applicationId, "plan_memo_test_outer", SF_SMOKE))


def test_insert_drops_other_sessions_entries(spark):
    stale = ("app-stopped-0000", "tumbling_signup_count", SF_SMOKE)
    catalog._PLAN_MEMO[stale] = _entry(spark, "tumbling_signup_count", SF_SMOKE)
    catalog._PLAN_MEMO.pop((spark.sparkContext.applicationId, "pivot_event_type_daily", SF_SMOKE), None)
    QUERIES["pivot_event_type_daily"].spark(spark, SF_SMOKE)
    assert stale not in catalog._PLAN_MEMO
