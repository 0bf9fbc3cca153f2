"""Spark's codegen cache holds a warm pass of the floor-dominated catalog.

Every query runs through whole-stage code generation, and Janino
compiles each distinct generated class into a per-JVM cache of
``spark.sql.codegen.cache.maxEntries`` entries (Spark's default: 100).
The 11 catalog-light queries of ``perfbench/workloads.json`` generate
more distinct classes than that, so with the default each warm pass
evicts and recompiles about 70 of them. ``get_spark`` sizes the cache so
that a repeat pass compiles nothing, even when each pass rebuilds every
plan rather than reusing the plan memo's.
"""

from __future__ import annotations

import inspect

from flink_start_spark import cache
from flink_start_spark.plans import QUERIES

from tests.conftest import SF_SMOKE

#: perfbench's catalog-light selection, in its workloads.json order.
_CATALOG_LIGHT = [
    "tumbling_signup_count",
    "sliding_signup_count",
    "keyed_tumbling_counts",
    "part_size_distribution",
    "scalar_function_showcase",
    "parts_above_brand_average",
    "dormant_customer_balance",
    "pivot_event_type_daily",
    "three_step_funnel",
    "feature_drift_psi",
    "range_join_purchases_in_error_windows",
]


def _codegen_cache(spark):
    """``CodeGenerator``'s private per-JVM class cache (Spark 4.1)."""
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def _compiled_in_pass(spark, compiles) -> int:
    before = compiles.getCount()
    for name in _CATALOG_LIGHT:
        try:
            # the unmemoized build (plans/catalog.py), so every pass runs
            # a rebuilt plan, not the plan memo's hit
            build = inspect.unwrap(QUERIES[name].spark)
            build(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        finally:
            cache.release()
    return compiles.getCount() - before


def test_warm_catalog_light_pass_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    # one count per Janino compilation (CodeGenerator.doCompile), JVM-wide
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    # start cold: earlier tests in this session compiled some of the
    # same classes, which would hide how many the mix generates
    _codegen_cache(spark).invalidateAll()
    counts = [_compiled_in_pass(spark, compiles) for _ in range(3)]
    # the mix really overflows Spark's default cache of 100 classes
    assert counts[0] > 100, counts
    assert counts[2] == 0, counts
