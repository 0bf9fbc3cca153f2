"""Parquet schema evolution: long-lived 100 TB tables gain columns over
time, and readers must reconcile old and new files. Pins the engine
behaviors a pipeline relies on: mergeSchema unions file schemas (old
rows null-fill new columns), the default read anchors on ONE footer
(fast path — no per-file schema reconciliation cost), and pushdown
still reaches scans over the evolved directory. The catalog loader's
per-session schema memo must not hide any of it: a repeat load starts
no footer job, and an added or rewritten file re-infers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_start_spark.sources import catalog
from flink_start_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _write_two_generations(spark, path):
    spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") % 5).alias("kind")
    ).write.parquet(path)
    spark.range(100, 200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("kind"),
        (F.col("id") * 2).alias("score"),  # the evolved column
    ).write.mode("append").parquet(path)


def test_merge_schema_unions_and_null_fills(spark, tmp_path):
    path = str(tmp_path / "evolved")
    _write_two_generations(spark, path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"event_id", "kind", "score"}
    assert df.count() == 200
    # old-generation rows null-fill the evolved column; new rows keep it
    assert df.where(F.col("score").isNull()).count() == 100
    assert (
        df.where(F.col("event_id") >= 100).where(F.col("score").isNull()).count()
        == 0
    )
    got = df.where(F.col("event_id") == 150).collect()[0]
    assert got["score"] == 300


def test_pushdown_survives_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "evolved_pd")
    _write_two_generations(spark, path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    f = df.where(F.col("event_id") > 150).select("event_id", "score")
    plan = f._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "GreaterThan(event_id,150)" in scan[0], scan[:1]
    assert f.count() == 49


def test_default_read_anchors_one_footer(spark, tmp_path):
    """Without mergeSchema Spark picks a single file's schema — cheap
    (no all-footers pass) but generation-dependent. The pipeline rule:
    evolving tables are read with mergeSchema=true, everything else
    takes the fast path. This pins the trade so it stays a decision,
    not a surprise."""
    path = str(tmp_path / "evolved_anchor")
    _write_two_generations(spark, path)
    cols = set(spark.read.parquet(path).columns)
    # either generation's schema is legal; the contract is only that no
    # error is raised and the column set is one of the two file schemas
    assert cols in ({"event_id", "kind"}, {"event_id", "kind", "score"})


# --- the per-session footer-schema memo (sources/catalog.py) -------------


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_table_launches_no_job(spark):
    first = load_table(spark, "orders", SF_SMOKE)
    again, jobs = _jobs_in_group(
        spark, "schema-memo-repeat", lambda: load_table(spark, "orders", SF_SMOKE)
    )
    assert jobs == [], f"repeat load_table launched jobs {jobs}"
    assert again.dtypes == first.dtypes
    assert again.exceptAll(first).count() == 0
    assert first.exceptAll(again).count() == 0


@pytest.mark.parametrize("merge", ["false", "true"])
def test_added_file_with_new_column_reinfers(spark, tmp_path, merge):
    """A table directory gains a file with an added column between two
    loads: the second load sees what an unmemoized read sees. With
    mergeSchema on, that is the added column, deterministically."""
    path = str(tmp_path / "events.parquet")
    before = spark.conf.get("spark.sql.parquet.mergeSchema")
    spark.conf.set("spark.sql.parquet.mergeSchema", merge)
    try:
        events = load_table(spark, "events", SF_SMOKE).limit(20)
        events.coalesce(1).write.parquet(path)
        first = load_table(spark, "events", str(tmp_path))
        assert "score" not in first.columns
        events.withColumn("score", F.col("value") * 2).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        second = load_table(spark, "events", str(tmp_path))
        assert second.schema == spark.read.parquet(path).schema
        if merge == "true":
            assert "score" in second.columns
            assert second.where(F.col("score").isNotNull()).count() == 20
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", before)


def test_file_rewritten_in_place_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    second = load_table(spark, "region", str(tmp_path))
    assert second.columns == ["r_regionkey", "r_name"]
    assert second.schema == spark.read.parquet(path).schema
    assert sorted(r["r_name"] for r in second.collect()) == ["a", "b"]


def test_schema_memo_drops_other_sessions_entries(spark):
    """An entry keyed by a stopped SparkContext's applicationId never
    hits (its schema here is deliberately wrong) and is dropped by the
    next insert, so the memo holds only the live session's entries."""
    catalog._SCHEMA_MEMO.clear()
    path = f"{SF_SMOKE}/nation.parquet"
    catalog.ensure_session_confs(spark)
    key_tail = (
        path,
        tuple(spark.conf.get(k) for k in catalog._INFERENCE_CONFS),
        catalog._local_files(path),
    )
    stale = ("app-stopped-0000", *key_tail)
    catalog._SCHEMA_MEMO[stale] = T.StructType([T.StructField("bogus", T.LongType())])
    df = load_table(spark, "nation", SF_SMOKE)
    assert "bogus" not in df.columns
    app = spark.sparkContext.applicationId
    assert list(catalog._SCHEMA_MEMO) == [(app, *key_tail)]


def test_stream_probe_of_empty_dir_memoizes_nothing(spark, tmp_path):
    """A not-yet-filled stream directory has no footer: the `ts` probe
    falls back to the nanos schema and leaves no memo entry behind."""
    from flink_start_spark.streaming.pipelines import stream_events

    d = tmp_path / "stream_empty"
    d.mkdir()
    df = stream_events(spark, str(d))
    assert df.isStreaming and dict(df.dtypes)["ts"] == "timestamp"
    assert not [k for k in catalog._SCHEMA_MEMO if k[1] == str(d)]
