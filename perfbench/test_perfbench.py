"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the checkout root. The Spark-backed tests build the corpus in
a temporary directory and share one small local session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import data  # noqa: E402
import stats  # noqa: E402
import stream_gen  # noqa: E402


def test_same_seed_gives_identical_stream_files():
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)["workloads"]["stream-activity"]
    params = {k: cfg[k] for k in ("tick_s", "zipf_s", "disorder_s", "late_lag_s")}
    params.update(users=1000, late_share=0.05)
    a = stream_gen.render(7, 5000, 30, 10, **params)
    b = stream_gen.render(7, 5000, 30, 10, **params)
    c = stream_gen.render(8, 5000, 30, 10, **params)
    assert a == b
    assert a != c
    assert sum(n for _, n in a) > 0  # late events exist after late_after_files ...
    assert all(n == 0 for _, n in a[:10])  # ... and none before


def test_corpus_is_deterministic():
    a, b = data.build_tables(), data.build_tables()
    assert all(a[t].equals(b[t]) for t in data.TABLES)
    assert {t: a[t].num_rows for t in data.ROWS} == data.ROWS


def test_percentile_enforces_ten_samples_beyond():
    assert stats.min_samples(75) == 40
    assert stats.min_samples(50) == 20
    assert stats.min_samples(90) == 100
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 39, 75)
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 19, 50)
    values = [float(i) for i in range(40)]
    assert stats.percentile(values, 75) == pytest.approx(29.25)
    assert stats.percentile(values, 50) == pytest.approx(19.5)


@pytest.fixture(scope="module")
def spark_and_corpus(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from flink_start_spark.session import get_spark

    corpus = data.ensure_corpus(str(tmp_path_factory.mktemp("corpus")))
    spark = get_spark("perfbench-tests")
    yield spark, corpus
    spark.stop()


def test_stage_reader_sees_jobs_and_input(spark_and_corpus):
    from flink_start_spark.plans import QUERIES
    from spans import SparkCounters

    spark, corpus = spark_and_corpus
    counters = SparkCounters(spark)
    with counters.group("t:exec"):
        QUERIES["tumbling_signup_count"].spark(spark, corpus).write.format("noop").mode("overwrite").save()
    counters.settle()
    jobs = counters.jobs("t:exec")
    totals = counters.stage_totals(jobs)
    assert len(jobs) >= 1
    assert totals["stages"] >= 1
    assert totals["tasks"] >= 1
    assert totals["input_bytes"] > 0


def test_oracle_rejects_a_perturbed_result(spark_and_corpus):
    from flink_start_spark.plans import QUERIES
    from oracle import BatchOracle

    spark, corpus = spark_and_corpus
    q = QUERIES["tumbling_signup_count"]
    result = q.spark(spark, corpus).toPandas()
    oracle = BatchOracle(corpus, os.path.join(corpus, "_oracle"))
    try:
        assert oracle.compare(result, q.oracle) is None
        wrong_value = result.copy()
        wrong_value.iloc[0, -1] += 1
        assert oracle.compare(wrong_value, q.oracle) is not None
        assert oracle.compare(result.iloc[1:], q.oracle) is not None
    finally:
        oracle.close()
