"""Parquet table catalog over the driver-provided test directories.

Scale design: parquet scans are the engine's default input (columnar,
predicate-pushdown + column-pruning through the DataSource V2 reader). At
100 TB the same call reads a partitioned table directory; nothing here
collects to the driver. We deliberately do NOT pass an explicit schema to
``spark.read.parquet`` — parquet files are self-describing (footer metadata,
no inference pass), and pinning the schema would break pushdown-friendly
evolution (added columns). `flink_start_spark.schemas` documents the
expected shapes and is used to validate, not to read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_start_spark.schemas import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: SQL confs the engine REQUIRES regardless of who built the session.
#: The driver calls entry()/queries() with ITS OWN SparkSession —
#: without nanosAsLong the TIMESTAMP(NANOS) parquet read throws
#: PARQUET_TYPE_ILLEGAL, and a non-UTC session timezone shifts the
#: NTZ→LTZ wall-clock interpretation away from what the DuckDB oracle
#: sees. All are runtime-settable SQL confs; applied idempotently at
#: the single chokepoint every query reads through.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def restore_timestamp(df: DataFrame, col: str, physical_type: str) -> DataFrame:
    """Restore ``col`` to TimestampType from the type the parquet reader
    produced for it (``physical_type``, as in ``df.dtypes``).

    The driver's parquet stores timestamps as TIMESTAMP(NANOS), which the
    reader maps to epoch-nano ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``; an NTZ writer yields
    ``timestamp_ntz``. Both become a pure projection (stays inside
    whole-stage codegen, does not block pushdown on other columns); any
    other type is returned unchanged. The one rule the batch loader and
    the streaming scan (streaming/pipelines.py) share.
    """
    if physical_type == "bigint":  # TIMESTAMP(NANOS) → epoch nanos
        # exact integer arithmetic (epoch-nanos exceed double's 2^53, so
        # float division has a 256 ns ULP), and FLOOR semantics to match
        # the oracle's epoch_ns // 1000 on pre-1970 values too: bare `div`
        # truncates toward zero and would shift a negative-epoch
        # sub-microsecond value 1 us late; subtracting pmod first makes
        # the numerator an exact multiple, where div == floor-div.
        return df.withColumn(
            col,
            F.timestamp_micros(F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")),
        )
    if physical_type == "timestamp_ntz":  # MICROS, not UTC-adjusted
        # Session tz is pinned to UTC, so NTZ → LTZ is the identity on the
        # wall-clock values the oracle sees.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one named table from ``{sf_dir}/{name}.parquet``, with every
    timestamp column restored to TimestampType (:func:`restore_timestamp`).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    df = spark.read.parquet(path)
    actual = dict(df.dtypes)
    for field in TABLES[name].fields:
        if isinstance(field.dataType, T.TimestampType):
            df = restore_timestamp(df, field.name, actual.get(field.name, ""))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to engine parallelism, for CPU-heavy
    per-row pipelines (hashing, gram extraction) over a freshly-loaded
    file scan.

    A small single-file parquet table arrives as ONE input split, which
    would serialize the whole hash pipeline on one core (measured: the
    sf0.1 documents table is a single 600 KB file → 1 partition → the
    char-gram MinHash stage pegged one of 32 cores for 8 s). The
    round-robin exchange moves only the raw input bytes — negligible
    against the compute it unlocks. Never widens an input already split
    across >= target files, so on a real cluster reading many files it
    is a no-op.

    The width probe is ``inputFiles()`` — analyzed-plan metadata, no
    DataFrame→RDD conversion (``df.rdd.getNumPartitions()`` forces a
    full physical-plan translation per call — measurable overhead when
    operators compose). Contract: callers pass source scans (all call
    sites do); a non-file relation reports zero files and gets the
    repartition, which is the safe direction for in-memory test data.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # non-file plans where the probe itself fails
        n_splits = 0
    return df.repartition(target) if n_splits < target else df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to the full catalog."""
    return {n: load_table(spark, n, sf_dir) for n in (names or list(TABLES))}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every catalog table as a temp view for ``spark.sql``."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
