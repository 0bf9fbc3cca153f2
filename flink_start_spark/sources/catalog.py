"""Parquet table catalog over the driver-provided test directories.

Scale design: parquet scans are the engine's default input (columnar,
predicate-pushdown + column-pruning through the DataSource V2 reader). At
100 TB the same call reads a partitioned table directory; nothing here
collects to the driver. Schemas are never pinned from
`flink_start_spark.schemas` (it documents the expected shapes and is used
to validate, not to read): the read schema is the one the parquet footers
give, so added columns stay visible.

Inferring that schema costs one footer-reading Spark job per
``spark.read.parquet(path)``. :func:`parquet_schema` pays it once per
session: it memoizes the inferred schema, and ``load_table`` reads with
``spark.read.schema(memo)``, which starts no job. The memo key is:

- the SparkContext applicationId — a miss drops other contexts'
  entries, the rule ``cache.memo_count`` follows too;
- the path;
- the session confs that change inference (``_INFERENCE_CONFS``);
- every file under the path, sorted, with its size and mtime, listed
  with ``os`` on the driver (no Spark job).

Contract: inputs are immutable within a session, as ``cache.memo_count``
already requires. Even so, an appended, added or rewritten file changes
the key, and that load re-infers exactly as an unmemoized read would;
only a rewrite that keeps a file's name, size and mtime goes unseen.
Only local paths (no scheme, or ``file:``) are listed. Any other scheme,
and a missing or empty path, is inferred on every call, as before.

This is the second of the package's three session memos: the first,
``cache.memo_count``, holds eager corpus counts; the third,
``plans.catalog``'s built-plan memo, holds each catalog query's analyzed
plan. The third reads its file key from here: ``load_table`` adds the
path and listing of every load to the innermost :func:`recorded_loads`
block, and a catalog query built inside another one's block hands its
loads on to it with :func:`record_loads`.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_start_spark.cache import session_memo
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


#: session confs that change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMA_MEMO: dict[tuple, T.StructType] = {}

#: a load's path and its :func:`_local_files` listing
Load = tuple[str, tuple[tuple[str, int, int], ...]]

_LOADS: ContextVar[list[Load] | None] = ContextVar("_LOADS", default=None)


@contextmanager
def recorded_loads() -> Iterator[list[Load]]:
    """Collect the ``(path, listing)`` of every :func:`load_table` call
    made inside the block, in call order; a nested block collects its
    own loads only."""
    loads: list[Load] = []
    token = _LOADS.set(loads)
    try:
        yield loads
    finally:
        _LOADS.reset(token)


def record_loads(loads: list[Load] | tuple[Load, ...]) -> None:
    """Add ``loads`` to the innermost :func:`recorded_loads` block, if
    one is open."""
    outer = _LOADS.get()
    if outer is not None:
        outer.extend(loads)


def local_root(path: str) -> str | None:
    """The OS path of a local ``path`` (no scheme, or ``file:``); None
    for any other scheme."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    return url.path if url.scheme else path


def _local_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """Every file under a local ``path`` (or ``path`` itself, if a file)
    as sorted ``(relative name, size, mtime_ns)``, listed with ``os``
    (no Spark job). Empty for a non-local scheme, a missing or empty
    path, or a file that vanished mid-listing."""
    root = local_root(path)
    if root is None:
        return ()
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for d, _, names in os.walk(root):
            for n in names:
                f = os.path.join(d, n)
                st = os.stat(f)
                out.append((os.path.relpath(f, root), st.st_size, st.st_mtime_ns))
    except OSError:
        return ()
    return tuple(sorted(out))


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized per
    session (module docstring: the memo, its key and its contract). The
    package's one footer-schema read path: ``load_table`` and the
    streaming scan's ``ts`` probe both read through it."""

    def infer() -> T.StructType:
        return spark.read.parquet(path).schema

    files = _local_files(path)
    if not files:
        return infer()
    key = (
        spark.sparkContext.applicationId,
        path,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
        files,
    )
    return session_memo(_SCHEMA_MEMO, key, infer)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one named table from ``{sf_dir}/{name}.parquet``, with every
    timestamp column restored to TimestampType (:func:`restore_timestamp`),
    and record the path and its listing (:func:`recorded_loads`).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    # listed before Spark lists the path, so a file added in between
    # makes the recorded listing older than the plan, never newer
    record_loads([(path, _local_files(path))])
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    actual = {f.name: f.dataType.simpleString() for f in schema.fields}
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

