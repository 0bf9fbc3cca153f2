"""Streaming pipelines: sources, windowed aggregations, watermarks, dedup.

Reference mapping (SURVEY §2/§3):

- O1's paced file-replay source (package.scala:38-70, one record per
  100 ms) → ``readStream`` file source with ``maxFilesPerTrigger`` —
  pacing is a *test-harness* concern (it limits the reference to 10
  events/s); the engine's semantics never depend on it.
- O5's ``forBoundedOutOfOrderness(500ms)`` watermark →
  ``withWatermark(ts, '500 milliseconds')``. Contract difference noted
  in SURVEY §7: Spark's watermark advances per micro-batch (max event
  time seen in prior batches minus delay) while Flink's advances
  continuously; end-state counts are identical, per-event drop timing
  can differ at the margin — tests assert end state.
- O6-O12 windowed aggregations → identical expressions to the batch
  operators; Structured Streaming runs the same logical plan
  incrementally with window state in the state store, evicted by the
  watermark (the SIGMOD'18 Structured Streaming model).
- Session windows (a declared future goal of the reference,
  README.md:33) → ``session_window`` — free in Spark.
- Streaming dedup → ``dropDuplicatesWithinWatermark``.

At scale the state store is the thing to watch: state is partitioned by
grouping key across executors; watermarks bound its size. Keyed windows
on a 5-value key (event_type) would put all state on 5 partitions —
the same skew note as the batch path (SURVEY §4); AQE does not apply to
streaming, so production keys should be salted or composite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_start_spark.schemas import USER_ACTIVITY_RAW


def stream_events(
    spark: SparkSession, path_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of an events parquet directory.

    ``maxFilesPerTrigger`` slices the directory into deterministic
    micro-batches (file-name order) — the harness's replacement for the
    reference's sleep-based pacing.
    """
    import os

    from flink_start_spark.sources.catalog import (
        ensure_session_confs,
        parquet_schema,
        restore_timestamp,
    )

    ensure_session_confs(spark)
    # Streaming needs an EXPLICIT read schema, and the physical type of
    # `ts` differs by writer: the driver's parquet stores
    # TIMESTAMP(NANOS) → bigint under nanosAsLong, while a Spark-written
    # events table (the synthesized sf1 corpus) stores a real timestamp
    # type the reader would reject under a pinned `ts bigint` schema
    # (PARQUET_COLUMN_DATA_TYPE_MISMATCH). Probe the footer schema through
    # the batch loader's memoized probe (one footer job per session and
    # file set, none on a repeat start) and branch. An EMPTY /
    # not-yet-populated directory (the canonical file-stream pattern:
    # start the query, then let a producer fill the dir) has no footer
    # to probe and is never memoized — fall back to the testdata nanos
    # schema. The conversion back to TimestampType is the batch loader's,
    # so streaming/batch window parity holds for every writer.
    try:
        ts_type = parquet_schema(spark, path_dir)["ts"].dataType.simpleString()
    except Exception:
        ts_type = ""
    if not ts_type.startswith("timestamp"):
        ts_type = "bigint"
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # FileStreamSource anchors basePath at the given path unless it is a
    # glob, and rejects a non-directory basePath — so a single parquet
    # file is passed as a one-file glob ("...parque[t]") to keep the
    # source's basePath at the parent directory.
    if os.path.isfile(path_dir) and not path_dir.endswith("]"):
        path_dir = f"{path_dir[:-1]}[{path_dir[-1]}]"
    df = reader.schema(
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    ).parquet(path_dir)
    return restore_timestamp(df, "ts", ts_type)


def stream_user_activity(
    spark: SparkSession, path_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming JSON user-activity source (the reference's O1 shape):
    each micro-batch reads up to ``max_files_per_trigger`` JSON-lines
    files, oldest first, so file order replays arrival order."""
    df = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(USER_ACTIVITY_RAW)
        .json(path_dir)
    )
    return df.select(
        F.col("userId").alias("user_id"),
        F.col("activity"),
        F.try_to_timestamp(F.col("timestamp")).alias("ts"),
    ).filter(F.col("ts").isNotNull())


def tumbling_signup_counts_stream(
    events: DataFrame,
    size: str = "3 seconds",
    watermark: str = "500 milliseconds",
    pred_col: str = "activity",
    pred_value: str = "register",
    ts_col: str = "ts",
) -> DataFrame:
    """O5+O6+O8 streaming: watermarked tumbling window conditional count.

    Incremental by construction — Spark keeps one accumulator per open
    window in the state store (the reference's 'memory-efficient
    Approach 2', FlinkWindowLearning.scala:95-109) and drops state once
    the watermark passes window end.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), size).alias("w"))
        .agg(
            F.count(F.when(F.col(pred_col) == pred_value, 1)).alias("cnt")
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )


def keyed_tumbling_counts_stream(
    events: DataFrame,
    size: str = "3 seconds",
    watermark: str = "500 milliseconds",
    key_col: str = "activity",
    ts_col: str = "ts",
) -> DataFrame:
    """O10+O11 streaming: per-key tumbling window counts."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), size).alias("w"), F.col(key_col))
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("count").alias("cnt"),
        )
    )


def sliding_signup_counts_stream(
    events: DataFrame,
    size: str = "3 seconds",
    slide: str = "1 second",
    watermark: str = "500 milliseconds",
    pred_col: str = "activity",
    pred_value: str = "register",
    ts_col: str = "ts",
) -> DataFrame:
    """O12 streaming: sliding windows (state = size/slide entries per event window set)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), size, slide).alias("w"))
        .agg(F.count(F.when(F.col(pred_col) == pred_value, 1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )


def session_window_stream(
    events: DataFrame,
    gap: str = "5 seconds",
    watermark: str = "500 milliseconds",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows (the reference's declared future goal,
    README.md:33): per-key sessions closed after ``gap`` of inactivity.
    Spark merges/extends session state incrementally; the watermark
    finalizes sessions.

    Late-data contract (pytest-pinned in tests/test_streaming.py): an
    event older than the watermark arriving AFTER its session was
    evicted+emitted is dropped (numRowsDroppedByWatermark) — emitted
    sessions are final, never reopened or re-emitted. One measured
    nuance: eviction happens after the batch's input merge, so a late
    row landing in the same micro-batch that evicts its session still
    merges in — a one-batch grace, not a reopen."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    watermark: str = "10 seconds",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: state-bounded by the watermark
    (``dropDuplicatesWithinWatermark``) so the seen-keys store cannot
    grow without bound — the streaming twin of operators/dedup.py."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def asof_enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str = "ts",
    eff_col: str = "eff_ts",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming AS-OF join against a versioned static dimension — the
    Structured Streaming twin of the batch as-of join
    (operators/joins.py, itself the windowed-join direction the
    reference's README declares as future work).

    As-of semantics ("the dimension version in effect at event time")
    are recast as a POINT-IN-TIME INTERVAL join so that no streaming
    aggregation (and hence no append-mode/watermark-on-agg restriction)
    is needed: the static side is preprocessed — batch-side, tiny —
    with a ``lead()`` per key into half-open validity intervals
    ``[eff_ts, eff_end)``, and each stream row equi-joins on the key
    plus a range predicate that matches EXACTLY ONE version. Left join:
    events before the first version (or with no dimension row) keep
    null attributes.

    Scale shape: the versioned dimension is broadcast (dimension
    versions, not facts — small by construction); the stream side never
    shuffles. The per-key ``lead`` window runs once on the static side
    at plan build. An optional event-time ``watermark`` is applied to
    the STREAM before the join so downstream stateful operators (window
    aggs, dedup) compose without re-declaring it.
    """
    wd = Window.partitionBy(key).orderBy(eff_col)
    versioned = dim.withColumn(
        "_eff_end",
        F.coalesce(
            F.lead(eff_col).over(wd),
            F.lit("9999-12-31 23:59:59").cast("timestamp"),
        ),
    )
    if watermark:
        stream = stream.withWatermark(ts_col, watermark)
    dim_key = F.col(f"_dim.{key}")
    cond = (
        (F.col(f"_ev.{ts_col}") >= F.col(f"_dim.{eff_col}"))
        & (F.col(f"_ev.{ts_col}") < F.col("_dim._eff_end"))
        & (F.col(f"_ev.{key}") == dim_key)
    )
    out_dim = [
        F.col(f"_dim.{c}").alias(c)
        for c in versioned.columns
        if c not in (key, "_eff_end")
    ]
    return (
        stream.alias("_ev")
        .join(F.broadcast(versioned.alias("_dim")), cond, "left")
        .select("_ev.*", *out_dim)
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink and
    return the sink table (test/bench harness; availableNow processes
    every pending file respecting maxFilesPerTrigger batch slicing)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(query_name)
