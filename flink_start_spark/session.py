"""SparkSession factory.

Replaces the reference's ``StreamExecutionEnvironment.getExecutionEnvironment``
(FlinkWindowLearning.scala:36) with an idiomatic, scale-tuned SparkSession.

Local-mode defaults are sized for the test container (local[N], single JVM);
every setting that matters at cluster scale (AQE, skew-join handling,
shuffle partitions, Arrow) is applied here so the same code runs unchanged
on a 1000-executor cluster — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores to use; the driver runs us at local[32].
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Settings for a ``local``/``local[...]`` master only. Each avoids work
# that buys nothing when every task shares one JVM on one machine;
# cluster masters keep Spark's defaults.
_LOCAL_MASTER_CONF = {
    # Above this many paths (default 32) an InMemoryFileIndex lists files
    # with a Spark job of one task per path. The file stream source builds
    # one over every micro-batch's file list, so each 150-file backlog
    # batch of the stream-activity benchmark ran a 150-task listing job.
    # Measured on local[4] (4 vCPU): getBatch took 0.86-1.28 s of a
    # 1.95-2.45 s trigger, against 0.026-0.061 s with listing in the
    # driver, and backlog capacity rose from a median 73k to 119k
    # events/s over ten paired runs. The default exists to list thousands
    # of object-store paths in parallel.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    # Spark's default FileContext-based manager renames every checkpoint
    # file (state-store deltas, offset/commit/source logs) through
    # RawLocalFileSystem.getFileLinkStatus, which starts a `readlink`
    # process per rename through Hadoop's Shell; a 48 s stream-activity
    # run started 5,216 of them. The FileSystem-based manager does the
    # same check-then-rename on file: paths without starting a process,
    # and writes the same files (Hadoop's .crc files, Spark's checksum
    # sidecars), so a checkpoint resumes under either. Measured on
    # local[4] (4 vCPU), ten paired runs: summed state-store commit per
    # batch 0.35 -> 0.015 s, stream latency p50 0.74 -> 0.50 s.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def get_spark(
    app_name: str = "flink_start_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale notes (100 TB design):
    - AQE is on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching. On a real cluster
      ``spark.sql.shuffle.partitions`` should start near 2-3x total cores
      and let AQE coalesce down; locally we pin it to the core count.
    - Arrow is on for every pandas interchange (Pandas UDFs, toPandas).
    - Session timezone is pinned to UTC so event-time windows are
      deterministic and comparable across engines.
    - On a ``local``/``local[...]`` master, ``_LOCAL_MASTER_CONF`` keeps
      file listing in the driver (a distributed listing job there buys no
      extra machines, only one task per path) and renames streaming
      checkpoint files through the FileSystem API (the default
      FileContext path starts a ``readlink`` process per rename).
      ``extra_conf`` overrides both.
    - Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``) is
      sized to hold every class the catalog generates, on every master,
      so a repeat query compiles nothing. It is a static conf: it takes
      effect only when this call creates the session, and a session that
      the driver built itself keeps Spark's default of 100.
      ``extra_conf`` overrides it.
    """
    cpus = _DEFAULT_CPUS
    # Driver memory must be fixed before the JVM gateway launches; the
    # SparkConf value is ignored once the gateway exists, so pass it via
    # PYSPARK_SUBMIT_ARGS for the first session in this process.
    if SparkSession.getActiveSession() is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            # parenthesized on purpose: the un-parenthesized form parses
            # as `(shuffle_partitions or int(cpus)) if ... else 32`,
            # silently discarding an explicit shuffle_partitions whenever
            # SPARK_GRAFT_CPUS is non-numeric (e.g. '*')
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                or (int(cpus) if str(cpus).isdigit() else 32)
            ),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's parquet stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read them as epoch-nano longs and convert to
        # TimestampType in the catalog loader (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Streaming state: the default HDFS-backed store. RocksDB with
        # changelog checkpointing keeps state off-heap/on-disk beyond
        # executor heap, but on stream-activity (local[4], four paired
        # runs) it drained a backlog at a median 117k events/s against
        # 139k here, with p50 latency 0.87 s against 0.93 s. Result
        # parity between the two providers is pinned by
        # tests/test_streaming_state_store.py.
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        # Spark's codegen cache (CodeGenerator.cache, one in every JVM
        # that compiles: the driver and each executor) holds 100 compiled
        # classes by default, and this engine's traffic does not fit.
        # catalog-light's 11 queries generate about 117 distinct classes,
        # so every warm pass recompiled about 70 of them; one sweep of the
        # 138-query catalog at sf0.01 generates about 1,930, so a repeat
        # sweep recompiled 2,898. With 4096, measured on 4 vCPU: a warm
        # catalog-light pass compiles 0 (exec time 2.1-2.4 s per pass
        # against 3.1-3.6 s), and a repeat sweep compiles 90 and takes
        # 115 s against 151 s, keeping about 260 MB more heap. 4096 is
        # about twice one sweep's count because the Guava-backed cache
        # evicts per segment before it is globally full.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    local = master == "local" or master.startswith("local[")
    conf = {**(_LOCAL_MASTER_CONF if local else {}), **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
