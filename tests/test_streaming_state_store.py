"""State store and checkpoint tests.

RocksDB state store parity: the PRODUCTION streaming state backend
(state lives off-heap/on-disk, so stateful operators survive state
sizes far beyond executor heap — the 100 TB streaming lever) must
produce results identical to the default HDFS-backed store on the same
input, for both a built-in keyed windowed aggregation and an
applyInPandasWithState operator (custom python state).

Checkpoint file manager: on a local master the session renames
checkpoint files through the FileSystem API. The tests pin that no
rename starts a ``readlink`` process, and that one checkpoint resumes
in both directions between that manager and Spark's FileContext-based
default."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from flink_start_spark.streaming import run_to_memory, stream_events
from flink_start_spark.streaming.pipelines import (
    keyed_tumbling_counts_stream,
    stream_user_activity,
)
from flink_start_spark.streaming.quantiles import quantile_stream

from tests.conftest import SF_SMOKE

_ROCKS = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_KEY = "spark.sql.streaming.stateStore.providerClass"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _restores(key):
    """A fixture that puts the session's ``key`` back as it found it;
    each test sets/unsets the key around individual runs."""

    @pytest.fixture()
    def fixture(spark):
        old = spark.conf.get(key, None)
        yield
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    return fixture


rocksdb_conf = _restores(_KEY)
manager_conf = _restores(_MANAGER_KEY)


def _events(spark):
    import os

    return stream_events(spark, os.path.join(SF_SMOKE, "events.parquet"))


def _run_windows(spark, sink):
    out = keyed_tumbling_counts_stream(
        _events(spark), size="1 hour", watermark="1 hour",
        key_col="event_type",
    )
    t = run_to_memory(out, sink, "update")
    final = {}
    for r in t.collect():
        k = (r["window_start"], r["event_type"])
        final[k] = max(final.get(k, 0), r["cnt"])
    return final


def test_keyed_windows_identical_under_rocksdb(spark, rocksdb_conf):
    spark.conf.unset(_KEY) if _has(spark) else None
    default = _run_windows(spark, "ss_default")
    spark.conf.set(_KEY, _ROCKS)
    rocks = _run_windows(spark, "ss_rocks")
    assert rocks == default and len(default) > 5


def test_apply_in_pandas_with_state_identical_under_rocksdb(
    spark, rocksdb_conf
):
    def run(sink):
        q = quantile_stream(
            _events(spark), "event_type", "value",
            probs=(0.5, 0.9), lo=0.0, hi=1100.0,
        )
        t = run_to_memory(q, sink, "update")
        latest = {}
        for r in t.collect():
            k = (r["key"], r["prob"])
            if k not in latest or r["n_seen"] > latest[k]["n_seen"]:
                latest[k] = (r["n_seen"], r["q_lo"], r["q_hi"])
        return latest

    spark.conf.unset(_KEY) if _has(spark) else None
    default = run("qq_default")
    spark.conf.set(_KEY, _ROCKS)
    rocks = run("qq_rocks")
    assert rocks == default and len(default) == 10


def _has(spark) -> bool:
    try:
        spark.conf.get(_KEY)
        return True
    except Exception:
        return False


_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
_T0 = dt.datetime(2025, 8, 3, 13, 0, tzinfo=dt.timezone.utc)


def _write_activity(d, name, events, mtime):
    """One JSON-lines file of ``(user, activity, seconds after _T0)``
    events; ``mtime`` fixes its place in the source's arrival order."""
    path = os.path.join(d, name)
    with open(path, "w") as f:
        for user, activity, secs in events:
            ts = _T0 + dt.timedelta(seconds=secs)
            f.write(json.dumps({
                "userId": user, "activity": activity,
                "timestamp": ts.isoformat(timespec="milliseconds"),
            }) + "\n")
    os.utime(path, (mtime, mtime))


def test_checkpoint_renames_start_no_readlink(spark, tmp_path):
    """Hadoop's FileContext rename on ``file:`` resolves links with
    FileUtil.readLink, which starts a ``readlink`` process per checkpoint
    file; the session's manager must rename without one. A JFR recording
    of jdk.ProcessStart sees every process the driver JVM (and so every
    local executor task) starts; a FileUtil.readLink call of our own is
    the positive control that the recording sees readlink starts."""
    src, ck = tmp_path / "src", tmp_path / "ck"
    src.mkdir()
    now = time.time()
    for k in range(4):
        _write_activity(
            src, f"f{k}.json",
            [(f"u{j}", "register", 3 * k) for j in range(k + 1)],
            now - 10 + k,
        )
    control = tmp_path / "readlink_control"
    control.mkdir()
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        q = (
            keyed_tumbling_counts_stream(stream_user_activity(spark, str(src)))
            .writeStream.format("memory")
            .queryName("no_readlink_sink")
            .outputMode("update")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File(str(control)))
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "procs.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    commands = [
        e.getString("command")
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    readlinks = [
        c for c in commands if os.path.basename(c.split()[0]) == "readlink"
    ]
    assert any(str(control) in c for c in readlinks), "recording saw no readlink"
    started = [c for c in readlinks if str(control) not in c]
    assert not started, f"{len(started)} readlink processes, e.g. {started[:2]}"
    counts = {
        (r["window_start"].second, r["activity"]): r["cnt"]
        for r in spark.table("no_readlink_sink").collect()
    }
    assert counts == {(3 * k, "register"): k + 1 for k in range(4)}


def _resume_files():
    """Seven one-batch files. File k holds k + 1 registers and one login
    at 1.5k s, so each 3 s window spans two files and straddles every
    restart below; file 5 adds a late event for window 0 (watermark 5.9 s
    by then) and file 6 is a far-ahead sentinel that closes windows 0-2."""
    files = [
        [(f"u{j}", "register", 1.5 * k + 0.05 * j) for j in range(k + 1)]
        + [("v", "login", 1.5 * k + 0.4)]
        for k in range(6)
    ]
    files[5].append(("late", "register", 0.2))
    return files + [[("s", "register", 60.0)]]


def _run_append(spark, src, ck, out):
    q = (
        keyed_tumbling_counts_stream(stream_user_activity(spark, str(src)))
        .writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", str(ck))
        .option("path", str(out))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def _emitted(spark, out):
    return sorted(
        (r["window_start"].second, r["activity"], r["cnt"])
        for r in spark.read.parquet(str(out)).collect()
    )


def test_checkpoint_resumes_across_file_managers(spark, tmp_path, manager_conf):
    """Checkpoints written by Spark's default FileContext-based manager
    resume under the session's FileSystem-based manager and back again:
    the class is not recorded in the checkpoint, and both write the same
    files. Windows straddle each restart, so the resumed state and
    watermark are read across managers."""
    files = _resume_files()
    base = time.time() - 100
    whole = tmp_path / "whole"
    whole.mkdir()
    for k, events in enumerate(files):
        _write_activity(whole, f"f{k}.json", events, base + k)
    _run_append(spark, whole, tmp_path / "whole_ck", tmp_path / "whole_out")
    expected = _emitted(spark, tmp_path / "whole_out")
    assert expected == sorted(
        [(3 * w, "register", 4 * w + 3) for w in range(3)]
        + [(3 * w, "login", 2) for w in range(3)]
    )

    src, ck, out = tmp_path / "src", tmp_path / "ck", tmp_path / "out"
    src.mkdir()
    session_manager = spark.conf.get(_MANAGER_KEY)
    for ks, manager in (
        (range(0, 3), _FILE_CONTEXT_MANAGER),
        (range(3, 5), session_manager),
        (range(5, 7), _FILE_CONTEXT_MANAGER),
    ):
        for k in ks:
            _write_activity(src, f"f{k}.json", files[k], base + k)
        spark.conf.set(_MANAGER_KEY, manager)
        _run_append(spark, src, ck, out)
    assert _emitted(spark, out) == expected
