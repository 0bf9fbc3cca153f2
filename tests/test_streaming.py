"""Structured Streaming tests: golden window counts, watermark late-data
drops (FIXTURES F2), streaming count-trigger, sessions, dedup.

The reference's pacing (100 ms/event sleep) is reproduced by slicing the
input into one file per micro-batch (``maxFilesPerTrigger=1``) — batch
boundaries, not wall-clock sleeps, are what watermark semantics depend on.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from flink_start_spark.sources.json_activity import _FIXTURE_ROWS
from flink_start_spark.streaming import (
    count_trigger_stream,
    keyed_tumbling_counts_stream,
    run_to_memory,
    session_window_stream,
    stream_dedup,
    stream_user_activity,
    tumbling_signup_counts_stream,
)

BASE = 1754226000  # 2025-08-03T13:00:00Z


def _write_batches(tmp_path, name, batches):
    """One JSON-lines file per micro-batch, mtimes strictly increasing so
    the file source replays them in order."""
    d = tmp_path / name
    d.mkdir()
    t0 = time.time() - len(batches) - 5
    for i, rows in enumerate(batches):
        p = d / f"batch_{i:03d}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"userId": u, "activity": a, "timestamp": ts, "arrival": arr}
                )
                for arr, u, a, ts in rows
            )
        )
        os.utime(p, (t0 + i, t0 + i))
    return str(d)


def _fixture_batches(sizes):
    out, i = [], 0
    for s in sizes:
        out.append(_FIXTURE_ROWS[i : i + s])
        i += s
    return out


def _final_counts(rows, key_fields, cnt_field):
    """Update-mode memory sink emits one row per (batch, changed group);
    counts only grow, so the max per group is the final value."""
    final = {}
    for r in rows:
        k = tuple(r[f] for f in key_fields)
        final[k] = max(final.get(k, 0), r[cnt_field])
    return final


def test_streaming_tumbling_golden_g1(spark, tmp_path):
    src = _write_batches(tmp_path, "g1", _fixture_batches([4, 4, 4]))
    stream = stream_user_activity(spark, src)
    out = tumbling_signup_counts_stream(stream)
    table = run_to_memory(out, "g1_sink", "update")
    got = _final_counts(
        table.collect(), ["window_start"], "cnt"
    )
    got = {int(k[0].timestamp()) - BASE: v for k, v in got.items()}
    assert got == {0: 1, 3: 3, 6: 2, 9: 0}


def test_streaming_keyed_golden_g2(spark, tmp_path):
    src = _write_batches(tmp_path, "g2", _fixture_batches([6, 6]))
    stream = stream_user_activity(spark, src)
    out = keyed_tumbling_counts_stream(stream)
    table = run_to_memory(out, "g2_sink", "update")
    got = _final_counts(table.collect(), ["activity", "window_start"], "cnt")
    got = {(k[0], int(k[1].timestamp()) - BASE): v for k, v in got.items()}
    assert got == {
        ("register", 0): 1,
        ("register", 3): 3,
        ("register", 6): 2,
        ("online", 0): 1,
        ("online", 3): 1,
        ("online", 6): 1,
        ("online", 9): 3,
    }


def test_streaming_watermark_drops_late_events_f2(spark, tmp_path):
    # FIXTURES F2: out-of-order replay; events >1 min late must be dropped
    # (reference resources/README.md:11-14). Spark advances the watermark
    # at micro-batch boundaries with a one-batch publication lag (vs
    # Flink's continuous per-event watermark — SURVEY §7 margin note), so
    # each late event is placed two batches after the on-time event that
    # moves the watermark past it; end-state semantics are what the
    # reference specifies and what we assert.
    batches = [
        [
            (1, "alice_wonderland", "register", "2025-08-03T13:17:00Z"),
            (2, "bob_builder", "login", "2025-08-03T13:18:30Z"),
        ],
        [(3, "charlie_chocolate", "click", "2025-08-03T13:19:00Z")],
        [(4, "napoleon_bonaparte", "register", "2025-08-03T13:14:30Z")],  # late
        [
            (5, "leonardo_davinci", "register", "2025-08-03T13:16:00Z"),  # late
            (6, "marie_curie", "logout", "2025-08-03T13:20:00Z"),
        ],
    ]
    src = _write_batches(tmp_path, "f2", batches)
    stream = stream_user_activity(spark, src)
    out = tumbling_signup_counts_stream(
        stream, size="1 minute", watermark="1 minute", pred_value="register"
    )
    table = run_to_memory(out, "f2_sink", "update")
    minutes = {
        (int(r["window_start"].timestamp()) // 60) % 100 for r in table.collect()
    }
    # windows for the on-time events only; 13:14 (napoleon) and 13:16
    # (leonardo) never appear — their windows were already finalized
    assert minutes == {17, 18, 19, 20}

    # batch run over the same files (no watermark) INCLUDES the late rows
    batch = (
        spark.read.schema("userId string, activity string, timestamp string")
        .json(src)
        .select(F.try_to_timestamp("timestamp").alias("ts"))
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .count()
    )
    batch_minutes = {
        (int(r["w"]["start"].timestamp()) // 60) % 100 for r in batch.collect()
    }
    assert batch_minutes == {14, 16, 17, 18, 19, 20}


def test_streaming_count_trigger_golden_g4(spark, tmp_path):
    src = _write_batches(tmp_path, "g4", _fixture_batches([5, 5, 2]))
    # the JSON files carry an explicit arrival field (the source offset in
    # production); read it alongside the activity columns
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("userId string, activity string, timestamp string, arrival long")
        .json(src)
        .select(
            F.col("activity"), F.col("arrival"), F.try_to_timestamp("timestamp").alias("ts")
        )
    )
    out = count_trigger_stream(
        stream, every=5, pred_col="activity", pred_value="register"
    )
    table = run_to_memory(out, "g4_sink", "append")
    rows = sorted(
        [(r["fire_seq"], r["arrival"], r["cnt"]) for r in table.collect()]
    )
    # Flink FIRE-no-PURGE golden: fire@5 → 3, fire@10 → 6 cumulative,
    # no fire for the 2-event tail (FIXTURES G4)
    assert rows == [(1, 5, 3), (2, 10, 6)]


def test_streaming_count_trigger_keyed(spark, tmp_path):
    # keyed variant: independent trigger state per activity type
    src = _write_batches(tmp_path, "g4k", _fixture_batches([6, 6]))
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("userId string, activity string, timestamp string, arrival long")
        .json(src)
        .select("activity", "arrival", F.try_to_timestamp("timestamp").alias("ts"))
    )
    out = count_trigger_stream(
        stream, every=3, pred_col="activity", pred_value="register", key_col="activity"
    )
    table = run_to_memory(out, "g4k_sink", "append")
    rows = sorted((r["key"], r["fire_seq"], r["cnt"]) for r in table.collect())
    # register arrivals: 1,3,5,6,7,9 (6 total) → fires at its 3rd and 6th
    # (cnt == arrivals seen since pred matches all); online: 6 events →
    # fires at 3 and 6 with 0 registers among them
    assert rows == [
        ("online", 1, 0),
        ("online", 2, 0),
        ("register", 1, 3),
        ("register", 2, 6),
    ]


def test_streaming_session_windows(spark, tmp_path):
    # session windows support append mode only: a session emits once the
    # watermark passes its end. A sentinel event in a later batch pushes
    # the watermark past every fixture session so all of them finalize.
    sentinel = [(99, "zz_sentinel", "online", "2025-08-03T13:01:00Z")]
    src = _write_batches(tmp_path, "sess", _fixture_batches([12]) + [sentinel])
    stream = stream_user_activity(spark, src)
    out = session_window_stream(stream, gap="5 seconds", key_col="user_id")
    table = run_to_memory(out, "sess_sink", "append")
    per_user = {}
    for r in table.collect():
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    # bob: events at :02,:02 → one 2-event session; rob: :04 and :10 →
    # two 1-event sessions (gap 6 s > 5 s)
    assert sorted(per_user["bob"]) == [2]
    assert sorted(per_user["rob"]) == [1, 1]
    assert "zz_sentinel" not in per_user  # its own session never finalizes


def test_streaming_session_late_event_does_not_reopen(spark, tmp_path):
    # The watermark-semantics corner for sessions (the reference's own
    # late-drop spec, src/main/resources/README.md): once the watermark
    # passes a session's end and the session is EMITTED, it is final —
    # a later event landing inside the closed session's time range must
    # be dropped (numRowsDroppedByWatermark), not reopen the session,
    # extend it, or spawn a second row for the same key. Measured
    # nuance pinning the batch layout here: Spark merges a batch's
    # input into session state BEFORE evicting by watermark, so a late
    # row arriving in the SAME micro-batch that evicts the session
    # still merges in (a grace quirk, not a reopen). The late row
    # therefore arrives one batch AFTER the eviction batch:
    #   b0: bob :02,:03    → open session [02, 08)
    #   b1: advance :01:00 → max event time 13:01:00 seen
    #   b2: advance_b      → runs with watermark 13:00:59.5 → bob's
    #                        session evicted + emitted HERE
    #   b3: LATE bob :04   — inside the emitted [02, 08) interval
    #   b4: advance2 :02:00 → would flush any state b3 wrongly created
    batches = [
        [
            (1, "bob", "online", "2025-08-03T13:00:02Z"),
            (2, "bob", "online", "2025-08-03T13:00:03Z"),
        ],
        [(3, "advance", "online", "2025-08-03T13:01:00Z")],
        [(4, "advance_b", "online", "2025-08-03T13:01:01Z")],
        [(5, "bob", "online", "2025-08-03T13:00:04Z")],
        [(6, "advance2", "online", "2025-08-03T13:02:00Z")],
    ]
    src = _write_batches(tmp_path, "late_sess", batches)
    stream = stream_user_activity(spark, src)
    out = session_window_stream(stream, gap="5 seconds", key_col="user_id")
    table = run_to_memory(out, "late_sess_sink", "append")
    bob = [
        (r["session_start"], r["session_end"], r["n_events"])
        for r in table.collect()
        if r["user_id"] == "bob"
    ]
    # exactly ONE bob session, byte-identical to the pre-late-event
    # session: [13:00:02, 13:00:08), 2 events — the late :04 neither
    # reopened it nor spawned a second row
    assert len(bob) == 1, bob
    start, end, n = bob[0]
    assert (start.isoformat(), end.isoformat(), n) == (
        "2025-08-03T13:00:02",
        "2025-08-03T13:00:08",
        2,
    )


def test_streaming_dedup_within_watermark(spark, tmp_path):
    batches = [
        [(1, "bob", "register", "2025-08-03T13:00:02Z")],
        [(2, "bob", "register", "2025-08-03T13:00:02Z")],  # duplicate
        [(3, "sam", "register", "2025-08-03T13:00:05Z")],
    ]
    src = _write_batches(tmp_path, "dd", batches)
    stream = stream_user_activity(spark, src)
    out = stream_dedup(stream, ["user_id", "activity", "ts"], watermark="1 minute")
    table = run_to_memory(out, "dd_sink", "append")
    rows = [(r["user_id"], r["activity"]) for r in table.collect()]
    assert sorted(rows) == [("bob", "register"), ("sam", "register")]


def test_stream_events_parquet_matches_batch(spark):
    # streaming scan over the driver's events table == batch scan counts
    from flink_start_spark.streaming import stream_events

    stream = stream_events(spark, "/root/testdata/sf0.001/events.parquet")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.when(F.col("event_type") == "signup", 1)).alias("cnt"))
    )
    table = run_to_memory(agg, "ev_sink", "update")
    got = sum(r["cnt"] for r in table.collect())
    from flink_start_spark.sources.catalog import load_table

    expected = (
        load_table(spark, "events", "/root/testdata/sf0.001")
        .filter(F.col("event_type") == "signup")
        .count()
    )
    assert got == expected


def test_stream_events_starts_on_empty_dir(spark, tmp_path):
    """Round-8 review finding: the footer-probe branch must not break
    the canonical file-stream pattern — start the query over an empty
    landing dir, let a producer fill it later. No footer to probe →
    fall back to the pinned driver-corpus nanos schema."""
    from flink_start_spark.streaming import stream_events

    landing = tmp_path / "landing"
    landing.mkdir()
    stream = stream_events(spark, str(landing))  # must not raise
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "empty-dir stream did not finish"
    assert q.exception() is None


def test_stream_events_reads_ntz_writer(spark, tmp_path):
    """Round-8 review finding: a TIMESTAMP_NTZ-writer events table (the
    case the batch loader's NTZ→LTZ cast exists for) must stream too,
    with ts normalized to the session-zoned type for window parity."""
    import datetime

    from pyspark.sql.types import TimestampType

    from flink_start_spark.streaming import stream_events

    path = str(tmp_path / "events_ntz.parquet")
    spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 0, 0, 3), 7, "signup", 1.0, "{}"),
            (2, datetime.datetime(2024, 1, 1, 0, 0, 9), 8, "click", 2.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(path)
    stream = stream_events(spark, path)
    assert isinstance(stream.schema["ts"].dataType, TimestampType)
    q = (
        stream.writeStream.format("memory")
        .queryName("ntz_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_ntz"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.table("ntz_sink").orderBy("event_id").collect()
    assert [r["event_id"] for r in rows] == [1, 2]
    assert rows[0]["ts"] is not None


def test_backlog_batch_lists_files_in_driver(spark, tmp_path):
    """A micro-batch of more files than Spark's parallel-listing threshold
    (32) must not launch a listing job: on a local master that job adds
    one task per file and no machines, and it was the largest phase of
    every 150-file backlog batch. Spark labels the job "Listing leaf
    files and directories for N paths"; the stage name is only the
    query's call site, so the label is read from the status store."""
    d = tmp_path / "backlog"
    d.mkdir()
    for i in range(40):
        (d / f"f_{i:03d}.json").write_text(
            json.dumps(
                {"userId": f"u{i}", "activity": "register",
                 "timestamp": "2025-08-03T13:00:02Z"}
            )
        )
    q = (
        stream_user_activity(spark, str(d), max_files_per_trigger=40)
        .writeStream.format("memory")
        .queryName("backlog_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = spark.sparkContext.statusTracker(), jsc.statusStore()
    labels = []
    for job in tracker.getJobIdsForGroup(str(q.runId)):
        for stage in tracker.getJobInfo(job).stageIds:
            desc = store.lastStageAttempt(stage).description()
            labels.append(desc.get() if desc.isDefined() else "")
    assert labels, "the query ran no job under its run id"
    listing = [s for s in labels if s.startswith("Listing leaf files")]
    assert not listing, f"backlog batch launched a listing job: {listing}"
    assert spark.table("backlog_sink").count() == 40
