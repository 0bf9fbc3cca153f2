"""One benchmark run inside a sized session; launched by ``run.py``.

Phases, in order: set-up (``get_spark``, first query, first pandas-UDF
call), the output check, for the batch workloads two untimed passes that
warm the noop-sink plans, the untraced timed window, and for a batch
workload with ``--trace 1`` a traced timed window. The stream workload
runs one window either way: its layers come from the progress events
Spark records anyway, so ``--trace 1`` only adds their summary. Writes
one JSON result to ``--result``.

Per-layer sums are normalised to a fixed unit of work, so that a faster
engine, which fits more work into a timed window, does not report
larger totals: per pass over the query list for the batch workloads,
per 1000 input events for the stream.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import stats
from spans import IDLE_GROUP, QueryProbes, SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
#: the latency tail reported next to the median, and the samples a timed
#: window takes so that 10 of them lie beyond it
TAIL = 75
MIN_SAMPLES = stats.min_samples(TAIL)
#: a timed window never runs longer than this, whatever MIN_SAMPLES asks
WINDOW_CAP_S = 45.0
#: the stream's warm-up never runs longer than this
WARMUP_CAP_S = 30.0
#: untimed noop passes before a batch window: on 4 cores the first pass
#: after the check runs about 50% slower than the steady state and the
#: second about 10%, after which pass times stay within run-to-run noise
WARM_PASSES = 2


def _latency_metrics(lat: list[float]) -> dict[str, float]:
    return {"latency_p50_s": stats.percentile(lat, 50), f"latency_p{TAIL}_s": stats.percentile(lat, TAIL)}


# --------------------------------------------------------------------- setup

def setup(corpus: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_start_spark.plans import QUERIES
    from flink_start_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    _noop(QUERIES["tumbling_signup_count"].spark(spark, corpus))
    plus_one = F.pandas_udf(lambda s: s + 1, T.LongType())  # spawns the Python workers
    _noop(spark.range(4).select(plus_one("id")))
    t2 = time.time()
    return spark, {"ready_at": t2, "session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}


# --------------------------------------------------------------------- batch

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_batch(spark, queries, corpus: str, failures: list[str]) -> int:
    from flink_start_spark import cache
    from oracle import BatchOracle

    oracle = BatchOracle(corpus, os.path.join(corpus, "_oracle"))
    try:
        for q in queries:
            try:
                pdf = q.spark(spark, corpus).toPandas()
                why = oracle.compare(pdf, q.oracle)
            except Exception as e:  # a query error is a counted failure, not a crash
                why = f"error: {type(e).__name__}: {str(e)[:300]}"
            finally:
                cache.release()
            if why:
                failures.append(f"{q.name}: {why}")
    finally:
        oracle.close()
    return len(queries)


def timed_batch(spark, queries, corpus: str, seconds: float, rng: random.Random,
                failures: list[str], tracer: Tracer | None = None) -> dict:
    """Closed loop, whole shuffled passes, until ``seconds`` have
    elapsed and ``MIN_SAMPLES`` queries completed."""
    from flink_start_spark import cache

    traced = tracer is not None
    if traced:
        counters = SparkCounters(spark)
        probes = QueryProbes(tracer, counters)
        probes.install()
    per_query: dict[str, list[float]] = defaultdict(list)
    lat: list[float] = []
    attempted = passes = 0
    start = time.perf_counter()
    try:
        while True:
            order = list(queries)
            rng.shuffle(order)
            for q in order:
                attempted += 1
                qid = f"{q.name}#{attempted}"
                try:
                    if traced:
                        lat.append(_traced_query(spark, q, corpus, qid, tracer, counters, probes, per_query))
                    else:
                        t0 = time.perf_counter()
                        _noop(q.spark(spark, corpus))
                        lat.append(time.perf_counter() - t0)
                except Exception as e:
                    failures.append(f"{qid}: {type(e).__name__}: {str(e)[:300]}")
                finally:
                    cache.release()  # a no-op after a traced query released inside its span
            passes += 1
            elapsed = time.perf_counter() - start
            if (elapsed >= seconds and len(lat) >= MIN_SAMPLES) or elapsed >= WINDOW_CAP_S:
                break
    finally:
        if traced:
            probes.uninstall()
            counters.set_group(IDLE_GROUP)
    return {
        "attempted": attempted,
        "passes": passes,
        "metrics": {"throughput_per_s": len(lat) / elapsed, **_latency_metrics(lat)},
        "per_query": per_query,
    }


def _traced_query(spark, q, corpus, qid, tracer, counters, probes, per_query) -> float:
    from flink_start_spark import cache

    tracer.trace_id = qid
    probes.begin(qid)
    with tracer.span("query"):
        with counters.group(f"{qid}:build"), tracer.span("plans.build") as b:
            df = q.spark(spark, corpus)
        with counters.group(f"{qid}:exec"), tracer.span("operators.exec") as x:
            _noop(df)
        per_query["cache.tracked"].append(cache.tracked_count())
        with tracer.span("cache.release") as r:
            cache.release()
    counters.settle()
    load_jobs = [len(counters.jobs(g)) for g in probes.load_groups]
    memo_jobs = [len(counters.jobs(g)) for g in probes.memo_groups]
    exec_jobs = counters.jobs(f"{qid}:exec")
    stage = counters.stage_totals(exec_jobs)
    load_spans = [s for s in tracer.spans if s["trace"] == qid and s["name"] == "sources.load_table"]
    pq = per_query
    pq["plans.build_s"].append(b["end"] - b["start"])
    pq["plans.build_jobs"].append(len(counters.jobs(f"{qid}:build")) + sum(load_jobs) + sum(memo_jobs))
    pq["sources.load_table_calls"].append(len(load_jobs))
    pq["sources.load_table_s"].append(sum(s["end"] - s["start"] for s in load_spans))
    pq["sources.load_table_jobs"].append(sum(load_jobs))
    pq["operators.exec_s"].append(x["end"] - x["start"])
    pq["operators.jobs"].append(len(exec_jobs))
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        pq[f"operators.{k}"].append(stage[k])
    pq["cache.release_s"].append(r["end"] - r["start"])
    pq["cache.memo_count_calls"].append(len(memo_jobs))
    pq["cache.memo_count_jobs"].append(sum(memo_jobs))
    pq["cache.memo_hits"].append(sum(1 for n in memo_jobs if n == 0))
    return (b["end"] - b["start"]) + (x["end"] - x["start"])


def batch_layers(per_query: dict[str, list[float]], passes: int) -> dict[str, float]:
    """Median per query, and the sum over the window per pass."""
    out = {}
    for name, values in per_query.items():
        if name != "cache.memo_hits":
            out[f"{name}.median"] = stats.median(values)
            out[f"{name}.per_pass"] = sum(values) / passes
    calls = sum(per_query.get("cache.memo_count_calls", []))
    out["cache.memo_hit_ratio"] = sum(per_query.get("cache.memo_hits", [])) / calls if calls else 0.0
    return out


def run_batch(spark, cfg: dict, corpus: str, args, res: dict) -> None:
    from flink_start_spark import cache
    from flink_start_spark.plans import QUERIES

    queries = [QUERIES[n] for n in cfg["queries"]]
    failures: list[str] = res["failures"]
    t0 = time.time()
    res["attempted"] += check_batch(spark, queries, corpus, failures)
    res["check_s"] = time.time() - t0
    # The check collects to pandas; the timed loop writes to the noop sink,
    # a different physical plan with its own first-run compile cost.
    for _ in range(WARM_PASSES):
        for q in queries:
            try:
                _noop(q.spark(spark, corpus))
            finally:
                cache.release()
    rng = random.Random(args.seed)
    w0 = time.time()
    untraced = timed_batch(spark, queries, corpus, args.seconds, rng, failures)
    res["windows"]["untraced"] = [w0, time.time()]
    res["attempted"] += untraced["attempted"]
    res["untraced"] = untraced["metrics"]
    if args.trace:
        tracer = Tracer()
        w0 = time.time()
        traced = timed_batch(spark, queries, corpus, args.seconds, rng, failures, tracer)
        res["windows"]["traced"] = [w0, time.time()]
        res["attempted"] += traced["attempted"]
        res["traced"] = traced["metrics"]
        res["layers"] = batch_layers(traced["per_query"], traced["passes"])
        res["layers"].update({f"self_s_per_pass.{k}": v / traced["passes"]
                              for k, v in tracer.self_time_by_layer().items()})
        res["trace"] = tracer.spans


# -------------------------------------------------------------------- stream

def _source_log(ckpt: str) -> dict[int, int]:
    """generator file index -> the micro-batch that read it, from the file
    source's checkpoint log (plain and compacted log files)."""
    file_batch: dict[int, int] = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[int(os.path.basename(e["path"]).split(".")[0])] = e["batchId"]
    return file_batch


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_batches(progress: list[dict], file_batch: dict[int, int], gen: dict,
                   measured_from: float, per_file: int) -> list[dict]:
    """Per micro-batch with input that read a file due ``measured_from``
    seconds after the generator started or later: whether it drained the
    burst, the latency of each such file (batch end minus the file's
    scheduled time), and the layer values of its progress."""
    files: dict[int, list[int]] = defaultdict(list)
    for k, b in file_batch.items():
        files[b].append(k)
    out, processed = [], 0
    for p in progress:
        rows = p["numInputRows"]
        processed += rows
        ks = [k for k in files.get(p["batchId"], []) if k * gen["tick_s"] >= measured_from]
        if not rows or not ks:
            continue
        d = p["durationMs"]
        st = (p.get("stateOperators") or [{}])[0]
        end = _epoch(p["timestamp"]) + d.get("triggerExecution", 0) / 1e3
        files_due = min(gen["files"], int((end - gen["start"]) / gen["tick_s"]) + 1)
        out.append({
            "batch_id": p["batchId"],
            "burst": max(ks) >= gen["burst_from"],
            "start": _epoch(p["timestamp"]),
            "end": end,
            "file_latency_s": [end - (gen["start"] + k * gen["tick_s"]) for k in ks],
            "streaming.batch_s": d.get("triggerExecution", 0) / 1e3,
            "streaming.add_batch_s": d.get("addBatch", 0) / 1e3,
            "sources.stream_listing_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3,
            "streaming.query_planning_s": d.get("queryPlanning", 0) / 1e3,
            "streaming.commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "streaming.rows_per_batch": rows,
            "streaming.state_rows": st.get("numRowsTotal", 0),
            "streaming.state_memory_bytes": st.get("memoryUsedBytes", 0),
            "streaming.state_update_s": st.get("allUpdatesTimeMs", 0) / 1e3,
            "streaming.state_removal_s": st.get("allRemovalsTimeMs", 0) / 1e3,
            "streaming.state_commit_s": st.get("commitTimeMs", 0) / 1e3,
            "streaming.backlog_rows": max(0, files_due * per_file - processed),
        })
    return out


def stream_window(spark, cfg: dict, work: str, seconds: float, seed: int) -> dict:
    """One open-loop streaming run: generator, query, drain, check."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_start_spark.streaming.pipelines import keyed_tumbling_counts_stream, stream_user_activity
    from oracle import check_stream

    gen_dir = os.path.join(work, "stream")
    shutil.rmtree(gen_dir, ignore_errors=True)
    in_dir, ckpt = os.path.join(gen_dir, "in"), os.path.join(gen_dir, "ckpt")
    os.makedirs(in_dir)
    measure_s = max(seconds, MIN_SAMPLES * cfg["tick_s"])
    gen_args = {
        "--dir": gen_dir, "--seed": seed, "--max-seconds": WARMUP_CAP_S + measure_s + 10,
        "--rate": cfg["rate_eps"], "--tick-seconds": cfg["tick_s"], "--users": cfg["users"],
        "--zipf-s": cfg["zipf_s"], "--disorder-seconds": cfg["disorder_s"],
        "--late-share": cfg["late_share"], "--late-lag-seconds": cfg["late_lag_s"],
        "--late-after-seconds": cfg["late_after_s"], "--burst-files": cfg["burst_files"],
    }
    argv = [str(x) for k, v in gen_args.items() for x in (k, *(v if isinstance(v, list) else [v]))]
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stream_gen.py"), *argv],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    sink_s: dict[int, float] = {}
    emitted: list = []

    def sink(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        emitted.append(batch_df.select(
            F.col("window_start").cast("long").alias("window_start"), "user_id", "cnt",
            F.lit(batch_id).alias("batch_id")).toArrow())
        sink_s[batch_id] = time.perf_counter() - t0

    query = None
    try:
        if gen_proc.stdout.readline().strip() != "ready":
            raise RuntimeError("stream generator failed to start")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        events = stream_user_activity(spark, in_dir, max_files_per_trigger=cfg["max_files_per_trigger"])
        counts = keyed_tumbling_counts_stream(
            events, size=f"{cfg['window_s']} seconds", watermark="500 milliseconds", key_col="user_id")
        query = (counts.writeStream.outputMode("update").foreachBatch(sink)
                 .option("checkpointLocation", ckpt).start())
        start = time.time() + 0.2
        gen_proc.stdin.write(f"{start!r}\n")
        gen_proc.stdin.flush()
        # Warm-up ends after a fixed number of micro-batches, however long
        # they take: the first batches compile the plan and run slow and
        # large. Then one latency sample per file, MIN_SAMPLES at least.
        measured_from = deadline = None
        while deadline is None or time.time() < deadline:
            time.sleep(0.1)
            if query.exception() is not None:
                raise RuntimeError(f"stream query failed: {query.exception()}")
            if deadline is None and (
                    sum(1 for p in query.recentProgress if p["numInputRows"]) >= cfg["warmup_batches"]
                    or time.time() - start > WARMUP_CAP_S):
                measured_from = time.time() - start
                deadline = time.time() + measure_s
        open(os.path.join(gen_dir, "STOP"), "w").close()
        gen_proc.stdin.close()
        gen_proc.wait(timeout=30)
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        if query is not None:
            query.stop()
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
    window = [start, time.time()]
    with open(os.path.join(gen_dir, "generator.json")) as f:
        gen = json.load(f)
    per_file = round(cfg["rate_eps"] * gen["tick_s"])
    file_batch = _source_log(ckpt)
    measured = stream_batches(progress, file_batch, gen, measured_from, per_file)
    batches = [b for b in measured if not b["burst"]]
    burst = [b for b in measured if b["burst"]]
    dropped = sum(sum(s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", []))
                  for p in progress)
    watermark_ms = {
        p["batchId"]: round(_epoch(p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00Z")) * 1000)
        for p in progress
    }
    sink_path = os.path.join(gen_dir, "sink.parquet")
    pq.write_table(pa.concat_tables(emitted), sink_path)
    problems = check_stream(gen_dir, sink_path, cfg["window_s"], file_batch, watermark_ms, dropped)
    metrics = {
        "throughput_per_s": sum(b["streaming.rows_per_batch"] for b in burst)
        / sum(b["streaming.batch_s"] for b in burst),
        **_latency_metrics([x for b in batches for x in b["file_latency_s"]]),
    }
    return {"metrics": metrics, "problems": problems, "progress": progress, "batches": batches,
            "generator": gen, "window": window, "sink_s": sink_s, "dropped": dropped}


GAUGES = ("streaming.state_rows", "streaming.state_memory_bytes", "streaming.backlog_rows")


def stream_layers(r: dict) -> dict[str, float]:
    """Per-layer values of the measured micro-batches (burst excluded),
    read from their progress events and the sink's timings: the median
    per batch, and the sum per 1000 input events (the maximum for a
    gauge). Self time: ``sources`` is the listing of the file source,
    ``streaming`` the rest of each trigger."""
    batches = r["batches"]
    kilo_events = sum(b["streaming.rows_per_batch"] for b in batches) / 1e3
    for b in batches:
        b["streaming.sink_write_s"] = r["sink_s"].get(b["batch_id"], 0.0)
    layers: dict[str, float] = {}
    for k in [k for k in batches[0] if k.startswith(("sources.", "streaming."))]:
        values = [b[k] for b in batches]
        layers[f"{k}.median"] = stats.median(values)
        if k in GAUGES:
            layers[f"{k}.max"] = max(values)
        elif k != "streaming.rows_per_batch":
            layers[f"{k}.per_1k_events"] = sum(values) / kilo_events
    listing = layers["sources.stream_listing_s.per_1k_events"]
    layers["self_s_per_1k_events.sources"] = listing
    layers["self_s_per_1k_events.streaming"] = layers["streaming.batch_s.per_1k_events"] - listing
    gen = r["generator"]
    layers["streaming.rows_dropped_by_watermark.per_1k_events"] = r["dropped"] / (gen["events"] / 1e3)
    layers["generator.late_s.max"] = gen["late_s"]
    return layers


def run_stream(spark, cfg: dict, work: str, args, res: dict) -> None:
    r = stream_window(spark, cfg, work, args.seconds, args.seed)
    res["windows"]["untraced"] = r["window"]
    res["untraced"] = r["metrics"]
    res["attempted"] += len(r["progress"]) + 1
    res["failures"] += [f"stream: {p}" for p in r["problems"]]
    gen = r["generator"]
    res["generator_late_s"] = gen["late_s"]
    if gen["late_s"] > gen["tick_s"]:
        res["invalid"] = (f"the generator ran {gen['late_s']:.3f} s behind its schedule, more than"
                          f" one {gen['tick_s']} s tick, so the load was not open-loop")
    if args.trace:
        res["layers"] = stream_layers(r)
        res["trace"] = r["progress"]  # one progress event per micro-batch


# ---------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)["workloads"][args.workload]

    res = {"attempted": 0, "failures": [], "windows": {}}
    spark, res["setup"] = setup(args.corpus)
    try:
        if cfg["kind"] == "batch":
            run_batch(spark, cfg, args.corpus, args, res)
        else:
            run_stream(spark, cfg, args.work, args, res)
    except Exception:
        res["crash"] = traceback.format_exc()
    finally:
        spark.stop()
    trace = res.pop("trace", None)
    if trace is not None:
        with open(os.path.join(args.work, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(trace, f)
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
