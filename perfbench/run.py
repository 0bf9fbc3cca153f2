"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload catalog-light --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher sizes the session to the
host (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``), puts the
checkout on ``PYTHONPATH``, keeps every temporary file under
``.bench_build/perfbench`` and builds the fixed corpus there on first
use. It then starts ``worker.py`` as a fresh process (set-up time is
measured from its spawn), samples the resident memory of that process
tree every 250 ms, and prints a summary followed, as the last line, by
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
- the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1`` (the summary lists every layer
value the run computed, ``BENCHMARK.json`` or not).

A stream run whose generator fell more than one tick behind its
schedule measured a load that was not open-loop: the launcher exits
with code 3 and prints no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
#: the whole run, set-up included, must end well inside 180 s
DEADLINE_S = 170.0
SAMPLE_S = 0.25


def sized_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)  # get_spark sizes the driver from SPARK_GRAFT_DRIVER_MEM
    mem_total_mb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total_mb = int(line.split()[1]) // 1024
    heap = f"{min(2048, mem_total_mb // 4)}m"
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included, keeps its files in tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed-size driver heap: resident size then tracks use, not how
        # far the collector happened to grow the heap in this run
        "SPARK_SUBMIT_OPTS": f"-Xms{heap}",
    })
    return env


class RssSampler(threading.Thread):
    """Resident memory (MB) of ``pid`` and its descendants, excluding the
    stream generator, every ``SAMPLE_S`` seconds.

    Pages shared between processes are counted once: the sum is over
    each process's proportional set size. A plain RSS sum double-counts
    the forked pandas-UDF workers and every short-lived fork of the JVM,
    which copies the JVM's whole resident size until it execs.
    """

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, float]] = []
        self.stop = threading.Event()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def _rss(self, pid: int) -> float:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"stream_gen.py" in f.read():
                    return 0.0
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) / 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0.0

    def run(self) -> None:
        while not self.stop.wait(SAMPLE_S):
            self.samples.append((time.time(), sum(self._rss(p) for p in self._tree())))

    def peak(self, window: list[float]) -> float:
        return max((v for t, v in self.samples if window[0] <= t <= window[1]), default=0.0)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop every process the worker started and wait until they are gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def summarize(workload: str, stream: bool, res: dict, sampler: RssSampler, spawn_at: float,
              trace: bool, bench: dict) -> tuple[dict, list[str]]:
    """(metrics for the result line, human-readable summary lines)."""
    setup_s = res["setup"]["ready_at"] - spawn_at
    untraced = {"setup_s": setup_s, **res["untraced"],
                "peak_rss_mb": sampler.peak(res["windows"]["untraced"])}
    values = {}
    if not trace:
        metrics = {m["name"]: {"value": untraced[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    else:
        # The stream runs one window and instruments nothing (its layers
        # come from progress events Spark records anyway): overhead 0.
        traced = untraced if stream else {"setup_s": setup_s, **res["traced"],
                                          "peak_rss_mb": sampler.peak(res["windows"]["traced"])}
        values = {
            **{k: v for k, v in res["setup"].items() if k.startswith("session.")},
            **res["layers"],
            **{f"overhead.{k}": traced[k] - untraced[k] for k in untraced},
        }
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    attempted, failed = res["attempted"], len(res["failures"])
    names = [  # nine end-to-end figures: the shared metrics split by workload kind, and failed_frac
        ("setup_s", setup_s, "s"),
        ("queries_per_s", None if stream else untraced["throughput_per_s"], "1/s"),
        ("latency_p50_s", None if stream else untraced["latency_p50_s"], "s"),
        ("latency_p75_s", None if stream else untraced["latency_p75_s"], "s"),
        ("stream_capacity_eps", untraced["throughput_per_s"] if stream else None, "events/s"),
        ("stream_latency_p50_s", untraced["latency_p50_s"] if stream else None, "s"),
        ("stream_latency_p75_s", untraced["latency_p75_s"] if stream else None, "s"),
        ("peak_rss_mb", untraced["peak_rss_mb"], "MB"),
        ("failed_frac", failed / max(attempted, 1), "ratio"),
    ]
    phases = {"setup": setup_s, "check": res.get("check_s", 0.0),
              **{k: b - a for k, (a, b) in res["windows"].items()}}
    lines = [f"perfbench {workload}: {attempted} operations attempted, {failed} failed; phases "
             + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items())]
    lines += [f"  {n:<22} {'n/a' if v is None else f'{v:.6g}':>12} {u}" for n, v, u in names]
    if "generator_late_s" in res:
        lines.append(f"  generator late_s {res['generator_late_s']:.4f} s (valid while within one tick)")
    if values:
        lines.append("  per-layer values of the traced run:")
        lines += [f"    {k:<52} {v:.6g}" for k, v in sorted(values.items())]
    lines += [f"  failure: {f}" for f in res["failures"][:20]]
    return metrics, lines


def main() -> int:
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "flink_start_spark", "session.py")):
        print("perfbench: run from the root of a checkout (flink_start_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    sys.path.insert(0, HERE)
    import data

    corpus = data.ensure_corpus(os.path.join(BUILD, "corpus"))
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--corpus", corpus, "--work", work, "--result", result_path]
    # a terminated launcher still runs the finally below and stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    spawn_at = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=sized_env(tmp), stdout=sys.stderr,
                            start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker exceeded the run deadline", file=sys.stderr)
    finally:
        sampler.stop.set()
        sampler.join()
        _kill_group(proc)

    if not os.path.exists(result_path):
        print("perfbench: worker produced no result", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    trace = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
    if os.path.exists(trace):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        os.replace(trace, os.path.join(BUILD, "traces", os.path.basename(trace)))
    shutil.rmtree(work, ignore_errors=True)
    if "crash" in res:
        print(res["crash"], file=sys.stderr)
        return 1
    if "invalid" in res:
        print(f"perfbench: invalid run: {res['invalid']}", file=sys.stderr)
        return 3

    stream = workloads[args.workload]["kind"] == "stream"
    metrics, lines = summarize(args.workload, stream, res, sampler, spawn_at, bool(args.trace), bench)
    print("\n".join(lines))
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
