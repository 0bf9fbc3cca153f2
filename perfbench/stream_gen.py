"""Open-loop user-activity generator for the ``stream-activity`` workload.

Runs as its own process. Before the clock starts it renders every file
it may write: JSON-lines in the reference's O1 shape
(``{"userId", "activity", "timestamp"}``), one file per ``--tick-seconds``
at a fixed event rate, users drawn from a Zipf law of exponent
``--zipf-s`` over ``--users`` ids, event times out of order by up to
``--disorder-seconds`` (inside the 500 ms watermark), and, from
``--late-after-seconds`` on, a ``--late-share`` of events placed between
the two ``--late-lag-seconds`` in the past, behind the watermark. Every
parameter is a required flag: ``perfbench/workloads.json`` is their one
source.

Then it waits for a start time on stdin and writes file ``k`` at
``start + k * tick`` whatever the consumer does: each file is written
under ``tmp/`` and renamed into ``in/``, so the source never sees a
partial file. When ``STOP`` appears in its directory (or the scheduled
files run out) it publishes ``--burst-files`` more files at once, a
backlog whose drain rate measures capacity, and exits. It records in
``generator.json`` how many files, events and intentionally late events
it wrote and how late it ran (``late_s``: the largest write time past a
file's schedule).

Event times are ``EPOCH0 + k * tick - jitter``: the same seed and
parameters give byte-identical files, independent of when the run
happens.

    python3 perfbench/stream_gen.py --dir D --seed N --rate EPS --max-seconds S \
        --late-after-seconds L --tick-seconds T --users U --zipf-s Z \
        --disorder-seconds J --late-share F --late-lag-seconds LO HI --burst-files B
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

EPOCH0_S = 1_704_067_200  # 2024-01-01T00:00:00Z
ACTIVITIES = np.array(["register", "login", "click", "logout"])


def render(seed: int, rate: int, n_files: int, late_after_files: int, *, tick_s: float,
           users: int, zipf_s: float, disorder_s: float, late_share: float,
           late_lag_s: tuple[float, float]) -> list[tuple[bytes, int]]:
    """Per file: (its JSON lines, how many of them are late)."""
    rng = np.random.default_rng(seed)
    per_file = max(1, round(rate * tick_s))
    ranks = np.arange(1, users + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -zipf_s)
    cdf /= cdf[-1]
    user_of_rank = rng.permutation(users)
    out = []
    for k in range(n_files):
        base_ms = (EPOCH0_S + k * tick_s) * 1000.0
        uid = user_of_rank[np.searchsorted(cdf, rng.random(per_file))]
        act = ACTIVITIES[rng.integers(0, len(ACTIVITIES), per_file)]
        lag = rng.uniform(0.0, disorder_s, per_file)
        late = np.zeros(per_file, dtype=bool)
        if k >= late_after_files:
            late = rng.random(per_file) < late_share
            lag[late] = rng.uniform(*late_lag_s, int(late.sum()))
        ts = np.datetime_as_string(
            np.round(base_ms - lag * 1000.0).astype("int64").astype("datetime64[ms]"), unit="ms"
        )
        lines = [
            f'{{"userId":"user{u}","activity":"{a}","timestamp":"{t}Z"}}\n'
            for u, a, t in zip(uid.tolist(), act.tolist(), ts.tolist())
        ]
        out.append(("".join(lines).encode(), int(late.sum())))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--max-seconds", type=float, required=True)
    ap.add_argument("--late-after-seconds", type=float, required=True)
    ap.add_argument("--tick-seconds", type=float, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--zipf-s", type=float, required=True)
    ap.add_argument("--disorder-seconds", type=float, required=True)
    ap.add_argument("--late-share", type=float, required=True)
    ap.add_argument("--late-lag-seconds", type=float, nargs=2, required=True)
    ap.add_argument("--burst-files", type=int, required=True)
    a = ap.parse_args()

    tick = a.tick_seconds
    n_files = int(a.max_seconds / tick)
    files = render(a.seed, a.rate, n_files + a.burst_files, int(a.late_after_seconds / tick),
                   tick_s=tick, users=a.users, zipf_s=a.zipf_s, disorder_s=a.disorder_seconds,
                   late_share=a.late_share, late_lag_s=tuple(a.late_lag_seconds))
    in_dir, tmp_dir = os.path.join(a.dir, "in"), os.path.join(a.dir, "tmp")
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    stop_path = os.path.join(a.dir, "STOP")
    print("ready", flush=True)
    start = float(sys.stdin.readline())

    def publish(k: int) -> None:
        tmp = os.path.join(tmp_dir, f"{k:06d}.json")
        with open(tmp, "wb") as f:
            f.write(files[k][0])
        os.rename(tmp, os.path.join(in_dir, f"{k:06d}.json"))

    late_s, burst_from = 0.0, n_files
    for k in range(n_files):
        if os.path.exists(stop_path):
            burst_from = k
            break
        due = start + k * tick
        now = time.time()
        if now < due:
            time.sleep(due - now)
        publish(k)
        late_s = max(late_s, time.time() - due)
    for k in range(burst_from, burst_from + a.burst_files):
        publish(k)
    written = burst_from + a.burst_files

    with open(os.path.join(a.dir, "generator.json"), "w") as f:
        json.dump({
            "start": start, "tick_s": tick, "files": written, "burst_from": burst_from,
            "events": sum(body.count(b"\n") for body, _ in files[:written]),
            "late_events": sum(n for _, n in files[:written]), "late_s": late_s,
        }, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
