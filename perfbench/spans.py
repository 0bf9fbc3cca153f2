"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
around each catalog query's plan build (plans), every ``load_table``
call (sources), each ``cache.memo_count`` call and ``cache.release``
(cache) and the noop action (operators). One query is one trace. Spans stay in memory and are written once, when the
run ends. The stream workload needs no spans: Spark's progress event of
each micro-batch already records its phases, and the run writes those
events as its trace.

Spark counters come from the job group each phase runs under:
``statusTracker`` lists a group's jobs and their stages, and the
application status store (present with the UI disabled) holds each
stage's task metrics.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

IDLE_GROUP = "perfbench-idle"


class Tracer:
    """In-memory span recorder. A span's layer is its name up to the
    first dot (``plans.build`` belongs to ``plans``)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: the summed duration of its spans minus the parts
        of those intervals their child spans cover."""
        child_cover: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(child_cover.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["name"].split(".", 1)[0]] += (s["end"] - s["start"]) - covered
        return dict(out)


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_s": "executorRunTime",  # ms
    "executor_cpu_s": "executorCpuTime",  # ns
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class SparkCounters:
    """Job-group bookkeeping plus per-stage task metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._groups: list[str] = [IDLE_GROUP]
        self.set_group(IDLE_GROUP)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextmanager
    def group(self, name: str):
        """Run the body under job group ``name``, then restore the
        enclosing group (nested loads inside a plan build)."""
        self._groups.append(name)
        self.set_group(name)
        try:
            yield
        finally:
            self._groups.pop()
            self.set_group(self._groups[-1])

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages just run."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Executed stages and summed task metrics over ``job_ids``."""
        out = {"stages": 0, **{k: 0.0 for k in _STAGE_FIELDS}}
        seen: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # the store holds no attempt of this stage
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter in _STAGE_FIELDS.items():
                    out[key] += float(getattr(st, getter)())
        out["executor_run_s"] /= 1e3
        out["executor_cpu_s"] /= 1e9
        return out


class QueryProbes:
    """Wrappers around the package's ``load_table`` and
    ``cache.memo_count`` that open a span and a job group per call.

    ``load_table`` is bound by name into every ``plans.*`` module (and
    used inside ``sources.catalog``), so it is replaced in every loaded
    package module that holds it; ``memo_count`` is always reached as
    ``C.memo_count``, so the ``cache`` module attribute is enough.
    """

    def __init__(self, tracer: Tracer, counters: SparkCounters) -> None:
        from flink_start_spark import cache
        from flink_start_spark.sources import catalog

        self.tracer, self.counters = tracer, counters
        self._cache = cache
        self._orig_load = catalog.load_table
        self._orig_memo = cache.memo_count
        self.query: str = ""
        self.load_groups: list[str] = []
        self.memo_groups: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, query: str) -> None:
        self.query, self.load_groups, self.memo_groups = query, [], []

    def _load(self, *args, **kwargs):
        g = f"{self.query}:load:{len(self.load_groups)}"
        self.load_groups.append(g)
        with self.counters.group(g), self.tracer.span("sources.load_table"):
            return self._orig_load(*args, **kwargs)

    def _memo(self, df):
        g = f"{self.query}:memo:{len(self.memo_groups)}"
        self.memo_groups.append(g)
        with self.counters.group(g), self.tracer.span("cache.memo_count"):
            return self._orig_memo(df)

    def install(self) -> None:
        for name, mod in list(sys.modules.items()):
            if name.startswith("flink_start_spark") and getattr(mod, "load_table", None) is self._orig_load:
                self._patched.append((mod, "load_table", self._orig_load))
                mod.load_table = self._load
        self._patched.append((self._cache, "memo_count", self._orig_memo))
        self._cache.memo_count = self._memo

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
