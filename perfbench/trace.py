"""Spans around the benchmark's calls into the library, with Spark's own
status-store counters taken at the same boundaries.

Nothing here reaches inside ``ubparquet_spark``: a span is opened by the
benchmark around a public call, tags every Spark job the call starts with a
job group of its own, and on exit sums the stage data of those jobs from
the application status store. Spans stay in memory; ``write`` stores them,
each with its self time, as JSON lines when the run ends.

With tracing off, ``span`` is a no-op context manager, so untraced runs pay
nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections.abc import Iterator

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_write_b",
    "shuffle_read_b",
    "spill_b",
    "input_b",
    "input_records",
    "output_b",
    "planning_ms",
    "result_rows",
)


class Tracer:
    _ids = itertools.count()

    def __init__(self, spark, enabled: bool, workload: str) -> None:
        # job groups must not repeat across tracers of one session
        self._group = f"perfbench-{next(Tracer._ids)}"
        self.enabled = enabled
        self.workload = workload
        self.pass_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore() if enabled else None
        self._jvm = spark._jvm

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "workload": self.workload,
            "pass": self.pass_id,
            **attrs,
            "counters": dict.fromkeys(COUNTERS, 0),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self._group}-{rec['id']}"
        self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(f"{self._group}-{parent['id']}", parent["name"])
            else:
                self._sc.setJobGroup(f"{self._group}-outside", "outside any span")
            self._add_stage_counters(rec, group)

    def _add_stage_counters(self, rec: dict, group: str) -> None:
        c = rec["counters"]
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else ():
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["run_ms"] += st.executorRunTime()
                c["cpu_ns"] += st.executorCpuTime()
                c["gc_ms"] += st.jvmGcTime()
                c["shuffle_write_b"] += st.shuffleWriteBytes()
                c["shuffle_read_b"] += st.shuffleReadBytes()
                c["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_b"] += st.inputBytes()
                c["input_records"] += st.inputRecords()
                c["output_b"] += st.outputBytes()

    def note_collect(self, rec: dict | None, df, n_rows: int) -> None:
        """Add Catalyst planning time and result rows of a collected frame."""
        if rec is None:
            return
        phases = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases()
        )
        rec["counters"]["planning_ms"] += sum(
            phases.get(k).durationMs() for k in phases.keySet()
        )
        rec["counters"]["result_rows"] += n_rows

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time as ``self_s``."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec | {"self_s": own[rec["id"]]}, sort_keys=True) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def totals(spans: list[dict]) -> dict[str, float]:
    """Counters summed over ``spans`` (each span holds only its own jobs)."""
    out = dict.fromkeys(COUNTERS, 0)
    for s in spans:
        for k, v in s["counters"].items():
            out[k] += v
    return out
