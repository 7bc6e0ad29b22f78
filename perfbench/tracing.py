"""Spans and Spark counters recorded from outside the engine.

A span is a named interval around one call the benchmark makes into a
package module. Spans are kept in memory and written with the run
record. In a traced run every span also runs its Spark jobs under a
job group of its own (set on the calling thread), and `harvest` reads
the jobs, stages and stage metrics of each group back from Spark's
status tracker and status store. An untraced run keeps the timestamps
only, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

# Stage fields summed into a span's counters (Spark v1 StageData getters).
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, run_id: str, traced: bool) -> None:
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    def begin(self, name: str, layer: str, **attrs) -> dict:
        """Open a span inside the innermost open one. A span with
        `by_interval=True` counts all jobs started while it is open
        instead of its job group's: streaming runs its batches under a
        job group of its own, and a job group does not follow work
        handed to other threads."""
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, **attrs}
        if self.traced and self.sc is not None:
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            if attrs.get("by_interval"):
                rec["job0"] = self._jobs_so_far()
        self._stack.append(rec)
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        return rec

    def _jobs_so_far(self) -> int:
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def finish(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        if "job0" in rec:
            rec["job1"] = self._jobs_so_far()
        self._stack.remove(rec)
        if "group" in rec:
            outer = next((s for s in reversed(self._stack) if "group" in s),
                         None)
            if outer is not None:
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = self.begin(name, layer, **attrs)
        try:
            yield rec
        finally:
            self.finish(rec)

    def harvest(self) -> None:
        """Attach Spark counters to every closed span of the live
        context that has none yet. Call before the context stops."""
        if not self.traced or self.sc is None:
            return
        todo = [s for s in self.spans
                if "group" in s and "end" in s and "jobs" not in s]
        if not todo:
            return
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageList(None, False, False,
                              getattr(store, "stageList$default$4")(), None)
        stages = {}
        for i in range(seq.size()):
            sd = seq.apply(i)
            if sd.attemptId() == 0:
                stages[sd.stageId()] = {k: int(getattr(sd, f)())
                                        for k, f in _STAGE_FIELDS.items()}
        tracker = self.sc.statusTracker()
        for s in todo:
            jobs = tracker.getJobIdsForGroup(s["group"])
            if "job0" in s:
                # every job started while the span was open, on any
                # thread and under any job group; `group_jobs` keeps
                # the count of the span's own group
                s["group_jobs"] = len(jobs)
                jobs = list(range(s["job0"], s["job1"]))
            ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    ids.update(info.stageIds)
            s["jobs"] = len(jobs)
            s["stages"] = len(ids)
            for k in _STAGE_FIELDS:
                s[k] = sum(stages[i][k] for i in ids if i in stages)


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(k["start"], span["start"]),
                          min(k["end"], span["end"])) for k in kids
                         if "end" in k):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span["end"] - span["start"] - covered


def inclusive(span: dict, kids_of: dict[int, list[dict]],
              key: str) -> int:
    """A counter over the span and all its descendants."""
    return span.get(key, 0) + sum(inclusive(k, kids_of, key)
                                  for k in kids_of.get(span["id"], []))


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    kids_of = children(spans)
    out: dict[str, float] = {}
    for s in spans:
        if "end" in s:
            out[s["layer"]] = out.get(s["layer"], 0.0) + self_time(
                s, kids_of.get(s["id"], []))
    return out
