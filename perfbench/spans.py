"""Spans for the benchmark's traced pass.

A span wraps one call into a layer. It sets a Spark job group from the
calling thread and attributes to the span every job whose id falls inside
its window: the benchmark is the only client of the session, and the
pipeline's pool threads do not inherit the group, so job ids are the only
attribution that also covers them. Stage metrics come from the JVM status
store (``statusStore().lastStageAttempt``), which works with the UI
disabled. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

BASE_METRICS = ("wall_s", "jobs", "tasks", "task_s", "shuffle_mb", "spill_mb")


def _files(root: str | None) -> dict[str, tuple[int, int]]:
    out = {}
    if root is None:
        return out
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    def _drain(self) -> None:
        # job and stage end events reach the status store asynchronously
        self._ssc.listenerBus().waitUntilEmpty()

    def _last_job_id(self) -> int:
        jobs = self._ssc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _window_metrics(self, after_job: int) -> dict:
        store = self._ssc.statusStore()
        jobs = store.jobsList(None)
        job_ids, stage_ids = [], set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= after_job:
                break
            job_ids.append(j.jobId())
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        m = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "input_bytes": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # evicted from the status store
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            m["task_s"] += sd.executorRunTime() / 1000.0
            m["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            m["spill_mb"] += sd.diskBytesSpilled() / 1e6
            m["input_bytes"] += sd.inputBytes()
        return m

    @contextmanager
    def span(self, layer: str, call: str, watch_dir: str | None = None):
        """Time one layer call. ``watch_dir``: count the files the call
        writes under it (new or rewritten, by size and mtime)."""
        self._drain()
        first = self._last_job_id()
        before = _files(watch_dir)
        rec = {"layer": layer, "call": call,
               "parent": self._open[-1] if self._open else None,
               "id": len(self.spans) + len(self._open), "extra": {}}
        self._open.append(rec["id"])
        self.sc.setJobGroup(f"perfbench:{layer}", call)
        t = time.perf_counter()
        rec["start_s"] = t - self.t0
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t
            rec["end_s"] = rec["start_s"] + rec["wall_s"]
            self.sc.setJobGroup("perfbench:untraced", "")
            self._open.pop()
            self._drain()
            rec.update(self._window_metrics(first))
            if watch_dir is not None:
                after = _files(watch_dir)
                written = [p for p, v in after.items() if before.get(p) != v]
                rec["files_written"] = len(written)
                rec["bytes_written"] = sum(after[p][0] for p in written)
                rec["shards_written"] = len({
                    os.path.dirname(p) for p in written
                    if os.path.basename(os.path.dirname(p)).startswith("_shard=")})
                rec["markers_written"] = sum(
                    p.endswith(".marker.json") for p in written)
            self.spans.append(rec)

    def layer_totals(self) -> dict[str, dict]:
        """Base metrics summed over every span of each layer."""
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s["layer"], dict.fromkeys(BASE_METRICS, 0))
            for k in BASE_METRICS:
                t[k] += s[k]
        return out

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1)
