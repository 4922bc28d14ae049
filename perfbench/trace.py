"""Spans around the benchmark's calls into the library, attributed to Spark
jobs through Spark's own status store.

A span records name, start, end, parent and container CPU. While a span is
open on the calling thread its id is that thread's Spark job group, so every
job the call issues carries it. Jobs issued from threads the benchmark does
not own (the HTTP server's handler threads, the streaming query thread)
carry another group or none; they go to the innermost span open when they
were submitted. After the run, `attribute` reads the jobs and stages from
the SparkContext's AppStatusStore (the store behind the status tracker and
the REST API, kept even with the UI disabled) and sums tasks, executor CPU
and shuffle bytes per span. Spans stay in memory until `write`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from perfbench.system import cpu_seconds

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder. With enabled=False every span is a no-op, so the
    untraced run pays nothing for the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "_cpu0": cpu_seconds(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["cpu_s"] = cpu_seconds() - rec.pop("_cpu0")
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def attribute(self) -> None:
        """Attach jobs, tasks, executor CPU, shuffle bytes and job-idle time
        (span wall not covered by any running job: driver-side planning,
        Python and py4j) to every span, inclusive of its children."""
        if not self.enabled or self._sc is None:
            return
        t = time.perf_counter()
        jobs, stages = _read_status_store(self._sc)
        by_id = {s["id"]: s for s in self.spans}
        own: dict[int, list[dict]] = {s["id"]: [] for s in self.spans}
        for job in jobs:
            sid = _group_span(job["group"])
            if sid not in by_id:
                sid = self._innermost_open(job["submitted"])
            if sid is not None:
                own[sid].append(job)
        stage_owner: dict[int, int] = {}
        for job in sorted(jobs, key=lambda j: j["id"]):
            for st in job["stages"]:
                stage_owner.setdefault(st, job["id"])
        for s in self.spans:
            mine = [j for d in self._subtree(s["id"]) for j in own[d]]
            ids = {j["id"] for j in mine}
            tot = {"tasks": 0, "executor_cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
            for st_id, st in stages.items():
                if stage_owner.get(st_id) in ids:
                    for k in tot:
                        tot[k] += st[k]
            s["jobs"] = len(mine)
            s.update(tot)
            s["job_idle_s"] = max(0.0, s["wall_s"] - _covered(mine, s["start"], s["end"]))
        self.overhead_s += time.perf_counter() - t

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c["id"] for c in self.children(cur))
        return out

    def _innermost_open(self, at: float) -> int | None:
        best = None
        for s in self.spans:
            if s["start"] <= at <= s.get("end", float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1, default=str)


def _group_span(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def _covered(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    iv = sorted(
        (max(j["submitted"], start), min(j["completed"], end))
        for j in jobs
        if j["completed"] is not None
    )
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the live AppStatusStore through py4j."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub = _opt(j.submissionTime())
        done = _opt(j.completionTime())
        jobs.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "submitted": sub.getTime() / 1000 if sub is not None else 0.0,
            "completed": done.getTime() / 1000 if done is not None else None,
            "stages": _seq(j.stageIds()),
        })
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages: dict[int, dict] = {}
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if st.status().toString() != "COMPLETE":
            continue
        rec = stages.setdefault(st.stageId(), {
            "tasks": 0, "executor_cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        })
        rec["tasks"] += st.numCompleteTasks()
        rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
        rec["shuffle_read_bytes"] += st.shuffleReadBytes()
        rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return jobs, stages
