"""Spans and Spark status-store counts for the benchmark's traced run.

A span tree is kept in memory and written when the run ends:
run -> call -> plan / exec -> Spark job. Job spans come from the status
store's submit/complete times.

Jobs are attributed to a call by job-id window: the DAG scheduler's
next job id is read before and after the call, and every job in between
belongs to it. The benchmark drives the engine from one client thread,
so the window is exact even where the engine submits jobs from its own
thread pools (build_index and compact_indexes do), whose threads do not
inherit a job group.

A stage is read only once its status is COMPLETE, SKIPPED or FAILED, and
no ordering of the store's stage lists is assumed: stages are looked up
by id from each job. Each (stage, attempt) is counted once per run, for
the first call whose jobs list it, so a stage reused by a later job is
not counted twice.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

FINAL_JOB = {"SUCCEEDED", "FAILED"}
FINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class StatusStore:
    """Reads jobs and stage attempts from the driver's AppStatusStore.

    Works with the Spark UI disabled: the store is the listener-fed
    key-value store the UI and REST API serve from."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        module = getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = (self._jvm.com.fasterxml.jackson.databind
                        .ObjectMapper().registerModule(module))
        self._no_tasks = self._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    def next_job_id(self) -> int:
        """Id the next submitted job will get (exact, not listener-fed)."""
        return int(self._sc.dagScheduler().nextJobId())

    def _json(self, obj) -> dict | list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def job(self, job_id: int) -> dict | None:
        try:
            return self._json(self._store.job(job_id))
        except Exception as e:  # py4j error: job not in the store yet
            if "NoSuchElementException" in str(e):
                return None
            raise

    def stage_attempts(self, stage_id: int) -> list[dict]:
        try:
            return self._json(self._store.stageData(
                stage_id, False, self._no_tasks, False, self._no_quantiles))
        except Exception as e:
            if "NoSuchElementException" in str(e):
                return []
            raise

    def final_jobs(self, lo: int, hi: int, timeout_s: float = 30.0
                   ) -> tuple[list[dict], dict[int, list[dict]], int]:
        """Jobs with ids in [lo, hi) and their stage attempts, read once
        every job and stage attempt is final. The listener bus lags the
        scheduler, so this polls. Returns (jobs, attempts by stage id,
        number of jobs or stages still not final at the timeout)."""
        deadline = time.monotonic() + timeout_s
        jobs: dict[int, dict] = {}
        stages: dict[int, list[dict]] = {}
        while True:
            pending = 0
            for jid in range(lo, hi):
                if jid in jobs:
                    continue
                j = self.job(jid)
                if j is None or j.get("status") not in FINAL_JOB:
                    pending += 1
                    continue
                jobs[jid] = j
            for j in jobs.values():
                for sid in j.get("stageIds", []):
                    if sid in stages:
                        continue
                    atts = self.stage_attempts(sid)
                    if atts and all(a.get("status") in FINAL_STAGE for a in atts):
                        stages[sid] = atts
                    else:
                        pending += 1
            if not pending or time.monotonic() > deadline:
                return [jobs[k] for k in sorted(jobs)], stages, pending
            time.sleep(0.02)


@dataclass
class Span:
    name: str
    kind: str                 # run | call | plan | exec | job
    start: float              # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder. Disabled, it records nothing and costs nothing;
    enabled, it reads the status store after each call and accounts the
    time that reading takes as tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counted: set[tuple[int, int]] = set()
        self.unfinalized = 0
        self.overhead_s = 0.0
        self._store = StatusStore(spark) if enabled else None
        self._run = None
        if enabled:
            self._run = self._add(Span("run", "run", time.time(), 0.0))

    def _add(self, span: Span) -> int:
        self.spans.append(span)
        return len(self.spans) - 1

    def job_mark(self) -> int | None:
        return self._store.next_job_id() if self.enabled else None

    def record_call(self, name: str, t0: float, t1: float, t2: float,
                    marks: tuple[int, int, int] | None, attrs: dict) -> dict:
        """Record a call span [t0, t2] with plan [t0, t1] and exec
        [t1, t2] children and the jobs each phase submitted. Returns the
        call's Spark counts (empty when tracing is off)."""
        if not self.enabled:
            return {}
        o0 = time.perf_counter()
        call = self._add(Span(name, "call", t0, t2, self._run, dict(attrs)))
        plan = self._add(Span(name + ":plan", "plan", t0, t1, call))
        exe = self._add(Span(name + ":exec", "exec", t1, t2, call))
        m0, m1, m2 = marks
        jobs, stages, pending = self._store.final_jobs(m0, m2)
        self.unfinalized += pending
        counts = {"jobs": len(jobs), "tasks": 0, "shuffle_bytes": 0,
                  "run_ms": 0, "input_records": 0, "spill_bytes": 0}
        intervals = []
        for j in jobs:
            js, je = j.get("submissionTime"), j.get("completionTime")
            if js is not None and je is not None:
                intervals.append((js / 1e3, je / 1e3))
                self._add(Span(f"job {j['jobId']}", "job", js / 1e3, je / 1e3,
                               plan if j["jobId"] < m1 else exe,
                               {"description": j.get("description")}))
            for sid in j.get("stageIds", []):
                for a in stages.get(sid, []):
                    key = (a["stageId"], a["attemptId"])
                    if key in self.counted or a["status"] == "SKIPPED":
                        continue
                    self.counted.add(key)
                    counts["tasks"] += (a["numCompleteTasks"] + a["numFailedTasks"]
                                        + a["numKilledTasks"])
                    counts["shuffle_bytes"] += a["shuffleWriteBytes"]
                    counts["run_ms"] += a["executorRunTime"]
                    counts["input_records"] += a["inputRecords"]
                    counts["spill_bytes"] += (a["memoryBytesSpilled"]
                                              + a["diskBytesSpilled"])
        counts["job_s"] = _union_s(intervals, t0, t2)
        counts["self_s"] = (t2 - t0) - counts["job_s"]
        self.spans[call].attrs.update(counts)
        self.overhead_s += time.perf_counter() - o0
        return counts

    def close(self) -> list[dict]:
        if self.enabled:
            self.spans[self._run].end = time.time()
        return [{"id": i, **s.__dict__} for i, s in enumerate(self.spans)]
