"""Spans around calls into the package's layers, plus Spark counters.

A span records name, start, end, parent and request id. Spans stay in
memory; ``Tracer.dump`` writes them out once the run is over.

Spark counters are attributed to a span by job id: a span owns every
job whose id falls in the range the DAG scheduler handed out while the
span was open. The benchmark is a single closed-loop client, so spans
that are not nested never overlap. A streaming span also records how
many jobs ran under the job group named by the query's ``runId``,
which shows how many of the stream's jobs that group captures.
Counters are read from the application status store after the run,
once the listener bus has drained, so reading them costs the traced
run nothing while it is timed.

With ``enabled=False`` every call is a no-op and no span is kept.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        """Time the enclosed call as one span. Yields the span dict (or
        a throwaway dict when tracing is off) so the caller can attach
        counts and the ``run_id`` of a streaming query."""
        if not self.enabled:
            yield {}
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": req if req is not None else (
                self.spans[self._stack[-1]]["req"] if self._stack else None
            ),
            "job0": self._next_job_id(),
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        sp["start"] = time.perf_counter() - self.t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self.t0
            sp["job1"] = self._next_job_id()
            self._stack.pop()

    # ------------------------------------------------------------ counters
    def attach_counters(self) -> None:
        """Give every span its Spark counters: jobs, stages, tasks,
        shuffle bytes, executor run and CPU seconds and GC seconds."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        stage_cache: dict[int, tuple] = {}

        def stage_row(sid: int) -> tuple:
            if sid not in stage_cache:
                try:
                    s = store.lastStageAttempt(sid)
                    stage_cache[sid] = (
                        int(s.numTasks()),
                        int(s.shuffleWriteBytes()),
                        s.executorRunTime() / 1e3,
                        s.executorCpuTime() / 1e9,
                        s.jvmGcTime() / 1e3,
                    )
                except Py4JJavaError:  # stage skipped or evicted: it ran no tasks
                    stage_cache[sid] = (0, 0, 0.0, 0.0, 0.0)
            return stage_cache[sid]

        for sp in self.spans:
            jobs = list(range(sp["job0"], sp["job1"]))
            if sp.get("run_id"):
                sp["group_jobs"] = len(tracker.getJobIdsForGroup(sp["run_id"]))
            stages: list[int] = []
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            rows = [stage_row(s) for s in stages]
            sp["jobs"] = len(jobs)
            sp["stages"] = sum(1 for r in rows if r[0])
            sp["tasks"] = sum(r[0] for r in rows)
            sp["shuffle_bytes"] = sum(r[1] for r in rows)
            sp["executor_run_s"] = sum(r[2] for r in rows)
            sp["executor_cpu_s"] = sum(r[3] for r in rows)
            sp["gc_s"] = sum(r[4] for r in rows)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        return {sp["id"]: sp["end"] - sp["start"] - child[sp["id"]] for sp in self.spans}

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: count, self seconds and summed counters. Spans
        of the warm-up requests are left out."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp.get("warm"):
                continue
            t = out[sp["name"]]
            t["n"] += 1
            t["self_s"] += selfs[sp["id"]]
            t["wall_s"] += sp["end"] - sp["start"]
            for k in ("jobs", "stages", "tasks", "shuffle_bytes",
                      "executor_run_s", "executor_cpu_s", "gc_s"):
                t[k] += sp.get(k, 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True, default=str) + "\n")
