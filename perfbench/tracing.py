"""Spans and per-call-site Spark counters, measured from outside the program.

Each traced call runs under its own job group
``<workload>/<site>/<pass>``. After the pass, the group's jobs are read
from the status tracker and their stages from the JVM status store
(``AppStatusStore.stageData``; only COMPLETE stage attempts count).
This works with the Spark UI disabled, as the program's session sets
it. The store keeps at most ``spark.ui.retainedStages`` stages, so the
benchmark raises that limit in every run, traced or not.

Spans are ``(name, start, end, parent, pass_id)`` tuples held in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    pass_id: str
    group: str | None  # job group, traced spans only


@dataclass
class Tracer:
    spark: object
    workload: str
    cores: int
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, pass_id: str, traced: bool):
        """Time `name`; with `traced`, run its Spark jobs under a job
        group of their own (restoring the enclosing group after)."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        group = f"{self.workload}/{name}/{pass_id}" if traced else None
        if group:
            sc.setJobGroup(group, name)
        s = Span(name, time.perf_counter(), 0.0, parent.name if parent else None, pass_id, group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if group:
                if parent is not None and parent.group:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc._jsc.clearJobGroup()

    def counters(self, s: Span) -> dict[str, float]:
        """The seven per-call-site counters of a traced span."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(s.group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        gw = sc._gateway
        store = jsc.statusStore()
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        run_ms = cpu_ns = gc_ms = shuffle_b = 0
        stages = 0
        for sid in stage_ids:
            it = store.stageData(sid, False, no_status, False, no_quantiles).iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() != "COMPLETE":
                    continue
                stages += 1
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                gc_ms += st.jvmGcTime()
                shuffle_b += st.shuffleWriteBytes()
        wall = s.end - s.start
        return {
            "wall_s": wall,
            "jobs": len(job_ids),
            "stages": stages,
            "cpu_s": cpu_ns / 1e9,
            "run_s": run_ms / 1e3,
            "busy_frac": run_ms / 1e3 / (wall * self.cores) if wall > 0 else 0.0,
            "gc_s": gc_ms / 1e3,
            "shuffle_mb": shuffle_b / 1e6,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "pass_id": s.pass_id,
                }) + "\n")
