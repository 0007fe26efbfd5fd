"""Spans and Spark counters for the traced benchmark run.

A span wraps one call the benchmark makes into a layer of the program
(or one action that materialises a layer's DataFrame). It records its
name, start, end, parent and run id. Each span runs under a Spark job
group of its own, so the jobs it triggered are read back from the
status tracker and status store after the request, outside its wall
time. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

#: Spark counters summed over a set of job groups
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "python_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "task_max_over_median",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    group: str
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0  # time covered by direct children
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Nested spans on one thread, each under its own job group."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.sid if parent else None, self.run_id,
                 f"{self.run_id}:{sid}:{name}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.dur
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, root: Span) -> list[Span]:
        """root and every span below it (spans are appended in start
        order, so a subtree is a contiguous run after its root)."""
        out, ids = [root], {root.sid}
        for s in self.spans[root.sid + 1:]:
            if s.parent not in ids:
                break
            out.append(s)
            ids.add(s.sid)
        return out

    def read_spark(self, spans: list[Span]) -> None:
        """Fill span.spark with the counters of the jobs run under each
        span's own group. Call after the traced request has returned."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for s in spans:
            c = dict.fromkeys(SPARK_KEYS, 0.0)
            seen = set()
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # evicted from the status store
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    run_s = st.executorRunTime() / 1e3
                    cpu_s = st.executorCpuTime() / 1e9
                    c["executor_run_s"] += run_s
                    c["executor_cpu_s"] += cpu_s
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                    c["spill_mb"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / 1e6
                    dist = store.taskSummary(sid, st.attemptId(), quantiles)
                    if dist.isDefined():
                        q = dist.get().executorRunTime()
                        med, mx = q.apply(0), q.apply(1)
                        if med > 0:
                            c["task_max_over_median"] = max(
                                c["task_max_over_median"], mx / med)
            # executor run time minus JVM CPU time: mostly Arrow
            # transfer and Python worker time (UDF bodies)
            c["python_s"] = max(c["executor_run_s"] - c["executor_cpu_s"], 0.0)
            s.spark = c

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = s.self_s
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)


def sum_spark(spans: list[Span]) -> dict:
    """Spark counters of several spans: sums, except the skew ratio,
    which is the worst stage's."""
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    for s in spans:
        for k, v in s.spark.items():
            if k == "task_max_over_median":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
