"""Spans around the benchmark's calls into each pipeline layer, and the
Spark stage metrics each span's calls launched.

Each span runs its calls under its own Spark job group, so the jobs a
call launched are found by group, and their stages by the stage ids
those jobs list — never by the length of the status store's stage
list, which evicts old stages. A stage listed by several jobs (a
reused shuffle shows up in every later job's stage list) counts once,
for the earliest job; skipped attempts count nothing. Children set
their own group, so every span's stage totals are its own (self)
totals.

Spans stay in memory as (name, start, end, parent, run id) and are
written once, by ``write``, when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

GROUP_PROP = "spark.jobGroup.id"
STAGE_FIELDS = ("busy_s", "shuffle_write_bytes", "shuffle_read_bytes", "failed_tasks")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class StageReader:
    """Per-job-group stage totals read from Spark's status store."""

    def __init__(self, sc: SparkContext):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self.missing_stages = 0

    def drain(self) -> None:
        """Wait until the status listener has seen every event posted so
        far, so finished stages carry their final metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage(self, sid: int) -> dict[str, float]:
        jvm = self._sc._jvm
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        try:
            attempts = self._jsc.statusStore().stageData(
                sid, False, jvm.java.util.ArrayList(), False,
                self._sc._gateway.new_array(jvm.double, 0),
            )
        except Py4JJavaError:  # the store evicted the stage
            self.missing_stages += 1
            return out
        it = attempts.iterator()
        while it.hasNext():
            st = it.next()
            if st.status().toString() == "SKIPPED":
                continue
            out["busy_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["failed_tasks"] += st.numFailedTasks()
        return out

    def totals_by_group(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """Summed stage metrics per job group. A stage listed by several
        jobs belongs to the group of the earliest of them: that job
        launched it, later ones reused its output."""
        self.drain()
        tracker = self._sc.statusTracker()
        jobs = sorted(
            (job_id, g) for g in groups for job_id in tracker.getJobIdsForGroup(g)
        )
        owner: dict[int, str] = {}
        for job_id, g in jobs:
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                owner.setdefault(int(sid), g)
        out = {g: dict.fromkeys(STAGE_FIELDS, 0.0) for g in groups}
        for sid, g in owner.items():
            for k, v in self._stage(sid).items():
                out[g][k] += v
        return out


class Tracer:
    def __init__(self, sc: SparkContext, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _group(self, idx: int) -> str:
        return f"perfbench-{self.run_id}-{idx}"

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        prev_group = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, self._group(idx))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev_group)
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover
        (children of one span run one after another, never overlap)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def by_name(self, reader: StageReader) -> dict[str, dict[str, float]]:
        """Self time and self stage totals summed per span name."""
        groups = [self._group(i) for i in range(len(self.spans))]
        stages = reader.totals_by_group(groups)
        out: dict[str, dict[str, float]] = {}
        for span, own, g in zip(self.spans, self.self_times(), groups):
            acc = out.setdefault(span.name, {"s": 0.0, **dict.fromkeys(STAGE_FIELDS, 0.0)})
            acc["s"] += own
            for k, v in stages[g].items():
                acc[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
