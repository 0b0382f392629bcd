"""Spans around the benchmark's calls into the library.

A span records name, start, end and its parent span.  When tracing is on,
each span also sets a Spark job group on the calling thread and, on exit,
reads Spark's status tracker for the jobs started during its interval, with
their stages and tasks.  The library starts some jobs from its own worker
threads, which carry no job group, and a streaming query runs its jobs
under its own run id, which the caller registers with :meth:`watch`; so a
span owns every job in those groups whose id is newer than the newest job
at its start — exact for the benchmark's single closed-loop client.
Spans stay in memory until the run ends.

The untraced run uses :data:`OFF`, whose ``span`` is a no-op.
"""

from __future__ import annotations

import contextlib
import time

from stats import self_times

GROUP = "perfbench"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = [GROUP, None]

    def watch(self, group: str) -> None:
        """Count the jobs of another job group too (a streaming query's)."""
        if group not in self._groups:
            self._groups.append(group)

    def _job_ids(self) -> list[int]:
        st = self.sc.statusTracker()
        return [j for g in self._groups for j in st.getJobIdsForGroup(g)]

    def _spark_counts(self, newest: int) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in self._job_ids():
            if jid <= newest:
                continue
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return jobs, stages, tasks

    @contextlib.contextmanager
    def span(self, name: str):
        newest = max(self._job_ids(), default=-1)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(GROUP, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"], rec["stages"], rec["tasks"] = self._spark_counts(newest)
            if parent is not None:
                self.sc.setJobGroup(GROUP, self.spans[parent]["name"])

    def calls(self) -> dict[str, list[dict[str, float]]]:
        """Per span name, one record per call: self time and self Spark
        job/stage/task counts (the span's counts minus its children's)."""
        keys = ("jobs", "stages", "tasks")
        own = [{k: s[k] for k in keys} for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                for k in keys:
                    own[s["parent"]][k] -= s[k]
        out: dict[str, list[dict[str, float]]] = {}
        for s, self_s, counts in zip(self.spans, self_times(self.spans), own):
            out.setdefault(s["name"], []).append(
                {"self_s": self_s, **{f"spark_{k}": v for k, v in counts.items()}})
        return out


class _Off:
    @staticmethod
    def span(name: str):
        return contextlib.nullcontext()

    @staticmethod
    def watch(group: str) -> None:
        pass


OFF = _Off()
