"""In-memory spans around calls into the package's layers.

A span records its name, the op it belongs to, its parent span, start
and end (``time.perf_counter`` seconds) and free-form counts. Each
span tags the Spark jobs it triggers with its own job group
(``SparkContext.setJobGroup``); :meth:`Tracer.resolve` reads the job,
task and failed-task counts of every group from the status tracker
once the run is over, so no status query runs inside a timed region.
Nothing here reaches into the package: spans wrap its public calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def resolve(self) -> None:
        """Attach ``spark_jobs`` / ``spark_tasks`` / ``failed_tasks``
        (this span's own jobs, not its children's) to every span."""
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            jobs = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                jobs += 1
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            rec["counts"].update(
                spark_jobs=jobs, spark_tasks=tasks, failed_tasks=failed
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class NoTrace:
    """Stand-in for :class:`Tracer` in untraced runs: records nothing
    and issues no Spark calls."""

    @contextmanager
    def span(self, name: str, op: int | None = None):
        yield {"counts": {}}
