"""Spark execution read back from the driver's AppStatusStore.

Jobs and stages are fetched as JSON (one py4j call each, serialized by
Spark's own Jackson mapper), so a read costs the same whether an op ran
5 jobs or 500.  Reads happen between ops, outside the timed region.

A broadcast build is a job carrying Spark's ``broadcast exchange``
job tag, which the BroadcastExchange plan node sets: the count follows
the plan, not a callsite string.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from spans import union_length


# Structured Streaming sets every job of a micro-batch (foreachBatch
# bodies included) to this description.
_BATCH_DESC = re.compile(r"id = ([0-9a-f-]+)\nrunId = [0-9a-f-]+\nbatch = (\d+)")


class InstrumentationError(RuntimeError):
    """A counter that must be nonzero read zero, or the store dropped
    jobs before they were read: the run aborts instead of reporting."""


@dataclass
class Window:
    """Everything Spark ran between two reads."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @property
    def n_jobs(self) -> int:
        return len(self.jobs)

    @property
    def bcast_builds(self) -> int:
        return sum(
            any(t.startswith("broadcast exchange") for t in (j.get("jobTags") or []))
            for j in self.jobs
        )

    def _sum(self, key: str) -> float:
        return float(sum(s.get(key) or 0 for s in self.stages))

    @property
    def n_stages(self) -> int:
        return sum(s.get("status") == "COMPLETE" for s in self.stages)

    @property
    def n_tasks(self) -> int:
        return int(self._sum("numCompleteTasks"))

    @property
    def task_s(self) -> float:
        return self._sum("executorRunTime") / 1e3

    @property
    def gc_s(self) -> float:
        return self._sum("jvmGcTime") / 1e3

    @property
    def shuffle_write_mb(self) -> float:
        return self._sum("shuffleWriteBytes") / 1e6

    @property
    def spill_mb(self) -> float:
        return (self._sum("memoryBytesSpilled") + self._sum("diskBytesSpilled")) / 1e6

    @property
    def input_mb(self) -> float:
        return self._sum("inputBytes") / 1e6

    @property
    def written_mb(self) -> float:
        return self._sum("outputBytes") / 1e6

    def split(self, at: float) -> tuple["Window", "Window"]:
        """(jobs submitted before epoch second ``at``, the rest), each with
        its own stages."""
        before = [j for j in self.jobs if (j.get("submissionTime") or 0) / 1e3 < at]
        after = [j for j in self.jobs if (j.get("submissionTime") or 0) / 1e3 >= at]

        def stages_of(jobs: list[dict]) -> list[dict]:
            ids = {s for j in jobs for s in j.get("stageIds") or []}
            return [s for s in self.stages if s["stageId"] in ids]

        return Window(before, stages_of(before)), Window(after, stages_of(after))

    def batch_end(self, query_id: str, batch_id: int) -> float | None:
        """Epoch second the last job of one micro-batch completed."""
        ends = [
            j["completionTime"] / 1e3
            for j in self.jobs
            if j.get("completionTime") is not None
            and (m := _BATCH_DESC.search(j.get("description") or ""))
            and (m.group(1), int(m.group(2))) == (query_id, batch_id)
        ]
        return max(ends, default=None)

    def job_intervals(self) -> list[tuple[float, float]]:
        """(start, end) epoch seconds of every job that has both."""
        out = []
        for j in self.jobs:
            s, e = j.get("submissionTime"), j.get("completionTime")
            if s is not None and e is not None:
                out.append((s / 1e3, e / 1e3))
        return out

    def covered_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one job ran."""
        return union_length((max(s, start), min(e, end)) for s, e in self.job_intervals())


class StatusReader:
    """Incremental reader: each :meth:`read` returns the jobs (and their
    stages) submitted since the previous read."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_job = max((j["jobId"] for j in self._jobs()), default=-1)

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def _jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far (job ends, stream progress), so a read sees finished jobs."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _new_jobs(self, strict: bool = True) -> list[dict]:
        self.drain()
        jobs = [j for j in self._jobs() if j["jobId"] > self._last_job]
        if not jobs:
            return []
        ids = sorted(j["jobId"] for j in jobs)
        if strict and ids[0] != self._last_job + 1 or len(ids) != ids[-1] - ids[0] + 1:
            raise InstrumentationError(
                f"AppStatusStore dropped jobs between reads: expected ids from "
                f"{self._last_job + 1}, store holds {ids[0]}..{ids[-1]} ({len(ids)} of them); "
                f"raise spark.ui.retainedJobs or read more often"
            )
        self._last_job = ids[-1]
        return jobs

    def skip(self, strict: bool = True) -> None:
        """Advance past every job so far without reading its stages;
        ``strict=False`` also tolerates jobs the store already dropped."""
        self._new_jobs(strict)

    def read(self) -> Window:
        jobs = self._new_jobs()
        if not jobs:
            return Window()
        stage_ids = {s for j in jobs for s in j.get("stageIds") or []}
        stages = [
            s
            for s in self._json(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
            if s["stageId"] in stage_ids
        ]
        missing = stage_ids - {s["stageId"] for s in stages}
        if missing:
            raise InstrumentationError(
                f"AppStatusStore dropped {len(missing)} stages between reads; "
                f"raise spark.ui.retainedStages or read more often"
            )
        return Window(jobs=jobs, stages=stages)
