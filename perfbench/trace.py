"""Spans and Spark job/stage figures, measured from outside the package.

The benchmark tags each traced operation with a Spark job group, then
reads that group's jobs and stages from the status tracker and the
status store (``sc._jsc.sc().statusStore()``). Spans are kept in
memory and written out once, when the run ends.

Span tree: workload -> pass -> op -> (queries.plan | queries.collect |
etl.build | etl.write) -> spark.job -> spark.stage. A span's self time
is its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# Summed per traced operation; names are the per-layer metric names.
STAGE_FIELDS = (
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
)


@dataclass
class Spans:
    """In-memory span list; ``add`` returns the new span's id."""

    items: list[dict] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "parent": parent, "name": name,
             "start": start, "end": max(start, end), **attrs}
        )
        return len(self.items) - 1

    def self_times(self, within: set[int]) -> dict[str, float]:
        """Sum of self time by span name, over spans whose id is in
        ``within``."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.items:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.items:
            if s["id"] not in within:
                continue
            covered = union_length(
                [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"]
            )
            out[s["name"]] += s["end"] - s["start"] - covered
        return dict(out)

    def descendants(self, root: int) -> set[int]:
        ids, frontier = {root}, [root]
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.items:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        while frontier:
            for k in kids[frontier.pop()]:
                ids.add(k)
                frontier.append(k)
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.items, fh)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _opt_time(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads a job group's jobs and stages from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the jobs that just ran."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with their executed (not skipped) stages."""
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            job = {
                "id": jid,
                "start": _opt_time(jd.submissionTime()),
                "end": _opt_time(jd.completionTime()),
                "stages": [],
            }
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = self.store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "id": sd.stageId(),
                    "start": _opt_time(sd.submissionTime()),
                    "end": _opt_time(sd.completionTime()),
                    "spark.stages": 1,
                    "spark.tasks": sd.numCompleteTasks(),
                    "spark.executor_run_s": sd.executorRunTime() / 1e3,
                    "spark.executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "spark.gc_s": sd.jvmGcTime() / 1e3,
                    "spark.input_mb": sd.inputBytes() / MB,
                    "spark.shuffle_read_mb": sd.shuffleReadBytes() / MB,
                    "spark.shuffle_write_mb": sd.shuffleWriteBytes() / MB,
                    "spark.spill_mb": sd.diskBytesSpilled() / MB,
                    "output_mb": sd.outputBytes() / MB,
                })
            out.append(job)
        return out

    def persisted(self) -> tuple[int, float]:
        """(persisted RDD count, their memory + disk MB)."""
        infos = self.jsc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        return len(self.sc._jsc.getPersistentRDDs()), mb
