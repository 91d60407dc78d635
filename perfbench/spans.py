"""Spans for the traced run, and readers for Spark's status stores.

A span is (name, start, end, parent). Spans live in memory and are written
out once at the end of the run. Entering a span also tags the Spark jobs the
thread submits (setJobDescription), so the JVM status store can attribute
each stage's shuffle, spill and executor run time to the innermost span that
launched it: the same attribution as self time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def tag(self, name: str) -> str:
        return f"{self.prefix}/{name}"

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = self.sc.getLocalProperty(JOB_DESC)
        self.sc.setJobDescription(self.tag(name))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(outer)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def total_seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def _opt(o):
    return o.get() if o.isDefined() else None


def stage_totals(sc) -> dict[str, dict[str, float]]:
    """Per job description: summed shuffle write/read bytes, disk spill,
    executor run time (s) and stage count over every stage attempt the JVM
    status store holds (works with the UI disabled)."""
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, empty, None)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        desc = _opt(s.description())
        if desc is None:
            continue
        t = out[desc]
        t["shuffle_bytes"] += s.shuffleWriteBytes()
        t["shuffle_read_bytes"] += s.shuffleReadBytes()
        t["spill_bytes"] += s.diskBytesSpilled()
        t["executor_run_s"] += s.executorRunTime() / 1000.0
        t["stages"] += 1
    return out


def job_counts(sc) -> dict[str, int]:
    """Per job description: number of Spark jobs."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out: dict[str, int] = defaultdict(int)
    it = jobs.iterator()
    while it.hasNext():
        desc = _opt(it.next().description())
        if desc is not None:
            out[desc] += 1
    return out


def sql_executions(spark) -> list[dict]:
    """Every SQL execution the session ran: description, wall time (ms, as
    Spark's own clock measured it) and the number of Python-eval nodes in
    the physical plan that actually executed."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    it = execs.iterator()
    while it.hasNext():
        e = it.next()
        done = _opt(e.completionTime())
        plan = e.physicalPlanDescription()
        out.append(
            {
                "description": e.description(),
                "ms": (done.getTime() - e.submissionTime()) if done else None,
                "python_eval_nodes": plan.count("EvalPython"),
            }
        )
    return out
