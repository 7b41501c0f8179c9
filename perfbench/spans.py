"""Spans around calls into engine layers, and Spark's accounting per call.

The benchmark records spans from its own code, around each call it makes
into an engine layer; nothing inside the engine is instrumented. A span
has a name, start, end, parent span and a query id shared by the spans
of one query. Spans stay in memory until :meth:`Tracer.collect`.

With tracing on, each span runs under its own Spark job group, so after
the run every job it started can be found with ``statusTracker`` and its
stages priced from the live status store (executor run time, shuffle
bytes). The status store is fed by an asynchronous listener, so
:meth:`Tracer.collect` drains the listener bus before reading. Stages a
job reused from an earlier shuffle are listed by Spark as SKIPPED with
zero tasks; they are counted apart as ``stages_skipped``.

With tracing off a span only reads the clock twice: no job group is set
and nothing is collected.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

ACCOUNTING = ("jobs", "stages", "stages_skipped", "tasks", "executor_run_ms",
              "shuffle_read_bytes", "shuffle_write_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, qid: int | None = None, account: bool = True):
        """``account=False`` records the span without a job group, so its
        Spark work is not priced (the untraced half of a timing pair)."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent or {}).get("qid"),
        }
        self.spans.append(rec)
        if self.enabled and account:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], f"perfbench {name}", False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(
                        parent["group"], f"perfbench {parent['name']}", False
                    )
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Attach Spark's job/stage/task accounting to every traced span.
        A span's numbers cover only the jobs of its own group, not those
        of its children."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw = self.sc._gateway
        seq = jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        stages: dict[int, tuple] = {}
        for i in range(seq.size()):
            sd = seq.apply(i)
            # the latest attempt wins (a retried stage lists each attempt)
            prev = stages.get(sd.stageId())
            if prev is None or sd.attemptId() >= prev[0]:
                stages[sd.stageId()] = (
                    sd.attemptId(), sd.status().toString(),
                    sd.numCompleteTasks(), sd.executorRunTime(),
                    sd.shuffleReadBytes(), sd.shuffleWriteBytes(),
                )
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            acc = dict.fromkeys(ACCOUNTING, 0)
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            acc["jobs"] = len(job_ids)
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for s in stage_ids:
                st = stages.get(s)
                if st is None or st[1] == "SKIPPED":
                    acc["stages_skipped"] += 1
                    continue
                acc["stages"] += 1
                acc["tasks"] += st[2]
                acc["executor_run_ms"] += st[3]
                acc["shuffle_read_bytes"] += st[4]
                acc["shuffle_write_bytes"] += st[5]
            rec.update(acc)

    def named(self, name: str) -> list[dict]:
        """Priced spans called ``name`` (all spans when tracing is off)."""
        return [s for s in self.spans if s["name"] == name
                and ("group" in s or not self.enabled)]


def wall_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0
