"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around its calls into
each layer of the program; no program code is edited.  The one layer
function wrapped at run time is ``session.table`` (every module that
imported it gets the wrapper), so that scan registration inside query
construction shows as child spans of the construct span.

Counters come from Spark itself, read after each action:

* jobs, stages, tasks, input/shuffle/spill bytes, executor run/CPU/GC
  time and task skew from ``statusTracker`` plus the app status store,
  for the jobs of one job group;
* Catalyst analysis/optimization/planning time from the DataFrame's
  ``queryExecution().tracker()``;
* plan node counts (shuffle Exchange, SortMergeJoin,
  BroadcastNestedLoopJoin, Python/Arrow evaluation) from the physical
  plan string.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

PACKAGE = "mysql_clickhouse_replication_spark"

_PLAN_PATTERNS = {
    "plan.exchanges": re.compile(r"(?<![A-Za-z])Exchange\b"),
    "plan.smj": re.compile(r"\bSortMergeJoin\b"),
    "plan.bnlj": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "plan.python_evals": re.compile(
        r"\b(BatchEvalPython|ArrowEvalPython\w*|\w*MapInArrow|\w*MapInPandas|\w*InPandas)\b"
    ),
}

class Tracer:
    """In-memory spans: name, start, end, parent span, trace id."""

    def __init__(self) -> None:
        #: the pass or catch-up that spans recorded by wrappers belong to
        self.current = "setup"
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "trace": trace_id, "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter() - self._t0, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()

    def durations(self, name: str, **match) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0 for s in self.spans
            if s["name"] == name and "end" in s
            and all(s.get(k) == v for k, v in match.items())
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def patch_table(tracer: Tracer) -> None:
    """Wrap ``session.table`` everywhere it was imported; each call is a
    ``session.table`` span tagged cold (first call for that table and
    directory in this process, a memo miss) or warm."""
    from mysql_clickhouse_replication_spark import session

    orig = session.table
    seen: set[tuple[str, str]] = set()

    def traced(spark, sf_dir, name):
        k = (os.path.abspath(sf_dir), name)
        kind = "warm" if k in seen else "cold"
        seen.add(k)
        with tracer.span("session.table", tracer.current, table=name, kind=kind):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, "table", None) is orig:
            mod.table = traced


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` (optimization + physical planning) and return the
    tracker's phase times in ms, plus the physical plan string."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out, plan


def plan_counts(plan: str) -> Counter:
    """Node counts in a physical plan string (AQE's initial plan)."""
    out = Counter()
    for line in plan.splitlines():
        for name, pat in _PLAN_PATTERNS.items():
            if pat.search(line):
                out[name] += 1
    return out


def job_metrics(sc, job_ids) -> tuple[Counter, float]:
    """Sum the stage metrics of ``job_ids``; return them and the worst
    stage's max/median task time."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out: Counter = Counter()
    skew = 1.0
    seen: set[int] = set()
    out["spark.action_jobs"] = len(job_ids)
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.diskBytesSpilled()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.gc_ms"] += st.jvmGcTime()
            if st.numTasks() >= 2:
                tasks = store.taskList(sid, st.attemptId(), 100000)
                times = [
                    tasks.apply(i).duration().get() for i in range(tasks.size())
                    if tasks.apply(i).duration().isDefined()
                ]
                if len(times) >= 2 and statistics.median(times) > 0:
                    skew = max(skew, max(times) / statistics.median(times))
    return out, skew


def job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))
