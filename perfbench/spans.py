"""Per-layer instrumentation for the traced run.

Every traced span runs under its own Spark job group.  When the span ends,
its jobs and stages are read back from the driver's AppStatusStore
(``sc._jsc.sc().statusStore()``), which keeps answering with the UI off.
Plan operator counts come from the SQL status store's graph of each
executed plan.  Spans are kept in memory and written out once, at the end
of the run.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._n = 0
        self._t0 = time.perf_counter()
        self._open: list[tuple[str, dict]] = []

    @contextmanager
    def span(self, name: str, op: str, **tags):
        """Time a block and attach the Spark jobs it launched.  ``op`` names
        the operation (query or batch) the span belongs to; start and end
        are seconds since the tracer was created.  Spans nest: a job
        belongs to the innermost open span, ``parent`` names the enclosing
        one and ``self_s`` is the time not spent in child spans.  ``trace_s``
        is the time the tracer itself took to read the span's jobs back."""
        self._n += 1
        group = f"bench-{self._n}-{name}"
        parent = self._open[-1][1] if self._open else None
        rec = {"name": name, "op": op, **tags,
               "parent": parent["name"] if parent else None, "child_s": 0.0}
        self._open.append((group, rec))
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1][0], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            rec.update(self.jobs(group))
            t2 = time.perf_counter()
            rec.update(start=t0 - self._t0, end=t1 - self._t0, s=t1 - t0,
                       self_s=t1 - t0 - rec.pop("child_s"), trace_s=t2 - t1)
            if parent is not None:
                parent["child_s"] += t2 - t0
            self.spans.append(rec)

    def jobs(self, group: str) -> dict:
        """Job, stage and task totals for one job group."""
        jobs = stages = tasks = 0
        run_ms = read_b = write_b = spill_b = 0
        seen = set()
        jl = self.store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            if j.jobGroup().isEmpty() or j.jobGroup().get() != group:
                continue
            jobs += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                stages += 1
                tasks += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                read_b += st.shuffleReadBytes()
                write_b += st.shuffleWriteBytes()
                spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "executor_run_s": run_ms / 1000.0,
                "shuffle_read_mb": read_b / MB,
                "shuffle_write_mb": write_b / MB, "spill_mb": spill_b / MB}


_OPS = {
    "exchanges": ("Exchange", "BroadcastExchange"),
    "bnlj": ("BroadcastNestedLoopJoin",),
    "python_evals": ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                     "FlatMapCoGroupsInPandas", "AggregateInPandas",
                     "WindowInPandas"),
}


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def plan_ops(spark, ids: list[int] | None = None) -> dict:
    """Operator counts in executed plans, as the SQL status store holds them
    after adaptive re-planning: the most recent SQL execution, or the
    executions with the given ids."""
    store = spark._jsparkSession.sharedState().statusStore()
    if ids is None:
        ids = [last_execution_id(spark)]
    names = Counter()
    for eid in ids:
        nodes = store.planGraph(eid).allNodes()
        names.update(nodes.apply(i).name() for i in range(nodes.size()))
    return {k: sum(names.get(n, 0) for n in ops) for k, ops in _OPS.items()}
