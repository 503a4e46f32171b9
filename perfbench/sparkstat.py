"""Readers of Spark's own status records, used by the traced run.

Everything here runs after the call it describes: job and stage data
come from the application status store, Catalyst phase times from the
DataFrame's ``QueryExecution`` tracker, and streaming batch times from
a ``StreamingQueryListener``.  Times are converted to epoch seconds so
they line up with the benchmark's own spans.
"""

from __future__ import annotations

import os
import re
from typing import Dict, List, Optional

from pyspark.sql.streaming.listener import StreamingQueryListener

from spans import Tracer

__all__ = ["PYTHON_NODES", "JobStats", "record_jobs", "catalyst_phases",
           "force_plans", "plan_counts", "BatchListener", "rss_mb",
           "heap_peak_mb"]

# executed-plan operators that hand rows to Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
                "PythonMapInArrow", "FlatMapGroupsInArrow", "PythonScan",
                "AggregateInPandas", "WindowInPandas",
                "FlatMapGroupsInPandasWithState", "BatchEvalPythonUDTF",
                "ArrowEvalPythonUDTF")
_NODE_LINE = re.compile(r"^[\s:+\-*()\d]*([A-Za-z][A-Za-z0-9]*)", re.M)


def _ms(opt) -> Optional[float]:
    """Scala ``Option[java.util.Date]`` -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobStats:
    """Sums over the Spark jobs of one side of a query (eager or exec)."""

    def __init__(self) -> None:
        self.jobs = 0
        self.job_s = 0.0
        self.stages = 0
        self.tasks = 0
        self.task_busy_s = 0.0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.input_records = 0


def record_jobs(spark, tracer: Tracer, group: str, rid: str,
                sides: List[tuple]) -> List[JobStats]:
    """Add every job of job group ``group`` as a child span, with its
    stages as grandchildren.  ``sides`` is a list of
    ``(parent_span_id, start, end, layer)``: a job belongs to the side
    whose interval holds its submission time.  Returns one ``JobStats``
    per side."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = [JobStats() for _ in sides]
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        t0, t1 = _ms(jd.submissionTime()), _ms(jd.completionTime())
        if t0 is None or t1 is None:
            continue
        k = next((i for i, (_, a, b, _) in enumerate(sides) if a <= t0 <= b),
                 len(sides) - 1)
        parent, _, _, layer = sides[k]
        st = out[k]
        st.jobs += 1
        st.job_s += t1 - t0
        job_span = tracer.add(f"{layer}.job", t0, t1, parent, rid)
        sids = jd.stageIds()
        for i in range(sids.size()):
            try:
                sd = store.lastStageAttempt(sids.apply(i))
            except Exception:  # noqa: BLE001 - stage pruned from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages ran no tasks
            st.stages += 1
            st.tasks += sd.numTasks()
            st.task_busy_s += sd.executorRunTime() / 1000.0
            st.shuffle_read_bytes += sd.shuffleReadBytes()
            st.shuffle_write_bytes += sd.shuffleWriteBytes()
            st.input_records += sd.inputRecords()
            s0, s1 = _ms(sd.submissionTime()), _ms(sd.completionTime())
            if s0 is not None and s1 is not None:
                tracer.add(f"{layer}.stage", s0, s1, job_span, rid)
    return out


def catalyst_phases(df) -> Dict[str, tuple]:
    """``{phase: (start_s, end_s)}`` from the DataFrame's own tracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        ps = kv._2()
        out[kv._1()] = (ps.startTimeMs() / 1000.0, ps.endTimeMs() / 1000.0)
    return out


def force_plans(df) -> str:
    """Force optimization and physical planning on the DataFrame's own
    ``QueryExecution`` (the write plans a separate one) and return the
    executed plan's text."""
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    return qe.executedPlan().toString()


def plan_counts(plan_text: str) -> Dict[str, int]:
    """Exchange and Python-worker operators in an executed-plan text."""
    names = _NODE_LINE.findall(plan_text)
    return {
        "exchanges": sum(1 for n in names if n.endswith("Exchange")),
        "python_nodes": sum(1 for n in names if n in PYTHON_NODES),
    }


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch's progress in memory."""

    def __init__(self) -> None:
        self.batches: List[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every ``java`` process
    below it, in MiB."""
    kb = _status_kb(os.getpid(), "VmHWM:")
    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        if _comm(pid) == "java":
            kb += _status_kb(pid, "VmHWM:")
        stack.extend(_children(pid))
    return kb / 1024.0


def heap_peak_mb(spark) -> float:
    """The driver JVM's heap use at its peak, in MiB: the sum of each
    heap memory pool's peak use since the JVM started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            used += pool.getPeakUsage().getUsed()
    return used / 2**20
