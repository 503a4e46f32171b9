"""Shared machinery: the run context, one timed query, the untimed
hygiene between queries, and the host readings recorded with each run."""

from __future__ import annotations

import gc
import os
import time
from typing import Callable, Dict, List, Optional

import sparkstat
from spans import Tracer

__all__ = ["Ctx", "run_frame", "run_call", "dual_gc", "HostState"]


class Ctx:
    """State of one benchmark run, passed to every workload call."""

    def __init__(self, spark, tracer: Tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.failures: List[dict] = []
        self.attempted = 0
        # per-layer sums filled by the traced run
        self.layers: Dict[str, float] = {}
        self._group = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value

    def fail(self, rid: str, error: str) -> None:
        self.failures.append({"id": rid, "error": error[:500]})

    def next_group(self) -> str:
        self._group += 1
        return f"perfbench-{self._group}"


def _noop_write(df) -> None:
    # the noop sink evaluates every output column of every row JVM-side
    # without paying the transfer to Python
    df.write.format("noop").mode("overwrite").save()


def run_frame(ctx: Ctx, rid: str, build: Callable[[Optional[int]], object],
              build_layer: str) -> float:
    """One timed query: ``build(parent_span)`` returns a DataFrame, which
    then runs to the noop sink.  Returns the query's wall seconds.

    Traced, the query runs under its own job group; between build and
    execution the DataFrame's own optimization and physical planning are
    forced so Catalyst's phases can be read; afterwards the group's
    jobs, stages and the phases become child spans."""
    if not ctx.traced:
        t0 = time.perf_counter()
        _noop_write(build(None))
        return time.perf_counter() - t0
    spark, tr = ctx.spark, ctx.tracer
    group = ctx.next_group()
    spark.sparkContext.setJobGroup(group, rid)
    try:
        with tr.span("query", rid) as q:
            with tr.span(f"{build_layer}.build", rid, q) as b:
                df = build(b)
            with tr.span("catalyst.plan", rid, q) as cp:
                plan = sparkstat.force_plans(df)
            with tr.span("exec.write", rid, q) as e:
                _noop_write(df)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    _record_query(ctx, rid, df, plan, group, q, b, cp, e, build_layer)
    return tr.spans[q].duration


def _record_query(ctx, rid, df, plan, group, q, b, cp, e, build_layer):
    tr = ctx.tracer
    S = tr.spans
    for name, (t0, t1) in sparkstat.catalyst_phases(df).items():
        holder = b if name == "analysis" else cp
        parent = holder if S[holder].start <= t0 <= S[holder].end else q
        tr.add(f"catalyst.{name}", t0, t1, parent, rid)
        ctx.add(f"catalyst.{name}_s", t1 - t0)
    eager, ex = sparkstat.record_jobs(ctx.spark, tr, group, rid, [
        (b, S[q].start, S[cp].start, build_layer),
        (e, S[cp].start, S[q].end + 1.0, "exec"),
    ])
    counts = sparkstat.plan_counts(plan)
    ctx.add("catalyst.exchanges", counts["exchanges"])
    ctx.add("catalyst.python_nodes", counts["python_nodes"])
    ctx.add(f"{build_layer}.build_s", S[b].duration)
    ctx.add(f"{build_layer}.eager_jobs", eager.jobs)
    ctx.add(f"{build_layer}.eager_job_s", eager.job_s)
    ctx.add("exec.s", S[e].duration)
    for k in ("jobs", "stages", "tasks", "task_busy_s", "shuffle_read_bytes",
              "shuffle_write_bytes"):
        ctx.add(f"exec.{k}", getattr(ex, k))
    ctx.add("exec.rows_scanned", ex.input_records + eager.input_records)
    if counts["python_nodes"]:
        ctx.add("functions.exec_s", S[e].duration)
        ctx.add("functions.tasks", ex.tasks)


def run_call(ctx: Ctx, rid: str, layer: str, fn: Callable[[], object]):
    """A timed call that is not a query (a table commit, say).
    Returns ``(result, seconds)``."""
    if not ctx.traced:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0
    with ctx.tracer.span("query", rid) as q:
        with ctx.tracer.span(layer, rid, q):
            out = fn()
    return out, ctx.tracer.spans[q].duration


def dual_gc(spark) -> None:
    """Python GC drops py4j proxies; the JVM GC then lets Spark's
    ContextCleaner free the blocks and shuffle files they pinned."""
    gc.collect()
    spark._jvm.System.gc()


def _cpu_ticks() -> List[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostState:
    """nproc, load average and CPU steal over the run, from /proc."""

    def __init__(self) -> None:
        self.t0 = _cpu_ticks()
        self.load0 = os.getloadavg()

    def read(self) -> dict:
        t1 = _cpu_ticks()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        return {"nproc": len(os.sched_getaffinity(0)),
                "loadavg_start": self.load0,
                "loadavg_end": os.getloadavg(), "steal_frac": steal / total}
