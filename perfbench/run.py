#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload dsl_session --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one closed-loop client (the
next op is sent when the previous one has finished), Spark on
``local[<nproc>]``.  The run generates its inputs from ``--seed`` under
``.perfbench_work/`` (removed at exit), sets up, measures for
``--seconds``, checks every output, and prints two JSON lines: a detail
record (host state, failures by id, tail percentile, setup phases), then
the result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics: it runs the op list untraced for half the time, then
the same queries traced, then untraced again, and writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "dataframe_expressions_spark"

WORKLOADS = ("dsl_session", "registry_tiny")
# The driver JVM heap is fixed at 2 GiB, not pre-touched, where the
# package's default is a 16 GiB maximum.  Between queries the benchmark
# forces a full GC; a JVM free to shrink its heap then regrows it during
# the next query (DSL queries ran about 40% slower on 4 cores), and a
# heap free to grow grew past 2 GiB in one run of five, moving peak RSS
# by 25%.  The young generation is fixed too: left to G1, the share of
# the heap a registry run touched, and so its peak RSS, varied by 12%
# between seeds.  What the program retains (old generation, native and
# Python memory) still shows in peak RSS; peak heap use is the
# per-layer session.heap_peak_mb.
HEAP = "2g"
YOUNG = "1g"

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.heap_peak_mb": "MB",
    "sources.store_build_s": "s",
    "plans.capture_s": "s",
    "plans.lower_s": "s",
    "plans.nodes": "count",
    "plans.auto_persist": "count",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.eager_job_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "catalyst.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.rows_scanned_per_row_out": "ratio",
    "functions.exec_s": "s",
    "functions.tasks": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "sources.merge_s": "s",
    "sources.delete_s": "s",
    "sources.compact_s": "s",
    "sources.vacuum_s": "s",
    "sources.resolve_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.files_scanned_per_read": "count",
    "sources.files_pruned_frac": "ratio",
    "sources.versions_live": "count",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "self.plans_s": "s",
    "self.operators_s": "s",
    "self.catalyst_s": "s",
    "self.exec_s": "s",
    "self.sources_s": "s",
    "self.streaming_s": "s",
    "self.query_s": "s",
    "trace.coverage_min": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

# streaming.* metric -> StreamingQueryProgress.durationMs key
_BATCH_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _set_env(work: str) -> None:
    """Everything Spark and the package write goes under ``work``; Python
    workers import the package from the repository root."""
    for sub in ("stores", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": REPO + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_STORE_ROOT": os.path.join(work, "stores"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_DRIVER_MEM": HEAP,
        "TMPDIR": tmp,
        # no JVM, launcher included, writes a perf-data file to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{HEAP} -Xmn{YOUNG} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}' --conf "
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
            " pyspark-shell"),
    })


def _make_workload(name: str, seed: int, trace: bool):
    from workloads import DslSession, Registry

    if name == "dsl_session":
        return DslSession(seed, tables=trace)
    return Registry(seed)


def _measure(ctx, wl, ops):
    """Closed loop: run ``ops`` one after another, with the untimed
    hygiene and checks between them.  Returns ``[(op, seconds or None if
    it failed)]``."""
    from harness import dual_gc

    recs: List[tuple] = []
    for op in ops:
        wl.before(ctx, op)
        ctx.attempted += 1
        try:
            dt = wl.run(ctx, op)
            err = wl.check(ctx, op)
        except Exception as e:  # noqa: BLE001 - counted and listed by id
            dt, err = None, f"{type(e).__name__}: {e}"
        if err:
            ctx.fail(op.rid, err)
            dt = None
        recs.append((op, dt))
    dual_gc(ctx.spark)
    return recs


def _end_to_end(recs, setup_s, rss) -> tuple:
    from stats import median, tail

    lat = [dt for _, dt in recs if dt is not None]
    busy = sum(lat)
    n_ok = len(lat)
    t = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "queries_per_s": n_ok / busy if busy else 0.0,
        "latency_p50_s": median(lat),
        "latency_tail_s": t["value"],
        "peak_rss_mb": rss,
    }
    return metrics, t


def _streaming(listener, lo: float, hi: float) -> Dict[str, float]:
    """Sums over the micro-batches that started in ``[lo, hi)``."""
    from datetime import datetime

    out = {k: 0.0 for k in _BATCH_PHASES}
    out.update({"streaming.batches": 0.0, "streaming.state_rows": 0.0,
                "streaming.state_bytes": 0.0})
    for b in listener.batches:
        ts = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00"))
        if not lo <= ts.timestamp() < hi:
            continue
        out["streaming.batches"] += 1
        for metric, key in _BATCH_PHASES.items():
            out[metric] += b["duration_ms"].get(key, 0) / 1000.0
        out["streaming.state_rows"] += b["state_rows"]
        out["streaming.state_bytes"] += b["state_bytes"]
    return out


def _add_batch_spans(tracer, listener, lo: float, hi: float) -> None:
    """Each micro-batch becomes a child of the query span it ran in."""
    from datetime import datetime

    queries = [s for s in tracer.spans if s.name == "query"]
    for b in listener.batches:
        t0 = datetime.fromisoformat(
            b["timestamp"].replace("Z", "+00:00")).timestamp()
        if not lo <= t0 < hi:
            continue
        t1 = t0 + b["duration_ms"].get("triggerExecution", 0) / 1000.0
        owner = next((q for q in queries if q.start <= t0 <= q.end), None)
        if owner is not None:
            holder = next((s for s in tracer.spans if s.parent == owner.id
                           and s.start <= t0 <= s.end), owner)
            tracer.add("streaming.batch", t0, t1, holder.id, owner.rid)


def _per_layer(ctx, recs_a, recs_b, recs_c, phases, listener, t_b0,
               t_b1, finish_out) -> Dict[str, float]:
    from spans import self_times
    from stats import median, tail

    tr = ctx.tracer
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = phases.get("session.start", 0.0)
    m["session.warmup_s"] = phases.get("session.warm_pass", 0.0)
    m["sources.store_build_s"] = phases.get("sources.store_build", 0.0)
    _add_batch_spans(tr, listener, t_b0, t_b1)
    for k, v in ctx.layers.items():
        if k in m:
            m[k] = v
    m["plans.capture_s"] = tr.total("plans.capture")
    st = self_times(tr.spans)
    m["plans.lower_s"] = sum(st[s.id] for s in tr.spans
                             if s.name == "plans.lower")
    m.update(_streaming(listener, t_b0, t_b1))
    rows_out = ctx.layers.get("rows_out", 0.0)
    if rows_out:
        m["exec.rows_scanned_per_row_out"] = (
            ctx.layers.get("exec.rows_scanned", 0.0) / rows_out)
    for layer, v in tr.layer_self_times().items():
        key = f"self.{layer}_s"
        if key in m:
            m[key] = v
    queries = [s for s in tr.spans if s.name == "query"]
    cover = [1.0 - st[q.id] / q.duration for q in queries if q.duration > 0]
    m["trace.coverage_min"] = min(cover) if cover else 1.0
    a = [dt for op, dt in recs_a + recs_c
         if dt is not None and op.kind == "query"]
    b = [dt for op, dt in recs_b if dt is not None and op.kind == "query"]
    if a and b:
        m["trace.overhead_s"] = sum(b) / len(b) - sum(a) / len(a)
        m["trace.overhead_frac"] = (sum(b) / len(b)) / (sum(a) / len(a)) - 1
    # table ops, untraced halves
    table = [(op, dt) for op, dt in recs_a + recs_c
             if dt is not None and op.kind != "query"]
    w = [dt for op, dt in table if op.payload["write"]]
    r = [dt for op, dt in table if not op.payload["write"]]
    m["commit_p50_s"], m["commit_tail_s"] = median(w), tail(w)["value"]
    m["read_p50_s"], m["read_tail_s"] = median(r), tail(r)["value"]
    for k, v in finish_out.items():
        if k in m:
            m[k] = v
    n_reads = ctx.layers.get("sources.pruned_reads", 0.0)
    if n_reads:
        scanned = ctx.layers["sources.files_scanned"]
        m["sources.files_scanned_per_read"] = scanned / n_reads
        m["sources.files_pruned_frac"] = 1.0 - scanned / max(
            1.0, ctx.layers["sources.files_full"])
    return m


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort below
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple:
    import datagen
    from harness import Ctx, HostState
    from spans import Tracer
    from itertools import islice

    from sparkstat import BatchListener, heap_peak_mb, rss_mb

    host = HostState()
    wl = _make_workload(args.workload, args.seed, bool(args.trace))
    tracer = Tracer(False)
    phases: Dict[str, float] = {}

    @contextmanager
    def phase(name: str):
        t0 = time.time()
        try:
            yield
        finally:
            phases[name] = phases.get(name, 0.0) + time.time() - t0
            if tracer.enabled:
                tracer.add(name, t0, time.time(), None, "setup")

    tracer.enabled = bool(args.trace)
    with phase("sources.datagen"):
        sf_dir = datagen.generate(os.path.join(work, "data"), args.seed, wl.sf)
    with phase("session.start"):
        from dataframe_expressions_spark.session import get_spark

        spark = get_spark("perfbench")
    spark_stopped = False
    try:
        ctx = Ctx(spark, Tracer(False), work)
        wl.setup(ctx, sf_dir, phase)
        setup_s = sum(phases.values())
        listener = BatchListener()
        spark.streams.addListener(listener)

        walls = {"setup_end": time.time()}
        if not args.trace:
            recs = _measure(ctx, wl, islice(wl.ops(), wl.n_ops(args.seconds)))
        else:
            # untraced, traced, untraced again: the traced half is compared
            # with both untraced halves, so JVM warm-up over the run does
            # not read as (negative) tracing overhead
            ops = wl.ops()
            recs_a = _measure(ctx, wl, islice(ops, wl.n_ops(args.seconds / 2)))
            persisted_a = wl.end_phase(ctx)
            ctx.tracer = tracer
            t_b0 = time.time()
            recs_b = _measure(ctx, wl, wl.replay(recs_a))
            ctx.add("plans.auto_persist", wl.end_phase(ctx))
            ctx.tracer = Tracer(False)
            t_b1 = time.time()
            recs_c = _measure(ctx, wl, wl.replay(recs_a))
            wl.end_phase(ctx)
            ctx.tracer = tracer
            recs = recs_a + recs_b + recs_c
        walls["measure_end"] = time.time()
        finish_out = wl.finish(ctx)
        walls["check_end"] = time.time()
        rss = rss_mb()
        finish_out["session.heap_peak_mb"] = heap_peak_mb(spark)
        spark.streams.removeListener(listener)
        _stop(spark)
        spark_stopped = True
        walls["stop_end"] = time.time()
    finally:
        if not spark_stopped:
            _stop(spark)

    failed = len(ctx.failures)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf": wl.sf, "host": host.read(), "setup_phases": phases,
        "wall_s": {"measure": walls["measure_end"] - walls["setup_end"],
                   "check": walls["check_end"] - walls["measure_end"],
                   "stop": walls["stop_end"] - walls["check_end"]},
        "failed_frac": failed / max(1, ctx.attempted),
        "failures": ctx.failures,
    }
    if args.trace:
        metrics = _per_layer(ctx, recs_a, recs_b, recs_c, phases, listener,
                             t_b0, t_b1, finish_out)
        detail["auto_persist_untraced_half"] = persisted_a
        units = PER_LAYER
        os.makedirs(os.path.join(REPO, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(
            REPO, ".perfbench_out",
            f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics, t = _end_to_end(recs, setup_s, rss)
        detail["latency_tail"] = {k: t[k] for k in ("percentile", "n",
                                                     "beyond")}
        units = END_TO_END
    detail["op_s"] = [[op.rid, dt] for op, dt in recs]
    if hasattr(wl, "warm_s"):
        detail["warm_pass_s"] = wl.warm_s
    result = {
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _set_env(work)
    sys.path.append(REPO)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
