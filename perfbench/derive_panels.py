#!/usr/bin/env python3
"""Derive the frozen ``registry_tiny`` panel of ``panels.json``.

    python3 perfbench/derive_panels.py time --seed 0 --out timings.json
    python3 perfbench/derive_panels.py choose timings.json

Run from the repository root.  ``time`` (several minutes) makes one
cold pass over every registered id at sf0.001 (it builds the write-once
stores) and one warm pass, each id built by ``fn()`` and run to the
noop sink, and checks each id against its DuckDB oracle.  It writes, per
id, the warm seconds and any error.

``choose`` applies the panel rule to such a file and writes
``panels.json``:

1. leave out the ids whose code holds a path under ``/tmp/`` or
   ``/dev/shm`` (``outside_checkout``): a benchmark run reads and writes
   only inside its checkout.  Pass or fail plays no part;
2. sort the rest by warm time, cut them into ``PANEL_SIZE`` strata of
   equal count, and draw one id from each with ``random.Random(0)``.

It stores every id's timing beside the panel, and the latency
quantiles of the panel, of the eligible ids and of all ids.  Benchmark
runs only read ``panels.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import types
from typing import Dict, Iterable, List, Set

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PANEL_SIZE = 8  # a pass of about 5 s, so a 10-s run makes two
PANEL_SEED = 0
OUTSIDE = ("/tmp/", "/dev/shm")


def _codes(co: types.CodeType):
    yield co
    for c in co.co_consts:
        if isinstance(c, types.CodeType):
            yield from _codes(c)


def outside_checkout(queries: Dict[str, object]) -> Set[str]:
    """Ids whose ``fn()`` reaches a string constant that starts with
    ``/tmp/`` or ``/dev/shm``.  A name the code uses is followed to the
    function it names in the caller's globals, else to every package
    function of that name (which covers function-local imports): an
    over-approximation."""
    by_name: Dict[str, Set[types.FunctionType]] = {}
    for m in list(sys.modules.values()):
        if getattr(m, "__name__", "").startswith("dataframe_expressions_spark"):
            for n, v in vars(m).items():
                if isinstance(v, types.FunctionType):
                    by_name.setdefault(n, set()).add(v)
    memo: Dict[types.FunctionType, bool] = {}

    def reaches(fn: types.FunctionType) -> bool:
        if fn in memo:
            return memo[fn]
        memo[fn] = False  # cycles
        for co in _codes(fn.__code__):
            if any(isinstance(c, str) and c.startswith(OUTSIDE)
                   for c in co.co_consts):
                memo[fn] = True
                return True
            for n in co.co_names:
                g = fn.__globals__.get(n)
                cands = ({g} if isinstance(g, types.FunctionType)
                         else by_name.get(n, ()))
                if any(reaches(f) for f in cands):
                    memo[fn] = True
                    return True
        return False

    return {qid for qid, q in queries.items() if reaches(q.fn)}


def choose_panel(timings: Dict[str, float], excluded: Iterable[str],
                 k: int = PANEL_SIZE, seed: int = PANEL_SEED) -> List[str]:
    """One id per stratum of the eligible ids sorted by warm time."""
    skip = set(excluded)
    ranked = sorted((t, qid) for qid, t in timings.items() if qid not in skip)
    rng = random.Random(seed)
    n = len(ranked)
    return [rng.choice(ranked[j * n // k:(j + 1) * n // k])[1]
            for j in range(k)]


def _quantiles(xs: List[float]) -> dict:
    q = statistics.quantiles(xs, n=10)
    return {"n": len(xs), "p50_s": round(q[4], 3), "p90_s": round(q[8], 3),
            "sum_s": round(sum(xs), 2)}


def _pass(spark, queries, sf_dir, ids, pool_ids, warm_pool, con=None):
    import gc

    times, errors = {}, {}
    for qid in ids:
        if qid in pool_ids:
            warm_pool()
        try:
            t0 = time.perf_counter()
            df = queries[qid].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[qid] = time.perf_counter() - t0
            if con is not None:
                import oracle

                err = oracle.check(con, queries[qid].oracle, df.toPandas())
                if err:
                    errors[qid] = f"oracle mismatch: {err}"
        except Exception as e:  # noqa: BLE001 - reported by id
            errors[qid] = f"{type(e).__name__}: {e}"[:500]
        gc.collect()
        spark._jvm.System.gc()
        print(f"{qid} {times.get(qid)} {errors.get(qid, '')[:120]}",
              flush=True)
    return times, errors


def time_ids(seed: int, out_path: str) -> None:
    import run as bench

    work = os.path.join(REPO, ".perfbench_work", f"derive-{os.getpid()}")
    bench._set_env(work)
    sys.path.append(REPO)
    import datagen
    import oracle
    from dataframe_expressions_spark.operators.registry import (
        PANDAS_PLAN_IDS, PY_POOL_EXTRA_IDS, load_all)
    from dataframe_expressions_spark.session import get_spark

    queries = load_all()
    ids = sorted(queries)
    spark = get_spark("perfbench-derive")

    def warm_pool():
        spark.range(64).repartition(32).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode(
            "overwrite").save()

    pool = PANDAS_PLAN_IDS | PY_POOL_EXTRA_IDS
    out = {"seed": seed, "nproc": bench._nproc(), "ids": {}}
    try:
        sf_dir = datagen.generate(os.path.join(work, "data"), seed, 0.001)
        con = oracle.connect(sf_dir)
        _pass(spark, queries, sf_dir, ids, pool, warm_pool)
        times, errors = _pass(spark, queries, sf_dir, ids, pool, warm_pool,
                              con)
        for qid in ids:
            rec = out["ids"].setdefault(qid, {})
            rec["sf0.001_s"] = times.get(qid)
            if qid in errors:
                rec["sf0.001_error"] = errors[qid]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def choose(timings_path: str, out_path: str) -> dict:
    sys.path.append(REPO)
    from dataframe_expressions_spark.operators.registry import load_all

    with open(timings_path) as fh:
        derived = json.load(fh)
    timings = {qid: rec["sf0.001_s"] for qid, rec in derived["ids"].items()}
    excluded = sorted(outside_checkout(load_all()))
    panel = choose_panel(timings, excluded)
    eligible = [t for qid, t in timings.items() if qid not in excluded]
    pt = [timings[qid] for qid in panel]
    doc = {
        "derived_with": (
            f"python3 perfbench/derive_panels.py time --seed "
            f"{derived['seed']} ({derived['nproc']} cores, "
            f"{len(timings)} ids), then choose"),
        "rule": (f"leave out ids whose code holds a path under /tmp/ or "
                 f"/dev/shm; sort the rest by warm sf0.001 time; one id "
                 f"from each of {PANEL_SIZE} equal-count strata, drawn "
                 f"with random.Random({PANEL_SEED})"),
        "registry_tiny": {
            "sf": 0.001,
            "pass_s": round(sum(pt), 2),
            "panel": panel,
            "latency": {"panel": _quantiles(pt),
                        "eligible": _quantiles(eligible),
                        "all": _quantiles(list(timings.values()))},
            "outside_checkout": excluded,
            "timings_s": dict(sorted(timings.items())),
        },
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    return doc


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("time")
    t.add_argument("--seed", type=int, default=0)
    t.add_argument("--out", required=True)
    c = sub.add_parser("choose")
    c.add_argument("timings")
    c.add_argument("--out", default=os.path.join(HERE, "panels.json"))
    args = ap.parse_args()
    if args.cmd == "time":
        time_ids(args.seed, args.out)
    else:
        doc = choose(args.timings, args.out)
        print(json.dumps(doc["registry_tiny"]["latency"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
