"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import churn
import datagen
import derive_panels
import dslgen
import run
import stats
import workloads
from spans import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# -- generators are deterministic per seed -----------------------------------

def test_dsl_generator_deterministic():
    a, b = dslgen.generate(7, 500), dslgen.generate(7, 500)
    assert a == b
    assert a != dslgen.generate(8, 500)
    assert [s["t"] for s in a[:len(dslgen.CYCLE)]] == list(dslgen.CYCLE)
    for i, s in enumerate(a):
        if s["t"] == "repeat":
            assert a[s["of"]]["t"] in dslgen.REPEATABLE
            assert not any(x["t"] in dslgen.REPEATABLE
                           for x in a[s["of"] + 1:i])


def _churn_ops(seed, n):
    keys = np.arange(2000)
    table = pd.Series(np.linspace(1000.0, 9000.0, 2000), index=keys)
    plain = pd.Series(np.linspace(-5.0, 5.0, 300), index=np.arange(300))
    model = churn.Churn(seed, table, plain)
    ops = []
    for _ in range(n):
        op = model.next_op()
        ops.append(op)
        # feed back what a single-writer table returns
        if op["kind"] in ("merge", "compact"):
            result = model.latest + 1
        elif op["kind"] == "vacuum":
            live = sorted(model.live)
            result = live[:-churn.KEEP] if len(live) > churn.KEEP else []
        else:
            result = None
        model.apply(op, result)
    return ops, model


def test_churn_generator_deterministic_and_model_consistent():
    a, model = _churn_ops(3, 3 * len(churn.PATTERN))
    b, _ = _churn_ops(3, 3 * len(churn.PATTERN))
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    c, _ = _churn_ops(4, 3 * len(churn.PATTERN))
    assert json.dumps(a) != json.dumps(c)
    for op in a:
        if op["kind"] == "merge":
            assert all(k % churn.B in op["buckets"] for k in op["keys"])
    # the model's latest fingerprint is what a full read should return
    cur = model.cur
    assert model.live[model.latest] == churn.fingerprint(
        cur.index.to_numpy(), cur.to_numpy())
    assert len(model.live) <= churn.KEEP + len(churn.PATTERN)


def test_dsl_session_interleaves_table_ops_and_replays_queries():
    assert workloads.DslSession(5, tables=False).n_ops(10) == 15
    wl = workloads.DslSession(5, tables=True)
    _, model = _churn_ops(5, 0)
    wl.table.model = model
    ops = list(itertools.islice(wl.ops(), wl.n_ops(5)))
    # one cycle of each, aligned, so every traced phase runs every op kind
    assert len(ops) == len(dslgen.CYCLE) + len(churn.PATTERN)
    assert ops[-1].kind != "query" and ops[-2].kind == "query"
    # (with no merge fed back, "changes" has no range and reads latest)
    assert [op.kind for op in ops if op.payload.get("write")] == [
        k for k in churn.PATTERN if k in churn.WRITES]
    replay = list(wl.replay([(op, 0.1) for op in ops]))
    assert [op.rid for op in replay if op.kind == "query"] == [
        op.rid for op in ops if op.kind == "query"]
    table_rids = {op.rid for op in ops if op.kind != "query"}
    assert not table_rids & {op.rid for op in replay if op.kind != "query"}


def test_datagen_deterministic(tmp_path):
    d1 = datagen.generate(str(tmp_path / "a"), 5, 0.001)
    d2 = datagen.generate(str(tmp_path / "b"), 5, 0.001)
    d3 = datagen.generate(str(tmp_path / "c"), 6, 0.001)
    for t in datagen.TABLES:
        x = pq.read_table(f"{d1}/{t}.parquet")
        assert x.equals(pq.read_table(f"{d2}/{t}.parquet"))
        assert x.num_rows == datagen.row_counts(0.001)[t]
    assert not pq.read_table(f"{d1}/lineitem.parquet").equals(
        pq.read_table(f"{d3}/lineitem.parquet"))


# -- the tail percentile keeps at least ten samples beyond it ----------------

def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 101))
    t = stats.tail(xs)
    assert t["value"] == 90 and t["percentile"] == 90.0 and t["n"] == 100
    assert sum(1 for x in xs if x > t["value"]) == 10
    for n in (11, 25, 37, 64):
        ys = [float(i) for i in np.random.default_rng(n).permutation(n)]
        t = stats.tail(ys)
        assert sum(1 for y in ys if y > t["value"]) == stats.TAIL_BEYOND
        assert t["percentile"] == pytest.approx(100.0 * (n - 10) / n)


def test_tail_with_too_few_samples_falls_back_to_median():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t["value"] == 2.0 and t["percentile"] == 50.0
    assert t["beyond"] < stats.TAIL_BEYOND


# -- span self time ------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "query", 0.0, 10.0, None, "q"),
        Span(1, "exec.write", 1.0, 3.0, 0, "q"),
        Span(2, "exec.write", 2.0, 5.0, 0, "q"),   # overlaps span 1
        Span(3, "exec.job", 9.0, 12.0, 0, "q"),    # clipped to parent end
        Span(4, "exec.stage", 2.5, 3.0, 2, "q"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)


def test_layer_self_times_sum_to_root_duration():
    tr = Tracer(True)
    q = tr.add("query", 0.0, 10.0, None, "q")
    b = tr.add("operators.build", 0.0, 4.0, q, "q")
    tr.add("catalyst.analysis", 1.0, 2.0, b, "q")
    e = tr.add("exec.write", 4.5, 10.0, q, "q")
    tr.add("exec.job", 5.0, 9.0, e, "q")
    layers = tr.layer_self_times()
    assert layers["operators"] == pytest.approx(3.0)
    assert layers["catalyst"] == pytest.approx(1.0)
    assert layers["exec"] == pytest.approx(5.5)
    assert layers["query"] == pytest.approx(0.5)
    assert sum(layers.values()) == pytest.approx(10.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("query", "q") as sid:
        assert sid is None
    assert tr.spans == []


# -- the registry panel is read from the frozen file, never recomputed --------

def test_panel_read_from_frozen_file(tmp_path, monkeypatch):
    tiny = workloads.load_panels()["registry_tiny"]
    assert workloads.Registry(1).ids == tiny["panel"]
    fake = tmp_path / "panels.json"
    fake.write_text(json.dumps({"registry_tiny": {
        "sf": 0.001, "pass_s": 1.0, "panel": ["a_id", "b_id"]}}))
    monkeypatch.setattr(workloads, "PANELS", str(fake))
    wl = workloads.Registry(1)
    assert wl.ids == ["a_id", "b_id"] and wl.sf == 0.001


def test_frozen_panel_follows_the_rule():
    tiny = workloads.load_panels()["registry_tiny"]
    timings = tiny["timings_s"]
    assert derive_panels.choose_panel(
        timings, tiny["outside_checkout"]) == tiny["panel"]
    assert tiny["pass_s"] == pytest.approx(
        sum(timings[q] for q in tiny["panel"]), abs=0.01)


def test_choose_panel_draws_one_id_per_stratum():
    timings = {f"id{i:02d}": float(i) for i in range(40)}
    panel = derive_panels.choose_panel(timings, ["id05", "id06"], k=4, seed=3)
    assert panel == derive_panels.choose_panel(
        timings, ["id05", "id06"], k=4, seed=3)
    assert "id05" not in panel and "id06" not in panel
    ranked = sorted(q for q in timings if q not in ("id05", "id06"))
    for j, qid in enumerate(panel):
        assert qid in ranked[j * 38 // 4:(j + 1) * 38 // 4]


def _writes_tmp():
    return "/tmp/somewhere"


def _calls_writer():
    return _writes_tmp()


def _stays_inside():
    return os.environ.get("X", "/tmp")  # a bare default is no path under it


def test_outside_checkout_follows_calls():
    class Q:
        def __init__(self, fn):
            self.fn = fn

    qs = {"a": Q(_writes_tmp), "b": Q(_calls_writer), "c": Q(_stays_inside)}
    assert derive_panels.outside_checkout(qs) == {"a", "b"}


def test_registry_order_is_seeded():
    wl = workloads.Registry(11)
    first = [next(iter(wl.ops())).rid for _ in range(3)]
    assert len(set(first)) == 1
    it = wl.ops()
    pass1 = [next(it).rid for _ in wl.ids]
    assert sorted(pass1) == sorted(wl.ids)


# -- BENCHMARK.json describes what run.py prints ------------------------------

def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
