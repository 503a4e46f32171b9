"""The two workloads.  Each one sets itself up (timed as ``setup_s``),
yields ops, runs one op (timed), and checks the op's output (untimed).

* ``Registry`` (``registry_tiny``): the frozen id panel of
  ``panels.json`` in a seeded order, each id built by its registered
  ``fn()`` and run to the noop sink; each op's own result is checked
  against the id's DuckDB oracle SQL.
* ``DslSession`` (``dsl_session``): the seeded DSL query stream of
  ``dslgen``, each query checked against its direct ``pyspark.sql``
  formulation, with the table-format ops of ``TableOps`` (the seeded
  sequence of ``churn``, reads checked against its pandas model)
  interleaved.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

import churn
import dslgen
from harness import Ctx, dual_gc, run_call, run_frame
import oracle

__all__ = ["Op", "Registry", "DslSession", "TableOps", "load_panels"]

PANELS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "panels.json")


def load_panels() -> dict:
    """The frozen per-workload id lists; never recomputed by a run."""
    with open(PANELS) as fh:
        return json.load(fh)


@dataclass
class Op:
    rid: str
    kind: str = "query"
    payload: dict = field(default_factory=dict)


class Registry:
    """The frozen ``registry_tiny`` panel of registered ids at sf0.001."""

    def __init__(self, seed: int) -> None:
        panel = load_panels()["registry_tiny"]
        self.ids: List[str] = list(panel["panel"])
        self.sf: float = panel["sf"]
        self.pass_s: float = panel["pass_s"]
        self.seed = seed

    def n_ops(self, seconds: float) -> int:
        """Whole passes, about ``seconds`` of them on 4 cores, so every
        id is sampled equally often."""
        return len(self.ids) * max(1, round(seconds / self.pass_s))

    def setup(self, ctx: Ctx, sf_dir: str, phase) -> None:
        from dataframe_expressions_spark.operators.registry import (
            PANDAS_PLAN_IDS, PY_POOL_EXTRA_IDS, load_all)

        self.sf_dir = sf_dir
        self.queries = load_all()
        self.pool_ids = PANDAS_PLAN_IDS | PY_POOL_EXTRA_IDS
        self.con = None
        self.want: Dict[str, object] = {}
        # the warm pass builds the write-once stores the panel reads (only
        # fn() knows which); an id that fails here fails, and is counted,
        # in every timed op too
        self.warm_s: Dict[str, float] = {}
        with phase("session.warm_pass"):
            for qid in self.ids:
                t0 = time.perf_counter()
                self._warm_pool(ctx, qid)
                try:
                    self.queries[qid].fn(ctx.spark, sf_dir).write.format(
                        "noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - see above
                    pass
                self.warm_s[qid] = time.perf_counter() - t0
                dual_gc(ctx.spark)

    def _warm_pool(self, ctx: Ctx, qid: str) -> None:
        # re-spawn a reaped Python worker pool before an Arrow-crossing id,
        # one task per core, so the spawn burst is not timed
        if qid in self.pool_ids:
            cores = ctx.spark.sparkContext.defaultParallelism
            ctx.spark.range(64).repartition(cores).mapInPandas(
                lambda it: it, "id long").write.format("noop").mode(
                "overwrite").save()

    def ops(self) -> Iterator[Op]:
        rng = random.Random(self.seed)
        n = 0
        while True:
            order = list(self.ids)
            rng.shuffle(order)
            for qid in order:
                yield Op(qid, payload={"pass": n})
            n += 1

    def replay(self, recs) -> Iterator[Op]:
        for op, _ in recs:
            yield op

    def before(self, ctx: Ctx, op: Op) -> None:
        dual_gc(ctx.spark)
        self._warm_pool(ctx, op.rid)

    def run(self, ctx: Ctx, op: Op) -> float:
        q = self.queries[op.rid]

        def build(_parent):
            self._df = q.fn(ctx.spark, self.sf_dir)
            return self._df

        self._df = None
        return run_frame(ctx, op.rid, build, "operators")

    def check(self, ctx: Ctx, op: Op) -> Optional[str]:
        """The timed op's own DataFrame, collected, against the id's
        oracle result (queried once per id and run)."""
        got = self._df.toPandas()
        if ctx.traced:
            ctx.add("rows_out", len(got))
        if op.rid not in self.want:
            if self.con is None:
                self.con = oracle.connect(self.sf_dir)
            sql = self.queries[op.rid].oracle
            self.want[op.rid] = (None if sql is None
                                 else self.con.execute(sql).fetchdf())
        want = self.want[op.rid]
        if want is None:
            return None if len(got) else "no oracle and 0 rows"
        err = oracle.compare_frames(got, want)
        return f"oracle mismatch: {err}" if err else None

    def end_phase(self, ctx: Ctx) -> int:
        return 0

    def finish(self, ctx: Ctx) -> Dict[str, float]:
        if self.con is not None:
            self.con.close()
        return {}


class DslSession:
    """The seeded DSL query stream over sf0.01 nested and flat tables.
    With ``tables`` (the traced run, which reports the per-layer
    ``sources`` metrics), one cycle of the table-format ops of
    ``TableOps`` is spread over each cycle of query shapes."""

    sf = 0.01
    _stream = 4000  # specs generated; a run uses a prefix
    q_cycle = len(dslgen.CYCLE)
    t_cycle = len(churn.PATTERN)
    # seconds of run one cycle of query shapes stands for: on 4 cores its
    # 15 queries take about 5 s, the GC between them and their checks
    # about as long again
    cycle_s = 10.0

    def __init__(self, seed: int, tables: bool) -> None:
        self.seed = seed
        self.specs = dslgen.generate(seed, self._stream)
        self.table = TableOps(seed) if tables else None

    def n_ops(self, seconds: float) -> int:
        """Whole cycles, so every run has the same mix of shapes."""
        n = self.q_cycle * max(1, round(seconds / self.cycle_s))
        return n + (n * self.t_cycle // self.q_cycle if self.table else 0)

    def setup(self, ctx: Ctx, sf_dir: str, phase) -> None:
        from dataframe_expressions_spark.sources.tables import (
            customer_nested, load_table, orders_nested)

        spark = ctx.spark
        with phase("sources.store_build"):
            events = load_table(spark, sf_dir, "events")
            self.tables = {
                "nested": orders_nested(spark, sf_dir),
                "cnested": customer_nested(spark, sf_dir),
                "lineitem": load_table(spark, sf_dir, "lineitem"),
                "orders": load_table(spark, sf_dir, "orders"),
                "customer": load_table(spark, sf_dir, "customer"),
                "events": events,
                # the generated events file as a bounded file stream
                "events_stream": spark.readStream.schema(events.schema)
                .option("pathGlobFilter", "events.parquet").parquet(sf_dir),
            }
        self.ckpt = os.path.join(ctx.work, "checkpoints")
        if self.table:
            self.table.setup(ctx, sf_dir, phase)
        # one query per template, from a stream the run never uses
        with phase("session.warm_pass"):
            warm = dslgen.generate(-1 - self.seed, 200)
            seen = set()
            for spec in warm:
                if spec["t"] in seen or spec["t"] == "repeat":
                    continue
                seen.add(spec["t"])
                df = dslgen.lower(dslgen.capture(spec), self.tables)
                if df.isStreaming:
                    self._run_stream(df, "perfbench_warm")
                else:
                    df.write.format("noop").mode("overwrite").save()
            self._release()
        self.captured: Dict[int, dslgen.Captured] = {}
        self.pending: List[tuple] = []  # (op, DataFrame, traced)
        self._n_streams = 0

    @staticmethod
    def _release() -> int:
        from dataframe_expressions_spark import unpersist_points

        return unpersist_points()

    def ops(self) -> Iterator[Op]:
        for i in range(len(self.specs)):
            yield Op(f"dsl:{i}", payload={"i": i})
            if self.table:
                due = ((i + 1) * self.t_cycle // self.q_cycle
                       - i * self.t_cycle // self.q_cycle)
                for _ in range(due):
                    yield self.table.next_op()

    def replay(self, recs) -> Iterator[Op]:
        """The same queries again; a table op, which depends on the
        table's state, is replaced by the next one."""
        for op, _ in recs:
            yield op if op.kind == "query" else self.table.next_op()

    def before(self, ctx: Ctx, op: Op) -> None:
        if op.kind == "query":
            dual_gc(ctx.spark)
        else:
            self.table.before(ctx, op)

    def _run_stream(self, df, name: str) -> None:
        """Drain the bounded stream into a memory table ``name``."""
        q = (df.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(self.ckpt, name))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def run(self, ctx: Ctx, op: Op) -> float:
        if op.kind != "query":
            return self.table.run(ctx, op)
        i = op.payload["i"]
        spec = self.specs[i]
        tr = ctx.tracer
        if spec["t"] == "stream_filter":
            return self._run_stream_op(ctx, op, spec)

        def build(parent):
            with tr.span("plans.capture", op.rid, parent):
                if spec["t"] == "repeat":
                    cap = self.captured[spec["of"]]
                else:
                    cap = dslgen.capture(spec)
            self.captured[i] = cap
            with tr.span("plans.lower", op.rid, parent):
                self._df = dslgen.lower(cap, self.tables)
            return self._df

        dt = run_frame(ctx, op.rid, build, "plans")
        if ctx.traced:
            ctx.add("plans.nodes", dslgen.count_nodes(self.captured[i]))
        return dt

    def _run_stream_op(self, ctx: Ctx, op: Op, spec: dict) -> float:
        """A captured filter lowered onto the streaming source, drained
        to a memory table; the table is what gets checked."""
        tr = ctx.tracer
        self._n_streams += 1
        name = f"perfbench_stream_{self._n_streams}"  # one sink per run
        t0 = time.perf_counter()
        with tr.span("query", op.rid) as q:
            with tr.span("plans.build", op.rid, q) as b:
                with tr.span("plans.capture", op.rid, b):
                    cap = dslgen.capture(spec)
                with tr.span("plans.lower", op.rid, b):
                    df = dslgen.lower(cap, self.tables)
            with tr.span("streaming.run", op.rid, q):
                self._run_stream(df, name)
        dt = time.perf_counter() - t0
        self._df = ctx.spark.table(name)
        if ctx.traced:
            ctx.add("plans.nodes", dslgen.count_nodes(cap))
        return tr.spans[q].duration if ctx.traced else dt

    def check(self, ctx: Ctx, op: Op) -> Optional[str]:
        if op.kind != "query":
            return self.table.check(ctx, op)
        # keep the DataFrame the timed run lowered (lowering the captured
        # node again would be another session and could trip the
        # auto-persist gate); finish checks them all in one action
        self.pending.append((op, self._df, ctx.traced))
        return None

    def finish(self, ctx: Ctx) -> Dict[str, float]:
        """Check every query's DataFrame, re-sent frames too, against its
        origin's ``pyspark.sql`` twin; then close the table."""
        want: Dict[int, object] = {}
        pairs = []
        for k, (op, df, _) in enumerate(self.pending):
            o = self._origin(op)
            if o not in want:
                want[o] = dslgen.expect(self.specs[o], self.tables)
            pairs.append((k, df, want[o]))
        res = oracle.same_fingerprints(pairs)
        for k, (op, _, traced) in enumerate(self.pending):
            err, rows = res[k]
            if err:
                ctx.fail(op.rid, f"differs from its pyspark.sql twin: {err}")
            if traced:
                ctx.add("rows_out", rows)
        return self.table.finish(ctx) if self.table else {}

    def _origin(self, op: Op) -> int:
        i = op.payload["i"]
        spec = self.specs[i]
        return spec["of"] if spec["t"] == "repeat" else i

    def end_phase(self, ctx: Ctx) -> int:
        """Release this phase's persisted frames; returns how many."""
        self.captured.clear()
        return self._release()


class TableOps:
    """Writes beside reads on the copy-on-write table format, through
    ``sources.mergetable`` directly; the op sequence and the pandas model
    that checks the reads are ``churn``'s."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self._n = 0

    def setup(self, ctx: Ctx, sf_dir: str, phase) -> None:
        import pandas as pd
        from pyspark.sql import functions as F
        from dataframe_expressions_spark.sources import mergetable as mt
        from dataframe_expressions_spark.sources.tables import load_table

        spark = ctx.spark
        self.mt = mt
        self.root = os.path.join(ctx.work, "tables", "bucketed")
        self.plain_root = os.path.join(ctx.work, "tables", "plain")
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        table = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("ck"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
            F.col("c_mktsegment").alias("seg"))
        plain = cust.select(F.col("c_custkey").alias("k"),
                            F.col("c_acctbal").alias("price"))
        with phase("sources.store_build"):
            mt.commit_bucketed(table, self.root, 0, on="k",
                               n_buckets=churn.B, hashed=False, stats_key="k")
            mt.commit_snapshot(plain, self.plain_root, 0)
        o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"),
                            columns=["o_orderkey", "o_custkey", "o_totalprice"])
        c = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"),
                            columns=["c_custkey", "c_acctbal"])
        o = o[o.o_custkey.isin(c.c_custkey)]
        self.model = churn.Churn(
            self.seed, o.set_index("o_orderkey")["o_totalprice"].sort_index(),
            c.set_index("c_custkey")["c_acctbal"].sort_index())
        self.v0_bytes = _tree_bytes(self.root)
        self.row_bytes = self.v0_bytes / max(1, len(self.model.cur))
        with phase("session.warm_pass"):
            self._read(ctx, {"kind": "read_latest"}).write.format(
                "noop").mode("overwrite").save()
        self.tables_dir = os.path.dirname(self.root)
        self.files = _tree_files(self.tables_dir)
        self.bytes_written = 0
        self.files_written = 0

    def next_op(self) -> Op:
        """The model's next op, drawn from the table's current state."""
        op = self.model.next_op()
        self._n += 1
        return Op(f"table:{self._n}:{op['kind']}", op["kind"], op)

    def before(self, ctx: Ctx, op: Op) -> None:
        if ctx.traced:
            # resolution cost against the current version count
            t0 = time.perf_counter()
            vs = self.mt.committed_versions(self.root)
            self.mt.latest_version(self.root)
            dt = time.perf_counter() - t0
            ctx.add("sources.resolve_s", dt)
            ctx.tracer.count(f"sources.resolve_s@{len(vs)}_versions", dt)

    def _read(self, ctx: Ctx, op: dict):
        mt, spark, k = self.mt, ctx.spark, op["kind"]
        if k == "read_latest":
            return mt.read_bucketed(spark, self.root)
        if k == "read_range":
            return mt.read_bucketed(spark, self.root,
                                    key_range=(op["lo"], op["hi"]))
        if k == "read_point":
            return mt.read_bucketed(spark, self.root,
                                    key_equals={"k": op["key"]})
        if k == "read_asof":
            return mt.read_bucketed(spark, self.root, n=op["version"])
        if k == "read_plain":
            return mt.read_version(spark, self.plain_root)
        if k == "changes":
            return mt.table_changes(spark, self.root, op["from_v"],
                                    op["to_v"])
        raise ValueError(k)

    def _write(self, ctx: Ctx, op: dict):
        mt, spark, k = self.mt, ctx.spark, op["kind"]
        if k == "merge":
            src = spark.createDataFrame(
                list(zip(op["keys"], op["prices"])), "k long, price double")
            return mt.merge_into_bucketed_exclusive(
                spark, self.root, src, matched_update={"price": "s.price"},
                not_matched_insert={"price": "s.price"})
        if k == "delete":
            keys = ", ".join(str(x) for x in op["keys"])
            return mt.commit_mor_delete(spark, self.plain_root,
                                        f"k IN ({keys})", on="k")
        if k == "compact_mor":
            return mt.compact_mor(spark, self.plain_root)
        if k == "compact":
            return mt.compact_buckets(spark, self.root, max_files=1)
        if k == "vacuum":
            return mt.vacuum(self.root, keep=churn.KEEP)
        raise ValueError(k)

    def run(self, ctx: Ctx, op: Op) -> float:
        p = op.payload
        if p["write"]:
            out, dt = run_call(ctx, op.rid, f"sources.{op.kind}",
                               lambda: self._write(ctx, p))
            self.model.apply(p, out)
            self._account_files()
            if ctx.traced:
                ctx.add(f"sources.{_WRITE_METRIC[op.kind]}_s", dt)
            return dt
        self._df = None

        def build(_parent):
            self._df = self._read(ctx, p)
            return self._df

        dt = run_frame(ctx, op.rid, build, "sources")
        if ctx.traced:
            self._count_files(ctx, p)
        return dt

    def check(self, ctx: Ctx, op: Op) -> Optional[str]:
        p = op.payload
        if p["write"]:
            return None  # the reads that follow check the writes
        if op.kind == "changes":
            got = {r[0]: r[1] for r in self._df.groupBy("change_type")
                   .count().collect()}
            got = {k: got.get(k, 0) for k in p["expect"]}
        else:
            r = self._df.selectExpr("count(*)", "sum(k)", "sum(price)").first()
            got = (int(r[0]), int(r[1] or 0), float(r[2] or 0.0))
            if ctx.traced:
                ctx.add("rows_out", got[0])
        return churn.check_read(p, got)

    def _account_files(self) -> None:
        """Bytes and files the write added under the table roots."""
        now = _tree_files(self.tables_dir)
        new = {f: s for f, s in now.items() if f not in self.files}
        self.bytes_written += sum(new.values())
        self.files_written += len(new)
        self.files = now

    def _count_files(self, ctx: Ctx, p: dict) -> None:
        if p["kind"] in ("read_range", "read_point"):
            scanned = len(self._df.inputFiles())
            full = len(self.mt.read_bucketed(ctx.spark,
                                             self.root).inputFiles())
            ctx.add("sources.files_scanned", scanned)
            ctx.add("sources.files_full", full)
            ctx.add("sources.pruned_reads", 1)

    def finish(self, ctx: Ctx) -> Dict[str, float]:
        """Final vacuum, then the table's amplification figures."""
        mt = self.mt
        self.model.apply({"kind": "vacuum"}, mt.vacuum(self.root,
                                                      keep=churn.KEEP))
        live = mt.read_bucketed(ctx.spark, self.root).inputFiles()
        live_bytes = sum(os.path.getsize(_local(f)) for f in live)
        user_bytes = max(1.0, self.model.user_rows * self.row_bytes)
        out = {
            "write_amp": self.bytes_written / user_bytes,
            "space_amp": _tree_bytes(self.root) / max(1, live_bytes),
            "sources.bytes_written": float(self.bytes_written),
            "sources.files_written": float(self.files_written),
            "sources.versions_live": float(len(mt.committed_versions(
                self.root))),
        }
        return out


_WRITE_METRIC = {"merge": "merge", "delete": "delete", "compact_mor": "compact",
                 "compact": "compact", "vacuum": "vacuum"}


def _local(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def _tree_files(root: str) -> Dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _tree_bytes(root: str) -> int:
    return sum(_tree_files(root).values())
