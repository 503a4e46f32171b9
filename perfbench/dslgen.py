"""Seeded generator of DSL queries for the ``dsl_session`` workload.

``generate(seed, n)`` returns plain dicts, one per query: a template
name plus its drawn parameters, or ``{"t": "repeat", "of": i}`` to send
query ``i``'s captured frame again.  Templates follow a fixed cycle, so
every run has the same mix of query shapes; the seed draws the
parameters.  ``capture`` turns a spec into
capture nodes, ``lower`` binds them to Spark tables through the
package's public entry points, and ``expect`` emits the same query
written directly in ``pyspark.sql``, which the checker compares against.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Dict, List

import numpy as np

__all__ = ["CYCLE", "Captured", "generate", "capture", "lower",
           "expect", "count_nodes"]

# one cycle of query shapes.  "repeat" re-sends the latest
# compute-carrying frame, which lowers the same captured node in a second
# session: what the auto-persist gate looks for.  The join it re-sends
# first passes the gate's size test; the group-by it re-sends second is
# below it.  "stream_filter" lowers a captured filter onto a streaming
# source.
CYCLE = ("nested_cut", "ufunc", "groupby", "nested_minmax", "join",
         "nested_map", "repeat", "alias_macro", "shared_subdag",
         "stream_filter", "nested_cut", "two_level", "udf", "groupby",
         "repeat")
REPEATABLE = ("groupby", "join")
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ITEM_FIELDS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _params(t: str, rng: random.Random) -> dict:
    if t == "nested_cut":
        return {"k": rng.randint(1, 6), "q": rng.randint(5, 45)}
    if t == "nested_minmax":
        return {"lo": rng.choice(_ITEM_FIELDS), "hi": rng.choice(_ITEM_FIELDS)}
    if t == "nested_map":
        return {"p": rng.randint(0, 400) * 1000.0}
    if t == "alias_macro":
        return {"q": rng.randint(5, 45)}
    if t == "shared_subdag":
        return {"f": rng.randint(1, 9) / 20.0}
    if t == "ufunc":
        return {"q": rng.randint(1, 49)}
    if t == "groupby":
        return {"key": rng.choice(["l_returnflag", "l_linestatus"]),
                "q": rng.randint(1, 49)}
    if t == "join":
        return {"seg": rng.choice(_SEGMENTS),
                "p": rng.randint(0, 400) * 1000.0}
    if t == "two_level":
        return {"k": rng.randint(1, 12)}
    if t == "udf":
        return {"a": rng.randint(1, 9) / 4.0, "q": rng.randint(1, 49)}
    if t == "stream_filter":
        return {"etype": rng.choice(_EVENT_TYPES),
                "v": float(rng.randint(0, 150))}
    raise ValueError(t)


def generate(seed: int, n: int) -> List[dict]:
    """``n`` query specs drawn from ``seed``; same seed, same list."""
    rng = random.Random(seed)
    specs: List[dict] = []
    for i in range(n):
        t = CYCLE[i % len(CYCLE)]
        if t == "repeat":
            prior = [j for j, s in enumerate(specs) if s["t"] in REPEATABLE]
            specs.append({"t": "repeat", "of": prior[-1]})
        else:
            specs.append({"t": t, **_params(t, rng)})
    return specs


@dataclass
class Captured:
    """Capture nodes of one query: root node per table name, the event
    frame, and the named output columns (empty: the frame itself)."""
    roots: Dict[str, object]
    frame: object
    cols: Dict[str, object]


def capture(spec: dict) -> Captured:
    """Build the query's capture-node DAG (no Spark involved)."""
    from dataframe_expressions_spark import DataFrame, define_alias, user_func

    t = spec["t"]
    d = DataFrame()
    if t == "nested_cut":
        big = d.items[d.items.l_quantity > spec["q"]]
        return Captured({"nested": d}, d[d.items.Count() > spec["k"]],
                        {"okey": d.o_orderkey, "n_big": big.Count()})
    if t == "nested_minmax":
        return Captured({"nested": d}, d, {
            "okey": d.o_orderkey,
            "lo": getattr(d.items, spec["lo"]).Min(),
            "hi": getattr(d.items, spec["hi"]).Max()})
    if t == "nested_map":
        rev = d.items.map(
            lambda it: it.l_extendedprice * (1 - it.l_discount)).Sum()
        return Captured({"nested": d}, d[d.o_totalprice > spec["p"]],
                        {"okey": d.o_orderkey, "rev": rev})
    if t == "alias_macro":
        name = f"big_items_{spec['q']}"
        q = spec["q"]
        define_alias(".", name, lambda o: o.items[o.items.l_quantity > q])
        big = getattr(d, name)
        return Captured({"nested": d}, d, {
            "okey": d.o_orderkey, "n": big.Count(), "s": big.l_quantity.Sum()})
    if t == "shared_subdag":
        big = d.items[d.items.l_extendedprice > d.o_totalprice * spec["f"]]
        return Captured({"nested": d}, d, {
            "okey": d.o_orderkey, "n": big.Count(),
            "s": big.l_quantity.Sum(), "m": big.l_discount.Max()})
    if t == "ufunc":
        return Captured({"lineitem": d}, d[d.l_quantity > spec["q"]], {
            "r": np.sqrt(d.l_quantity), "lg": np.log(d.l_extendedprice),
            "a": abs(d.l_discount - 0.05)})
    if t == "groupby":
        m = d[d.l_quantity > spec["q"]]
        return Captured({"lineitem": d}, d.groupby(spec["key"]).agg(
            n=m.Count(), s=m.l_extendedprice.Sum()), {})
    if t == "join":
        c = DataFrame()
        j = d.join(c, on=d.o_custkey == c.c_custkey, how="inner")
        j = j[(c.c_mktsegment == spec["seg"]) & (d.o_totalprice > spec["p"])]
        return Captured({"orders": d, "customer": c}, j, {
            "okey": d.o_orderkey, "bal": c.c_acctbal,
            "price": d.o_totalprice})
    if t == "two_level":
        return Captured({"cnested": d}, d[d.orders.Count() > spec["k"]], {
            "ckey": d.c_custkey, "n_orders": d.orders.Count(),
            "n_items": d.orders.items.Count().Sum()})
    if t == "stream_filter":
        return Captured({"events_stream": d},
                        d[(d.event_type == spec["etype"]) & (d.value > spec["v"])],
                        {"eid": d.event_id, "uid": d.user_id, "value": d.value})
    if t == "udf":
        a = spec["a"]

        @user_func
        def scale(x: float) -> float:
            return x * a + 1.0

        return Captured({"lineitem": d}, d[d.l_quantity > spec["q"]],
                        {"k": d.l_orderkey, "v": scale(d.l_extendedprice)})
    raise ValueError(t)


def lower(cap: Captured, tables: Dict[str, object]):
    """Lower through the package's entry points: ``select`` for one
    source, ``select_from`` for several, ``to_spark`` for a bare frame."""
    from dataframe_expressions_spark import select, select_from, to_spark

    bindings = {node: tables[name] for name, node in cap.roots.items()}
    if len(bindings) > 1:
        return select_from(bindings, cap.frame, **cap.cols)
    (root, base), = bindings.items()
    if not cap.cols:
        return to_spark(root, base, cap.frame)
    return select(root, base, cap.frame, **cap.cols)


def expect(spec: dict, tables: Dict[str, object]):
    """The same query written directly in ``pyspark.sql``."""
    from pyspark.sql import functions as F

    t = spec["t"]
    nested, li = tables.get("nested"), tables.get("lineitem")
    if t == "nested_cut":
        q = spec["q"]
        return nested.where(F.size("items") > spec["k"]).select(
            F.col("o_orderkey").alias("okey"),
            F.size(F.filter("items", lambda it: it["l_quantity"] > q)
                   ).alias("n_big"))
    if t == "nested_minmax":
        lo, hi = spec["lo"], spec["hi"]
        return nested.select(
            F.col("o_orderkey").alias("okey"),
            F.array_min(F.transform("items", lambda it: it[lo])).alias("lo"),
            F.array_max(F.transform("items", lambda it: it[hi])).alias("hi"))
    if t == "nested_map":
        return nested.where(F.col("o_totalprice") > spec["p"]).select(
            F.col("o_orderkey").alias("okey"),
            F.aggregate("items", F.lit(0.0), lambda acc, it: acc
                        + it["l_extendedprice"] * (1 - it["l_discount"])
                        ).alias("rev"))
    if t == "alias_macro":
        q = spec["q"]
        big = F.filter("items", lambda it: it["l_quantity"] > q)
        return nested.select(
            F.col("o_orderkey").alias("okey"), F.size(big).alias("n"),
            F.aggregate(big, F.lit(0.0),
                        lambda acc, it: acc + it["l_quantity"]).alias("s"))
    if t == "shared_subdag":
        f = spec["f"]
        big = F.filter("items", lambda it: it["l_extendedprice"]
                       > F.col("o_totalprice") * f)
        return nested.select(
            F.col("o_orderkey").alias("okey"), F.size(big).alias("n"),
            F.aggregate(big, F.lit(0.0),
                        lambda acc, it: acc + it["l_quantity"]).alias("s"),
            F.array_max(F.transform(big, lambda it: it["l_discount"])
                        ).alias("m"))
    if t == "ufunc":
        return li.where(F.col("l_quantity") > spec["q"]).select(
            F.sqrt("l_quantity").alias("r"),
            F.log("l_extendedprice").alias("lg"),
            F.abs(F.col("l_discount") - 0.05).alias("a"))
    if t == "groupby":
        m = F.col("l_quantity") > spec["q"]
        return li.groupBy(spec["key"]).agg(
            F.count(F.when(m, 1)).alias("n"),
            F.sum(F.when(m, F.col("l_extendedprice"))).alias("s"))
    if t == "join":
        o, c = tables["orders"], tables["customer"]
        return o.join(c, o.o_custkey == c.c_custkey).where(
            (c.c_mktsegment == spec["seg"]) & (o.o_totalprice > spec["p"])
        ).select(o.o_orderkey.alias("okey"), c.c_acctbal.alias("bal"),
                 o.o_totalprice.alias("price"))
    if t == "two_level":
        cn = tables["cnested"]
        return cn.where(F.size("orders") > spec["k"]).select(
            F.col("c_custkey").alias("ckey"),
            F.size("orders").alias("n_orders"),
            F.aggregate(F.transform("orders", lambda o: F.size(o["items"])),
                        F.lit(0), lambda acc, x: acc + x).alias("n_items"))
    if t == "stream_filter":
        return tables["events"].where(
            (F.col("event_type") == spec["etype"]) & (F.col("value") > spec["v"])
        ).select(F.col("event_id").alias("eid"), F.col("user_id").alias("uid"),
                 "value")
    if t == "udf":
        return li.where(F.col("l_quantity") > spec["q"]).select(
            F.col("l_orderkey").alias("k"),
            (F.col("l_extendedprice") * spec["a"] + 1.0).alias("v"))
    raise ValueError(t)


def count_nodes(cap: Captured) -> int:
    """Distinct capture nodes reachable from the frame and columns."""
    from dataframe_expressions_spark import Column, DataFrame

    node_types = (DataFrame, Column)
    seen: set = set()
    stack: list = [cap.frame, *cap.cols.values()]
    while stack:
        x = stack.pop()
        if isinstance(x, node_types):
            if id(x) in seen:
                continue
            seen.add(id(x))
            stack.extend(x.args)
        elif isinstance(x, (tuple, list)):
            stack.extend(x)
    return len(seen)

