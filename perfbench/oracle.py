"""Output checks.

* Registry ids: the Spark result against the id's DuckDB oracle SQL on
  the same parquet, canonicalised the way ``tests/oracle_check.py``
  does (columns sorted by name, rows sorted, dtypes coerced, exact
  values).  That file is a script that sets up its import path and
  data directory when imported, so the comparison is restated here.
* DSL queries: one aggregate fingerprint per side, all of a run's
  queries in one Spark action instead of a collect each.
"""

from __future__ import annotations

import math
from typing import Dict, Optional, Tuple

import numpy as np
import pandas as pd

from datagen import TABLES

__all__ = ["connect", "check", "compare_frames", "same_fingerprints"]


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> Optional[str]:
    """None on a match, else the first difference."""
    if len(got) != len(want):
        return f"row count: spark={len(got)} oracle={len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            eq = (av == bv) | (av.isna() & bv.isna())
        elif av.isna().any() or bv.isna().any():
            eq = (av.astype(object) == bv.astype(object)) | (
                av.isna() & bv.isna())
        else:
            eq = av == bv
        if not eq.all():
            i = int(np.argmax(~eq.values))
            return (f"col {c!r}: {int((~eq).sum())} mismatches, first at "
                    f"sorted row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}")
    return None


def check(con, sql: Optional[str], got: pd.DataFrame) -> Optional[str]:
    if sql is None:
        return None if len(got) else "no oracle and 0 rows"
    return compare_frames(got, con.execute(sql).fetchdf())


def _fingerprint(df, q: int, side: str):
    """One row ``(q, side, v)``: ``v`` holds the row count, then per
    column (sorted by name) the sum of a numeric column or the sum of
    ``hash()`` of any other column, as doubles.  Hash sums stay exact: a
    32-bit hash summed over fewer than 2**21 rows fits a double's 53-bit
    mantissa."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    types = {f.name: f.dataType for f in df.schema.fields}
    kinds, vals = [], [F.count(F.lit(1)).cast("double")]
    for name in sorted(types):
        c = F.col(f"`{name}`")
        if isinstance(types[name], NumericType):
            kinds.append("num")
            vals.append(F.sum(c.cast("double")))
        else:
            kinds.append("hash")
            vals.append(F.sum(F.hash(c).cast("double")))
    row = df.agg(F.array(*vals).alias("v")).select(
        F.lit(q).alias("q"), F.lit(side).alias("side"), "v")
    return row, kinds


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def same_fingerprints(pairs) -> Dict[int, Tuple[Optional[str], int]]:
    """``pairs``: ``(q, got, want)`` DataFrames; a ``want`` shared by
    several pairs is fingerprinted once.  Returns, per ``q``, ``(None,
    rows)`` when both agree on row count, column names and every
    column's fingerprint, else ``(difference, rows)``.  All fingerprints
    come from one Spark action."""
    from functools import reduce

    out: Dict[int, Tuple[Optional[str], int]] = {}
    frames, kinds, wants = [], {}, {}  # wants: id(want) -> (w, kinds)
    for q, got, want in pairs:
        if sorted(got.columns) != sorted(want.columns):
            out[q] = (f"columns: dsl={sorted(got.columns)} "
                      f"expect={sorted(want.columns)}", 0)
            continue
        if id(want) not in wants:
            w, wk = _fingerprint(want, len(wants), "w")
            wants[id(want)] = (len(wants), wk)
            frames.append(w)
        g, kinds[q] = _fingerprint(got, q, "g")
        w, wk = wants[id(want)]
        if wk != kinds[q]:
            out[q] = (f"column kinds: dsl={kinds[q]} expect={wk}", 0)
            continue
        kinds[q] = (kinds[q], w)
        frames.append(g)
    if not frames:
        return out
    rows = {(r.q, r.side): r.v for r in
            reduce(lambda a, b: a.unionByName(b), frames).collect()}
    for q, (k, wq) in ((q, v) for q, v in kinds.items() if q not in out):
        g, w = rows[(q, "g")], rows[(wq, "w")]
        n = int(g[0])
        err = None
        if g[0] != w[0]:
            err = f"row count: dsl={n} expect={int(w[0])}"
        else:
            for j, kind in enumerate(k, start=1):
                if not (_close(g[j], w[j]) if kind == "num" else g[j] == w[j]):
                    err = f"column {j} ({kind}): dsl={g[j]} expect={w[j]}"
                    break
        out[q] = (err, n)
    return out
