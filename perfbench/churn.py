"""Seeded op sequence and pandas model of the table-format ops that
``dsl_session`` interleaves with its queries.

Two tables live under the benchmark's work directory:

* ``bucketed``: the run's orders joined to their customer, keyed on ``k``
  (the order key), ``B`` buckets by ``pmod(k, B)`` with file statistics
  on ``k``.  Merges, compactions and vacuums run here, beside latest,
  time-travel, key-range and point reads and change-feed reads.
* ``plain``: the run's customer, keyed on ``k``.  Merge-on-read deletes
  (plain tables only) and their compaction run here.

``Churn`` is both the generator and the model: ``next_op()`` draws the
next op from the model's current state, and ``apply(op, result)``
advances the model with what the table returned (a version number, or
the versions a vacuum dropped).  Expected results of reads come from the
model, as ``(rows, sum of keys, sum of prices)`` fingerprints.
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

import numpy as np
import pandas as pd

__all__ = ["B", "KEEP", "PATTERN", "Churn", "check_read", "fingerprint"]

B = 16  # buckets
KEEP = 2  # versions a vacuum keeps
# one cycle, about 8 s of op time on 4 cores: each kind of op once
PATTERN = ("merge", "read_range", "read_asof", "changes", "delete",
           "read_plain", "read_point", "compact", "compact_mor",
           "read_latest", "vacuum")
WRITES = frozenset({"merge", "delete", "compact_mor", "compact", "vacuum"})

Fingerprint = Tuple[int, int, float]


def fingerprint(keys: np.ndarray, vals: np.ndarray) -> Fingerprint:
    return (int(len(keys)), int(keys.sum()), float(vals.sum()))


class Churn:
    def __init__(self, seed: int, table: pd.Series, plain: pd.Series) -> None:
        """``table``/``plain``: price/balance Series indexed by key, the
        content of version 0 of each table."""
        self.rng = np.random.default_rng(seed)
        self.cur = table.copy()
        self.plain = plain.copy()
        self.latest = 0
        self.live: Dict[int, Fingerprint] = {0: self._fp()}
        # version -> (previous committed version, change counts)
        self.changes: Dict[int, Tuple[int, Dict[str, int]]] = {}
        self.next_key = int(table.index.max()) + 1
        self.step = 0
        self.user_rows = 0  # rows a user asked to change

    def _fp(self, lo=None, hi=None) -> Fingerprint:
        s = self.cur if lo is None else self.cur.loc[lo:hi]
        return fingerprint(s.index.to_numpy(), s.to_numpy())

    # -- generation ------------------------------------------------------

    def next_op(self) -> dict:
        kind = PATTERN[self.step % len(PATTERN)]
        self.step += 1
        op: dict = {"kind": kind, "write": kind in WRITES}
        rng = self.rng
        if kind == "merge":
            k = int(rng.choice([1, 2, 4]))
            buckets = sorted(int(b) for b in rng.choice(B, k, replace=False))
            keys = self.cur.index.to_numpy()
            pool = keys[np.isin(keys % B, buckets)]
            upd = np.sort(rng.choice(pool, min(len(pool), 100 * k),
                                     replace=False))
            ins = []
            while len(ins) < 20 * k:
                if self.next_key % B in buckets:
                    ins.append(self.next_key)
                self.next_key += 1
            skeys = np.concatenate([upd, np.array(ins, dtype=upd.dtype)])
            prices = np.round(rng.uniform(1000.0, 500_000.0, len(skeys)), 2)
            op.update(buckets=buckets, keys=skeys.tolist(),
                      prices=prices.tolist(), n_update=len(upd))
        elif kind == "delete":
            keys = rng.choice(self.plain.index.to_numpy(), 20, replace=False)
            op["keys"] = sorted(int(x) for x in keys)
        elif kind == "read_range":
            lo = int(rng.integers(0, self.next_key))
            op.update(lo=lo, hi=lo + max(1, self.next_key // 100))
            op["expect"] = self._fp(op["lo"], op["hi"])
        elif kind == "read_point":
            key = int(rng.choice(self.cur.index.to_numpy()))
            op.update(key=key, expect=(1, key, float(self.cur.loc[key])))
        elif kind == "read_latest":
            op["expect"] = self.live[self.latest]
        elif kind == "read_asof":
            old = sorted(v for v in self.live if v != self.latest)
            v = int(rng.choice(old)) if old else self.latest
            op.update(version=v, expect=self.live[v])
        elif kind == "changes":
            cands = sorted(v for v, (a, _) in self.changes.items()
                           if v in self.live and a in self.live)
            if cands:
                v = int(rng.choice(cands))
                op.update(from_v=self.changes[v][0], to_v=v,
                          expect=self.changes[v][1])
            else:
                op["kind"] = "read_latest"
                op["expect"] = self.live[self.latest]
        elif kind == "read_plain":
            p = self.plain
            op["expect"] = fingerprint(p.index.to_numpy(), p.to_numpy())
        return op

    # -- model update ----------------------------------------------------

    def apply(self, op: dict, result) -> None:
        kind = op["kind"]
        if kind == "merge":
            keys = np.asarray(op["keys"])
            prices = pd.Series(op["prices"], index=keys)
            upd = keys[: op["n_update"]]
            changed = upd[self.cur.loc[upd].to_numpy() != prices.loc[upd]
                          .to_numpy()]
            counts = {"insert": len(keys) - op["n_update"],
                      "update_preimage": len(changed),
                      "update_postimage": len(changed), "delete": 0}
            self.cur = pd.concat([self.cur.drop(upd), prices]).sort_index()
            self.user_rows += len(keys)
            self._commit(int(result), counts)
        elif kind == "compact":
            if int(result) != self.latest:
                self._commit(int(result), {"insert": 0, "delete": 0,
                                           "update_preimage": 0,
                                           "update_postimage": 0})
        elif kind == "vacuum":
            for v in result:
                self.live.pop(int(v), None)
        elif kind == "delete":
            self.plain = self.plain.drop(op["keys"])
            self.user_rows += len(op["keys"])

    def _commit(self, v: int, counts: Dict[str, int]) -> None:
        self.changes[v] = (self.latest, counts)
        self.latest = v
        self.live[v] = self._fp()


def check_read(op: dict, got) -> Optional[str]:
    """Compare a read's result with the model's expectation."""
    want = op["expect"]
    if op["kind"] == "changes":
        return None if dict(got) == dict(want) else f"changes {got} != {want}"
    n, sk, sp = got
    if n != want[0] or sk != want[1] or abs(sp - want[2]) > 1e-6 * max(
            1.0, abs(want[2])):
        return f"{op['kind']}: got {got}, model {want}"
    return None

