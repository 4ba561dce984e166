"""Correctness oracles that never touch the engine under test.

- Reads and paths: the triple graph is derived by DuckDB from the same
  parquet through the package's own ``TRIPLES_SQL`` text, and every
  pattern, chain and k-hop answer is then computed by plain set
  arithmetic in Python.
- Analytics: each registry query's DuckDB ``oracle`` SQL, compared after
  the canonicalisation ``tools/oracle_check.py`` applies (columns sorted
  by name, cells normalised, rows sorted) plus an exact dtype check.
- Writes: expected added counts, read-your-writes and ``info()`` totals by
  set arithmetic over the keys the benchmark has sent.
- Signatures: HMAC-SHA256 over the SHA-1 fingerprint, recomputed with
  ``hashlib``.

All of it is built untimed, before or after the timed call it checks.
"""

from __future__ import annotations

import hashlib
import hmac
import math
import os
from collections import defaultdict
from typing import Iterable, Mapping

import duckdb
import pandas as pd

Key = tuple[str, str, str]


def duck_connect(data_dir: str, tables: Iterable[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def expected_sig(key: bytes, subj: str, pred: str, obj: str) -> str:
    fp = hashlib.sha1("\t".join([subj or "", pred or "", obj or ""]).encode()).digest()
    return hmac.new(key, fp, hashlib.sha256).hexdigest()


class TripleOracle:
    """The node's expected content as Python sets, with the indexes the
    workload patterns need (subject, predicate, predicate+object)."""

    def __init__(self, keys: Iterable[Key]):
        self.keys: set[Key] = set()
        self.by_subj: dict[str, set[Key]] = defaultdict(set)
        self.by_pred: dict[str, set[Key]] = defaultdict(set)
        self.add(keys)

    @classmethod
    def from_duckdb(cls, con: duckdb.DuckDBPyConnection, triples_sql: str) -> "TripleOracle":
        return cls(tuple(r) for r in con.execute(triples_sql).fetchall())

    def add(self, keys: Iterable[Key]) -> int:
        """Insert with set semantics; returns how many keys were new."""
        added = 0
        for k in keys:
            if k not in self.keys:
                self.keys.add(k)
                self.by_subj[k[0]].add(k)
                self.by_pred[k[1]].add(k)
                added += 1
        return added

    def match(self, pattern: Mapping[str, str], subjects: set[str] | None = None) -> set[Key]:
        """Keys matching one partial triple; empty fields are wildcards."""
        unknown = set(pattern) - {"subj", "pred", "obj"}
        if unknown:
            raise ValueError(f"oracle patterns use subj/pred/obj only, got {sorted(unknown)}")
        s, p, o = (pattern.get(f) or None for f in ("subj", "pred", "obj"))
        if s is not None:
            cand = self.by_subj.get(s, set())
        elif p is not None:
            cand = self.by_pred.get(p, set())
        else:
            cand = self.keys
        out = {
            k for k in cand
            if (s is None or k[0] == s) and (p is None or k[1] == p) and (o is None or k[2] == o)
        }
        if subjects is not None:
            out = {k for k in out if k[0] in subjects}
        return out

    def query(self, patterns: Iterable[Mapping[str, str]]) -> set[Key]:
        """OR of patterns — ``DegDB.query_json`` semantics."""
        out: set[Key] = set()
        for p in patterns:
            out |= self.match(p)
        return out

    def chain(self, steps: list) -> set[Key]:
        """Final-step triples of a multi-step path: step i keeps only rows
        whose subject is an object matched by step i-1."""
        current: set[Key] | None = None
        for step in steps:
            patterns = [step] if isinstance(step, Mapping) else list(step)
            frontier = None if current is None else {k[2] for k in current}
            current = set()
            for p in patterns:
                current |= self.match(p, frontier)
        return current or set()

    def k_hop(self, seeds: Iterable[str], k: int, pred: str | None = None) -> set[str]:
        """Nodes reachable in exactly k hops (distinct frontier per hop)."""
        frontier = set(seeds)
        for _ in range(k):
            nxt = set()
            for s in frontier:
                for key in self.by_subj.get(s, ()):
                    if pred is None or key[1] == pred:
                        nxt.add(key[2])
            frontier = nxt
        return frontier


def keys_of(rows: Iterable) -> list[Key]:
    """(subj, pred, obj) of result rows given as dicts or Spark Rows."""
    return [(r["subj"], r["pred"], r["obj"]) for r in rows]


def check_rows(rows: list, expected: set[Key], limit: int = -1, sign_key: bytes | None = None) -> bool:
    """Exact set equality (or, under a limit, the right number of distinct
    expected rows), and a valid signature on every row when signed."""
    got = keys_of(rows)
    if limit > 0:
        ok = len(got) == min(limit, len(expected)) and len(set(got)) == len(got) and set(got) <= expected
    else:
        ok = len(got) == len(expected) and set(got) == expected
    if ok and sign_key is not None:
        ok = all(r.get("sig") == expected_sig(sign_key, *k) for r, k in zip(rows, got))
    return ok


# ------------------------------------------------------------ analytics
def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalise cell values, sort rows (the same
    normalisation tools/oracle_check.py uses)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return f"{v:.6f}".rstrip("0").rstrip(".")
        if isinstance(v, pd.Timestamp):
            return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), ignore_index=True)


class QueryOracle:
    """DuckDB answers of the registry queries, canonicalised once."""

    def __init__(self, con: duckdb.DuckDBPyConnection, sql_by_name: Mapping[str, str]):
        self.expected: dict[str, tuple[pd.DataFrame, dict[str, str]]] = {}
        for name, sql in sql_by_name.items():
            df = con.execute(sql).fetchdf()
            self.expected[name] = (canon(df), {c: str(t) for c, t in df.dtypes.items()})

    def check(self, name: str, got: pd.DataFrame) -> bool:
        want, dtypes = self.expected[name]
        if {c: str(t) for c, t in got.dtypes.items()} != dtypes:
            return False
        return canon(got).equals(want)
