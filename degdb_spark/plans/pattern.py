"""Triple-pattern → Catalyst Column compiler.

Re-implements the *semantics* of the reference's ArrayOp query IR
(/root/reference/protocol/protocol.proto:80-89) and its SQL compiler
(/root/reference/triplestore/triplestore.go:79-132) as a PySpark
``Column`` expression builder. Where degdb compiled a boolean tree of
exact-match triple patterns into one SQLite WHERE string, we compile the
same tree into one Catalyst predicate — which Catalyst then pushes down
to the parquet scan, so a rooted pattern query only reads the row groups
whose min/max subj range can match (the Spark analogue of degdb routing a
query to the shard owning murmur3(subj)).

Semantics preserved (validated by tests mirroring TestArrayOpToSQL and
TestTripleStoreQueryArrayOp, triplestore/triplestore_test.go:143-235,
281-379):

- A pattern is a partial triple; each non-empty field contributes an
  equality conjunct; empty/missing = wildcard (triplestore.go:107-132).
- Mode AND/OR combines patterns and sub-expressions
  (triplestore.go:79-95). Default mode is OR — proto3 zero value
  (protocol.proto:83-88).
- NOT requires exactly one pattern or sub-expression
  (triplestore.go:96-103, protocol.proto:86).
- AND of two different-subject patterns is per-row conjunction → empty
  result, NOT result-set intersection (triplestore_test.go:332-345).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Pattern fields that may carry an equality constraint
#: (TripleToSQL, triplestore/triplestore.go:107-132).
PATTERN_FIELDS = ("subj", "pred", "obj", "lang", "author")

AND, OR, NOT = "AND", "OR", "NOT"


@dataclass
class ArrayOp:
    """Recursive boolean tree over triple patterns — the reference's query
    IR (protocol/protocol.proto:80-89)."""

    mode: str = OR  # proto3 zero value is OR (protocol.proto:83-88)
    triples: list[Mapping[str, str]] = field(default_factory=list)
    arguments: list["ArrayOp"] = field(default_factory=list)

    @staticmethod
    def from_dict(d: Mapping) -> "ArrayOp":
        mode = str(d.get("mode", OR)).upper()
        if mode not in (AND, OR, NOT):
            raise ValueError(f"unknown ArrayOp mode: {mode!r}")
        return ArrayOp(
            mode=mode,
            triples=list(d.get("triples", [])),
            arguments=[ArrayOp.from_dict(a) for a in d.get("arguments", [])],
        )


def compile_pattern(pattern: Mapping[str, str]) -> Column:
    """One partial triple → conjunction of equality predicates.

    Mirrors TripleToSQL (triplestore/triplestore.go:107-132): empty
    string or absent field = wildcard; a fully-empty pattern matches
    everything.
    """
    conjuncts = [
        F.col(f) == F.lit(pattern[f])
        for f in PATTERN_FIELDS
        if pattern.get(f) not in (None, "")
    ]
    unknown = set(pattern) - set(PATTERN_FIELDS) - {"sig", "created"}
    if unknown:
        raise ValueError(f"unknown pattern fields: {sorted(unknown)}")
    if not conjuncts:
        return F.lit(True)
    out = conjuncts[0]
    for c in conjuncts[1:]:
        out = out & c
    return out


def compile_array_op(op: ArrayOp | Mapping) -> Column:
    """Boolean tree → one Catalyst predicate (ArrayOpToSQL semantics,
    triplestore/triplestore.go:79-105)."""
    if not isinstance(op, ArrayOp):
        op = ArrayOp.from_dict(op)

    parts: list[Column] = [compile_array_op(a) for a in op.arguments]
    parts += [compile_pattern(t) for t in op.triples]

    if op.mode == NOT:
        # "NOT requires a single triple or argument" (protocol.proto:86,
        # triplestore.go:96-103).
        if len(parts) != 1:
            raise ValueError("NOT requires exactly one triple or argument")
        return ~parts[0]

    if not parts:
        return F.lit(True)
    combine = Column.__and__ if op.mode == AND else Column.__or__
    out = parts[0]
    for p in parts[1:]:
        out = combine(out, p)
    return out


def parse_query_json(q: str) -> list[dict]:
    """JSON array of partial triples → pattern list (query.Parse,
    /root/reference/query/query.go:16-22). A bare object is accepted as a
    single-element list, as the HTTP layer's tests do."""
    parsed = json.loads(q)
    if isinstance(parsed, Mapping):
        parsed = [parsed]
    if not isinstance(parsed, list) or not all(
        isinstance(p, Mapping) for p in parsed
    ):
        raise ValueError("query must be a JSON array of partial triples")
    return [dict(p) for p in parsed]
