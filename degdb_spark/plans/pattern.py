"""Triple-pattern compiler: one IR, two targets.

Re-implements the *semantics* of the reference's ArrayOp query IR
(protocol/protocol.proto:80-89) and its SQL compiler
(triplestore/triplestore.go:79-132). Where degdb compiled
a boolean tree of exact-match triple patterns into one SQLite WHERE
string, we compile the same tree into one predicate for either engine:

- ``compile_array_op`` → a Catalyst ``Column``, for Spark plans: path
  traversal and ``TripleStore.query_array_op`` filter the node store's
  Spark view (an in-memory relation built from its Arrow table) with it,
  and the registry's triple queries the derived triple table. Applied to
  a parquet scan, Catalyst pushes its equalities into the scan.
- ``compile_arrow_op`` → a ``pyarrow.compute`` expression, which the
  node's driver-resident store (operators/triplestore.py) filters
  in-process with no Spark job.

Both use ``==`` per field, ``&``/``|`` as Kleene AND/OR and ``~`` as
NOT, so a comparison with NULL drops the row on either target exactly as
SQL three-valued logic does.

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
import operator
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, Mapping

import pyarrow.compute as pc
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
        """Parse the JSON form (outside input); anything malformed raises
        ValueError."""
        if not isinstance(d, Mapping):
            raise ValueError("an ArrayOp must be a JSON object")
        mode = str(d.get("mode", OR)).upper()
        if mode not in (AND, OR, NOT):
            raise ValueError(f"unknown ArrayOp mode: {mode!r}")
        triples, arguments = d.get("triples", []), d.get("arguments", [])
        for name, items in (("triples", triples), ("arguments", arguments)):
            if not isinstance(items, list) or not all(isinstance(x, Mapping) for x in items):
                raise ValueError(f"ArrayOp {name} must be a list of objects")
        return ArrayOp(
            mode=mode,
            triples=list(triples),
            arguments=[ArrayOp.from_dict(a) for a in arguments],
        )


def _compile_pattern(pattern: Mapping[str, str], eq: Callable, true: Callable):
    """One partial triple → conjunction of ``eq(field, value)`` terms.

    Mirrors TripleToSQL (triplestore/triplestore.go:107-132): empty
    string or absent field = wildcard; a fully-empty pattern matches
    everything (``true()``).
    """
    unknown = set(pattern) - set(PATTERN_FIELDS) - {"sig", "created"}
    if unknown:
        raise ValueError(f"unknown pattern fields: {sorted(unknown)}")
    bound = {f: pattern[f] for f in PATTERN_FIELDS if pattern.get(f) not in (None, "")}
    if not all(isinstance(v, str) for v in bound.values()):
        raise ValueError("pattern field values must be strings")
    conjuncts = [eq(f, v) for f, v in bound.items()]
    return reduce(operator.and_, conjuncts) if conjuncts else true()


def _compile(op: ArrayOp | Mapping, eq: Callable, true: Callable):
    """Boolean tree → one predicate (ArrayOpToSQL semantics,
    triplestore/triplestore.go:79-105), built from ``eq`` leaves with the
    target's own ``&``, ``|`` and ``~``."""
    if not isinstance(op, ArrayOp):
        op = ArrayOp.from_dict(op)

    parts = [_compile(a, eq, true) for a in op.arguments]
    parts += [_compile_pattern(t, eq, true) for t in op.triples]

    if op.mode == NOT:
        # "NOT requires a single triple or argument" (protocol.proto:86,
        # triplestore.go:96-103).
        if len(parts) != 1:
            raise ValueError("NOT requires exactly one triple or argument")
        return ~parts[0]

    if not parts:
        return true()
    return reduce(operator.and_ if op.mode == AND else operator.or_, parts)


#: per target: (equality leaf, always-true predicate)
_CATALYST = (lambda f, v: F.col(f) == F.lit(v), lambda: F.lit(True))
_ARROW = (lambda f, v: pc.field(f) == v, lambda: pc.scalar(True))


def compile_array_op(op: ArrayOp | Mapping) -> Column:
    """Boolean tree → one Catalyst predicate."""
    return _compile(op, *_CATALYST)


def compile_arrow_op(op: ArrayOp | Mapping) -> pc.Expression:
    """Boolean tree → one ``pyarrow.compute`` filter expression."""
    return _compile(op, *_ARROW)


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
