"""Triple-pattern compiler: one IR, two targets.

Re-implements the *semantics* of the reference's ArrayOp query IR
(protocol/protocol.proto:80-89) and its SQL compiler
(triplestore/triplestore.go:79-132). Where degdb compiled
a boolean tree of exact-match triple patterns into one SQLite WHERE
string, we compile the same tree for either engine:

- ``compile_array_op`` → a Catalyst ``Column``, for Spark plans: the
  Catalyst ``chain_steps``/``k_hop`` and ``TripleStore.query_array_op``
  filter a DataFrame with it, and the registry's triple queries the
  derived triple table. Applied to a parquet scan, Catalyst pushes its
  equalities into the scan.
- ``eval_op`` → the boolean mask of a ``pyarrow.Table``'s rows,
  evaluated with ``pyarrow.compute`` kernels on the calling thread. The
  node's driver-resident store (operators/triplestore.py) filters its
  pattern reads and each hop of its paths with it, with no Spark job.

Both use equality per field, Kleene AND/OR and NOT (Catalyst's
``&``/``|``/``~``; the kernels ``and_kleene``/``or_kleene``/``invert``),
so a comparison with NULL drops the row on either target exactly as SQL
three-valued logic does.

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
from typing import Callable, Iterable, Mapping, NamedTuple

import pyarrow as pa
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


class _Target(NamedTuple):
    """One engine's predicate builders."""

    eq: Callable  # (field, value) → equality leaf
    true: Callable  # () → always-true predicate
    and_: Callable
    or_: Callable
    not_: Callable


def _compile_pattern(pattern: Mapping[str, str], target: _Target):
    """One partial triple → conjunction of equality leaves.

    Mirrors TripleToSQL (triplestore/triplestore.go:107-132): empty
    string or absent field = wildcard; a fully-empty pattern matches
    everything.
    """
    unknown = set(pattern) - set(PATTERN_FIELDS) - {"sig", "created"}
    if unknown:
        raise ValueError(f"unknown pattern fields: {sorted(unknown)}")
    bound = {f: pattern[f] for f in PATTERN_FIELDS if pattern.get(f) not in (None, "")}
    if not all(isinstance(v, str) for v in bound.values()):
        raise ValueError("pattern field values must be strings")
    conjuncts = [target.eq(f, v) for f, v in bound.items()]
    return reduce(target.and_, conjuncts) if conjuncts else target.true()


def _compile(op: ArrayOp | Mapping, target: _Target):
    """Boolean tree → one predicate (ArrayOpToSQL semantics,
    triplestore/triplestore.go:79-105)."""
    if not isinstance(op, ArrayOp):
        op = ArrayOp.from_dict(op)

    parts = [_compile(a, target) for a in op.arguments]
    parts += [_compile_pattern(t, target) for t in op.triples]

    if op.mode == NOT:
        # "NOT requires a single triple or argument" (protocol.proto:86,
        # triplestore.go:96-103).
        if len(parts) != 1:
            raise ValueError("NOT requires exactly one triple or argument")
        return target.not_(parts[0])

    if not parts:
        return target.true()
    return reduce(target.and_ if op.mode == AND else target.or_, parts)


_CATALYST = _Target(
    lambda f, v: F.col(f) == F.lit(v), lambda: F.lit(True), operator.and_, operator.or_, operator.invert
)


def compile_array_op(op: ArrayOp | Mapping) -> Column:
    """Boolean tree → one Catalyst predicate."""
    return _compile(op, _CATALYST)


def eval_op(op: ArrayOp | Mapping, table: pa.Table) -> pa.ChunkedArray | pa.Array:
    """Boolean tree → the mask of ``table``'s rows it selects, one
    ``pyarrow.compute`` kernel per leaf and connective, run on the calling
    thread. A NULL in the mask is SQL's unknown, which ``Table.filter``
    drops."""
    kernels = _Target(
        lambda f, v: pc.equal(table[f], v),
        lambda: pa.repeat(True, table.num_rows),
        pc.and_kleene,
        pc.or_kleene,
        pc.invert,
    )
    return _compile(op, kernels)


def step_op(step: ArrayOp | Mapping | Iterable[Mapping]) -> ArrayOp:
    """One step of a path query as an ArrayOp: an ArrayOp or its JSON
    form as is, a pattern dict or list of pattern dicts wrapped OR-mode,
    as the HTTP layer wraps a pattern list."""
    if isinstance(step, ArrayOp):
        return step
    if isinstance(step, Mapping):
        if "mode" in step or "triples" in step or "arguments" in step:
            return ArrayOp.from_dict(step)
        return ArrayOp(mode=OR, triples=[step])
    return ArrayOp(mode=OR, triples=list(step))


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
