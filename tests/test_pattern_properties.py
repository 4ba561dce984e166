"""Property-based checks over random ArrayOp trees:

- the Catalyst compilation selects exactly the rows a direct Python
  evaluation of the reference semantics selects (triplestore.go:79-132);
- the store's kernel evaluation (``eval_op``, through
  ``TripleStore.read``) and the Catalyst compilation select the same
  rows, NULLs and NOT included (SQL three-valued logic on both).
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from degdb_spark.plans.pattern import ArrayOp, compile_array_op

SUBJECTS = ["s1", "s2", "s3"]
PREDS = ["p1", "p2"]
OBJS = ["o1", "o2", "o3"]

TRIPLES = [
    {"subj": s, "pred": p, "obj": o, "lang": None, "author": None}
    for s in SUBJECTS
    for p in PREDS
    for o in OBJS
][::2]  # 9 of 18 rows, deterministic subset


def py_eval_pattern(pattern: dict, row: dict) -> bool:
    for f in ("subj", "pred", "obj", "lang", "author"):
        v = pattern.get(f)
        if v not in (None, "") and row.get(f) != v:
            return False
    return True


def py_eval_op(op: ArrayOp, row: dict) -> bool:
    parts = [py_eval_op(a, row) for a in op.arguments]
    parts += [py_eval_pattern(t, row) for t in op.triples]
    if op.mode == "NOT":
        return not parts[0]
    if not parts:
        return True
    return all(parts) if op.mode == "AND" else any(parts)


pattern_st = st.fixed_dictionaries(
    {},
    optional={
        "subj": st.sampled_from(SUBJECTS + [""]),
        "pred": st.sampled_from(PREDS + [""]),
        "obj": st.sampled_from(OBJS + [""]),
    },
)


def op_st(depth: int = 2, patterns=pattern_st):
    base = st.builds(
        lambda mode, triples: ArrayOp(mode=mode, triples=triples),
        st.sampled_from(["AND", "OR"]),
        st.lists(patterns, min_size=1, max_size=3),
    )
    if depth == 0:
        return base
    sub = op_st(depth - 1, patterns)
    notted = st.builds(lambda a: ArrayOp(mode="NOT", arguments=[a]), sub)
    nested = st.builds(
        lambda mode, triples, args: ArrayOp(mode=mode, triples=triples, arguments=args),
        st.sampled_from(["AND", "OR"]),
        st.lists(patterns, max_size=2),
        st.lists(sub, min_size=1, max_size=2),
    )
    return st.one_of(base, notted, nested)


@pytest.fixture(scope="module")
def triples_df(spark):
    from degdb_spark.schemas import TRIPLE_SCHEMA

    rows = [
        {**t, "sig": None, "created": None} for t in TRIPLES
    ]
    return spark.createDataFrame(rows, schema=TRIPLE_SCHEMA).cache()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(op=op_st())
def test_compiled_matches_python_semantics(spark, triples_df, op):
    expected = {
        (t["subj"], t["pred"], t["obj"]) for t in TRIPLES if py_eval_op(op, t)
    }
    got = {
        (r.subj, r.pred, r.obj)
        for r in triples_df.filter(compile_array_op(op)).collect()
    }
    assert got == expected


# --- Arrow vs Catalyst: the store's two executors of one IR ---

LANGS = ["en", "fr"]
AUTHORS = ["a1", "a2"]

#: one row per (subj, pred, obj) with NULLs in every field but subj;
#: ``sig`` is a row id
NULLABLE_TRIPLES = [
    {
        "subj": s,
        "pred": p,
        "obj": o,
        "lang": (LANGS + [None])[i % 3],
        "author": (AUTHORS + [None])[(i // 3) % 3],
        "sig": f"row{i}",
    }
    for i, (s, p, o) in enumerate(
        itertools.product(SUBJECTS, PREDS + [None], OBJS + [None])
    )
]

nullable_pattern_st = st.fixed_dictionaries(
    {},
    optional={
        "subj": st.sampled_from(SUBJECTS + [""]),
        "pred": st.sampled_from(PREDS + [""]),
        "obj": st.sampled_from(OBJS + [""]),
        "lang": st.sampled_from(LANGS + [""]),
        "author": st.sampled_from(AUTHORS + [""]),
    },
)


@pytest.fixture(scope="module")
def nullable_store(spark):
    from tests.conftest import store_of

    store = store_of(spark, NULLABLE_TRIPLES)
    assert store.size()["triples"] == len(NULLABLE_TRIPLES)
    return store


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(op=op_st(patterns=nullable_pattern_st))
def test_arrow_and_catalyst_select_same_rows(nullable_store, op):
    arrow = sorted(nullable_store.read(op)["sig"].to_pylist())
    catalyst = sorted(r.sig for r in nullable_store.df.filter(compile_array_op(op)).collect())
    assert arrow == catalyst


def test_null_comparison_drops_row_under_not(nullable_store):
    """NOT(lang = 'en') keeps neither the 'en' rows nor the NULL-lang
    rows on either executor."""
    op = ArrayOp(mode="NOT", triples=[{"lang": "en"}])
    want = sorted(t["sig"] for t in NULLABLE_TRIPLES if t["lang"] not in ("en", None))
    assert sorted(nullable_store.read(op)["sig"].to_pylist()) == want
    assert sorted(r.sig for r in nullable_store.df.filter(compile_array_op(op)).collect()) == want
