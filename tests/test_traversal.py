"""Step-chaining / traversal parity (core/query.go:14-28) + k-hop."""

from __future__ import annotations

import pytest

from degdb_spark.operators.traversal import chain_steps, k_hop

from tests.conftest import spo, store_of


def _graph_store(spark):
    rows = [
        {"subj": "a", "pred": "knows", "obj": "b"},
        {"subj": "b", "pred": "knows", "obj": "c"},
        {"subj": "b", "pred": "knows", "obj": "d"},
        {"subj": "c", "pred": "knows", "obj": "e"},
        {"subj": "d", "pred": "likes", "obj": "e"},
        {"subj": "e", "pred": "knows", "obj": "a"},
    ]
    return store_of(spark, rows)


def test_two_step_chain(spark):
    store = _graph_store(spark)
    # step 1: a knows ? → b ; step 2: ? knows ? constrained to subj∈{b}
    out = chain_steps(store.df, [{"subj": "a", "pred": "knows"}, {"pred": "knows"}])
    assert spo(out) == sorted([("b", "knows", "c"), ("b", "knows", "d")])


def test_three_step_chain(spark):
    store = _graph_store(spark)
    out = chain_steps(
        store.df,
        [{"subj": "a"}, {"pred": "knows"}, {"pred": "knows"}],
    )
    # hop2 matches b→{c,d}; hop3: subj∈{c,d} with pred knows → c knows e
    assert spo(out) == [("c", "knows", "e")]


def test_chain_result_deduplicated(spark):
    # two paths converge on e→a; the reference would return duplicates
    # (core/query.go:58 TODO) — we dedup.
    store = _graph_store(spark)
    out = chain_steps(store.df, [{"subj": "b"}, {}, {"subj": "e"}])
    assert spo(out) == [("e", "knows", "a")]


def test_chain_steps_rejects_no_steps(spark):
    # a ValueError, not an assert (which `python -O` strips)
    store = _graph_store(spark)
    with pytest.raises(ValueError, match="at least one step"):
        chain_steps(store.df, [])


def test_k_hop(spark):
    store = _graph_store(spark)
    hop2 = {r["node"] for r in k_hop(store.df, ["a"], 2, pred="knows").collect()}
    assert hop2 == {"c", "d"}
    hop3 = {r["node"] for r in k_hop(store.df, ["a"], 3, pred="knows").collect()}
    assert hop3 == {"e"}


def test_k_hop_no_seeds(spark):
    """No start subjects reach nothing: an empty frame, not a schema
    inference error."""
    store = _graph_store(spark)
    out = k_hop(store.df, [], 2)
    assert out.columns == ["node"]
    assert out.count() == 0
