"""Path traversal — degdb's step chaining, generalised.

The reference's only join: for step i>0, wrap the step in
AND(step, OR(subj = prev.obj ...)) — i.e. equi-join previous results' obj
onto the next step's subj, one hop per step
(/root/reference/core/query.go:14-28). It builds the OR list by collecting
the previous step's objects on the coordinator; we express the same
semantics as a distributed self-equi-join, and add the dedup the reference
acknowledges it is missing (core/query.go:58 TODO).

These are the Catalyst forms, for DataFrame callers: the registry's
triple queries and the benchmark's unrooted 2-hop and k-hop. The node's
own path queries (``DegDB.query_steps``) walk the same hops in-process
over its Arrow table (``TripleStore.read_path``) and run no Spark job.

Scale design: each hop is an equi-join on the key — the direct analogue
of degdb's shard fan-out by murmur3(subj) (query/query.go:24-47), except
Spark parallelises the per-shard requests that the reference issues
sequentially (core/query.go:97 TODO "Parallelize"). Over an in-memory
relation with no bucketing (such as ``TripleStore.df``) a hop shuffles on
the key unless Spark broadcasts one side. ``k_hop`` broadcasts its seeds
into the first hop; its plan grows by one join per hop, which is short
for the k its callers pass (2 and 3).
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.plans.pattern import ArrayOp, compile_array_op, step_op


def chain_steps(
    store_df: DataFrame,
    steps: Sequence[ArrayOp | Mapping | Iterable[Mapping]],
) -> DataFrame:
    """Execute a multi-step query; returns the distinct triples matched by
    the FINAL step, constrained hop-by-hop (ExecuteQuery's loop,
    core/query.go:14-28). Raises ValueError on an empty ``steps``.

    Each element of ``steps`` is an ArrayOp (or pattern dict / list of
    pattern dicts, wrapped OR-mode as the HTTP layer does).
    """
    current: DataFrame | None = None
    for step in steps:
        matched = store_df.filter(compile_array_op(step_op(step)))
        if current is not None:
            # join prev.obj -> this.subj (the AND(step, OR(subj=prev.obj...))
            # rewrite, core/query.go:19-27), distributed instead of
            # coordinator-collected.
            frontier = current.select(F.col("obj").alias("subj")).distinct()
            matched = matched.join(frontier, on="subj", how="left_semi")
        current = matched
    if current is None:
        raise ValueError("at least one step required")
    return current.dropDuplicates(["subj", "pred", "obj"])


def k_hop(
    store_df: DataFrame,
    start_subjects: Sequence[str],
    k: int,
    pred: str | None = None,
) -> DataFrame:
    """All nodes reachable in exactly k hops along ``pred`` edges, by
    iterative frontier expansion (no start subjects reach nothing)."""
    frontier = store_df.sparkSession.createDataFrame([(s,) for s in start_subjects], "subj string")
    edges = store_df.select("subj", "pred", "obj")
    if pred is not None:
        edges = edges.filter(F.col("pred") == pred)
    edges = edges.select("subj", "obj")
    for i in range(k):
        frontier = (
            edges.join(frontier.hint("broadcast") if i == 0 else frontier, on="subj")
            .select(F.col("obj").alias("subj"))
            .distinct()
        )
    return frontier.select(F.col("subj").alias("node"))

