"""Snapshot diff: what changed between two versions of a table.

Given two snapshots and a key, classify every key as added / removed /
changed / unchanged and report per-row and summary views. This is how
a 100 TB pipeline answers "what did yesterday's run change?" without
replaying it.

Scale design: one full-outer shuffle join on the key (the minimum
possible — membership can't be decided without seeing both sides);
value comparison is a null-safe codegen conjunction, no UDF. The
summary is a 4-key aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key change classification between snapshot ``a`` (old) and
    ``b`` (new). Returns keys + (change_type string).

    compare_cols defaults to all non-key columns shared by both sides;
    comparison is null-safe (NULL == NULL is unchanged).
    """
    if compare_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    la = a.select(*keys, *[F.col(c).alias(f"_a_{c}") for c in compare_cols]).withColumn(
        "_in_a", F.lit(1)
    )
    lb = b.select(*keys, *[F.col(c).alias(f"_b_{c}") for c in compare_cols]).withColumn(
        "_in_b", F.lit(1)
    )
    j = la.join(lb, on=keys, how="full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    change = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, change.alias("change_type"))


def diff_summary(
    a: DataFrame, b: DataFrame, keys: list[str], compare_cols: list[str] | None = None
) -> DataFrame:
    """(change_type, n) counts — the one-line answer to "what moved"."""
    return (
        table_diff(a, b, keys, compare_cols)
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )
