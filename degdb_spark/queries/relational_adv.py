"""Advanced relational surface: outer joins, percentiles, correlated and
IN subqueries, regexp/string gallery, window-function gallery, moving
averages, conditional aggregation. All oracle-checked.

Everything here is Catalyst-native (no UDFs); subqueries are expressed
with join rewrites on the Spark side where the DataFrame API lacks the
construct — the same rewrite Catalyst itself would do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from degdb_spark.catalog import load_table
from degdb_spark.queries import Query
from degdb_spark.queries.rounding import dround, dsum, sql_dround, sql_dsum


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ------------------------------------------------------------ outer joins
def left_join_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with null-aware aggregation: every customer, their
    order count (0 for none) and total spend (NULL→0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("spend"),
    )
    return (
        cust.join(per, cust.c_custkey == per.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("spend", F.lit(0.0)).alias("spend"),
        )
        .filter(F.col("c_custkey") < 300)
        .orderBy("c_custkey")
    )


LEFT_JOIN_SQL = """
SELECT c_custkey,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(spend, 0.0) AS spend
FROM customer
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
) o ON c_custkey = o_custkey
WHERE c_custkey < 300
ORDER BY c_custkey
"""


def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: which nations have customers vs suppliers."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust.nk == supp.nk2, "full_outer")
        .select(
            F.coalesce("nk", "nk2").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


FULL_OUTER_SQL = """
SELECT COALESCE(c.nk, s.nk2) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
ON c.nk = s.nk2
ORDER BY nationkey
"""


# ------------------------------------------------------------ percentiles
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per order priority (Spark
    percentile == DuckDB quantile_cont)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            dround(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
            dround(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
            dround(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


PERCENTILES_SQL = """
SELECT o_orderpriority,
       FLOOR((quantile_cont(o_totalprice, 0.5)) * 100 + 0.5) / 100 AS p50,
       FLOOR((quantile_cont(o_totalprice, 0.9)) * 100 + 0.5) / 100 AS p90,
       FLOOR((quantile_cont(o_totalprice, 0.99)) * 100 + 0.5) / 100 AS p99,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------------------- subqueries
def above_nation_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics: customers whose balance exceeds
    their nation's average, as the groupBy+join rewrite."""
    cust = _t(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (dsum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), on="c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
        .orderBy("c_nationkey")
    )


ABOVE_AVG_SQL = """
SELECT c_nationkey, COUNT(*) AS n_above_avg
FROM customer c
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def orders_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery semantics (left-semi): orders containing any lineitem
    with quantity ≥ 49."""
    orders = _t(spark, sf_dir, "orders")
    big = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(big, on="o_orderkey", how="left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


IN_SUBQ_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------------- string/regexp
def regexp_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_num"),
        F.col("p_name").rlike("^(red|blue|green)").cast("int").alias("is_color_first"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.split(F.col("p_name"), " ").getItem(0).alias("split_first"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_lower_vowels"),
        F.lpad(F.col("p_partkey").cast("string"), 6, "0").alias("padded_key"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    ).orderBy("p_partkey")


REGEXP_SQL = """
SELECT p_partkey,
       regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
       CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INT) AS brand_num,
       CAST(regexp_matches(p_name, '^(red|blue|green)') AS INT) AS is_color_first,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       str_split(p_name, ' ')[1] AS split_first,
       translate(p_type, 'AEIOU', 'aeiou') AS type_lower_vowels,
       lpad(CAST(p_partkey AS VARCHAR(32)), 6, '0') AS padded_key,
       reverse(p_brand) AS brand_rev
FROM part WHERE p_partkey < 200 ORDER BY p_partkey
"""


# ------------------------------------------------------- window gallery
def window_function_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first/last/dense_rank/ntile over each customer's order
    history (bounded slice)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_orderkey").over(wf).alias("first_order"),
        F.last("o_orderkey").over(wf).alias("last_order"),
        F.dense_rank().over(w).cast("long").alias("order_seq"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_GALLERY_SQL = """
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       FIRST_VALUE(o_orderkey) OVER wf AS first_order,
       LAST_VALUE(o_orderkey) OVER wf AS last_order,
       DENSE_RANK() OVER w AS order_seq,
       NTILE(4) OVER w AS quartile
FROM orders WHERE o_custkey < 30
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""


def moving_average_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average over daily revenue — time-series surface."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum(F.col("o_totalprice"), 2).alias("day_rev"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("ma7", dround(F.avg("day_rev").over(w), 2))
        .filter(F.col("day") < F.lit("1995-03-01"))
        .orderBy("day")
    )


MOVING_AVG_SQL = """
WITH daily AS (
  SELECT DATE_TRUNC('day', o_orderdate) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS day_rev
  FROM orders GROUP BY 1
)
SELECT day::TIMESTAMP_NS AS day, day_rev,
       FLOOR((AVG(day_rev) OVER (ORDER BY day
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS ma7
FROM daily
WHERE day < TIMESTAMP '1995-03-01 00:00:00'
ORDER BY day
"""


# ------------------------------------------------- conditional aggregation
def conditional_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
            dsum(
                F.when(F.col("l_quantity") > 25, F.col("l_extendedprice")).otherwise(0.0), 2
            ).alias("bulk_value"),
            F.countDistinct(F.when(F.col("l_linestatus") == "O", F.col("l_orderkey"))).alias(
                "open_orders"
            ),
        )
        .orderBy("l_returnflag")
    )


COND_AGG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
       CAST(SUM(CAST((CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0.0 END) AS DECIMAL(30,2))) AS DOUBLE) AS bulk_value,
       COUNT(DISTINCT CASE WHEN l_linestatus = 'O' THEN l_orderkey END) AS open_orders
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------------ array aggregation
def array_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list surface with deterministic ordering, reduced to a
    string so cross-engine value comparison is exact."""
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


ARRAY_AGG_SQL = """
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), ',') AS nations,
       COUNT(*) AS n_nations
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


# -------------------------------------------------------- histogram
_N_BUCKETS = 20


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 20-bucket histogram of l_extendedprice with data-
    driven bounds. The min/max ride as a broadcast 1-row aggregate
    (crossJoin(broadcast)), never a driver collect — at 100 TB that is
    two scans (bounds + bucketing) with the second's groupBy keyed on
    20 values, map-side combined to nothing."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_N_BUCKETS))
    bucketed = li.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
            F.lit(_N_BUCKETS - 1),
        ),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.min(F.col("lo") + F.col("bucket") * width), 4).alias("bucket_lo"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("bucket")
    )


HISTOGRAM_SQL = f"""
WITH bounds AS (
  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem
), bucketed AS (
  SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / {float(_N_BUCKETS)})),
                    {_N_BUCKETS - 1}) AS BIGINT) AS bucket,
         l_extendedprice, lo, hi
  FROM lineitem CROSS JOIN bounds
)
SELECT bucket, COUNT(*) AS n,
       FLOOR(MIN(lo + bucket * ((hi - lo) / {float(_N_BUCKETS)})) * 10000 + 0.5) / 10000 AS bucket_lo,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


# -------------------------------------------------------- profiling
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of lineitem (operators/profile.py):
    nulls, exact cardinality, extremes — one wide aggregation, one scan.
    Columns are pre-cast to cross-engine-stable string renderings
    (double→DECIMAL(30,2), timestamp→DATE) before profiling."""
    from degdb_spark.operators.profile import profile_table

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("decimal(30,2)").alias("l_quantity"),
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
        "l_returnflag",
    )
    return profile_table(li)


_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"]

PROFILE_SQL = (
    "WITH t AS (SELECT l_orderkey,"
    " CAST(l_quantity AS DECIMAL(30,2)) AS l_quantity,"
    " CAST(l_shipdate AS DATE) AS l_shipdate,"
    " l_returnflag FROM lineitem)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" COUNT(DISTINCT {c}) AS n_distinct,"
        f" CAST(MIN({c}) AS VARCHAR(64)) AS min_str,"
        f" CAST(MAX({c}) AS VARCHAR(64)) AS max_str FROM t"
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


# -------------------------------------------------------- unpivot/melt
_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (stack) of the four lineitem measures, then a
    per-measure rollup — the reshape primitive for metric tables. The
    stack runs inside whole-stage codegen (4 output rows per input, no
    shuffle until the 4-key groupBy, which combines map-side)."""
    li = _t(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack(4, "
            + ", ".join(f"'{m}', {m}" for m in _MEASURES)
            + ") AS (measure, value)"
        )
    )
    return (
        stacked.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("sum_value"),
            dround(F.min("value"), 2).alias("min_value"),
            dround(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("measure")
    )


UNPIVOT_SQL = (
    "WITH stacked AS (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{m}' AS measure, {m} AS value FROM lineitem" for m in _MEASURES
    )
    + f""")
SELECT measure, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
       {sql_dround('MIN(value)', 2)} AS min_value,
       {sql_dround('MAX(value)', 2)} AS max_value
FROM stacked GROUP BY measure ORDER BY measure
"""
)


# -------------------------------------------------------- skew report
def orders_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew diagnostics for orders.o_custkey: key count,
    max/top-10 key share, and the Gini coefficient of the per-key load —
    what you inspect before choosing a shuffle key (or deciding to salt,
    operators/skewjoin.py). The Gini numerator Σ(2i−n−1)·x₍ᵢ₎ is an exact
    integer over the SORTED per-key counts, so no float summation; the
    sort rank i comes from the two-phase distributed row_number
    (operators/ranking.py — key cardinality can grow with the data, so
    even the key-count table shouldn't funnel through one task), and
    the scalar n folds out algebraically: Σ(2i−n−1)x = 2Σ(i·x) −
    (n+1)·Σx, removing the global COUNT(*) OVER () window too."""
    from degdb_spark.operators.ranking import global_row_number

    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("x"))
    ranked = global_row_number(
        counts, [F.col("x"), F.col("o_custkey")], rank_name="i"
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").alias("total"),
        F.max("x").alias("max_x"),
        (
            F.lit(2) * F.sum(F.col("i") * F.col("x"))
        ).alias("_two_six"),
    ).withColumn(
        "gini_num",
        F.col("_two_six") - (F.col("n_keys") + 1) * F.col("total"),
    )
    top10 = (
        ranked.orderBy(F.col("x").desc(), "o_custkey")
        .limit(10)
        .agg(F.sum("x").alias("top10"))
    )
    out = stats.crossJoin(F.broadcast(top10))
    return out.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("total").cast("long").alias("total"),
        dround(F.col("max_x") / F.col("total"), 6).alias("max_share"),
        dround(F.col("top10") / F.col("total"), 6).alias("top10_share"),
        dround(
            F.col("gini_num") / (F.col("n_keys").cast("double") * F.col("total")),
            6,
        ).alias("gini"),
    )


SKEW_SQL = """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS x FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, o_custkey,
         ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM counts
), stats AS (
  SELECT COUNT(*) AS n_keys, SUM(x) AS total, MAX(x) AS max_x,
         SUM((2 * i - n - 1) * x) AS gini_num
  FROM ranked
), top10 AS (
  SELECT SUM(x) AS top10 FROM (
    SELECT x FROM counts ORDER BY x DESC, o_custkey LIMIT 10
  )
)
SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total,
       FLOOR((CAST(max_x AS DOUBLE) / total) * 1000000 + 0.5) / 1000000 AS max_share,
       FLOOR((CAST(top10 AS DOUBLE) / total) * 1000000 + 0.5) / 1000000 AS top10_share,
       FLOOR((CAST(gini_num AS DOUBLE) / (CAST(n_keys AS DOUBLE) * total)) * 1000000 + 0.5) / 1000000 AS gini
FROM stats CROSS JOIN top10
"""


# -------------------------------------------------------- contracts
def lineitem_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate over lineitem (operators/quality.py): range,
    non-null, cross-column, and FK-integrity expectations, reported as
    (rule, n_rows, n_violations) — the pre-promotion validation a
    pipeline runs on every new drop. Row rules share one scan; the FK
    check is a broadcastable anti-join."""
    from degdb_spark.operators.quality import check_contract

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rules = [
        ("qty_in_range", (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50)),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("discount_unit", (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1)),
        ("shipdate_not_null", F.col("l_shipdate").isNotNull()),
        ("flag_domain", F.col("l_returnflag").isin("A", "N", "R")),
    ]
    return check_contract(
        li, rules, fk_checks=[("orderkey_fk", "l_orderkey", orders, "o_orderkey")]
    )


CONTRACT_SQL = """
WITH row_rules AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, FALSE) THEN 1 ELSE 0 END) AS qty_in_range,
         SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS price_positive,
         SUM(CASE WHEN NOT COALESCE(l_discount >= 0 AND l_discount <= 1, FALSE) THEN 1 ELSE 0 END) AS discount_unit,
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS shipdate_not_null,
         SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS flag_domain
  FROM lineitem
), fk AS (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
         COUNT(*) AS n_violations
  FROM lineitem l
  WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations
FROM (
  SELECT 'discount_unit' AS rule, n_rows, discount_unit AS n_violations FROM row_rules
  UNION ALL SELECT 'flag_domain', n_rows, flag_domain FROM row_rules
  UNION ALL SELECT 'orderkey_fk', n_rows, n_violations FROM fk
  UNION ALL SELECT 'price_positive', n_rows, price_positive FROM row_rules
  UNION ALL SELECT 'qty_in_range', n_rows, qty_in_range FROM row_rules
  UNION ALL SELECT 'shipdate_not_null', n_rows, shipdate_not_null FROM row_rules
)
ORDER BY rule
"""


# -------------------------------------------------- grouping sets
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit non-hierarchical GROUPING SETS — ((region), (priority),
    ()) — the aggregation shape ROLLUP/CUBE can't express (independent
    axes + grand total in one pass). One shuffle; the Expand operator
    replicates each row once per set, all combined map-side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("r_name", "o_orderpriority", "o_totalprice")
    )
    gs = joined.groupingSets(
        [["r_name"], ["o_orderpriority"], []],
        F.col("r_name"),
        F.col("o_orderpriority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("revenue"),
    )
    return gs.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "revenue",
    ).orderBy("region", "priority")


GROUPING_SETS_SQL = """
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
ORDER BY region, priority
"""




def salted_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-fact join: lineitem salted-joined to orders
    (operators/skewjoin.py — right side replicated 8x, left salted by
    row-content hash), then revenue per order priority with the
    distinct-customer count computed by the two-phase SALTED form.
    Both transformations are result-identities, so the oracle runs the
    plain unsalted SQL: a hash match proves the salted plans return
    exactly the plain plans' answer."""
    from degdb_spark.operators.skewjoin import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority", "o_custkey"
    )
    joined = salted_join(li, orders, on="l_orderkey", n_salt=8)
    # single linear pipeline — join, then THREE aggregation rungs that
    # successively narrow: (priority, cust) -> (priority, salt) ->
    # priority. Rung 2/3 is the two-phase salted aggregation: each
    # distinct customer lands in exactly one hash salt bucket, so the
    # merged per-bucket row counts ARE the distinct count, and the
    # heavy phases run at group x salt parallelism (no single hot
    # reducer, no branch re-computation).
    per_cust = joined.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(30,4)"
            )
        ).alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    per_salt = per_cust.groupBy(
        "o_orderpriority",
        F.pmod(F.xxhash64("o_custkey"), F.lit(16)).alias("_salt"),
    ).agg(
        F.sum("_rev").alias("_rev"),
        F.sum("_n").alias("_n"),
        F.count(F.lit(1)).alias("_ncust"),
    )
    return (
        per_salt.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("_rev"), 2).cast("double").alias("revenue"),
            F.sum("_n").alias("n_items"),
            F.sum("_ncust").alias("n_customers"),
        )
        .orderBy("o_orderpriority")
    )


SALTED_JOIN_SQL = f"""
SELECT o.o_orderpriority,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", scale=4, out_dp=2)} AS revenue,
       COUNT(*) AS n_items,
       COUNT(DISTINCT o.o_custkey) AS n_customers
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""




def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures from ONE
    exact-decimal moment pass (operators/profile.correlation_matrix) —
    the reproducible replacement for float-partial corr()."""
    from degdb_spark.operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _correlations_sql() -> str:
    from degdb_spark.operators.profile import correlation_matrix_sql

    return correlation_matrix_sql(
        "lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


CORRELATIONS_SQL = _correlations_sql()




def lineitem_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit extendedprice ~ quantity from one exact-moment pass
    (operators/profile.ols_fit — split-long accumulators, codegen-only)."""
    from degdb_spark.operators.profile import ols_fit

    li = load_table(spark, sf_dir, "lineitem")
    return ols_fit(li, "l_quantity", "l_extendedprice")


def _ols_sql() -> str:
    from degdb_spark.operators.profile import ols_sql

    return ols_sql("lineitem", "l_quantity", "l_extendedprice")


OLS_SQL = _ols_sql()




#: Benford first-digit expectation log10(1+1/d), pinned as literals so
#: both engines use the identical doubles.
_BENFORD = [(1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)]


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the fraud/corruption smoke
    test for any money column: observed first-significant-digit shares
    vs log10(1+1/d). Digit extraction goes through exact integer cents
    (floor(x*100+.5) -> string), never float log10, so the digit is
    boundary-stable cross-engine. One groupBy on 9 keys; the expected
    table is a 9-row literal."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    exp = spark.createDataFrame(_BENFORD, "digit int, expected_share double")
    total = obs.agg(F.sum("n_obs").alias("_total"))
    return (
        obs.join(F.broadcast(exp), on="digit")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            dround(F.col("n_obs") / F.col("_total"), 6).alias("obs_share"),
            dround(F.col("expected_share"), 6).alias("expected_share"),
            dround(
                (F.col("n_obs") / F.col("_total")) / F.col("expected_share"), 4
            ).alias("lift"),
        )
        .orderBy("digit")
    )


_BENFORD_VALUES = ", ".join("({}, {!r}::DOUBLE)".format(d, p) for d, p in _BENFORD)

BENFORD_SQL = """
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR(32)), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
), exp(digit, expected_share) AS (VALUES {_BENFORD_VALUES}),
total AS (SELECT SUM(n_obs) AS t FROM obs)
SELECT obs.digit, obs.n_obs,
       FLOOR((obs.n_obs::DOUBLE / total.t) * 1000000 + 0.5) / 1000000 AS obs_share,
       FLOOR(exp.expected_share * 1000000 + 0.5) / 1000000 AS expected_share,
       FLOOR(((obs.n_obs::DOUBLE / total.t) / exp.expected_share) * 10000 + 0.5) / 10000 AS lift
FROM obs JOIN exp USING (digit) CROSS JOIN total
ORDER BY digit
"""
BENFORD_SQL = BENFORD_SQL.replace("{_BENFORD_VALUES}", _BENFORD_VALUES)




def lineitem_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff audit (operators/diff.py): old = items shipped
    before 1997-07; new = shipped before 1998-01 with a simulated
    restatement (returned items re-priced at 90%). Classifies every
    (orderkey, linenumber) as added/changed/unchanged and counts —
    the "what did yesterday's run change" report."""
    from degdb_spark.operators.diff import diff_summary

    li = load_table(spark, sf_dir, "lineitem")
    old = li.filter(F.col("l_shipdate") < "1997-07-01").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    new = (
        li.filter(F.col("l_shipdate") < "1998-01-01")
        .withColumn(
            "l_extendedprice",
            F.when(
                F.col("l_returnflag") == "R",
                (F.floor(F.col("l_extendedprice") * 0.9 * 100 + F.lit(0.5)) / 100),
            ).otherwise(F.col("l_extendedprice")),
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    return diff_summary(old, new, ["l_orderkey", "l_linenumber"])


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-07-01'
), new AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         CASE WHEN l_returnflag = 'R'
              THEN FLOOR(l_extendedprice * 0.9 * 100 + 0.5) / 100
              ELSE l_extendedprice END AS l_extendedprice
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
), j AS (
  SELECT COALESCE(o.l_orderkey, n.l_orderkey) AS k1,
         CASE WHEN o.l_orderkey IS NULL THEN 'added'
              WHEN n.l_orderkey IS NULL THEN 'removed'
              WHEN o.l_quantity IS NOT DISTINCT FROM n.l_quantity
               AND o.l_extendedprice IS NOT DISTINCT FROM n.l_extendedprice
              THEN 'unchanged' ELSE 'changed' END AS change_type
  FROM old o FULL OUTER JOIN new n
    ON o.l_orderkey = n.l_orderkey AND o.l_linenumber = n.l_linenumber
)
SELECT change_type, COUNT(*) AS n FROM j GROUP BY change_type ORDER BY change_type
"""




def orders_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/quality.
    k_anonymity_report): quasi-identifiers = (customer nation, order
    year, priority), sensitive = total price band; classes smaller than
    k=5 are re-identification risks."""
    from degdb_spark.operators.quality import k_anonymity_report

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = orders.join(cust, on="o_custkey").select(
        "c_nationkey",
        F.year("o_orderdate").alias("order_year"),
        "o_orderpriority",
        (F.floor(F.col("o_totalprice") / 50000)).cast("int").alias("price_band"),
    )
    return k_anonymity_report(
        joined,
        ["c_nationkey", "order_year", "o_orderpriority"],
        "price_band",
        k=5,
    )


KANONYMITY_SQL = """
WITH joined AS (
  SELECT c.c_nationkey,
         EXTRACT(year FROM o.o_orderdate) AS order_year,
         o.o_orderpriority,
         CAST(FLOOR(o.o_totalprice / 50000) AS INT) AS price_band
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), classes AS (
  SELECT c_nationkey, order_year, o_orderpriority,
         COUNT(*) AS n, COUNT(DISTINCT price_band) AS l
  FROM joined GROUP BY 1, 2, 3
)
SELECT CAST(n < 5 AS INT) AS violates_k,
       COUNT(*) AS n_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       MIN(l) AS min_l_diversity,
       MAX(n) AS max_class_size
FROM classes GROUP BY 1 ORDER BY violates_k
"""




def lineitem_ols_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment model fit: price ~ quantity regression per return
    flag (operators/profile.ols_fit_by — one shuffle to group
    granularity, no UDF, no per-group driver loop)."""
    from degdb_spark.operators.profile import ols_fit_by

    li = load_table(spark, sf_dir, "lineitem")
    return ols_fit_by(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    ).orderBy("l_returnflag")


OLS_BY_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
         CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
         CAST(n * syy - sy * sy AS DOUBLE) AS vary,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT l_returnflag, n,
       FLOOR((cov / varx) * 1000000 + 0.5) / 1000000 AS slope,
       FLOOR(((syd - (cov / varx) * sxd) / n / 100) * 1000000 + 0.5) / 1000000 AS intercept,
       FLOOR(((cov * cov) / (varx * vary)) * 1000000 + 0.5) / 1000000 AS r2
FROM d ORDER BY l_returnflag
"""




def lineitem_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test returnflag x linestatus: observed
    vs expected cell counts and the per-cell contribution, all from ONE
    contingency aggregation (expected = row_total*col_total/n computed
    from broadcast marginals — exact integers until the final
    division)."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    row_m = obs.groupBy("l_returnflag").agg(F.sum("n_obs").alias("_rt"))
    col_m = obs.groupBy("l_linestatus").agg(F.sum("n_obs").alias("_ct"))
    tot = obs.agg(F.sum("n_obs").alias("_t"))
    return (
        obs.join(F.broadcast(row_m), on="l_returnflag")
        .join(F.broadcast(col_m), on="l_linestatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_obs",
            dround(F.col("_rt") * F.col("_ct") / F.col("_t"), 4).alias("expected"),
            dround(
                (F.col("n_obs") - F.col("_rt") * F.col("_ct") / F.col("_t"))
                * (F.col("n_obs") - F.col("_rt") * F.col("_ct") / F.col("_t"))
                / (F.col("_rt") * F.col("_ct") / F.col("_t")),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


CHI_SQUARE_SQL = """
WITH obs AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n_obs
  FROM lineitem GROUP BY 1, 2
), rm AS (SELECT l_returnflag, SUM(n_obs) AS rt FROM obs GROUP BY 1),
cm AS (SELECT l_linestatus, SUM(n_obs) AS ct FROM obs GROUP BY 1),
t AS (SELECT SUM(n_obs) AS t FROM obs)
SELECT obs.l_returnflag, obs.l_linestatus, obs.n_obs,
       FLOOR((rm.rt::DOUBLE * cm.ct / t.t) * 10000 + 0.5) / 10000 AS expected,
       FLOOR(((obs.n_obs - rm.rt::DOUBLE * cm.ct / t.t)
              * (obs.n_obs - rm.rt::DOUBLE * cm.ct / t.t)
              / (rm.rt::DOUBLE * cm.ct / t.t)) * 10000 + 0.5) / 10000 AS chi2_term
FROM obs JOIN rm USING (l_returnflag) JOIN cm USING (l_linestatus) CROSS JOIN t
ORDER BY l_returnflag, l_linestatus
"""


def lineitem_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning for feature engineering: decile boundaries of
    extendedprice via exact interpolated percentiles (broadcast 1-row
    aggregate), then a single scan assigns bins — per-bin counts come
    out near-equal by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [i / 10.0 for i in range(1, 10)]
    # one array-argument percentile pass, not nine sort-based aggregates
    arr = F.expr(f"percentile(l_extendedprice, array({', '.join(str(q) for q in qs)}))")
    bounds = li.agg(
        *[
            dround(F.element_at(arr, i + 1), 2).alias(f"_b{i}")
            for i in range(len(qs))
        ]
    )
    joined = li.select("l_extendedprice").crossJoin(F.broadcast(bounds))
    bin_expr = sum(
        (F.col("l_extendedprice") > F.col(f"_b{i}")).cast("int") for i in range(9)
    )
    return (
        joined.select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


EQUIDEPTH_SQL = """
WITH bounds AS (
  SELECT FLOOR(quantile_cont(l_extendedprice, 0.1) * 100 + 0.5) / 100 AS b0,
         FLOOR(quantile_cont(l_extendedprice, 0.2) * 100 + 0.5) / 100 AS b1,
         FLOOR(quantile_cont(l_extendedprice, 0.3) * 100 + 0.5) / 100 AS b2,
         FLOOR(quantile_cont(l_extendedprice, 0.4) * 100 + 0.5) / 100 AS b3,
         FLOOR(quantile_cont(l_extendedprice, 0.5) * 100 + 0.5) / 100 AS b4,
         FLOOR(quantile_cont(l_extendedprice, 0.6) * 100 + 0.5) / 100 AS b5,
         FLOOR(quantile_cont(l_extendedprice, 0.7) * 100 + 0.5) / 100 AS b6,
         FLOOR(quantile_cont(l_extendedprice, 0.8) * 100 + 0.5) / 100 AS b7,
         FLOOR(quantile_cont(l_extendedprice, 0.9) * 100 + 0.5) / 100 AS b8
  FROM lineitem
)
SELECT (CASE WHEN l_extendedprice > b0 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b4 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b5 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b6 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b7 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b8 THEN 1 ELSE 0 END) AS bin,
       COUNT(*) AS n
FROM lineitem CROSS JOIN bounds
GROUP BY 1 ORDER BY bin
"""




def lineitem_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift monitor (operators/drift.psi_bins): PSI of
    extendedprice between pre-1997 (reference) and 1997+ shipments,
    over the reference's decile bins."""
    from degdb_spark.operators.drift import psi_bins

    li = load_table(spark, sf_dir, "lineitem")
    return psi_bins(
        li.filter(F.col("l_shipdate") < "1997-01-01"),
        li.filter(F.col("l_shipdate") >= "1997-01-01"),
        "l_extendedprice",
    )


PSI_SQL = """
WITH refd AS (SELECT l_extendedprice FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'),
curd AS (SELECT l_extendedprice FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'),
bounds AS (
  SELECT FLOOR(quantile_cont(l_extendedprice, 0.1) * 100 + 0.5) / 100 AS b0,
         FLOOR(quantile_cont(l_extendedprice, 0.2) * 100 + 0.5) / 100 AS b1,
         FLOOR(quantile_cont(l_extendedprice, 0.3) * 100 + 0.5) / 100 AS b2,
         FLOOR(quantile_cont(l_extendedprice, 0.4) * 100 + 0.5) / 100 AS b3,
         FLOOR(quantile_cont(l_extendedprice, 0.5) * 100 + 0.5) / 100 AS b4,
         FLOOR(quantile_cont(l_extendedprice, 0.6) * 100 + 0.5) / 100 AS b5,
         FLOOR(quantile_cont(l_extendedprice, 0.7) * 100 + 0.5) / 100 AS b6,
         FLOOR(quantile_cont(l_extendedprice, 0.8) * 100 + 0.5) / 100 AS b7,
         FLOOR(quantile_cont(l_extendedprice, 0.9) * 100 + 0.5) / 100 AS b8
  FROM refd
),
rb AS (SELECT (CASE WHEN l_extendedprice > b0 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b4 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b5 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b6 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b7 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b8 THEN 1 ELSE 0 END) AS bin, COUNT(*) AS n_ref FROM refd CROSS JOIN bounds GROUP BY 1),
cb AS (SELECT (CASE WHEN l_extendedprice > b0 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b4 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b5 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b6 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b7 THEN 1 ELSE 0 END + CASE WHEN l_extendedprice > b8 THEN 1 ELSE 0 END) AS bin, COUNT(*) AS n_cur FROM curd CROSS JOIN bounds GROUP BY 1),
jd AS (
  SELECT COALESCE(rb.bin, cb.bin) AS bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
), tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM jd),
shares AS (
  SELECT bin,
         GREATEST(n_ref::DOUBLE / tr, 1e-6) AS rs,
         GREATEST(n_cur::DOUBLE / tc, 1e-6) AS cs
  FROM jd CROSS JOIN tot
)
SELECT bin,
       FLOOR(rs * 1000000 + 0.5) / 1000000 AS ref_share,
       FLOOR(cs * 1000000 + 0.5) / 1000000 AS cur_share,
       FLOOR(((cs - rs) * (FLOOR(ln(cs / rs) * 1000000 + 0.5) / 1000000)) * 1000000 + 0.5) / 1000000 AS psi_term
FROM shares ORDER BY bin
"""


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days since
    last order at the corpus horizon), frequency (order count), and
    monetary (decimal-summed spend), quartile-scored against exact
    interpolated percentiles that ride as ONE broadcast row — no
    ntile/global window anywhere (the classic RFM recipe uses a global
    NTILE(4), which is the single-task sort this repo bans). Returns
    customer counts + avg spend per (r,f,m) score cell (≤64 rows)."""
    o = _t(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("_h"))
    cust = (
        o.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff("_h", "o_orderdate")).cast("double").alias("r"),
            F.count(F.lit(1)).cast("double").alias("f"),
            dsum(F.col("o_totalprice"), 2).alias("m"),
        )
    )
    qs = "array(0.25, 0.5, 0.75)"
    bounds = cust.agg(
        *[
            dround(F.element_at(F.expr(f"percentile({c}, {qs})"), i + 1), 4).alias(
                f"_{c}{i}"
            )
            for c in ("r", "f", "m")
            for i in range(3)
        ]
    )
    joined = cust.crossJoin(F.broadcast(bounds))
    # recency: smaller is better -> score counts boundaries ABOVE the
    # value; frequency/monetary: larger is better
    r_score = sum((F.col("r") < F.col(f"_r{i}")).cast("int") for i in range(3)) + 1
    f_score = sum((F.col("f") > F.col(f"_f{i}")).cast("int") for i in range(3)) + 1
    m_score = sum((F.col("m") > F.col(f"_m{i}")).cast("int") for i in range(3)) + 1
    return (
        joined.select(
            r_score.alias("r_score"),
            f_score.alias("f_score"),
            m_score.alias("m_score"),
            "m",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dround(
                F.sum(F.col("m").cast("decimal(30,2)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SQL = """
WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(MIN(DATEDIFF('day', o_orderdate, h)) AS DOUBLE) AS r,
         CAST(COUNT(*) AS DOUBLE) AS f,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS m
  FROM orders CROSS JOIN horizon
  GROUP BY o_custkey
), bounds AS (
  SELECT
    FLOOR(quantile_cont(r, 0.25) * 10000 + 0.5) / 10000 AS r0,
    FLOOR(quantile_cont(r, 0.5)  * 10000 + 0.5) / 10000 AS r1,
    FLOOR(quantile_cont(r, 0.75) * 10000 + 0.5) / 10000 AS r2,
    FLOOR(quantile_cont(f, 0.25) * 10000 + 0.5) / 10000 AS f0,
    FLOOR(quantile_cont(f, 0.5)  * 10000 + 0.5) / 10000 AS f1,
    FLOOR(quantile_cont(f, 0.75) * 10000 + 0.5) / 10000 AS f2,
    FLOOR(quantile_cont(m, 0.25) * 10000 + 0.5) / 10000 AS m0,
    FLOOR(quantile_cont(m, 0.5)  * 10000 + 0.5) / 10000 AS m1,
    FLOOR(quantile_cont(m, 0.75) * 10000 + 0.5) / 10000 AS m2
  FROM cust
), scored AS (
  SELECT
    (CASE WHEN r < r0 THEN 1 ELSE 0 END + CASE WHEN r < r1 THEN 1 ELSE 0 END
     + CASE WHEN r < r2 THEN 1 ELSE 0 END + 1) AS r_score,
    (CASE WHEN f > f0 THEN 1 ELSE 0 END + CASE WHEN f > f1 THEN 1 ELSE 0 END
     + CASE WHEN f > f2 THEN 1 ELSE 0 END + 1) AS f_score,
    (CASE WHEN m > m0 THEN 1 ELSE 0 END + CASE WHEN m > m1 THEN 1 ELSE 0 END
     + CASE WHEN m > m2 THEN 1 ELSE 0 END + 1) AS m_score,
    m
  FROM cust CROSS JOIN bounds
)
SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       FLOOR((CAST(SUM(CAST(m AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_monetary
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month; for month offsets 0..6, the cohort's cumulative revenue per
    member. The cumulative sum is PARTITIONED by cohort over ≤7 offset
    rows (aggregate-sized), revenue sums are decimal-exact, and the
    per-member division happens once per output row."""
    o = _t(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    joined = o.join(first, on="o_custkey").withColumn(
        "offset_m",
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        ).cast("long"),
    ).filter(F.col("offset_m") <= 6)
    sizes = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    per = joined.groupBy("cohort_month", "offset_m").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.withColumn("cum_rev", F.sum("rev").over(w))
    return (
        cum.join(F.broadcast(sizes), on="cohort_month")
        .select(
            "cohort_month",
            "offset_m",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            dround(F.col("cum_rev").cast("double") / F.col("cohort_size"), 2).alias(
                "ltv_per_member"
            ),
        )
        .orderBy("cohort_month", "offset_m")
    )


COHORT_LTV_SQL = """
WITH first AS (
  SELECT o_custkey, DATE_TRUNC('month', MIN(o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
), joined AS (
  SELECT f.cohort_month,
         (YEAR(o.o_orderdate) - YEAR(f.cohort_month)) * 12
           + (MONTH(o.o_orderdate) - MONTH(f.cohort_month)) AS offset_m,
         o.o_totalprice
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
), sizes AS (
  SELECT cohort_month, COUNT(*) AS cohort_size FROM first GROUP BY cohort_month
), per AS (
  SELECT cohort_month, offset_m,
         SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
  FROM joined WHERE offset_m <= 6
  GROUP BY cohort_month, offset_m
), cum AS (
  SELECT cohort_month, offset_m,
         SUM(rev) OVER (PARTITION BY cohort_month ORDER BY offset_m
                        ROWS UNBOUNDED PRECEDING) AS cum_rev
  FROM per
)
SELECT c.cohort_month::TIMESTAMP_NS AS cohort_month,
       CAST(c.offset_m AS BIGINT) AS offset_m,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       FLOOR((CAST(c.cum_rev AS DOUBLE) / s.cohort_size) * 100 + 0.5) / 100 AS ltv_per_member
FROM cum c JOIN sizes s ON c.cohort_month = s.cohort_month
ORDER BY cohort_month, offset_m
"""


def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto curve points): the share of total
    revenue held by the top 1% / 10% / 20% of customers. Rank and
    cumulative revenue ride ONE multi-column two-phase running-sum
    pass over the per-customer rollup (rank = running sum of ones —
    no separate row_number), revenue is exact integer cents, and the
    three shares read off the cumulative column at the cutoff ranks."""
    from degdb_spark.operators.ranking import global_running_sum

    o = _t(spark, sf_dir, "orders")
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double")
            .alias("rev")
        )
        .select(
            "o_custkey",
            F.floor(F.col("rev") * 100 + F.lit(0.5)).cast("long").alias("rev_c"),
            F.lit(1).cast("long").alias("one"),
        )
    )
    cum = global_running_sum(
        per,
        [F.col("rev_c").desc(), F.col("o_custkey")],
        ["one", "rev_c"],
        sum_name=["rnk", "cum_rev_c"],
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("rev_c").alias("_total_c")
    )
    j = cum.crossJoin(F.broadcast(tot))
    share = lambda div: dround(
        F.max(
            F.when(
                F.col("rnk") <= F.greatest(F.expr(f"_n DIV {div}"), F.lit(1)),
                F.col("cum_rev_c"),
            )
        )
        / F.col("_total_c"),
        6,
    )
    return j.groupBy("_n", "_total_c").agg(
        share(100).alias("top1_share"),
        share(10).alias("top10_share"),
        share(5).alias("top20_share"),
    ).select(
        F.col("_n").cast("long").alias("n_customers"),
        "top1_share",
        "top10_share",
        "top20_share",
    )


PARETO_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) * 100 + 0.5) AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
), cum AS (
  SELECT o_custkey, rev_c,
         SUM(1) OVER (ORDER BY rev_c DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS rnk,
         SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum_rev_c
  FROM per
), tot AS (SELECT COUNT(*) AS n, SUM(rev_c) AS total_c FROM per)
SELECT CAST(n AS BIGINT) AS n_customers,
       FLOOR((MAX(CASE WHEN rnk <= GREATEST(n // 100, 1) THEN cum_rev_c END)::DOUBLE / total_c) * 1000000 + 0.5) / 1000000 AS top1_share,
       FLOOR((MAX(CASE WHEN rnk <= GREATEST(n // 10, 1) THEN cum_rev_c END)::DOUBLE / total_c) * 1000000 + 0.5) / 1000000 AS top10_share,
       FLOOR((MAX(CASE WHEN rnk <= GREATEST(n // 5, 1) THEN cum_rev_c END)::DOUBLE / total_c) * 1000000 + 0.5) / 1000000 AS top20_share
FROM cum CROSS JOIN tot
GROUP BY n, total_c
"""


def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration audit: Herfindahl-Hirschman index of
    supplier revenue share within each nation. HHI = Σ shareᵢ² needs
    no float shares at all: with revenues as exact integer cents,
    HHI = Σ revᵢ² / (Σ revᵢ)² — integer/decimal sums, one double
    division per nation at the end. The single-vendor-risk number a
    supply-chain (or data-vendor) review reads per region."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,4)"
                )
            ).alias("_rev")
        )
        .select(
            "l_suppkey",
            F.floor(F.col("_rev").cast("double") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rev_c"),
        )
    )
    j = (
        rev.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("_sq"),
        F.sum("rev_c").alias("_tot"),
    )
    return agg.select(
        F.col("n_name").alias("nation"),
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        dround(
            F.col("_sq").cast("double")
            / (F.col("_tot").cast("double") * F.col("_tot").cast("double")),
            6,
        ).alias("hhi"),
    ).orderBy("nation")


HHI_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) * 100 + 0.5) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_suppkey
), j AS (
  SELECT n.n_name AS nation, rev.rev_c
  FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT nation, COUNT(*) AS n_suppliers,
       FLOOR((CAST(SUM(CAST(rev_c AS HUGEINT) * rev_c) AS DOUBLE)
              / (CAST(SUM(rev_c) AS DOUBLE) * CAST(SUM(rev_c) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS hhi
FROM j GROUP BY nation ORDER BY nation
"""


QUERIES: dict[str, Query] = {
    "supplier_hhi_by_nation": Query(supplier_hhi_by_nation, HHI_SQL),
    "orders_pareto_share": Query(orders_pareto_share, PARETO_SQL),
    "orders_cohort_ltv": Query(orders_cohort_ltv, COHORT_LTV_SQL),
    "orders_rfm_segments": Query(orders_rfm_segments, RFM_SQL),
    "grouping_sets_revenue": Query(grouping_sets_revenue, GROUPING_SETS_SQL),
    "orders_salted_join": Query(salted_revenue_join, SALTED_JOIN_SQL),
    "lineitem_correlations": Query(lineitem_correlations, CORRELATIONS_SQL),
    "lineitem_ols": Query(lineitem_ols, OLS_SQL),
    "orders_benford_audit": Query(orders_benford_audit, BENFORD_SQL),
    "lineitem_snapshot_diff": Query(lineitem_snapshot_diff, SNAPSHOT_DIFF_SQL),
    "orders_kanonymity": Query(orders_kanonymity, KANONYMITY_SQL),
    "lineitem_ols_by_flag": Query(lineitem_ols_by_flag, OLS_BY_SQL),
    "lineitem_chi_square": Query(lineitem_chi_square, CHI_SQUARE_SQL),
    "lineitem_equidepth_bins": Query(lineitem_equidepth_bins, EQUIDEPTH_SQL),
    "lineitem_psi": Query(lineitem_psi, PSI_SQL),
    "lineitem_contract_checks": Query(lineitem_contract_checks, CONTRACT_SQL),
    "orders_skew_report": Query(orders_skew_report, SKEW_SQL),
    "lineitem_unpivot": Query(lineitem_unpivot, UNPIVOT_SQL),
    "lineitem_profile": Query(lineitem_profile, PROFILE_SQL),
    "lineitem_price_histogram": Query(price_histogram, HISTOGRAM_SQL),
    "left_join_order_stats": Query(left_join_order_stats, LEFT_JOIN_SQL),
    "full_outer_nation_presence": Query(full_outer_nation_presence, FULL_OUTER_SQL),
    "price_percentiles": Query(price_percentiles, PERCENTILES_SQL),
    "above_nation_average": Query(above_nation_average, ABOVE_AVG_SQL),
    "orders_with_big_items": Query(orders_with_big_items, IN_SUBQ_SQL),
    "regexp_gallery": Query(regexp_gallery, REGEXP_SQL),
    "window_function_gallery": Query(window_function_gallery, WINDOW_GALLERY_SQL),
    "moving_average_revenue": Query(moving_average_revenue, MOVING_AVG_SQL),
    "conditional_aggregation": Query(conditional_aggregation, COND_AGG_SQL),
    "array_aggregation": Query(array_aggregation, ARRAY_AGG_SQL),
}
