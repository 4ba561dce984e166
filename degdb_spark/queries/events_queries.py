"""Event-stream analytics in batch form, oracle-checked.

Windowed aggregation == groupBy(date_trunc) here so Spark and the DuckDB
oracle agree on bucket boundaries (UTC session timezone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from degdb_spark.catalog import load_table
from degdb_spark.queries import Query
from degdb_spark.queries.rounding import davg, dsum, sql_davg, sql_dsum


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


HOURLY_SQL = """
SELECT DATE_TRUNC('hour', ts)::TIMESTAMP_NS AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
ORDER BY hour, event_type
"""


def event_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First occurrence per event_id."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_id")
        .agg(F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("event_id") < 100)
        .orderBy("event_id")
    )


DEDUP_SQL = """
SELECT event_id, MIN(ts)::TIMESTAMP::TIMESTAMP_NS AS first_ts, COUNT(*) AS n_dups
FROM events GROUP BY event_id
HAVING event_id < 100
ORDER BY event_id
"""


def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via lag-gap analysis (>30 min gap starts a new
    session). Two window shuffles, both partitioned by user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        (
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800)
        ).cast("int"),
    )
    sessions = gapped.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            dsum(F.col("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


SESSION_SQL = """
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR FLOOR(EPOCH(ts)) - FLOOR(EPOCH(LAG(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM gapped
), per_session AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
  FROM sessions GROUP BY user_id, session_seq
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       CAST(SUM(CAST(session_value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-function surface: extract props.k, bucket it."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), davg(F.col("value"), 2, 4).alias("avg_value"))
        .orderBy("k_bucket")
    )


JSON_SQL = """
SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n, FLOOR((CAST(SUM(CAST((value) AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000 AS avg_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
"""


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: daily counts per event type as columns."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("day")
    )


PIVOT_SQL = """
SELECT DATE_TRUNC('day', ts)::TIMESTAMP_NS AS day,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error
FROM events GROUP BY DATE_TRUNC('day', ts) ORDER BY day
"""


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the dense hourly event-count series
    at lags 1..6 — the periodicity probe that tells a pipeline whether
    its traffic has hourly/daily structure before fitting anything
    seasonal. The series is densified over the full min..max hour grid
    (missing hours count 0, otherwise lags silently misalign across
    gaps). Cross-engine exactness: every aggregate is an exact integer
    sum (pair products, head/tail sums, Σx, Σx², n) and the final
    r_k = (P_k − x̄(H_k+T_k) + (n−k)x̄²) / (Σx² − n·x̄²) is the same
    left-associated double expression on both sides, then dround(6).

    Scale: the hourly series is |hours|-sized (bounded by time span,
    not event volume — a year is 8,760 rows at ANY corpus size); the
    only corpus-sized pass is the first groupBy(hour), map-side
    combined. The lag join runs on the tiny series frame."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return hourly_acf(spark, counts)


MAX_GRID_HOURS = 1_000_000  # ~114 years of hourly slots


def hourly_acf(spark: SparkSession, counts: DataFrame, max_lag: int = 6) -> DataFrame:
    """ACF core over an (h timestamp, x long) hourly-count frame; see
    events_autocorrelation for the densification and exactness story.

    Dirty-data guard (ADVICE r9): the grid is |h1 − h0| rows, so ONE
    outlier timestamp (epoch-zero, far-future) would silently inflate
    it far past the "8,760 rows per year" scale story. A span wider
    than MAX_GRID_HOURS raises ValueError — the caller should clamp or
    filter its timestamps, not densify over garbage. The explode lands
    on a single task (its input is one row), so the grid is
    repartitioned before the join/stats passes."""
    from degdb_spark.persistence import pin
    from degdb_spark.queries.rounding import dround

    # pin the |hours|-sized count frame BEFORE the guard collect, so the
    # corpus-sized groupBy(hour) still runs exactly once (the guard and
    # the grid join both read the pinned frame)
    counts = pin(counts, eager=True)
    bounds = counts.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    brow = bounds.collect()[0]
    if brow.h0 is not None:
        span_h = int((brow.h1 - brow.h0).total_seconds() // 3600)
        if span_h > MAX_GRID_HOURS:
            raise ValueError(
                f"hourly_acf: timestamp span {span_h} hours exceeds "
                f"MAX_GRID_HOURS={MAX_GRID_HOURS}; clamp or filter outlier "
                "timestamps before densifying"
            )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
        "h0",
    ).repartition(spark.sparkContext.defaultParallelism, "h")
    series = pin(
        grid.join(counts, "h", "left")
        .fillna({"x": 0})
        .select(
            ((F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600)
            .cast("long")
            .alias("i"),
            "x",
        )
    )
    stats = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    a, b = series.alias("a"), series.alias("b")
    per_lag = (
        F.broadcast(lags).join(a, F.lit(True))
        .join(b, F.col("b.i") == F.col("a.i") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("p"),
            F.sum(F.col("a.x")).alias("hh"),
            F.sum(F.col("b.x")).alias("tt"),
        )
    )
    xbar = F.col("s").cast("double") / F.col("n")
    num = (
        F.col("p").cast("double")
        - xbar * (F.col("hh") + F.col("tt"))
        + F.col("n_pairs") * xbar * xbar
    )
    den = F.col("q").cast("double") - F.col("n") * xbar * xbar
    # a constant series has zero variance: ACF is undefined there, so
    # emit NULL instead of dividing by zero (ANSI mode errors; the
    # oracle carries the identical CASE guard)
    acf = F.when(den != 0.0, dround(num / den, 6))
    return (
        per_lag.join(F.broadcast(stats), F.lit(True))
        .select("lag", "n_pairs", acf.alias("acf"))
        .orderBy("lag")
    )


ACF_SQL = """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM counts),
grid AS (
  SELECT unnest(generate_series((SELECT h0 FROM b), (SELECT h1 FROM b),
                                INTERVAL 1 HOUR)) AS h
),
series AS (
  SELECT date_diff('hour', (SELECT h0 FROM b), g.h) AS i, COALESCE(c.x, 0) AS x
  FROM grid g LEFT JOIN counts c ON c.h = g.h
),
stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q
  FROM series
),
lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
per_lag AS (
  SELECT l.lag, COUNT(*) AS n_pairs,
         CAST(SUM(a.x * bb.x) AS BIGINT) AS p,
         CAST(SUM(a.x) AS BIGINT) AS hh,
         CAST(SUM(bb.x) AS BIGINT) AS tt
  FROM lags l
  JOIN series a ON TRUE
  JOIN series bb ON bb.i = a.i + l.lag
  GROUP BY l.lag
)
SELECT lag, n_pairs,
       CASE WHEN (CAST(q AS DOUBLE) - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) = 0.0
            THEN NULL
            ELSE FLOOR(((CAST(p AS DOUBLE) - (CAST(s AS DOUBLE) / n) * (hh + tt)
                         + n_pairs * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                        / (CAST(q AS DOUBLE) - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)))
                       * 1000000 + 0.5) / 1000000
       END AS acf
FROM per_lag CROSS JOIN stats ORDER BY lag
"""


QUERIES: dict[str, Query] = {
    "events_autocorrelation": Query(events_autocorrelation, ACF_SQL),
    "events_hourly_rollup": Query(hourly_event_rollup, HOURLY_SQL),
    "events_dedup_first": Query(event_dedup_first, DEDUP_SQL),
    "events_sessionization": Query(user_sessionization, SESSION_SQL),
    "events_json_props": Query(json_props_extraction, JSON_SQL),
    "events_type_pivot": Query(event_type_pivot, PIVOT_SQL),
}
