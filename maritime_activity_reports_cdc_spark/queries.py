"""Query catalog: SURVEY.md §2 operator coverage + training-data ops,
each as (Spark DataFrame plan, equivalent DuckDB oracle SQL).

Conventions keeping the cross-engine value-hash stable:
- every computed column is aliased identically on both sides;
- float aggregates are rounded (2 decimals for large sums, 6 for
  avg/median/rates — 6 so decimal-terminating values never land on the
  rounding boundary where HALF_UP-on-string vs binary rounding disagree);
- counts are BIGINT on both sides (DuckDB conditional counts already are;
  Spark casts where its default is int);
- weekday arithmetic translated (Spark dayofweek = DuckDB dow + 1);
- the session timezone is UTC (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.functions import text as TXT
from maritime_activity_reports_cdc_spark.operators import curation as CU
from maritime_activity_reports_cdc_spark.operators import dedup as DD
from maritime_activity_reports_cdc_spark.operators import graph as GR
from maritime_activity_reports_cdc_spark.operators import lm as LM
from maritime_activity_reports_cdc_spark.operators import retrieval as RT
from maritime_activity_reports_cdc_spark.operators import similarity as SIM
from maritime_activity_reports_cdc_spark.operators.apply import dedup_latest


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _epoch_us(col: str = "ts") -> F.Column:
    """Wall-clock microseconds since epoch for TIMESTAMP_NTZ columns —
    pure timestamp arithmetic, independent of the session timezone (the
    parquet files carry NTZ timestamps; DuckDB's epoch_us is NTZ too)."""
    return F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check
    description: str


# ---------------------------------------------------------------------------
# Relational core (reference operator parity)
# ---------------------------------------------------------------------------

def q1_lineitem_rollup(spark, sf):
    """TPC-H Q1 shape — A4 grouped rollup (gold/table_setup.py:475-491)."""
    li = t(spark, sf, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def cdc_apply_latest(spark, sf):
    """FLAGSHIP: CDC last-write-wins apply using the engine's dedup
    primitive over an events-derived change log (M2 analog + G1 fix)."""
    ev = t(spark, sf, "events")
    changes = ev.select(
        F.col("user_id"),
        F.pmod("event_id", F.lit(50)).alias("slot"),
        F.when(F.pmod("event_id", F.lit(10)) == 9, "D").otherwise("U").alias("op"),
        F.col("event_id").alias("lsn"),
        F.lit(0).alias("op_ordinal"),
        F.col("value"),
        F.col("event_type"),
    )
    winners = dedup_latest(changes, keys=("user_id", "slot"), order=("lsn", "op_ordinal"))
    return winners.where(F.col("op") != "D").select(
        "user_id", "slot",
        F.col("lsn").alias("event_id"),
        F.round("value", 2).alias("value"),
        "event_type",
    )


CDC_APPLY_SQL = """
WITH ch AS (
  SELECT user_id, event_id % 50 AS slot,
         CASE WHEN event_id % 10 = 9 THEN 'D' ELSE 'U' END AS op,
         event_id AS lsn, value, event_type
  FROM events
), w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, slot ORDER BY lsn DESC) AS rn
  FROM ch
)
SELECT user_id, slot, lsn AS event_id, ROUND(value, 2) AS value, event_type
FROM w WHERE rn = 1 AND op <> 'D'
"""


def scd2_user_profile(spark, sf):
    """SCD2 version chains via lead() — M1/M3 semantics as a query."""
    ev = t(spark, sf, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        _epoch_us("ts").alias("valid_from_us"),
        F.lead(_epoch_us("ts")).over(w).alias("valid_to_us"),
        F.lead(_epoch_us("ts")).over(w).isNull().alias("is_current"),
    )


SCD2_SQL = """
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       lead(epoch_us(ts)) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def dim_join_enrichment(spark, sf):
    """J1/J5: broadcast dimension joins customer x nation x region."""
    c, n, r = t(spark, sf, "customer"), t(spark, sf, "nation"), t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


DIM_JOIN_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 6) AS avg_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def latest_event_per_user(spark, sf):
    """W4/J3 argmax rewrite: row_number instead of self-join."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


LATEST_SQL = """
WITH w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, ROUND(value, 2) AS value FROM w WHERE rn = 1
"""


def user_session_lag(spark, sf):
    """W1/W2: lag arithmetic per user (exact microsecond gaps)."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (_epoch_us("ts") - F.lag(_epoch_us("ts")).over(w)).alias("gap_us"),
    )


LAG_SQL = """
SELECT user_id, event_id,
       lag(event_id) OVER w AS prev_event_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def session_segmentation(spark, sf):
    """Gap-based sessionization (the classic transcript/event-stream
    op): a new session starts when the gap to the previous event exceeds
    30 minutes; session ids assign via a cumulative sum of session-start
    flags, then per-session aggregates. Two windows + one groupBy —
    no self-joins, no iteration."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_us = _epoch_us("ts") - F.lag(_epoch_us("ts")).over(w)
    flagged = ev.withColumn(
        "_new", F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    ).withColumn("session_idx", F.sum("_new").over(run).cast("long"))
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max(_epoch_us("ts")) - F.min(_epoch_us("ts"))).alias("duration_us"),
            F.countDistinct("event_type").cast("long").alias("n_event_types"),
        )
    )


SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
FROM sessions
GROUP BY user_id, session_idx
"""


def transition_detection(spark, sf):
    """W3 change-point detection: event_type transitions per user."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "tr",
        F.when(F.col("event_type") != F.lag("event_type").over(w), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(F.sum("tr").cast("long").alias("n_transitions"))


TRANSITION_SQL = """
WITH x AS (
  SELECT user_id,
         CASE WHEN event_type <> lag(event_type)
              OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS tr
  FROM events
)
SELECT user_id, CAST(SUM(tr) AS BIGINT) AS n_transitions FROM x GROUP BY user_id
"""


def rank_topk_customers(spark, sf):
    """W6/O2: rank within nation + top-k filter."""
    c, n = t(spark, sf, "customer"), t(spark, sf, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    return (
        joined.withColumn("rk", F.rank().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rk")
    )


RANK_SQL = """
WITH r AS (
  SELECT n_name, c_custkey, c_acctbal,
         rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey, ROUND(c_acctbal, 2) AS acctbal, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3
"""


def journey_sequencing(spark, sf):
    """J4 rewrite: lag() instead of sequencing self-join (SURVEY §4.2)."""
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("seq"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w)))
        .cast("long")
        .alias("gap_days"),
    )


JOURNEY_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS seq,
       lag(o_orderkey) OVER w AS prev_orderkey,
       date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def conditional_ingest_stats(spark, sf):
    """A3: conditional counts + distinct + min/max (bronze stats probe,
    bronze/cdc_ingestion.py:303-315)."""
    ev = t(spark, sf, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


STATS_SQL = """
SELECT COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       ROUND(AVG(value), 6) AS avg_value
FROM events
"""


def daily_activity_rollup(spark, sf):
    """A4 daily rollup analog."""
    ev = t(spark, sf, "events")
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("business_date")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_views"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
    )


DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS business_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks
FROM events GROUP BY 1
"""


def event_type_performance(spark, sf, approx_median: bool = False):
    """A5 port-performance analog: bucketed/conditional measures + exact
    median (the reference's PERCENTILE_CONT, G8-fixed to valid Spark).

    ``approx_median=True`` swaps the exact ``percentile`` (which buffers
    and sorts each group's values) for ``approx_percentile`` (constant-
    memory KLL-style sketch, mergeable map-side) — the production setting
    at 100x scale where a per-group sort is the bottleneck. The oracle
    catalog entry keeps the exact form so DuckDB's quantile_cont
    hash-matches bit-for-bit.
    """
    ev = t(spark, sf, "events")
    median = (
        F.expr("approx_percentile(value, 0.5)")
        if approx_median
        else F.expr("percentile(value, 0.5)")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("unique_users"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(median, 6).alias("median_value"),
        F.count(F.when(F.col("value") < 5, 1)).alias("n_low"),
        F.count(F.when(F.col("value") > 90, 1)).alias("n_high"),
        F.count(F.when(F.dayofweek("ts").isin(1, 7), 1)).alias("weekend_events"),
        F.count(F.when(F.hour("ts") < 6, 1)).alias("night_events"),
    )


PERF_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS unique_users,
       ROUND(AVG(value), 6) AS avg_value,
       ROUND(MIN(value), 2) AS min_value,
       ROUND(MAX(value), 2) AS max_value,
       ROUND(quantile_cont(value, 0.5), 6) AS median_value,
       COUNT(CASE WHEN value < 5 THEN 1 END) AS n_low,
       COUNT(CASE WHEN value > 90 THEN 1 END) AS n_high,
       COUNT(CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 END) AS weekend_events,
       COUNT(CASE WHEN date_part('hour', ts) < 6 THEN 1 END) AS night_events
FROM events GROUP BY event_type
"""


def tumbling_window_counts(spark, sf):
    """T3/T4 batch twin: 1-hour tumbling event-time windows over the
    bounded events table, so the DuckDB oracle can verify the window
    algebra exactly. This bounded batch rollup is the engine's only
    windowed aggregate: the relay keeps its state in tables and runs no
    watermarked streaming window."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "n_users", "total_value",
        )
    )


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def sliding_window_activity(spark, sf):
    """Sliding (hopping) event-time windows — 2-hour span, 1-hour hop:
    every event lands in exactly two windows. The oracle reproduces the
    window assignment with an explicit 2-row hop-offset cross join."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events", "n_users",
        )
    )


SLIDING_SQL = """
SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS window_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events CROSS JOIN (VALUES (0), (1)) offsets(k)
GROUP BY 1
"""


def user_compliance_profile(spark, sf):
    """A6 compliance agg analog: many measures + risk CASE in one groupBy
    (the reference ran one MERGE per vessel — G2)."""
    ev = t(spark, sf, "events")
    n_err = F.count(F.when(F.col("event_type") == "error", 1))
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        n_err.alias("n_errors"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).alias("last_error_ts"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
        ).alias("purchase_value"),
        F.round(n_err * 1.0 / F.count("*"), 6).alias("error_rate"),
        F.when(n_err > 30, "high").when(n_err > 15, "medium").otherwise("low").alias("risk_level"),
    )


COMPLIANCE_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       MAX(CASE WHEN event_type = 'error' THEN ts END) AS last_error_ts,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value,
       ROUND(COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 1.0 / COUNT(*), 6) AS error_rate,
       CASE WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 30 THEN 'high'
            WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 15 THEN 'medium'
            ELSE 'low' END AS risk_level
FROM events GROUP BY user_id
"""


def quality_score_tiers(spark, sf):
    """P6/A2: tiered scoring cascade then category histogram."""
    ev = t(spark, sf, "events")
    score = (
        F.when(F.col("value") >= 50, 0.4).otherwise(0.0)
        + F.when(F.length("props") >= 10, 0.3).otherwise(0.0)
        + F.when(F.hour("ts") < 12, 0.3).otherwise(0.0)
    )
    cat = (
        F.when(score >= 0.9, "excellent")
        .when(score >= 0.7, "good")
        .when(score >= 0.5, "fair")
        .otherwise("poor")
    )
    return ev.select(cat.alias("quality_category")).groupBy("quality_category").agg(
        F.count("*").alias("n")
    )


QUALITY_TIERS_SQL = """
WITH s AS (
  SELECT (CASE WHEN value >= 50 THEN 0.4 ELSE 0.0 END
        + CASE WHEN length(props) >= 10 THEN 0.3 ELSE 0.0 END
        + CASE WHEN date_part('hour', ts) < 12 THEN 0.3 ELSE 0.0 END) AS score
  FROM events
)
SELECT CASE WHEN score >= 0.9 THEN 'excellent'
            WHEN score >= 0.7 THEN 'good'
            WHEN score >= 0.5 THEN 'fair'
            ELSE 'poor' END AS quality_category,
       COUNT(*) AS n
FROM s GROUP BY 1
"""


def anomaly_flags(spark, sf):
    """P7 anomaly flagging histogram."""
    ev = t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 99, 1)).alias("n_value_spike"),
        F.count(F.when(F.col("value") < 0.5, 1)).alias("n_value_floor"),
        F.count(F.when(F.minute("ts") == 0, 1)).alias("n_on_the_hour"),
    )


ANOMALY_SQL = """
SELECT event_type,
       COUNT(CASE WHEN value > 99 THEN 1 END) AS n_value_spike,
       COUNT(CASE WHEN value < 0.5 THEN 1 END) AS n_value_floor,
       COUNT(CASE WHEN date_part('minute', ts) = 0 THEN 1 END) AS n_on_the_hour
FROM events GROUP BY event_type
"""


def rollup_order_priorities(spark, sf):
    """GROUPING SETS family: ROLLUP over (status, priority) with
    grouping() markers — subtotal and grand-total rows in one pass
    (Spark plans this as a single expand + hash aggregate; no
    self-union of aggregations)."""
    o = t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


ROLLUP_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def pivot_event_values(spark, sf):
    """Pivot (crosstab) with a FIXED pivot-value list: per-user event
    counts spread across event-type columns. A fixed list keeps the
    plan a single pass of conditional aggregates (the open-list form
    needs a driver-side distinct first) — and makes the DuckDB twin the
    identical conditional-aggregation SQL."""
    ev = t(spark, sf, "events")
    kinds = ["view", "click", "purchase"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
        )
    )


PIVOT_SQL = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase
FROM events GROUP BY user_id
"""


def distribution_window_stats(spark, sf):
    """Distribution window family: percent_rank / cume_dist / ntile over
    per-customer spend (deterministic tie-break on the key so both
    engines rank identically).

    Scale note: an unpartitioned ORDER BY window is a single-task sort —
    correct-by-SQL here (the oracle's semantics ARE global), but at
    100x the production path computes global ranks two-phase
    (repartitionByRange on the order key, per-partition local ranks +
    broadcast per-partition offsets), the same shape the salted dedup
    window variant in operators.apply uses."""
    c = t(spark, sf, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


DIST_WINDOW_SQL = """
SELECT c_custkey,
       ROUND(c_acctbal, 2) AS acctbal,
       ROUND(percent_rank() OVER w, 9) AS pct_rank,
       ROUND(cume_dist() OVER w, 9) AS cume,
       ntile(4) OVER w AS quartile
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
"""


def array_functions_embeddings(spark, sf):
    """Higher-order array functions over the embedding column:
    transform / filter / aggregate (the JVM-side lambda path — no UDFs)
    with DuckDB list_* twins. The positive-mass terms promote float32 ->
    double BEFORE scaling (single-precision arithmetic differs between
    engines) and floor to exact BIGINTs (Spark's integral cast
    truncates, DuckDB's rounds — floor removes the disagreement), so
    the sum is order-independent and bit-identical."""
    emb = t(spark, sf, "embeddings").where(F.col("vec_id") < 200)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.when(
                    x > 0, F.floor(x.cast("double") * 10000000).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("positive_mass_e7"),
        F.round(F.array_max("embedding"), 6).alias("max_component"),
    )


ARRAY_HOF_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       CAST(list_aggregate(
         list_transform(embedding,
                        x -> CASE WHEN x > 0
                                  THEN CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)
                                  ELSE 0 END),
         'sum'
       ) AS BIGINT) AS positive_mass_e7,
       ROUND(list_aggregate(embedding, 'max'), 6) AS max_component
FROM embeddings WHERE vec_id < 200
"""


def scalar_pipeline_orders(spark, sf):
    """2.9 scalar-function families: coalesce/least/round/datediff."""
    o = t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg(F.least(F.col("o_totalprice"), F.lit(100000.0))), 6).alias("avg_capped_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("long").alias("n_finished"),
        F.max(F.datediff(F.lit("2024-01-01").cast("date"), F.to_date("o_orderdate")))
        .cast("long")
        .alias("max_age_days"),
    )


SCALAR_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(AVG(LEAST(o_totalprice, 100000.0)), 6) AS avg_capped_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-01-01')) AS max_age_days
FROM orders GROUP BY o_orderpriority
"""


def set_ops_cohorts(spark, sf):
    """D-family set ops: union + distinct cohort extraction."""
    ev = t(spark, sf, "events")
    purchasers = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("user_id").distinct().withColumn("cohort", F.lit("purchaser"))
    )
    error_prone = (
        ev.where(F.col("event_type") == "error")
        .select("user_id").distinct().withColumn("cohort", F.lit("error_prone"))
    )
    return purchasers.unionByName(error_prone).distinct()


SETOPS_SQL = """
SELECT DISTINCT user_id, 'purchaser' AS cohort FROM events
WHERE event_type = 'purchase' AND value > 50
UNION
SELECT DISTINCT user_id, 'error_prone' AS cohort FROM events
WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# Training-data ops: text analysis
# ---------------------------------------------------------------------------

def token_count_docs(spark, sf):
    d = t(spark, sf, "documents")
    n_tok = TXT.token_count("text")
    return d.groupBy("lang").agg(
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tok), 6).alias("avg_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


TOKEN_SQL = """
SELECT lang,
       CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(regexp_split_to_array(trim(text), '\\s+'))), 6) AS avg_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def bpe_token_count_docs(spark, sf):
    """BPE-ish piece counting next to whitespace tokens: per-document
    pre-tokenizer piece count plus the chars-per-piece 'fertility'
    ratio used for token budgeting — both reproducible in any RE2
    engine (pattern is lookaround-free)."""
    d = t(spark, sf, "documents")
    n_bpe = TXT.bpe_token_count("text")
    return d.select(
        "doc_id",
        TXT.token_count("text").cast("long").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(
            F.when(n_bpe > 0, F.length("text") / n_bpe).otherwise(F.lit(0.0)), 6
        ).alias("chars_per_piece"),
    )


BPE_TOKEN_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TXT.BPE_PIECE_RE}')) AS BIGINT) AS n_bpe_tokens,
       ROUND(CASE WHEN len(regexp_extract_all(text, '{TXT.BPE_PIECE_RE}')) > 0
             THEN length(text) / CAST(len(regexp_extract_all(text, '{TXT.BPE_PIECE_RE}')) AS DOUBLE)
             ELSE 0.0 END, 6) AS chars_per_piece
FROM documents
"""


def doc_quality_scores(spark, sf):
    d = t(spark, sf, "documents")
    return d.select("lang", TXT.quality_score("text").alias("q")).groupBy("lang").agg(
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(F.min("q"), 6).alias("min_quality"),
        F.round(F.max("q"), 6).alias("max_quality"),
    )


DOCQ_SQL = """
WITH s AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         w -> lower(w) IN ('the', 'a', 'and', 'of', 'to'))) AS n_stop,
         length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), q AS (
  SELECT lang,
         ROUND(LEAST(n_tok / 100.0, 1.0) * 0.5
             + LEAST((CASE WHEN n_tok > 0 THEN n_stop * 1.0 / n_tok ELSE 0 END) * 5.0, 1.0) * 0.3
             + (1.0 - LEAST((CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0 END) * 10.0, 1.0)) * 0.2,
           6) AS q
  FROM s
)
SELECT lang, ROUND(AVG(q), 6) AS avg_quality, ROUND(MIN(q), 6) AS min_quality,
       ROUND(MAX(q), 6) AS max_quality
FROM q GROUP BY lang
"""


def lang_id_docs(spark, sf):
    d = t(spark, sf, "documents")
    return d.select(TXT.lang_id_heuristic("text").alias("predicted")).groupBy("predicted").agg(
        F.count("*").alias("n_docs")
    )


LANGID_SQL = """
WITH s AS (
  SELECT len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         w -> lower(w) IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
         / len(regexp_split_to_array(trim(text), '\\s+')) AS ratio
  FROM documents
)
SELECT CASE WHEN ratio >= 0.10 THEN 'en_high'
            WHEN ratio >= 0.04 THEN 'en_like'
            ELSE 'unknown' END AS predicted,
       COUNT(*) AS n_docs
FROM s GROUP BY 1
"""


def doc_fingerprints(spark, sf):
    d = t(spark, sf, "documents")
    return d.select("doc_id", TXT.rolling_fingerprint("text").alias("fp"))


FP_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def dedup_exact_docs(spark, sf):
    return DD.exact_dedup(t(spark, sf, "documents"))


DEDUP_EXACT_SQL = """
WITH h AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies FROM h GROUP BY fp
"""


def regex_filter_docs(spark, sf):
    """P5 regex predicates."""
    d = t(spark, sf, "documents")
    return d.where(F.col("text").rlike(r"spark\s+\w+\s+join")).groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )


REGEX_SQL = """
SELECT lang, COUNT(*) AS n_docs FROM documents
WHERE regexp_matches(text, 'spark\\s+\\w+\\s+join')
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Training-data ops: dedup + similarity
# ---------------------------------------------------------------------------

def ngram_jaccard_docs(spark, sf):
    """Exact word-3-gram Jaccard pairs (blocked by lang)."""
    pairs = DD.ngram_jaccard_pairs(
        t(spark, sf, "documents"), block_col="lang", shingle_n=3, min_jaccard=0.03
    )
    return pairs.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard")
    )


NGRAM_SQL = """
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS shingles
  FROM (SELECT doc_id, lang,
               regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM documents)
), ex AS (
  SELECT doc_id, lang, len(shingles) AS n, unnest(shingles) AS s FROM sh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*) AS n_common,
       MIN(a.n) AS n_a, MIN(b.n) AS n_b,
       ROUND(COUNT(*) * 1.0 / (MIN(a.n) + MIN(b.n) - COUNT(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) * 1.0 / (MIN(a.n) + MIN(b.n) - COUNT(*)) >= 0.03
"""


def decontamination_pairs(spark, sf):
    """Cross-corpus decontamination: the documents table split into a
    small 'eval' slice (doc_id % 25 == 0) and the training remainder;
    report (test, train) pairs by 3-gram CONTAINMENT — the asymmetric
    overlap/|test| metric decontamination sweeps use. The generator's
    planted duplicate docs surface as containment-1.0 leaks."""
    d = t(spark, sf, "documents")
    test = d.where(F.col("doc_id") % 25 == 0)
    train = d.where(F.col("doc_id") % 25 != 0)
    return CU.contamination_pairs(
        train, test, shingle_n=3, min_containment=0.1
    )


DECONTAM_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS shingles
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM documents)
), ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
), te AS (
  SELECT * FROM ex WHERE doc_id % 25 = 0
), tr AS (
  SELECT * FROM ex WHERE doc_id % 25 <> 0
), common AS (
  SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
         COUNT(*) AS n_common, MIN(te.n) AS n_test
  FROM te JOIN tr ON tr.s = te.s
  GROUP BY 1, 2
)
SELECT test_id, train_id, n_common, n_test,
       ROUND(n_common * 1.0 / n_test, 6) AS containment
FROM common
WHERE ROUND(n_common * 1.0 / n_test, 6) >= 0.1
"""


def hash_sample_docs(spark, sf):
    """Deterministic keyed 25% sample of the corpus — membership is a
    pure function of (seed, doc_id) via the cross-engine md5_48 hash:
    stable across runs/partitionings and nested across rates (the 10%
    sample at this seed is a subset of this one)."""
    d = t(spark, sf, "documents")
    return CU.hash_sample(d, 0.25, key_col="doc_id", hash_fn="md5_48").select(
        "doc_id", "source", "lang", "n_chars"
    )


HASH_SAMPLE_SQL = """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE ('0x' || substr(md5(7 || ':' || doc_id), 1, 12))::BIGINT % 1000000 < 250000
"""


def quota_sample_docs(spark, sf):
    """Per-source quota cap: at most 3 documents per source, chosen by
    deterministic keyed-hash order — the anti-domination guard a corpus
    mixture applies per crawl domain."""
    d = t(spark, sf, "documents")
    return CU.quota_sample(
        d, group_col="source", n_per_group=3, key_col="doc_id", hash_fn="md5_48"
    ).select("source", "doc_id", "n_chars")


QUOTA_SAMPLE_SQL = """
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(7 || ':' || doc_id), 1, 12))::BIGINT, doc_id
         ) AS rk
  FROM documents
)
SELECT source, doc_id, n_chars FROM r WHERE rk <= 3
"""


def mixture_sample_docs(spark, sf):
    """Weighted mixture sampling: per-source keep rates (the corpus
    mixture knob — 100% of src0, 50% of src1, 25% of src2, 10% of
    src3, drop the rest), membership via the cross-engine md5_48
    keyed hash. Broadcast weights dim + stateless filter."""
    d = t(spark, sf, "documents")
    return CU.weighted_mixture_sample(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        group_col="source", key_col="doc_id", hash_fn="md5_48",
    ).select("source", "doc_id", "lang", "n_chars")


MIXTURE_SAMPLE_SQL = """
SELECT source, doc_id, lang, n_chars
FROM documents
WHERE ('0x' || substr(md5(7 || ':' || doc_id), 1, 12))::BIGINT % 1000000 <
      CASE source
        WHEN 'src0' THEN 1000000
        WHEN 'src1' THEN 500000
        WHEN 'src2' THEN 250000
        WHEN 'src3' THEN 100000
        ELSE 0
      END
"""


def pack_sequences_docs(spark, sf):
    """GPT-style concat-and-chunk packing plan: documents laid
    end-to-end per source shard in doc_id order and cut into 256-token
    bins — (bin_id, bin_offset, n_bins) is the mapping a training
    loader uses to materialize packed sequences without moving text.
    One per-shard cumulative sum, exact integer division."""
    d = t(spark, sf, "documents").select(
        "doc_id", "source", TXT.token_count("text").cast("long").alias("n_tokens")
    )
    return CU.pack_documents(d, 256, "n_tokens", shard_col="source").select(
        "source", "doc_id", "n_tokens", "bin_id", "bin_offset", "n_bins"
    )


PACK_SQL = """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  -- window SUM returns HUGEINT; cast back so every output is BIGINT
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
  FROM d
)
SELECT source, doc_id, n_tokens,
       st // 256 AS bin_id,
       st % 256 AS bin_offset,
       ((st + n_tokens + 255) // 256) - (st // 256) AS n_bins
FROM s
"""


def corpus_dedup_pipeline(spark, sf):
    """The composed training-data cleaning flow a corpus pipeline runs
    before tokenization: exact dedup (keep the lowest doc_id per
    normalized-content group) THEN near-dup removal among the exact
    keepers (minhash-LSH candidates at jaccard_est >= 0.7; the higher id
    of each candidate pair drops — deterministic without a
    connected-components pass). Returns the surviving documents with
    their provenance columns."""
    docs = t(spark, sf, "documents")
    keepers = DD.exact_dedup(docs).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    kept_docs = docs.join(keepers, "doc_id")
    near = DD.minhash_lsh_candidates(
        kept_docs, n_hashes=64, bands=16, min_jaccard_est=0.7, hash_fn="md5_48"
    )
    dropped = near.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        kept_docs.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def _corpus_dedup_sql() -> str:
    # exact keepers, then the generated banded-minhash SQL embedded as a
    # subquery with its document source swapped to the keeper set; every
    # near-dup pair's id_b drops
    near = _minhash_sql(min_est=0.7).replace("FROM documents", "FROM kept")
    return f"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
), keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f
), kept AS (
  SELECT d.* FROM documents d JOIN keepers k USING (doc_id)
)
SELECT k.doc_id, k.lang, k.source, k.n_chars
FROM kept k
WHERE k.doc_id NOT IN (SELECT id_b FROM ({near}) nd)
"""


def corpus_curation_pipeline(spark, sf):
    """The FULL corpus-curation flow end-to-end — what a pretraining
    data pipeline runs between raw crawl and tokenizer, composed from
    the engine's curation operators with one oracle over the whole
    chain:

      exact dedup -> minhash-LSH near-dup removal -> eval-slice
      decontamination (drop train docs leaking eval 3-grams at
      containment >= 0.5) -> weighted mixture sampling (src0-3 kept
      whole, everything else at 30%) -> concat-and-chunk packing into
      128-token bins per source shard.

    Returns the packed layout (source, doc_id, n_tokens, bin_id,
    bin_offset, n_bins) for the surviving documents."""
    docs = t(spark, sf, "documents")
    keepers = DD.exact_dedup(docs).select(F.col("keeper_doc_id").alias("doc_id"))
    kept_docs = docs.join(keepers, "doc_id")
    near = DD.minhash_lsh_candidates(
        kept_docs, n_hashes=64, bands=16, min_jaccard_est=0.7, hash_fn="md5_48"
    )
    dropped = near.select(F.col("id_b").alias("doc_id")).distinct()
    cleaned = kept_docs.join(dropped, "doc_id", "left_anti")

    train = cleaned.where(F.col("doc_id") % 25 != 0)
    eval_slice = docs.where(F.col("doc_id") % 25 == 0)
    leaks = (
        CU.contamination_pairs(train, eval_slice, shingle_n=3, min_containment=0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    decontaminated = train.join(leaks, "doc_id", "left_anti")

    mixed = CU.weighted_mixture_sample(
        decontaminated,
        {f"src{i}": 1.0 for i in range(4)},
        group_col="source", key_col="doc_id", hash_fn="md5_48",
        default_weight=0.3,
    )
    tok = mixed.select(
        "doc_id", "source", TXT.token_count("text").cast("long").alias("n_tokens")
    )
    return CU.pack_documents(tok, 128, "n_tokens", shard_col="source").select(
        "source", "doc_id", "n_tokens", "bin_id", "bin_offset", "n_bins"
    )


def _corpus_curation_sql() -> str:
    near = _minhash_sql(min_est=0.7).replace("FROM documents", "FROM kept")
    shingle = (
        "list_distinct(list_transform("
        "range(1, greatest(len(regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) - 2, 1) + 1), "
        "i -> concat_ws(' ', "
        "regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')[i], "
        "regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')[i+1], "
        "regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')[i+2])))"
    )
    return f"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
), keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f
), kept AS (
  SELECT d.* FROM documents d JOIN keepers k USING (doc_id)
), cleaned AS (
  SELECT k.* FROM kept k
  WHERE k.doc_id NOT IN (SELECT id_b FROM ({near}) nd)
), train AS (
  SELECT * FROM cleaned WHERE doc_id % 25 <> 0
), testset AS (
  SELECT * FROM documents WHERE doc_id % 25 = 0
), ex_tr AS (
  SELECT doc_id, unnest({shingle}) AS s FROM train
), sh_te AS (
  SELECT doc_id, {shingle} AS shingles FROM testset
), ex_te AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh_te
), leaks AS (
  SELECT DISTINCT tr.doc_id
  FROM ex_te te JOIN ex_tr tr ON tr.s = te.s
  GROUP BY te.doc_id, tr.doc_id, te.n
  HAVING ROUND(COUNT(*) * 1.0 / te.n, 6) >= 0.5
), decon AS (
  SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM leaks)
), mixed AS (
  SELECT * FROM decon
  WHERE ('0x' || substr(md5(7 || ':' || doc_id), 1, 12))::BIGINT % 1000000 <
        CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             THEN 1000000 ELSE 300000 END
), tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM mixed
), st AS (
  -- window SUM returns HUGEINT; cast back so every output is BIGINT
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s0
  FROM tok
)
SELECT source, doc_id, n_tokens,
       s0 // 128 AS bin_id,
       s0 % 128 AS bin_offset,
       ((s0 + n_tokens + 127) // 128) - (s0 // 128) AS n_bins
FROM st
"""


def minhash_lsh_docs(spark, sf):
    """MinHash+LSH near-dup candidates, md5_48-hashed so the full
    shingle->signature->band->bucket-join pipeline is DuckDB-verifiable
    bit-for-bit (the operator defaults to xxhash64 for production)."""
    pairs = DD.minhash_lsh_candidates(
        t(spark, sf, "documents"), n_hashes=64, bands=16, min_jaccard_est=0.2,
        hash_fn="md5_48",
    )
    return pairs.select("id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est"))


def _minhash_sql(n_hashes: int = 64, bands: int = 16, min_est: float = 0.2) -> str:
    rows = n_hashes // bands
    h48 = lambda e: f"('0x' || substr(md5({e}), 1, 12))::BIGINT"  # noqa: E731
    from maritime_activity_reports_cdc_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    # affine Carter-Wegman permutations over Z_(2^31-1) of the mod-P-reduced
    # base hash — same constants the Spark operator uses
    # (dedup.MINHASH_A/B/P), pure BIGINT arithmetic, exact in 64-bit
    mins = ",\n         ".join(
        f"min(({MINHASH_A(i)} * h + {MINHASH_B(i)}) % {MINHASH_P}) AS m{i}"
        for i in range(n_hashes)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_idx, {bh} AS band_hash FROM mins".format(
            b=b,
            bh=h48(" || ',' || ".join(f"m{b * rows + i}" for i in range(rows))),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN ma.m{i} = mb.m{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(w) - 1),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
  FROM words WHERE len(w) >= 3
), hs AS (
  SELECT doc_id, ({h48('s')}) % {MINHASH_P} AS h FROM sh
), mins AS (
  SELECT doc_id, {mins}
  FROM hs GROUP BY doc_id
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(({matches}) / {float(n_hashes)}, 6) AS jaccard_est
FROM cand c
JOIN mins ma ON ma.doc_id = c.id_a
JOIN mins mb ON mb.doc_id = c.id_b
WHERE ({matches}) / {float(n_hashes)} >= {min_est}
"""


MINHASH_SQL = _minhash_sql()


def simhash_docs(spark, sf):
    """48-bit SimHash fingerprints + blocking prefix, md5_48-hashed for
    bit-for-bit DuckDB verification."""
    return DD.simhash(t(spark, sf, "documents"), bits=48, hash_fn="md5_48")


def _simhash_sql(bits: int = 48) -> str:
    h48 = "('0x' || substr(md5(tok), 1, 12))::BIGINT"
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    # parenthesize every term: DuckDB gives '+' higher precedence than '<<'
    sim = " + ".join(
        f"((CASE WHEN v{b} > 0 THEN 1 ELSE 0 END)::BIGINT << {b})" for b in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, {h48} AS h FROM toks
), votes AS (
  SELECT doc_id, {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, ({sim}) AS simhash,
       ({sim}) >> {bits - 16} AS sim_prefix16
FROM votes
"""


SIMHASH_SQL = _simhash_sql()


def ann_cosine_topk(spark, sf):
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.brute_force_topk(emb, queries, k=5)


ANN_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings e WHERE e.vec_id <> q.qid
),
r AS (SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
      FROM sims)
SELECT qid, nid, CAST(rk AS BIGINT) AS rk, ROUND(sim, 4) AS sim FROM r WHERE rk <= 5
"""


def ann_lsh_topk(spark, sf):
    """LSH-bucketed approximate neighbors, md5_48-signed hyperplanes so
    bucket assignment (and therefore the exact result set) is
    DuckDB-reproducible; recall vs brute force is asserted in pytest."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.lsh_topk(emb, queries, k=5, n_planes=8, hash_fn="md5_48")


def _ann_lsh_sql(n_planes: int = 8, seed: int = 7, k: int = 5) -> str:
    sign = lambda p: (  # noqa: E731
        f"CASE WHEN ('0x' || substr(md5({seed} || ':' || {p} || ':' || d), 1, 12))::BIGINT"
        f" % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    dots = ",\n         ".join(
        f"SUM(x * {sign(p)}) AS dot{p}" for p in range(n_planes)
    )
    sig = " + ".join(
        f"((CASE WHEN dot{p} > 0 THEN 1 ELSE 0 END)::BIGINT << {n_planes - 1 - p})"
        for p in range(n_planes)
    )
    return f"""
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), ex AS (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS x FROM elems
), dots AS (
  SELECT vec_id, {dots}
  FROM ex GROUP BY vec_id
), sigs AS (
  SELECT vec_id, ({sig}) AS sig FROM dots
), v AS (
  SELECT s.vec_id, s.sig, e.e FROM sigs s JOIN elems e USING (vec_id)
), q AS (
  SELECT vec_id AS qid, sig, e AS qe FROM v WHERE vec_id < 10
), cand AS (
  SELECT q.qid, v.vec_id AS nid, list_cosine_similarity(q.qe, v.e) AS sim
  FROM q JOIN v ON v.sig = q.sig AND v.vec_id <> q.qid
), r AS (
  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM cand
)
SELECT qid, nid, CAST(rk AS BIGINT) AS rk, ROUND(sim, 4) AS sim FROM r WHERE rk <= {k}
"""


ANN_LSH_SQL = _ann_lsh_sql()


def ann_banded_topk(spark, sf):
    """OR-amplified (banded) LSH neighbors — the recall-tunable variant:
    a vector is a candidate when ANY of the 6 short hyperplane
    signatures matches the query's. md5_48-signed planes keep bucket
    assignment (and so the exact result set) DuckDB-reproducible; the
    recall>=0.9 property is asserted in pytest."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.banded_lsh_topk(
        emb, queries, k=5, bands=6, rows_per_band=3, hash_fn="md5_48"
    )


def _ann_banded_sql(bands: int = 6, rows_per_band: int = 3, seed: int = 7, k: int = 5) -> str:
    n_planes = bands * rows_per_band
    sign = lambda p: (  # noqa: E731
        f"CASE WHEN ('0x' || substr(md5({seed} || ':' || {p} || ':' || d), 1, 12))::BIGINT"
        f" % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    dots = ",\n         ".join(
        f"SUM(x * {sign(p)}) AS dot{p}" for p in range(n_planes)
    )
    band_exprs = []
    for b in range(bands):
        bits = " + ".join(
            f"((CASE WHEN dot{b * rows_per_band + d} > 0 THEN 1 ELSE 0 END)::BIGINT"
            f" << {rows_per_band - 1 - d})"
            for d in range(rows_per_band)
        )
        band_exprs.append(f"({bits}) AS b{b}")
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band_idx, b{b} AS band_sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), ex AS (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS x FROM elems
), dots AS (
  SELECT vec_id, {dots}
  FROM ex GROUP BY vec_id
), sigs AS (
  SELECT vec_id, {', '.join(band_exprs)} FROM dots
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS nid
  FROM banded q JOIN banded v
    ON v.band_idx = q.band_idx AND v.band_sig = q.band_sig AND v.vec_id <> q.vec_id
  WHERE q.vec_id < 10
), scored AS (
  SELECT c.qid, c.nid, list_cosine_similarity(eq.e, ev.e) AS sim
  FROM cand c JOIN elems eq ON eq.vec_id = c.qid JOIN elems ev ON ev.vec_id = c.nid
), r AS (
  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM scored
)
SELECT qid, nid, CAST(rk AS BIGINT) AS rk, ROUND(sim, 4) AS sim FROM r WHERE rk <= {k}
"""


ANN_BANDED_SQL = _ann_banded_sql()


def embedding_neardup_docs(spark, sf):
    """Embedding-cosine near-duplicate pairs (semantic dedup): banded
    hyperplane candidates (md5_48-signed, DuckDB-reproducible) filtered
    at the cosine threshold. Completes the dedup family: exact, n-gram
    jaccard, minhash, simhash, and now embedding-space."""
    emb = t(spark, sf, "embeddings")
    return SIM.embedding_neardup_pairs(
        emb, min_cosine=0.4, bands=8, rows_per_band=3, hash_fn="md5_48"
    )


def _emb_neardup_sql(bands: int = 8, rows_per_band: int = 3, seed: int = 7,
                     min_cosine: float = 0.4) -> str:
    n_planes = bands * rows_per_band
    sign = lambda p: (  # noqa: E731
        f"CASE WHEN ('0x' || substr(md5({seed} || ':' || {p} || ':' || d), 1, 12))::BIGINT"
        f" % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    dots = ",\n         ".join(
        f"SUM(x * {sign(p)}) AS dot{p}" for p in range(n_planes)
    )
    band_exprs = []
    for b in range(bands):
        bits = " + ".join(
            f"((CASE WHEN dot{b * rows_per_band + d} > 0 THEN 1 ELSE 0 END)::BIGINT"
            f" << {rows_per_band - 1 - d})"
            for d in range(rows_per_band)
        )
        band_exprs.append(f"({bits}) AS b{b}")
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band_idx, b{b} AS band_sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), ex AS (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS x FROM elems
), dots AS (
  SELECT vec_id, {dots}
  FROM ex GROUP BY vec_id
), sigs AS (
  SELECT vec_id, {', '.join(band_exprs)} FROM dots
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON b.band_idx = a.band_idx AND b.band_sig = a.band_sig AND a.vec_id < b.vec_id
), scored AS (
  SELECT c.id_a, c.id_b, list_cosine_similarity(ea.e, eb.e) AS cosine
  FROM cand c JOIN elems ea ON ea.vec_id = c.id_a JOIN elems eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, ROUND(cosine, 4) AS cosine FROM scored WHERE cosine >= {min_cosine}
"""


EMB_NEARDUP_SQL = _emb_neardup_sql()


def ann_ivf_topk(spark, sf):
    """IVF (cell-probe) approximate neighbors: vectors partition by
    nearest deterministic seed centroid, queries probe their 4 closest
    of 16 cells. The quantizer is pure column algebra, so the whole
    pipeline — centroid choice, cell assignment, probe, exact scoring —
    reproduces in DuckDB."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4)


ANN_IVF_SQL = """
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), b AS (
  SELECT MIN(vec_id) AS lo, MAX(vec_id) - MIN(vec_id) + 1 AS span FROM elems
), cent_ids AS (
  SELECT ((vec_id - (SELECT lo FROM b)) * 16) // (SELECT span FROM b) AS cell,
         MIN(vec_id) AS cid
  FROM elems GROUP BY 1
), cent AS (
  SELECT ci.cell, e.e AS cvec FROM cent_ids ci JOIN elems e ON e.vec_id = ci.cid
), vassign AS (
  SELECT vec_id, cell FROM (
    SELECT el.vec_id, c.cell,
           row_number() OVER (PARTITION BY el.vec_id
             ORDER BY list_cosine_similarity(el.e, c.cvec) DESC, c.cell) AS crk
    FROM elems el CROSS JOIN cent c
  ) WHERE crk = 1
), qassign AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT el.vec_id, c.cell,
           row_number() OVER (PARTITION BY el.vec_id
             ORDER BY list_cosine_similarity(el.e, c.cvec) DESC, c.cell) AS crk
    FROM elems el CROSS JOIN cent c
    WHERE el.vec_id < 10
  ) WHERE crk <= 4
), cand AS (
  SELECT q.qid, v.vec_id AS nid
  FROM qassign q JOIN vassign v ON v.cell = q.cell AND v.vec_id <> q.qid
), scored AS (
  SELECT c.qid, c.nid, list_cosine_similarity(eq.e, ev.e) AS sim
  FROM cand c JOIN elems eq ON eq.vec_id = c.qid JOIN elems ev ON ev.vec_id = c.nid
), r AS (
  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM scored
)
SELECT qid, nid, CAST(rk AS BIGINT) AS rk, ROUND(sim, 4) AS sim FROM r WHERE rk <= 5
"""


def knn_classify_embeddings(spark, sf):
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.knn_classify(emb, queries, k=10)


KNN_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT q.qid, e.vec_id AS nid, e.label,
         list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings e WHERE e.vec_id <> q.qid
),
r AS (SELECT qid, nid, label, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
      FROM sims),
votes AS (SELECT qid, label, COUNT(*) AS c FROM r WHERE rk <= 10 GROUP BY qid, label),
best AS (SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS b
         FROM votes)
SELECT qid, label AS predicted_label FROM best WHERE b = 1
"""


def knn_classify_ann(spark, sf):
    """ANN-backed kNN classification: neighbors come from the banded-LSH
    candidate set with exact rescoring (the corpus-scale path — the
    brute-force classifier is O(Q x N)); majority vote over the top-k.
    md5_48-signed planes keep the candidate set — and so the exact
    predictions — DuckDB-reproducible."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.knn_classify(
        emb, queries, k=10, method="banded", bands=6, rows_per_band=3,
        hash_fn="md5_48",
    )


def _knn_ann_sql(bands: int = 6, rows_per_band: int = 3, seed: int = 7, k: int = 10) -> str:
    n_planes = bands * rows_per_band
    sign = lambda p: (  # noqa: E731
        f"CASE WHEN ('0x' || substr(md5({seed} || ':' || {p} || ':' || d), 1, 12))::BIGINT"
        f" % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    dots = ",\n         ".join(
        f"SUM(x * {sign(p)}) AS dot{p}" for p in range(n_planes)
    )
    band_exprs = []
    for b in range(bands):
        bits = " + ".join(
            f"((CASE WHEN dot{b * rows_per_band + d} > 0 THEN 1 ELSE 0 END)::BIGINT"
            f" << {rows_per_band - 1 - d})"
            for d in range(rows_per_band)
        )
        band_exprs.append(f"({bits}) AS b{b}")
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band_idx, b{b} AS band_sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
), ex AS (
  SELECT vec_id, generate_subscripts(e, 1) - 1 AS d, unnest(e) AS x FROM elems
), dots AS (
  SELECT vec_id, {dots}
  FROM ex GROUP BY vec_id
), sigs AS (
  SELECT vec_id, {', '.join(band_exprs)} FROM dots
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS nid
  FROM banded q JOIN banded v
    ON v.band_idx = q.band_idx AND v.band_sig = q.band_sig AND v.vec_id <> q.vec_id
  WHERE q.vec_id < 10
), scored AS (
  SELECT c.qid, c.nid, ev.label, list_cosine_similarity(eq.e, ev.e) AS sim
  FROM cand c JOIN elems eq ON eq.vec_id = c.qid JOIN elems ev ON ev.vec_id = c.nid
), r AS (
  SELECT qid, nid, label, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM scored
), votes AS (
  SELECT qid, label, COUNT(*) AS c FROM r WHERE rk <= {k} GROUP BY qid, label
), best AS (
  SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS b
  FROM votes
)
SELECT qid, label AS predicted_label FROM best WHERE b = 1
"""


KNN_ANN_SQL = _knn_ann_sql()


def knn_classify_ivf(spark, sf):
    """IVF-backed kNN classification: neighbors come from the cell-probe
    index (``ivf_topk`` — 4 of 16 cells per query) with exact rescoring,
    majority vote over the top-10. The deterministic strip-min quantizer
    is pure column algebra, so centroid choice, cell assignment, probe
    and vote all reproduce in DuckDB."""
    emb = t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return SIM.knn_classify(
        emb, queries, k=10, method="ivf", n_lists=16, n_probe=4
    )


KNN_IVF_SQL = """
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
), b AS (
  SELECT MIN(vec_id) AS lo, MAX(vec_id) - MIN(vec_id) + 1 AS span FROM elems
), cent_ids AS (
  SELECT ((vec_id - (SELECT lo FROM b)) * 16) // (SELECT span FROM b) AS cell,
         MIN(vec_id) AS cid
  FROM elems GROUP BY 1
), cent AS (
  SELECT ci.cell, e.e AS cvec FROM cent_ids ci JOIN elems e ON e.vec_id = ci.cid
), vassign AS (
  SELECT vec_id, cell FROM (
    SELECT el.vec_id, c.cell,
           row_number() OVER (PARTITION BY el.vec_id
             ORDER BY list_cosine_similarity(el.e, c.cvec) DESC, c.cell) AS crk
    FROM elems el CROSS JOIN cent c
  ) WHERE crk = 1
), qassign AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT el.vec_id, c.cell,
           row_number() OVER (PARTITION BY el.vec_id
             ORDER BY list_cosine_similarity(el.e, c.cvec) DESC, c.cell) AS crk
    FROM elems el CROSS JOIN cent c
    WHERE el.vec_id < 10
  ) WHERE crk <= 4
), cand AS (
  SELECT q.qid, v.vec_id AS nid
  FROM qassign q JOIN vassign v ON v.cell = q.cell AND v.vec_id <> q.qid
), scored AS (
  SELECT c.qid, c.nid, ev.label, list_cosine_similarity(eq.e, ev.e) AS sim
  FROM cand c JOIN elems eq ON eq.vec_id = c.qid JOIN elems ev ON ev.vec_id = c.nid
), r AS (
  SELECT qid, nid, label, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM scored
), votes AS (
  SELECT qid, label, COUNT(*) AS c FROM r WHERE rk <= 10 GROUP BY qid, label
), best AS (
  SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS b
  FROM votes
)
SELECT qid, label AS predicted_label FROM best WHERE b = 1
"""


def left_join_null_handling(spark, sf):
    """J5/J7 + null-handling family: left join to a filtered dimension,
    coalesce the misses (reference left-join enrichment,
    gold/cdf_processor.py:253-315)."""
    o = t(spark, sf, "orders")
    big_cust = (
        t(spark, sf, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_mktsegment")
    )
    joined = o.join(F.broadcast(big_cust), o.o_custkey == big_cust.c_custkey, "left")
    return joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNMATCHED")).alias("segment")
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


LEFT_JOIN_SQL = """
SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000) c
  ON o_custkey = c_custkey
GROUP BY 1
"""


def top_docs_per_source(spark, sf):
    """Top-k per group (W6/O2) over documents by length."""
    d = t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("source", "doc_id", "n_chars", "rk")
    )


TOP_DOCS_SQL = """
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
"""


def chunk_docs(spark, sf):
    """RAG-style sliding-window chunking of the documents corpus:
    32-token windows advancing by 24 (8-token overlap) — exact integer
    layout, one row per chunk with its text."""
    return CU.chunk_documents(
        t(spark, sf, "documents"), chunk_tokens=32, overlap_tokens=8
    )


CHUNK_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), n AS (
  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t
), c AS (
  SELECT doc_id, w, n,
         unnest(range(0, greatest((n - 8 + 23) // 24, 1))) AS chunk_idx
  FROM n
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 24 AS BIGINT) AS chunk_start,
       CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens,
       array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
FROM c
"""


def neardup_cluster_docs(spark, sf):
    """Transitive near-dup clustering: minhash-LSH candidate pairs
    folded into connected components (iterative min-label propagation),
    minimum doc id per cluster elected canonical. The oracle twin is a
    recursive CTE computing the exact same min-reachable-id closure —
    an iterative Spark loop verified against set-semantics SQL."""
    docs = t(spark, sf, "documents")
    pairs = DD.minhash_lsh_candidates(
        docs, n_hashes=64, bands=16, min_jaccard_est=0.2, hash_fn="md5_48"
    ).persist()
    try:
        return GR.neardup_clusters(docs, pairs)
    finally:
        # the component labels are localCheckpoint'ed inside
        # connected_components, so the returned plan no longer reads pairs
        pairs.unpersist()


def _neardup_cluster_sql() -> str:
    return f"""
WITH RECURSIVE cand AS (
  {_minhash_sql()}
), edges AS (
  SELECT id_a AS s, id_b AS d FROM cand
  UNION
  SELECT id_b AS s, id_a AS d FROM cand
), reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
), comp AS (
  SELECT node AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
), sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


def kmeans_embeddings_q(spark, sf):
    """Spherical k-means semantic clustering (SemDeDup-style): strip-
    quantizer seeds, one mean-update round, final max-cosine assignment.
    The oracle unrolls the identical two iterations with explicit
    per-dimension averages."""
    return SIM.kmeans_embeddings(t(spark, sf, "embeddings"), k=8, n_iter=2)


def _kmeans_sql(k: int = 8, dim: int = 64) -> str:
    avgs = ", ".join(f"round(avg(e.e[{i + 1}]), 6)" for i in range(dim))
    assign = (
        "SELECT el.vec_id, c.cell, list_cosine_similarity(el.e, c.cvec) AS sim, "
        "row_number() OVER (PARTITION BY el.vec_id "
        "ORDER BY list_cosine_similarity(el.e, c.cvec) DESC, c.cell) AS crk "
        "FROM elems el CROSS JOIN {cent} c"
    )
    return f"""
WITH elems AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), b AS (
  SELECT MIN(vec_id) AS lo, MAX(vec_id) - MIN(vec_id) + 1 AS span FROM elems
), cent_ids AS (
  SELECT ((vec_id - (SELECT lo FROM b)) * {k}) // (SELECT span FROM b) AS cell,
         MIN(vec_id) AS cid
  FROM elems GROUP BY 1
), c0 AS (
  SELECT ci.cell, list_transform(e.e, x -> round(x, 6)) AS cvec
  FROM cent_ids ci JOIN elems e ON e.vec_id = ci.cid
), a0 AS (
  SELECT vec_id, cell FROM ({assign.format(cent='c0')}) WHERE crk = 1
), c1 AS (
  SELECT a.cell, list_value({avgs}) AS cvec
  FROM a0 a JOIN elems e USING (vec_id) GROUP BY a.cell
)
SELECT vec_id, CAST(cell AS BIGINT) AS cluster, ROUND(sim, 4) AS sim
FROM ({assign.format(cent='c1')}) WHERE crk = 1
"""


def cluster_balanced_sample_q(spark, sf):
    """Cluster-balanced diversity selection: spherical k-means over the
    embeddings, then an at-most-N-per-cluster quota by deterministic
    keyed hash — the 'semantic stratified sampling' used to keep corpus
    mixtures from collapsing onto dense regions of embedding space.
    Composes two already-verified operators under one end-to-end oracle."""
    emb = t(spark, sf, "embeddings")
    clusters = SIM.kmeans_embeddings(emb, k=8, n_iter=2).select("vec_id", "cluster")
    return CU.quota_sample(
        clusters, group_col="cluster", n_per_group=30, key_col="vec_id",
        seed=7, hash_fn="md5_48",
    )


def _cluster_balanced_sql() -> str:
    return f"""
WITH km AS (
  {_kmeans_sql()}
), r AS (
  SELECT vec_id, cluster,
         row_number() OVER (
           PARTITION BY cluster
           ORDER BY ('0x' || substr(md5(7 || ':' || vec_id), 1, 12))::BIGINT, vec_id
         ) AS rk
  FROM km
)
SELECT vec_id, cluster FROM r WHERE rk <= 30
"""


def scrub_pii_docs(spark, sf):
    """PII redaction with audit counts. The corpus is synthetic and
    clean, so deterministic PII (email + phone + IP derived from
    doc_id) is injected identically on both engines first — the scrub
    chain itself (ordered regexp_count + regexp_replace) then runs on
    text that genuinely contains matches."""
    docs = t(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return CU.scrub_pii(injected)


def _scrub_pii_sql() -> str:
    aug = (
        "SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or +1 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.2.' || CAST(doc_id % 200 AS VARCHAR) || '.7' AS text"
        " FROM documents"
    )
    ctes = [f"s0 AS ({aug})"]
    carried: list[str] = []
    for i, (name, pat, token) in enumerate(CU.PII_PATTERNS):
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, {', '.join(carried) + ', ' if carried else ''}"
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace(text, '{pat}', '{token}', 'g') AS text FROM s{i})"
        )
        carried.append(f"n_{name}")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {', '.join(carried)}, text FROM s{len(CU.PII_PATTERNS)}"
    )


def repetition_filter_docs(spark, sf):
    """Gopher-style repetition quality stats: duplicate-word fraction
    (shuffle-free array algebra) + most-frequent-bigram fraction
    (explode + partial-agg groupBy) with keep thresholds on the
    rounded, externally-reproducible values."""
    return CU.repetition_stats(t(spark, sf, "documents"))


REPETITION_SQL = """
WITH words AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         ROUND(CASE WHEN len(w) > 0
               THEN (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE)
               ELSE 0.0 END, 6) AS dup_word_frac,
         w
  FROM words
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
  FROM base
), counts AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
), agg AS (
  SELECT doc_id, MAX(c) AS top, SUM(c) AS total FROM counts GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.dup_word_frac,
       ROUND(COALESCE(a.top / CAST(a.total AS DOUBLE), 0.0), 6) AS top_bigram_frac,
       (b.dup_word_frac <= 0.6
        AND ROUND(COALESCE(a.top / CAST(a.total AS DOUBLE), 0.0), 6) <= 0.18) AS keep
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# retrieval: BM25 keyword search + hybrid sparse/dense fusion
# ---------------------------------------------------------------------------

# fixed query set (terms drawn from the synthetic corpus vocabulary so
# document frequencies differ per term and the ranking is non-trivial)
RETRIEVAL_QUERIES = [
    (0, "fast merge join order"),
    (1, "customer window scan"),
    (2, "slow batch stream value"),
]


def _retrieval_queries_df(spark):
    return spark.createDataFrame(
        RETRIEVAL_QUERIES, "query_id bigint, qtext string"
    )


def bm25_topk_docs(spark, sf):
    """Okapi BM25 keyword top-10 per query over the documents corpus:
    postings + doc-length stats from one corpus pass, query terms
    broadcast, per-term weights summed as exact 7-dp decimals so the
    ranking is bit-stable across engines."""
    return RT.bm25_topk(
        t(spark, sf, "documents"), _retrieval_queries_df(spark), k=10
    )


def _bm25_ctes(k: int) -> str:
    """Shared DuckDB CTE block computing BM25 top-``k`` as ``sparse``.

    Arithmetic written in the exact operation order / typing of the
    Spark plan: every division is double (DuckDB promotes), the one
    non-binary-exact constant (k1+1 = 2.2) is cast to DOUBLE so DuckDB
    does not multiply it as an exact decimal, and per-term weights are
    rounded to 7 dp and summed as DECIMAL(20,7) on both engines."""
    vals = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in RETRIEVAL_QUERIES)
    k1, b = RT.BM25_K1, RT.BM25_B
    return f"""
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents
), tt AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tt GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
), q(query_id, qtext) AS (VALUES {vals}),
qt AS (
  SELECT DISTINCT query_id, t FROM (
    SELECT CAST(query_id AS BIGINT) AS query_id,
           unnest(string_split(lower(regexp_replace(trim(qtext), '\\s+', ' ', 'g')), ' ')) AS t
    FROM q)
), dfreq AS (
  SELECT tt.t, CAST(COUNT(*) AS BIGINT) AS dfreq
  FROM tt WHERE tt.t IN (SELECT t FROM qt) GROUP BY 1
), contrib AS (
  SELECT qt.query_id, tt.doc_id,
         CAST(ROUND(
           ln(1.0 + (stats.n_docs - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
           * (tt.tf * CAST({k1 + 1.0!r} AS DOUBLE))
           / (tt.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl / stats.avgdl)),
           {RT.BM25_SCALE}) AS DECIMAL(20,{RT.BM25_SCALE})) AS w
  FROM qt
  JOIN tt ON tt.t = qt.t
  JOIN dfreq ON dfreq.t = qt.t
  JOIN dl ON dl.doc_id = tt.doc_id
  CROSS JOIN stats
), scores AS (
  SELECT query_id, doc_id, CAST(SUM(w) AS DOUBLE) AS score
  FROM contrib GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
  FROM scores
), sparse AS (
  SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk, score
  FROM ranked WHERE rk <= {k}
)"""


BM25_SQL = f"WITH {_bm25_ctes(10)}\nSELECT query_id, doc_id, rk, score FROM sparse"


def hybrid_rrf_docs(spark, sf):
    """Hybrid retrieval, the standard RAG pattern: BM25 keyword top-20
    (documents.text) and dense cosine top-20 (the document's embedding,
    doc_id = vec_id) fused by reciprocal rank fusion into a final
    top-10 per query — rank-only fusion, so the two scorers never need
    score calibration. Query vectors are the embeddings of the query
    ids themselves (a stand-in for an encoded user query)."""
    docs = t(spark, sf, "documents")
    emb = t(spark, sf, "embeddings")
    sparse = RT.bm25_topk(docs, _retrieval_queries_df(spark), k=20).select(
        "query_id", "doc_id", "rk"
    )
    qvec = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    dense = SIM.brute_force_topk(emb, qvec, k=20).select(
        F.col("qid").alias("query_id"), F.col("nid").alias("doc_id"), "rk"
    )
    return RT.rrf_fuse(sparse, dense, k=10)


HYBRID_RRF_SQL = f"""
WITH {_bm25_ctes(20)},
qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
dsims AS (
  SELECT qv.qid, e.vec_id AS nid,
         list_cosine_similarity(CAST(qv.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
  FROM qv, embeddings e WHERE e.vec_id <> qv.qid
), dr AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM dsims
), dense AS (
  SELECT CAST(qid AS BIGINT) AS query_id, nid AS doc_id, CAST(rk AS BIGINT) AS rk
  FROM dr WHERE rk <= 20
), fused AS (
  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
         COALESCE(s.doc_id, d.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / (60 + s.rk), 0.0)
               + COALESCE(1.0 / (60 + d.rk), 0.0), 6) AS rrf
  FROM sparse s FULL OUTER JOIN dense d
    ON d.query_id = s.query_id AND d.doc_id = s.doc_id
), fr AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
  FROM fused
)
SELECT query_id, doc_id, rrf, CAST(rk AS BIGINT) AS rk FROM fr WHERE rk <= 10
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# LM-based corpus scoring + curation extensions (round 4 continuation)
# ---------------------------------------------------------------------------

_TOKS_CTE = (
    "SELECT doc_id AS _id, UNNEST(regexp_split_to_array("
    "lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS _t "
    "FROM documents"
)


def unigram_nll_docs(spark, sf):
    """CCNet-style quality scoring: per-document negative log likelihood
    under a Laplace-smoothed unigram LM estimated from the corpus
    itself. Per-token costs rounded to 7 dp and summed as DECIMAL so
    the score is order-independent and engine-reproducible."""
    d = t(spark, sf, "documents")
    return LM.unigram_nll_scores(d)


UNIGRAM_NLL_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
tt AS (SELECT _id, _t, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT _t, SUM(tf)::BIGINT AS _c FROM tt GROUP BY 1),
stats AS (SELECT SUM(_c)::BIGINT AS _T, COUNT(*)::BIGINT AS _V FROM vocab),
costed AS (
  SELECT tt._id, tt.tf,
         CAST(ROUND(-ln((vocab._c + 1) / CAST(stats._T + stats._V AS DOUBLE))
                    * 10000000.0) AS BIGINT) AS _cost
  FROM tt JOIN vocab USING (_t) CROSS JOIN stats
)
SELECT _id AS doc_id, SUM(tf)::BIGINT AS n_tokens,
       CAST(SUM(tf * _cost) AS DOUBLE)
         / (CAST(SUM(tf) AS DOUBLE) * 10000000.0) AS nll_per_token
FROM costed GROUP BY 1
"""


def dsir_importance_docs(spark, sf):
    """DSIR (Xie et al. 2023) hashed-n-gram importance weights: score
    every document of the raw corpus by how much more likely its
    hashed token buckets are under the target distribution (sources
    src0-src2 as the stand-in 'high-quality' slice) than under the raw
    one. The data-selection rule pretraining mixtures use to pull
    target-like slices out of a crawl."""
    d = t(spark, sf, "documents")
    target = d.where(F.col("source").isin("src0", "src1", "src2"))
    return LM.importance_weights(d, target, n_buckets=512, hash_fn="md5_48")


DSIR_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
tt AS (SELECT _id, _t, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
tb AS (
  SELECT ('0x' || substr(md5(_t), 1, 12))::BIGINT % 512 AS bucket, SUM(tf)::BIGINT AS cnt
  FROM tt WHERE _id IN (SELECT doc_id FROM documents WHERE source IN ('src0','src1','src2'))
  GROUP BY 1
),
rb AS (
  SELECT ('0x' || substr(md5(_t), 1, 12))::BIGINT % 512 AS bucket, SUM(tf)::BIGINT AS cnt
  FROM tt GROUP BY 1
),
ts AS (SELECT SUM(cnt)::BIGINT AS _Tt FROM tb),
rs AS (SELECT SUM(cnt)::BIGINT AS _Tr FROM rb),
bt AS (
  SELECT _id, tf, ('0x' || substr(md5(_t), 1, 12))::BIGINT % 512 AS bucket FROM tt
),
pb AS (
  SELECT bt._id, bt.tf,
         CAST(ROUND(ln(((COALESCE(tb.cnt, 0) + 1) / CAST(ts._Tt + 512 AS DOUBLE))
                       / ((COALESCE(rb.cnt, 0) + 1) / CAST(rs._Tr + 512 AS DOUBLE)))
                    * 10000000.0) AS BIGINT) AS _lr
  FROM bt
  LEFT JOIN tb USING (bucket)
  LEFT JOIN rb USING (bucket)
  CROSS JOIN ts CROSS JOIN rs
)
SELECT _id AS doc_id, SUM(tf)::BIGINT AS n_tokens,
       CAST(SUM(tf * _lr) AS DOUBLE) / 10000000.0 AS log_ratio
FROM pb GROUP BY 1
"""


# Exactly 16 tokens, so the injected span aligns on one segment.
_BOILER = ("subscribe now for updates and follow the channel to receive "
           "the latest posts every single day")


def segment_dedup_docs(spark, sf):
    """C4-style duplicate-span removal over a corpus with deterministic
    boilerplate injected on every 7th document (the clean synthetic
    corpus has no natural repeated spans): the shared 16-token span
    survives only in the lowest doc_id; every other injected document
    loses exactly that segment and is reassembled without it. Returns
    the reassembled-text fingerprint plus kept/total segment counts."""
    d = t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(_BOILER + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = CU.segment_dedup(injected, seg_words=16)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_fp"),
        "n_segs_kept",
        "n_segs_total",
    )


SEGMENT_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '{_BOILER} ' || text ELSE text END AS text
  FROM documents
),
words AS (
  SELECT doc_id AS _id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS _w
  FROM base
),
idx AS (
  SELECT _id, _w, UNNEST(range(0, (len(_w) + 15) // 16)) AS _seg_idx
  FROM words WHERE len(_w) > 0
),
segs AS (
  SELECT _id, _seg_idx,
         array_to_string(list_slice(_w, _seg_idx * 16 + 1, _seg_idx * 16 + 16), ' ') AS _seg
  FROM idx
),
kept AS (
  SELECT _id, _seg_idx, _seg,
         row_number() OVER (PARTITION BY md5(_seg) ORDER BY _id, _seg_idx) AS _rn
  FROM segs
),
rebuilt AS (
  SELECT _id, string_agg(_seg, ' ' ORDER BY _seg_idx) AS clean_text,
         COUNT(*)::BIGINT AS n_segs_kept
  FROM kept WHERE _rn = 1 GROUP BY _id
),
totals AS (SELECT _id, COUNT(*)::BIGINT AS n_segs_total FROM segs GROUP BY _id)
SELECT r._id AS doc_id, md5(r.clean_text) AS clean_fp, n_segs_kept, n_segs_total
FROM rebuilt r JOIN totals t USING (_id)
"""


_BADWORDS = ["slow", "merge", "spam"]


def badword_filter_docs(spark, sf):
    """C4-style blocklist filter: fraction of tokens on a (broadcast)
    word blocklist plus the keep decision at a 5% threshold — a
    conditional count so the distribution is auditable, not a bare
    filter."""
    d = t(spark, sf, "documents")
    return CU.badword_stats(d, _BADWORDS, max_bad_frac=0.05)


BADWORD_SQL = f"""
WITH toks AS ({_TOKS_CTE}),
bw AS (SELECT UNNEST(['slow', 'merge', 'spam']) AS _t),
agg AS (
  SELECT toks._id AS doc_id, COUNT(*)::BIGINT AS n_tokens,
         SUM(CASE WHEN bw._t IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_bad
  FROM toks LEFT JOIN bw USING (_t)
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_bad,
       CAST((2000000 * n_bad + n_tokens) // (2 * n_tokens) AS DOUBLE)
         / 1000000.0 AS bad_frac,
       CAST((2000000 * n_bad + n_tokens) // (2 * n_tokens) AS DOUBLE)
         / 1000000.0 <= 0.05 AS keep
FROM agg
"""


def temperature_mixture_weights(spark, sf):
    """Temperature-scaled mixture weights per source (alpha = 0.3, the
    mBERT/XLM-R sampling rule): weight proportional to count^alpha,
    normalized by an exact DECIMAL sum so every weight reproduces
    digit-for-digit."""
    d = t(spark, sf, "documents")
    return CU.temperature_weights(d, alpha=0.3, group_col="source")


TEMPERATURE_SQL = """
WITH c AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
p AS (SELECT source, n_docs,
             CAST(ROUND(POWER(n_docs, 0.3), 7) AS DECIMAL(20,7)) AS _p
      FROM c),
s AS (SELECT SUM(_p) AS _denom FROM p)
SELECT source, n_docs,
       ROUND(CAST(_p AS DOUBLE) / CAST(_denom AS DOUBLE), 6) AS weight
FROM p CROSS JOIN s
"""


QUERIES: dict[str, QuerySpec] = {
    "q1_lineitem_rollup": QuerySpec(q1_lineitem_rollup, Q1_SQL, "TPC-H Q1-shape rollup (A4)"),
    "cdc_apply_latest": QuerySpec(cdc_apply_latest, CDC_APPLY_SQL, "flagship CDC last-write-wins apply"),
    "scd2_user_profile": QuerySpec(scd2_user_profile, SCD2_SQL, "SCD2 version chains (M1/M3)"),
    "dim_join_enrichment": QuerySpec(dim_join_enrichment, DIM_JOIN_SQL, "broadcast dim joins (J1/J5)"),
    "latest_event_per_user": QuerySpec(latest_event_per_user, LATEST_SQL, "argmax via row_number (W4/J3)"),
    "user_session_lag": QuerySpec(user_session_lag, LAG_SQL, "lag arithmetic (W1/W2)"),
    "session_segmentation": QuerySpec(
        session_segmentation, SESSION_SQL, "gap-based sessionization + per-session aggs"
    ),
    "transition_detection": QuerySpec(transition_detection, TRANSITION_SQL, "change-point flags (W3)"),
    "rank_topk_customers": QuerySpec(rank_topk_customers, RANK_SQL, "rank + top-k (W6)"),
    "journey_sequencing": QuerySpec(journey_sequencing, JOURNEY_SQL, "lag rewrite of seq self-join (J4)"),
    "conditional_ingest_stats": QuerySpec(conditional_ingest_stats, STATS_SQL, "conditional counts (A3)"),
    "daily_activity_rollup": QuerySpec(daily_activity_rollup, DAILY_SQL, "daily rollup (A4)"),
    "event_type_performance": QuerySpec(event_type_performance, PERF_SQL, "grouped perf metrics + median (A5/A8)"),
    "tumbling_window_counts": QuerySpec(
        tumbling_window_counts, TUMBLING_SQL, "1h tumbling event-time windows (T3/T4 batch twin)"
    ),
    "sliding_window_activity": QuerySpec(
        sliding_window_activity, SLIDING_SQL, "2h/1h hopping event-time windows"
    ),
    "user_compliance_profile": QuerySpec(user_compliance_profile, COMPLIANCE_SQL, "compliance agg + risk CASE (A6)"),
    "quality_score_tiers": QuerySpec(quality_score_tiers, QUALITY_TIERS_SQL, "tiered quality scoring (P6/A2)"),
    "anomaly_flags": QuerySpec(anomaly_flags, ANOMALY_SQL, "anomaly flag counts (P7)"),
    "scalar_pipeline_orders": QuerySpec(scalar_pipeline_orders, SCALAR_SQL, "scalar function families (2.9)"),
    "rollup_order_priorities": QuerySpec(
        rollup_order_priorities, ROLLUP_SQL, "ROLLUP grouping sets + grouping() markers"
    ),
    "pivot_event_values": QuerySpec(
        pivot_event_values, PIVOT_SQL, "fixed-list pivot (single-pass conditional aggs)"
    ),
    "distribution_window_stats": QuerySpec(
        distribution_window_stats, DIST_WINDOW_SQL, "percent_rank/cume_dist/ntile windows"
    ),
    "array_functions_embeddings": QuerySpec(
        array_functions_embeddings, ARRAY_HOF_SQL, "higher-order array fns (transform/filter/aggregate)"
    ),
    "set_ops_cohorts": QuerySpec(set_ops_cohorts, SETOPS_SQL, "union/distinct cohorts (D1-D3)"),
    "left_join_null_handling": QuerySpec(left_join_null_handling, LEFT_JOIN_SQL, "left join + coalesce (J5/J7)"),
    "top_docs_per_source": QuerySpec(top_docs_per_source, TOP_DOCS_SQL, "top-k per group (W6/O2)"),
    "token_count_docs": QuerySpec(token_count_docs, TOKEN_SQL, "token counting"),
    "doc_quality_scores": QuerySpec(doc_quality_scores, DOCQ_SQL, "doc quality scoring"),
    "lang_id_docs": QuerySpec(lang_id_docs, LANGID_SQL, "language-ID heuristic"),
    "doc_fingerprints": QuerySpec(doc_fingerprints, FP_SQL, "doc fingerprinting"),
    "dedup_exact_docs": QuerySpec(dedup_exact_docs, DEDUP_EXACT_SQL, "exact dedup"),
    "regex_filter_docs": QuerySpec(regex_filter_docs, REGEX_SQL, "regex predicate filter (P5)"),
    "ngram_jaccard_docs": QuerySpec(ngram_jaccard_docs, NGRAM_SQL, "exact n-gram jaccard pairs"),
    "minhash_lsh_docs": QuerySpec(minhash_lsh_docs, MINHASH_SQL, "MinHash+LSH near-dup candidates"),
    "simhash_docs": QuerySpec(simhash_docs, SIMHASH_SQL, "SimHash fingerprints"),
    "ann_cosine_topk": QuerySpec(ann_cosine_topk, ANN_SQL, "brute-force cosine top-k"),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, ANN_LSH_SQL, "LSH-bucketed approximate top-k"),
    "ann_banded_topk": QuerySpec(
        ann_banded_topk, ANN_BANDED_SQL, "banded (OR-amplified) LSH approximate top-k"
    ),
    "ann_ivf_topk": QuerySpec(
        ann_ivf_topk, ANN_IVF_SQL, "IVF cell-probe approximate top-k"
    ),
    "embedding_neardup_docs": QuerySpec(
        embedding_neardup_docs, EMB_NEARDUP_SQL, "embedding-cosine near-dup pairs"
    ),
    "corpus_dedup_pipeline": QuerySpec(
        corpus_dedup_pipeline, _corpus_dedup_sql(),
        "composed cleaning flow: exact dedup then near-dup removal"
    ),
    "knn_classify_embeddings": QuerySpec(knn_classify_embeddings, KNN_SQL, "kNN majority-label classify"),
    "knn_classify_ann": QuerySpec(
        knn_classify_ann, KNN_ANN_SQL,
        "ANN-backed kNN classify (banded candidates + exact rescoring)"
    ),
    "knn_classify_ivf": QuerySpec(
        knn_classify_ivf, KNN_IVF_SQL,
        "IVF-backed kNN classify (cell-probe candidates + exact rescoring)"
    ),
    "decontamination_pairs": QuerySpec(
        decontamination_pairs, DECONTAM_SQL,
        "cross-corpus n-gram containment (train/eval decontamination)"
    ),
    "hash_sample_docs": QuerySpec(
        hash_sample_docs, HASH_SAMPLE_SQL,
        "deterministic keyed hash sample (reproducible downsampling)"
    ),
    "quota_sample_docs": QuerySpec(
        quota_sample_docs, QUOTA_SAMPLE_SQL,
        "per-source quota sample (domain anti-domination cap)"
    ),
    "mixture_sample_docs": QuerySpec(
        mixture_sample_docs, MIXTURE_SAMPLE_SQL,
        "weighted per-source mixture sampling (keyed hash rates)"
    ),
    "pack_sequences_docs": QuerySpec(
        pack_sequences_docs, PACK_SQL,
        "concat-and-chunk sequence packing plan (per-shard cumsum)"
    ),
    "corpus_curation_pipeline": QuerySpec(
        corpus_curation_pipeline, _corpus_curation_sql(),
        "full curation chain: dedup -> decontaminate -> mixture -> pack"
    ),
    "bpe_token_count_docs": QuerySpec(
        bpe_token_count_docs, BPE_TOKEN_SQL,
        "BPE-ish pre-tokenizer piece counts + chars-per-piece fertility"
    ),
    "kmeans_embeddings": QuerySpec(
        kmeans_embeddings_q, _kmeans_sql(),
        "spherical k-means semantic clustering (2 unrolled iterations)"
    ),
    "cluster_balanced_sample": QuerySpec(
        cluster_balanced_sample_q, _cluster_balanced_sql(),
        "k-means clusters + per-cluster quota (semantic stratified sample)"
    ),
    "scrub_pii_docs": QuerySpec(
        scrub_pii_docs, _scrub_pii_sql(),
        "PII redaction with per-pattern audit counts"
    ),
    "repetition_filter_docs": QuerySpec(
        repetition_filter_docs, REPETITION_SQL,
        "Gopher-style repetition quality stats + keep flag"
    ),
    "neardup_cluster_docs": QuerySpec(
        neardup_cluster_docs, _neardup_cluster_sql(),
        "transitive near-dup clusters (connected components vs recursive CTE)"
    ),
    "chunk_docs": QuerySpec(
        chunk_docs, CHUNK_SQL,
        "RAG sliding-window chunking (32-token windows, 8 overlap)"
    ),
    "bm25_topk_docs": QuerySpec(
        bm25_topk_docs, BM25_SQL, "Okapi BM25 keyword top-k search"
    ),
    "hybrid_rrf_docs": QuerySpec(
        hybrid_rrf_docs, HYBRID_RRF_SQL,
        "hybrid BM25 + dense-cosine retrieval fused by RRF"
    ),
    "unigram_nll_docs": QuerySpec(
        unigram_nll_docs, UNIGRAM_NLL_SQL,
        "CCNet-style unigram-LM NLL quality scores (exact decimal sums)"
    ),
    "dsir_importance_docs": QuerySpec(
        dsir_importance_docs, DSIR_SQL,
        "DSIR hashed-n-gram importance weights (target vs raw buckets)"
    ),
    "segment_dedup_docs": QuerySpec(
        segment_dedup_docs, SEGMENT_DEDUP_SQL,
        "C4-style duplicate-span removal + document reassembly"
    ),
    "badword_filter_docs": QuerySpec(
        badword_filter_docs, BADWORD_SQL,
        "blocklist token fraction + keep flag (C4 badwords filter)"
    ),
    "temperature_mixture_weights": QuerySpec(
        temperature_mixture_weights, TEMPERATURE_SQL,
        "temperature-scaled (count^alpha) mixture weights per source"
    ),
}
