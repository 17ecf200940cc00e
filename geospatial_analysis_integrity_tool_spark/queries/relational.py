"""Relational coverage queries (joins / aggregations / windows) over the driver
test tables.  These exercise the engine's Catalyst-planned side: broadcast
joins, partial aggregation, window functions — the machinery every check
pipeline stage reuses.

Cross-engine determinism rules used throughout (see functions/geodesy.py
docstring for the rationale):
* money sums as BIGINT cents via CAST(floor(x * 100.0 + 0.5) AS BIGINT)
  (explicit floor because Spark's double->bigint cast truncates while DuckDB's
  rounds);
* timestamps via date_trunc / unix_millis-epoch_ms (exact integers);
* no LIMIT/top-k in oracle-gated output (tie-breaking is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_CENTS = "CAST(floor({x} * 100.0 + 0.5) AS BIGINT)"


def _cents(x: str) -> F.Column:
    return F.expr(_CENTS.format(x=x))


# --- q1: pricing summary (TPC-H Q1 shape: scan + filter + partial agg) --------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-01 00:00:00'")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        F.sum(F.expr("CAST(floor(l_quantity) AS BIGINT)")).alias("sum_qty"),
        F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
        F.sum(_cents("l_extendedprice * (1.0 - l_discount)")).alias("sum_disc_cents"),
    )


ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM({_CENTS.format(x='l_extendedprice')}) AS BIGINT) AS sum_base_cents,
       CAST(SUM({_CENTS.format(x='l_extendedprice * (1.0 - l_discount)')}) AS BIGINT) AS sum_disc_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- q3: shipping priority (3-way join + agg) ---------------------------------
def q_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "HOUSEHOLD")
    orders = spark.table("orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'")
    )
    li = spark.table("lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_cents("l_extendedprice * (1.0 - l_discount)")).alias("revenue_cents"))
    )


ORACLE_Q3 = f"""
SELECT o_orderkey, o_orderdate,
       CAST(SUM({_CENTS.format(x='l_extendedprice * (1.0 - l_discount)')}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'HOUSEHOLD'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
"""


# --- q5: revenue by region/nation (star join, broadcast dims) -----------------
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = spark.table("region")
    nation = spark.table("nation")
    cust = spark.table("customer")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_cents("l_extendedprice * (1.0 - l_discount)")).alias("revenue_cents"),
        )
    )


ORACLE_Q5 = f"""
SELECT r_name, n_name,
       COUNT(*) AS n_items,
       CAST(SUM({_CENTS.format(x='l_extendedprice * (1.0 - l_discount)')}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- events_hourly: time-bucketed aggregation ---------------------------------
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(_cents("value")).alias("value_cents"),
    )


ORACLE_EVENTS_HOURLY = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_CENTS.format(x='value')}) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
"""


# --- events_sessionize: gap-based session counting (window functions) ---------
SESSION_GAP_MS = 30 * 60 * 1000


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet timestamps arrive as TIMESTAMP_NTZ; with session tz=UTC the cast
    # to LTZ interprets the wall clock as UTC — matching DuckDB's epoch_ms
    ev = spark.table("events").withColumn(
        "ts_ms", F.expr("unix_millis(CAST(ts AS TIMESTAMP_LTZ))")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_ms") - F.lag("ts_ms").over(w) > F.lit(SESSION_GAP_MS), 1
        ).otherwise(F.when(F.lag("ts_ms").over(w).isNull(), 1).otherwise(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


ORACLE_EVENTS_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                   (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                   > {SESSION_GAP_MS}
              THEN 1
              WHEN lag(epoch_ms(ts)) OVER
                   (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


# --- events_funnel: ordered view -> click -> purchase progression ---------------
#
# The clickstream funnel: a user reaches stage 1 at their first 'view',
# stage 2 at the first 'click' STRICTLY AFTER that view, stage 3 at the
# first 'purchase' strictly after that click.  Three conditional min
# aggregations chained by per-user joins — each stage frame is one row per
# user, so the joins are user-keyed hash joins on already-reduced inputs
# (the event log itself is touched exactly three times, map-side filtered
# by event type each pass; at 10^12 events the type filter is pushed to the
# scan and each aggregate is map-side combinable).
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.table("events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    users = e.select("user_id").distinct()
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .selectExpr(
            "user_id",
            "CAST(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END"
            " + CASE WHEN t_c IS NOT NULL THEN 1 ELSE 0 END"
            " + CASE WHEN t_p IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)"
            " AS funnel_stage",
        )
    )


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_v FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_c
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_v GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_p
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_c GROUP BY 1
)
SELECT u.user_id,
       CAST(CASE WHEN v.t_v IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN c.t_c IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN p.t_p IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS funnel_stage
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
"""


QUERIES = {
    "q1_pricing_summary": q_pricing_summary,
    "q3_order_revenue": q_order_revenue,
    "q5_region_revenue": q_region_revenue,
    "events_hourly": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "events_funnel": q_events_funnel,
}

ORACLES = {
    "q1_pricing_summary": ORACLE_Q1,
    "q3_order_revenue": ORACLE_Q3,
    "q5_region_revenue": ORACLE_Q5,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "events_sessionize": ORACLE_EVENTS_SESSIONIZE,
    "events_funnel": ORACLE_EVENTS_FUNNEL,
}
