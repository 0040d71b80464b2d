"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 re-expressed
Spark-first on the driver's testdata tables; ``oracle_sql()`` carries the
DuckDB-equivalent ANSI SQL. Aggregates over fixed-decimal data use exact
scaled-bigint sums (esper_tv_spark.functions.aggregates) so values are
bit-identical across engines regardless of accumulation order.

Interval queries model the rekall layer on the `events` table: an event is
the interval [epoch_us(ts), epoch_us(ts) + value seconds) for its user —
integer microseconds, so all interval arithmetic is exact.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esper_tv_spark.functions.aggregates import (
    argmax_per_group,
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
    percentile_rank,
    sum_distinct_over_column,
    weighted_sum_var,
)
from esper_tv_spark.operators import dedup, intervals, similarity, text
from esper_tv_spark.session import ensure_runtime_confs


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Contract queries must run on the driver's BARE SparkSession (no repo
    # builder confs): re-assert runtime confs (nanosAsLong, UTC) per read.
    ensure_runtime_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts normalized to a (microsecond, UTC) TimestampType column.

    Handles every representation the driver's generator has used across
    rounds: TIMESTAMP(NANOS) read as long nanos under
    spark.sql.legacy.parquet.nanosAsLong (`div` keeps the nanos->micros
    conversion exact), TIMESTAMP_NTZ (naive micros — interpreted as UTC
    wall-clock via the pinned session timezone, exactly how DuckDB treats a
    naive parquet timestamp), and TIMESTAMP (already LTZ micros, as-is)."""
    from esper_tv_spark.session import normalize_ts

    return normalize_ts(_t(spark, sf_dir, "events"), "ts")


def _event_intervals(spark: SparkSession, sf_dir: str, event_type: str | None = None) -> DataFrame:
    """events -> (user_id, event_id, start, end) in epoch-micros."""
    ev = _events(spark, sf_dir)
    if event_type is not None:
        ev = ev.where(F.col("event_type") == event_type)
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("start"),
        (F.unix_micros("ts") + F.round(F.col("value") * F.lit(1000000.0)).cast("long")).alias("end"),
    )


_IV_SQL = (
    "SELECT user_id, event_id, epoch_us(ts) AS start, "
    "epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS \"end\" "
    "FROM events{where}"
)


def _iv_sql(event_type: str | None = None) -> str:
    where = f" WHERE event_type = '{event_type}'" if event_type else ""
    return _IV_SQL.format(where=where)


# ==========================================================================
# relational core (SURVEY §2.2-2.8)
# ==========================================================================


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + groupBy agg (sum/avg/count).
    Exercises predicate pushdown into the parquet scan + partial aggs."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 2).alias("sum_qty"),
            exact_sum("l_extendedprice", 2).alias("sum_base_price"),
            exact_sum(disc_price, 4).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            exact_avg("l_quantity", 2).alias("avg_qty"),
            exact_avg("l_extendedprice", 2).alias("avg_price"),
            exact_avg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_quantity', 2)} AS sum_qty,
       {exact_sum_sql('l_extendedprice', 2)} AS sum_base_price,
       {exact_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS sum_disc_price,
       {exact_sum_sql('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)', 6)} AS sum_charge,
       {exact_avg_sql('l_quantity', 2)} AS avg_qty,
       {exact_avg_sql('l_extendedprice', 2)} AS avg_price,
       {exact_avg_sql('l_discount', 2)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + deterministic top-k
    (SURVEY §2.3 equi-join chain, §2.6 top-k)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(exact_sum(revenue, 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q02_SQL = f"""
SELECT o_orderkey, o_orderdate,
       {exact_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star-schema join with broadcast dims
    (the reference's FK `__`-path traversal, SURVEY §2.3)."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(exact_sum(revenue, 4).alias("revenue"))
    )


Q03_SQL = f"""
SELECT n_name, {exact_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q04_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): orders with any lineitem shipped >60 days
    after the order date, counted per priority (SURVEY §2.3 left-semi)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q04_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


def q05_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no 2000+ orders, per
    segment (reference anti-join: widget.py:324-331)."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


Q05_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
)
GROUP BY c_mktsegment
"""


def q06_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group via row_number window (replaces the reference's
    driver-side dict scan, spark_util.py:741-778)."""
    orders = _t(spark, sf_dir, "orders")
    return argmax_per_group(orders, ["o_custkey"], "o_totalprice", ["o_orderkey"]).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )


Q06_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q07_balance_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percent_rank within nation (replaces the reference's 10k-bucket
    histogram CDF + UDF lookup, spark_util.py:432-464)."""
    cust = _t(spark, sf_dir, "customer")
    return percentile_rank(cust, ["c_nationkey"], "c_acctbal", "balance_pctile").select(
        "c_custkey", "c_nationkey", "balance_pctile"
    )


Q07_SQL = """
SELECT c_custkey, c_nationkey,
       percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS balance_pctile
FROM customer
"""


def q08_weighted_screen_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The esper probability-weighted screen-time model (E = Σ p·x,
    Var = Σ p(1-p)·x², spark_util.py:629-663) with l_discount as the label
    probability and l_quantity as the duration."""
    li = _t(spark, sf_dir, "lineitem")
    return weighted_sum_var(li, ["l_returnflag"], "l_quantity", "l_discount")


Q08_SQL = f"""
SELECT l_returnflag,
       {exact_sum_sql('l_discount * l_quantity', 4)} AS expected_sum,
       {exact_sum_sql('l_discount * (1.0 - l_discount) * l_quantity * l_quantity', 8)} AS variance_sum
FROM lineitem
GROUP BY l_returnflag
"""


def q09_sum_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum over distinct keys (reference sum_distinct_over_column,
    spark_util.py:666-727 — driver-side set there; dropDuplicates+groupBy
    here): total order value per priority counting each order once despite
    lineitem fan-out."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fanout = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return sum_distinct_over_column(
        fanout, ["o_orderkey"], "o_totalprice", ["o_orderpriority"]
    ).withColumnRenamed("sum_o_totalprice", "total_value")


Q09_SQL = f"""
SELECT o_orderpriority, {exact_sum_sql('o_totalprice', 2)} AS total_value
FROM (
  SELECT DISTINCT o_orderkey, o_orderpriority, o_totalprice
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY o_orderpriority
"""


def q10_orders_with_seven_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-count subquery (frames with exactly N faces,
    panels_sql.py:13-18) as groupBy + having."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .where(F.col("n_items") == 7)
    )


Q10_SQL = """
SELECT l_orderkey, count(*) AS n_items
FROM lineitem GROUP BY l_orderkey HAVING count(*) = 7
"""


def q11_orders_by_dateparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + roll-up (reference hour/weekday/month/year
    annotations, spark_util.py:44-58). Spark dayofweek is 1=Sunday; DuckDB
    dayofweek is 0=Sunday — oracle adds 1."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            F.dayofweek("o_orderdate").cast("long").alias("o_dow"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), exact_sum("o_totalprice", 2).alias("total_price"))
    )


Q11_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS o_dow,
       count(*) AS n_orders,
       {exact_sum_sql('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY 1, 2, 3
"""


def q12_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on id sets (reference Python set &/| /-,
    other_queries.py:84-85, 387-392): BUILDING ∩ high-balance, minus
    low-numbered nations."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.where(F.col("c_acctbal") > 1000.0).select("c_custkey")
    c = cust.where(F.col("c_nationkey") < 5).select("c_custkey")
    return a.intersect(b).exceptAll(c)


Q12_SQL = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 1000.0
EXCEPT
SELECT c_custkey FROM customer WHERE c_nationkey < 5
"""


def q13_part_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (SURVEY §2.8): split/lower/upper/contains/
    substring/length over part names."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        words.getItem(0).alias("color"),
        words.getItem(1).alias("item"),
        F.upper(F.col("p_name")).alias("upper_name"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
        F.col("p_name").contains("red").alias("is_red"),
        F.substring(F.col("p_name"), 1, 3).alias("prefix3"),
    )


Q13_SQL = """
SELECT p_partkey,
       string_split(p_name, ' ')[1] AS color,
       string_split(p_name, ' ')[2] AS item,
       upper(p_name) AS upper_name,
       CAST(length(p_name) AS BIGINT) AS name_len,
       contains(p_name, 'red') AS is_red,
       substring(p_name, 1, 3) AS prefix3
FROM part
"""


def q14_math_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family (SURVEY §2.8): floor/ceil/abs/sqrt/round and
    column arithmetic, row-wise (bit-deterministic IEEE chains)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.floor("l_extendedprice").alias("floor_price"),
        F.ceil("l_extendedprice").alias("ceil_price"),
        F.round(F.col("l_extendedprice") * F.col("l_quantity"), 2).alias("gross"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.abs(F.col("l_discount") - F.lit(0.05)).alias("disc_dev"),
    )


Q14_SQL = """
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
       round(l_extendedprice * l_quantity, 2) AS gross,
       l_quantity * l_quantity AS qty_sq,
       sqrt(l_quantity) AS qty_sqrt,
       abs(l_discount - 0.05) AS disc_dev
FROM lineitem WHERE l_orderkey <= 1000
"""


def q15_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in the reference, free in Spark —
    SURVEY §2.4 'grouping sets / cube / rollup')."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), exact_sum("l_extendedprice", 2).alias("sum_price")
    )


Q15_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {exact_sum_sql('l_extendedprice', 2)} AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ==========================================================================
# time windows + interval algebra (SURVEY §2.3 interval joins, §2.11)
# ==========================================================================


def q16_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window over the event stream's batch view (the
    Structured Streaming windowing path shares this exact expression)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value", 2).alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value")
    )


Q16_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
       count(*) AS n_events, {exact_sum_sql('value', 2)} AS total_value
FROM events
GROUP BY 1, 2
"""


def q17_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) per user — the rekall dilate+coalesce
    idiom applied to a stream (SURVEY §2.11), via session_window."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", "n_events")
    )


Q17_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), grp AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM grp GROUP BY user_id, sid
"""


def q18_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rekall coalesce (rekall_query.py:217): merge overlapping /
    within-60s event intervals per user via the sessionize window."""
    iv = _event_intervals(spark, sf_dir)
    out = intervals.coalesce(iv.select("user_id", "start", "end"), ["user_id"], gap=60_000_000)
    return out.select(
        "user_id",
        F.col("start").alias("istart"),
        F.col("end").alias("iend"),
        F.col("n_merged").alias("n_merged"),
    )


Q18_SQL = f"""
WITH iv AS ({_iv_sql()}),
ord AS (
  SELECT user_id, start, "end",
         max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
), grp AS (
  SELECT user_id, start, "end",
         sum(CASE WHEN pmax IS NULL OR start > pmax + 60000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY start, "end" ROWS UNBOUNDED PRECEDING) AS gid
  FROM ord
)
SELECT user_id, min(start) AS istart, max("end") AS iend, count(*) AS n_merged
FROM grp GROUP BY user_id, gid
"""


def q19_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rekall overlaps / interval_overlap_join (spark_util.py:247-269 was a
    driver-side dict loop; here a range join): view × error intervals of the
    same user, with the clipped intersection length."""
    a = _event_intervals(spark, sf_dir, "view")
    b = _event_intervals(spark, sf_dir, "error")
    j = intervals.overlap_join(a, b, ["user_id"], clip=False, band="auto")
    return j.select(
        F.col("a_user_id").alias("user_id"),
        F.col("a_event_id").alias("view_id"),
        F.col("b_event_id").alias("error_id"),
        F.col("overlap_length").alias("overlap_us"),
    )


Q19_SQL = f"""
WITH a AS ({_iv_sql('view')}), b AS ({_iv_sql('error')})
SELECT a.user_id AS user_id, a.event_id AS view_id, b.event_id AS error_id,
       least(a."end", b."end") - greatest(a.start, b.start) AS overlap_us
FROM a JOIN b ON a.user_id = b.user_id AND a.start < b."end" AND a."end" > b.start
"""


def q20_interval_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rekall minus (commercial_detection_rekall.py:199-205): view-time not
    covered by error intervals, per user — fully relational implementation
    (coalesce B + left range-join + gap window + tails)."""
    a = _event_intervals(spark, sf_dir, "view")
    b = _event_intervals(spark, sf_dir, "error").select("user_id", "start", "end")
    out = intervals.minus(a, b, ["user_id"], unique_rows=True)
    return out.select(
        "user_id", "event_id", F.col("start").alias("istart"), F.col("end").alias("iend")
    )


Q20_SQL = f"""
WITH a AS ({_iv_sql('view')}), braw AS ({_iv_sql('error')}),
bord AS (
  SELECT user_id, start, "end",
         max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM braw
), bgrp AS (
  SELECT user_id, start, "end",
         sum(CASE WHEN pmax IS NULL OR start > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY start, "end" ROWS UNBOUNDED PRECEDING) AS gid
  FROM bord
), bc AS (
  SELECT user_id, min(start) AS start, max("end") AS "end" FROM bgrp GROUP BY user_id, gid
), j AS (
  SELECT a.user_id, a.event_id, a.start AS s, a."end" AS e, bc.start AS bs, bc."end" AS be
  FROM a LEFT JOIN bc ON a.user_id = bc.user_id AND bc.start < a."end" AND bc."end" > a.start
), untouched AS (
  SELECT user_id, event_id, s AS istart, e AS iend FROM j WHERE bs IS NULL
), gaps AS (
  SELECT user_id, event_id,
         coalesce(lag(be) OVER (PARTITION BY user_id, event_id ORDER BY bs), s) AS istart,
         bs AS iend
  FROM j WHERE bs IS NOT NULL
), tails AS (
  SELECT user_id, event_id, max(be) AS istart, max(e) AS iend
  FROM j WHERE bs IS NOT NULL GROUP BY user_id, event_id
)
SELECT * FROM untouched
UNION ALL SELECT * FROM gaps WHERE iend > istart
UNION ALL SELECT * FROM tails WHERE iend > istart
"""


def q21_interval_overlap_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """annotate_interval_overlap (spark_util.py:594-622 — broadcast-dict UDF
    there): micros of each purchase interval overlapped by error time.

    Plan choice: the PLAIN keyed range join, not the banded path. The join
    key (user_id) is fine-grained — per-user interval counts are bounded —
    so the shuffle already partitions the work and banding would only add
    a band-stats job plus an explode for zero join-volume reduction (the
    measured 1.0s+ of q21's r3 regression). Banding remains the right plan
    when keys are coarse or absent (q19/q22 exercise it); a hot key here
    is AQE skew-join's job, not banding's."""
    a = _event_intervals(spark, sf_dir, "purchase").select("user_id", "event_id", "start", "end")
    b = _event_intervals(spark, sf_dir, "error").select("user_id", "start", "end")
    out = intervals.overlap_measure(a, b, ["user_id"], band=None, unique_rows=True)
    return out.select("user_id", "event_id", F.col("overlap_total").alias("overlap_us"))


Q21_SQL = f"""
WITH a AS ({_iv_sql('purchase')}), braw AS ({_iv_sql('error')}),
bord AS (
  SELECT user_id, start, "end",
         max("end") OVER (PARTITION BY user_id ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM braw
), bgrp AS (
  SELECT user_id, start, "end",
         sum(CASE WHEN pmax IS NULL OR start > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY start, "end" ROWS UNBOUNDED PRECEDING) AS gid
  FROM bord
), bc AS (
  SELECT user_id, min(start) AS start, max("end") AS "end" FROM bgrp GROUP BY user_id, gid
)
SELECT a.user_id, a.event_id,
       CAST(sum(CASE WHEN bc.start IS NULL THEN 0
                ELSE least(a."end", bc."end") - greatest(a.start, bc.start) END) AS BIGINT) AS overlap_us
FROM a LEFT JOIN bc ON a.user_id = bc.user_id AND bc.start < a."end" AND bc."end" > a.start
GROUP BY a.user_id, a.event_id
"""


def q22_interval_merge_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rekall merge (interview.py:87-93): span view intervals with purchase
    intervals that start within 10 minutes after the view ends."""
    a = _event_intervals(spark, sf_dir, "view").select("user_id", "start", "end")
    b = _event_intervals(spark, sf_dir, "purchase").select("user_id", "start", "end")
    out = intervals.merge_join(
        a, b, ["user_id"], intervals.t_before(600_000_000), band="auto", reach=600_000_000
    )
    return out.select("user_id", F.col("start").alias("istart"), F.col("end").alias("iend"))


Q22_SQL = f"""
WITH a AS ({_iv_sql('view')}), b AS ({_iv_sql('purchase')})
SELECT a.user_id, least(a.start, b.start) AS istart, greatest(a."end", b."end") AS iend
FROM a JOIN b ON a.user_id = b.user_id
WHERE a."end" <= b.start AND b.start - a."end" <= 600000000
"""


# ==========================================================================
# text / captions (SURVEY §2.9) + training-data text analysis
# ==========================================================================


def q23_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption phrase_search (captions.py:93-96): docs containing the exact
    phrase, counting every token position where it starts (overlapping
    occurrences included)."""
    docs = _t(spark, sf_dir, "documents")
    return text.phrase_search(docs, "table hash")


Q23_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'hash')) AS BIGINT) AS n_matches
FROM toks
WHERE len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'hash')) > 0
"""


def q24_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies, deterministic top-20 (reference word_counts,
    transcript_utils.py:56-71)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.word_counts(docs)
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(20)
    )


Q24_SQL = """
SELECT token, count(*) AS tf
FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents)
GROUP BY token ORDER BY tf DESC, token ASC LIMIT 20
"""


def q25_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality metrics: token count, mean token length,
    punctuation ratio, stopword ratio — all single exact divisions."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_metrics(docs)


Q25_SQL = """
WITH t AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
       CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
       CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], lower(x)))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stopword_ratio
FROM t
"""


def q26_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID confusion counts: actual lang × predicted."""
    docs = _t(spark, sf_dir, "documents")
    pred = text.language_id(docs)
    return (
        docs.select("doc_id", "lang")
        .join(pred.select("doc_id", "pred_lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SW = {k: ",".join(f"'{w}'" for w in v) for k, v in text.LANG_STOPWORDS.items()}
Q26_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> list_contains([{_SW['de']}], lower(x)))) AS hits_de,
         len(list_filter(toks, x -> list_contains([{_SW['en']}], lower(x)))) AS hits_en,
         len(list_filter(toks, x -> list_contains([{_SW['es']}], lower(x)))) AS hits_es,
         len(list_filter(toks, x -> list_contains([{_SW['fr']}], lower(x)))) AS hits_fr
  FROM t
), p AS (
  SELECT doc_id, lang,
         CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM h
)
SELECT lang, pred_lang, count(*) AS n_docs FROM p GROUP BY lang, pred_lang
"""


def q27_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup fingerprint: md5 of lower-cased whitespace-normalized
    text (dedup.fingerprint) — the dedup key column."""
    docs = _t(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fp")


Q27_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q28_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs (8 md5 minhashes over
    3-token shingles, 4 bands × 2 rows). Bucket-join candidate generation —
    never an O(n²) cross join."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, n_hashes=8, shingle_n=3, n_bands=4)


_MH_AGGS = ",\n         ".join(f"min(md5('{i}|' || ngram)) AS mh_{i}" for i in range(8))
_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, md5(mh_{2 * j} || '|' || mh_{2 * j + 1}) AS bucket FROM sig"
    for j in range(4)
)
Q28_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
), sig AS (
  SELECT doc_id, {_MH_AGGS}
  FROM sh GROUP BY doc_id
), buckets AS (
  {_BAND_SELECTS}
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM buckets l JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
WHERE l.doc_id < r.doc_id
"""


def q93_minhash_cw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carter-Wegman MinHash + LSH candidate pairs (dedup.
    minhash_from_sets_cw): ONE md5 per shingle split into two 64-bit
    halves, hash function i = (h1 + i*h2) mod 2^64 (Wegman & Carter
    1981).  Same banding (4x2) and bucket-join pair generation; the
    oracle replays the DECIMAL/HUGEINT combine exactly, so a single
    drifted hash value fails the gate.  Honest measurement: in Spark's
    expression engine this runs SLOWER than q28's md5-per-function
    signature (bench: 3.36s vs 1.85s at sf0.1) — md5 is a codegen
    intrinsic while exact mod-2^64 must be simulated in DECIMAL — so
    q28 remains the default; this query proves the universal-hashing
    variant an engine with native 64-bit wrap would prefer (see the
    operator docstring for the full numbers)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, n_hashes=8, shingle_n=3, n_bands=4, cw=True)


_CW_H1 = "CAST(('0x' || substr(md5(ngram), 1, 16))::UBIGINT AS HUGEINT)"
_CW_H2 = "CAST(('0x' || substr(md5(ngram), 17, 16))::UBIGINT AS HUGEINT)"
_CW_AGGS = ",\n         ".join(
    f"CAST(min(({_CW_H1} + {i} * {_CW_H2}) % CAST('18446744073709551616' AS HUGEINT))"
    f" AS VARCHAR) AS mh_{i}"
    for i in range(8)
)
_CW_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, md5(mh_{2 * j} || '|' || mh_{2 * j + 1}) AS bucket FROM sig"
    for j in range(4)
)
Q93_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
), sig AS (
  SELECT doc_id, {_CW_AGGS}
  FROM sh GROUP BY doc_id
), buckets AS (
  {_CW_BAND_SELECTS}
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM buckets l JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
WHERE l.doc_id < r.doc_id
"""


def q29_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over the token multiset — relational
    (explode bit positions), no UDF."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, n_bits=32)


Q29_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, b, CAST(sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
  FROM th, unnest(range(0, 32)) AS t(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q30_source_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats: docs, total tokens, mean chars."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokenize(docs)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tokens").cast("long")).alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias("mean_chars"),
    )


Q30_SQL = """
SELECT source, count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars
FROM documents GROUP BY source
"""


# ==========================================================================
# vectors (SURVEY §2.10) + similarity search
# ==========================================================================


def q31_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 embedding (reference knn,
    face_embeddings.py:74-96). Deterministic cut: (rounded sim desc, id)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.cosine_topk(emb, qv, 10)


Q31_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
FROM embeddings, q
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
"""


def q32_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid embedding (reference mean,
    face_embeddings.py:57-61), exploded to (label, dim, val) rows so the
    output has no array-typed column (the driver's pandas canonicalizer
    cannot sort list cells — round-1 q32 regression)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.mean_embedding(emb, ["label"])
    # + 0.0 collapses IEEE -0.0 to +0.0: at sf100 the sign-flipped copies
    # drive some centroid cells to -1e-9, which rounds to -0.0 — equal to
    # 0.0 numerically but not in the driver's repr-based value hash
    return out.select(
        "label",
        F.posexplode(
            F.transform("centroid", lambda v: F.round(v, 6) + F.lit(0.0))
        ).alias("dim", "val"),
    )


Q32_SQL = """
WITH e AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding)::DOUBLE AS val
  FROM embeddings
)
SELECT label, dim,
       round(CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / CAST(count(val) AS DOUBLE), 6) + 0.0 AS val
FROM e GROUP BY label, dim
"""


def q33_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean L2 norm + count (embedding-store stats)."""
    emb = _t(spark, sf_dir, "embeddings")
    n = similarity.norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.round(F.avg(n), 6).alias("mean_norm"), F.count(F.lit(1)).alias("n_vecs")
    )


Q33_SQL = """
SELECT label,
       round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS mean_norm,
       count(*) AS n_vecs
FROM embeddings GROUP BY label
"""


# ==========================================================================
# composites + additional operator coverage
# ==========================================================================


def _presence_intervals(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    """Half-hour presence windows per event — the interval substrate for the
    interview composite on the events table."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == event_type)
    return ev.select(
        F.col("user_id").alias("video_id"),
        F.unix_micros("ts").alias("start"),
        (F.unix_micros("ts") + F.lit(1_800_000_000)).alias("end"),
    )


_PRESENCE_SQL = (
    "SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e "
    "FROM events WHERE event_type = '{et}'"
)


def _coalesce_cte(src: str, out: str, gap: int) -> str:
    """SQL text for the sessionize-coalesce of (user_id, s, e) rows."""
    return f"""{out}_ord AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM {src}
), {out}_grp AS (
  SELECT user_id, s, e,
         sum(CASE WHEN pmax IS NULL OR s > pmax + {gap} THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS gid
  FROM {out}_ord
), {out} AS (
  SELECT user_id, min(s) AS s, max(e) AS e FROM {out}_grp GROUP BY user_id, gid
)"""


def q34_interview_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship rekall composite (interview_with_person_x.py:41-68) on
    the events substrate: 'view' presence = hosts, 'purchase' presence =
    guest; overlaps -> coalesce -> merge(ovl|before|after) -> union ->
    coalesce -> sessionize(2*dilate) -> filter_length. Every step relational,
    and the whole pipeline hash-checked against a DuckDB oracle."""
    from esper_tv_spark.domain.composites import interview_query

    hosts = _presence_intervals(spark, sf_dir, "view")
    guest = _presence_intervals(spark, sf_dir, "purchase")
    out = interview_query(
        hosts,
        guest,
        epsilon=600_000_000,  # 10 min
        dilate_amount=1_200_000_000,  # 20 min
        min_length=2_700_000_000,  # 45 min
    )
    return out.select(
        F.col("video_id").alias("user_id"),
        F.col("start").alias("istart"),
        F.col("end").alias("iend"),
    )


_EPS = 600_000_000
_IVW_PRED = (
    "(w.s < x.e AND w.e > x.s) "
    f"OR (w.e <= x.s AND x.s - w.e <= {_EPS}) "
    f"OR (x.e <= w.s AND w.s - x.e <= {_EPS})"
)
Q34_SQL = f"""
WITH hosts AS ({_PRESENCE_SQL.format(et='view')}),
guest AS ({_PRESENCE_SQL.format(et='purchase')}),
gwh_raw AS (
  SELECT g.user_id, greatest(g.s, h.s) AS s, least(g.e, h.e) AS e
  FROM guest g JOIN hosts h ON g.user_id = h.user_id AND g.s < h.e AND g.e > h.s
),
{_coalesce_cte('gwh_raw', 'gwh', 0)},
m1 AS (
  SELECT w.user_id, least(w.s, x.s) AS s, greatest(w.e, x.e) AS e
  FROM gwh w JOIN hosts x ON w.user_id = x.user_id AND ({_IVW_PRED})
),
m2 AS (
  SELECT w.user_id, least(w.s, x.s) AS s, greatest(w.e, x.e) AS e
  FROM gwh w JOIN guest x ON w.user_id = x.user_id AND ({_IVW_PRED})
),
mu AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2),
{_coalesce_cte('mu', 'cand', 0)},
{_coalesce_cte('cand', 'sess', 2 * 1_200_000_000)}
SELECT user_id, s AS istart, e AS iend FROM sess WHERE e - s >= 2700000000
"""


def q35_sliding_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed topic segmentation (find_segments, transcript_utils.py:33-42):
    token windows of 10 with >= 3 lexicon hits."""
    docs = _t(spark, sf_dir, "documents")
    out = text.sliding_window_topic(docs, ["spark", "query"], window_size=10, threshold=3)
    return out.select("doc_id", F.col("window_start").cast("long").alias("window_start"), "hits")


Q35_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
), tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token FROM t
), h AS (
  SELECT doc_id, pos, CASE WHEN lower(token) IN ('spark', 'query') THEN 1 ELSE 0 END AS hit FROM tok
)
SELECT doc_id, CAST(pos AS BIGINT) AS window_start,
       CAST(sum(hit) OVER (PARTITION BY doc_id ORDER BY pos
                           RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING) AS BIGINT) AS hits
FROM h QUALIFY hits >= 3
"""


def q36_trigram_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token n-gram frequencies (ngram scan, rekall.py:101-140), top 15."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.ngrams(docs, 3)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("ngram").asc())
        .limit(15)
    )


Q36_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                                       i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
)
SELECT ngram, count(*) AS tf FROM sh GROUP BY ngram ORDER BY tf DESC, ngram ASC LIMIT 15
"""


def q37_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact n-gram Jaccard verification — the full
    near-dup pipeline (candidate generation never leaves bucket joins; the
    shingle table is computed once and shared, dedup.lsh_near_dup).

    Shuffle sizing comes from the input bytes, not the session default:
    the shingle-set shuffle is ~30x the on-disk corpus (decompression x
    set growth), so at sf100 the static 32-partition default means
    3GB+/task and a GC-thrashed host, while the stat-derived count
    (~400MB/task) completes — measured by the 1000x rehearsal. Since
    round 5 the sizing is DEFAULT-ON inside the operators themselves
    (shingle_sets/jaccard_pairs self-advise via plans.partitions.
    advise_for_df on their input's backing files) — no call-site knob
    here, by design: at 100 TB every wide-shuffle query is q37."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_near_dup(docs, n_hashes=8, shingle_n=3, n_bands=4)


Q37_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
), sig AS (
  SELECT doc_id, {_MH_AGGS}
  FROM sh GROUP BY doc_id
), buckets AS (
  {_BAND_SELECTS}
), pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM buckets l JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.ngram = a.ngram
  GROUP BY p.id_a, p.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""


def q38_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch knn: top-5 corpus neighbors for each of three query vectors
    (knn over id set, face_embeddings.py:74-96)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.knn_join(qs, emb, 5)


Q38_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM embeddings e, q
)
SELECT q_id, vec_id, cosine_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q39_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (SURVEY §2.4: free in Spark)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), exact_sum("o_totalprice", 2).alias("total_price")
    )


Q39_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {exact_sum_sql('o_totalprice', 2)} AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q40_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rekall filter_against with before(max_dist) (rekall_query.py:130-140):
    view intervals followed by a purchase within 10 minutes, same user."""
    a = _event_intervals(spark, sf_dir, "view")
    b = _event_intervals(spark, sf_dir, "purchase").select("user_id", "start", "end")
    out = intervals.filter_against(a, b, ["user_id"], intervals.t_before(600_000_000))
    return out.select("user_id", "event_id")


Q40_SQL = f"""
WITH a AS ({_iv_sql('view')}), b AS ({_iv_sql('purchase')})
SELECT a.user_id, a.event_id
FROM a WHERE EXISTS (
  SELECT 1 FROM b WHERE b.user_id = a.user_id
    AND a."end" <= b.start AND b.start - a."end" <= 600000000
)
"""


def q41_split_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval splitting into 60-second chunks (supercut chunking;
    flatMap-style sequence+explode, stays codegen'd)."""
    a = _event_intervals(spark, sf_dir, "error")
    out = intervals.split_intervals(a, 60_000_000)
    return out.select(
        "user_id", "event_id", F.col("start").alias("istart"), F.col("end").alias("iend")
    )


Q41_SQL = f"""
WITH a AS ({_iv_sql('error')})
SELECT user_id, event_id, cs AS istart, least(cs + 60000000, "end") AS iend
FROM (SELECT user_id, event_id, "end", unnest(range(start, "end", 60000000)) AS cs FROM a)
"""


def q42_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type profile (the reference's hour annotation,
    spark_util.py:44-58)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.hour("ts").cast("long").alias("hour_of_day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("user_id").alias("n_users"))


Q42_SQL = """
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q43_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax over time per user (best-label-per-entity pattern,
    SURVEY §2.5)."""
    ev = _events(spark, sf_dir)
    return argmax_per_group(
        ev.select("user_id", "event_id", "ts", "event_type"), ["user_id"], "event_id", []
    ).select("user_id", "event_id", "event_type")


Q43_SQL = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q44_lowercase_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_lowercase_segments (captions.py:147-199): consecutive runs of
    all-lowercase tokens per document, via the sessionize window over token
    positions — emit (doc_id, run_start, run_len) for runs >= 5 tokens."""
    docs = _t(spark, sf_dir, "documents")
    tt = text.token_table(docs)
    lower = tt.where(F.col("token") == F.lower(F.col("token")))
    runs = intervals.coalesce(
        lower.select("doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end")),
        ["doc_id"],
        gap=0,
    )
    return (
        runs.where(F.col("end") - F.col("start") >= 5)
        .select(
            "doc_id",
            F.col("start").cast("long").alias("run_start"),
            (F.col("end") - F.col("start")).cast("long").alias("run_len"),
        )
    )


Q44_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
), tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token FROM t
), low AS (
  SELECT doc_id, pos FROM tok WHERE token = lower(token)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 1
              THEN 1 ELSE 0 END AS new_run
  FROM low
), grp AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start, CAST(count(*) AS BIGINT) AS run_len
FROM grp GROUP BY doc_id, gid HAVING count(*) >= 5
"""


def q45_caption_query_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean caption-query grammar (captions.py:99-103):
    'hash join & [merge | sort]' — all &-clauses must match, brackets are
    OR-groups; compiles to one boolean scan predicate."""
    docs = _t(spark, sf_dir, "documents")
    return text.query_search(docs, "hash join & [merge | sort]")


Q45_SQL = """
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)
SELECT DISTINCT doc_id FROM padded
WHERE contains(p, ' hash join ') AND (contains(p, ' merge ') OR contains(p, ' sort '))
"""


def q49_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column extraction (SURVEY §2.8 array/map/json family): parse the
    events.props JSON, bucket the extracted value, count per event type."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k_bucket", F.floor(k / 10).cast("long"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


Q49_SQL = """
SELECT event_type, CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10) AS BIGINT) AS k_bucket,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q50_auto_join_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS auto-join over the FK graph (scannerutil.py:9-54 join-path
    discovery): lineitem -> region resolved automatically, then a rollup."""
    from esper_tv_spark.sources.catalog import auto_join, load_tables

    cat = load_tables(spark, sf_dir)
    df = auto_join(cat, "lineitem", ["region"])
    return df.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_items"), exact_sum("l_quantity", 2).alias("sum_qty")
    )


Q50_SQL = f"""
SELECT r_name, count(*) AS n_items, {exact_sum_sql('l_quantity', 2)} AS sum_qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _dir_fingerprint(path: str) -> str:
    """Cheap freshness fingerprint of a parquet file/dir: hash of every
    (relpath, size, mtime_ns) — pure os.stat, no data scan, and regenerated
    testdata (same path, new rows) changes it. The lesson of the q79 stale-
    cache defect: never key a disk cache on a path basename alone."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                h.update(f"{os.path.relpath(os.path.join(root, fn), path)}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _evict_stale_siblings(prefix: str, keep: str) -> None:
    """Best-effort cleanup of fingerprint-keyed cache dirs from prior data
    generations: without it, every testdata regeneration leaves a dead
    index/labels copy in the temp dir forever.  `keep` is a PREFIX —
    every sibling of the current data generation survives (several
    configs of one index family share a fingerprint: q100's rank-init
    and q103's trained-groups layouts), only stale generations go."""
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    try:
        for name in os.listdir(tmp):
            full = os.path.join(tmp, name)
            if name.startswith(prefix) and not full.startswith(keep) and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass


def _parquet_num_rows(path: str) -> int:
    """Exact row count from parquet FOOTER metadata only — no Spark job,
    no data scan (the lakehouse equivalent is table-stats/manifest counts).
    Works for a single file or a directory of part files."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, fn)).num_rows
        return total
    return pq.read_metadata(path).num_rows


def _parquet_list_dim(path: str, col: str = "embedding") -> int:
    """Embedding dimensionality from ONE row of one column via pyarrow —
    a driver-side micro-read (single row group page), never a Spark job.
    Parquet footers don't record list lengths, so this is the cheapest
    honest probe; it unpins the dim-64 assumption so scale fixtures can
    carry higher-dim vectors (at dim 64 the cross-pair cosine noise floor
    sigma ~ 1/sqrt(64) = 0.125 makes ANY threshold degenerate at 4e12
    pairs — see tools/make_scale.py)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # recurse the whole tree (partitioned datasets nest part files in
        # key=value subdirs); take the first part file found, determinism
        # via sorted dirs + files
        found = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    found = os.path.join(root, fn)
                    break
            if found:
                break
        if found is None:
            raise FileNotFoundError(f"no .parquet part files under {path}")
        path = found
    pf = pq.ParquetFile(path)
    batch = next(pf.iter_batches(batch_size=1, columns=[col]))
    return len(batch.column(0)[0].as_py())


def q51_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family), SCALE PATH:
    signed-random-projection buckets block the comparison, so candidate
    generation is an equi-join on the bucket key (one shuffle, cost =
    sum(bucket^2)) — never the O(n^2) all-pairs cross product. The exact
    all-pairs variant (n_planes=0) remains the documented audit path for
    sampled corpora; recall of the blocked path is asserted in
    tests/test_similarity.

    Band math: per-plane collision prob for angle t is 1 - t/pi; a band of
    k planes collides with p^k; L bands miss with (1-p^k)^L. At the 0.4
    cosine threshold (t ~ 66deg, p ~ 0.63) 4-plane x 16-band gives ~0.98
    recall. n_planes comes from dedup.recommended_planes applied to the
    parquet FOOTER row count (pyarrow metadata — no Spark job, no scan):
    bucket occupancy stays ~31 so candidate volume is linear in n. A
    pinned plane count measured 50x wall at 10x data in the sf1 rehearsal;
    a runtime emb.count() was the r3 approach and cost a full scan per
    invocation. The oracle derives its plane count from the SAME footer
    formula at oracle-build time (_q51_sql reads the corpus named by
    $SPARK_GRAFT_ORACLE_SF_DIR, defaulting to the driver's sf0.01 gate
    dir), so cross-scale gates set the env var and get a matching oracle
    without hand regeneration.

    Index reuse: the banded projection + norms are persisted once per
    dataset fingerprint (build_srp_index) and probed thereafter — repeat
    invocations skip the dominant n_bands x n_planes projection cost
    entirely. The fingerprint is stat-based (size+mtime), so regenerated
    data rebuilds instead of serving stale buckets."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    n_planes, n_bands, seed = dedup.recommended_planes(_parquet_num_rows(src)), 16, 42
    dim = _parquet_list_dim(src)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(
        tempfile.gettempdir(),
        f"esper_tv_srp_idx_{sf_tag}_{tag}_p{n_planes}b{n_bands}s{seed}",
    )
    if not os.path.exists(os.path.join(idx, "norms", "_SUCCESS")):
        # evict THIS sf's indexes from prior data generations (other sf
        # dirs keep theirs — the prefix is sf-scoped)
        _evict_stale_siblings(f"esper_tv_srp_idx_{sf_tag}_", keep=idx)
        dedup.build_srp_index(
            emb, idx, n_planes=n_planes, seed=seed, n_bands=n_bands, dim=dim
        )
    return dedup.near_dup_pairs_from_index(emb, idx, threshold=0.4)


def _q51_sql(n_planes: int | None = None, n_bands: int = 16, seed: int = 42) -> str:
    """SRP-blocked near-dup in pure SQL: same plane sets (seeds 42..57),
    same bucket bits as the Spark srp_bucket, per-band bucket equi-join,
    distinct candidate pairs, rounded-cosine cut.

    The plane VALUES are seeded-numpy constants no SQL engine can
    regenerate, so the oracle cannot be fully corpus-independent like
    q85's — but the plane COUNT is derived here from the same footer-stat
    formula the Spark query uses (`recommended_planes` over the parquet
    row count of `$SPARK_GRAFT_ORACLE_SF_DIR/embeddings.parquet`, default
    the driver's sf0.01 gate dir). Cross-scale gates point the env var at
    the corpus under test and get a matching oracle with zero hand
    regeneration (the round-4 gap: q51/q85 were the only two queries
    whose oracles pinned corpus-size constants)."""
    from esper_tv_spark.operators.similarity import random_hyperplanes

    explicit = "SPARK_GRAFT_ORACLE_SF_DIR" in os.environ
    src = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    # fall back to the sf0.01 constants ONLY when the env var is unset: a
    # mistyped/stale EXPLICIT dir must raise here (a clear error naming the
    # path), not surface later as an opaque oracle hash mismatch
    try:
        if n_planes is None:
            n_planes = dedup.recommended_planes(_parquet_num_rows(src))
        dim = _parquet_list_dim(src)
    except Exception as e:
        if explicit:
            raise RuntimeError(
                f"SPARK_GRAFT_ORACLE_SF_DIR was set but {src} is unreadable: {e}"
            ) from e
        n_planes = n_planes if n_planes is not None else 4  # the sf0.01 values
        dim = 64

    rows = []
    for band in range(n_bands):
        for i, p in enumerate(random_hyperplanes(dim, n_planes, seed + band)):
            rows.append(f"({band}, {i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH planes(band, i, p) AS (VALUES {values}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT planes.band, e.vec_id,
         sum(CASE WHEN list_dot_product(e.v, planes.p) > 0 THEN (1::BIGINT << planes.i) ELSE 0 END) AS bucket
  FROM e, planes GROUP BY planes.band, e.vec_id
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT cand.id_a, cand.id_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine_sim
FROM cand
JOIN e ea ON ea.vec_id = cand.id_a
JOIN e eb ON eb.vec_id = cand.id_b
WHERE round(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.4
"""


_PREC_XS = [0.0, 0.25, 0.5, 0.75, 1.0]
_PREC_YS = [0.97, 0.9, 0.8, 0.65, 0.5]


def q52_precision_bucket_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-bucket probability model (identity.py:50-162): raw score ->
    np.interp against per-bucket audited precision -> calibrated p -> the
    Bernoulli screen-time aggregate E = sum(p*x), Var = sum(p(1-p)x^2).
    The interp is a codegen CASE chain, not a driver-side numpy pass."""
    from esper_tv_spark.functions.interp import interp_expr

    li = _t(spark, sf_dir, "lineitem")
    score = F.col("l_discount") * F.lit(10.0)
    p = interp_expr(score, _PREC_XS, _PREC_YS)
    x = F.col("l_quantity")
    # round each term at 4 dp before the scaled-bigint sum: p is
    # bit-identical across engines (interp_expr/interp_sql emit the same
    # double arithmetic), so the rounding is too, and the per-row scaled
    # value stays ~1e7 — no overflow headroom issues at any corpus size
    return li.withColumn("p", p).groupBy("l_returnflag").agg(
        exact_sum(F.col("p") * x, 4).alias("expected_sum"),
        exact_sum(F.col("p") * (F.lit(1.0) - F.col("p")) * x * x, 4).alias("variance_sum"),
    )


def _q52_sql() -> str:
    from esper_tv_spark.functions.interp import interp_sql

    p = interp_sql("l_discount * CAST(10.0 AS DOUBLE)", _PREC_XS, _PREC_YS)
    return f"""
WITH t AS (SELECT l_returnflag, l_quantity AS x, {p} AS p FROM lineitem)
SELECT l_returnflag,
       {exact_sum_sql('p * x', 4)} AS expected_sum,
       {exact_sum_sql('p * (1.0 - p) * x * x', 4)} AS variance_sum
FROM t GROUP BY l_returnflag
"""


def q53_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval containment (SURVEY §2.5 'shot containing a frame',
    validation.py:220-222 did a per-row lookup query): clicks joined to the
    containing coalesced 'view' session of the same user — a range join with
    the user as equi-key; coalesced sessions are disjoint so each point has
    at most one container."""
    iv = intervals.coalesce(
        _presence_intervals(spark, sf_dir, "view").select(
            F.col("video_id").alias("user_id"), "start", "end"
        ),
        ["user_id"],
        gap=0,
    )
    pts = _events(spark, sf_dir).where(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("p")
    )
    j = pts.join(
        iv,
        (pts["user_id"] == iv["user_id"]) & (F.col("p") >= F.col("start")) & (F.col("p") < F.col("end")),
        "inner",
    )
    return (
        j.groupBy(pts["user_id"].alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_contained"), F.countDistinct("start").alias("n_sessions_hit"))
    )


def _q53_sql() -> str:
    presence = _PRESENCE_SQL.format(et="view")
    return f"""
WITH pres AS ({presence}),
{_coalesce_cte('pres', 'iv', 0)},
pts AS (SELECT user_id, epoch_us(ts) AS p FROM events WHERE event_type = 'click')
SELECT pts.user_id AS user_id, count(*) AS n_contained, count(DISTINCT iv.s) AS n_sessions_hit
FROM pts JOIN iv ON pts.user_id = iv.user_id AND pts.p >= iv.s AND pts.p < iv.e
GROUP BY pts.user_id
"""


def q54_stride_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride sampling + ordered limit (widget.py:159, 212:
    `id % stride == 0` slicing with a reproducible order before the cut)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(200)
    )


Q54_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 17 = 0
ORDER BY o_orderkey LIMIT 200
"""


def q55_panel_scene_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial scene-graph panel detection (panels_rekall.py:41-57): three
    faces in the same frame aligned in a horizontal row, left-to-right. Faces
    are synthesized deterministically from purchase events on a grid; the
    triple predicate uses the geometry library's same-row test. Relational
    shape: two self-joins on the frame key + ordered-x and same-row
    predicates — never a per-frame Python loop."""
    from esper_tv_spark.functions.geometry import same_row

    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    faces = ev.select(
        F.col("user_id").alias("frame_id"),
        F.col("event_id").alias("face_id"),
        ((F.col("event_id") % 10).cast("double") / 10.0).alias("x1"),
        (((F.col("event_id") / 10).cast("long") % 5).cast("double") / 5.0).alias("y1"),
    ).withColumn("y2", F.col("y1") + F.lit(0.2))
    a, b, c = faces.alias("a"), faces.alias("b"), faces.alias("c")
    j = (
        a.join(
            b,
            (F.col("a.frame_id") == F.col("b.frame_id"))
            & (F.col("a.x1") < F.col("b.x1"))
            & same_row(F.col("a.y1"), F.col("b.y1"), eps=0.05),
        )
        .join(
            c,
            (F.col("b.frame_id") == F.col("c.frame_id"))
            & (F.col("b.x1") < F.col("c.x1"))
            & same_row(F.col("b.y1"), F.col("c.y1"), eps=0.05),
        )
    )
    return j.select(
        F.col("a.frame_id").alias("frame_id"),
        F.col("a.face_id").alias("face_a"),
        F.col("b.face_id").alias("face_b"),
        F.col("c.face_id").alias("face_c"),
    )


Q55_SQL = """
WITH faces AS (
  SELECT user_id AS frame_id, event_id AS face_id,
         CAST(event_id % 10 AS DOUBLE) / 10.0 AS x1,
         CAST((event_id // 10) % 5 AS DOUBLE) / 5.0 AS y1
  FROM events WHERE event_type = 'purchase'
)
SELECT a.frame_id AS frame_id, a.face_id AS face_a, b.face_id AS face_b, c.face_id AS face_c
FROM faces a
JOIN faces b ON a.frame_id = b.frame_id AND a.x1 < b.x1 AND abs(a.y1 - b.y1) < 0.05
JOIN faces c ON b.frame_id = c.frame_id AND b.x1 < c.x1 AND abs(b.y1 - c.y1) < 0.05
"""


def q56_commercial_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commercial-detection rekall composite
    (commercial_detection_rekall.py:108-313) on the events substrate:
    black windows = error intervals, '>>' arrows = click points, announcer
    arrows = signup points, transcript spans = view intervals, video span =
    [first event, last event end] per user. The capped-length stack fold is
    the one applyInPandas stage (order-dependent per key); everything else
    is coalesce / minus / filter_against range joins. Hash-checked against a
    recursive-CTE DuckDB oracle (_q56_sql).

    Plan notes (round 5, all three measured at sf0.1 AND sf1):
    - The five per-event-type pushdown scans are FUSED into one narrow
      projection (video_id, event_type, t) persisted MEMORY_AND_DISK;
      every branch (four typed interval tables + the whole-corpus spans
      agg) filters the in-memory relation instead of re-reading parquet.
      Plain-projection cache is NOT the reverted r3 plan — that was
      repartition(video_id)+cache, which lost its partitioning under AQE
      and bought nothing; here the cache replaces four redundant scans
      (sf1: 7.3s -> 4.9s; ratio vs sf0.1 drops 2.5x -> ~1.4x).
      localCheckpoint measured worse at sf1 (eager job + storage) and is
      not executor-loss-safe on a real cluster; persist keeps lineage.
    - NO final .orderBy(): the global sort's range partitioner re-runs
      the subtree above the last shuffle for sampling — including the
      applyInPandas fold — costing ~1.3s at sf0.1 for presentation-only
      ordering the harness canonicalizes away (both the driver and the
      oracle compare name-sorted, row-sorted values)."""
    from esper_tv_spark.domain.composites import detect_commercials

    ev = _events(spark, sf_dir)
    s = F.unix_micros("ts").cast("double") / 1e6
    from esper_tv_spark.plans.cache import register_persisted

    # site-keyed persist (plans/cache.py): repeat invocations at different
    # scales unpersist the previous call's cached projection instead of
    # accumulating executor storage (round-5 ADVICE)
    base = register_persisted(
        "q56.base",
        ev.select(F.col("user_id").alias("video_id"), "event_type", s.alias("t")),
    )

    def sec_iv(event_type: str, length_s: float) -> DataFrame:
        return base.where(F.col("event_type") == event_type).select(
            "video_id",
            F.col("t").alias("start"),
            (F.col("t") + F.lit(length_s)).alias("end"),
        )

    spans = base.groupBy("video_id").agg(
        F.min("t").alias("start"), (F.max("t") + F.lit(3600.0)).alias("end")
    )
    empty = sec_iv("click", 1.0).limit(0)
    out = detect_commercials(
        black_windows=sec_iv("error", 30.0),
        arrow_text=sec_iv("click", 5.0),
        arrow_announcer=sec_iv("signup", 5.0),
        arrow_having=empty,
        transcripts=sec_iv("view", 120.0),
        video_spans=spans,
        max_commercial_time=3600.0,
        min_commercial_time=60.0,
    )
    return out.select(
        "video_id",
        F.round("start", 6).alias("cstart"),
        F.round("end", 6).alias("cend"),
    )


def _sql_coalesce_ve(src: str, out: str, gap: str) -> str:
    """Coalesce CTE over (video_id, s, e) rows with a merge gap (seconds)."""
    return f"""{out}_ord AS (
  SELECT video_id, s, e,
         max(e) OVER (PARTITION BY video_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM {src}
), {out}_grp AS (
  SELECT video_id, s, e,
         sum(CASE WHEN pmax IS NULL OR s > pmax + {gap} THEN 1 ELSE 0 END)
             OVER (PARTITION BY video_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS gid
  FROM {out}_ord
), {out} AS (
  SELECT video_id, min(s) AS s, max(e) AS e FROM {out}_grp GROUP BY video_id, gid
)"""


def _sql_minus_ve(a: str, b: str, out: str) -> str:
    """Interval-minus CTE over (video_id, s, e): {out} = {a} \\ {b}
    (mirrors intervals.minus: coalesce B, left range-join, lag-gaps, tail)."""
    return f"""{_sql_coalesce_ve(b, f'{out}_bc', '0')},
{out}_aid AS (
  SELECT video_id, s, e,
         row_number() OVER (PARTITION BY video_id ORDER BY s, e) AS rid
  FROM {a}
), {out}_j AS (
  SELECT a.video_id, a.rid, a.s, a.e, b.s AS bs, b.e AS be
  FROM {out}_aid a LEFT JOIN {out}_bc b
    ON a.video_id = b.video_id AND b.s < a.e AND b.e > a.s
), {out} AS (
  SELECT video_id, s, e FROM {out}_j WHERE bs IS NULL
  UNION ALL
  SELECT video_id,
         coalesce(lag(be) OVER (PARTITION BY video_id, rid ORDER BY bs), s) AS s,
         bs AS e
  FROM {out}_j WHERE bs IS NOT NULL
  QUALIFY e > s
  UNION ALL
  SELECT video_id, max(be) AS s, max(e) AS e
  FROM {out}_j WHERE bs IS NOT NULL GROUP BY video_id, rid
  HAVING max(e) > max(be)
)"""


def _q56_sql() -> str:
    """DuckDB oracle for the full commercial-detection composite, including
    the capped stack fold as a RECURSIVE CTE: state (cs, ce) advances along
    the per-video fragments in (s, e) order; an entry is emitted when the
    next fragment does not merge into it (or the partition ends)."""
    ovl = "r.s < x.e AND r.e > x.s"
    return f"""
WITH RECURSIVE
ev AS (SELECT user_id AS video_id, event_type, epoch_us(ts) / 1000000.0 AS t FROM events),
black AS (SELECT video_id, t AS s, t + 30.0 AS e FROM ev WHERE event_type = 'error'),
atext AS (SELECT video_id, t AS s, t + 5.0 AS e FROM ev WHERE event_type = 'click'),
aann AS (SELECT video_id, t AS s, t + 5.0 AS e FROM ev WHERE event_type = 'signup'),
trans AS (SELECT video_id, t AS s, t + 120.0 AS e FROM ev WHERE event_type = 'view'),
spans AS (SELECT video_id, min(t) AS s, max(t) + 3600.0 AS e FROM ev GROUP BY video_id),
{_sql_coalesce_ve('trans', 'rel', '2')},
reliable AS (SELECT * FROM rel WHERE e - s >= 5.0),
{_sql_minus_ve('atext', 'aann', 'ma')},
arrows AS (
  SELECT x.* FROM ma x
  WHERE EXISTS (SELECT 1 FROM reliable r WHERE r.video_id = x.video_id AND {ovl})
),
{_sql_minus_ve('spans', 'black', 'ab')},
noncom AS (
  SELECT x.* FROM ab x
  WHERE EXISTS (SELECT 1 FROM arrows r WHERE r.video_id = x.video_id AND {ovl})
),
ncb AS (SELECT video_id, s, e FROM noncom UNION ALL SELECT video_id, s, e FROM black),
{_sql_minus_ve('spans', 'ncb', 'cb')},
sorted AS (
  SELECT video_id, s, e, row_number() OVER (PARTITION BY video_id ORDER BY s, e) AS rn
  FROM cb
),
fold AS (
  SELECT video_id, rn, s AS cs, least(e, s + 3600.0) AS ce FROM sorted WHERE rn = 1
  UNION ALL
  SELECT t.video_id, t.rn,
         CASE WHEN t.s <= f.ce + 5.0 THEN least(f.cs, t.s) ELSE t.s END AS cs,
         CASE WHEN t.s <= f.ce + 5.0
              THEN least(greatest(f.ce, least(t.e, t.s + 3600.0)),
                         least(f.cs, t.s) + 3600.0)
              ELSE least(t.e, t.s + 3600.0) END AS ce
  FROM fold f JOIN sorted t ON t.video_id = f.video_id AND t.rn = f.rn + 1
),
closed AS (
  SELECT f.video_id, f.cs, f.ce
  FROM fold f LEFT JOIN sorted nx ON nx.video_id = f.video_id AND nx.rn = f.rn + 1
  WHERE nx.rn IS NULL OR nx.s > f.ce + 5.0
)
SELECT video_id, round(cs, 6) AS cstart, round(ce, 6) AS cend
FROM closed WHERE ce - cs >= 60.0
ORDER BY video_id, cstart
"""


def q57_knn_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn label propagation (face_embeddings.py:129-131): every 5th vector
    is unlabeled, predicted by majority vote of its 5 nearest labeled
    neighbors (cosine, rounded 6dp; ties -> smaller label). knn_join
    broadcasts the query side; the vote is a count + row_number window —
    fully relational, hash-matched against the same pipeline in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 5 != 0)
    predict = emb.where(F.col("vec_id") % 5 == 0)
    return similarity.knn_predict(train, predict, k=5)


Q57_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
tr AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 5 = 0),
sims AS (
  SELECT q.q_id, tr.vec_id, tr.label,
         round(list_dot_product(tr.v, q.qv)
               / (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS s
  FROM q CROSS JOIN tr
),
top AS (
  SELECT q_id, label FROM (
    SELECT q_id, label, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id ASC) AS rn
    FROM sims
  ) WHERE rn <= 5
),
votes AS (SELECT q_id, label, count(*) AS n FROM top GROUP BY q_id, label)
SELECT q_id AS vec_id, label AS pred_label FROM (
  SELECT q_id, label, row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label ASC) AS rn
  FROM votes
) WHERE rn = 1
"""


def q58_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning pipeline end-to-end: quality gate (length +
    stopword ratio) -> exact dedup (keep min doc_id per normalized-text
    fingerprint) -> per-source corpus stats. Composes quality_metrics,
    fingerprint dedup, and aggregation in one plan; the quality gate is
    computed map-side (keep_input=True), so no self-join back to the
    source table."""
    docs = _t(spark, sf_dir, "documents")
    keep = (
        text.quality_metrics(docs, keep_input=True)
        .where((F.col("n_tokens") >= 30) & (F.col("stopword_ratio") >= 0.05))
        .select("doc_id", "text", "source", "n_tokens")
    )
    deduped = dedup.dedup_exact(keep)
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


Q58_SQL = """
WITH t AS (
  SELECT doc_id, text, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
qm AS (
  SELECT doc_id, text, source, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], lower(x)))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio
  FROM t
),
keep AS (
  SELECT doc_id, text, source, n_tokens FROM qm
  WHERE n_tokens >= 30 AND stopword_ratio >= 0.05
),
fps AS (
  SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM keep
),
rep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM fps JOIN rep USING (fp, doc_id)
GROUP BY source
"""


def q59_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace vs BPE-ish (training-data corpus sizing):
    per source, total whitespace tokens and total GPT-2-pretokenizer tokens.
    The regex is ASCII-only so Java and RE2 engines split identically."""
    docs = _t(spark, sf_dir, "documents")
    t = text.bpe_tokens(text.tokenize(docs))
    return t.groupBy("source").agg(
        F.sum(F.size("tokens")).cast("long").alias("ws_tokens"),
        F.sum(F.size("bpe_tokens")).cast("long").alias("bpe_tokens"),
    )


Q59_SQL = """
SELECT source,
       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT) AS bpe_tokens
FROM documents GROUP BY source
"""


def q60_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS idiom) -> near-duplicate
    candidate pairs sharing >= 3 fingerprints. Char 8-gram md5 hashes,
    tumbling windows of 16 positions, min-hash per window.

    max_bucket_size=100 drops over-common fingerprints BEFORE the pair
    blowup — MOSS's own over-common-fingerprint drop, and a measured
    scale requirement: the round-6 sf1 rehearsal found a 34,614-doc
    fingerprint bucket (boilerplate char-grams aggregate across tenants)
    whose 1.2B-pair explosion OOM'd a 24g executor; capped, the worst
    task is 10^4 pairs.  The oracle applies the same HAVING cap, so the
    hash gate replays the drop exactly; audit what a cap drops with
    dedup.oversized_winnow_buckets."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_candidate_pairs(docs, k=8, w=16, min_shared=3, max_bucket_size=100)


Q60_SQL = """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8 + 1, 1) + 1)) AS p
  FROM documents
),
fps AS (
  SELECT DISTINCT doc_id, mfp AS fp FROM (
    SELECT doc_id, (p - 1) // 16 AS win, min(md5(substr(text, p, 8))) AS mfp
    FROM pos GROUP BY doc_id, (p - 1) // 16
  )
),
buckets AS (
  SELECT fp, list_sort(list(doc_id)) AS ids FROM fps GROUP BY fp
  HAVING count(*) > 1 AND count(*) <= 100
),
sides AS (
  SELECT fp, unnest(ids) AS id_x, generate_subscripts(ids, 1) AS ix FROM buckets
),
pairs AS (
  SELECT a.id_x AS id_a, b.id_x AS id_b
  FROM sides a JOIN sides b ON a.fp = b.fp AND a.ix < b.ix
)
SELECT id_a, id_b, count(*) AS n_shared
FROM pairs GROUP BY id_a, id_b HAVING count(*) >= 3
"""


def q61_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (reference used approxQuantile 0.5,
    spark.py:65-66; Spark 4's F.median is exact and matches DuckDB's
    interpolating median bit-for-bit on fixed-decimal data)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 2).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q61_SQL = """
SELECT o_orderpriority, round(median(o_totalprice), 2) AS median_price, count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q62_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (SURVEY §2.4 notes cube/rollup/grouping-sets absent in
    the reference but free in Spark): marginal totals by returnflag, by
    linestatus, and grand total in one pass over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        exact_sum("l_quantity", 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q62_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_quantity', 2)} AS sum_qty, count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q46_asset_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode pipeline (Arrow-batched mapInPandas over binary
    payload columns). The payloads are REAL binary-PPM images decoded by a
    pure-numpy format parser (operators/multimodal.ppm_decode — PPM is
    uncompressed, so no codec lib is needed); their pixels are a closed
    form of asset_id, so a DuckDB oracle recomputes the decoded stats
    independently — the decode stage is hash-matched, not rows-only.
    Compressed formats (JPEG/PNG) still route through set_decoder."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_ppm_asset_table(spark, n=200)
    return mm.decode_stats(assets)


Q46_SQL = """
WITH a AS (
  SELECT range AS asset_id,
         4 + range % 5 AS w, 4 + (range * 3) % 5 AS h
  FROM range(200)
),
px AS (
  SELECT a.asset_id, a.w, a.h,
         (a.asset_id * 7 + i.range * 13) % 256 AS val
  FROM a, range(192) i WHERE i.range < a.w * a.h * 3
)
SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val) AS DOUBLE) / (w * h * 3) AS mean_luma
FROM px GROUP BY asset_id, w, h ORDER BY asset_id
"""


def q84_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL codec for the multimodal decode pipeline: 8-bit RGB PNG
    decoded by a pure-Python chunk-walk + zlib-inflate + scanline-unfilter
    parser (operators/multimodal.png_decode; PNG's container/DEFLATE/filter
    model is public spec, RFC 2083 — no codec lib needed). Fixture pixels
    are a closed form of asset_id, so the oracle recomputes decoded stats
    independently: the whole decompress+unfilter path is hash-matched.
    Mirrors the reference serving real compressed frames
    (app/esper/prelude.py:125-136) where q46's PPM covers only the
    uncompressed case."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_png_asset_table(spark, n=200)
    return mm.decode_stats(assets)


Q84_SQL = """
WITH a AS (
  SELECT range AS asset_id,
         4 + range % 5 AS w, 4 + (range * 3) % 5 AS h
  FROM range(200)
),
px AS (
  SELECT a.asset_id, a.w, a.h,
         (a.asset_id * 11 + i.range * 17) % 256 AS val
  FROM a, range(192) i WHERE i.range < a.w * a.h * 3
)
SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum(val) AS DOUBLE) / (w * h * 3) AS mean_luma
FROM px GROUP BY asset_id, w, h ORDER BY asset_id
"""


def q86_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL codec for the multimodal decode pipeline: baseline
    sequential JPEG (ITU T.81 public spec) decoded by a pure-numpy marker
    walk + Huffman decode + dequant + IDCT + YCbCr->RGB
    (operators/multimodal.jpeg_decode — general baseline 4:4:4 incl. AC
    run/size coding and restart markers; unsupported subsets raise
    DecoderNotAvailable). Fixture payloads are DC-only constant blocks
    with all-ones quant tables, so each decoded pixel is a closed form of
    asset_id: RGB -> YCbCr -> floor(8(v-128)+0.5)/8 roundtrip -> RGB'
    clamp — the oracle recomputes the whole decode independently. Closes
    the reference's frame-serving parity (app/esper/prelude.py:125-136):
    PPM (q46) covers uncompressed, PNG (q84) lossless-compressed, JPEG
    the lossy-DCT family."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_jpeg_asset_table(spark, n=200)
    return mm.decode_stats(assets)


Q86_SQL = """
WITH a AS (
  SELECT range AS asset_id, 1 + range % 3 AS bw, 1 + (range * 5) % 3 AS bh
  FROM range(200)
),
blk AS (
  SELECT a.asset_id, a.bw, a.bh,
         CAST((a.asset_id * 11 + b.range * 29) % 256 AS DOUBLE) AS r,
         CAST((a.asset_id * 13 + b.range * 31) % 256 AS DOUBLE) AS g,
         CAST((a.asset_id * 17 + b.range * 37) % 256 AS DOUBLE) AS bl
  FROM a, range(9) b WHERE b.range < a.bw * a.bh
),
ycc AS (
  SELECT asset_id, bw, bh,
         128.0 + floor(8.0 * ((0.299 * r + 0.587 * g + 0.114 * bl) - 128.0) + 0.5) / 8.0 AS y2,
         128.0 + floor(8.0 * ((128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl) - 128.0) + 0.5) / 8.0 AS cb2,
         128.0 + floor(8.0 * ((128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl) - 128.0) + 0.5) / 8.0 AS cr2
  FROM blk
),
rgb AS (
  SELECT asset_id, bw, bh,
         greatest(0, least(255, CAST(floor(y2 + 1.402 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS rr,
         greatest(0, least(255, CAST(floor(y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS gg,
         greatest(0, least(255, CAST(floor(y2 + 1.772 * (cb2 - 128.0) + 0.5) AS BIGINT))) AS bb
  FROM ycc
)
SELECT asset_id, CAST(bw * 8 AS INT) AS width, CAST(bh * 8 AS INT) AS height,
       CAST(bw * 8 * bh * 8 AS BIGINT) AS n_pixels,
       CAST(sum(64 * (rr + gg + bb)) AS DOUBLE) / (bw * 8 * bh * 8 * 3) AS mean_luma
FROM rgb GROUP BY asset_id, bw, bh ORDER BY asset_id
"""


def q89_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL codec, extending the decode pipeline to the AUDIO
    modality: RIFF/WAVE PCM16 parsed by a pure struct+numpy chunk walk
    (operators/multimodal.wav_decode — word-aligned chunk skipping,
    fmt validation; non-PCM16 raises DecoderNotAvailable).  Fixture
    samples are a closed form of asset_id (frames = 256 + 13*id % 256,
    channels = 1 + id % 2, rate = 8000 + (id % 4)*4000, flat sample i =
    (id*7919 + i*104729) % 65536 - 32768), so duration / L1 energy /
    peak are all exact integers the oracle recomputes without touching
    the binary.  Reference parity: audio tracks the reference stores as
    opaque paths (app/esper video model) become decodable columns."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_wav_asset_table(spark, n=200)
    return mm.audio_stats(assets)


def q90_avi_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth REAL codec, upgrading the VIDEO modality from metadata-only
    plumbing to actual frame decode: MJPEG-in-AVI parsed by a pure struct
    RIFF chunk walk (operators/multimodal.avi_decode_mjpeg — avih header
    validation, LIST 'movi' traversal, word-aligned chunks), each '00dc'
    chunk decoded through the repo's own baseline jpeg_decode.  Fixture
    frames are const-block JPEGs whose pixels are a closed form of
    (asset_id, frame, block) — the q86 DC-rounding roundtrip applies per
    frame — so the oracle replays the container AND the codec without
    touching the binary.  Reference parity: the reference serves video
    frames via an external frameserver (app/esper/prelude.py:125-136);
    here the video payload is a decodable binary column in-engine."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_avi_asset_table(spark, n=150)
    return mm.video_stats(assets)


Q90_SQL = """
WITH a AS (
  SELECT range AS asset_id, 1 + range % 3 AS bw, 1 + (range * 5) % 3 AS bh,
         1 + (range * 3) % 4 AS nf
  FROM range(150)
),
blk AS (
  SELECT a.asset_id, a.bw, a.bh, a.nf,
         CAST((a.asset_id * 11 + f.range * 41 + b.range * 29) % 256 AS DOUBLE) AS r,
         CAST((a.asset_id * 13 + f.range * 43 + b.range * 31) % 256 AS DOUBLE) AS g,
         CAST((a.asset_id * 17 + f.range * 47 + b.range * 37) % 256 AS DOUBLE) AS bl
  FROM a, range(4) f, range(9) b
  WHERE f.range < a.nf AND b.range < a.bw * a.bh
),
ycc AS (
  SELECT asset_id, bw, bh, nf,
         128.0 + floor(8.0 * ((0.299 * r + 0.587 * g + 0.114 * bl) - 128.0) + 0.5) / 8.0 AS y2,
         128.0 + floor(8.0 * ((128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl) - 128.0) + 0.5) / 8.0 AS cb2,
         128.0 + floor(8.0 * ((128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl) - 128.0) + 0.5) / 8.0 AS cr2
  FROM blk
),
rgb AS (
  SELECT asset_id, bw, bh, nf,
         greatest(0, least(255, CAST(floor(y2 + 1.402 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS rr,
         greatest(0, least(255, CAST(floor(y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS gg,
         greatest(0, least(255, CAST(floor(y2 + 1.772 * (cb2 - 128.0) + 0.5) AS BIGINT))) AS bb
  FROM ycc
)
SELECT asset_id, CAST(bw * 8 AS INT) AS width, CAST(bh * 8 AS INT) AS height,
       CAST(nf AS INT) AS n_frames,
       CAST(bw * 8 * bh * 8 * nf AS BIGINT) AS n_pixels,
       CAST(sum(64 * (rr + gg + bb)) AS DOUBLE) / (bw * 8 * bh * 8 * 3 * nf) AS mean_luma
FROM rgb GROUP BY asset_id, bw, bh, nf ORDER BY asset_id
"""


def q91_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride frame sampling over REAL video payloads: walk each MJPEG
    AVI's movi list and decode only every 2nd frame
    (operators/multimodal.video_frame_stats — container walk is cheap,
    decode cost proportional to frames KEPT).  One row per sampled frame
    with its closed-form mean; the oracle replays container + codec +
    stride.  Reference parity: frame-stride sampling is the reference's
    core video access pattern (app/esper Frame model + Scanner stride
    sampling); here it is one mapInPandas over a binary column."""
    from esper_tv_spark.operators import multimodal as mm

    assets = mm.make_avi_asset_table(spark, n=150)
    return mm.video_frame_stats(assets, every_n=2)


Q91_SQL = """
WITH a AS (
  SELECT range AS asset_id, 1 + range % 3 AS bw, 1 + (range * 5) % 3 AS bh,
         1 + (range * 3) % 4 AS nf
  FROM range(150)
),
blk AS (
  SELECT a.asset_id, a.bw, a.bh, f.range AS frame_no,
         CAST((a.asset_id * 11 + f.range * 41 + b.range * 29) % 256 AS DOUBLE) AS r,
         CAST((a.asset_id * 13 + f.range * 43 + b.range * 31) % 256 AS DOUBLE) AS g,
         CAST((a.asset_id * 17 + f.range * 47 + b.range * 37) % 256 AS DOUBLE) AS bl
  FROM a, range(4) f, range(9) b
  WHERE f.range < a.nf AND f.range % 2 = 0 AND b.range < a.bw * a.bh
),
ycc AS (
  SELECT asset_id, bw, bh, frame_no,
         128.0 + floor(8.0 * ((0.299 * r + 0.587 * g + 0.114 * bl) - 128.0) + 0.5) / 8.0 AS y2,
         128.0 + floor(8.0 * ((128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl) - 128.0) + 0.5) / 8.0 AS cb2,
         128.0 + floor(8.0 * ((128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl) - 128.0) + 0.5) / 8.0 AS cr2
  FROM blk
),
rgb AS (
  SELECT asset_id, bw, bh, frame_no,
         greatest(0, least(255, CAST(floor(y2 + 1.402 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS rr,
         greatest(0, least(255, CAST(floor(y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0) + 0.5) AS BIGINT))) AS gg,
         greatest(0, least(255, CAST(floor(y2 + 1.772 * (cb2 - 128.0) + 0.5) AS BIGINT))) AS bb
  FROM ycc
)
SELECT asset_id, CAST(frame_no AS INT) AS frame_no,
       CAST(bw * 8 AS INT) AS width, CAST(bh * 8 AS INT) AS height,
       CAST(sum(64 * (rr + gg + bb)) AS DOUBLE) / (bw * 8 * bh * 8 * 3) AS mean_luma
FROM rgb GROUP BY asset_id, frame_no, bw, bh ORDER BY asset_id, frame_no
"""


Q89_SQL = """
WITH a AS (
  SELECT range AS asset_id,
         256 + (range * 13) % 256 AS frames,
         1 + range % 2 AS channels,
         8000 + (range % 4) * 4000 AS rate
  FROM range(200)
),
s AS (
  SELECT a.asset_id, a.frames, a.channels, a.rate,
         abs(((a.asset_id * 7919 + i.range * 104729) % 65536) - 32768) AS av
  FROM a, range(1024) i WHERE i.range < a.frames * a.channels
)
SELECT asset_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(frames AS BIGINT) AS frames,
       CAST(floor(frames * 1000.0 / rate) AS BIGINT) AS duration_ms,
       CAST(sum(av) AS BIGINT) AS sum_abs,
       CAST(max(av) AS INT) AS peak_abs
FROM s GROUP BY asset_id, rate, channels, frames ORDER BY asset_id
"""


def q85_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    k-means-blocked semantic deduplication over the embeddings table.
    Cluster assignment is the same closed-form Lloyd step as q48
    (deterministic init = the k smallest-id vectors by rank, rounded);
    within each cluster a vector is dropped iff a strictly-smaller-id
    cluster-mate has rounded cosine >= 0.4 ("keep the earliest").  The
    oracle replays assignment AND the within-cluster pair scan, so the
    blocking structure itself is hash-matched.

    Scale shape: the pair join is an EQUI-join on the cluster id — cost
    sum(n_c^2) ~ n^2/k, and k = round(sqrt(n)) balances it against the
    n*k assignment so total work is Theta(n^1.5 * dim)
    (dedup.recommended_clusters over the parquet FOOTER row count — no
    Spark job, the q51 pattern: a pinned k goes quadratic one decade up,
    and the old k ~ n/64 made the assignment n^2/64).  The oracle is
    SCALE-INDEPENDENT: it recomputes the same half-up
    k = max(2, floor(sqrt(n) + 0.5)) from count(*) and selects the k
    smallest-id centroids by rank (ORDER BY vec_id LIMIT k — mirroring
    lloyd_assign's rank-based init, which is correct for sparse ids
    where an `id < k` predicate is not), so the identical SQL gates any
    sf.  Generalizes the reference's exact-pair embedding scans
    (face_embeddings.py:129-131) to the corpus-dedup shape a
    training-data pipeline needs."""
    from esper_tv_spark.operators.dedup import recommended_clusters, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    k = recommended_clusters(_parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet")))
    # the operator's two Arrow passes (GEMM assignment, GEMM triangle
    # tiles per cluster) round like the oracle's DuckDB round(); pytest
    # pins them to the expression reference (lloyd_assign + dot scan)
    out = semantic_dedup(emb, k=k, threshold=0.4)
    return out.select(
        "vec_id", "cluster", F.col("is_dup").cast("int").alias("is_dup")
    ).orderBy("vec_id")


Q85_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cluster, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id
      LIMIT (SELECT greatest(2, CAST(floor(sqrt(count(*)) + 0.5) AS BIGINT)) FROM e)),
d AS (
  SELECT e.vec_id, c.cluster,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
a AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rn
  FROM d
),
asg AS (SELECT vec_id, cluster FROM a WHERE rn = 1),
vn AS (SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS n, s.cluster
       FROM e JOIN asg s ON e.vec_id = s.vec_id),
dup AS (
  SELECT DISTINCT y.vec_id
  FROM vn x JOIN vn y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE round(list_dot_product(x.v, y.v) / (x.n * y.n), 6) >= 0.4
)
SELECT s.vec_id, s.cluster,
       CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM asg s LEFT JOIN dup ON s.vec_id = dup.vec_id
ORDER BY s.vec_id
"""


def q47_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate nearest neighbors (bucket + Hamming-1 probes) —
    the scale path for similarity search. The seeded hyperplanes are
    inlined into the oracle SQL, so even the bucketing is hash-matched."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.ann_cosine_topk(emb, qv, 10, n_planes=8)


def _q47_sql() -> str:
    """SRP-LSH probe in pure SQL: same planes (seed 42), same bucket bits,
    same Hamming-1 probe set, same rounded-cosine top-10 cut."""
    from esper_tv_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(_oracle_embed_dim(), 8, seed=42)
    rows = ",\n".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])" for i, p in enumerate(planes)
    )
    return f"""
WITH planes(i, p) AS (VALUES {rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
b AS (
  SELECT e.vec_id, e.v,
         sum(CASE WHEN list_dot_product(e.v, planes.p) > 0 THEN (1::BIGINT << planes.i) ELSE 0 END) AS bucket
  FROM e, planes GROUP BY e.vec_id, e.v
),
qb AS (
  SELECT sum(CASE WHEN list_dot_product(q.qv, planes.p) > 0 THEN (1::BIGINT << planes.i) ELSE 0 END) AS bucket
  FROM q, planes
),
probes AS (
  SELECT bucket FROM qb
  UNION ALL SELECT xor(qb.bucket, (1::BIGINT << t.i)) FROM qb, range(8) t(i)
)
SELECT b.vec_id,
       round(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM b, q
WHERE b.bucket IN (SELECT bucket FROM probes)
ORDER BY cosine_sim DESC, b.vec_id ASC LIMIT 10
"""


def q48_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans cluster sizes via one closed-form Lloyd ASSIGNMENT step with
    deterministic init (centroids = the 8 smallest-id vectors) — the
    hash-matchable half of the reference's kmeans (face_embeddings.py:
    99-109). The full iterative fit (pyspark.ml KMeans) remains in
    similarity.kmeans_assign, covered by pytest; an assignment step with
    frozen centroids is also exactly what the scoring path runs at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.lloyd_assign(emb, k=8)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("vec_id").alias("id_sum"))
        .orderBy("cluster")
    )


Q48_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cluster, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 8),
d AS (
  SELECT e.vec_id, c.cluster,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
a AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rn
  FROM d
)
SELECT cluster, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM a WHERE rn = 1 GROUP BY cluster ORDER BY cluster
"""


def q78_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-coefficient logistic scoring at scale (reference logreg
    predict, face_embeddings.py:112-126): the model (64 weights + bias,
    pinned — training itself is covered in pytest where scoring parity
    with pyspark.ml is asserted) scores every embedding as a pure
    expression; output is the per-(label, pred) confusion census. Rounded
    logits, no exp(): thresholding p>0.5 is logit>0, so the contract
    avoids libm differences across engines."""
    from esper_tv_spark.operators.similarity import logreg_score, random_hyperplanes

    # the frozen model's width follows the corpus (footer-adjacent one-row
    # probe, no Spark job) so scale fixtures may carry higher-dim vectors
    dim = _parquet_list_dim(os.path.join(sf_dir, "embeddings.parquet"))
    w = random_hyperplanes(dim, 1, seed=5)[0]
    emb = _t(spark, sf_dir, "embeddings")
    scored = logreg_score(emb, w, bias=-0.05)
    return (
        scored.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("id_sum"))
        .orderBy("label", "pred")
    )


def _ivf_index_dir(spark: SparkSession, sf_dir: str, n_cells: int = 16) -> str:
    """Build (once per dataset fingerprint) and return the persisted
    deterministic IVF index for `sf_dir`'s embeddings — the frozen-store
    pattern of the reference's repeated embedding queries
    (face_embeddings.py:74-96). Stat-based fingerprint: regenerated data
    rebuilds instead of serving stale cells; prior generations of THIS
    sf's index are evicted."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(
        tempfile.gettempdir(), f"esper_tv_ivf_idx_{sf_tag}_{tag}_c{n_cells}"
    )
    if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
        _evict_stale_siblings(f"esper_tv_ivf_idx_{sf_tag}_", keep=idx)
        similarity.ivf_build_index(_t(spark, sf_dir, "embeddings"), idx, n_cells=n_cells)
    return idx


def q80_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors over a PERSISTED deterministic
    index (similarity.ivf_build_index / ivf_probe_index): the Lloyd cell
    assignment is computed once per dataset fingerprint and written
    partitioned by cell; each probe ranks the stored centroids (top-3
    cells by rounded centroid cosine) and scans only those cells'
    partitions — ≤2 exchanges, partition-pruned I/O, no per-query n*k
    rescoring (the round-5 plan grew 1→5 exchanges recomputing the
    assignment per query). Cell assignment, probe selection, and in-cell
    exact rerank are ALL replayed by the oracle — the index structure
    itself is hash-checked, complementing q47's SRP-LSH path. The
    KMeans-trained IVF (ivf_fit/ivf_topk) remains the data-adaptive
    variant, recall-tested in pytest; the inline
    `ivf_topk_deterministic` stays the one-shot audit path."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    return similarity.ivf_probe_index(spark, idx, qv, 10, n_probe=3)


def q87_ivf_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build census: per-cell occupancy and id checksum read
    straight from the PERSISTED posting lists (ivf_build_index's cells/
    table) — hash-proving the stored index structure itself, not just one
    probe's answer through it. The oracle replays the full deterministic
    Lloyd assignment (rank-based centroids, rounded d2 argmin, ties to
    the smaller cell), so a single misassigned or dropped posting row
    fails the gate. One aggregation over the index — the maintenance
    query every IVF deployment runs to watch cell balance."""
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    return (
        cells.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("id").alias("id_sum"))
        .orderBy("cell")
    )


Q87_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
a AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
)
SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM a WHERE rn = 1 GROUP BY cell ORDER BY cell
"""


Q80_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
)
SELECT cand.vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, cand.vec_id ASC LIMIT 10
"""


def _hier_ivf_index_dir(
    spark: SparkSession, sf_dir: str, n_cells: int = 16, n_groups: int = 4,
    train_iters: int = 0,
) -> str:
    """Build (once per dataset fingerprint) the TWO-LEVEL deterministic
    IVF index: same frozen-store pattern as `_ivf_index_dir`, with the
    coarse quantizer grouped (similarity._centroid_tables).  The
    completeness sentinel stays centroids/_SUCCESS — groups/ is
    published FIRST, so the sentinel implies a complete two-level layout.
    `train_iters>0` trains the level-1 group centers (lloyd_train) —
    the q103 layout; 0 keeps the rank-init grouping (q100/q101)."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    suffix = f"t{train_iters}" if train_iters else ""
    idx = os.path.join(
        tempfile.gettempdir(),
        f"esper_tv_hivf_idx_{sf_tag}_{tag}_c{n_cells}g{n_groups}{suffix}",
    )
    if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
        _evict_stale_siblings(
            f"esper_tv_hivf_idx_{sf_tag}_",
            keep=os.path.join(
                tempfile.gettempdir(), f"esper_tv_hivf_idx_{sf_tag}_{tag}"
            ),
        )
        similarity.ivf_build_index(
            _t(spark, sf_dir, "embeddings"), idx, n_cells=n_cells,
            n_groups=n_groups, group_train_iters=train_iters,
        )
    return idx


def q100_hier_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL (hierarchical) coarse-quantizer IVF probe — the 100 TB
    regime's answer to n_cells = 4*sqrt(n) outgrowing a flat centroid
    table (~180k centroids at 2e9 vectors: no longer broadcastable, no
    longer one tiny driver ranking action).  The index groups its
    centroids under sqrt(n_cells) level-1 centers (the n_groups
    smallest-cell centroids — lloyd_assign's own rank-init rule applied
    to the centroid table, so the grouping replays in SQL exactly like
    the cell assignment); the probe ranks GROUPS first (top-2 of 4 by
    rounded cosine), reads ONLY the winning groups' centroid partitions
    (partition-pruned centroid I/O — asserted in tests/test_plans.py),
    ranks cells among them (top-3 of the surviving ≤8), and scans those
    cells' posting lists for the exact rerank.  The oracle replays ALL
    FOUR stages: group assignment, group ranking, restricted cell
    ranking, and the in-cell rerank — n_probe_groups=2 < n_groups=4, and
    the query (vec_id=5) is PINNED to one whose winning cells straddle
    the group boundary at the gate scale (flat top-3 = {5,11,4}, pruned
    top-3 = {5,11,8} at sf0.01), so the hash only matches if the group
    pruning itself is replayed — a flat ranking produces a DIFFERENT
    posting scan and fails.  Reference pattern: face_embeddings.py:74-96
    (repeated knn against one precomputed store), scaled to the
    two-level FAISS coarse-quantizer shape."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).select("embedding").first()[0]]
    idx = _hier_ivf_index_dir(spark, sf_dir, n_cells=16, n_groups=4)
    return similarity.ivf_probe_index(spark, idx, qv, 10, n_probe=3, n_probe_groups=2)


Q100_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
g AS (SELECT cell AS grp, cv AS gv FROM c ORDER BY cell LIMIT 4),
-- level-1 assignment: each cell centroid to its nearest group center
-- (rounded d2 argmin, ties to the smaller grp — lloyd_assign's rule)
gd AS (
  SELECT c.cell, g.grp,
         round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
               + list_dot_product(g.gv, g.gv), 6) AS d2
  FROM c, g
),
gassign AS (
  SELECT cell, grp,
         row_number() OVER (PARTITION BY cell ORDER BY d2 ASC, grp ASC) AS rn
  FROM gd
),
-- level-1 probe: top-2 groups by rounded query cosine, ties smaller grp
gprobe AS (
  SELECT g.grp FROM g, q
  ORDER BY round(list_dot_product(g.gv, q.qv)
                 / (sqrt(list_dot_product(g.gv, g.gv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           g.grp ASC
  LIMIT 2
),
-- level-2 probe: top-3 cells by rounded query cosine AMONG the winning
-- groups' centroids only (the pruned centroid scan)
probe AS (
  SELECT c.cell FROM c
  JOIN gassign ON gassign.cell = c.cell AND gassign.rn = 1
  CROSS JOIN q
  WHERE gassign.grp IN (SELECT grp FROM gprobe)
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
-- vector -> cell assignment (identical to Q80's)
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
)
SELECT cand.vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, cand.vec_id ASC LIMIT 10
"""


def _retired_ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) an IVF index whose HOTTEST
    cell for query vec_id=7 has been fully deleted, purged, and RETIRED
    (streaming.ann.compact_posting_lists(purge=True,
    retire_empty_cells=True)): the victim is the top-1 ranked cell by
    the probe's own rounded-cosine order, so the retirement demonstrably
    changes which cells a pruned probe scans at every scale.  The
    mutation chain is atomic w.r.t. the cache: the _Q104_DONE marker is
    written LAST, and an incomplete dir is rebuilt from scratch."""
    import shutil
    import tempfile

    from esper_tv_spark.sources.sidecar import sidecar_rows
    from esper_tv_spark.streaming.ann import ann_delete, compact_posting_lists

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(
        tempfile.gettempdir(), f"esper_tv_rivf_idx_{sf_tag}_{tag}_c16"
    )
    if not os.path.exists(os.path.join(idx, "_Q104_DONE")):
        _evict_stale_siblings(f"esper_tv_rivf_idx_{sf_tag}_", keep=idx)
        shutil.rmtree(idx, ignore_errors=True)
        emb = _t(spark, sf_dir, "embeddings")
        similarity.ivf_build_index(emb, idx, n_cells=16)
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]
        ]
        # the victim cell and its ids, read on the driver the way a
        # probe ranks and reads (no schema-inference job)
        [victim], _cv = similarity._probe_cells(idx, qv, 1, 3, 6)
        victim_ids = [
            int(r["id"])
            for r in sidecar_rows(os.path.join(idx, "cells", f"cell={victim}"), ["id"])
        ]
        ann_delete(spark, idx, victim_ids)
        compact_posting_lists(spark, idx, purge=True, retire_empty_cells=True)
        with open(os.path.join(idx, "_Q104_DONE"), "w") as f:
            f.write(str(victim))
    return idx


def q104_retired_cell_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe over an index whose hottest cell was deleted, purged, and
    RETIRED (census-driven centroid retirement — streaming/ann.py
    `_retire_empty_cells`): after a purge empties a cell, its centroid
    must leave the ranking surface, else every probe near that region
    wastes a top-n_probe slot on a cell that cannot answer.  The victim
    is query vec_id=7's OWN top-1 cell, so without retirement the probe
    would spend rank 1 on a dead cell and return candidates from only
    two live cells; with it, three live cells answer.  The oracle
    replays the full lifecycle relationally: assignment -> victim
    selection (the same rounded-cosine rank-1 rule) -> the deleted id
    set (the victim's members) -> the LIVE cell census (cells with >= 1
    surviving vector) -> ranking restricted to live cells -> rerank
    over surviving candidates.  The hash only matches if the dead
    centroid was actually dropped from the ranking.  Reference shape:
    index maintenance on face_embeddings.py:74-96's frozen store."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).select("embedding").first()[0]]
    idx = _retired_ivf_index_dir(spark, sf_dir)
    return similarity.ivf_probe_index(spark, idx, qv, 10, n_probe=3)


Q104_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
-- the victim: the probe's own top-1 cell for the query (rounded cosine
-- desc, ties to the smaller cell — the retirement target the entry picks)
victim AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 1
),
deleted AS (
  SELECT vec_id FROM assign WHERE rn = 1 AND cell IN (SELECT cell FROM victim)
),
-- census-driven retirement: a cell is LIVE iff >= 1 vector survives
live AS (
  SELECT DISTINCT cell FROM assign
  WHERE rn = 1 AND vec_id NOT IN (SELECT vec_id FROM deleted)
),
probe AS (
  SELECT c.cell FROM c JOIN live USING (cell) CROSS JOIN q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
    AND e.vec_id NOT IN (SELECT vec_id FROM deleted)
)
SELECT cand.vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, cand.vec_id ASC LIMIT 10
"""


def q103_trained_groups_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical IVF probe with TRAINED level-1 group centers — q100's
    layout, with the group centers refined by TWO full deterministic
    Lloyd iterations over the centroid table (similarity.lloyd_train)
    instead of frozen rank-init seeds.  The r9 2M rehearsal priced
    rank-init grouping at ~.17 recall@10 lost at 10% group coverage;
    trained centers are the build-time-only fix, and this contract pins
    their arithmetic: the oracle UNROLLS both iterations (assign cells
    to centers -> exact scaled-bigint coordinate means -> reassign), so
    any drift in the training (tie rule, mean rounding, empty-group
    convention) changes the grouping, the pruned probe's cell set, and
    the hash.  Query vec_id=41 is pinned because its pruned top-3 cells
    DIFFER between trained and rank-init groupings at the gate scales
    (sf0.001 and sf0.01, verified) — a builder that ignores
    group_train_iters fails this gate.  Reference shape: the iterative
    half of face_embeddings.py:99-109's kmeans applied to the FAISS
    two-level coarse-quantizer layout."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 41).select("embedding").first()[0]]
    idx = _hier_ivf_index_dir(spark, sf_dir, n_cells=16, n_groups=4, train_iters=2)
    return similarity.ivf_probe_index(spark, idx, qv, 10, n_probe=3, n_probe_groups=2)


Q103_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 41),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
-- seed: rank-init (the 4 smallest-cell centroids), then 2 unrolled Lloyd
-- iterations: assign cells to centers (rounded d2 argmin, ties smaller
-- grp), recompute centers as EXACT scaled-bigint coordinate means
-- (integer sums are order-independent), empty groups keep their center
g0 AS (SELECT cell AS grp, cv AS gv FROM c ORDER BY cell LIMIT 4),
a1 AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), 6) ASC, g.grp ASC) AS rn
    FROM c, g0 g) WHERE rn = 1
),
m1 AS (
  SELECT a1.grp, generate_subscripts(c.cv, 1) AS pos, unnest(c.cv) AS val
  FROM a1 JOIN c USING (cell)
),
s1 AS (
  SELECT grp, pos,
         round(CAST(sum(CAST(round(val * 1000000) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean
  FROM m1 GROUP BY grp, pos
),
l1 AS (SELECT grp, list(mean ORDER BY pos) AS gv FROM s1 GROUP BY grp),
g1 AS (SELECT g0.grp, coalesce(l1.gv, g0.gv) AS gv FROM g0 LEFT JOIN l1 USING (grp)),
a2 AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), 6) ASC, g.grp ASC) AS rn
    FROM c, g1 g) WHERE rn = 1
),
m2 AS (
  SELECT a2.grp, generate_subscripts(c.cv, 1) AS pos, unnest(c.cv) AS val
  FROM a2 JOIN c USING (cell)
),
s2 AS (
  SELECT grp, pos,
         round(CAST(sum(CAST(round(val * 1000000) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean
  FROM m2 GROUP BY grp, pos
),
l2 AS (SELECT grp, list(mean ORDER BY pos) AS gv FROM s2 GROUP BY grp),
g2 AS (SELECT g1.grp, coalesce(l2.gv, g1.gv) AS gv FROM g1 LEFT JOIN l2 USING (grp)),
-- final grouping: the persisted cell->group partitioning uses g2
gassign AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell ORDER BY
             round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
                   + list_dot_product(g.gv, g.gv), 6) ASC, g.grp ASC) AS rn
    FROM c, g2 g) WHERE rn = 1
),
-- level-1 probe: top-2 TRAINED group centers by rounded query cosine
gprobe AS (
  SELECT g.grp FROM g2 g, q
  ORDER BY round(list_dot_product(g.gv, q.qv)
                 / (sqrt(list_dot_product(g.gv, g.gv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           g.grp ASC
  LIMIT 2
),
probe AS (
  SELECT c.cell FROM c
  JOIN gassign ON gassign.cell = c.cell
  CROSS JOIN q
  WHERE gassign.grp IN (SELECT grp FROM gprobe)
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
)
SELECT cand.vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, cand.vec_id ASC LIMIT 10
"""


def q101_hier_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed BATCH kNN join over the TWO-LEVEL index — q96's
    amortized-scan serving join on q100's hierarchical coarse quantizer:
    one driver action ranks the level-1 GROUPS for the whole batch (the
    same `_rank_probe_cells` machinery one level up), the centroid read
    is pruned to the UNION of all queries' winning groups, and each
    query's cell ranking is RESTRICTED to its own winning groups (the
    per-query mask — without it a query could rank another query's
    cells above its own, and batch results would diverge from single
    probes).  Batch qids (0, 5, 7) include q100's pinned
    boundary-straddling query, so the oracle — which replays group
    assignment, PER-QUERY group ranking, restricted per-query cell
    ranking, in-cell cosine, and the per-qid top-k window — fails
    against any implementation that skips the group restriction.
    Per-query results bit-identical to q100-style single probes
    (asserted in tests/test_hierarchical.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _hier_ivf_index_dir(spark, sf_dir, n_cells=16, n_groups=4)
    queries = emb.where(F.col("vec_id").isin([0, 5, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivf_knn_join_index(
        spark, idx, queries, 10, n_probe=3, n_probe_groups=2
    )
    return out.orderBy("qid", F.col("cosine_sim").desc(), "vec_id")


Q101_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 5, 7)),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
g AS (SELECT cell AS grp, cv AS gv FROM c ORDER BY cell LIMIT 4),
gd AS (
  SELECT c.cell, g.grp,
         round(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, g.gv)
               + list_dot_product(g.gv, g.gv), 6) AS d2
  FROM c, g
),
gassign AS (
  SELECT cell, grp,
         row_number() OVER (PARTITION BY cell ORDER BY d2 ASC, grp ASC) AS rn
  FROM gd
),
-- per-QUERY level-1 ranking: each query's top-2 groups
gpr AS (
  SELECT qs.qid, g.grp,
         row_number() OVER (
           PARTITION BY qs.qid
           ORDER BY round(list_dot_product(g.gv, qs.qv)
                          / (sqrt(list_dot_product(g.gv, g.gv)) * sqrt(list_dot_product(qs.qv, qs.qv))), 6) DESC,
                    g.grp ASC
         ) AS rn
  FROM qs, g
),
-- per-query cell ranking RESTRICTED to that query's winning groups
pr AS (
  SELECT qs.qid, c.cell,
         row_number() OVER (
           PARTITION BY qs.qid
           ORDER BY round(list_dot_product(c.cv, qs.qv)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(qs.qv, qs.qv))), 6) DESC,
                    c.cell ASC
         ) AS rn
  FROM qs
  JOIN gpr ON gpr.qid = qs.qid AND gpr.rn <= 2
  JOIN gassign ga ON ga.grp = gpr.grp AND ga.rn = 1
  JOIN c ON c.cell = ga.cell
),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM assign a JOIN pr p ON a.cell = p.cell AND p.rn <= 3
  WHERE a.rn = 1
),
scored AS (
  SELECT cand.qid, cand.vec_id,
         round(list_dot_product(e.v, qs.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS cosine_sim
  FROM cand JOIN e ON e.vec_id = cand.vec_id JOIN qs ON qs.qid = cand.qid
),
top AS (
  SELECT qid, vec_id, cosine_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT qid, vec_id, cosine_sim FROM top WHERE rn <= 10
ORDER BY qid, cosine_sim DESC, vec_id
"""


def _tomb_ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) an IVF index carrying LOGICAL
    deletes: ids 0, 3, 12 tombstoned via streaming.ann.ann_delete.  The
    build-then-delete chain is atomic w.r.t. the cache: the _Q102_DONE
    marker is written LAST, and an incomplete dir is rebuilt from
    scratch — a crash between build and delete must not serve an
    undeleted index."""
    import shutil
    import tempfile

    from esper_tv_spark.streaming.ann import ann_delete

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(
        tempfile.gettempdir(), f"esper_tv_tivf_idx_{sf_tag}_{tag}_c16"
    )
    if not os.path.exists(os.path.join(idx, "_Q102_DONE")):
        _evict_stale_siblings(f"esper_tv_tivf_idx_{sf_tag}_", keep=idx)
        shutil.rmtree(idx, ignore_errors=True)
        similarity.ivf_build_index(_t(spark, sf_dir, "embeddings"), idx, n_cells=16)
        ann_delete(spark, idx, [0, 3, 12])
        with open(os.path.join(idx, "_Q102_DONE"), "w") as f:
            f.write("0,3,12")
    return idx


def q102_ivf_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over an index with LOGICAL DELETES — the lifecycle op
    the insert/compact/recenter trio was missing.  A delete at 100 TB
    cannot rewrite posting lists (the id's cell is unknown without a
    full scan), so `ann_delete` appends to a tombstones/ table and
    every probe filters out the tombstoned ids;
    `compact_posting_lists(purge=True)` later drops the rows physically
    and retires the table (bit-identical probes before/after, asserted
    in tests).  Deleted ids here are 0, 3, 12 — id 0 IS the query
    vector, so the probe's own top-1 row is tombstoned at every scale
    and the hash only matches if the tombstone filter actually ran.  Build
    state (centroids, assignment) is intentionally untouched by logical
    deletes, and the oracle replays exactly that: full-corpus
    assignment + probe selection, with only the candidate rows
    filtered."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _tomb_ivf_index_dir(spark, sf_dir)
    return similarity.ivf_probe_index(spark, idx, qv, 10, n_probe=3)


Q102_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
    AND e.vec_id NOT IN (0, 3, 12)
)
SELECT cand.vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM cand, q
ORDER BY cosine_sim DESC, cand.vec_id ASC LIMIT 10
"""


def q106_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-FILTERED ANN probe (similarity._apply_id_filter): top-k
    nearest neighbors AMONG vectors satisfying a metadata predicate
    (label = 7) — the filtered-search mode of every production vector
    store (faiss IDSelector, Milvus/Vespa filtered search), and the
    training-data shape "nearest examples within this source/quality
    slice".  Pre-filter semantics: the allowed-id set (a left-semi join
    against `embeddings WHERE label = 7`) restricts the probed cells'
    candidates BEFORE the rank, so the top-k counts only matches — a
    post-filter on q80's output would return whatever of the unfiltered
    top-10 happens to match (usually ~1 row at 10% selectivity), which
    is a different (and usually wrong) answer.  The filter set joins
    unforced (Catalyst broadcasts the selective case; a big allowed set
    shuffles, correctly).  At ~10% selectivity the filtered top-10
    differs from q80's at every scale, so the hash proves the semi-join
    ran.  The oracle replays assignment, probe selection, the label
    restriction, and the rerank."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    allow = emb.where(F.col("label") == 7).select("vec_id")
    return similarity.ivf_probe_index(
        spark, idx, qv, 10, n_probe=3, filter_ids=allow
    )


# q80's replay with the candidate set restricted to the label slice —
# string-derived so the probe replay can never drift from q80's; the
# count==1 guard (same as _q112_sql's) makes a reworded base fail at
# import instead of silently reverting the oracle to the unfiltered query
assert Q80_SQL.count("WHERE assign.cell IN (SELECT cell FROM probe)") == 1
Q106_SQL = Q80_SQL.replace(
    "WHERE assign.cell IN (SELECT cell FROM probe)",
    "WHERE assign.cell IN (SELECT cell FROM probe)\n"
    "    AND e.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 7)",
)


def q107_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search over the persisted IVF index
    (similarity.ivf_range_search): every vector in the probed cells
    with cosine >= 0.15 — the radius-query twin of q80's top-k (faiss
    `range_search`), where the ANSWER SIZE is a property of the data
    rather than a guessed k ("everything at least this similar": the
    near-dup sweep / retrieval-recall shape).  Same probe plan as q80
    (centroid TakeOrdered, partition-pruned posting scan, zero joins)
    with the top-k window replaced by a >= threshold filter; the result
    is bounded by threshold x probed fraction, never collected.  The
    unbounded output is exactly what the hash must prove: the oracle
    replays the full restricted scan and EVERY row above the bar, so a
    dropped or extra candidate anywhere in the probed cells fails the
    gate (a top-10 can mask scan bugs below rank 10; this cannot)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    return similarity.ivf_range_search(spark, idx, qv, 0.15, n_probe=3)


# q80's replay with the top-k tail swapped for the threshold filter —
# everything above the SELECT is shared verbatim (count==1 guard: a
# reworded Q80 must fail here, not produce a silently-wrong splice)
assert Q80_SQL.count("SELECT cand.vec_id,") == 1
Q107_SQL = Q80_SQL.split("SELECT cand.vec_id,")[0].rstrip().rstrip(")").rstrip() + """
),
scored AS (
  SELECT cand.vec_id,
         round(list_dot_product(cand.v, q.qv)
               / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM cand, q
)
SELECT vec_id, cosine_sim FROM scored
WHERE cosine_sim >= 0.15
ORDER BY cosine_sim DESC, vec_id ASC
"""


def q108_filtered_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filtered BATCH kNN join: q96's amortized-scan serving join
    with the q106 label restriction applied to the shared posting scan
    — filtered search at serving batch size (one semi-join against the
    allowed-id set covers the whole batch; per-query filtering would
    re-join per request).  Per-query results bit-identical to filtered
    single probes (asserted in tests/test_filtered_ann.py).  The oracle
    replays per-query probe selection, the shared label restriction,
    and the per-qid top-k windows."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    queries = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    allow = emb.where(F.col("label") == 7).select("vec_id")
    out = similarity.ivf_knn_join_index(
        spark, idx, queries, 10, n_probe=3, filter_ids=allow
    )
    return out.orderBy("qid", F.col("cosine_sim").desc(), "vec_id")


# q96's replay with the candidate set restricted to the label slice
Q108_SQL_FILTER = (
    "WHERE a.rn = 1\n"
    "    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 7)"
)


def q112_weighted_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reciprocal-rank fusion: q109's hybrid with the lexical
    list trusted 2:1 over the vector list — contribution w_i/(60+rank),
    the standard move when one modality is known stronger for a corpus
    (here: an arbitrary but pinned 2.0/1.0).  Same determinism contract
    as q109 (ranks over rounded scores, contributions rounded at source,
    exact scaled-bigint sum); the oracle differs from q109's ONLY in the
    two contribution constants, so this hash isolates exactly the
    weighting arithmetic."""
    from esper_tv_spark.operators.retrieval import rrf_fuse
    from esper_tv_spark.operators.similarity import ivf_probe_index
    from esper_tv_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    lex = (
        bm25_scores(docs, _Q75_TERMS)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
    )
    vec = ivf_probe_index(spark, idx, qv, 25, n_probe=3)
    return rrf_fuse(
        [(lex, "doc_id", "score", True), (vec, "vec_id", "cosine_sim", True)],
        k=60,
        weights=[2.0, 1.0],
    ).limit(20)


# q109's replay with only the two contribution constants reweighted —
# string-derived so the fusion replays can never drift structurally
def _q112_sql() -> str:
    sql = _q109_sql()
    lex_contrib = (
        "SELECT doc_id, CAST(round(round(1.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl\n"
        "  FROM lexrank"
    )
    assert sql.count(lex_contrib) == 1
    return sql.replace(
        lex_contrib,
        "SELECT doc_id, CAST(round(round(2.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl\n"
        "  FROM lexrank",
    )


def q113_dsl_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSL SURFACE itself, oracle-gated: this entry's body is
    `frontend.dsl.run_query(spec)` — a JSON-shaped spec compiled through
    the safe declarative surface (the replacement for the reference's
    exec-RCE query endpoint, app/query/views.py:56-66) — never a direct
    library call.  The spec is the weighted-hybrid shape the DSL gained
    in r9 (BM25 top-20 + persisted-IVF probe top-20, RRF-fused with the
    lexical list trusted 3:1, final top-15; constants deliberately
    distinct from q109's 1:1/25/20 and q112's 2:1 so this hash is its
    own answer, not a copy of either).  What the hash proves that
    pytest's bit-parity tests could not: the driver's oracle checks the
    COMPILED plan end-to-end against DuckDB — a compiler regression that
    mis-wires k_cand, weight order, or the rank/round discipline fails
    here even if the library units it composes all stay green."""
    from esper_tv_spark.frontend.dsl import run_query

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    spec = {
        "table": "documents",
        "similarity": {
            "op": "hybrid",
            "index": "faces",
            "terms": list(_Q75_TERMS),
            "query": qv,
            "k": 15,
            "k_cand": 20,
            "n_probe": 3,
            "weights": [3.0, 1.0],
        },
    }
    return run_query({"documents": docs}, spec, index_catalog={"faces": idx})


# q109's replay re-parameterized to q113's spec constants (k_cand 25->20,
# final top 20->15, lexical weight 1.0->3.0) — every splice is guarded so
# a reworded base fails at import, never silently reverts
def _q113_sql() -> str:
    sql = _q109_sql()
    final = "ORDER BY rrf_score DESC, doc_id ASC LIMIT 20"
    assert sql.count(final) == 1
    sql = sql.replace(final, "ORDER BY rrf_score DESC, doc_id ASC LIMIT 15")
    assert sql.count("LIMIT 25") == 2  # the lex and vec candidate lists
    sql = sql.replace("LIMIT 25", "LIMIT 20")
    lex_contrib = (
        "SELECT doc_id, CAST(round(round(1.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl\n"
        "  FROM lexrank"
    )
    assert sql.count(lex_contrib) == 1
    return sql.replace(
        lex_contrib,
        "SELECT doc_id, CAST(round(round(3.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl\n"
        "  FROM lexrank",
    )


def q114_interp_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by NORMALIZED SCORE INTERPOLATION
    (operators/retrieval.interp_fuse) — the other standard fusion next
    to q109's rank-based RRF: per candidate list, min-max normalize the
    rounded scores over the list, then fuse as 0.7·n_lex + 0.3·n_vec
    (the classic alpha blend; ids absent from a list contribute 0).
    Same candidate shapes as the q109 family (BM25 top-20, persisted-IVF
    probe top-20), final top-15.  What this hash isolates that q109's
    cannot: the GAP-PRESERVING arithmetic — RRF's contributions depend
    only on rank order, so a fusion bug that distorts normalized
    magnitudes (min/max over the wrong set, an unflipped ascending list,
    the constant-list convention) passes every rank-based gate and fails
    only here.  Determinism: normalization reads rounded scores, each
    weighted contribution is rounded at source and summed as scaled
    BIGINTs (the rrf_fuse contract).  Reference shape: captions.py
    lexical search upgraded with a calibrated-score blend."""
    from esper_tv_spark.operators.retrieval import interp_fuse
    from esper_tv_spark.operators.similarity import ivf_probe_index
    from esper_tv_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    lex = (
        bm25_scores(docs, _Q75_TERMS)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    vec = ivf_probe_index(spark, idx, qv, 20, n_probe=3)
    return interp_fuse(
        [(lex, "doc_id", "score", True), (vec, "vec_id", "cosine_sim", True)],
        weights=[0.7, 0.3],
    ).limit(15)


# q109's replay with the rank CTEs swapped for min-max stats and the
# contributions swapped for the weighted normalized scores — guarded
# splices, as the whole fusion family
def _q114_sql() -> str:
    sql = _q109_sql()
    assert sql.count("LIMIT 25") == 2  # the lex and vec candidate lists
    sql = sql.replace("LIMIT 25", "LIMIT 20")
    lexrank = (
        "lexrank AS (\n"
        "  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM lex\n"
        ")"
    )
    assert sql.count(lexrank) == 1
    sql = sql.replace(
        lexrank, "lstat AS (\n  SELECT min(score) AS mn, max(score) AS mx FROM lex\n)"
    )
    vecrank = (
        "vecrank AS (\n"
        "  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id ASC) AS rnk FROM vec\n"
        ")"
    )
    assert sql.count(vecrank) == 1
    sql = sql.replace(
        vecrank, "vstat AS (\n  SELECT min(cs) AS mn, max(cs) AS mx FROM vec\n)"
    )
    tail_start = sql.index(", contrib AS (")
    assert tail_start > 0
    return sql[:tail_start] + """, contrib AS (
  SELECT doc_id,
         CAST(round(round(0.7 * CASE WHEN s.mx = s.mn THEN 1.0
                                     ELSE (lex.score - s.mn) / (s.mx - s.mn) END, 9)
                    * 1e9, 0) AS BIGINT) AS cl
  FROM lex, lstat s
  UNION ALL
  SELECT doc_id,
         CAST(round(round(0.3 * CASE WHEN s.mx = s.mn THEN 1.0
                                     ELSE (vec.cs - s.mn) / (s.mx - s.mn) END, 9)
                    * 1e9, 0) AS BIGINT) AS cl
  FROM vec, vstat s
)
SELECT doc_id,
       round(CAST(sum(cl) AS BIGINT) / 1e9, 6) AS fused_score,
       count(*) AS n_lists
FROM contrib GROUP BY doc_id
ORDER BY fused_score DESC, doc_id ASC LIMIT 15
"""


def q110_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (corpus.weighted_sample): 50 documents drawn proportional to
    n_chars by SEQUENTIAL POISSON sampling (Ohlsson 1998 — n smallest
    ξ = u / w) with the uniform derived from the Knuth id hash —
    "sample documents by quality/importance mass" with audit-grade
    reproducibility (same draw on any partitioning, any engine).  The
    key uses ONLY IEEE division (correctly rounded by spec, so both
    engines produce bit-identical keys) — the Efraimidis-Spirakis
    ln(u)/w key was hash-broken by cross-engine ln() last-ulp noise at
    the sf100 gate, which is exactly the failure class this op's
    determinism contract exists to exclude.  Plan: filter + projection
    + TakeOrdered (per-partition heaps — no window, no global sort).
    The oracle replays the hash, the uniform, the key, and the
    bottom-50 cut."""
    from esper_tv_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "n_chars", 50)
    return out.select("doc_id", "n_chars", "sample_key").orderBy(
        F.col("sample_key").asc(), F.col("doc_id").asc()
    )


Q110_SQL = """
WITH h AS (
  SELECT doc_id, n_chars,
         CAST((doc_id::HUGEINT * 2654435761) % 4294967296 AS DOUBLE) AS hv
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       round(((hv + 0.5) / 4294967296.0) / n_chars, 9) AS sample_key
FROM h
ORDER BY sample_key ASC, doc_id ASC LIMIT 50
"""


def q111_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (corpus.pack_shards): documents in id
    order laid end to end and cut into ~2000-token shards — the "pack
    the corpus into fixed-token training shards" step.  The Spark side
    runs the two-level distributed prefix sum (partitioned within-group
    window + a window over the driver-small group-totals table) because
    a global-ORDER cumulative sum is a single-partition window at
    100 TB; the oracle replays the same packing as one flat cumulative
    sum — the distributed decomposition must be invisible in the
    answer.  Output: per-shard census (every document's shard
    assignment participates in the hash via id/token sums)."""
    from esper_tv_spark.operators.corpus import pack_shards

    docs = _t(spark, sf_dir, "documents")
    out = pack_shards(docs, budget=2000)
    return (
        out.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tok_sum"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("shard_id")
    )


Q111_SQL = """
WITH t AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM c GROUP BY 1 ORDER BY shard_id
"""


def q109_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval (operators/retrieval.hybrid_search): BM25
    lexical top-25 (q75's scorer) fused with the persisted-IVF probe's
    vector top-25 (q80's index) by reciprocal-rank fusion
    score(d) = Σ 1/(60 + rank_d) — the calibration-free list fusion
    every modern retrieval stack runs over exactly these two
    modalities (Cormack et al., SIGIR'09).  The reference ranks caption
    search lexically only (captions.py:93-103); this is that surface's
    standard upgrade.  Determinism is the operator's whole contract:
    ranks assigned over ROUNDED scores with id tie-breaks, contributions
    rounded at source and summed as scaled BIGINTs — the oracle replays
    BM25, the full IVF probe, both rank assignments, and the exact-sum
    fusion, so a rank swapped anywhere in either list fails the hash.
    The doc_id == vec_id identification is the fixture's (documents and
    embeddings share an id space, the q57/q75 stance)."""
    from esper_tv_spark.operators.retrieval import hybrid_search

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    return hybrid_search(
        docs, spark, idx, _Q75_TERMS, qv, 20, k_cand=25, n_probe=3
    )


def _q109_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _Q75_TERMS)
    return f"""
WITH lens AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
), post AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  ) WHERE term IN ({terms})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term
), lex AS (
  SELECT p.doc_id,
         round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 6)
           AS score
  FROM post p JOIN lens l USING (doc_id) JOIN dfreq f USING (term), stats s
  GROUP BY p.doc_id
  ORDER BY score DESC, p.doc_id LIMIT 25
), lexrank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM lex
), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
),
vec AS (
  SELECT cand.vec_id AS doc_id,
         round(list_dot_product(cand.v, q.qv)
               / (sqrt(list_dot_product(cand.v, cand.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cs
  FROM cand, q
  ORDER BY cs DESC, doc_id ASC LIMIT 25
), vecrank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id ASC) AS rnk FROM vec
), contrib AS (
  SELECT doc_id, CAST(round(round(1.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl
  FROM lexrank
  UNION ALL
  SELECT doc_id, CAST(round(round(1.0 / (60 + rnk), 9) * 1e9, 0) AS BIGINT) AS cl
  FROM vecrank
)
SELECT doc_id,
       round(CAST(sum(cl) AS BIGINT) / 1e9, 6) AS rrf_score,
       count(*) AS n_lists
FROM contrib GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 20
"""


def q81_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code census with deterministic codebooks:
    per (subspace, code), how many vectors quantize to that centroid,
    read straight from the persisted one-cell IVF-PQ index (the plain PQ
    store q88 probes) — q87's census-from-the-index pattern applied to
    the PQ codes.  Each stored rank maps back to its centroid id through
    `codebooks/` (m*k rows, broadcast), so the census is one aggregation
    over the codes.  The oracle replays the encode
    (`similarity.pq_assign_deterministic`'s rule) from the base table, so
    a single wrong stored code fails the gate (the KMeans-trained PQ
    with Arrow encode stays the data-adaptive variant, recall-tested in
    pytest)."""
    from esper_tv_spark.sources.sidecar import declared_parquet

    idx = _ivfpq_index_dir(spark, sf_dir, n_cells=1)
    ranks = declared_parquet(spark, os.path.join(idx, "cells")).select(
        F.col("id").alias("vec_id"), F.posexplode("codes").alias("subspace", "rk")
    )
    book = declared_parquet(spark, os.path.join(idx, "codebooks"))
    return (
        ranks.join(F.broadcast(book.select("subspace", "rk", "code")), ["subspace", "rk"])
        .groupBy("subspace", "code")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("vec_id").alias("id_sum"))
        .orderBy("subspace", "code")
    )


Q81_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
subs AS (
  SELECT e.vec_id, j.range AS subspace,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
),
cents AS (
  SELECT e.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16) e, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
)
SELECT subspace, code, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM a WHERE rn = 1 GROUP BY subspace, code ORDER BY subspace, code
"""


def q88_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k over a PERSISTED store: the plain PQ
    store is a one-cell IVF-PQ index (IVFADC with one coarse cell,
    similarity.ivfpq_build_index / ivfpq_probe_index), built once per
    dataset fingerprint — (id, packed code ranks) posting rows + the m*k
    codebooks.  Each probe builds the ADC lookup table from the stored
    codebooks on the driver, embeds it as a literal, and scores every
    code row with pure BIGINT expressions — scan -> project ->
    TakeOrdered, zero joins (plan asserted in tests/test_plans.py).  The
    oracle replays encode + LUT + scaled-int ADC sum end-to-end from the
    base table, so a single wrong stored code or LUT cell fails the
    gate.  Completes the build-once family: SRP (q51), IVF (q80/q87), PQ
    (q81/q88) — reference pattern face_embeddings.py:74-96 (frozen
    store, repeated queries)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivfpq_index_dir(spark, sf_dir, n_cells=1)
    return similarity.ivfpq_probe_index(spark, idx, qv, 10, n_probe=1)


Q88_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
subs AS (
  SELECT e.vec_id, j.range AS subspace,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
),
cents AS (
  SELECT e.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16) e, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
),
qs AS (
  SELECT j.range AS subspace, list_slice(q.qv, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM q, range(8) j
),
lut AS (
  SELECT c.subspace, c.code,
         CAST(round(round(list_dot_product(qs.sv, qs.sv)
                          - 2.0 * list_dot_product(qs.sv, c.sc)
                          + list_dot_product(c.sc, c.sc), 6) * 1000000.0, 0) AS BIGINT) AS sd2
  FROM cents c JOIN qs ON qs.subspace = c.subspace
),
s AS (
  SELECT a.vec_id, CAST(sum(l.sd2) AS BIGINT) AS ssum
  FROM a JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
  WHERE a.rn = 1
  GROUP BY a.vec_id
)
SELECT vec_id, round(ssum / 1000000.0, 6) AS adist
FROM s ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


def _ivfpq_index_dir(
    spark: SparkSession, sf_dir: str, n_cells: int = 16, m: int = 8, k: int = 16
) -> str:
    """Build (once per dataset fingerprint) and return the persisted
    IVF-PQ index for `sf_dir`'s embeddings — same stat-based fingerprint
    + stale-sibling eviction stance as `_hier_ivf_index_dir`: every config
    of the current data generation survives (q88's one-cell store and
    q92/q97's 16-cell index), only stale generations go.  Dirs of the
    PQ store q88 served before it moved here (`esper_tv_pq_store_*`)
    have no owner left, so every call sweeps them."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(
        tempfile.gettempdir(), f"esper_tv_ivfpq_idx_{sf_tag}_{tag}_c{n_cells}m{m}k{k}"
    )
    _evict_stale_siblings("esper_tv_pq_store_", keep=idx)
    if not (
        os.path.exists(os.path.join(idx, "codebooks", "_SUCCESS"))
        and os.path.exists(os.path.join(idx, "meta.json"))
    ):
        _evict_stale_siblings(
            f"esper_tv_ivfpq_idx_{sf_tag}_",
            keep=os.path.join(
                tempfile.gettempdir(), f"esper_tv_ivfpq_idx_{sf_tag}_{tag}"
            ),
        )
        # dim pinned like Q88_SQL's 8-wide subspace slices (the q81/q88
        # stance): both engines quantize the FIRST 64 dims whatever the
        # corpus width, so the oracle replays cross-scale unchanged
        similarity.ivfpq_build_index(
            _t(spark, sf_dir, "embeddings"), idx, n_cells=n_cells, m=m, k=k, dim=64
        )
    return idx


def q92_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined IVF-PQ ANN over a PERSISTED index (similarity.
    ivfpq_build_index / ivfpq_probe_index): posting lists partitioned by
    the deterministic Lloyd cell carry PQ CODE RANKS instead of vectors —
    the IVFADC system layout of Jegou et al. 2011 (raw-vector PQ so the
    oracle replays it), and the canonical billion-vector serving shape:
    a probe ranks 16 stored coarse centroids, builds the ADC LUT from the
    stored codebooks (two tiny driver jobs), and scans ONLY the 3 winning
    cells' partitions at ~8 ints per vector with literal-LUT BIGINT
    arithmetic — scan -> project -> TakeOrdered, zero joins (plan + probe
    I/O asserted in tests/test_plans.py).  The oracle replays coarse
    assignment + probe selection + PQ encode + LUT + scaled-int ADC sum
    end-to-end from the base table, so a wrong cell, code, or LUT cell
    fails the gate.  Fuses the q87 (IVF) and q88 (PQ) build-once stores
    into the index every production vector DB actually serves from."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _ivfpq_index_dir(spark, sf_dir)
    return similarity.ivfpq_probe_index(spark, idx, qv, 10, n_probe=3)


Q92_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
subs AS (
  SELECT e.vec_id, j.range AS subspace,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
),
cents AS (
  SELECT e.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16) e, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
),
qs AS (
  SELECT j.range AS subspace, list_slice(q.qv, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM q, range(8) j
),
lut AS (
  SELECT c.subspace, c.code,
         CAST(round(round(list_dot_product(qs.sv, qs.sv)
                          - 2.0 * list_dot_product(qs.sv, c.sc)
                          + list_dot_product(c.sc, c.sc), 6) * 1000000.0, 0) AS BIGINT) AS sd2
  FROM cents c JOIN qs ON qs.subspace = c.subspace
),
s AS (
  SELECT a.vec_id, CAST(sum(l.sd2) AS BIGINT) AS ssum
  FROM a
  JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
  JOIN assign ON assign.vec_id = a.vec_id AND assign.rn = 1
  WHERE a.rn = 1 AND assign.cell IN (SELECT cell FROM probe)
  GROUP BY a.vec_id
)
SELECT vec_id, round(ssum / 1000000.0, 6) AS adist
FROM s ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


def _q94_rotation(sf_dir: str) -> list[list[float]]:
    """The OPQ rotation for q94, derived ENGINE-FREE (pyarrow + numpy —
    similarity.opq_train_np) so the Spark query and the DuckDB oracle
    train the IDENTICAL R from the same corpus: sample = the 512
    smallest-id rows of the FIRST row group (deterministic given the
    file; row-group-local so a 2M-row sf100 corpus reads ~one copy, not
    2 GB), first 64 dims (the q92/q88 fixed-prefix stance), m=8, k=16,
    3 OPQ-NP iterations."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet"))
    t = pf.read_row_group(0, columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"])
    order = np.argsort(ids, kind="stable")[:512]
    x = np.array(
        [t["embedding"][int(i)].as_py() for i in order], dtype=np.float64
    )[:, :64]
    return similarity.opq_train_np(x, m=8, k=16, iters=3)


def _q94_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the OPQ-rotated IVF-PQ index
    over the first-64-dim slice of the embeddings."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(tempfile.gettempdir(), f"esper_tv_opq_idx_{sf_tag}_{tag}")
    if not (
        os.path.exists(os.path.join(idx, "codebooks", "_SUCCESS"))
        and os.path.exists(os.path.join(idx, "meta.json"))
    ):
        _evict_stale_siblings(f"esper_tv_opq_idx_{sf_tag}_", keep=idx)
        emb64 = _t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"), 1, 64).alias("embedding"),
        )
        similarity.ivfpq_build_index(
            emb64, idx, n_cells=16, m=8, k=16, dim=64,
            opq_rotation=_q94_rotation(sf_dir),
        )
    return idx


def q94_opq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated IVF-PQ ANN over a persisted index (Ge et al. 2013 on
    top of q92's IVFADC layout): the whole index lives in the ROTATED
    space — corpus rotated once at build (distributed BLAS GEMM), the
    learned R persisted beside the codebooks, the probe rotating the
    query driver-side before cell ranking and LUT construction.  The
    probe plan is UNCHANGED from q92 (scan -> project -> TakeOrdered,
    zero joins, partition-pruned posting lists): a rotation adds zero
    probe-time I/O or joins, which is exactly why OPQ is the standard
    recall upgrade for serving indexes.  The oracle replays EVERYTHING —
    the 64x64 rotation itself (embedded as a literal column table,
    re-trained engine-free from the same corpus sample via
    similarity.opq_train_np), coarse assignment, probe selection, PQ
    encode, LUT, scaled-int ADC — end-to-end from the base table.
    Rotation plumbing parity (index-with-R == plain index on
    pre-rotated vectors) and OPQ stream-insert bit-identity are pytest
    gates (tests/test_similarity.py, tests/test_streaming_ann.py);
    recall vs raw PQ is measured on the clustered fixture
    (tools/measure_pq_recall.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0][:64]
    ]
    idx = _q94_index_dir(spark, sf_dir)
    return similarity.ivfpq_probe_index(spark, idx, qv, 10, n_probe=3)


def _q94_sql() -> str:
    """Q94's oracle: Q92's full IVFADC replay with one extra CTE layer —
    the OPQ rotation applied relationally (vector x rotation-COLUMN dot
    products: n*64 rows with an O(64) list_dot_product each, never an
    n*64*64 unnest).  The rotation literal is re-derived from
    $SPARK_GRAFT_ORACLE_SF_DIR's corpus by the same engine-free trainer
    the Spark side uses (the q51 env-var stance: explicitly set but
    unreadable raises; unset falls back to the driver's sf0.01 gate
    corpus)."""
    explicit = "SPARK_GRAFT_ORACLE_SF_DIR" in os.environ
    src = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        rot = _q94_rotation(src)
    except Exception as e:
        if explicit:
            raise RuntimeError(
                f"SPARK_GRAFT_ORACLE_SF_DIR was set but {src} is unreadable: {e}"
            ) from e
        rot = _q94_rotation("/root/testdata/sf0.01")
    cols = ",\n".join(
        f"({i}, [{', '.join(repr(float(rot[j][i])) for j in range(64))}]::DOUBLE[])"
        for i in range(64)
    )
    return f"""
WITH e0 AS (SELECT vec_id,
                   list_transform(list_slice(embedding::DOUBLE[], 1, 64),
                                  x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
rotc(i, c) AS (VALUES {cols}),
rc AS (SELECT e0.vec_id, rotc.i, round(list_dot_product(e0.v, rotc.c), 6) AS x
       FROM e0, rotc),
e AS (SELECT vec_id, list(x ORDER BY i) AS v FROM rc GROUP BY vec_id),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
subs AS (
  SELECT e.vec_id, j.range AS subspace,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
),
cents AS (
  SELECT e.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16) e, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
),
qs AS (
  SELECT j.range AS subspace, list_slice(q.qv, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM q, range(8) j
),
lut AS (
  SELECT c.subspace, c.code,
         CAST(round(round(list_dot_product(qs.sv, qs.sv)
                          - 2.0 * list_dot_product(qs.sv, c.sc)
                          + list_dot_product(c.sc, c.sc), 6) * 1000000.0, 0) AS BIGINT) AS sd2
  FROM cents c JOIN qs ON qs.subspace = c.subspace
),
s AS (
  SELECT a.vec_id, CAST(sum(l.sd2) AS BIGINT) AS ssum
  FROM a
  JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
  JOIN assign ON assign.vec_id = a.vec_id AND assign.rn = 1
  WHERE a.rn = 1 AND assign.cell IN (SELECT cell FROM probe)
  GROUP BY a.vec_id
)
SELECT vec_id, round(ssum / 1000000.0, 6) AS adist
FROM s ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


def _q95_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the persisted IVF-SQ8 index
    over the embeddings (codes over the first 64 dims, the q92 stance)."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(tempfile.gettempdir(), f"esper_tv_ivfsq_idx_{sf_tag}_{tag}")
    if not (
        os.path.exists(os.path.join(idx, "centroids", "_SUCCESS"))
        and os.path.exists(os.path.join(idx, "meta.json"))
    ):
        _evict_stale_siblings(f"esper_tv_ivfsq_idx_{sf_tag}_", keep=idx)
        similarity.ivfsq_build_index(
            _t(spark, sf_dir, "embeddings"), idx, n_cells=16, dim=64
        )
    return idx


def q95_ivfsq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN over a persisted index (similarity.ivfsq_build_index /
    ivfsq_probe_index — the FAISS IVF+scalar-quantizer rung between
    q80's raw posting lists and q92's PQ codes): posting lists carry
    8-BIT SCALAR codes (1 byte/dim, no codebook — the quantizer is 2*dim
    floats of per-dimension bounds), and the asymmetric probe distance
    sum_j (q_j - decode(code_j))^2 is PLAIN AFFINE ARITHMETIC, fused
    into one zip_with/aggregate over literal bounds with per-term
    scaled-BIGINT rounding (accumulation-order-free).  Probe plan: same
    zero-join serving shape as q92 — rank 16 stored centroids, scan 3
    cells' partitions, TakeOrdered.  The oracle replays EVERYTHING from
    the base table: per-dimension min/max, the floor/clamp encode, the
    affine decode, the coarse assignment and probe selection — the
    entire index state is derivable in ANSI SQL, which PQ (iterative
    codebooks) can never fully claim.  Encode/decode expression trees
    mirror the SQL operation-for-operation so IEEE float64 results are
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    idx = _q95_index_dir(spark, sf_dir)
    return similarity.ivfsq_probe_index(spark, idx, qv, 10, n_probe=3)


Q95_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
probe AS (
  SELECT c.cell FROM c, q
  ORDER BY round(list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.cell ASC
  LIMIT 3
),
u AS (SELECT vec_id, j.range AS pos, v[j.range + 1] AS x FROM e, range(64) j),
b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM u GROUP BY pos),
codes AS (
  SELECT u.vec_id, u.pos,
         CASE WHEN b.mx - b.mn = 0.0 THEN 0
              ELSE LEAST(255, GREATEST(0,
                   CAST(floor(((u.x - b.mn) / (b.mx - b.mn)) * 256.0) AS INT)))
         END AS code
  FROM u JOIN b USING (pos)
),
qd AS (SELECT j.range AS pos, qv[j.range + 1] AS qx FROM q, range(64) j),
th AS (
  SELECT codes.vec_id,
         qd.qx - (b.mn + (CAST(codes.code AS DOUBLE) + 0.5) * ((b.mx - b.mn) / 256.0)) AS err
  FROM codes JOIN b USING (pos) JOIN qd USING (pos)
),
terms AS (
  SELECT vec_id, CAST(round(round(err * err, 6) * 1000000.0, 0) AS BIGINT) AS t
  FROM th
),
s AS (
  SELECT terms.vec_id, CAST(sum(t) AS BIGINT) AS ssum
  FROM terms
  JOIN assign ON assign.vec_id = terms.vec_id AND assign.rn = 1
  WHERE assign.cell IN (SELECT cell FROM probe)
  GROUP BY terms.vec_id
)
SELECT vec_id, round(ssum / 1000000.0, 6) AS adist
FROM s ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


def q96_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed BATCH kNN join (similarity.ivf_knn_join_index): a query
    BATCH (vec_ids 0, 7, 13) probes the q80 persisted IVF index in one
    pass — per-query cell ranking is a broadcast cross against the tiny
    centroid table + one narrow window; the posting lists are scanned
    ONCE for the union of probed cells; each posting row meets its
    probing queries via a broadcast join on `cell`; the only wide
    exchange is the per-qid top-k window.  This is the serving-batch
    twin of q80's single probe (per-query results bit-identical,
    asserted in tests/test_plans.py) and the INDEXED upgrade of q38's
    brute-force knn_join (n_probe/n_cells of the corpus scored instead
    of all of it).  The oracle replays cell assignment, per-query probe
    selection, in-cell cosine, and the per-query top-k window from the
    base table."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivf_index_dir(spark, sf_dir, n_cells=16)
    queries = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivf_knn_join_index(spark, idx, queries, 10, n_probe=3)
    return out.orderBy("qid", F.col("cosine_sim").desc(), "vec_id")


Q96_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 7, 13)),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
d AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM d
),
pr AS (
  SELECT qs.qid, c.cell,
         row_number() OVER (
           PARTITION BY qs.qid
           ORDER BY round(list_dot_product(c.cv, qs.qv)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(qs.qv, qs.qv))), 6) DESC,
                    c.cell ASC
         ) AS rn
  FROM qs, c
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM assign a JOIN pr p ON a.cell = p.cell AND p.rn <= 3
  WHERE a.rn = 1
),
scored AS (
  SELECT cand.qid, cand.vec_id,
         round(list_dot_product(e.v, qs.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS cosine_sim
  FROM cand JOIN e ON e.vec_id = cand.vec_id JOIN qs ON qs.qid = cand.qid
),
top AS (
  SELECT qid, vec_id, cosine_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT qid, vec_id, cosine_sim FROM top WHERE rn <= 10
ORDER BY qid, cosine_sim DESC, vec_id
"""

# q96's replay with the q108 label restriction spliced into the
# candidate CTE (Q108_SQL_FILTER is defined next to q108 above); the
# count==1 guard makes a reworded Q96 fail at import, not revert the
# oracle to the unfiltered join
assert Q96_SQL.count("WHERE a.rn = 1") == 1
Q108_SQL = Q96_SQL.replace("WHERE a.rn = 1", Q108_SQL_FILTER)


def q97_ivfpq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ADC probe of the persisted IVF-PQ index
    (similarity.ivfpq_knn_join_index): the q96 amortized-scan kNN join
    applied to PQ-coded posting lists — the batch-serving shape of the
    billion-vector index.  A 3-query batch (vec_ids 0, 7, 13) shares ONE
    partition-pruned scan of the union of probed cells; each code row is
    scored against every query probing its cell via a literal map
    qid -> ADC LUT (no join for the LUT — n_q*m*k longs inline); the
    only wide exchange is the per-qid top-k window.  Per-query results
    bit-identical to q92's single probe (asserted in
    tests/test_plans.py).  The oracle replays coarse assignment,
    per-query probe selection, PQ encode, per-query LUTs, and the
    scaled-int ADC sum for the whole batch."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivfpq_index_dir(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivfpq_knn_join_index(spark, idx, queries, 10, n_probe=3)
    return out.orderBy("qid", F.col("adist").asc(), "vec_id")


Q97_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qb AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 7, 13)),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
pr AS (
  SELECT qb.qid, c.cell,
         row_number() OVER (
           PARTITION BY qb.qid
           ORDER BY round(list_dot_product(c.cv, qb.qv)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(qb.qv, qb.qv))), 6) DESC,
                    c.cell ASC
         ) AS rn
  FROM qb, c
),
subs AS (
  SELECT e.vec_id, j.range AS subspace,
         list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM e, range(8) j
),
cents AS (
  SELECT e.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(e.v, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16) e, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
),
qsub AS (
  SELECT qb.qid, j.range AS subspace,
         list_slice(qb.qv, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM qb, range(8) j
),
lut AS (
  SELECT qsub.qid, c.subspace, c.code,
         CAST(round(round(list_dot_product(qsub.sv, qsub.sv)
                          - 2.0 * list_dot_product(qsub.sv, c.sc)
                          + list_dot_product(c.sc, c.sc), 6) * 1000000.0, 0) AS BIGINT) AS sd2
  FROM cents c JOIN qsub ON qsub.subspace = c.subspace
),
s AS (
  SELECT p.qid, a.vec_id, CAST(sum(l.sd2) AS BIGINT) AS ssum
  FROM a
  JOIN assign ON assign.vec_id = a.vec_id AND assign.rn = 1
  JOIN pr p ON p.cell = assign.cell AND p.rn <= 3
  JOIN lut l ON l.qid = p.qid AND l.subspace = a.subspace AND l.code = a.code
  WHERE a.rn = 1
  GROUP BY p.qid, a.vec_id
),
top AS (
  SELECT qid, vec_id, round(ssum / 1000000.0, 6) AS adist,
         row_number() OVER (PARTITION BY qid ORDER BY round(ssum / 1000000.0, 6) ASC, vec_id ASC) AS rn
  FROM s
)
SELECT qid, vec_id, adist FROM top WHERE rn <= 10
ORDER BY qid, adist ASC, vec_id
"""


def _q98_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the RESIDUAL IVF-PQ index
    (by_residual=True, rank-based coarse quantizer so the oracle can
    replay the codebook seeds) — same fingerprint + eviction stance as
    `_ivfpq_index_dir`."""
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(src)
    idx = os.path.join(tempfile.gettempdir(), f"esper_tv_ivfpqres_idx_{sf_tag}_{tag}")
    if not (
        os.path.exists(os.path.join(idx, "codebooks", "_SUCCESS"))
        and os.path.exists(os.path.join(idx, "meta.json"))
    ):
        _evict_stale_siblings(f"esper_tv_ivfpqres_idx_{sf_tag}_", keep=idx)
        similarity.ivfpq_build_index(
            _t(spark, sf_dir, "embeddings"), idx,
            n_cells=16, m=8, k=16, dim=64, by_residual=True,
        )
    return idx


def q98_ivfpq_residual_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ADC kNN join over the RESIDUAL IVF-PQ index (FAISS's
    default IVFADC refinement, Jegou et al. 2011 §IV): the stored codes
    quantize r = v - centroid[cell], so the query-side LUT differs PER
    PROBED CELL — the batch join keys its literal LUT map on the
    composite (qid, cell) pair (n_q * n_probe LUTs of m*k longs) instead
    of q97's qid alone.  This closes the batched-serving matrix for the
    highest-recall PQ rung: one partition-pruned posting scan shared by
    the whole batch, one broadcast (qid, cell) pair join, one per-qid
    top-k window.

    r10 carrier note: the entry now serves through the broadcast
    LUT-TABLE carrier (lut_literal_max_probe=2 < n_probe — the same
    carrier q105 pins at production probe depth): the inline-literal map
    costs ~2-4s of Catalyst compile for 9 x 128 literal longs at ANY
    data size, while the table carrier's LUTs ride the pair rows the
    join already broadcasts (measured 5.6s -> 1.5s under equal load,
    bit-identical — asserted in tests/test_plans.py across carriers).
    The inline-literal mechanism stays oracle-pinned via q97's qid-keyed
    literal map and the single probes' literal LUTs (q92/q94).

    The oracle replays EVERYTHING from the base table: coarse assignment,
    per-vector residuals, the residual codebook seeds (the 16 smallest
    NON-centroid ids — centroid rows have ~zero residuals and would
    degenerate the codebook), the residual PQ encode, per-(qid, cell)
    query-residual LUTs, and the scaled-int ADC sum.  Per-query results
    bit-identical to ivfpq_probe_index on the same index (asserted in
    tests/test_plans.py, raw/OPQ/residual/OPQ+residual).  Reference
    shape: batch serving of face_embeddings.py:74-96 knn."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _q98_index_dir(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivfpq_knn_join_index(
        spark, idx, queries, 10, n_probe=3, lut_literal_max_probe=2
    )
    return out.orderBy("qid", F.col("adist").asc(), "vec_id")


Q98_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qb AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 7, 13)),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
pr AS (
  SELECT qb.qid, c.cell,
         row_number() OVER (
           PARTITION BY qb.qid
           ORDER BY round(list_dot_product(c.cv, qb.qv)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(qb.qv, qb.qv))), 6) DESC,
                    c.cell ASC
         ) AS rn
  FROM qb, c
),
rv AS (
  SELECT e.vec_id,
         list_transform(list_zip(list_slice(e.v, 1, 64), list_slice(c.cv, 1, 64)),
                        z -> z[1] - z[2]) AS r
  FROM e
  JOIN assign ON assign.vec_id = e.vec_id AND assign.rn = 1
  JOIN c ON c.cell = assign.cell
),
cbv AS (
  SELECT vec_id, r FROM rv WHERE vec_id NOT IN (SELECT cell FROM c)
  ORDER BY vec_id LIMIT 16
),
cents AS (
  SELECT cbv.vec_id AS code, j.range AS subspace,
         list_transform(list_slice(cbv.r, j.range * 8 + 1, j.range * 8 + 8),
                        x -> round(x, 6)) AS sc
  FROM cbv, range(8) j
),
subs AS (
  SELECT rv.vec_id, j.range AS subspace,
         list_slice(rv.r, j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM rv, range(8) j
),
d AS (
  SELECT s.vec_id, s.subspace, c.code,
         round(list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(s.sv, c.sc)
               + list_dot_product(c.sc, c.sc), 6) AS d2
  FROM subs s JOIN cents c ON s.subspace = c.subspace
),
a AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
  FROM d
),
qres AS (
  SELECT p.qid, p.cell, j.range AS subspace,
         list_slice(list_transform(list_zip(list_slice(qb.qv, 1, 64),
                                            list_slice(c.cv, 1, 64)),
                                   z -> z[1] - z[2]),
                    j.range * 8 + 1, j.range * 8 + 8) AS sv
  FROM pr p
  JOIN qb ON qb.qid = p.qid
  JOIN c ON c.cell = p.cell, range(8) j
  WHERE p.rn <= 3
),
lut AS (
  SELECT qres.qid, qres.cell, c2.subspace, c2.code,
         CAST(round(round(list_dot_product(qres.sv, qres.sv)
                          - 2.0 * list_dot_product(qres.sv, c2.sc)
                          + list_dot_product(c2.sc, c2.sc), 6) * 1000000.0, 0) AS BIGINT) AS sd2
  FROM cents c2 JOIN qres ON qres.subspace = c2.subspace
),
s AS (
  SELECT p.qid, a.vec_id, CAST(sum(l.sd2) AS BIGINT) AS ssum
  FROM a
  JOIN assign ON assign.vec_id = a.vec_id AND assign.rn = 1
  JOIN pr p ON p.cell = assign.cell AND p.rn <= 3
  JOIN lut l ON l.qid = p.qid AND l.cell = p.cell
            AND l.subspace = a.subspace AND l.code = a.code
  WHERE a.rn = 1
  GROUP BY p.qid, a.vec_id
),
top AS (
  SELECT qid, vec_id, round(ssum / 1000000.0, 6) AS adist,
         row_number() OVER (PARTITION BY qid ORDER BY round(ssum / 1000000.0, 6) ASC, vec_id ASC) AS rn
  FROM s
)
SELECT qid, vec_id, adist FROM top WHERE rn <= 10
ORDER BY qid, adist ASC, vec_id
"""


def q105_lut_table_adc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched residual ADC kNN join at PRODUCTION probe depth, served
    through the broadcast-LUT-TABLE carrier: past `lut_literal_max_probe`
    probed cells per query, the per-(qid, cell) LUTs ride as a column of
    the broadcast pair rows instead of inline plan literals (at the
    n_probe=32 / n_cells=4*sqrt(n) configuration the 2M recall ladder
    says production needs, the inline map costs ~24s/query of Catalyst
    plan COMPILE — r8 measurement; the table carrier was 2.6x end-to-end
    at 2M x 8q x 32probe).  q98 gates the literal carrier at contract
    n_probe=3; THIS query pins the table carrier itself under the oracle
    hash: same index, same query batch, n_probe=12 with the literal
    threshold forced down to 8, so the carrier switch is exercised at
    gate scale every round.  The oracle is q98's replay with the probe
    rank widened to 10 and the batch cut to (0, 7) — the carrier is an
    execution detail the results must be invariant to, and the hash
    proves it against an independent engine rather than only against
    our own literal path (tests/test_plans.py keeps the bit-parity
    assert too).  Config note (r9 VERDICT #7): the original pin
    (3 queries x n_probe=12) spent 12% of the bench wall re-proving the
    same switch every round; 2 queries x n_probe=10 exercises the
    identical carrier path (10 > threshold 8) at ~half the cost, and
    the per-query plan is unchanged.  Reference shape: batch serving of
    face_embeddings.py:74-96 knn."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _q98_index_dir(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivfpq_knn_join_index(
        spark, idx, queries, 10, n_probe=10, lut_literal_max_probe=8
    )
    return out.orderBy("qid", F.col("adist").asc(), "vec_id")


# q98's replay with the probe rank widened to the table-carrier depth and
# the batch cut to (0, 7) — string-derived so the two oracles can never
# drift apart structurally; count==1 guards fail at import on a reworded base
assert Q98_SQL.count("p.rn <= 3") == 2  # both probe-rank sites widen together
assert Q98_SQL.count("vec_id IN (0, 7, 13)") == 1
Q105_SQL = Q98_SQL.replace("p.rn <= 3", "p.rn <= 10").replace(
    "vec_id IN (0, 7, 13)", "vec_id IN (0, 7)"
)


def q99_ivfsq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN join over the persisted IVF-SQ8 index
    (similarity.ivfsq_knn_join_index): q96's amortized-scan serving
    shape applied to 8-bit scalar-quantized posting lists.  The affine
    decode xhat = mn + (code + 0.5) * (mx - mn)/256 is query-INDEPENDENT
    arithmetic, so the batch needs no per-query LUTs at all — the
    broadcast (qid, cell) pair rows carry each query's dim-slice and the
    fused decode+score expression reads it as a column (op-for-op the
    single probe's tree, so IEEE float64 results are bit-identical —
    asserted per query in tests/test_plans.py).  ONE partition-pruned
    scan of the union of probed cells, one broadcast pair join, one
    per-qid top-k window.  The oracle replays bounds, encode, decode,
    per-query probe selection, and the scaled-BIGINT term sum for the
    whole batch from the base table — like q95, the entire index state
    is ANSI-SQL-derivable."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _q95_index_dir(spark, sf_dir)
    queries = emb.where(F.col("vec_id").isin([0, 7, 13])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.ivfsq_knn_join_index(spark, idx, queries, 10, n_probe=3)
    return out.orderBy("qid", F.col("adist").asc(), "vec_id")


Q99_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qb AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 7, 13)),
c AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS cv FROM e
      ORDER BY vec_id LIMIT 16),
cd AS (
  SELECT e.vec_id, c.cell,
         round(list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e, c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
  FROM cd
),
pr AS (
  SELECT qb.qid, c.cell,
         row_number() OVER (
           PARTITION BY qb.qid
           ORDER BY round(list_dot_product(c.cv, qb.qv)
                          / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(qb.qv, qb.qv))), 6) DESC,
                    c.cell ASC
         ) AS rn
  FROM qb, c
),
u AS (SELECT vec_id, j.range AS pos, v[j.range + 1] AS x FROM e, range(64) j),
b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM u GROUP BY pos),
codes AS (
  SELECT u.vec_id, u.pos,
         CASE WHEN b.mx - b.mn = 0.0 THEN 0
              ELSE LEAST(255, GREATEST(0,
                   CAST(floor(((u.x - b.mn) / (b.mx - b.mn)) * 256.0) AS INT)))
         END AS code
  FROM u JOIN b USING (pos)
),
qd AS (SELECT qb.qid, j.range AS pos, qb.qv[j.range + 1] AS qx FROM qb, range(64) j),
th AS (
  SELECT qd.qid, codes.vec_id,
         qd.qx - (b.mn + (CAST(codes.code AS DOUBLE) + 0.5) * ((b.mx - b.mn) / 256.0)) AS err
  FROM codes JOIN b USING (pos) JOIN qd USING (pos)
),
terms AS (
  SELECT qid, vec_id, CAST(round(round(err * err, 6) * 1000000.0, 0) AS BIGINT) AS t
  FROM th
),
s AS (
  SELECT p.qid, terms.vec_id, CAST(sum(t) AS BIGINT) AS ssum
  FROM terms
  JOIN assign ON assign.vec_id = terms.vec_id AND assign.rn = 1
  JOIN pr p ON p.cell = assign.cell AND p.rn <= 3 AND p.qid = terms.qid
  GROUP BY p.qid, terms.vec_id
),
top AS (
  SELECT qid, vec_id, round(ssum / 1000000.0, 6) AS adist,
         row_number() OVER (PARTITION BY qid ORDER BY round(ssum / 1000000.0, 6) ASC, vec_id ASC) AS rn
  FROM s
)
SELECT qid, vec_id, adist FROM top WHERE rn <= 10
ORDER BY qid, adist ASC, vec_id
"""


def q79_label_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label write-back composite (reference identity.py:165-199: calibrated
    probabilities bulk-created into a derived DB table, later re-read and
    aggregated). Batch-side derived-table update loop: the q52 interp
    probabilities are MATERIALIZED via sources/catalog.write_derived_table
    (overwrite-then-commit job ledger, idempotent backfill), the committed
    table is re-read, and the screen-time aggregate runs over the re-read
    rows — proving the write/read round trip preserves values exactly
    (parquet doubles are binary-exact). Oracle computes the same aggregate
    straight from lineitem, so any round-trip corruption would hash-fail."""
    import tempfile

    from esper_tv_spark.functions.interp import interp_expr
    from esper_tv_spark.sources.catalog import read_derived_table, write_derived_table

    li = _t(spark, sf_dir, "lineitem")
    score = F.col("l_discount") * F.lit(10.0)
    labels = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        interp_expr(score, _PREC_XS, _PREC_YS).alias("p"),
    )
    # Input-fingerprint-keyed base dir: a cache keyed only on the sf
    # basename served STALE labels when the testdata was regenerated
    # between rounds, and a per-run mkdtemp leaked a labels copy per call.
    # The stat fingerprint gives both: regenerated data -> new dir (fresh),
    # same data -> same dir (write_derived_table's ledger skip makes
    # repeat calls free). Stale siblings from prior generations are
    # best-effort evicted.
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    tag = _dir_fingerprint(os.path.join(sf_dir, "lineitem.parquet"))
    base = os.path.join(tempfile.gettempdir(), f"esper_tv_writeback_{sf_tag}_{tag}")
    _evict_stale_siblings(f"esper_tv_writeback_{sf_tag}_", keep=base)
    write_derived_table(labels, base, job=f"precision_labels_{sf_tag}")
    back = read_derived_table(spark, base)
    return back.groupBy("l_returnflag").agg(
        exact_sum(F.col("p") * F.col("x"), 4).alias("expected_sum"),
        exact_sum(F.col("p") * (F.lit(1.0) - F.col("p")) * F.col("x") * F.col("x"), 4).alias(
            "variance_sum"
        ),
        F.count(F.lit(1)).alias("n_labels"),
    )


def _q79_sql() -> str:
    from esper_tv_spark.functions.interp import interp_sql

    p = interp_sql("l_discount * CAST(10.0 AS DOUBLE)", _PREC_XS, _PREC_YS)
    return f"""
WITH t AS (SELECT l_returnflag, l_quantity AS x, {p} AS p FROM lineitem)
SELECT l_returnflag,
       {exact_sum_sql('p * x', 4)} AS expected_sum,
       {exact_sum_sql('p * (1.0 - p) * x * x', 4)} AS variance_sum,
       count(*) AS n_labels
FROM t GROUP BY l_returnflag
"""


def _oracle_embed_dim() -> int:
    """Embedding dim of the ORACLE corpus ($SPARK_GRAFT_ORACLE_SF_DIR,
    default the driver's sf0.01 gate dir) — keeps seeded plane/weight
    vectors in oracle SQL the same width the Spark side derives. An
    EXPLICITLY set but unreadable dir raises (never a silent dim-64
    fallback that shows up as an opaque hash mismatch)."""
    explicit = "SPARK_GRAFT_ORACLE_SF_DIR" in os.environ
    src = os.path.join(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet",
    )
    try:
        return _parquet_list_dim(src)
    except Exception as e:
        if explicit:
            raise RuntimeError(
                f"SPARK_GRAFT_ORACLE_SF_DIR was set but {src} is unreadable: {e}"
            ) from e
        return 64


def _q78_sql() -> str:
    from esper_tv_spark.operators.similarity import random_hyperplanes

    w = random_hyperplanes(_oracle_embed_dim(), 1, seed=5)[0]
    wlit = f"[{', '.join(repr(float(x)) for x in w)}]::DOUBLE[]"
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, label,
             round(list_dot_product(v, {wlit}) + -0.05, 6) AS logit
      FROM e)
SELECT label, CASE WHEN logit > 0 THEN 1 ELSE 0 END AS pred,
       count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM s GROUP BY label, pred ORDER BY label, pred
"""


def q63_sentiment_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment scoring + ranking (reference stores polarity/
    subjectivity per segment, models.py:100-101, and ranks by them,
    queries/other_queries.py:97-112). Broadcast lexicon join + one agg."""
    from esper_tv_spark.operators import sentiment

    docs = _t(spark, sf_dir, "documents")
    return sentiment.score_documents(docs).orderBy(
        F.col("polarity").desc(), F.col("doc_id").asc()
    )


def _q63_sql() -> str:
    from esper_tv_spark.operators import sentiment

    return (
        sentiment.score_documents_sql()
        + " ORDER BY polarity DESC, doc_id ASC"
    )


def q64_pos_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based POS tagging to the reference's word/POS/position table
    (spacy_tokenize.py:22-76; deterministic CASE-chain tagger, spaCy path
    import-gated). First 20 docs keep the contract result bounded."""
    from esper_tv_spark.operators import pos

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return pos.pos_table(docs)


def _q64_sql() -> str:
    from esper_tv_spark.operators import pos

    return f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS token
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE doc_id < 20)
)
SELECT doc_id, pos, token, {pos.pos_tag_sql('token')} AS tag
FROM toks
"""


def q65_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form centroid classifier: train on even vec_ids, classify odd
    ones (deterministic stand-in for the reference's knn/logreg training
    flows, face_embeddings.py:74-126) — the ML layer's hash-matched row."""
    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 2 == 0)
    test = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.nearest_centroid_classify(train, test)


Q65_SQL = """
WITH tr AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS val
  FROM embeddings WHERE vec_id % 2 = 0
), cd AS (
  SELECT label, dim,
         round(CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
               / CAST(count(val) AS DOUBLE), 6) AS cval
  FROM tr GROUP BY label, dim
), cents AS (
  SELECT label AS cl, list(cval ORDER BY dim ASC) AS centroid FROM cd GROUP BY label
), scored AS (
  SELECT e.vec_id, c.cl,
         round(list_dot_product(e.embedding::DOUBLE[], c.centroid)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
  FROM embeddings e, cents c WHERE e.vec_id % 2 = 1
), ranked AS (
  SELECT vec_id, cl, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cl ASC) AS rn
  FROM scored
)
SELECT vec_id, CAST(cl AS INTEGER) AS pred_label, sim AS similarity
FROM ranked WHERE rn = 1
"""


def q66_coverage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-set interval boolean algebra in one shuffle (operators/sweep.py):
    per user, the maximal segments covered by 'view' activity but by no
    'error' and no 'purchase' interval.  Replaces the chained rekall
    minus/union walk (commercial_detection_rekall.py:193-213) with a tagged
    boundary-event sweep — the scale path for set-level interval algebra."""
    from esper_tv_spark.operators.sweep import interval_boolean_sweep

    sets = {
        "view": _event_intervals(spark, sf_dir, "view").select("user_id", "start", "end"),
        "error": _event_intervals(spark, sf_dir, "error").select("user_id", "start", "end"),
        "purchase": _event_intervals(spark, sf_dir, "purchase").select("user_id", "start", "end"),
    }
    out = interval_boolean_sweep(
        sets,
        ["user_id"],
        lambda c: (c["view"] > 0) & (c["error"] == 0) & (c["purchase"] == 0),
    )
    return out.select(
        "user_id", F.col("start").alias("seg_start"), F.col("end").alias("seg_end")
    )


Q66_SQL = f"""
WITH v AS ({_iv_sql('view')}), er AS ({_iv_sql('error')}), p AS ({_iv_sql('purchase')}),
ev AS (
  SELECT user_id, start AS pos,  1 AS dv, 0 AS de, 0 AS dp FROM v
  UNION ALL SELECT user_id, "end", -1, 0, 0 FROM v
  UNION ALL SELECT user_id, start, 0,  1, 0 FROM er
  UNION ALL SELECT user_id, "end", 0, -1, 0 FROM er
  UNION ALL SELECT user_id, start, 0, 0,  1 FROM p
  UNION ALL SELECT user_id, "end", 0, 0, -1 FROM p
), per_pos AS (
  SELECT user_id, pos, sum(dv) AS dv, sum(de) AS de, sum(dp) AS dp
  FROM ev GROUP BY user_id, pos
), cov AS (
  SELECT user_id, pos,
         sum(dv) OVER w AS cv, sum(de) OVER w AS ce, sum(dp) OVER w AS cp,
         lead(pos) OVER (PARTITION BY user_id ORDER BY pos) AS next_pos
  FROM per_pos
  WINDOW w AS (PARTITION BY user_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), truth AS (
  SELECT user_id, pos, next_pos, (cv > 0 AND ce = 0 AND cp = 0) AS tr FROM cov
), runs AS (
  SELECT user_id, pos, next_pos, tr,
         sum(CASE WHEN prev_tr IS NULL OR prev_tr <> tr THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM (SELECT *, lag(tr) OVER (PARTITION BY user_id ORDER BY pos) AS prev_tr
        FROM truth)
)
SELECT user_id, min(pos) AS seg_start, max(next_pos) AS seg_end
FROM runs WHERE tr AND next_pos IS NOT NULL
GROUP BY user_id, run
"""


def q67_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.py): flag corpus docs
    sharing any word 5-gram with a deterministic holdout (doc_id % 29 == 0,
    the benchmark stand-in). Benchmark n-gram set broadcasts; the corpus
    side never shuffles before the per-doc collision count."""
    from esper_tv_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 29 == 0)
    corpus = docs.where(F.col("doc_id") % 29 != 0)
    out = decontaminate(corpus, bench, n=5)
    return out.select("doc_id", "source", "n_collisions", "contaminated")


Q67_SQL = """
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 29 <> 0),
bench AS (SELECT * FROM documents WHERE doc_id % 29 = 0),
bt AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM bench
), bg AS (
  SELECT DISTINCT unnest(list_transform(range(0, len(t) - 5 + 1),
                                        i -> array_to_string(t[i+1:i+5], ' '))) AS gram
  FROM bt WHERE len(t) >= 5
), ct AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM corpus
), cg AS (
  SELECT doc_id, unnest(list_transform(range(0, len(t) - 5 + 1),
                                       i -> array_to_string(t[i+1:i+5], ' '))) AS gram
  FROM ct WHERE len(t) >= 5
), hits AS (
  SELECT doc_id, count(*) AS n_collisions FROM cg JOIN bg USING (gram) GROUP BY doc_id
)
SELECT c.doc_id, c.source,
       coalesce(h.n_collisions, 0) AS n_collisions,
       coalesce(h.n_collisions, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


def q68_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source stratified sample by engine-portable hashed-id rank
    (corpus.stratified_sample_exact) — deterministic under reruns and
    repartitioning, one shuffle on the stratum key."""
    from esper_tv_spark.operators.corpus import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "source", 5).select("doc_id", "source")


Q68_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY (doc_id::HUGEINT * 2654435761) % 4294967296, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= 5
"""


def q69_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking for training shards (corpus.chunk_documents):
    32-token chunks with 8 tokens of overlap, pure array algebra (no
    shuffle, no UDF)."""
    from esper_tv_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


Q69_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), nz AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), ch AS (
  SELECT doc_id, t, greatest(CAST(ceil((n - 8) / 24.0) AS BIGINT), 1) AS n_chunks FROM nz
), ex AS (
  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, t FROM ch
)
SELECT doc_id, chunk_id,
       array_to_string(t[chunk_id*24 + 1 : chunk_id*24 + 32], ' ') AS chunk_text,
       len(t[chunk_id*24 + 1 : chunk_id*24 + 32]) AS n_tokens
FROM ex
"""


def q70_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+window trick (operators/asof.py): each
    purchase event annotated with the user's most recent view at or before
    it — ONE shuffle, no join node, density- and skew-insensitive (Spark
    has no native ASOF; a range join here would be quadratic per key)."""
    from esper_tv_spark.operators.asof import asof_join

    purchases = _event_intervals(spark, sf_dir, "purchase").select(
        "user_id", "event_id", "start"
    )
    views = _event_intervals(spark, sf_dir, "view").select("user_id", "start")
    out = asof_join(purchases, views, ["user_id"], ts_left="start", ts_right="start")
    return out.select(
        "user_id",
        "event_id",
        F.col("start").alias("purchase_start"),
        F.col("start_r").alias("last_view_start"),
    )


Q70_SQL = f"""
WITH p AS ({_iv_sql('purchase')}), v AS ({_iv_sql('view')})
SELECT p.user_id, p.event_id, p.start AS purchase_start,
       (SELECT max(v.start) FROM v
        WHERE v.user_id = p.user_id AND v.start <= p.start) AS last_view_start
FROM p
"""


def q83_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per source (functions/sketches.kmv_distinct):
    the engine-portable cardinality sketch — md5 hashes, k smallest per
    group, (k-1)/h_k estimator — deterministic, so unlike HLL the whole
    sketch is replayed by the oracle. Distinct token vocabulary per
    document source, estimated at k=64 alongside the exact count the
    estimate approximates."""
    from esper_tv_spark.functions.sketches import kmv_distinct
    from esper_tv_spark.operators.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = tokenize(docs).select("source", F.explode("tokens").alias("token"))
    est = kmv_distinct(toks, "token", ["source"], k=64)
    exact = toks.groupBy("source").agg(F.count_distinct("token").alias("n_exact"))
    return est.join(exact, "source").orderBy("source")


Q83_SQL = """
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
dist AS (SELECT DISTINCT source, token FROM toks),
hashed AS (
  SELECT source,
         CAST(CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS DOUBLE)
           / 1152921504606846976.0 AS h
  FROM dist
),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
  FROM hashed
),
kept AS (
  SELECT source, count(*) AS n_kept, max(h) AS hk
  FROM ranked WHERE rn <= 64 GROUP BY source
),
exact AS (SELECT source, count(DISTINCT token) AS n_exact FROM toks GROUP BY source)
SELECT k.source, k.n_kept,
       CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
            ELSE round(63.0 / k.hk, 4) END AS est_distinct,
       e.n_exact
FROM kept k JOIN exact e ON k.source = e.source ORDER BY k.source
"""


def q82_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join via the cogrouped pandas.merge_asof escape hatch
    (operators/asof.asof_join_cogrouped, direction='forward'): each
    purchase annotated with the user's NEXT error event at or after it —
    the directional variant the one-pass union/window encoding cannot
    express. Both sides shuffle once on the key; per key, Arrow hands the
    sorted groups to a linear merge. The oracle replays it with a
    correlated min() subquery."""
    from esper_tv_spark.operators.asof import asof_join_cogrouped

    purchases = _event_intervals(spark, sf_dir, "purchase").select(
        "user_id", "event_id", "start"
    )
    errors = _event_intervals(spark, sf_dir, "error").select("user_id", "start")
    out = asof_join_cogrouped(
        purchases, errors, ["user_id"], ts_left="start", ts_right="start",
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("start").alias("purchase_start"),
        F.col("start_r").alias("next_error_start"),
    )


Q82_SQL = f"""
WITH p AS ({_iv_sql('purchase')}), e AS ({_iv_sql('error')})
SELECT p.user_id, p.event_id, p.start AS purchase_start,
       (SELECT min(e.start) FROM e
        WHERE e.user_id = p.user_id AND e.start >= p.start) AS next_error_start
FROM p
"""


def q71_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> near-dup GROUPS: connected components over the
    verified LSH pairs (min-label propagation, O(log diameter) rounds),
    then keep-one-per-group annotation (dedup.connected_components /
    dedup_groups). Oracle: recursive-CTE transitive closure."""
    docs = _t(spark, sf_dir, "documents")
    pairs = (
        dedup.lsh_near_dup(docs, n_hashes=8, shingle_n=3, n_bands=4)
        .where(F.col("jaccard") >= 0.6)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    out = dedup.dedup_groups(docs, pairs, "doc_id")
    return out.select("doc_id", "group_id", "is_keeper")


Q71_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
), sig AS (
  SELECT doc_id, {{mh}}
  FROM sh GROUP BY doc_id
), buckets AS (
  {{bands}}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM buckets l JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM cand p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.ngram = a.ngram
  GROUP BY p.id_a, p.id_b
), pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE) >= 0.6
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
), comp AS (
  SELECT node, min(lab) AS group_id FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(c.group_id, d.doc_id) AS group_id,
       coalesce(c.group_id, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q72_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter metrics (corpus.repetition_stats):
    per-doc bigram totals, duplicate-gram fraction, and top-gram share —
    the boilerplate/spam screen run before training. One explode + one
    (doc, gram) shuffle with map-side partial aggs."""
    from esper_tv_spark.operators.corpus import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs, n=2)
    return out.select(
        "doc_id",
        "n_grams",
        "distinct_grams",
        F.round("dup_gram_frac", 6).alias("dup_gram_frac"),
        "top_gram_count",
        F.round("top_gram_frac", 6).alias("top_gram_frac"),
    )


Q72_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(range(0, len(t) - 2 + 1),
                                       i -> array_to_string(t[i+1:i+2], ' '))) AS gram
  FROM toks WHERE len(t) >= 2
), counts AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_grams,
       count(*) AS distinct_grams,
       round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE), 6) AS dup_gram_frac,
       CAST(max(cnt) AS BIGINT) AS top_gram_count,
       round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS top_gram_frac
FROM counts GROUP BY doc_id
"""


def q73_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (corpus.redact_pii): mask emails / IPv4s / SSNs /
    phone numbers and count matches per type. The corpus text is word soup,
    so deterministic PII is synthesized per doc_id first (email + phone +
    ipv4 always, SSN on every third doc) — then the regex chain, pure
    codegen'd expressions, must find and mask exactly those."""
    from esper_tv_spark.operators.corpus import redact_pii

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        ).alias("text"),
    )
    out = redact_pii(aug)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "text_redacted"
    )


def _q73_sql() -> str:
    from esper_tv_spark.operators.corpus import _PII_ORDER, PII_PATTERNS

    aug = (
        "SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com or 555-'"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text"
        " FROM documents"
    )
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{PII_PATTERNS[n]}')) AS n_{n}"
        for n in _PII_ORDER
    )
    red = "text"
    for n in _PII_ORDER:
        red = f"regexp_replace({red}, '{PII_PATTERNS[n]}', '[{n.upper()}]', 'g')"
    return (
        f"WITH aug AS ({aug}) "
        f"SELECT doc_id, {counts}, {red} AS text_redacted FROM aug"
    )


def q74_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (functions/sketches.py): token frequencies in a
    fixed depth x width grid (state bounded by the sketch, not the key
    domain; cells merge as plain partial aggs), probed for the exact top-20
    tokens so the CM upper-bound property (est >= exact) is visible in the
    output. Deterministic md5 bucketing -> the sketch itself is
    hash-matched against the oracle, not just the estimates."""
    from esper_tv_spark.functions.sketches import (
        build_count_min,
        cm_estimate,
        heavy_hitters_exact,
    )

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != F.lit(""))).alias("word")
    )
    sketch = build_count_min(words, "word", depth=4, width=256)
    top = heavy_hitters_exact(words, "word", 20).withColumnRenamed("cnt", "exact_cnt")
    est = cm_estimate(sketch, top.select("word"), "word", depth=4, width=256)
    return top.join(est, "word").select("word", "exact_cnt", "est_count")


Q74_SQL = """
WITH words AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
), ds AS (SELECT unnest(range(0, 4)) AS d),
cells AS (
  SELECT d,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || word), 1, 15) AS BIGINT)
           % 256 AS bucket,
         count(*) AS cnt
  FROM words, ds GROUP BY 1, 2
), top AS (
  SELECT word, count(*) AS exact_cnt FROM words GROUP BY word
  ORDER BY exact_cnt DESC, word LIMIT 20
), probes AS (SELECT word, exact_cnt, d FROM top, ds)
SELECT p.word, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
FROM probes p
LEFT JOIN cells c
  ON c.d = p.d
 AND c.bucket = CAST('0x' || substr(md5(CAST(p.d AS VARCHAR) || '|' || p.word), 1, 15) AS BIGINT) % 256
GROUP BY p.word, p.exact_cnt
"""


_Q75_TERMS = ["merge", "window", "customer"]


def q75_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/text.bm25_scores): top-25 documents
    for a 3-term query. Postings are filtered to the query terms before the
    first shuffle; df/corpus stats broadcast. Scores rounded at source so
    JVM-vs-C++ ln() ULP noise can't break hash parity."""
    from esper_tv_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, _Q75_TERMS)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(25)
    )


def _q75_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _Q75_TERMS)
    return f"""
WITH lens AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
), post AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  ) WHERE term IN ({terms})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term
)
SELECT p.doc_id,
       round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * (p.tf * 2.2) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 6)
         AS score
FROM post p JOIN lens l USING (doc_id) JOIN dfreq f USING (term), stats s
GROUP BY p.doc_id
ORDER BY score DESC, p.doc_id
LIMIT 25
"""


def q76_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (corpus.mix_sources): fixed per-source
    keep rates applied as a deterministic hash filter — no RNG state, no
    shuffle, reproducible on any partitioning. Output: per-source kept
    counts (the mixing audit table)."""
    from esper_tv_spark.operators.corpus import mix_sources

    docs = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    out = mix_sources(docs, rates)
    return (
        out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum"))
        .orderBy("source")
    )


Q76_SQL = """
SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents
WHERE CAST((doc_id::HUGEINT * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 <
      CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                  WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 ELSE 0.0 END
GROUP BY source ORDER BY source
"""


_CORRUPT_NEXT = {
    "click": "error",
    "error": "purchase",
    "purchase": "signup",
    "signup": "view",
    "view": "click",
}


def q77_bootstrap_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap bias/std of confusion-adjusted per-class totals — the
    reference's headline statistical method (validation.py:67-81, 201-292:
    10k-trial bootstrap of gender screen-time totals with confusion-matrix
    adjustment). Here the 'classifier' is a deterministic 15% cyclic
    corruption of event_type (so truth is known), sample units are users,
    and the estimator is domain/validation.bootstrap_adjusted_totals —
    seeded Knuth-hash resampling + integer-exact trial statistics, fully
    replayable in ANSI SQL."""
    from esper_tv_spark.domain.validation import bootstrap_adjusted_totals

    from esper_tv_spark.operators.corpus import portable_hash

    ev = _t(spark, sf_dir, "events")
    # portable_hash, not a raw multiply: sf1-scale event ids overflow int64
    # under id * 2654435761 (caught by the scale rehearsal)
    corrupt = portable_hash(F.col("event_id")) % F.lit(20) < 3
    nxt = F.col("event_type")
    for src, dst in reversed(list(_CORRUPT_NEXT.items())):
        nxt = F.when(F.col("event_type") == src, F.lit(dst)).otherwise(nxt)
    labeled = ev.select(
        "user_id",
        F.when(corrupt, nxt).otherwise(F.col("event_type")).alias("pred"),
        F.col("event_type").alias("truth"),
    )
    out = bootstrap_adjusted_totals(
        labeled, "user_id", "pred", "truth", trials=200, k=100, seed=42
    )
    return out.orderBy("cls", "variant")


_CORRUPT_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{s}' THEN '{d}'" for s, d in _CORRUPT_NEXT.items())
    + " END"
)

Q77_SQL = f"""
WITH dets AS (
  SELECT user_id AS unit,
         CASE WHEN (event_id::HUGEINT * 2654435761) % 4294967296 % 20 < 3
              THEN {_CORRUPT_CASE} ELSE event_type END AS pred,
         event_type AS truth
  FROM events
),
cmat AS (SELECT truth, pred, count(*) AS n FROM dets GROUP BY truth, pred),
colsum AS (SELECT pred, CAST(sum(n) AS BIGINT) AS col_n FROM cmat GROUP BY pred),
p4 AS (
  SELECT cmat.truth, cmat.pred,
         CAST(round(10000.0 * CAST(cmat.n AS DOUBLE) / CAST(colsum.col_n AS DOUBLE)) AS BIGINT) AS p4
  FROM cmat JOIN colsum ON cmat.pred = colsum.pred
),
unit_counts AS (SELECT unit, pred, count(*) AS cnt FROM dets GROUP BY unit, pred),
unit_idx AS (
  SELECT unit, row_number() OVER (ORDER BY unit) - 1 AS idx
  FROM (SELECT DISTINCT unit FROM dets)
),
nu AS (SELECT count(*) AS n_units FROM unit_idx),
grid AS (
  SELECT t.range AS t,
         ((42 + t.range * 100 + j.range)::HUGEINT * 2654435761) % 4294967296 % (SELECT n_units FROM nu) AS idx
  FROM range(200) t, range(100) j
),
draws AS (SELECT g.t, u.unit FROM grid g JOIN unit_idx u ON g.idx = u.idx),
totals_t AS (
  SELECT d.t, c.pred, CAST(sum(c.cnt) AS BIGINT) AS total
  FROM draws d JOIN unit_counts c ON d.unit = c.unit GROUP BY d.t, c.pred
),
unadj_t AS (SELECT t, pred AS cls, total * 10000 AS s FROM totals_t),
adj_t AS (
  SELECT tt.t, p4.truth AS cls, CAST(sum(tt.total * p4.p4) AS BIGINT) AS s
  FROM totals_t tt JOIN p4 ON tt.pred = p4.pred GROUP BY tt.t, p4.truth
),
full_tot AS (SELECT pred, count(*) AS total FROM dets GROUP BY pred),
est_unadj AS (SELECT pred AS cls, total * 10000 AS est_s FROM full_tot),
est_adj AS (
  SELECT p4.truth AS cls, CAST(sum(f.total * p4.p4) AS BIGINT) AS est_s
  FROM full_tot f JOIN p4 ON f.pred = p4.pred GROUP BY p4.truth
),
true_tot AS (SELECT truth AS cls, count(*) AS true_total FROM dets GROUP BY truth),
summ_u AS (
  SELECT cls, CAST(sum(s) AS BIGINT) AS sum_s, CAST(sum(s * s) AS BIGINT) AS sum_sq
  FROM unadj_t GROUP BY cls
),
summ_a AS (
  SELECT cls, CAST(sum(s) AS BIGINT) AS sum_s, CAST(sum(s * s) AS BIGINT) AS sum_sq
  FROM adj_t GROUP BY cls
),
-- outer-join spine mirroring the Spark side: a class predicted but never
-- hand-labeled reports against true_total=0, and a class never drawn in a
-- trial reports sum_s=0 — neither is silently dropped
out_u AS (
  SELECT COALESCE(s.cls, e.cls) AS cls, 'unadjusted' AS variant,
         CAST(COALESCE(e.est_s, 0) AS DOUBLE) / 10000.0 AS est,
         CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0
           - CAST(COALESCE(tt.true_total, 0) AS DOUBLE) AS bias,
         sqrt(CAST(COALESCE(s.sum_sq, 0) AS DOUBLE) / 200.0 / 10000.0 / 10000.0
              - (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0)
                * (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0)) AS std
  FROM summ_u s FULL OUTER JOIN est_unadj e ON s.cls = e.cls
  LEFT JOIN true_tot tt ON COALESCE(s.cls, e.cls) = tt.cls
),
out_a AS (
  SELECT COALESCE(s.cls, e.cls) AS cls, 'adjusted' AS variant,
         CAST(COALESCE(e.est_s, 0) AS DOUBLE) / 10000.0 AS est,
         CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0
           - CAST(COALESCE(tt.true_total, 0) AS DOUBLE) AS bias,
         sqrt(CAST(COALESCE(s.sum_sq, 0) AS DOUBLE) / 200.0 / 10000.0 / 10000.0
              - (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0)
                * (CAST(COALESCE(s.sum_s, 0) AS DOUBLE) / 200.0 / 10000.0)) AS std
  FROM summ_a s FULL OUTER JOIN est_adj e ON s.cls = e.cls
  LEFT JOIN true_tot tt ON COALESCE(s.cls, e.cls) = tt.cls
)
SELECT * FROM out_u UNION ALL SELECT * FROM out_a ORDER BY cls, variant
"""


def q115_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated token spans (dedup.repeated_ngram_spans)
    — exact substring-level dedup, the pass LLM corpora run AFTER document
    dedup (Lee et al. 2021's "Deduplicating Training Data" repeated-substring
    removal, re-expressed relationally): token 6-grams occurring in >= 2
    distinct documents, merged per doc into maximal half-open token spans
    via gaps-and-islands.  The n-gram table is built inside the token array
    (transform/sequence/slice higher-order functions), so only (id, pos,
    md5) rows ever explode; dup detection is one exact groupBy(h) distinct-
    doc count — no LSH, no pair blowup.  Extends the reference's whole-item
    dedup (face_embeddings.py:74-96) below document granularity."""
    from esper_tv_spark.operators.dedup import repeated_ngram_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_ngram_spans(docs, n=6, min_docs=2)


Q115_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
g AS (
  SELECT doc_id, p, md5(array_to_string(arr[p+1:p+6], ' ')) AS h
  FROM (SELECT doc_id, arr, unnest(range(0, greatest(len(arr) - 6 + 1, 0))) AS p FROM toks)
),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, p FROM g JOIN dup USING (h)),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 6 THEN 1 ELSE 0 END AS brk
  FROM hits
),
grp AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM isl)
SELECT doc_id, min(p) AS span_start, max(p) + 6 AS span_end,
       max(p) + 6 - min(p) AS span_tokens, count(*) AS n_grams
FROM grp GROUP BY doc_id, gid
"""


def q116_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel with a 24h per-step window
    (events.funnel): signup -> click -> purchase, each step strictly after
    the previous and within 86,400s of it (greedy earliest-anchor — the
    product-analytics convention).  ONE shuffle: per-user event lists sort
    in-row (array_sort) and a fold (aggregate higher-order function) runs
    the stage automaton JVM-side; the oracle replays the classic per-step
    min-join encoding, equivalent under strict-> chaining.  Extends the
    reference's per-interval event algebra (rekall) with ordered
    per-entity sequence analytics."""
    from esper_tv_spark.operators.events import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["signup", "click", "purchase"], max_gap_seconds=86400
    )


Q116_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 86400 SECOND
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 86400 SECOND
  GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS step, 'signup' AS step_name, (SELECT count(*) FROM s1) AS users
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
"""


def q117_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (graph.pagerank_fixed) over the symmetrized
    customer-supplier purchase graph (distinct o_custkey/l_suppkey pairs,
    both directions, so outdeg >= 1 everywhere): 3 damped iterations at
    scale 1e9, top-20 nodes.  EXACT bigint arithmetic end to end — rank
    div outdeg contributions, (15*scale) div 100 + (85*sum) div 100
    update — so the iterative DataFrame loop (one join + one
    partial-aggregated groupBy per round, lineage localCheckpoint-
    truncated) hash-matches a DuckDB replay unrolled as chained CTEs.
    The iterative-algorithm capability next to dedup.connected_components'
    pointer jumping.

    r10 optimization (results identical, guide §2.3 "narrower types"):
    the loop runs on BIGINT node ids (custkey -> 2k, suppkey -> 2k+1 —
    injective over the bipartite id spaces) and only materializes the
    'c<id>'/'s<id>' display strings for the FINAL 184k-row rank table,
    before the same (pr desc, node asc) string-ordered top-20.  Every
    join/groupBy key in the 3-iteration loop is then an 8-byte long
    instead of a ~9-char string (measured with the lineage-truncation
    fix in pagerank_fixed: 6.3s strings -> 3.6s bigint at sf0.1)."""
    from esper_tv_spark.operators.graph import pagerank_fixed

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = pairs.select(
        (F.col("c").cast("long") * 2).alias("src"),
        (F.col("s").cast("long") * 2 + 1).alias("dst"),
    )
    rev = pairs.select(
        (F.col("s").cast("long") * 2 + 1).alias("src"),
        (F.col("c").cast("long") * 2).alias("dst"),
    )
    ranks = pagerank_fixed(fwd.unionByName(rev), iters=3, scale=10**9)
    named = ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.expr("node div 2").cast("string"),
        ).alias("node"),
        "pr",
    )
    return named.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(20)


def _q117_sql(iters: int = 3) -> str:
    sql = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pairs
  UNION ALL
  SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM nodes)"""
    for i in range(iters):
        sql += f""",
r{i + 1} AS (
  SELECT n.node,
         CAST(150000000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.pr // d.outdeg) AS inc
    FROM edges e JOIN r{i} r ON e.src = r.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst) i ON n.node = i.node)"""
    return sql + f"""
SELECT node, pr FROM r{iters} ORDER BY pr DESC, node ASC LIMIT 20
"""


def q118_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k by Maximal Marginal Relevance
    (retrieval.mmr_rerank): brute-force cosine top-30 candidates for the
    vec_id=0 query (the q31 list), then 10 greedy MMR picks at
    lam=0.7/mu=0.3 — relevance traded against max similarity to what is
    already picked.  The greedy loop is k bounded driver steps, but every
    score (candidate rel, pairwise sims, the blend, the rounding, the
    tie-breaks) is an engine expression, so DuckDB replays the identical
    10 steps as unrolled CTEs and the hash gates the DIVERSITY mechanics
    — a rerank that quietly returns the relevance order passes q31 but
    fails here.  Serving shape: candidate generation bounds everything;
    the all-pairs sim table is fetch_k^2 = 900 rows."""
    from esper_tv_spark.operators.retrieval import candidate_pairwise_sims, mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    cand = similarity.cosine_topk(emb, qv, 30)
    cand_vecs = emb.join(F.broadcast(cand.select("vec_id")), "vec_id").select(
        "vec_id", "embedding"
    )
    sims = candidate_pairwise_sims(cand_vecs)
    return mmr_rerank(cand, sims, k=10)


def _q118_sql(k: int = 10, fetch: int = 30) -> str:
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    sql = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT vec_id, {cos.format(a='embedding::DOUBLE[]', b='qv')} AS rel,
         embedding::DOUBLE[] AS v
  FROM embeddings, q
  ORDER BY rel DESC, vec_id ASC LIMIT {fetch}
),
sim AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {cos.format(a='a.v', b='b.v')} AS s
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (
  SELECT vec_id, round(0.7 * rel, 6) AS mmr FROM cand
  ORDER BY mmr DESC, vec_id ASC LIMIT 1
),
p1 AS MATERIALIZED (SELECT vec_id FROM s1)"""
    for i in range(2, k + 1):
        sql += f""",
s{i} AS (
  SELECT c.vec_id,
         round(0.7 * c.rel - 0.3 * (
           SELECT max(s.s) FROM sim s JOIN p{i - 1} p ON s.ib = p.vec_id
           WHERE s.ia = c.vec_id), 6) AS mmr
  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p{i - 1})
  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
),
p{i} AS MATERIALIZED (SELECT vec_id FROM p{i - 1} UNION ALL SELECT vec_id FROM s{i})"""
    parts = [
        f"SELECT CAST({i} AS INT) AS pick, vec_id, mmr AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    ]
    return sql + "\n" + "\nUNION ALL ".join(parts)


def q119_fuzzy_title_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage (dedup.edit_similarity_join): all
    document-title pairs (first 5 tokens) within Levenshtein distance 2,
    via PassJoin segment blocking — pigeonhole-complete candidates from
    one equi-join on (length, segno, segment), exact `levenshtein` verify
    on candidates only, never the O(n^2) cross join the DuckDB oracle
    runs.  The string near-match dedup family next to MinHash (token
    sets), SimHash (bit sketches) and SRP (vectors); the reference dedups
    whole items only (face_embeddings.py:74-96)."""
    from esper_tv_spark.operators.dedup import edit_similarity_join

    docs = _t(spark, sf_dir, "documents")
    titles = docs.select(
        "doc_id",
        F.array_join(
            F.slice(F.filter(F.split("text", " "), lambda x: x != ""), 1, 5), " "
        ).alias("s"),
    )
    out = edit_similarity_join(titles, t=2, id_col="doc_id", str_col="s")
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("dist").cast("int").alias("dist"),
    )


Q119_SQL = """
WITH d AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:5], ' ') AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.s, b.s) AS INT) AS dist
FROM d a JOIN d b
  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2
"""


def q120_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly rollup with gap fill + LOCF (events.gap_fill) — the
    hypertable `time_bucket_gapfill`/`locf` shape: per event type, every
    hour in the global [min, max] range appears exactly once; empty hours
    carry cnt=0, the last non-empty hour's avg value (last_value IGNORE
    NULLS), and filled=true.  Extends the engine's rollups (q16 hourly,
    streaming/rollup.py) with the DENSE-series contract downstream
    feature pipelines assume."""
    from esper_tv_spark.operators.events import gap_fill

    ev = _t(spark, sf_dir, "events")
    return gap_fill(ev, bucket="1 hour", by="event_type")


Q120_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         count(*) AS cnt,
         round((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0)
               / CAST(count(value) AS DOUBLE), 6) + 0.0 AS avg_val
  FROM events GROUP BY 1, 2
),
ext AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM ext),
dims AS (SELECT DISTINCT event_type FROM events),
dense AS (SELECT event_type, bucket FROM spine CROSS JOIN dims)
SELECT d.event_type, d.bucket,
       COALESCE(a.cnt, 0) AS cnt,
       last_value(a.avg_val IGNORE NULLS) OVER (
         PARTITION BY d.event_type ORDER BY d.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_val_locf,
       a.cnt IS NULL AS filled
FROM dense d LEFT JOIN agg a
  ON d.event_type = a.event_type AND d.bucket = a.bucket
"""


def q121_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy hitters over token trigrams (corpus.heavy_hitters):
    Misra-Gries candidate sketch (bounded counters per partition, the only
    shuffle state) + exact recount of candidates — the two-pass pattern
    that replaces a full-cardinality groupBy at corpus scale.  phi=5e-5
    (k=20,000 counters).  The output is exact and partitioning-
    independent (the sketch is a provable candidate SUPERSET; the final
    counts and threshold are computed exactly), which is what lets a
    sketch-fronted plan hash-match a brute-force DuckDB GROUP BY."""
    from esper_tv_spark.operators.corpus import heavy_hitters
    from esper_tv_spark.operators.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    tri = (
        tokenize(docs, "text")
        .where(F.size("tokens") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tokens) - 3), "
                    "i -> concat_ws(' ', slice(tokens, i + 1, 3)))"
                )
            ).alias("g")
        )
    )
    return heavy_hitters(tri, "g", phi=5e-5).select(
        F.col("g").alias("gram"), F.col("cnt").cast("long").alias("cnt")
    )


Q121_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
tri AS (
  SELECT array_to_string(arr[p+1:p+3], ' ') AS g
  FROM (SELECT arr, unnest(range(0, greatest(len(arr) - 2, 0))) AS p FROM toks)
),
tot AS (SELECT count(*) AS n FROM tri)
SELECT g AS gram, count(*) AS cnt
FROM tri, tot
GROUP BY g, n
HAVING count(*) >= ceil(0.00005 * n)
"""


def q122_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-threshold join via AllPairs prefix filtering
    (dedup.set_similarity_join): every document pair with 3-gram-shingle
    Jaccard >= 0.5 — the DETERMINISTIC twin of q28's MinHash-LSH path
    (no probabilistic recall loss; candidates come from a df-ordered
    prefix equi-join, the oracle brute-forces all pairs).  Completes the
    near-dup family: exact (q27), LSH (q28), SimHash (q29), winnowing
    (q60), SRP vectors (q51), SemDeDup (q85), edit distance (q119) — and
    now exact threshold similarity."""
    from esper_tv_spark.operators.dedup import set_similarity_join

    docs = _t(spark, sf_dir, "documents")
    return set_similarity_join(docs, tau=0.5, shingle_n=3)


Q122_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, greatest(len(t) - 3, -1) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
  FROM toks WHERE len(t) >= 3
),
sets AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.n_common AS DOUBLE) / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
FROM inter i JOIN sets sa ON sa.doc_id = i.id_a JOIN sets sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= 0.5
"""


def q125_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (p50/p90/p99 of event values) via
    distributed histogram refinement (aggregates.exact_quantiles) — no
    global sort, no sketch approximation: integer bucket counts locate
    each target rank, the candidate bucket narrows ~64x per round, and
    the exact k-th smallest finishes on the bounded remainder.  Pinned to
    buckets=64 / max_rows_exact=500 so the gate exercises the refinement
    loop (not just the small-n exact tail) at every sf.  The oracle is
    the rank definition itself: min value with row_number >= ceil(q*n)."""
    from esper_tv_spark.functions.aggregates import exact_quantiles

    ev = _t(spark, sf_dir, "events")
    res = exact_quantiles(ev, "value", [0.5, 0.9, 0.99], buckets=64, max_rows_exact=500)
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in res], "q DOUBLE, value DOUBLE"
    )


Q125_SQL = """
WITH r AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rk, count(*) OVER () AS n
  FROM events WHERE value IS NOT NULL
)
SELECT CAST(0.5 AS DOUBLE) AS q, min(value) AS value FROM r WHERE rk >= ceil(0.5 * n)
UNION ALL SELECT CAST(0.9 AS DOUBLE), min(value) FROM r WHERE rk >= ceil(0.9 * n)
UNION ALL SELECT CAST(0.99 AS DOUBLE), min(value) FROM r WHERE rk >= ceil(0.99 * n)
"""


def q126_grouped_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE weighted sampling quotas (corpus.weighted_sample_grouped):
    5 documents per source drawn proportional to n_chars by the same
    sequential-Poisson engine-portable key as q110 — the "per-source
    sampling budget weighted by document mass" step between q68's uniform
    strata and q110's global draw.  One shuffle on the group key + a
    bounded per-group window; no global sort."""
    from esper_tv_spark.operators.corpus import weighted_sample_grouped

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_grouped(
        docs.where(F.col("n_chars") > 0), "source", "n_chars", 5
    )
    return out.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "sample_key",
        F.col("draw_rank").cast("int").alias("draw_rank"),
    )


Q126_SQL = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST((doc_id::HUGEINT * 2654435761) % 4294967296 AS DOUBLE) AS hv
  FROM documents WHERE n_chars > 0
),
k AS (
  SELECT doc_id, source, n_chars,
         round(((hv + 0.5) / 4294967296.0) / n_chars, 9) AS sample_key
  FROM h
),
r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY source ORDER BY sample_key ASC, doc_id ASC) AS INT) AS draw_rank
  FROM k
)
SELECT doc_id, source, n_chars, sample_key, draw_rank FROM r WHERE draw_rank <= 5
"""


def q123_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-purchase graph (parts
    sharing an order), via degree-ordered orientation
    (graph.triangle_count) — oriented out-degree is O(sqrt(m)) for any
    degree distribution, so the wedge join never hits the deg^2 hub
    blowup the naive plan has.  The oracle brute-enumerates each triangle
    once by id ordering; the engine enumerates each once by DEGREE
    ordering — hash equality proves the two enumerations count the same
    set, which is exactly the orientation-correctness claim."""
    from esper_tv_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    # r10 edge build (guide §2.4 — same distinct edge set, one less wide
    # shuffle): per-order part sets via ONE partial-aggregated groupBy +
    # in-array pair expansion, instead of the lineitem⋈lineitem self-join
    # (which shuffled the fact table twice before the distinct).
    # Per-order part counts are small (TPC-H ~4 lines/order), so the
    # collected array and its ~k²/2 expansion are bounded per row.
    # Measured interleaved at sf0.1: edge-set build 5.1s -> 2.7s, full
    # query ~12.3 -> ~10.7s, byte-identical output.
    arr = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    edges = (
        arr.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x as src, y as dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        # no .distinct() here: triangle_count canonicalizes and distincts
        # its input anyway (src < dst already by the sorted-array build,
        # so its least/greatest pass-through dedups the same set) — the
        # entry-level distinct was a SECOND full shuffle of the pair
        # stream for the same result (guide §2.4)
    )
    return triangle_count(edges).select(
        F.col("node").cast("long").alias("node"),
        F.col("triangles").cast("long").alias("triangles"),
    )


Q123_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT node, count(*) AS triangles FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY node
"""


def q124_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (events.cohort_retention): users
    cohorted by the week of their first event; cell (cohort, offset)
    counts distinct users active offset weeks later.  The third classic
    product-analytics shape on the events substrate, next to q116's
    funnel and q17's sessions.  Offsets are exact integer epoch
    arithmetic on date_trunc'd boundaries — engine-portable."""
    from esper_tv_spark.operators.events import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, granularity="week").select(
        "cohort_start",
        F.col("period_offset").cast("long").alias("period_offset"),
        F.col("users").cast("long").alias("users"),
    )


Q124_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_start
  FROM events GROUP BY user_id
),
act AS (
  SELECT e.user_id, f.cohort_start, CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS b
  FROM events e JOIN first f ON e.user_id = f.user_id
)
SELECT cohort_start,
       CAST((epoch(b) - epoch(cohort_start)) // 604800 AS BIGINT) AS period_offset,
       count(DISTINCT user_id) AS users
FROM act
GROUP BY 1, 2
"""


# ==========================================================================
# driver contract
# ==========================================================================

# ORDERING CONTRACT: the driver's correctness harness checks only the FIRST
# 50 dict entries (round-1 lesson: 12 registered queries fell past the
# cutoff and got no correctness row).  Round-5 rotation: the window holds
# the pinned flagships, every query whose CODE PATH changed this round
# (q56 fused-scan re-plan; q29 bit-sum simhash; q28/q37/q60/q71/q85/q51
# via the now-default operator shuffle advice; q48/q85 via the rank-based
# Lloyd init), and q02 — the one query whose only driver record was
# round-1 (the r4 window comment wrongly claimed all below-cutoff rows
# were r3-green; q02's was r1, now re-proven here).  Queries below the
# cutoff were driver-green in round 3 or 4 on code paths unchanged since;
# their record stands (CORRECTNESS_r03/r04) and all remain verified by
# tools/check.py locally.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ORDER GENERATED by tools/rotate_window.py — the driver checks only
    # the first 50 entries; the window is flagships + every query whose
    # code path changed since its last driver record (git-diff-driven,
    # see the tool's docstring) + stalest-record fill.
    "q08_weighted_screen_time": q08_weighted_screen_time,
    "q56_commercial_detection": q56_commercial_detection,
    "q85_semantic_dedup": q85_semantic_dedup,
    "q51_near_dup_embeddings": q51_near_dup_embeddings,
    "q37_jaccard_verify": q37_jaccard_verify,
    "q28_minhash_lsh_pairs": q28_minhash_lsh_pairs,
    "q94_opq_ann": q94_opq_ann,
    "q95_ivfsq_ann": q95_ivfsq_ann,
    "q96_ivf_knn_join": q96_ivf_knn_join,
    "q97_ivfpq_knn_join": q97_ivfpq_knn_join,
    "q98_ivfpq_residual_knn_join": q98_ivfpq_residual_knn_join,
    "q99_ivfsq_knn_join": q99_ivfsq_knn_join,
    "q92_ivfpq_ann": q92_ivfpq_ann,
    "q80_ivf_ann": q80_ivf_ann,
    "q100_hier_ivf_ann": q100_hier_ivf_ann,
    "q101_hier_ivf_knn_join": q101_hier_ivf_knn_join,
    "q102_ivf_delete_probe": q102_ivf_delete_probe,
    "q103_trained_groups_ann": q103_trained_groups_ann,
    "q104_retired_cell_probe": q104_retired_cell_probe,
    "q105_lut_table_adc_join": q105_lut_table_adc_join,
    "q106_filtered_ann": q106_filtered_ann,
    "q107_range_search": q107_range_search,
    "q108_filtered_knn_join": q108_filtered_knn_join,
    "q112_weighted_rrf": q112_weighted_rrf,
    "q113_dsl_hybrid": q113_dsl_hybrid,
    "q114_interp_fusion": q114_interp_fusion,
    "q116_event_funnel": q116_event_funnel,
    "q117_pagerank": q117_pagerank,
    "q84_png_decode_stats": q84_png_decode_stats,
    "q109_hybrid_rrf_search": q109_hybrid_rrf_search,
    "q87_ivf_cell_census": q87_ivf_cell_census,
    "q118_mmr_diversified": q118_mmr_diversified,
    "q115_repeated_spans": q115_repeated_spans,
    "q119_fuzzy_title_join": q119_fuzzy_title_join,
    "q120_gap_fill": q120_gap_fill,
    "q121_heavy_hitters": q121_heavy_hitters,
    "q122_set_similarity_join": q122_set_similarity_join,
    "q124_cohort_retention": q124_cohort_retention,
    "q29_simhash": q29_simhash,
    "q93_minhash_cw_pairs": q93_minhash_cw_pairs,
    "q60_winnow_pairs": q60_winnow_pairs,
    "q71_dedup_groups": q71_dedup_groups,
    "q58_clean_corpus": q58_clean_corpus,
    "q123_triangle_count": q123_triangle_count,
    "q125_exact_quantiles": q125_exact_quantiles,
    "q126_grouped_weighted_sample": q126_grouped_weighted_sample,
    "q88_pq_adc_topk": q88_pq_adc_topk,
    "q81_pq_codes": q81_pq_codes,
    "q77_bootstrap_validation": q77_bootstrap_validation,
    "q67_decontaminate": q67_decontaminate,
    # ---- position 50 cutoff: rows below hold a prior-round green
    # ---- record on code paths unchanged since (rule enforced above)
    "q32_label_centroids": q32_label_centroids,
    "q33_embedding_norms": q33_embedding_norms,
    "q38_knn_join": q38_knn_join,
    "q57_knn_predict": q57_knn_predict,
    "q110_weighted_sample": q110_weighted_sample,
    "q111_shard_packing": q111_shard_packing,
    "q72_repetition_stats": q72_repetition_stats,
    "q73_pii_redact": q73_pii_redact,
    "q76_corpus_mix": q76_corpus_mix,
    "q68_stratified_sample": q68_stratified_sample,
    "q69_chunk_documents": q69_chunk_documents,
    "q48_kmeans_clusters": q48_kmeans_clusters,
    "q65_nearest_centroid": q65_nearest_centroid,
    "q47_ann_topk": q47_ann_topk,
    "q55_panel_scene_graph": q55_panel_scene_graph,
    "q20_interval_minus": q20_interval_minus,
    "q66_coverage_sweep": q66_coverage_sweep,
    "q02_top_revenue_orders": q02_top_revenue_orders,
    "q04_late_ship_priority": q04_late_ship_priority,
    "q05_quiet_customers": q05_quiet_customers,
    "q06_top_order_per_customer": q06_top_order_per_customer,
    "q09_sum_distinct_orders": q09_sum_distinct_orders,
    "q10_orders_with_seven_items": q10_orders_with_seven_items,
    "q11_orders_by_dateparts": q11_orders_by_dateparts,
    "q13_part_string_ops": q13_part_string_ops,
    "q14_math_ops": q14_math_ops,
    "q15_rollup_revenue": q15_rollup_revenue,
    "q35_sliding_topic": q35_sliding_topic,
    "q36_trigram_tf": q36_trigram_tf,
    "q39_status_priority_cube": q39_status_priority_cube,
    "q19_interval_overlap_pairs": q19_interval_overlap_pairs,
    "q21_interval_overlap_measure": q21_interval_overlap_measure,
    "q22_interval_merge_near": q22_interval_merge_near,
    "q34_interview_composite": q34_interview_composite,
    "q79_label_writeback": q79_label_writeback,
    "q54_stride_sample": q54_stride_sample,
    "q61_median_price": q61_median_price,
    "q62_grouping_sets": q62_grouping_sets,
    "q70_asof_join": q70_asof_join,
    "q74_count_min_heavy_hitters": q74_count_min_heavy_hitters,
    "q75_bm25_search": q75_bm25_search,
    "q82_asof_forward": q82_asof_forward,
    "q83_kmv_distinct": q83_kmv_distinct,
    "q63_sentiment_rank": q63_sentiment_rank,
    "q46_asset_decode_stats": q46_asset_decode_stats,
    "q64_pos_tags": q64_pos_tags,
    "q24_word_counts": q24_word_counts,
    "q30_source_token_stats": q30_source_token_stats,
    "q89_wav_decode_stats": q89_wav_decode_stats,
    "q90_avi_decode_stats": q90_avi_decode_stats,
    "q91_video_frame_sample": q91_video_frame_sample,
    "q78_logreg_score": q78_logreg_score,
    "q31_knn": q31_knn,
    "q01_pricing_summary": q01_pricing_summary,
    "q03_region_revenue": q03_region_revenue,
    "q07_balance_percentile": q07_balance_percentile,
    "q12_customer_setops": q12_customer_setops,
    "q16_events_hourly": q16_events_hourly,
    "q17_event_sessions": q17_event_sessions,
    "q18_interval_coalesce": q18_interval_coalesce,
    "q23_phrase_search": q23_phrase_search,
    "q25_doc_quality": q25_doc_quality,
    "q26_language_id": q26_language_id,
    "q27_doc_fingerprints": q27_doc_fingerprints,
    "q40_views_before_purchase": q40_views_before_purchase,
    "q41_split_chunks": q41_split_chunks,
    "q42_hourly_profile": q42_hourly_profile,
    "q43_latest_event_per_user": q43_latest_event_per_user,
    "q53_point_in_interval": q53_point_in_interval,
    "q44_lowercase_segments": q44_lowercase_segments,
    "q45_caption_query_search": q45_caption_query_search,
    "q49_json_props": q49_json_props,
    "q50_auto_join_path": q50_auto_join_path,
    "q52_precision_bucket_probability": q52_precision_bucket_probability,
    "q59_bpe_token_counts": q59_bpe_token_counts,
    "q86_jpeg_decode_stats": q86_jpeg_decode_stats,
}

_ORACLES: dict[str, str] = {
    "q01_pricing_summary": Q01_SQL,
    "q02_top_revenue_orders": Q02_SQL,
    "q03_region_revenue": Q03_SQL,
    "q04_late_ship_priority": Q04_SQL,
    "q05_quiet_customers": Q05_SQL,
    "q06_top_order_per_customer": Q06_SQL,
    "q07_balance_percentile": Q07_SQL,
    "q08_weighted_screen_time": Q08_SQL,
    "q09_sum_distinct_orders": Q09_SQL,
    "q10_orders_with_seven_items": Q10_SQL,
    "q11_orders_by_dateparts": Q11_SQL,
    "q12_customer_setops": Q12_SQL,
    "q13_part_string_ops": Q13_SQL,
    "q14_math_ops": Q14_SQL,
    "q15_rollup_revenue": Q15_SQL,
    "q16_events_hourly": Q16_SQL,
    "q17_event_sessions": Q17_SQL,
    "q18_interval_coalesce": Q18_SQL,
    "q19_interval_overlap_pairs": Q19_SQL,
    "q20_interval_minus": Q20_SQL,
    "q21_interval_overlap_measure": Q21_SQL,
    "q22_interval_merge_near": Q22_SQL,
    "q23_phrase_search": Q23_SQL,
    "q24_word_counts": Q24_SQL,
    "q25_doc_quality": Q25_SQL,
    "q26_language_id": Q26_SQL,
    "q27_doc_fingerprints": Q27_SQL,
    "q28_minhash_lsh_pairs": Q28_SQL,
    "q93_minhash_cw_pairs": Q93_SQL,
    "q95_ivfsq_ann": Q95_SQL,
    "q96_ivf_knn_join": Q96_SQL,
    "q97_ivfpq_knn_join": Q97_SQL,
    "q98_ivfpq_residual_knn_join": Q98_SQL,
    "q99_ivfsq_knn_join": Q99_SQL,
    "q29_simhash": Q29_SQL,
    "q30_source_token_stats": Q30_SQL,
    "q31_knn": Q31_SQL,
    "q32_label_centroids": Q32_SQL,
    "q33_embedding_norms": Q33_SQL,
    "q34_interview_composite": Q34_SQL,
    "q35_sliding_topic": Q35_SQL,
    "q36_trigram_tf": Q36_SQL,
    "q37_jaccard_verify": Q37_SQL,
    "q38_knn_join": Q38_SQL,
    "q39_status_priority_cube": Q39_SQL,
    "q40_views_before_purchase": Q40_SQL,
    "q41_split_chunks": Q41_SQL,
    "q42_hourly_profile": Q42_SQL,
    "q43_latest_event_per_user": Q43_SQL,
    "q44_lowercase_segments": Q44_SQL,
    "q45_caption_query_search": Q45_SQL,
    "q49_json_props": Q49_SQL,
    "q50_auto_join_path": Q50_SQL,
    "q51_near_dup_embeddings": _q51_sql(),
    "q52_precision_bucket_probability": _q52_sql(),
    "q53_point_in_interval": _q53_sql(),
    "q54_stride_sample": Q54_SQL,
    "q55_panel_scene_graph": Q55_SQL,
    "q57_knn_predict": Q57_SQL,
    "q58_clean_corpus": Q58_SQL,
    "q59_bpe_token_counts": Q59_SQL,
    "q60_winnow_pairs": Q60_SQL,
    "q61_median_price": Q61_SQL,
    "q62_grouping_sets": Q62_SQL,
    "q47_ann_topk": _q47_sql(),
    "q63_sentiment_rank": _q63_sql(),
    "q64_pos_tags": _q64_sql(),
    "q65_nearest_centroid": Q65_SQL,
    "q66_coverage_sweep": Q66_SQL,
    "q67_decontaminate": Q67_SQL,
    "q68_stratified_sample": Q68_SQL,
    "q69_chunk_documents": Q69_SQL,
    "q70_asof_join": Q70_SQL,
    "q71_dedup_groups": Q71_SQL.format(mh=_MH_AGGS, bands=_BAND_SELECTS),
    "q56_commercial_detection": _q56_sql(),
    "q72_repetition_stats": Q72_SQL,
    "q73_pii_redact": _q73_sql(),
    "q74_count_min_heavy_hitters": Q74_SQL,
    "q75_bm25_search": _q75_sql(),
    "q76_corpus_mix": Q76_SQL,
    "q77_bootstrap_validation": Q77_SQL,
    "q48_kmeans_clusters": Q48_SQL,
    "q78_logreg_score": _q78_sql(),
    "q46_asset_decode_stats": Q46_SQL,
    "q79_label_writeback": _q79_sql(),
    "q80_ivf_ann": Q80_SQL,
    "q100_hier_ivf_ann": Q100_SQL,
    "q101_hier_ivf_knn_join": Q101_SQL,
    "q102_ivf_delete_probe": Q102_SQL,
    "q103_trained_groups_ann": Q103_SQL,
    "q104_retired_cell_probe": Q104_SQL,
    "q105_lut_table_adc_join": Q105_SQL,
    "q106_filtered_ann": Q106_SQL,
    "q107_range_search": Q107_SQL,
    "q108_filtered_knn_join": Q108_SQL,
    "q109_hybrid_rrf_search": _q109_sql(),
    "q110_weighted_sample": Q110_SQL,
    "q111_shard_packing": Q111_SQL,
    "q112_weighted_rrf": _q112_sql(),
    "q113_dsl_hybrid": _q113_sql(),
    "q114_interp_fusion": _q114_sql(),
    "q115_repeated_spans": Q115_SQL,
    "q119_fuzzy_title_join": Q119_SQL,
    "q120_gap_fill": Q120_SQL,
    "q121_heavy_hitters": Q121_SQL,
    "q122_set_similarity_join": Q122_SQL,
    "q123_triangle_count": Q123_SQL,
    "q125_exact_quantiles": Q125_SQL,
    "q126_grouped_weighted_sample": Q126_SQL,
    "q124_cohort_retention": Q124_SQL,
    "q116_event_funnel": Q116_SQL,
    "q117_pagerank": _q117_sql(),
    "q118_mmr_diversified": _q118_sql(),
    "q81_pq_codes": Q81_SQL,
    "q87_ivf_cell_census": Q87_SQL,
    "q88_pq_adc_topk": Q88_SQL,
    "q92_ivfpq_ann": Q92_SQL,
    "q82_asof_forward": Q82_SQL,
    "q83_kmv_distinct": Q83_SQL,
    "q84_png_decode_stats": Q84_SQL,
    "q86_jpeg_decode_stats": Q86_SQL,
    "q89_wav_decode_stats": Q89_SQL,
    "q90_avi_decode_stats": Q90_SQL,
    "q91_video_frame_sample": Q91_SQL,
    "q85_semantic_dedup": Q85_SQL,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the esper probability-weighted screen-time aggregation
    (E/Var per group) on sf0.001."""
    return q08_weighted_screen_time(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLES)
    # re-derived at CALL time, not import time: q51's plane count and the
    # q47/q51/q78 plane/weight widths follow $SPARK_GRAFT_ORACLE_SF_DIR
    # (tools/check.py sets it per gate corpus)
    out["q51_near_dup_embeddings"] = _q51_sql()
    out["q47_ann_topk"] = _q47_sql()
    out["q78_logreg_score"] = _q78_sql()
    # q94's rotation literal is trained from the oracle corpus itself
    out["q94_opq_ann"] = _q94_sql()
    return out
