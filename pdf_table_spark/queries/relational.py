"""Relational and window coverage on the star schema, with DuckDB
twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import _t


def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"))
    )


PRICING_SUMMARY_SQL = """
            select l_returnflag, l_linestatus,
                   sum(l_quantity) as sum_qty,
                   sum(l_extendedprice) as sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) as sum_disc_price,
                   round(avg(l_quantity), 6) as avg_qty,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """


def top_revenue_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
            .alias("revenue"))
    )
    return (
        od.join(F.broadcast(cu.filter(F.col("c_mktsegment") == "BUILDING")),
                od.o_custkey == F.col("c_custkey"))
        .join(rev, od.o_orderkey == rev.l_orderkey)
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


TOP_REVENUE_ORDERS_SQL = """
            with rev as (
              select l_orderkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 6)
                       as revenue
              from lineitem group by l_orderkey
            )
            select o_orderkey, revenue, o_orderdate
            from orders
            join customer on o_custkey = c_custkey
              and c_mktsegment = 'BUILDING'
            join rev on o_orderkey = l_orderkey
            order by revenue desc, o_orderkey
            limit 10
        """


def salted_priority_revenue(spark, sf_dir):
    # the skew-handling salted join, hash-checked against a PLAIN
    # SQL join: salting must be invisible in the result
    from pdf_table_spark.ops.skew import salted_join
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    j = salted_join(li, od, "l_orderkey", salt=8)
    # whole-unit revenue: double summation order differs between
    # engines at the 1e-3 level on 1e8 magnitudes, so the compared
    # value is discretized (margin 0.5 vs drift ~1e-3)
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))))
        .cast("bigint").alias("revenue"),
        F.count("*").alias("n_items"))


SALTED_PRIORITY_REVENUE_SQL = """
            select o_orderpriority,
                   cast(round(sum(l_extendedprice * (1 - l_discount)))
                        as bigint) as revenue,
                   count(*) as n_items
            from lineitem
            join orders on l_orderkey = o_orderkey
            group by o_orderpriority
        """


def event_sessions(spark, sf_dir):
    # W1's SQL analogue on a real event stream: 30-min-gap
    # sessionization via lag + running sum of boundary flags.
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            epoch - F.lag(epoch, 1).over(w) > 1800, 1).otherwise(0))
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


EVENT_SESSIONS_SQL = """
            with flagged as (
              select user_id, ts, event_id,
                     case when epoch(ts) - lag(epoch(ts)) over (
                       partition by user_id order by ts, event_id) > 1800
                       then 1 else 0 end as new_session
              from events
            ), sess as (
              select user_id,
                     sum(new_session) over (
                       partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as session_id
              from flagged
            )
            select user_id, cast(max(session_id) + 1 as bigint) as n_sessions,
                   count(*) as n_events
            from sess group by user_id
        """
