"""Core relational operators over the testdata star schema (SURVEY.md §2).

Demonstrates the engine's relational breadth on the TPC-H-ish tables:
aggregation pipelines (A1-A3), semi/anti joins (F8/J7, F10/J8), distinct
(A6), max-per-group (A2), broadcast dimension joins, windowed top-k (T1),
event-time bucketing and sessionization.

Every function takes already-loaded DataFrames and returns a DataFrame with
stable aliased columns so the DuckDB oracle can hash-match it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_automation_spark.operators.topk import topk_per_group

#: Customers kept by :func:`top_customers_by_revenue`, events per type by
#: :func:`top_events_per_type`, and the inactivity gap that splits
#: :func:`sessionize_events` sessions.
TOP_CUSTOMERS = 10
TOP_EVENTS = 5
SESSION_GAP_MINUTES = 30


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped aggregation: map-side partial aggregation + one
    shuffle on a low-cardinality key — the plan Catalyst picks is a
    two-phase HashAggregate, which is exactly right at 100 TB."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_customers_by_revenue(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Revenue per customer with a broadcast dimension join + global
    top-:data:`TOP_CUSTOMERS`.

    ``customer`` is the small side → explicit broadcast (no shuffle of the
    orders fact table beyond the aggregation itself)."""
    revenue = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("num_orders"),
    )
    return (
        revenue.join(F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
                     revenue["o_custkey"] == customer["c_custkey"], "inner")
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "num_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(TOP_CUSTOMERS)
    )


def customers_with_open_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Semi-join (F8/J7 parity: in-scope filtering,
    /root/reference/src/test_retrieval_pipeline.py:30-33)."""
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return (
        customer.join(open_orders, customer["c_custkey"] == open_orders["o_custkey"], "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-join (F10/J8 parity: hard-negative exclusion,
    /root/reference/src/process_dataset.py:276-278)."""
    return (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def max_value_per_user(events: DataFrame) -> DataFrame:
    """Max-per-group (A2 parity: max passage score per image,
    /root/reference/src/test_retrieval_pipeline.py:52-61)."""
    return events.groupBy("user_id").agg(
        F.round(F.max("value"), 6).alias("max_value"),
        F.count(F.lit(1)).alias("num_events"),
    )


def distinct_sources(documents: DataFrame) -> DataFrame:
    """Distinct (A6 parity: deduped link scan, /root/reference/src/utils.py:354)."""
    return documents.select("source").distinct()


def hourly_event_rollup(events: DataFrame) -> DataFrame:
    """Event-time bucketing: tumbling-hour counts/sums per event type."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def top_events_per_type(events: DataFrame) -> DataFrame:
    """Windowed top-:data:`TOP_EVENTS` per group (T1 parity) on the events
    table."""
    return topk_per_group(
        events.select("event_type", "event_id", "value"),
        group_cols=["event_type"],
        order_col="value",
        k=TOP_EVENTS,
        tiebreak_col="event_id",
    ).select("event_type", "event_id", F.round("value", 6).alias("value"), "rank")


def sessionize_events(events: DataFrame) -> DataFrame:
    """Sessionization: per-user sessions split at inactivity gaps of more
    than :data:`SESSION_GAP_MINUTES`.

    The classic lag + cumulative-sum window rewrite (one shuffle on
    user_id): a new session starts where ``ts - lag(ts) > gap``; the
    running sum of the new-session flags numbers the sessions.  Returns
    one row per session with start/end/count.  At scale: single hash
    shuffle on user_id; skewed power-users split fine under AQE because
    the window partition is the user, so a single pathological user
    stays one window partition (one task)."""
    from pyspark.sql import Window

    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = SESSION_GAP_MINUTES * 60
    # parquet timestamps read as TIMESTAMP_NTZ: cast via timestamp (session
    # tz pinned UTC) to epoch seconds, matching DuckDB epoch() on naive ts
    epoch = F.col("ts").cast("timestamp").cast("long")
    with_flag = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            epoch - F.lag(epoch).over(w_user) > gap_s,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    with_id = with_flag.withColumn(
        "session_seq", F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


def lineitem_running_order_total(lineitem: DataFrame) -> DataFrame:
    """Sequence-id window (§2.9 parity: row_number over a total order,
    /root/reference/src/sql.py:775) — dense per-order line numbering plus a
    running quantity sum, expressed as window functions.

    (l_orderkey, l_linenumber) is NOT unique in the testdata, so the rows
    are pre-aggregated to that key first — a running sum over a non-total
    order would be engine-dependent."""
    from pyspark.sql import Window

    per_line = lineitem.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("l_quantity").alias("line_qty")
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return per_line.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("line_seq"),
        F.round(F.sum("line_qty").over(w), 2).alias("running_qty"),
    )
