"""Relational / analytical query layer (SURVEY.md §2B).

The reference implements no relational operators; these queries are the
engine surface the north star requires, expressed declaratively so Catalyst
supplies pushdown, pruning, join selection and AQE for free. Each query has a
DuckDB oracle (same aliases, same rounding, timestamps as formatted strings).

Scale notes (100 TB posture):
- dimension joins (region/nation/supplier/customer-at-small-SF) are broadcast
  explicitly; fact-fact joins shuffle on their keys and rely on AQE skew
  handling;
- aggregations are plain ``groupBy`` → partial (map-side) + final aggregation;
- top-k = groupBy-agg then ``orderBy + limit`` (Spark plans TakeOrderedAndProject,
  which is a per-partition heap + driver merge, not a global sort);
- window queries shuffle once on the partition key, sort within partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import with_session_ids
from ..operators.asof import asof_join
from ..session import load_table
from . import QuerySpec, register
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}


def _fmt_ts(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# ---------------------------------------------------------------------------
# TPC-H-ish core
# ---------------------------------------------------------------------------
@register(
    QUERIES,
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan + filter + 8-agg groupBy (partial+final agg).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    QUERIES,
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')        AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join + agg + deterministic top-k.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        # No broadcast hint on customer: at 100× scale a forced broadcast of a
        # GB-size table OOMs executors. The optimizer (size stats + AQE)
        # broadcasts it when small — asserted in tests/test_plans.py.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", _fmt_ts("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    QUERIES,
    "q5_region_revenue",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY r_name, n_name
    """,
    doc="TPC-H Q5 shape: 6-way join, dims broadcast, local-supplier predicate.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        # nation/region are true bounded dims → keep the broadcast hint.
        # customer/supplier grow with SF → no hint; the optimizer broadcasts
        # while they fit and falls back to shuffle join at scale.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    QUERIES,
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-side predicates (pushdown showcase) + global agg.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    QUERIES,
    "q10_returned_customers",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue by customer, top-20.",
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # optimizer-chosen strategy (see q3)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window / rollup / pivot / set ops / semi-anti
# ---------------------------------------------------------------------------
@register(
    QUERIES,
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    doc="Ranking window: top-3 orders per customer (one shuffle on o_custkey).",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


@register(
    QUERIES,
    "rollup_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                  AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical rollup with NULL grouping markers (matches SQL ROLLUP).",
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    QUERIES,
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*)                    AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two low-cardinality dims.",
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    QUERIES,
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot: order counts by priority × status.",
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@register(
    QUERIES,
    "semi_customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    doc="Left-semi join (EXISTS).",
)
def semi_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    QUERIES,
    "anti_customers_no_recent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    doc="Left-anti join (NOT EXISTS).",
)
def anti_customers_no_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    QUERIES,
    "except_lapsed_custkeys",
    oracle="""
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    EXCEPT
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="Set difference: customers active in 1995 but not 1996.",
)
def except_lapsed_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    return year(1995).exceptAll(year(1996))


@register(
    QUERIES,
    "intersect_repeat_custkeys",
    oracle="""
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    INTERSECT
    SELECT DISTINCT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="Set intersection: customers active in both 1995 and 1996.",
)
def intersect_repeat_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    return year(1995).intersect(year(1996))


@register(
    QUERIES,
    "supplier_part_stats",
    oracle="""
    SELECT l_suppkey,
           count(DISTINCT l_partkey)  AS n_parts,
           count(*)                   AS n_items,
           round(sum(l_quantity), 2)  AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc="Distinct aggregation per key (expand + two-phase agg in Spark).",
)
def supplier_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    QUERIES,
    "part_type_stats",
    oracle="""
    SELECT p_type,
           count(*)                        AS n,
           round(avg(p_retailprice), 4)    AS avg_price,
           CAST(sum(p_size) AS BIGINT)     AS sum_size,
           max(p_brand)                    AS max_brand
    FROM part
    GROUP BY p_type
    """,
    doc="Scalar funcs + agg over the part dimension.",
)
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.sum("p_size").cast("long").alias("sum_size"),
        F.max("p_brand").alias("max_brand"),
    )


# ---------------------------------------------------------------------------
# Events (stream-shaped table, processed in batch here; streaming in streaming/)
# ---------------------------------------------------------------------------
@register(
    QUERIES,
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY hour_ts, event_type
    """,
    doc="Tumbling 1h window aggregation (batch form of the streaming window).",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            _fmt_ts(F.date_trunc("hour", F.col("ts"))).alias("hour_ts"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@register(
    QUERIES,
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      FROM flagged
    )
    SELECT user_id, sess_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           date_diff('second', min(ts), max(ts)) AS duration_sec
    FROM sess
    GROUP BY user_id, sess_id
    """,
    doc="Sessionization: 30-min inactivity gap via lag + running sum (no UDF).",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e, 1800)
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _fmt_ts(F.min("ts")).alias("session_start"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_sec"),
    )


@register(
    QUERIES,
    "events_topk_users",
    oracle="""
    SELECT user_id,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
    doc="Top-k heavy hitters (TakeOrderedAndProject, no global sort).",
)
def events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


@register(
    QUERIES,
    "range_join_event_pairs",
    oracle="""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND epoch_ms(b.ts) >  epoch_ms(a.ts)
     AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 300000
    """,
    doc=(
        "Interval join: pairs of same-user events within 5 minutes, via the "
        "bucketized range join (operators/rangejoin.py) — hash join on "
        "(key, time-bucket), no per-key row explosion."
    ),
)
def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events")
    a = e.select(
        F.col("event_id").alias("event_a"),
        F.col("user_id"),
        F.unix_millis("ts").alias("ta"),
    )
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id"),
        F.unix_millis("ts").alias("tb"),
    )
    joined = range_join(
        a, b, key="user_id", left_time_ms="ta", right_time_ms="tb",
        lower_ms=0, upper_ms=300_000,
    )
    return joined.select("event_a", "event_b", "user_id")


@register(
    QUERIES,
    "q4_priority_with_late_items",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS-semi-join feeding an aggregation.",
)
def q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = l.join(
        o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey")
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    QUERIES,
    "q18_large_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
           round(sum(l_quantity), 2) AS sum_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_custkey, total_price
    HAVING sum(l_quantity) > 150
    """,
    doc="TPC-H Q18 shape: join + aggregation + HAVING on the aggregate.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum("l_quantity").alias("_raw_qty"),  # HAVING on the raw agg
        )
        .filter(F.col("_raw_qty") > 150)
        .drop("_raw_qty")
    )


@register(
    QUERIES,
    "q22_wealthy_inactive_customers",
    oracle="""
    SELECT c_nationkey,
           count(*)                  AS n_cust,
           round(sum(c_acctbal), 2)  AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS anti-join.",
)
def q22_wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    threshold = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("thr"))
    )
    return (
        c.crossJoin(F.broadcast(threshold))  # scalar subquery, no collect()
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    QUERIES,
    "events_topk_users_salted",
    oracle="""
    SELECT user_id,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
    doc=(
        "Skew-safe two-phase aggregation: salt the key into 16 sub-keys, "
        "partial-aggregate, merge partials. Same result as the direct "
        "groupBy (same oracle) — this is the manual form of what AQE "
        "skew-handling does, for when one key dominates at 100 TB."
    ),
)
def events_topk_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("pv"),
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


# Registration RETIRED in r11 (COVERAGE.md capacity policy, retirement
# candidate #2) to free the slot for stream_ivfpq_maintenance: as a
# rows-only no-oracle register (engine-specific HLL/KLL bit patterns) its
# driver receipt added no verification signal beyond its hash-green twins —
# hll_cardinality_portable (exact portable HLL) and
# column_profile_stats_approx (the same approx_count_distinct register
# surface, hash-checked r10). The operator itself stays: pinned by
# tests/test_plans.py::test_sketch_cardinalities_tracks_exact_counts.
def sketch_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches for 100 TB-scale profiling: HyperLogLog
    distinct counts and approx percentiles (sub-1% error, constant
    memory). Exact twins: supplier_part_stats / percentile_events."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_id").alias("approx_events"),
        F.percentile_approx("value", 0.95).alias("approx_p95"),
    )


@register(
    QUERIES,
    "asof_latest_order_per_event",
    oracle="""
    WITH m AS (
      SELECT e.event_id, e.user_id, max(o.o_orderdate) AS mdt
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY e.event_id, e.user_id
    )
    SELECT m.event_id, max(o2.o_orderkey) AS asof_orderkey
    FROM m
    LEFT JOIN orders o2
      ON o2.o_custkey = m.user_id AND o2.o_orderdate = m.mdt
    GROUP BY m.event_id
    """,
    doc=(
        "As-of join: each event enriched with the user's most recent order. "
        "Union+window plan (operators/asof.py) — no row explosion at scale."
    ),
)
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_id"), F.col("user_id").alias("k"), F.col("ts").alias("t"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.col("o_orderkey").alias("asof_orderkey"),
    )
    return asof_join(e, o, key="k", time="t", value_cols=["asof_orderkey"]).select(
        "event_id", "asof_orderkey"
    )


@register(
    QUERIES,
    "events_gap_filled_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), spine AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM spans
    )
    SELECT s.event_type,
           strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(coalesce(h.cnt, 0) AS BIGINT)  AS n
    FROM spine s
    LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hr = h.hr
    """,
    doc="Time-series gap filling: per-type hourly spine via sequence() + "
    "explode, left-joined onto actual counts, missing hours filled with 0 "
    "(the resample/densify primitive). The spine derives from a tiny "
    "per-type min/max aggregate, so the explode is O(span), not O(rows), "
    "and AQE broadcasts it onto the hourly aggregate.",
)
def events_gap_filled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    spans = hourly.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    spine = spans.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    return (
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n"),
        )
    )


@register(
    QUERIES,
    "skew_join_salted",
    oracle="""
    WITH f AS (  -- induce a deterministic hot key: users < 30 collapse to 0
      SELECT CASE WHEN user_id < 30 THEN 0 ELSE user_id END AS jk, value
      FROM events
    ), d AS (    -- dimension: one row per surviving join key
      SELECT c_custkey AS jk, c_mktsegment
      FROM customer
      WHERE c_custkey < 150 AND (c_custkey = 0 OR c_custkey >= 30)
    )
    SELECT c_mktsegment,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM f JOIN d USING (jk)
    GROUP BY c_mktsegment
    """,
    doc="Salted skew join: ~20% of fact rows share one join key, so a plain "
    "shuffle join puts a fifth of the table in one task. The fact side gets "
    "a deterministic salt (hash(event_id) mod 16), the dimension side is "
    "replicated across all 16 salts via explode(sequence), and the join key "
    "becomes (jk, salt) — fanning the hot key over 16 tasks. The oracle is "
    "the UNSALTED join, proving salting never changes results. This is the "
    "explicit form of what AQE skew-join does adaptively — and the r7 A/B "
    "(BASELINE.md) measured AQE 2x FASTER than this salt for batch SMJ "
    "(AQE splits only the hot partitions; the salt replicates the whole "
    "dim x n_salts) — so at 100 TB prefer AQE for batch joins and keep the "
    "salt for the paths AQE can't touch: streaming/stateful joins, skewed "
    "AGGREGATION keys (AQE skew handling is join-only), reused salted "
    "partitionings, and hinted shuffle-hash joins.",
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salts = 16
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    fact = e.select(
        F.when(F.col("user_id") < 30, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("jk"),
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).alias("salt"),
    )
    dim = (
        c.filter(
            (F.col("c_custkey") < 150)
            & ((F.col("c_custkey") == 0) | (F.col("c_custkey") >= 30))
        )
        .select(F.col("c_custkey").alias("jk"), "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    )
    return (
        fact.join(dim.hint("shuffle_hash"), ["jk", "salt"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    QUERIES,
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (  -- deterministic CDC batch: 10% updated, plus new keys
      SELECT o_orderkey,
             'P'                  AS o_orderstatus,
             o_totalprice * 1.1   AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 1000000, 'N', 42.0
      FROM orders WHERE o_orderkey % 1000 = 0
    ), merged AS (
      SELECT coalesce(u.o_orderkey, t.o_orderkey)       AS o_orderkey,
             coalesce(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
             coalesce(u.o_totalprice, t.o_totalprice)   AS o_totalprice
      FROM orders t FULL OUTER JOIN updates u USING (o_orderkey)
    )
    SELECT o_orderstatus,
           count(*)                    AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM merged
    GROUP BY o_orderstatus
    """,
    doc="MERGE/upsert (CDC apply) as a full-outer join + coalesce: a "
    "deterministic update batch (10% price changes + inserts) merged into "
    "the orders snapshot — matched rows take the update, unmatched keep the "
    "target, insert-only keys append. This is the table-format-free upsert "
    "plan; at scale the join shuffles on the merge key (or stays "
    "shuffle-free over bucketed layouts, see bucketed_join_revenue), and "
    "lake formats implement exactly this under MERGE INTO.",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = t.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    ins = t.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(42.0).alias("o_totalprice"),
    )
    u = upd.unionByName(ins)
    tt, uu = t.alias("t"), u.alias("u")
    merged = tt.join(uu, F.col("t.o_orderkey") == F.col("u.o_orderkey"), "full_outer").select(
        F.coalesce("u.o_orderkey", "t.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.o_orderstatus", "t.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("u.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    QUERIES,
    "events_funnel",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'view')     AS t_view,
             min(ts) FILTER (event_type = 'click')    AS t_click,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (t_view IS NOT NULL)            AS n_view,
           count(*) FILTER (t_view IS NOT NULL
                            AND t_click > t_view)          AS n_view_click,
           count(*) FILTER (t_view IS NOT NULL
                            AND t_click > t_view
                            AND t_purchase > t_click)      AS n_full_funnel
    FROM stage
    """,
    doc="Funnel analysis: per-user first-touch times of each stage (one "
    "groupBy with conditional min), then ordered-progression counts "
    "(view -> click -> purchase). One shuffle on user_id, then a 1-row "
    "global aggregate — the standard product-analytics funnel at any scale.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stage.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
            )
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    QUERIES,
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                            date_trunc('week', e.ts)) AS BIGINT) AS week_n
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_n,
           count(*)                          AS active_users
    FROM activity
    WHERE week_n BETWEEN 0 AND 8
    GROUP BY cohort_week, week_n
    """,
    doc="Retention cohorts: users bucketed by first-seen week, activity "
    "counted per subsequent week offset — the cohort-retention matrix. Two "
    "aggregations + one join on user_id; the first-seen table is the only "
    "state carried, one row per user.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    week_n = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
    ).cast("long")
    activity = (
        e.join(first_seen, "user_id")
        .select("user_id", "cohort_week", week_n.alias("week_n"))
        .distinct()
    )
    return (
        activity.filter(F.col("week_n").between(0, 8))
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"), "week_n"
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    QUERIES,
    "events_moving_avg",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           round(avg(value) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS mavg_1h
    FROM events
    """,
    doc="Time-based RANGE window frame: per-user trailing-1h moving average "
    "of event value (frame bounded by the ORDER BY value, not row count — "
    "peers in the same second share a frame, so the result is deterministic "
    "under any row order). One shuffle on user_id; the frame scan is linear "
    "per partition via Spark's sliding-frame aggregation.",
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy(sec).rangeBetween(-3600, 0)
    return e.select(
        "event_id",
        sec.alias("sec"),
        F.round(F.avg("value").over(w), 4).alias("mavg_1h"),
    )


@register(
    QUERIES,
    "events_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           round((value - mu) / sigma, 4) AS z
    FROM events e JOIN stats USING (event_type)
    WHERE abs(round((value - mu) / sigma, 4)) > 2.5
    """,
    doc="Z-score anomaly detection: per-type mean/stddev (tiny aggregate, "
    "broadcast back) scores every event; |z| > 2.5 flags outliers. The "
    "filter compares the ROUNDED score on both sides so the cut is "
    "deterministic across engines. At 100 TB: one partial-agg groupBy over "
    "a handful of types + a map-side broadcast join — no second shuffle.",
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        e.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


# --- Recursive query / transitive closure. The reference has none, and
# Spark has no WITH RECURSIVE — but the CATEGORY matters at scale (org
# trees, BOM explosions, referral chains). The engine's answer is pointer
# DOUBLING: each round composes the ancestor map with itself, so a chain of
# depth d resolves in ceil(log2 d) self-joins instead of d dependent
# scans — the same O(log d) technique as dedup_clusters' pointer jumping.
# The forest here is deterministic (parent = custkey div 3, roots are
# custkey <= 2) so DuckDB's real WITH RECURSIVE is the oracle.
def _closure_rounds(max_key: int) -> int:
    """ceil(log2(max chain depth)), with the max depth computed EXACTLY by
    walking the arithmetic parent function from the deepest node (depth is
    monotone in the key: parent = max(key div 3, 1) is monotone, so the
    deepest chain starts at max_key). The r14 form bounded depth by
    ceil(log3(max_key)) + 1 margin and rounds by ceil(log2(bound)) + 1 —
    each ceil+margin compounding into 5 rounds at sf0.1 where 3 suffice
    (exact depth 8, 2^3 >= 8). Every round is a full self-join plus (every
    2nd) a lineage checkpoint, at ANY scale, so the exact bound — a
    driver-side integer loop over at most log3(max_key) steps, no Spark
    job — is strictly cheaper; correctness is unchanged because pointer
    doubling resolves every chain once 2^rounds >= max depth (r15 opt)."""
    import math

    depth, k = 0, max_key
    while k > 2:
        k = max(k // 3, 1)
        depth += 1
    return 0 if depth <= 1 else math.ceil(math.log2(depth))


@register(
    QUERIES,
    "transitive_closure_depth",
    oracle="""
    WITH RECURSIVE up AS (
      SELECT c_custkey AS node,
             CASE WHEN c_custkey <= 2 THEN c_custkey
                  ELSE greatest(c_custkey // 3, 1) END AS anc,
             CASE WHEN c_custkey <= 2 THEN 0 ELSE 1 END AS depth
      FROM customer
      UNION ALL
      SELECT node, greatest(anc // 3, 1), depth + 1
      FROM up WHERE anc > 2
    )
    SELECT node AS c_custkey,
           anc  AS root_key,
           CAST(depth AS BIGINT) AS depth,
           CAST(count(*) OVER (PARTITION BY anc) AS BIGINT) AS root_n
    FROM up WHERE anc <= 2
    """,
    doc="Transitive closure over a deterministic customer forest (parent = "
    "custkey div 3): every node's root ancestor, its depth, and its tree's "
    "size. Spark side uses pointer DOUBLING — the ancestor map composed "
    "with itself for ceil(log2 depth) rounds — so a depth-d chain costs "
    "O(log d) equi-joins, not d dependent scans; the oracle is DuckDB's "
    "native WITH RECURSIVE, proving the doubling is exactly the recursive "
    "closure.",
)
def transitive_closure_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    # The ancestor map is built over the FULL integer key range, not just
    # the customer rows: the parent function is arithmetic, so a chain may
    # pass through keys with no customer row (deleted customers, scaled
    # keyspaces with holes) — an inner self-join restricted to existing
    # nodes would silently drop those chains while the oracle, which
    # recurses arithmetically, keeps them.
    max_key = c.agg(F.max("c_custkey")).collect()[0][0]
    # empty corpus: empty key domain -> empty (correctly typed) closure
    # (r14 empty-corpus sweep; int(None) would throw)
    max_key = -1 if max_key is None else int(max_key)
    dom = spark.range(0, max_key + 1).select(F.col("id").alias("node"))
    is_root = F.col("node") <= 2
    state = dom.select(
        "node",
        F.when(is_root, F.col("node"))
        .otherwise(F.greatest(F.expr("node div 3"), F.lit(1)))
        .alias("anc"),
        F.when(is_root, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("depth"),
    )
    # doubling: anc_{2k}(n) = anc_k(anc_k(n)); depth adds the second hop's
    # distance. Roots are self-loops with depth 0, so composition is a
    # no-op once a chain has resolved — the fixed round count only needs to
    # exceed log2(max depth). Lineage is cut with localCheckpoint (the
    # dedup_clusters technique): without it the self-join doubles the
    # UNMATERIALIZED lineage every round and the physical plan degenerates
    # to 2^rounds scans — the opposite of the O(log d) claim. Checkpointing
    # every SECOND round halves the materialization barriers while capping
    # the uncheckpointed plan at 2 rounds deep (4 scans of stored rows).
    # The INITIAL state is deliberately NOT checkpointed (r16): it is pure
    # compute from spark.range — no scan, no shuffle — so round 0's
    # self-join re-deriving it on both sides costs two cheap codegen passes
    # at any scale, strictly less than an eager materialization barrier
    # (interleaved A/B: ~10-15% faster at sf0.1 and 10x, outputs
    # checksum-identical; the i=1 checkpoint still bounds lineage depth).
    rounds = _closure_rounds(int(max_key))
    for i in range(rounds):
        hop = state.select(
            F.col("node").alias("h_node"),
            F.col("anc").alias("h_anc"),
            F.col("depth").alias("h_depth"),
        )
        state = state.join(hop, state.anc == hop.h_node).select(
            "node",
            F.col("h_anc").alias("anc"),
            (F.col("depth") + F.col("h_depth")).alias("depth"),
        )
        if i % 2 == 1 or i == rounds - 1:
            state = state.transform(cut(iterative=True))
    resolved = c.join(state, c.c_custkey == state.node)
    # root_n = tree size per root. The root domain is {1, 2} — a window
    # partitioned by ``anc`` would funnel EVERY row through at most two
    # tasks (guide §2.5 hot keys; the exact shape that serializes at
    # scale). A per-root aggregate (2 rows) broadcast-joined back computes
    # the identical count with the heavy side never re-shuffled.
    root_sizes = resolved.groupBy("anc").agg(
        F.count(F.lit(1)).cast("long").alias("root_n")
    )
    return resolved.join(F.broadcast(root_sizes), "anc").select(
        "c_custkey",
        F.col("anc").alias("root_key"),
        "depth",
        "root_n",
    )


@register(
    QUERIES,
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type != prev_type
    )
    SELECT user_id,
           event_type AS state,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(
             strftime(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      '%Y-%m-%d %H:%M:%S'),
             '9999-12-31 00:00:00') AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM changes
    """,
    doc="Slowly-changing-dimension type-2 history from a change stream: "
    "per-user state runs collapsed to change points (lag), each change "
    "opened as a validity interval closed by the next change (lead) — the "
    "standard warehouse dimension-history build, two windows on one "
    "partition key, no self-join. The open interval uses the conventional "
    "9999-12-31 sentinel so current rows are range-queryable like closed "
    "ones.",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    # event_id tiebreak (r14): two change points at the same (user_id, ts)
    # would make a ts-only lead nondeterministic — bit-identical on driver
    # data (zero such ties at every SF, checked), deterministic on any
    # input; pinned by the tie-heavy differential in
    # tests/test_prefix_sum_differential.py
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# lifecycle event types that DEFINE the SCD2 dimension; everything else is
# fact traffic enriched against it
SCD2_STATE_TYPES = ("signup", "purchase")
_SCD2_STATE_SQL = ", ".join(f"'{t}'" for t in SCD2_STATE_TYPES)


@register(
    QUERIES,
    "scd2_temporal_fact_join",
    oracle=f"""
    WITH chg AS (
      SELECT user_id, event_type AS state, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type IN ({_SCD2_STATE_SQL})
    ), facts AS (
      SELECT user_id, event_type AS fact_type, ts
      FROM events WHERE event_type NOT IN ({_SCD2_STATE_SQL})
    ), joined AS (
      SELECT f.fact_type, coalesce(c.state, 'none') AS state, f.user_id
      FROM facts f
      LEFT JOIN chg c
        ON c.user_id = f.user_id
       AND f.ts >= c.ts AND (c.valid_to IS NULL OR f.ts < c.valid_to)
    )
    SELECT state, fact_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM joined GROUP BY state, fact_type
    """,
    doc="Temporal dimension join (the warehouse SCD2-enrichment shape): "
    "lifecycle events (signup/purchase) define per-user validity "
    "intervals [change_ts, next_change_ts); the remaining event traffic "
    "is the fact side, each fact joined to the interval containing its "
    "timestamp — equi-join on user_id with the interval as residual, "
    "which cannot explode because a fact matches at most ONE version and "
    "versions-per-key is bounded by the user's lifecycle-change count. "
    "Facts before any change get state 'none' (left join). Aggregated to "
    "state x fact_type counts + distinct users. At 100 TB both sides "
    "co-partition on the user key; no range-bucketing needed when the "
    "dimension is versions-per-key-small (contrast range_join_event_pairs "
    "for the dense-interval case).",
)
def scd2_temporal_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    chg = (
        e.filter(F.col("event_type").isin(*SCD2_STATE_TYPES))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("vf"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("vt"),
        )
    )
    facts = e.filter(~F.col("event_type").isin(*SCD2_STATE_TYPES)).select(
        F.col("user_id").alias("f_user"),
        F.col("event_type").alias("fact_type"),
        F.col("ts").alias("f_ts"),
    )
    joined = facts.join(
        chg,
        (F.col("f_user") == F.col("user_id"))
        & (F.col("f_ts") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("f_ts") < F.col("vt"))),
        "left",
    ).select(
        F.coalesce("state", F.lit("none")).alias("state"), "fact_type", "f_user"
    )
    return joined.groupBy("state", "fact_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("f_user").cast("long").alias("n_users"),
    )


@register(
    QUERIES,
    "asof_next_order_within_7d",
    oracle="""
    WITH m AS (
      SELECT e.event_id, e.user_id, min(o.o_orderdate) AS mdt
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
       AND o.o_orderdate <= e.ts + INTERVAL 7 DAY
      GROUP BY e.event_id, e.user_id
    )
    SELECT m.event_id, min(o2.o_orderkey) AS next_orderkey
    FROM m
    LEFT JOIN orders o2
      ON o2.o_custkey = m.user_id AND o2.o_orderdate = m.mdt
    GROUP BY m.event_id
    """,
    doc=(
        "FORWARD as-of join with a 7-day tolerance: each event enriched with "
        "the user's next order, or null if none lands within a week. Same "
        "union+window plan as the backward as-of (operators/asof.py) with a "
        "leading frame; the tolerance is applied by nulling the nearest "
        "match post-hoc — exactly equal to bounding the join predicate, "
        "because the nearest match exceeding the bound implies no match "
        "within it. Still one shuffle, no row explosion."
    ),
)
def asof_next_order_within_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id"), F.col("user_id").alias("k"), F.col("ts").alias("t")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.col("o_orderkey").alias("next_orderkey"),
    )
    return asof_join(
        e,
        o,
        key="k",
        time="t",
        value_cols=["next_orderkey"],
        direction="forward",
        tolerance_s=7 * 86400,
    ).select("event_id", "next_orderkey")
