"""Extended TPC-H-shape relational coverage (SURVEY.md §2B widening).

The reference implements no relational operators (SURVEY §2B: category table
derived from reading all 18 source/test files under /root/reference); this
module completes the classic TPC-H query shapes the round-1 surface did not
yet exercise — correlated scalar subqueries (Q2/Q11/Q15/Q17), nation-pair
theta predicates (Q7), share-of-total CASE aggregation (Q8/Q14), left-outer +
double aggregation (Q13), NOT-IN anti joins over aggregates (Q16/Q20), and
multi-EXISTS decorrelation (Q21) — adapted to the driver's trimmed schemas
(TESTDATA.md has no partsupp table and no commit/receipt dates; lineitem is
the part↔supplier link and ship order stands in for receipt order).

Scale posture (100 TB):
- Every correlated subquery is *decorrelated by construction* on the Spark
  side: aggregate-then-join, never a per-row subquery — the same plan Spark
  would produce after decorrelation, but explicit and predictable.
- region/nation are true dimensions → explicit broadcast. supplier/part are
  broadcast-size *here* but grow with SF → no hint; AQE promotes them to
  broadcast at runtime when they fit (round-1 verdict item #6).
- Scalar totals (Q11/Q15/Q17 thresholds) are 1-row/tiny aggregates joined
  via explicit ``F.broadcast`` — a map-side scalar, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from . import QuerySpec, register

QUERIES: dict[str, QuerySpec] = {}


def _revenue():
    # built lazily: F.col at module import requires an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    QUERIES,
    "q2_min_price_supplier",
    oracle="""
    WITH offers AS (
      SELECT p_partkey, p_name, s_name, n_name,
             l_extendedprice / l_quantity AS unit
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey AND p_size = 15
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
    )
    SELECT DISTINCT p_partkey, p_name, s_name, n_name,
           floor(unit * 10000 + 0.5) / 10000 AS min_price
    FROM offers o
    WHERE unit = (SELECT min(unit) FROM offers o2
                  WHERE o2.p_partkey = o.p_partkey)
    """,
    doc="TPC-H Q2 shape: per-part minimum-price supplier via correlated "
    "scalar subquery, decorrelated to aggregate-then-join (lineitem unit "
    "price stands in for ps_supplycost; no partsupp in TESTDATA.md).",
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    offers = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
    )
    best = offers.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.min("unit").alias("best_unit")
    )
    return (
        offers.join(
            F.broadcast(best),
            on=[F.col("p_partkey") == F.col("pk"),
                F.col("unit") == F.col("best_unit")],
        )
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            # floor-based half-up rounding, NOT round(): a unit price like
            # 209.93/8 = 26.24125 sits exactly on the 4-decimal half
            # boundary, and Spark (BigDecimal HALF_UP on the double's exact
            # binary value) vs DuckDB (scale-multiply rounding) resolve the
            # boundary differently for the SAME double (observed: 26.2412
            # vs 26.2413 at sf0.001). floor(x*1e4 + 0.5)/1e4 is the same
            # IEEE op sequence in both engines — bit-identical output.
            (F.floor(F.col("unit") * 10000 + F.lit(0.5)) / 10000).alias(
                "min_price"
            ),
        )
        .distinct()
    )


@register(
    QUERIES,
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name                                   AS supp_nation,
           n2.n_name                                   AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT)            AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: 5-way join + nation-pair disjunctive theta filter "
    "+ group by derived year. Nation dims broadcast; fact-fact joins "
    "shuffle on their keys with AQE skew handling.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    pair = (F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2")
    rev_pair = (F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1")
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2.n_nationkey"))
        .filter(pair | rev_pair)
        .groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
    )


@register(
    QUERIES,
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT)       AS o_year,
             l_extendedprice * (1 - l_discount)      AS volume,
             n2.n_name                               AS nation
      FROM lineitem
      JOIN part      ON p_partkey = l_partkey AND p_type = 'PROMO'
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN orders    ON o_orderkey = l_orderkey
      JOIN customer  ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region    ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
    )
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: 7-way join + share-of-total conditional aggregation "
    "(one nation's volume over all volume per order year).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    base = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue().alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    share = F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0)))
    return base.groupBy("o_year").agg(
        F.round(share / F.sum("volume"), 6).alias("mkt_share")
    )


@register(
    QUERIES,
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.5 * p_retailprice * l_quantity), 2) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    GROUP BY n_name, o_year
    """,
    doc="TPC-H Q9 shape: profit per supplier-nation per year over a "
    "part-name LIKE filter (0.5*p_retailprice*l_quantity stands in for "
    "ps_supplycost; no partsupp in TESTDATA.md).",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = _revenue() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


@register(
    QUERIES,
    "q11_important_parts",
    oracle="""
    WITH natl AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey AND n_name = 'NATION_5'
    )
    SELECT l_partkey, round(sum(val), 2) AS value
    FROM natl
    GROUP BY l_partkey
    HAVING sum(val) > (SELECT sum(val) * 0.001 FROM natl)
    """,
    doc="TPC-H Q11 shape: per-part value within one nation, kept only above "
    "a scalar-subquery fraction of the nation total (lineitem value stands "
    "in for ps_supplycost*ps_availqty). Spark side decorrelates: the 1-row "
    "total is broadcast-joined, not recomputed per group.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    natl = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    per_part = natl.groupBy("l_partkey").agg(F.sum("val").alias("part_val"))
    total = natl.agg((F.sum("val") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_val") > F.col("threshold"))
        .select("l_partkey", F.round("part_val", 2).alias("value"))
    )


@register(
    QUERIES,
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: left outer join with a residual join predicate + "
    "double aggregation (orders per customer, then customers per order "
    "count). count(o_orderkey) counts only matched rows — null-safe.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            on=[c.c_custkey == o.o_custkey, o.o_orderpriority != "1-URGENT"],
            how="left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    QUERIES,
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo share of one month's revenue (conditional "
    "over unconditional aggregate, single-row output).",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0)))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * promo / F.sum(_revenue()), 4).alias("promo_revenue"))
    )


@register(
    QUERIES,
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: quarterly revenue view + max-revenue scalar "
    "subquery (rounded to 2dp on both sides before the equality so the "
    "max-compare is drift-free). Spark: 1-row max broadcast-joined.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_revenue()), 2).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    QUERIES,
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 19, 23, 36, 45, 49, 3)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%7')
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct-supplier counts per part attribute with "
    "a NOT-IN exclusion subquery (Spark: left_anti join — the safe NOT-IN "
    "decorrelation given non-null keys). lineitem is the part↔supplier "
    "link (no partsupp in TESTDATA.md).",
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 19, 23, 36, 45, 49, 3)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        l.join(F.broadcast(excluded), l.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    QUERIES,
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated per-part average-quantity threshold. "
    "Spark decorrelates: per-part avg aggregated once, joined back "
    "(AQE broadcasts the small aggregate side), then the brand filter.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    QUERIES,
    "q19_ored_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-attribute predicates across the "
    "join (tests OR-pushdown through a join; Catalyst extracts the common "
    "p_partkey equi-condition and keeps the residual disjunction).",
)
def q19_ored_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#2") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#22") & sz.between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(F.round(F.sum(_revenue()), 2).alias("revenue"))


@register(
    QUERIES,
    "q20_part_promotion_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 300
    )
    """,
    doc="TPC-H Q20 shape: suppliers who moved > threshold quantity of "
    "red-prefixed parts in one year — IN over a grouped-HAVING subquery "
    "(Spark: aggregate then left_semi join; lineitem sums stand in for "
    "ps_availqty).",
)
def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    movers = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    QUERIES,
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape: multi-supplier orders where this supplier shipped "
    "last — EXISTS (left_semi) + NOT EXISTS (left_anti) with non-equi "
    "residuals on the orderkey equi-join (l_shipdate stands in for the "
    "missing commit/receipt dates).",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l1 = load_table(spark, sf_dir, "lineitem").alias("l1")
    l2 = load_table(spark, sf_dir, "lineitem").alias("l2")
    l3 = load_table(spark, sf_dir, "lineitem").alias("l3")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    waiting = (
        l1.join(
            l2,
            on=[
                F.col("l1.l_orderkey") == F.col("l2.l_orderkey"),
                F.col("l1.l_suppkey") != F.col("l2.l_suppkey"),
            ],
            how="left_semi",
        )
        .join(
            l3,
            on=[
                F.col("l1.l_orderkey") == F.col("l3.l_orderkey"),
                F.col("l1.l_suppkey") != F.col("l3.l_suppkey"),
                F.col("l3.l_shipdate") > F.col("l1.l_shipdate"),
            ],
            how="left_anti",
        )
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey)
    )
    return (
        waiting.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    QUERIES,
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag AS ship_mode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate < o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag
    ORDER BY ship_mode
    """,
    doc="TPC-H Q12 shape: join with a date-arithmetic lateness window "
    "(shipped 30-90 days after order, standing in for the missing commit/"
    "receipt dates) + per-mode conditional priority counts (l_returnflag "
    "stands in for the missing l_shipmode). Completes the classic TPC-H "
    "query-shape set (Q1-Q22) adapted to TESTDATA.md's trimmed schema.",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        joined.groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )
