"""Scalar-function + grouping surface (SURVEY.md §2B: grouping sets, JSON /
string / date / math functions, unpivot). All JVM-side builtins, all
oracle-checked.

Cross-engine gotchas handled here: DuckDB ``extract``/``count FILTER``
return BIGINT (cast Spark side or oracle side to match), ``ceil``/``floor``
return types differ (cast both to double), day-of-week numbering differs
(avoided), and Spark's ``get_json_object`` ≈ DuckDB's
``json_extract_string``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import floor_nudge
from ..session import load_table
from . import QuerySpec, register

QUERIES: dict[str, QuerySpec] = {}


@register(
    QUERIES,
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
    doc="Explicit GROUPING SETS (finer than rollup/cube).",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@register(
    QUERIES,
    "json_props_stats",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS BIGINT)                                          AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
                                                                    AS avg_k,
           count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k')
                                       AS INTEGER) > 50)            AS n_high
    FROM events
    GROUP BY event_type
    """,
    doc="JSON scalar extraction over the events.props column.",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
    )


@register(
    QUERIES,
    "string_functions_showcase",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                       AS name_upper,
           substr(p_type, 1, 5)                AS type_prefix,
           CAST(length(p_name) AS BIGINT)      AS name_len,
           concat_ws('-', p_brand, p_type)     AS brand_type,
           replace(p_name, ' ', '_')           AS name_snake,
           reverse(p_brand)                    AS brand_rev,
           CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist
    FROM part
    """,
    doc="String scalar functions incl. levenshtein (identical in both engines).",
)
def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("long").alias("brand_dist"),
    )


@register(
    QUERIES,
    "date_functions_monthly",
    oracle="""
    SELECT CAST(extract(year FROM o_orderdate) AS BIGINT)    AS yr,
           CAST(extract(month FROM o_orderdate) AS BIGINT)   AS mon,
           CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS qtr,
           count(*)                                          AS n,
           round(sum(o_totalprice), 2)                       AS sum_price
    FROM orders
    GROUP BY yr, mon, qtr
    """,
    doc="Date part extraction + monthly aggregation.",
)
def date_functions_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mon"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@register(
    QUERIES,
    "math_functions_showcase",
    oracle="""
    SELECT l_returnflag,
           round(sqrt(sum(l_quantity)), 6)            AS sqrt_qty,
           round(ln(sum(l_extendedprice)), 6)         AS ln_price,
           round(pow(avg(l_discount), 2), 10)         AS disc_sq,
           CAST(ceil(avg(l_extendedprice)) AS DOUBLE) AS ceil_avg,
           CAST(floor(avg(l_extendedprice)) AS DOUBLE) AS floor_avg,
           round(abs(min(l_discount) - max(l_discount)), 6) AS disc_range
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Math scalar functions over aggregates.",
)
def math_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.sqrt(F.sum("l_quantity")), 6).alias("sqrt_qty"),
        F.round(F.log(F.sum("l_extendedprice")), 6).alias("ln_price"),
        F.round(F.pow(F.avg("l_discount"), 2), 10).alias("disc_sq"),
        F.ceil(F.avg("l_extendedprice")).cast("double").alias("ceil_avg"),
        F.floor(F.avg("l_extendedprice")).cast("double").alias("floor_avg"),
        F.round(F.abs(F.min("l_discount") - F.max("l_discount")), 6).alias(
            "disc_range"
        ),
    )


@register(
    QUERIES,
    "unpivot_lineitem_measures",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2)      AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
    """,
    doc="Unpivot (wide→long) via the native unpivot operator; oracle UNION ALL.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price"], "measure", "value"
    )


@register(
    QUERIES,
    "udtf_tokenize",
    oracle="""
    SELECT doc_id, token FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
      WHERE doc_id < 50
    ) WHERE token <> ''
    """,
    doc="Python UDTF (Spark 3.5+/4 table function) exploding documents into "
    "token rows via LATERAL — the UDTF surface of SURVEY §2B.",
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string")
    class Tokenize:
        def eval(self, text: str):
            for t in (text or "").strip().lower().split():
                yield (t,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT doc_id, token FROM docs_udtf, LATERAL tokenize_udtf(text)"
    )


@register(
    QUERIES,
    "array_functions_showcase",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
                                                             AS statuses,
           CAST(len(list(DISTINCT l_linestatus)) AS BIGINT)  AS n_statuses,
           list_sort(list(DISTINCT l_linestatus))[1]         AS first_status
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Array functions: collect_set → sort_array → element_at → array_join. "
    "The array is serialized to csv for output: the driver canonicalizer "
    "sorts columns pre-hash and cannot hash ndarray cells.",
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    statuses = F.sort_array(F.collect_set("l_linestatus"))
    return l.groupBy("l_returnflag").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.size(F.collect_set("l_linestatus")).cast("long").alias("n_statuses"),
        F.element_at(statuses, 1).alias("first_status"),
    )


@register(
    QUERIES,
    "percentile_events",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(median(value), 6)              AS med
    FROM events
    GROUP BY event_type
    """,
    doc="Exact percentiles (Spark percentile == DuckDB quantile_cont, both "
    "linear interpolation). approx_percentile is the sketch variant at "
    "scale; the exact form is the oracle-checkable one.",
)
def percentile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"),
    )


@register(
    QUERIES,
    "case_when_value_buckets",
    oracle="""
    SELECT CASE WHEN value < 10 THEN 'lo'
                WHEN value < 100 THEN 'mid'
                ELSE 'hi' END AS bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY bucket, event_type
    """,
    doc="CASE bucketing histogram.",
)
def case_when_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "lo")
        .when(F.col("value") < 100, "mid")
        .otherwise("hi")
    )
    return e.groupBy(bucket.alias("bucket"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    QUERIES,
    "udaf_median_value",
    oracle="""
    SELECT event_type,
           count(*)                 AS n,
           round(median(value), 6)  AS med
    FROM events
    GROUP BY event_type
    """,
    doc="Grouped-aggregate pandas UDAF (Arrow-batched numpy median per "
    "group) — the UDAF member of the UDF/UDAF/UDTF surface. numpy median "
    "== DuckDB median (linear interpolation at even counts). At scale a "
    "median UDAF shuffles each group's values to one executor; the "
    "approx_percentile sketch is the scale path, this is the exact form.",
)
def udaf_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def _median(v):
        return float(np.median(v.to_numpy()))

    def _n(v):
        return len(v)

    # real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which defeats pandas_udf eval-type inference.
    # Both aggregates are pandas UDAFs — Spark disallows mixing group-agg
    # pandas UDFs with built-in aggregates in one agg().
    _median.__annotations__ = {"v": pd.Series, "return": float}
    _n.__annotations__ = {"v": pd.Series, "return": int}
    median_udaf = F.pandas_udf(_median, "double")
    count_udaf = F.pandas_udf(_n, "long")

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        count_udaf("value").alias("n"),
        F.round(median_udaf("value"), 6).alias("med"),
    )


@register(
    QUERIES,
    "corrupt_record_routing",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (event_id % 17 <> 0) AS BIGINT) AS n_valid,
           CAST(count(*) FILTER (event_id % 17 = 0)  AS BIGINT) AS n_corrupt,
           round(sum(value) FILTER (event_id % 17 <> 0), 2)     AS sum_valid
    FROM events
    GROUP BY event_type
    """,
    doc="Corrupt-record routing, the reference's validation primitive in "
    "batch form: the events table is serialized to JSON wire strings with a "
    "deterministic subset (event_id % 17 = 0) truncated mid-payload; "
    "from_json yields NULL for those, and rows route to valid/corrupt "
    "streams accordingly — all JVM-side. The oracle derives the same "
    "partition from the corruption rule, so the parse-and-route path is "
    "value-checked end to end.",
)
def corrupt_record_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wire = F.to_json(F.struct("event_id", "event_type", "value"))
    # deterministically corrupt ~6% of payloads: drop the closing half
    corrupted = F.when(
        F.col("event_id") % 17 == 0,
        F.substring(wire, 1, 10),
    ).otherwise(wire)
    parsed = F.from_json(
        corrupted, "event_id long, event_type string, value double"
    )
    return (
        e.select("event_type", "value", parsed.alias("p"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("p.event_id").isNotNull(), 1)).alias("n_valid"),
            F.count(F.when(F.col("p.event_id").isNull(), 1)).alias("n_corrupt"),
            F.round(
                F.sum(F.when(F.col("p.event_id").isNotNull(), F.col("p.value"))), 2
            ).alias("sum_valid"),
        )
    )


@register(
    QUERIES,
    "cogroup_user_activity",
    oracle="""
    WITH e AS (
      SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY user_id
    ), o AS (
      SELECT o_custkey AS user_id, count(*) AS n_orders
      FROM orders WHERE o_custkey <= 1000 GROUP BY o_custkey
    )
    SELECT coalesce(e.user_id, o.user_id) AS user_id,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           coalesce(sum_value, 0.0)              AS sum_value,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
    doc="Cogrouped pandas apply (the applyInPandas cogroup surface of "
    "SURVEY §2B): events and orders cogrouped per user key, each group "
    "pair reduced to (n_events, sum_value, n_orders) in one Arrow batch — "
    "the custom two-sided per-key merge for logic a join can't express. "
    "Oracle = the equivalent FULL OUTER JOIN of two aggregates, proving "
    "the cogroup reduction is join-consistent. At 100 TB both sides "
    "shuffle once on the key; the Python work is Arrow-batched per group.",
)
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 1000)
        .select(F.col("o_custkey").alias("user_id"))
    )

    def merge(ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        uid = ev["user_id"].iloc[0] if len(ev) else od["user_id"].iloc[0]
        return pd.DataFrame(
            {
                "user_id": [int(uid)],
                "n_events": [len(ev)],
                "sum_value": [round(float(ev["value"].sum()), 2) if len(ev) else 0.0],
                "n_orders": [len(od)],
            }
        )

    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_events long, sum_value double, n_orders long",
        )
    )


@register(
    QUERIES,
    "map_functions_showcase",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)                                  AS n_types,
           CAST(coalesce(sum(CASE WHEN event_type = 'error'
                                  THEN cnt END), 0) AS BIGINT)       AS error_cnt,
           CAST(count(CASE WHEN cnt >= 10 THEN 1 END) AS BIGINT)     AS hot_types,
           CAST(sum(cnt) AS BIGINT)                                  AS total,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                  THEN cnt * 2 END), 0) AS BIGINT)   AS purchase_x2
    FROM per_type GROUP BY user_id
    """,
    doc="MapType surface: per-user event-type histogram built as a MAP "
    "column (map_from_entries over collect_list(struct)), then read back "
    "through the map algebra — size, element_at, map_filter, map_values + "
    "aggregate, transform_values — all JVM higher-order functions in one "
    "projection. Outputs are scalars, so the oracle is plain conditional "
    "aggregation: the map is exercised in the plan, not smuggled into the "
    "compare (cross-engine MAP representations don't hash stably).",
)
def map_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            # NULL event_type is a real group in the oracle's conditional
            # aggregation, but Spark maps cannot hold a NULL key — so the
            # NULL group rides OUTSIDE the map as its own aggregate
            # (null_cnt) and is folded into the scalars below. No in-band
            # sentinel key: a genuine NUL-byte event_type value stays a
            # distinct map key, and nothing synthetic is observable
            # through size/map_filter (ADVICE r14; attested outputs are
            # bit-identical on driver data, which has no NULL types).
            F.collect_list(
                F.when(
                    F.col("event_type").isNotNull(),
                    F.struct(F.col("event_type"), F.col("cnt")),
                )
            )
        ).alias("m"),
        F.coalesce(
            F.sum(F.when(F.col("event_type").isNull(), F.col("cnt"))),
            F.lit(0),
        )
        .cast("long")
        .alias("null_cnt"),
    )
    zero = F.lit(0).cast("long")
    null_group = (F.col("null_cnt") > 0).cast("long")  # 1 iff NULL type seen
    return m.select(
        "user_id",
        (F.size("m") + null_group).cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("error")), zero)
        .cast("long")
        .alias("error_cnt"),
        (
            F.size(F.map_filter("m", lambda _k, v: v >= 10))
            + (F.col("null_cnt") >= 10).cast("long")
        )
        .cast("long")
        .alias("hot_types"),
        (
            F.aggregate(F.map_values("m"), zero, lambda a, v: a + v)
            + F.col("null_cnt")
        )
        .cast("long")
        .alias("total"),
        F.coalesce(
            F.element_at(
                F.transform_values("m", lambda _k, v: v * 2), F.lit("purchase")
            ),
            zero,
        )
        .cast("long")
        .alias("purchase_x2"),
    )


@register(
    QUERIES,
    "window_navigation_showcase",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           floor(percent_rank() OVER w * 1000000 + 0.500001) / 1000000
             AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.500001) / 1000000
             AS cume_d,
           nth_value(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS second_key,
           last_value(CASE WHEN o_totalprice > 400000
                           THEN o_orderkey END IGNORE NULLS) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_big_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Navigation/distribution window functions over each customer's "
    "order sequence: ntile quartiles, percent_rank, cume_dist "
    "(floor-nudge-rounded — exact k/n rationals can land on decimal half "
    "boundaries), nth_value in a running frame, and last_value IGNORE "
    "NULLS over a sparse column (running 'most recent order above 400k') "
    "— the SQL:2003 navigation set not exercised by the rank/frame "
    "queries. Ordering key (o_orderdate, o_orderkey) is unique, so "
    "ntile's bucket assignment is deterministic in both engines. "
    "Per-customer partitions hash across executors; no global sort.",
)
def window_navigation_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    nudge = lambda c: floor_nudge(c, 6)
    big = F.when(F.col("o_totalprice") > 400000, F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        nudge(F.percent_rank().over(w)).alias("pct_rank"),
        nudge(F.cume_dist().over(w)).alias("cume_d"),
        F.nth_value("o_orderkey", 2).over(wrun).alias("second_key"),
        F.last(big, ignorenulls=True).over(wrun).alias("last_big_key"),
    )


@register(
    QUERIES,
    "null_semantics_showcase",
    oracle="""
    WITH o AS (
      SELECT nullif(o_orderstatus, 'P') AS st, o_custkey FROM orders
    ), keys AS (
      -- a key set POISONED with one NULL: ANSI NOT IN over it can never
      -- be TRUE (x <> NULL is UNKNOWN), so the count below must be 0
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      UNION ALL SELECT NULL
    ), ns AS (
      SELECT count(*) AS n_pairs
      FROM (SELECT nullif(n_regionkey, 0) AS rk FROM nation) a
      JOIN (SELECT nullif(n_regionkey, 0) AS rk FROM nation) b
        ON a.rk IS NOT DISTINCT FROM b.rk
    )
    SELECT CAST(count(*) AS BIGINT)            AS n_rows,
           CAST(count(st) AS BIGINT)           AS n_nonnull,
           CAST(count(DISTINCT st) AS BIGINT)  AS n_distinct_nonnull,
           CAST((SELECT count(*) FROM o o2
                 WHERE o2.o_custkey NOT IN (SELECT k FROM keys))
                AS BIGINT)                     AS n_not_in_poisoned,
           CAST((SELECT n_pairs FROM ns) AS BIGINT) AS n_nullsafe_pairs
    FROM o
    """,
    doc="ANSI NULL semantics pinned as one row: count(col) skips NULLs, "
    "DISTINCT excludes them, NOT IN over a NULL-poisoned key set returns "
    "ZERO rows (x <> NULL is UNKNOWN — Spark plans this as a null-aware "
    "anti join, the classic silent-empty-result production bug), and "
    "null-safe equality (<=> / IS NOT DISTINCT FROM) where NULL matches "
    "NULL, demonstrated by a self-join pair count over a small nullable "
    "dim. All five numbers are computed, not literals — either engine "
    "deviating from ANSI breaks the hash.",
)
def null_semantics_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.nullif("o_orderstatus", F.lit("P")).alias("st"), "o_custkey"
    )
    o.createOrReplaceTempView("o_null_demo")
    n = load_table(spark, sf_dir, "nation").select(
        F.nullif("n_regionkey", F.lit(0)).alias("rk")
    )
    a, b = n.alias("a"), n.alias("b")
    n_pairs = (
        a.join(b, F.col("a.rk").eqNullSafe(F.col("b.rk"))).count()
    )
    fkeys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .unionByName(
            o.sparkSession.range(1).select(F.lit(None).cast("long").alias("k"))
        )
    )
    fkeys.createOrReplaceTempView("keys_null_demo")
    # NOT IN over the poisoned set: Spark's null-aware anti join
    n_not_in = o.sparkSession.sql(
        "SELECT count(*) AS c FROM o_null_demo "
        "WHERE o_custkey NOT IN (SELECT k FROM keys_null_demo)"
    ).collect()[0]["c"]
    return o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("st").cast("long").alias("n_nonnull"),
        F.countDistinct("st").cast("long").alias("n_distinct_nonnull"),
    ).select(
        "*",
        F.lit(int(n_not_in)).cast("long").alias("n_not_in_poisoned"),
        F.lit(int(n_pairs)).cast("long").alias("n_nullsafe_pairs"),
    )
