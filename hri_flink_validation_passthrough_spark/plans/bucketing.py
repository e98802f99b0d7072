"""Bucketed (pre-partitioned) co-located join — the zero-shuffle fact-fact
join technique for 100 TB (SURVEY.md §2B 'joins', scale posture).

At scale, lineitem⋈orders is a fact-fact join: neither side broadcasts, so a
plain join shuffles BOTH tables on every query. Bucketing both tables on the
join key at WRITE time (``bucketBy(n, key).sortBy(key)``) moves that shuffle
to ingestion: every subsequent join on the key reads co-located, pre-sorted
buckets and sort-merge-joins them with NO Exchange and NO Sort —
``tests/test_plans.py`` asserts exactly that on this query's physical plan.

The query hints ``merge`` (forcing SMJ) because at sf0.01 AQE would broadcast
the small side and hide the property being demonstrated; at 100 TB SMJ is
what the optimizer picks anyway, so the hint mirrors the at-scale plan
without touching session conf.
"""

from __future__ import annotations

import datetime
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import (
    load_table,
    normalize_timestamps,
    raw_schema,
    scoped_conf,
    source_fingerprint,
)
from . import QuerySpec, register

QUERIES: dict[str, QuerySpec] = {}

N_BUCKETS = 8

# (appId, sf_dir, prefix) -> (tag, [catalog tables], [data dirs]): the
# session-written table copies' analog of session.session_memo's eviction —
# when a source fingerprint changes the tag, the PREVIOUS copy's catalog
# entries and on-disk data are dropped instead of leaking one full table
# copy (and one dead catalog name) per in-place regeneration (r10
# self-review).
_ARTIFACT_REG: dict[tuple, tuple] = {}


def _swap_artifacts(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    tag: str,
    tables: list[str],
    dirs: list[str],
) -> None:
    """Register this tag's artifacts, dropping a previous tag's first.

    Ordering contract (ADVICE r10): callers invoke this AFTER the new
    tables are fully written and registered — never between mkdtemp and
    the writes. Called early, a failed write would have already dropped
    the previous tag's catalog tables and data while registering paths
    that never completed, and a retry under the same tag would skip the
    drop and leak the half-written directory."""
    import shutil

    key = (spark.sparkContext.applicationId, sf_dir, prefix)
    prev = _ARTIFACT_REG.get(key)
    if prev and prev[0] != tag:
        for t in prev[1]:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
        for d in prev[2]:
            shutil.rmtree(d, ignore_errors=True)
    _ARTIFACT_REG[key] = (tag, list(tables), list(dirs))


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(lineitem, orders) bucketed+sorted on the order key, written once per
    (session, sf_dir) into external parquet under a temp dir. The bucket
    metadata lives in the session catalog; re-registration is idempotent."""
    tag = f"bkt_{abs(hash((spark.sparkContext.applicationId, sf_dir, source_fingerprint(sf_dir, 'lineitem.parquet'), source_fingerprint(sf_dir, 'orders.parquet')))) % 10**8}"
    lt, ot = f"lineitem_{tag}", f"orders_{tag}"
    if not spark.catalog.tableExists(lt):
        base = tempfile.mkdtemp(prefix=f"bucketed_{uuid.uuid4().hex[:6]}_")
        (
            load_table(spark, sf_dir, "lineitem")
            .write.mode("overwrite")
            .option("path", f"{base}/{lt}")
            .bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(lt)
        )
        (
            load_table(spark, sf_dir, "orders")
            .write.mode("overwrite")
            .option("path", f"{base}/{ot}")
            .bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(ot)
        )
        _swap_artifacts(spark, sf_dir, "bkt", tag, [lt, ot], [base])
    return spark.table(lt), spark.table(ot)


@register(
    QUERIES,
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Fact-fact join over bucket-co-located tables: both sides bucketed "
    "and sorted on the order key at write time, so the sort-merge join has "
    "no Exchange and no Sort (asserted in tests/test_plans.py) — the "
    "ingest-once-shuffle-never layout for repeated 100 TB joins.",
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lb, ob = bucketed_tables(spark, sf_dir)
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events written once per (session, sf_dir) PARTITIONED BY event_type —
    the disk layout that turns a type filter into directory pruning."""
    tag = f"part_{abs(hash((spark.sparkContext.applicationId, sf_dir, source_fingerprint(sf_dir, 'events.parquet')))) % 10**8}"
    name = f"events_{tag}"
    if not spark.catalog.tableExists(name):
        base = tempfile.mkdtemp(prefix=f"partitioned_{uuid.uuid4().hex[:6]}_")
        (
            load_table(spark, sf_dir, "events")
            .write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .partitionBy("event_type")
            .saveAsTable(name)
        )
        _swap_artifacts(spark, sf_dir, "part", tag, [name], [base])
    return spark.table(name)


@register(
    QUERIES,
    "partition_pruned_scan",
    oracle="""
    SELECT user_id,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id
    HAVING count(*) >= 10
    """,
    doc="Partition pruning: events laid out PARTITIONED BY event_type, so "
    "the type predicate prunes to one directory before any IO "
    "(PartitionFilters asserted in tests/test_plans.py) — at 100 TB the "
    "difference between scanning 1/5th of the table and all of it.",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = partitioned_events(spark, sf_dir)
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .filter(F.col("n") >= 10)
    )


@register(
    QUERIES,
    "rollup_daily_to_monthly",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           event_type,
           count(*)                                   AS n,
           round(sum(value), 2)                       AS sum_value,
           round(sum(value) / count(*), 6)            AS avg_value
    FROM events
    GROUP BY month, event_type
    """,
    doc="Two-level pre-aggregation: daily partials (count/sum) roll up to "
    "monthly totals, with avg recomposed from the sums — the materialized-"
    "rollup pattern where the daily layer is computed once and every "
    "coarser granularity derives from it without touching raw data. Oracle "
    "aggregates raw directly, proving the decomposition is lossless.",
)
def rollup_daily_to_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )
    return (
        daily.groupBy(
            F.date_format(F.date_trunc("month", F.col("day")), "yyyy-MM").alias("month"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.round(F.sum("sum_value") / F.sum("n"), 6).alias("avg_value"),
        )
    )


# --- Z-order clustering: multi-dimensional locality -> 1-D partition pruning
# 8-bit dimensions: ub = user_id % 256, vb = min(floor(value), 255).
# z interleaves the bits (u7 v7 u6 v6 ... u0 v0); the top 4 z-bits (u_hi2
# interleaved with v_hi2) become the partition directory. A 2-D box query
# then maps to a SMALL set of z-prefixes — directory pruning from BOTH
# predicates at once, which neither single-column partitioning can do.
Z_BITS = 8
Z_PREFIX_SHIFT = 2 * Z_BITS - 4  # keep top 4 interleaved bits

# the demo box: ub in [64, 128), vb in [0, 64)
_BOX_U = (64, 128)
_BOX_V = (0, 64)


def _z_terms(ub: str, vb: str) -> list[str]:
    """SQL terms summing to the interleaved z-value — the ONE definition,
    rendered into both Spark and DuckDB expressions."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({ub} >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"(({vb} >> {i}) & 1) * {1 << (2 * i)}")
    return terms


def _z_sql(ub: str, vb: str) -> str:
    return "(" + " + ".join(_z_terms(ub, vb)) + ")"


def _box_prefixes() -> list[int]:
    """Z-prefixes (top-4 interleaved bits) intersecting the demo box —
    computed from the same bit math, driver-side, O(16)."""
    out = []
    for u_hi in range(4):
        if u_hi * 64 >= _BOX_U[1] or (u_hi + 1) * 64 <= _BOX_U[0]:
            continue
        for v_hi in range(4):
            if v_hi * 64 >= _BOX_V[1] or (v_hi + 1) * 64 <= _BOX_V[0]:
                continue
            p = 0
            for i in range(2):
                p |= ((u_hi >> i) & 1) << (2 * i + 1)
                p |= ((v_hi >> i) & 1) << (2 * i)
            out.append(p)
    return sorted(out)


def zordered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events written once per (session, sf_dir) PARTITIONED BY the top
    z-prefix and sorted by the full z-value within partitions (row-group
    locality for min/max skipping below the directory level)."""
    tag = f"zord_{abs(hash((spark.sparkContext.applicationId, sf_dir, source_fingerprint(sf_dir, 'events.parquet')))) % 10**8}"
    name = f"events_{tag}"
    if not spark.catalog.tableExists(name):
        base = tempfile.mkdtemp(prefix=f"zorder_{uuid.uuid4().hex[:6]}_")
        e = load_table(spark, sf_dir, "events")
        e = e.withColumn("ub", (F.col("user_id") % 256).cast("int")).withColumn(
            "vb", F.least(F.floor("value"), F.lit(255)).cast("int")
        )
        e = e.withColumn("zval", F.expr(_z_sql("ub", "vb")).cast("int"))
        e = e.withColumn(
            "zprefix", F.shiftright("zval", Z_PREFIX_SHIFT).cast("int")
        )
        (
            e.repartition("zprefix")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .partitionBy("zprefix")
            .saveAsTable(name)
        )
        _swap_artifacts(spark, sf_dir, "zord", tag, [name], [base])
    return spark.table(name)


@register(
    QUERIES,
    "zorder_box_query",
    oracle=f"""
    SELECT event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT event_type, value,
             CAST(user_id % 256 AS INTEGER)                  AS ub,
             CAST(least(floor(value), 255) AS INTEGER)       AS vb
      FROM events
    )
    WHERE ub >= {_BOX_U[0]} AND ub < {_BOX_U[1]}
      AND vb >= {_BOX_V[0]} AND vb < {_BOX_V[1]}
    GROUP BY event_type
    """,
    doc="Z-order clustering: events laid out by interleaved (user bucket, "
    "value bucket) bits — directories keyed by the top-4 z-bits, rows "
    "sorted by the full z-value inside. The 2-D box query computes which "
    "z-prefixes its box intersects (driver-side, O(prefixes)) and scans "
    "ONLY those directories (PartitionFilters asserted in "
    "tests/test_plans.py), with residual predicates cleaning up inside — "
    "pruning from BOTH predicates at once, which no single-column "
    "partitioning achieves. The oracle recomputes the box from raw events, "
    "proving the layout is pure organization.",
)
def zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = zordered_events(spark, sf_dir)
    prefixes = _box_prefixes()
    return (
        e.filter(F.col("zprefix").isin(prefixes))
        .filter(
            (F.col("ub") >= _BOX_U[0])
            & (F.col("ub") < _BOX_U[1])
            & (F.col("vb") >= _BOX_V[0])
            & (F.col("vb") < _BOX_V[1])
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- Dynamic partition pruning: the dim-filter-prunes-the-fact pattern.
# event_type -> tier dim, one shared definition rendered into both engines.
EVENT_TIERS = [
    ("click", "interaction"),
    ("view", "interaction"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]
_TIER_VALUES = ", ".join(f"('{t}', '{g}')" for t, g in EVENT_TIERS)


@register(
    QUERIES,
    "dpp_event_tier_stats",
    oracle=f"""
    WITH dim(event_type, tier) AS (VALUES {_TIER_VALUES})
    SELECT e.event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events e JOIN dim ON e.event_type = dim.event_type
    WHERE dim.tier = 'conversion'
    GROUP BY e.event_type
    """,
    doc="Dynamic partition pruning (the star-schema scale pattern): the fact "
    "is laid out PARTITIONED BY event_type, the filter lives only on a tiny "
    "joined dim (tier = 'conversion'), and Catalyst injects the dim's "
    "surviving keys as a runtime partition filter on the fact scan — the "
    "fact reads 2 of 5 directories without any literal fact predicate "
    "(dynamicpruning asserted in tests/test_plans.py). At 100 TB this is "
    "the difference between scanning the whole fact and only the partitions "
    "the dim selects, for every dim-filtered query shape.",
)
def dpp_event_tier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = partitioned_events(spark, sf_dir)
    dim = spark.createDataFrame(EVENT_TIERS, ["event_type", "tier"])
    return (
        e.join(F.broadcast(dim), "event_type")
        .filter(F.col("tier") == "conversion")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    QUERIES,
    "bloom_filtered_join",
    oracle="""
    SELECT l_returnflag,
           count(*)                                          AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    doc="Runtime bloom-filter join pruning (the shuffle-reduction pattern "
    "when the filtered dim is too big to broadcast): orders is filtered to "
    "one priority, Catalyst builds a bloom filter over the surviving order "
    "keys and pushes bloom_filter_might_contain onto the lineitem side "
    "BEFORE its shuffle, so ~4/5 of the fact rows never cross the network "
    "(asserted in tests/test_plans.py). Broadcast is disabled and the "
    "application-side size floor zeroed within this query only — at 100 TB "
    "the thresholds pass on their own and the same plan appears unforced; "
    "the plan is materialized before the confs are restored, so the "
    "returned DataFrame keeps the bloom-filtered shape.",
)
def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        },
    ):
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
        )
        # pin the plan (QueryExecution caches) while the confs are in force
        df._jdf.queryExecution().executedPlan()
        return df


# --- Incremental materialized-view maintenance: merge delta partials into a
# stored rollup without rescanning history. The MV holds mergeable partial
# states (count + sum — never avg, which doesn't merge); refresh = delta
# partials ∪ MV, one re-aggregate over MV-cardinality rows.
MV_CUTOFF = "2024-01-24 00:00:00"


def materialized_daily_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily (day, event_type) partials of events BEFORE the cutoff, written
    once per (session, sf_dir) — "yesterday's MV". The refresh query must
    read THIS, never the pre-cutoff raw events."""
    tag = f"mv_{abs(hash((spark.sparkContext.applicationId, sf_dir, source_fingerprint(sf_dir, 'events.parquet')))) % 10**8}"
    name = f"daily_mv_{tag}"
    if not spark.catalog.tableExists(name):
        base = tempfile.mkdtemp(prefix=f"dailymv_{uuid.uuid4().hex[:6]}_")
        (
            load_table(spark, sf_dir, "events")
            .filter(F.col("ts") < F.lit(MV_CUTOFF).cast("timestamp"))
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
            )
            .write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .saveAsTable(name)
        )
        _swap_artifacts(spark, sf_dir, "mv", tag, [name], [base])
    return spark.table(name)


@register(
    QUERIES,
    "rollup_incremental_merge",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*)                                    AS n,
           round(sum(value), 2)                        AS sum_value,
           round(sum(value) / count(*), 6)             AS avg_value
    FROM events
    GROUP BY day, event_type
    """,
    doc="Incremental materialized-view maintenance: the daily rollup is "
    "stored as mergeable partials (count+sum) up to a cutoff; the refresh "
    "aggregates ONLY the post-cutoff delta from raw (PushedFilters on ts "
    "asserted in tests/test_plans.py) and merges it with the stored MV via "
    "union + re-aggregate over MV-cardinality rows. avg is recomposed from "
    "the merged sums at the end — it never lives in the MV because it "
    "doesn't merge. At 100 TB this is the difference between an ETL cycle "
    "that rescans years of history and one that touches a day: refresh cost "
    "is O(delta + |MV|), independent of history size. The oracle aggregates "
    "ALL raw events directly, proving merge(MV, delta) is lossless.",
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = materialized_daily_mv(spark, sf_dir)
    # Filter the delta in the STORAGE type's domain so the predicate reaches
    # the parquet scan: driver events.ts is TIMESTAMP(NANOS) surfaced as a
    # nanos LONG (see session.load_table) — a filter on the converted
    # timestamp expression is not pushable, a bigint comparison is. The
    # cutoff is a whole second, so nanos-domain and micros-domain cuts agree.
    schema = raw_schema(spark, sf_dir, "events")
    raw = spark.read.schema(schema).parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":
        cutoff_ns = int(
            datetime.datetime.strptime(MV_CUTOFF, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=datetime.timezone.utc)
            .timestamp()
        ) * 1_000_000_000
        raw = raw.filter(F.col("ts") >= F.lit(cutoff_ns))
    else:
        raw = raw.filter(F.col("ts") >= F.lit(MV_CUTOFF).cast("timestamp"))
    delta = normalize_timestamps(raw).groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )
    return (
        mv.unionByName(delta)
        .groupBy(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.round(F.sum("sum_value") / F.sum("n"), 6).alias("avg_value"),
        )
    )


# --- Zone-map file skipping: per-file min/max statistics as a manifest, the
# Iceberg/Delta data-skipping shape (r6 verdict ask #4). Clustering the table
# on the filter column at write time gives every file a NARROW value range;
# the manifest (one row per file, built from parquet FOOTERS only — zero data
# IO, exactly what Delta/Iceberg record at commit time) then lets the planner
# drop whole files before the scan even starts. At 100 TB this is the
# dominant read-path saving: a 3-month predicate over 7 years of clustered
# data reads ~4% of the files instead of relying on row-group skipping
# inside an all-files scan.
ZM_FILES = 16
ZM_LO = "1996-06-01 00:00:00"
ZM_HI = "1996-09-01 00:00:00"  # exclusive

_ZONEMAP_CACHE: dict[tuple[str, str], tuple[str, list[dict]]] = {}


def zonemap_manifest(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[dict]]:
    """(data_dir, manifest) for a shipdate-range-clustered copy of lineitem,
    written once per (session, sf_dir). The manifest is one dict per data
    file — {file, min, max} over ``l_shipdate`` — read from parquet footer
    statistics alone (``pyarrow.parquet`` metadata; no data pages touched),
    the same commit-time bookkeeping Iceberg manifests / Delta add-file
    stats persist. Timestamps are written as TIMESTAMP_MICROS because INT96
    (Spark's legacy default) carries NO column statistics — with INT96 the
    footer has nothing to skip on. A file whose stats are absent gets
    min=max=None and is always kept (skipping must be conservative)."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        source_fingerprint(sf_dir, "lineitem.parquet"),
    )
    if key not in _ZONEMAP_CACHE:
        import shutil as _shutil

        # drop a previous fingerprint's clustered copy (dir + cache entry)
        # before building the new one — the zonemap analog of
        # _swap_artifacts / session.session_memo's eviction
        for k in [k for k in _ZONEMAP_CACHE if k != key and k[:2] == key[:2]]:
            old_dir, _m = _ZONEMAP_CACHE.pop(k)
            _shutil.rmtree(os.path.dirname(old_dir), ignore_errors=True)
        import glob as globmod

        import pyarrow.parquet as pq

        # Session-local SCRATCH by construction (mkdtemp on the driver) —
        # NOT the durable catalog, so plain os/glob/pyarrow access below is
        # correct even when the index catalog lives on an object store; the
        # footer-stats manifest read is the point of the query (r15 note,
        # scope contract in iofs module docstring).
        base = tempfile.mkdtemp(prefix=f"zonemap_{uuid.uuid4().hex[:6]}_")
        data_dir = f"{base}/lineitem_clustered"
        with scoped_conf(
            spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        ):
            (
                load_table(spark, sf_dir, "lineitem")
                .repartitionByRange(ZM_FILES, "l_shipdate")
                .sortWithinPartitions("l_shipdate")
                .write.mode("overwrite")
                .parquet(data_dir)
            )
        manifest: list[dict] = []
        for path in sorted(globmod.glob(f"{data_dir}/part-*.parquet")):
            md = pq.ParquetFile(path).metadata
            idx = md.schema.names.index("l_shipdate")
            mins: list | None = []
            maxs: list = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = None  # unknown range -> never skip this file
                    break
                mins.append(st.min)
                maxs.append(st.max)

            def _naive_utc(dt):
                if dt.tzinfo is not None:
                    dt = dt.astimezone(datetime.timezone.utc).replace(
                        tzinfo=None
                    )
                return dt

            manifest.append(
                {
                    "file": path,
                    "min": _naive_utc(min(mins)) if mins else None,
                    "max": _naive_utc(max(maxs)) if mins else None,
                }
            )
        _ZONEMAP_CACHE[key] = (data_dir, manifest)
    return _ZONEMAP_CACHE[key]


def zonemap_prune(
    spark: SparkSession, sf_dir: str, lo: str, hi: str
) -> tuple[list[str], int]:
    """(surviving_files, total_files) for predicate lo <= l_shipdate < hi.

    Driver-side manifest lookup — the Iceberg/Delta planning step: O(files)
    metadata rows, no executor involved. The interval test widens the
    predicate bounds by ONE DAY on each side as a timezone-skew guard:
    parquet stats are UTC-absolute (isAdjustedToUTC) while predicate
    literals resolve in the session timezone, and zone-map pruning may
    safely OVER-keep (the exact predicate re-applies on the scan) but must
    never drop a file that could match."""
    _, manifest = zonemap_manifest(spark, sf_dir)
    fmt = "%Y-%m-%d %H:%M:%S"
    pad = datetime.timedelta(days=1)
    lo_dt = datetime.datetime.strptime(lo, fmt) - pad
    hi_dt = datetime.datetime.strptime(hi, fmt) + pad
    keep = [
        m["file"]
        for m in manifest
        if m["min"] is None or (m["min"] < hi_dt and m["max"] >= lo_dt)
    ]
    return keep, len(manifest)


@register(
    QUERIES,
    "zonemap_pruned_revenue",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-09-01 00:00:00'
    GROUP BY l_returnflag
    """,
    doc="Zone-map file skipping: lineitem clustered on l_shipdate at write "
    "time (repartitionByRange -> one contiguous date slice per file), a "
    "per-file min/max manifest built from parquet footers only, and the "
    "3-month predicate pruning files by manifest-interval lookup BEFORE the "
    "scan — the read itself lists only the surviving files (asserted "
    "pruned < total in tests/test_plans.py). The exact predicate re-applies "
    "on the scan (pushed to the parquet reader), so pruning can only ever "
    "over-keep, never corrupt. This is the per-file half of data skipping "
    "that partition pruning (partition_pruned_scan) can't express for "
    "continuous columns: you can't directory-partition by timestamp without "
    "exploding the partition count, but you CAN cluster and skip. Oracle = "
    "the same predicate over the full unclustered table.",
)
def zonemap_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    files, total = zonemap_prune(spark, sf_dir, ZM_LO, ZM_HI)
    data_dir, _ = zonemap_manifest(spark, sf_dir)
    # fall back to the full clustered dir if the prune kept nothing (can't
    # happen for this predicate, but an empty read-path list is an error)
    src = spark.read.parquet(*files) if files else spark.read.parquet(data_dir)
    return (
        src.filter(
            (F.col("l_shipdate") >= F.lit(ZM_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(ZM_HI).cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
