"""Physical-plan assertions: the plans we'd want at 100 TB, not just plans
that pass. Checks predicate pushdown reaches the parquet scan, column
pruning shrinks ReadSchema, dimensions broadcast, and top-k avoids a global
sort (TakeOrderedAndProject)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def plans(spark):
    from hri_flink_validation_passthrough_spark.plans.relational import (
        q1_pricing_summary,
        q3_shipping_priority,
        q5_region_revenue,
        events_topk_users,
    )

    return {
        "q1": plan(q1_pricing_summary(spark, SF_ORACLE)),
        "q3": plan(q3_shipping_priority(spark, SF_ORACLE)),
        "q5": plan(q5_region_revenue(spark, SF_ORACLE)),
        "topk": plan(events_topk_users(spark, SF_ORACLE)),
    }


def test_q1_filter_pushed_to_scan(plans):
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plans["q1"]


def test_q1_column_pruning(plans):
    # the scan must not read l_orderkey/l_partkey/... — only the 7 used cols
    read = [l for l in plans["q1"].splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_discount" in read


def test_q3_optimizer_broadcasts_customer_when_small(plans):
    # No F.broadcast hint on customer anymore (a forced broadcast OOMs at
    # 100x scale) — this asserts the OPTIMIZER still picks broadcast at this
    # SF from size stats, so intent is pinned without the scale hazard.
    assert "BroadcastHashJoin" in plans["q3"]
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plans["q3"]


def test_q5_all_dims_broadcast(plans):
    # nation/region broadcast by hint; customer/supplier broadcast by
    # optimizer choice at this SF; only the fact-fact join (lineitem-orders)
    # may shuffle
    assert plans["q5"].count("BroadcastHashJoin") >= 4


def test_topk_uses_heap_not_global_sort(plans):
    assert "TakeOrderedAndProject" in plans["topk"]


def test_whole_stage_codegen_in_q1(spark):
    from hri_flink_validation_passthrough_spark.plans.relational import (
        q1_pricing_summary,
    )

    df = q1_pricing_summary(spark, SF_ORACLE)
    df.collect()  # AQE finalizes the plan only on execution
    p = plan(df)
    assert "[codegen id :" in p  # whole-stage codegen spans
    assert "partial_sum" in p  # map-side partial aggregation before shuffle


def test_bucketed_join_has_no_exchange_or_sort(spark):
    """Both sides bucketed+sorted on the join key at write time -> the SMJ
    must read co-located buckets directly: no Exchange, no Sort anywhere
    below the join (the only Exchange allowed is the final groupBy's)."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        bucketed_join_revenue,
    )

    p = plan(bucketed_join_revenue(spark, SF_ORACLE))
    assert "SortMergeJoin" in p
    # no shuffle on either join key — the join reads bucket layout
    assert "hashpartitioning(l_orderkey" not in p
    assert "hashpartitioning(o_orderkey" not in p
    # buckets are sorted at write time, so the SMJ needs no Sort operator
    assert "Sort [l_orderkey" not in p and "Sort [o_orderkey" not in p


def test_partitioned_scan_prunes_directories(spark):
    """PARTITIONED BY event_type + type predicate -> the scan must carry a
    PartitionFilter (directory pruning), not a data filter over all files."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        partition_pruned_scan,
    )

    p = plan(partition_pruned_scan(spark, SF_ORACLE))
    assert "PartitionFilters" in p
    pf_line = [l for l in p.splitlines() if "PartitionFilters" in l][0]
    assert "event_type" in pf_line and "click" in pf_line


def test_zorder_box_scan_prunes_partitions(spark):
    """Z-ordered layout + 2-D box -> the scan must prune to the box's
    z-prefix directories (both predicates folded into ONE partition filter)."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        _box_prefixes,
        zorder_box_query,
    )

    p = plan(zorder_box_query(spark, SF_ORACLE))
    pf_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf_lines, "z-order scan lost its PartitionFilters"
    assert "zprefix" in pf_lines[0]
    for pref in _box_prefixes():
        assert str(pref) in pf_lines[0]


def test_dpp_injects_runtime_partition_filter(spark):
    """Dim-side filter + partitioned fact -> Catalyst must inject a
    dynamicpruning subquery into the fact scan's PartitionFilters (the fact
    reads only the dim-selected directories, with no literal fact predicate)."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        dpp_event_tier_stats,
    )

    p = plan(dpp_event_tier_stats(spark, SF_ORACLE))
    pf_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf_lines, "fact scan lost its PartitionFilters"
    assert "dynamicpruning" in pf_lines[0]


def test_incremental_merge_scans_only_the_delta(spark):
    """Incremental MV refresh: the raw-events scan must carry the cutoff as a
    pushed parquet filter (only the delta is read from raw), and the history
    side must come from the materialized MV table, not a second events scan."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        rollup_incremental_merge,
    )

    p = plan(rollup_incremental_merge(spark, SF_ORACLE))
    pushed = [
        l
        for l in p.splitlines()
        if "PushedFilters" in l and "GreaterThanOrEqual(ts" in l
    ]
    assert pushed, "delta cutoff not pushed to the raw events scan"
    # exactly one events.parquet scan: history comes from the MV table
    assert p.count("events.parquet") == 1
    assert "daily_mv_" in p


def test_bloom_filter_pruned_join(spark):
    """Selective dim filter + non-broadcast join -> a runtime bloom filter
    must be built over the dim keys and applied to the fact side before its
    shuffle (bloom_filter_might_contain in the fact subtree)."""
    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        bloom_filtered_join,
    )

    p = plan(bloom_filtered_join(spark, SF_ORACLE))
    assert "bloom_filter_agg" in p, "no bloom filter built on the dim side"
    assert "might_contain" in p, "bloom filter not applied to the fact side"


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join handling is a load-bearing scale claim: construct a
    join where half the fact lands on one key and assert the ADAPTIVE final
    plan re-splits it (SortMergeJoin(skew=true)). Notable caveat encoded
    here: the rule declines when the join feeds an aggregation (the split
    would add a shuffle), so real pipelines with skewed join->agg chains
    still need the manual salting of skew_join_salted."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("d"),
        )
        j = fact.join(dim, "k").select(F.substring("pad", 1, 1).alias("p"))
        assert len(j.collect()) == 300_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shingle_stage_is_a_plan_barrier(spark):
    """Regression guard for the Catalyst pushdown pathology BASELINE.md
    documents: without the persisted shingle stage, the generator's implicit
    size(sh)>0 filter collapses with the user filter and drags the WHOLE
    shingle expression (split inlined per element_at) below the repartition
    Exchange into the parquet scan's DataFilters. Assert no Scan/Filter node
    of the bloom query's plan contains the shingle expression."""
    from hri_flink_validation_passthrough_spark.operators.linkage import (
        decontam_bloom_prefilter,
    )

    df = decontam_bloom_prefilter(spark, SF_ORACLE)
    text = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        line
        for line in text.splitlines()
        if ("FileScan" in line or "Filter" in line) and "concat_ws" in line
    ]
    assert not bad, bad[:2]


def test_new_analytics_plans_stay_shuffle_lean(spark):
    """Shape guards for the round's analytics additions: the equi-depth
    binning pass must not global-sort, the weighted sample must be
    rand()-free, and the TS subsequence matcher needs exactly its two
    shuffles (hourly agg + per-key windows)."""
    import re

    from hri_flink_validation_passthrough_spark.operators.analytics import (
        equi_depth_histogram,
        ts_subsequence_match,
    )
    from hri_flink_validation_passthrough_spark.operators.sampling import (
        weighted_sample_per_source,
    )

    hist = equi_depth_histogram(spark, SF_ORACLE)
    hp = hist._jdf.queryExecution().executedPlan().toString()
    # binning output is a tiny groupBy(bin); no Sort node on the row path
    assert "TakeOrderedAndProject" in hp or "Sort [" not in hp.split("Exchange")[0]

    ws = weighted_sample_per_source(spark, SF_ORACLE)
    wp = ws._jdf.queryExecution().executedPlan().toString()
    assert "rand(" not in wp  # deterministic hash keys, never rand()

    ts = ts_subsequence_match(spark, SF_ORACLE)
    tp = ts._jdf.queryExecution().executedPlan().toString()
    # Count only the ROW-PATH exchanges: once another test has materialized
    # the _dense_hourly cache, the plan text embeds InMemoryRelation blocks
    # that REPRINT the cached lineage's exchanges (observed 4 -> 10 purely
    # from cache state). The tree prints top-down, so everything above the
    # first InMemoryRelation is the live row path.
    n_ex = len(re.findall(r"Exchange hashpartitioning", tp.split("InMemoryRelation")[0]))
    # r5 densification added shuffles — but only the hourly aggregation
    # touches data cardinality; span/grid-join/window all run on the
    # persisted hours-x-types series (data-size-independent, _dense_hourly).
    # Fresh session: 4 = hourly agg + span agg + grid join + per-key window;
    # warm cache: the windows over the cached series only.
    assert n_ex <= 4, f"ts_subsequence_match grew to {n_ex} row-path shuffles"


def test_zonemap_manifest_prunes_files(spark):
    """Zone-map skipping must (a) actually drop files — the 3-month
    predicate over ~7 years of range-clustered data keeps only a small
    fraction of the 16 files — and (b) never drop a matching row: rows
    read through the pruned file list equal rows from the full clustered
    dir under the same predicate."""
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.plans.bucketing import (
        ZM_HI,
        ZM_LO,
        zonemap_manifest,
        zonemap_prune,
    )

    files, total = zonemap_prune(spark, SF_ORACLE, ZM_LO, ZM_HI)
    assert total == 16
    assert 0 < len(files) < total, (
        f"expected real pruning, kept {len(files)}/{total}"
    )
    # ~3 months of ~82 -> with the 1-day tz guard at most a handful of files
    assert len(files) <= 4

    pred = (F.col("l_shipdate") >= F.lit(ZM_LO).cast("timestamp")) & (
        F.col("l_shipdate") < F.lit(ZM_HI).cast("timestamp")
    )
    data_dir, _ = zonemap_manifest(spark, SF_ORACLE)
    full = spark.read.parquet(data_dir).filter(pred).count()
    pruned = spark.read.parquet(*files).filter(pred).count()
    assert pruned == full and full > 0


def test_sketch_cardinalities_tracks_exact_counts(spark):
    """Pins the retired-from-registry sketch query (COVERAGE.md r11): its
    registration was retired because engine-specific sketch bit patterns
    can't hash-match a DuckDB oracle, but the operator itself must keep
    tracking the exact answers — HLL NDVs within the estimator's error
    envelope and the approx p95 inside the observed value range."""
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.plans.relational import (
        sketch_cardinalities,
    )
    from hri_flink_validation_passthrough_spark.session import load_table

    rows = {r["event_type"]: r for r in sketch_cardinalities(spark, SF_ORACLE).collect()}
    assert rows, "sketch query returned no groups"
    e = load_table(spark, SF_ORACLE, "events")
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.countDistinct("event_id").alias("events"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for et, r in rows.items():
        x = exact[et]
        # approx_count_distinct's default rsd is 5%; allow 3 sigma
        assert abs(r["approx_users"] - x["users"]) <= max(3, 0.15 * x["users"])
        assert abs(r["approx_events"] - x["events"]) <= max(3, 0.15 * x["events"])
        assert 0 <= r["approx_p95"] <= x["vmax"]
        assert r["approx_p95"] >= 0.5 * x["p95"]
