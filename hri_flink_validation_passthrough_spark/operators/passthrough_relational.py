"""Relational (pure-DataFrame) batch replay of the passthrough pipeline.

The state machine (operators/batch_state.py) is the parity-faithful,
event-at-a-time implementation. THIS module is the 100 TB plan for batch
replay: record routing stays entirely JVM-side — one window over
(batchId, time) plus a broadcast join against per-batch outcomes — so no
payload byte ever crosses the Python boundary and Tungsten/codegen handle
the full record volume.

Scope: the canonical control pattern (≤1 started, ≤1 sendCompleted, ≤1
terminated per batch — what production producers emit; arbitrary control
sequences fall back to `run_pipeline_batch`). Timer semantics are encoded as
time algebra:

- ``processed_at_sc``   = #records ordered before sendCompleted
- ``t_expected/t_over`` = times of the expected-th / (expected+1)-th record
- armed deadline        = max(sc_t, t_expected) + delay
- failed                = overage at sendCompleted, or t_over < deadline
- completed_t           = deadline when armed, not failed, not terminated
- routing               = unknown → invalid; rt ≥ term_t → dropped;
                          rt ≥ completed_t → invalid(late); else out

Equivalence with the state machine is pinned by registering the SAME DuckDB
oracles for both implementations (tests/test_oracle_parity.py), i.e. the
two engines and the oracle agree on every scenario query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import COMPLETED, FAILED, SEND_COMPLETED, STARTED, TERMINATED, UNKNOWN_BATCH_FAILURE
from ..plans import QuerySpec, register
from ..session import load_table
from ..sources.envelope import events_as_records
from .passthrough import (
    _derive_control,
    _derive_control_agg,
    _summarize,
    _view_terminated,
)
from ..materialize import materialize

QUERIES: dict[str, QuerySpec] = {}

def _big():
    return F.lit(2**62).cast("long")  # +infinity stand-in for time comparisons


# Time-bucket width for the two-level running count in _outcomes. Sized so
# bucket cardinality (ingest span / width) stays far below record count but
# far above core count; at a 1h width a month-long replay yields ~720
# buckets per batch — enough parallelism to split any hot batch without a
# bucket table worth shuffling.
_BUCKET_MS = 3_600_000


def _outcomes(
    records: DataFrame,
    controls: DataFrame | None,
    delay_ms: int,
    ctrl_agg: DataFrame | None = None,
) -> DataFrame:
    """Per-batch outcome table: (batch_id, term_t, completed_t,
    final_status, known) — one row per control batch that has records
    (``known`` is TRUE on every row). Bounded by the control batches, not by
    the distinct ids in ``records``: unknown-batch records never enter it.
    ``records``: envelope rows with batch_id/time_ms/seq;
    ``controls``: notification columns + time_ms/seq. ``ctrl_agg``: the
    already-aggregated (batch_id, started_t, sc_t, expected, term_t) table
    (e.g. ``_derive_control_agg``) — skips the control aggregation pass."""
    if ctrl_agg is not None:
        ctrl = ctrl_agg
    else:
        ctrl = controls.groupBy(F.col("id").alias("batch_id")).agg(
            F.min(F.when(F.col("status") == STARTED, F.col("time_ms"))).alias("started_t"),
            F.min(F.when(F.col("status") == SEND_COMPLETED, F.col("time_ms"))).alias("sc_t_raw"),
            F.max(
                F.when(F.col("status") == SEND_COMPLETED, F.col("expectedRecordCount"))
            ).alias("expected_raw"),
            F.min(F.when(F.col("status") == TERMINATED, F.col("time_ms"))).alias("term_t"),
        )
        ctrl = ctrl.withColumn(
            "sc_t",
            F.when(
                F.col("term_t").isNotNull() & (F.col("sc_t_raw") >= F.col("term_t")),
                F.lit(None),
            ).otherwise(F.col("sc_t_raw")),
        ).withColumn(
            "expected",
            F.when(F.col("sc_t").isNull(), F.lit(None)).otherwise(F.col("expected_raw")),
        ).select("batch_id", "started_t", "sc_t", "expected", "term_t")

    # ctrl has exactly ONE consumer in this plan — the broadcast join below.
    # (r15 shipped a second consumer, a final `ctrl LEFT JOIN agg`, plus a
    # lazy localCheckpoint so the control aggregation — itself a full
    # events-table pass — would not run twice. r16 removes BOTH: the ctrl
    # columns ride the broadcast join through the record aggregation and are
    # read back with first() per batch, so no re-join and no checkpoint —
    # one less toRdd planning at build time and one less barrier, with the
    # control aggregate still evaluated exactly once in the plan. The only
    # rows this drops from the outcome table are control batches with ZERO
    # records, whose final_status is provably NULL — failed_at_sc needs
    # processed_at_sc > expected (no agg row → NULL → false), armed needs
    # t_expected (a record) — so they emit no notification and can join no
    # record: the routed output is identical. The join is INNER: records of
    # unknown batches (no ctrl match, null batch_id included) cannot change
    # any known batch's outcome, so they stay out of the aggregation and of
    # the outcome table; route_records_relational's left join misses them
    # and routes them to invalid. Arbitrarily many garbage batch ids thus
    # never grow a broadcast.)
    r = records.select("batch_id", "time_ms", "seq").join(
        F.broadcast(ctrl.withColumn("known", F.lit(True))), "batch_id"
    )
    eligible = F.col("term_t").isNull() | (F.col("time_ms") < F.col("term_t"))
    # Per-batch running count as a TWO-LEVEL prefix sum (same technique as
    # sequence_packing): a flat Window.partitionBy("batch_id") makes one
    # batch = one task — a 10M-record batch at 100 TB serializes. Instead:
    # (1) in-bucket running count over (batch, time-bucket) — parallel
    #     across buckets since the bucket key is monotone in (time_ms, seq);
    # (2) tiny per-bucket totals table → per-batch prefix over buckets
    #     (bucket cardinality = time-range / width, not record count);
    # (3) broadcast the offsets back. Exactly equal to the flat window.
    r = r.withColumn("bucket", F.expr(f"time_ms div {_BUCKET_MS}"))
    r = r.withColumn("elig", F.when(eligible, 1).otherwise(0))
    # Pin the (batch_id, bucket) hash exchange ONCE; both consumers below —
    # the per-bucket totals aggregation and the in-bucket sort-window —
    # require exactly this clustering, so Catalyst plans a single shuffle
    # with a ReusedExchange for the second branch. One scan, one exchange,
    # one window sort (previously the windowed frame was traversed twice to
    # read back its own last running count).
    r = r.repartition("batch_id", "bucket")
    w_buckets = (
        Window.partitionBy("batch_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        # bucket total == eligible count — a plain aggregate over the shared
        # exchange, no window needed
        r.groupBy("batch_id", "bucket")
        .agg(F.sum("elig").alias("b_total"))
        .withColumn(
            "b_offset", F.coalesce(F.sum("b_total").over(w_buckets), F.lit(0))
        )
        .select("batch_id", "bucket", "b_offset")
    )
    w_in = (
        Window.partitionBy("batch_id", "bucket")
        .orderBy("time_ms", "seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = r.join(F.broadcast(offsets), ["batch_id", "bucket"]).withColumn(
        "cnt", F.col("b_offset") + F.sum("elig").over(w_in)
    )
    o = r.groupBy("batch_id").agg(
        F.count(F.when(eligible & (F.col("time_ms") < F.col("sc_t")), 1)).alias(
            "processed_at_sc"
        ),
        F.min(
            F.when(eligible & (F.col("cnt") == F.col("expected")), F.col("time_ms"))
        ).alias("t_expected"),
        F.min(
            F.when(eligible & (F.col("cnt") == F.col("expected") + 1), F.col("time_ms"))
        ).alias("t_over"),
        # per-batch constants from the broadcast ctrl join (ctrl is one row
        # per batch_id, so first() is deterministic), read back instead of
        # re-joining ctrl — see the single-consumer note above
        F.first("sc_t").alias("sc_t"),
        F.first("expected").alias("expected"),
        F.first("term_t").alias("term_t"),
        F.first("known").alias("known"),
    )

    failed_at_sc = F.col("sc_t").isNotNull() & (
        F.col("processed_at_sc") > F.col("expected")
    )
    armed = (
        F.col("sc_t").isNotNull()
        & (F.col("expected") > 0)
        & ~failed_at_sc
        & F.col("t_expected").isNotNull()
    )
    deadline = F.greatest(F.col("sc_t"), F.col("t_expected")) + F.lit(delay_ms)
    failed_in_window = armed & F.col("t_over").isNotNull() & (
        F.col("t_over") < deadline
    )
    completed = armed & ~failed_in_window & F.col("term_t").isNull()
    return o.select(
        "batch_id",
        "term_t",
        F.when(completed, deadline).alias("completed_t"),
        F.when(failed_at_sc | failed_in_window, F.lit(FAILED))
        .when(completed, F.lit(COMPLETED))
        .alias("final_status"),
        "known",
    )


def route_records_relational(
    records: DataFrame,
    controls: DataFrame | None,
    delay_ms: int = 5000,
    ctrl_agg: DataFrame | None = None,
) -> DataFrame:
    """records: envelope-shaped (batch_id, time_ms, seq, key, value, headers)
    where batch_id may be null/unknown; controls: notification columns +
    time_ms/seq (or ``ctrl_agg``: the pre-aggregated per-batch control
    table — one less pass). Returns ROUTED_SCHEMA-shaped rows (data + one
    notification row per terminal batch) — all JVM-side."""
    # outcomes is consumed TWICE (the broadcast join below and the
    # notifications branch) — without materialization each consumer re-runs
    # the whole _outcomes subtree (two aggregations + two windows over the
    # full record set; measured ~2× the query's cost at sf0.1). The table is
    # per-batch cardinality — tiny at any scale — so a localCheckpoint
    # (the same lineage-control trade as dedup_clusters) materializes it once
    # and both consumers read the stored rows. Lazy, not eager: the
    # interleaved sf0.1 A/B (BASELINE.md) showed eager's serial
    # driver-blocking checkpoint job is pure fixed overhead, while lazy folds
    # the materialization into the first consuming job. This is the plan's
    # ONLY materialization (r16): _outcomes no longer checkpoints the
    # control aggregate separately.
    outcomes = materialize(
        _outcomes(records, controls, delay_ms, ctrl_agg), eager=False
    )
    # outcomes carries one row per known batch (known = TRUE), so a single
    # broadcast join both marks known batches and attaches their terminal
    # times — no separate known-ids join over the record stream. Unknown
    # batch ids miss the join (known NULL) and route to invalid.
    rec = records.join(F.broadcast(outcomes), "batch_id", "left")

    unknown_body = F.encode(
        F.lit('{"failure": "%s"}' % UNKNOWN_BATCH_FAILURE), "UTF-8"
    )
    late_body = F.encode(F.lit('{"failure": "Batch is already completed"}'), "UTF-8")
    term_t = F.coalesce(F.col("term_t"), _big())
    completed_t = F.coalesce(F.col("completed_t"), _big())

    dest = (
        F.when(F.col("known").isNull(), F.lit("invalid"))
        .when(F.col("time_ms") >= term_t, F.lit("dropped"))
        .when(F.col("time_ms") >= completed_t, F.lit("invalid"))
        .otherwise(F.lit("out"))
    )
    value = (
        F.when(F.col("known").isNull(), unknown_body)
        .when(F.col("time_ms") >= completed_t, late_body)
        .otherwise(F.col("value"))
    )
    routed = (
        rec.withColumn("dest", dest)
        .filter(F.col("dest") != "dropped")
        .select("dest", "batch_id", "key", value.alias("value"), "headers")
    )
    notifications = outcomes.filter(F.col("final_status").isNotNull()).select(
        F.lit("notification").alias("dest"),
        "batch_id",
        F.encode(F.col("batch_id"), "UTF-8").alias("key"),
        F.encode(
            F.to_json(F.struct(F.col("batch_id").alias("id"), F.col("final_status").alias("status"))),
            "UTF-8",
        ).alias("value"),
        F.array().cast("array<struct<key:string,value:binary>>").alias("headers"),
    )
    return routed.unionByName(notifications)


# ---------------------------------------------------------------------------
# scenario queries — SAME oracles as the state-machine versions
# ---------------------------------------------------------------------------
def _routed_events(spark: SparkSession, sf_dir: str, **ctrl_kw) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    recs = events_as_records(e)
    from ..sources.envelope import batch_id_from_headers

    recs = recs.withColumn("batch_id", batch_id_from_headers())
    # canonical derived controls → the folded one-pass aggregate (ask #7);
    # scenario queries that splice custom control rows (terminate) build
    # generic `controls` themselves and skip this helper
    return route_records_relational(
        recs, None, delay_ms=5000, ctrl_agg=_derive_control_agg(e, **ctrl_kw)
    )


@register(
    QUERIES,
    "passthrough_route_relational",
    oracle="""
    SELECT event_type            AS batch_id,
           count(*)              AS n_out,
           CAST(0 AS BIGINT)     AS n_invalid,
           'completed'           AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc="Happy path through the PURE-DataFrame routing plan (no Python on "
    "the record path) — same oracle as passthrough_route, so the state "
    "machine, the relational plan, and DuckDB all agree.",
)
def passthrough_route_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _summarize(_routed_events(spark, sf_dir))


# Registration RETIRED in r11 (COVERAGE.md capacity policy rule #2c: a
# *_relational parity twin whose state-machine twin stays green) to free a
# slot for ann_sq8_adc_topk while restoring margin >= 2 for r12. Both twins
# were hash-green in both driver checks (CORRECTNESS_r01/r07) against the
# IDENTICAL oracle, and the pair is not under a perf watch (unlike the
# route pair, which stays registered). The plan itself remains covered by
# the registered passthrough_route_relational (same routing subtree), the
# randomized differential suite (tests/test_relational_differential.py,
# 'over' scenarios), and the direct twin-parity pin
# tests/test_relational_differential.py::test_retired_twins_match_state_machine.
def passthrough_overcount_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overcount→failed via the relational plan (same oracle as the state
    machine's passthrough_overcount)."""
    routed = _routed_events(spark, sf_dir, expected_delta={"click": -5})
    return _summarize(routed).select("batch_id", "n_out", "final_status")


# Registration RETIRED in r11 — same rule-#2c record as
# passthrough_overcount_relational above (final receipts hash-green
# CORRECTNESS_r01/r07; surviving driver twin: passthrough_terminate; the
# terminate kind is also generated by the randomized differential suite and
# the direct twin-parity pin keeps this exact function exercised).
def passthrough_terminate_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminate via the relational plan (same oracle as the state
    machine's passthrough_terminate)."""
    e = load_table(spark, sf_dir, "events")
    ctrl = _derive_control(e).unionByName(_view_terminated(e))
    from ..sources.envelope import batch_id_from_headers

    recs = events_as_records(e).withColumn("batch_id", batch_id_from_headers())
    routed = route_records_relational(recs, ctrl, delay_ms=5000)
    return _summarize(routed).select("batch_id", "n_out", "final_status")


# Registration RETIRED in r13 (COVERAGE.md capacity policy rule #2c: a
# *_relational parity twin whose state-machine twin stays green) — the
# r12 verdict's ask #1, executed once its queued precondition landed:
# BOTH twins hash-green at age 0 in CORRECTNESS_r12.json
# (passthrough_unknown_batch + this twin, identical oracle). Restores
# registry margin 2 (238/240). The plan stays covered by the registered
# passthrough_route_relational (same routing subtree), the randomized
# differential suite ('unknown' scenarios every run,
# tests/test_relational_differential.py), and the direct twin-parity pin
# test_retired_twins_match_state_machine, extended to this pair.
def passthrough_unknown_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown-batch routing via the relational plan (same oracle as the
    state machine's passthrough_unknown_batch)."""
    return _summarize(_routed_events(spark, sf_dir, exclude=["error"]))
