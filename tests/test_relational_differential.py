"""Randomized differential test: the pure-DataFrame routing plan
(`route_records_relational`, zero Python on the record path) must agree with
the REAL state machine (`run_pipeline_batch` -> applyInPandas replay) on
arbitrary generated scenarios — not just the four fixed oracle scenarios the
driver checks. Covers: completion via delay timer, overcount at and after
sendCompleted, expected-never-reached (no completion), terminate mid-stream,
unknown batches, and late records after completion.

The main generator draws DISTINCT event times so ordering is unambiguous;
tie semantics (control-before-data at equal time, seq tiebreaks) get their
own randomized differential below (r13) on top of the fixed-scenario pins.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from hri_flink_validation_passthrough_spark.model import (
    SEND_COMPLETED,
    STARTED,
    TERMINATED,
)
from hri_flink_validation_passthrough_spark.operators.passthrough import (
    _summarize,
    run_pipeline_batch,
)
from hri_flink_validation_passthrough_spark.operators.passthrough_relational import (
    route_records_relational,
)

DELAY_MS = 1000
BASE = 1_700_000_000_000

REC_SCHEMA = (
    "key binary, value binary, headers array<struct<key:string,value:binary>>, "
    "time_ms long, seq long"
)
CTRL_SCHEMA = (
    "id string, name string, topic string, dataType string, "
    "invalidThreshold int, status string, expectedRecordCount int, "
    "time_ms long, seq long"
)


def _gen_scenario(rng: random.Random):
    """Random batches with distinct times; returns (records, controls)."""
    records, controls = [], []
    n_batches = rng.randint(2, 4)
    for b in range(n_batches):
        bid = f"b{b}"
        kind = rng.choice(["happy", "over", "under", "terminate", "unknown"])
        n_recs = rng.randint(1, 12)
        # well-ordered batch: started strictly before all records, then
        # sendCompleted strictly after (the lifecycle precondition both
        # implementations assume; pre-start records are pinned by the
        # fixed unknown-batch scenarios)
        ts = sorted(
            rng.sample(range(BASE + b * 50_000_000, BASE + (b + 1) * 50_000_000, 7),
                       n_recs + 2)
        )
        start_t, rec_ts, sc_t = ts[0], ts[1:-1], ts[-1]
        if kind != "unknown":
            controls.append(
                (bid, bid, "ingest.t.x.in", "x", -1, STARTED, None, start_t, 0)
            )
        if kind == "terminate":
            term_t = rec_ts[rng.randrange(n_recs)] + 1  # mid-stream, distinct
            controls.append(
                (bid, bid, "ingest.t.x.in", "x", -1, TERMINATED, None, term_t, 1)
            )
        elif kind != "unknown":
            delta = {"happy": 0, "over": -rng.randint(1, min(3, n_recs)),
                     "under": rng.randint(1, 3)}[kind]
            controls.append(
                (bid, bid, "ingest.t.x.in", "x", -1, SEND_COMPLETED,
                 n_recs + delta, sc_t, 1)
            )
        for i, t in enumerate(rec_ts):
            records.append(
                (
                    f"{bid}-k{i}".encode(),
                    f"{bid}-v{i}".encode(),
                    [("batchId", bid.encode())],
                    t,
                    b * 100_000 + i,
                )
            )
        # a few late stragglers for completed-capable batches
        if kind == "happy" and rng.random() < 0.5:
            late_t = sc_t + DELAY_MS + rng.randint(10_000, 50_000)
            records.append(
                (
                    f"{bid}-late".encode(),
                    f"{bid}-late-v".encode(),
                    [("batchId", bid.encode())],
                    late_t,
                    b * 100_000 + 999,
                )
            )
    return records, controls


@pytest.mark.parametrize("seed", range(6))
def test_relational_plan_matches_state_machine(spark, seed):
    rng = random.Random(0xD1F + seed)
    rec_rows, ctrl_rows = _gen_scenario(rng)
    records = spark.createDataFrame(rec_rows, REC_SCHEMA)
    controls = spark.createDataFrame(ctrl_rows, CTRL_SCHEMA)

    machine_routed = run_pipeline_batch(
        records, controls, completion_delay_ms=DELAY_MS
    )
    from hri_flink_validation_passthrough_spark.sources.envelope import (
        batch_id_from_headers,
    )

    env = records.withColumn("batch_id", batch_id_from_headers())
    relational_routed = route_records_relational(
        env, controls, delay_ms=DELAY_MS
    )

    def canon(routed):
        return {
            r["batch_id"]: (r["n_out"], r["n_invalid"], r["final_status"])
            for r in _summarize(routed).collect()
        }

    left, right = canon(machine_routed), canon(relational_routed)
    assert left == right, f"seed {seed}: machine={left} relational={right}"


def test_retired_twins_match_state_machine(spark):
    """COVERAGE.md r11 retirement pin: the two deregistered *_relational
    parity twins (overcount, terminate) must keep producing exactly what
    their registered state-machine twins produce on the real events table
    — the functions stay exercised after the registration retired."""
    from tests.conftest import SF_SMALL

    from hri_flink_validation_passthrough_spark.operators.passthrough import (
        passthrough_overcount,
        passthrough_terminate,
        passthrough_unknown_batch,
    )
    from hri_flink_validation_passthrough_spark.operators.passthrough_relational import (
        passthrough_overcount_relational,
        passthrough_terminate_relational,
        passthrough_unknown_relational,
    )

    sf = SF_SMALL
    for machine_fn, twin_fn in (
        (passthrough_overcount, passthrough_overcount_relational),
        (passthrough_terminate, passthrough_terminate_relational),
        # r13 retirement (rule #2c): the unknown-batch relational twin
        (passthrough_unknown_batch, passthrough_unknown_relational),
    ):
        want = {tuple(r) for r in machine_fn(spark, sf).collect()}
        got = {tuple(r) for r in twin_fn(spark, sf).collect()}
        assert got == want, f"{twin_fn.__name__} diverged: {got} != {want}"


@pytest.mark.parametrize("seed", range(6))
def test_relational_plan_matches_state_machine_on_ties(spark, seed):
    """r13 deepening: the module docstring's tie caveat — the main
    differential draws DISTINCT times, leaving equal-time semantics to
    fixed scenarios. This variant draws all times from a 4-value pool per
    batch, so control rows routinely TIE with data rows (started at the
    pool min, sendCompleted/terminate colliding with records): the two
    implementations must agree on control-before-data at equal time and
    seq tiebreaks across arbitrary tie patterns, not just the pinned
    ones. (12-seed exploratory sweep agreed on every seed before this
    was committed at 6.)"""
    rng = random.Random(0x71E5 + seed)
    records, controls = [], []
    for b in range(rng.randint(2, 3)):
        bid = f"b{b}"
        kind = rng.choice(["happy", "over", "under", "terminate"])
        n = rng.randint(2, 8)
        pool = [BASE + b * 10_000_000 + k * 37 for k in range(4)]
        start_t = min(pool)
        rec_ts = sorted(rng.choice(pool) for _ in range(n))
        controls.append(
            (bid, bid, "ingest.t.x.in", "x", -1, STARTED, None, start_t, 0)
        )
        if kind == "terminate":
            controls.append(
                (bid, bid, "ingest.t.x.in", "x", -1, TERMINATED, None,
                 rng.choice(pool), 1)
            )
        else:
            delta = {"happy": 0, "over": -rng.randint(1, min(2, n)),
                     "under": rng.randint(1, 2)}[kind]
            controls.append(
                (bid, bid, "ingest.t.x.in", "x", -1, SEND_COMPLETED,
                 n + delta, max(pool), 1)
            )
        for i, t in enumerate(rec_ts):
            records.append(
                (f"{bid}-k{i}".encode(), f"{bid}-v{i}".encode(),
                 [("batchId", bid.encode())], t, b * 100_000 + i)
            )

    rec_df = spark.createDataFrame(records, REC_SCHEMA)
    ctrl_df = spark.createDataFrame(controls, CTRL_SCHEMA)
    machine = run_pipeline_batch(rec_df, ctrl_df, completion_delay_ms=DELAY_MS)
    from hri_flink_validation_passthrough_spark.sources.envelope import (
        batch_id_from_headers,
    )

    env = rec_df.withColumn("batch_id", batch_id_from_headers())
    relational = route_records_relational(env, ctrl_df, delay_ms=DELAY_MS)

    def canon(routed):
        return {
            r["batch_id"]: (r["n_out"], r["n_invalid"], r["final_status"])
            for r in _summarize(routed).collect()
        }

    left, right = canon(machine), canon(relational)
    assert left == right, f"seed {seed}: machine={left} relational={right}"


def test_zero_record_control_batches_match_state_machine(spark):
    """Control batches with ZERO records — the exact rows the r16
    single-consumer restructure drops from the relational outcome table
    (previously `ctrl LEFT JOIN agg` kept them as all-NULL-status rows).
    The equivalence argument is that such batches can never produce output:
    no record can join them and their final_status is provably NULL
    (failed_at_sc needs an agg row, armed needs t_expected — a record).
    Pin it against the real state machine for every zero-record control
    shape: started-only, started+sendCompleted expecting records that never
    arrive, and terminated-only; plus one normal batch as the anchor."""
    records = [
        (b"a-k0", b"a-v0", [("batchId", b"a")], BASE + 100, 0),
        (b"a-k1", b"a-v1", [("batchId", b"a")], BASE + 200, 1),
    ]
    controls = [
        # anchor batch with records: started + sendCompleted(expected=2)
        ("a", "a", "ingest.t.x.in", "x", -1, STARTED, None, BASE, 0),
        ("a", "a", "ingest.t.x.in", "x", -1, SEND_COMPLETED, 2, BASE + 300, 1),
        # zero-record: started only
        ("z1", "z1", "ingest.t.x.in", "x", -1, STARTED, None, BASE, 0),
        # zero-record: full lifecycle, expected never arrives
        ("z2", "z2", "ingest.t.x.in", "x", -1, STARTED, None, BASE, 0),
        ("z2", "z2", "ingest.t.x.in", "x", -1, SEND_COMPLETED, 5, BASE + 300, 1),
        # zero-record: terminated mid-lifecycle
        ("z3", "z3", "ingest.t.x.in", "x", -1, STARTED, None, BASE, 0),
        ("z3", "z3", "ingest.t.x.in", "x", -1, TERMINATED, None, BASE + 150, 1),
    ]
    rec_df = spark.createDataFrame(records, REC_SCHEMA)
    ctrl_df = spark.createDataFrame(controls, CTRL_SCHEMA)
    machine = run_pipeline_batch(rec_df, ctrl_df, completion_delay_ms=DELAY_MS)
    from hri_flink_validation_passthrough_spark.sources.envelope import (
        batch_id_from_headers,
    )

    env = rec_df.withColumn("batch_id", batch_id_from_headers())
    relational = route_records_relational(env, ctrl_df, delay_ms=DELAY_MS)

    def canon(routed):
        return {
            r["batch_id"]: (r["n_out"], r["n_invalid"], r["final_status"])
            for r in _summarize(routed).collect()
        }

    left, right = canon(machine), canon(relational)
    assert left == right, f"machine={left} relational={right}"
    # and the zero-record batches emitted nothing through either engine
    assert not {"z1", "z2", "z3"} & set(left)


def test_garbage_batch_ids_stay_off_the_broadcast(spark):
    """Adversarial cardinality: 50k distinct unknown batch ids beside three
    known batches. The broadcast outcome table must stay one row per control
    batch (unknown ids take the left-join miss instead of a broadcast row),
    and every garbage record must still route to invalid with the
    unknown-batch body while the known batches complete as usual."""
    from hri_flink_validation_passthrough_spark.model import UNKNOWN_BATCH_FAILURE
    from hri_flink_validation_passthrough_spark.sources.envelope import (
        batch_id_from_headers,
    )

    n_garbage, n_known, per_batch = 50_000, 3, 4
    records, controls = [], []
    for b in range(n_known):
        bid, t0 = f"k{b}", BASE + b * 1_000
        controls += [
            (bid, bid, "ingest.t.x.in", "x", -1, STARTED, None, t0, 0),
            (bid, bid, "ingest.t.x.in", "x", -1, SEND_COMPLETED, per_batch,
             t0 + 500, 1),
        ]
        records += [
            (f"{bid}-k{i}".encode(), f"{bid}-v{i}".encode(),
             [("batchId", bid.encode())], t0 + 10 * (i + 1), b * 100 + i)
            for i in range(per_batch)
        ]
    garbage_id = F.concat(F.lit("garbage-"), F.col("id").cast("string"))
    garbage = spark.range(n_garbage).select(
        F.encode(F.concat(F.lit("g-k"), F.col("id").cast("string")), "UTF-8").alias("key"),
        F.encode(F.lit("g-v"), "UTF-8").alias("value"),
        F.array(
            F.struct(
                F.lit("batchId").alias("key"),
                F.encode(garbage_id, "UTF-8").alias("value"),
            )
        ).alias("headers"),
        (F.lit(BASE) + F.col("id")).alias("time_ms"),
        (F.lit(1_000_000) + F.col("id")).alias("seq"),
    )
    ctrl_df = spark.createDataFrame(controls, CTRL_SCHEMA)
    env = (
        spark.createDataFrame(records, REC_SCHEMA)
        .unionByName(garbage)
        .withColumn("batch_id", batch_id_from_headers())
    )

    routed = route_records_relational(env, ctrl_df, delay_ms=DELAY_MS)
    unknown_body = F.encode(
        F.lit('{"failure": "%s"}' % UNKNOWN_BATCH_FAILURE), "UTF-8"
    )
    # an invalid row counts as invalid only with the unknown-batch body
    body_checked = routed.withColumn(
        "dest",
        F.when(
            (F.col("dest") == "invalid") & (F.col("value") != unknown_body),
            F.lit("invalid-other-body"),
        ).otherwise(F.col("dest")),
    )
    is_garbage = F.col("batch_id").startswith("garbage-").alias("garbage")
    shapes = (
        _summarize(body_checked)
        .groupBy(is_garbage, "n_out", "n_invalid", "final_status")
        .count()
    )
    # (garbage?, out, invalid, status, number of batches with that shape)
    assert {tuple(r) for r in shapes.collect()} == {
        (False, per_batch, 0, "completed", n_known),
        (True, 0, 1, None, n_garbage),
    }
    # every broadcast the run built held at most one row per control batch
    # (the outcome table joined to the records among them)
    rows = _broadcast_rows(shapes)
    assert rows and max(rows) <= n_known, rows


def _broadcast_rows(df) -> list[int]:
    """numOutputRows of every BroadcastExchange in *df*'s executed plan
    (call after an action: AQE's final plan holds the metrics)."""
    rows, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in node.getClass().getSimpleName():
            todo.append(node.plan())
            continue
        if node.nodeName() == "BroadcastExchange":
            rows.append(node.metrics().apply("numOutputRows").value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return rows
