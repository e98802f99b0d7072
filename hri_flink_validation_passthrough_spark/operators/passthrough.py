"""Batch-mode passthrough pipeline: the reference topology executed on
DataFrames (SURVEY.md §7 phase 1), plus oracle-checked scenario queries that
replay the ``events`` table through the REAL state machine.

Plan shape: normalize both planes → union → ``groupBy(batch_id)`` →
``applyInPandas`` replay (one shuffle on batchId, Arrow-batched). Scale note:
per-batch lifecycle needs single-key sequencing, so a hot batch is an
inherent serialization point — same as the reference's keyBy(batchId). The
streaming path bounds per-trigger work with ``maxOffsetsPerTrigger``; record
routing itself is embarrassingly parallel and the counter is the only
per-key state.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import SEND_COMPLETED, STARTED, TERMINATED, UNKNOWN_BATCH_FAILURE
from ..plans import QuerySpec, register
from ..session import load_table, prepare
from ..sources.envelope import (
    ROUTED_SCHEMA,
    control_to_envelope,
    data_to_envelope,
    events_as_records,
)
from .batch_state import (
    BatchState,
    BatchStateMachine,
    Outputs,
    failure_body,
    notification_json,
    outputs_to_rows,
    passthrough_validator,
)

QUERIES: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# pandas-side replay (runs inside applyInPandas, one call per batchId)
# ---------------------------------------------------------------------------
def _none_if_nan(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _headers_to_py(h) -> list:
    if h is None or (isinstance(h, float) and math.isnan(h)):
        return []
    out = []
    for item in h:
        if isinstance(item, dict):
            k, v = item.get("key"), item.get("value")
        else:  # Row-like / tuple
            k, v = item[0], item[1]
        out.append({"key": k, "value": bytes(v) if v is not None else None})
    return out


_notification_json = notification_json  # shared with the streaming processor


_OUT_COLS = ["dest", "batch_id", "key", "value", "headers"]

# ROUTED_SCHEMA with ``headers`` as its ``to_json`` string form — the
# fast-path boundary schema (decoded back to HEADER_TYPE right after the
# replay; see run_pipeline_batch).
_ROUTED_ENC_SCHEMA = T.StructType(
    [
        f
        if f.name != "headers"
        else T.StructField("headers", T.StringType(), True)
        for f in ROUTED_SCHEMA.fields
    ]
)


def _replay_rowwise(pdf: pd.DataFrame, machine: BatchStateMachine, batch_id):
    """Reference implementation: event-at-a-time through the pure core."""
    st = BatchState(batch_id=batch_id or "")
    outs = Outputs()
    for row in pdf.itertuples(index=False):
        now = _none_if_nan(row.time_ms)
        now = int(now) if now is not None else None
        if row.kind == "control":
            notif = {k: _none_if_nan(v) for k, v in dict(row.notification).items()}
            outs.extend(machine.on_control(st, notif, now))
        else:
            key = bytes(row.key) if row.key is not None else None
            value = bytes(row.value) if row.value is not None else None
            outs.extend(
                machine.on_data(st, key, value, _headers_to_py(row.headers), now)
            )
    outs.extend(machine.end_of_input(st))
    return pd.DataFrame(outputs_to_rows(outs, batch_id), columns=_OUT_COLS)


def _route_blocks(
    pdf: pd.DataFrame,
    machine: BatchStateMachine,
    batch_id,
    st: BatchState | None = None,
    now_ms: int | None = None,
    end_input: bool = True,
    encoded: bool = False,
) -> tuple[list, list]:
    """Passthrough fast path CORE: control rows still go one-by-one through
    the state machine, but runs of data rows between controls are routed in
    BULK (pandas slices, no per-row Python). Returns ``(parts, notifs)``
    where ``parts`` is ``[(block_slice, dest, body_override), ...]`` in
    replay order and ``notifs`` the emitted notification dicts, which
    :func:`_replay_vectorized` formats as payload rows. Valid ONLY for the
    passthrough validator with no external lookup — the per-row path covers
    everything else. The differential property test
    (tests/test_replay_equivalence.py) pins this to the row-wise reference
    on randomized scenarios.

    Two time modes:
    - batch replay (``now_ms=None``): logical time = each row's ``time_ms``,
      armed deadlines can fire mid-stream, ``end_input`` fires leftovers;
    - streaming (``now_ms`` set): every row shares the trigger's processing
      time, so an armed deadline can never fire inside the same invocation
      (deadline = now + delay > now) and the caller owns real timers.

    Why bulk routing is sound (given passthrough + no lookup):
    - unknown batch   → every row of the run is invalid(UNKNOWN), no counts;
    - terminated      → every row dropped;
    - completed       → every row invalid(already completed);
    - armed deadline  → if the run's FIRST row is past it, the timer fires
      before any data (→ completed, run handled above); otherwise the first
      row overflows the matched count, fails the batch and CLEARS the timer,
      so no later row in the run can fire it;
    - count catch-up  → split at the crossing row (batch mode) so the armed
      deadline governs the tail;
    - otherwise       → every row routes to .out; the only state change is
      processed += n and at most one sendCompleted-overage failure.

    ``encoded=True`` (r15, guide §4 boundary slimming): the ``headers`` and
    ``notification`` columns arrive as their ``to_json`` string forms
    instead of Arrow nested types. Data-row headers are pure passthrough
    here, so flat strings cross the boundary instead of per-row Python
    object trees (the dominant Arrow-conversion cost of the batch replay);
    control rows — a handful per batch — parse their notification with
    ``json.loads``. Only ``run_pipeline_batch``'s fast path sets this; the
    streaming processor and the row-wise core keep real structs.
    """
    from ..model import COMPLETED, SEND_COMPLETED, TERMINATED

    if st is None:
        st = BatchState(batch_id=batch_id or "")
    parts: list[tuple[pd.DataFrame, str, bytes | None]] = []  # slice, dest, body
    notifs: list[dict] = []

    def _block_now(block: pd.DataFrame, idx: int) -> int | None:
        if now_ms is not None:
            return now_ms
        t = _none_if_nan(block["time_ms"].iloc[idx])
        return int(t) if t is not None else None

    def flush_block(block: pd.DataFrame) -> None:
        n = len(block)
        if n == 0:
            return
        if st.deadline_ms is not None:
            t0 = _block_now(block, 0)
            if t0 is not None and t0 >= st.deadline_ms:
                out = Outputs()
                machine.advance_time(st, t0, out)  # fires → completed
                notifs.extend(out.notifications)
        if not st.known:
            parts.append((block, "invalid", failure_body(UNKNOWN_BATCH_FAILURE)))
            return
        if st.status == TERMINATED:
            return
        if st.status == COMPLETED:
            parts.append(
                (block, "invalid", failure_body("Batch is already completed"))
            )
            return
        if (
            st.status == SEND_COMPLETED
            and st.expected is not None
            and now_ms is None  # streaming: constant now → no mid-block fire
        ):
            # the count can catch UP to expected mid-block: the row-wise core
            # arms the completion timer at the crossing row, so split there —
            # the tail re-enters with the deadline armed (and may either
            # overflow → failed, or start past the deadline → completed).
            to_expected = st.expected - st.processed
            if 0 < to_expected < n:
                head, tail = block.iloc[:to_expected], block.iloc[to_expected:]
                parts.append((head, "out", None))
                st.processed += to_expected
                if st.expected > 0:
                    t_arm = _block_now(head, -1)
                    st.deadline_ms = (t_arm or 0) + machine.delay_ms
                flush_block(tail)
                return
        parts.append((block, "out", None))
        p0 = st.processed
        st.processed = p0 + n
        if (
            st.status == SEND_COMPLETED
            and st.expected is not None
            and st.processed > st.expected
        ):
            # the row-wise core fails at the CROSSING row, so the emitted
            # notification snapshots recordCount at that instant
            final = st.processed
            st.processed = max(p0 + 1, st.expected + 1)
            out = Outputs()
            machine._fail(st, out)
            notifs.extend(out.notifications)
            st.processed = final
        elif (
            st.status == SEND_COMPLETED
            and st.expected is not None
            and 0 < st.expected == st.processed
        ):
            # block ended exactly at the expected count → timer armed at the
            # last row's time (mirrors on_data catch-up arming)
            t_arm = _block_now(block, -1)
            st.deadline_ms = (t_arm or 0) + machine.delay_ms

    kinds = pdf["kind"].to_numpy()
    control_pos = [i for i, k in enumerate(kinds) if k == "control"]
    pos = 0
    for c in control_pos:
        flush_block(pdf.iloc[pos:c])
        row = pdf.iloc[c]
        if now_ms is not None:
            now = now_ms
        else:
            t = _none_if_nan(row["time_ms"])
            now = int(t) if t is not None else None
        if encoded:
            import json as _json

            raw = row["notification"]
            notif = _json.loads(raw) if isinstance(raw, str) else {}
        else:
            notif = {
                k: _none_if_nan(v) for k, v in dict(row["notification"]).items()
            }
        out = Outputs()
        out.extend(machine.on_control(st, notif, now))
        notifs.extend(out.notifications)
        pos = c + 1
    flush_block(pdf.iloc[pos:])
    if end_input:
        eoi = machine.end_of_input(st)
        notifs.extend(eoi.notifications)
    return parts, notifs


def _replay_vectorized(
    pdf: pd.DataFrame,
    machine: BatchStateMachine,
    batch_id,
    st: BatchState | None = None,
    now_ms: int | None = None,
    end_input: bool = True,
    encoded: bool = False,
):
    """Payload formatter over :func:`_route_blocks`: emits ROUTED-shaped
    pandas rows carrying each block's key/value/headers (the batch fast
    path's in-Python form, and the streaming processor's only form)."""
    parts, notifs = _route_blocks(
        pdf, machine, batch_id, st=st, now_ms=now_ms,
        end_input=end_input, encoded=encoded,
    )

    frames = []
    for block, dest, body in parts:
        frames.append(
            pd.DataFrame(
                {
                    "dest": dest,
                    "batch_id": batch_id,
                    "key": block["key"].values,
                    "value": (
                        block["value"].values if body is None else [body] * len(block)
                    ),
                    "headers": block["headers"].values,
                }
            )
        )
    if notifs:
        frames.append(
            pd.DataFrame(
                {
                    "dest": "notification",
                    "batch_id": batch_id,
                    "key": [(batch_id or "").encode("utf-8")] * len(notifs),
                    "value": [_notification_json(n) for n in notifs],
                    "headers": (["[]"] if encoded else [[]]) * len(notifs),
                }
            )
        )
    if not frames:
        return pd.DataFrame(columns=_OUT_COLS)
    return pd.concat(frames, ignore_index=True)[_OUT_COLS]


def make_replay(
    delay_ms: int, validator=passthrough_validator, lookup=None, encoded: bool = False
):
    """Build the per-group replay fn; closure is cloudpickled to executors.
    ``encoded`` (fast path only) — see ``_replay_vectorized``."""
    fast = validator is passthrough_validator and lookup is None
    if encoded and not fast:
        raise ValueError("encoded envelope is only valid for the fast path")

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        machine = BatchStateMachine(delay_ms, validator, lookup)
        pdf = pdf.sort_values(["time_ms", "kind_rank", "seq"], na_position="first")
        raw_bid = pdf["batch_id"].iloc[0]
        batch_id = raw_bid if isinstance(raw_bid, str) else None
        if fast:
            return _replay_vectorized(pdf, machine, batch_id, encoded=encoded)
        return _replay_rowwise(pdf, machine, batch_id)

    return replay


def run_pipeline_batch(
    records: DataFrame,
    notifications: DataFrame,
    completion_delay_ms: int = 5000,
    validator=passthrough_validator,
    lookup=None,
) -> DataFrame:
    """The whole topology as one pure function over DataFrames (the
    source/sink-agnostic seam of SURVEY.md §3.2). Returns destination-tagged
    Kafka-shaped rows (ROUTED_SCHEMA); callers fan out by ``dest``."""
    env = control_to_envelope(notifications).unionByName(
        data_to_envelope(records), allowMissingColumns=False
    )
    env = env.withColumn(
        "kind_rank", F.when(F.col("kind") == "control", 0).otherwise(1)
    )
    fast = validator is passthrough_validator and lookup is None
    if not fast:
        return env.groupBy("batch_id").applyInPandas(
            make_replay(completion_delay_ms, validator, lookup), ROUTED_SCHEMA
        )
    # Encoded fast path (r15, guide §4): the passthrough validator never
    # inspects headers and notifications only matter on the handful of
    # control rows, yet the nested ARRAY<STRUCT<..binary>> / notification
    # STRUCT columns dominated the Arrow boundary cost — each crossing
    # builds per-row Python object trees both ways (measured ~0.6 s of the
    # sf0.1 replay; flat-width identity A/B in OPTIMIZATION_r15.md). Encode
    # both as their ``to_json`` strings JVM-side, ship flat strings through
    # the replay (headers are pure passthrough there), and decode back with
    # ``from_json`` after — a lossless roundtrip incl. binary header values
    # (base64) and null/empty shapes, pinned by tests.
    from ..model import HEADER_TYPE

    enc = env.select(
        "batch_id", "kind", "time_ms", "seq", "kind_rank", "key", "value",
        F.to_json("headers").alias("headers"),
        F.to_json("notification").alias("notification"),
    )
    routed_enc = enc.groupBy("batch_id").applyInPandas(
        make_replay(completion_delay_ms, validator, lookup, encoded=True),
        _ROUTED_ENC_SCHEMA,
    )
    return routed_enc.select(
        "dest",
        "batch_id",
        "key",
        "value",
        F.from_json("headers", HEADER_TYPE).alias("headers"),
    )


# ---------------------------------------------------------------------------
# scenario queries over the events table (oracle-checked)
# ---------------------------------------------------------------------------
def _derive_control(
    events: DataFrame,
    batch_col: str = "event_type",
    expected_delta: dict[str, int] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """One started (before first record) + one sendCompleted (after last
    record) per batch, expected = true count (+ optional per-batch delta)."""
    g = (
        events.groupBy(F.col(batch_col).cast("string").alias("id"))
        .agg(
            (F.min(F.unix_millis("ts")) - 10_000).alias("start_ms"),
            (F.max(F.unix_millis("ts")) + 10_000).alias("end_ms"),
            F.count(F.lit(1)).cast("int").alias("cnt"),
        )
    )
    if exclude:
        g = g.filter(~F.col("id").isin(exclude))
    delta = F.lit(0)
    for k, v in (expected_delta or {}).items():
        delta = F.when(F.col("id") == k, F.lit(v)).otherwise(delta)
    base = g.select(
        "id",
        F.col("id").alias("name"),
        F.lit("ingest.t.events.in").alias("topic"),
        F.lit("events").alias("dataType"),
        F.lit(-1).alias("invalidThreshold"),
        "start_ms",
        "end_ms",
        (F.col("cnt") + delta).cast("int").alias("expectedRecordCount"),
    )
    started = base.select(
        "id", "name", "topic", "dataType", "invalidThreshold",
        F.lit(STARTED).alias("status"),
        F.lit(None).cast("int").alias("expectedRecordCount"),
        F.col("start_ms").alias("time_ms"),
        F.lit(0).cast("long").alias("seq"),
    )
    send_completed = base.select(
        "id", "name", "topic", "dataType", "invalidThreshold",
        F.lit(SEND_COMPLETED).alias("status"),
        "expectedRecordCount",
        F.col("end_ms").alias("time_ms"),
        F.lit(1).cast("long").alias("seq"),
    )
    return started.unionByName(send_completed)


def _derive_control_agg(
    events: DataFrame,
    batch_col: str = "event_type",
    expected_delta: dict[str, int] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """The per-batch aggregate ``_outcomes`` would compute from
    ``_derive_control``'s expanded rows, produced DIRECTLY in the same
    single groupBy (round-4 verdict ask #7): one events pass instead of
    aggregate → explode to started/sendCompleted rows → re-aggregate.
    Only for the canonical derived pattern (no terminate rows — term_t is
    null by construction, so the sc_t/expected guards are vacuous);
    scenario queries that splice custom control rows keep the generic
    ``_derive_control`` path."""
    g = events.groupBy(F.col(batch_col).cast("string").alias("batch_id")).agg(
        (F.min(F.unix_millis("ts")) - 10_000).alias("started_t"),
        (F.max(F.unix_millis("ts")) + 10_000).alias("sc_t"),
        F.count(F.lit(1)).cast("int").alias("cnt"),
    )
    if exclude:
        g = g.filter(~F.col("batch_id").isin(exclude))
    delta = F.lit(0)
    for k, v in (expected_delta or {}).items():
        delta = F.when(F.col("batch_id") == k, F.lit(v)).otherwise(delta)
    return g.select(
        "batch_id",
        "started_t",
        "sc_t",
        (F.col("cnt") + delta).cast("int").alias("expected"),
        F.lit(None).cast("long").alias("term_t"),
    )


def _summarize(routed: DataFrame) -> DataFrame:
    """One row per batch: out/invalid counts + terminal status from the
    emitted notifications (single pass over the pipeline output)."""
    return routed.groupBy("batch_id").agg(
        F.count(F.when(F.col("dest") == "out", 1)).alias("n_out"),
        F.count(F.when(F.col("dest") == "invalid", 1)).alias("n_invalid"),
        F.max(
            F.when(
                F.col("dest") == "notification",
                F.get_json_object(F.col("value").cast("string"), "$.status"),
            )
        ).alias("final_status"),
    )


@register(
    QUERIES,
    "passthrough_route",
    oracle="""
    SELECT event_type            AS batch_id,
           count(*)              AS n_out,
           CAST(0 AS BIGINT)     AS n_invalid,
           'completed'           AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Happy path (spec.rb:99-132) at table scale: every event_type is a "
        "batch, counts reconcile, all batches complete through the delay "
        "timer. Runs the REAL state machine via applyInPandas."
    ),
)
def passthrough_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    e = load_table(spark, sf_dir, "events")
    routed = run_pipeline_batch(events_as_records(e), _derive_control(e))
    return _summarize(routed)


@register(
    QUERIES,
    "passthrough_unknown_batch",
    oracle="""
    SELECT event_type AS batch_id,
           CAST(CASE WHEN event_type = 'error' THEN 0 ELSE count(*) END AS BIGINT) AS n_out,
           CAST(CASE WHEN event_type = 'error' THEN count(*) ELSE 0 END AS BIGINT) AS n_invalid,
           CASE WHEN event_type = 'error' THEN NULL ELSE 'completed' END AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Unknown-batchId routing (spec.rb:264-290): the 'error' batch is "
        "never started, so its records land on .invalid with the failure "
        "body and its counters stay untouched."
    ),
)
def passthrough_unknown_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    e = load_table(spark, sf_dir, "events")
    ctrl = _derive_control(e, exclude=["error"])
    return _summarize(run_pipeline_batch(events_as_records(e), ctrl))


@register(
    QUERIES,
    "passthrough_overcount",
    oracle="""
    SELECT event_type AS batch_id,
           count(*)   AS n_out,
           CASE WHEN event_type = 'click' THEN 'failed' ELSE 'completed' END
             AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Overcount → failed (spec.rb:292-318): 'click' declares 5 fewer than "
        "arrived; the batch fails at sendCompleted but every record still "
        "reaches .out (routing and lifecycle are decoupled, spec.rb:349-353)."
    ),
)
def passthrough_overcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    e = load_table(spark, sf_dir, "events")
    ctrl = _derive_control(e, expected_delta={"click": -5})
    routed = run_pipeline_batch(events_as_records(e), ctrl)
    return _summarize(routed).select("batch_id", "n_out", "final_status")


@register(
    QUERIES,
    "passthrough_terminate",
    oracle="""
    WITH v AS (
      SELECT epoch_ms(ts) AS ms,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'view'
    )
    SELECT event_type AS batch_id,
           CAST(CASE WHEN event_type = 'view'
                THEN (SELECT count(*) FROM v WHERE ms < (SELECT ms FROM v WHERE rn = 100))
                ELSE count(*) END AS BIGINT) AS n_out,
           CASE WHEN event_type = 'view' THEN NULL ELSE 'completed' END
             AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Terminate (spec.rb:229-262): 'view' is terminated at its 100th "
        "record's timestamp; later records are dropped (no .out, no .invalid) "
        "and the batch never completes."
    ),
)
def passthrough_terminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    e = load_table(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")  # scenario construction only
    cutoff = (
        e.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 100)
        .select(F.unix_millis("ts").alias("time_ms"))
    )
    term = cutoff.select(
        F.lit("view").alias("id"),
        F.lit("view").alias("name"),
        F.lit("ingest.t.events.in").alias("topic"),
        F.lit("events").alias("dataType"),
        F.lit(-1).alias("invalidThreshold"),
        F.lit(TERMINATED).alias("status"),
        F.lit(None).cast("int").alias("expectedRecordCount"),
        "time_ms",
        F.lit(0).cast("long").alias("seq"),
    )
    ctrl = _derive_control(e).unionByName(term)
    routed = run_pipeline_batch(events_as_records(e), ctrl)
    return _summarize(routed).select("batch_id", "n_out", "final_status")
