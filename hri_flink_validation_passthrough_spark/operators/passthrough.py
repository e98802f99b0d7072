"""Batch-mode passthrough pipeline: the reference topology executed on
DataFrames (SURVEY.md §7 phase 1), plus oracle-checked scenario queries that
replay the ``events`` table through the REAL state machine.

This module owns the replay seam both engines share. ``encoded_envelope``
unions the two planes and encodes ``headers`` and ``notification`` as their
``to_json`` strings JVM-side; ``replay_group`` orders one group of those
rows (``_sorted_rows``) and replays it through the state machine, in bulk
for the passthrough validator without a lookup and row by row otherwise;
``decode_routed`` turns the routed rows' headers back into HEADER_TYPE.
``run_pipeline_batch`` calls it once per batch id, and the streaming state
function (streaming/topology.py) once per batch id and trigger.

Plan shape: encoded envelope → ``groupBy(batch_id)`` → ``applyInPandas``
replay (one shuffle on batchId, Arrow-batched) → decode. Scale note:
per-batch lifecycle needs single-key sequencing, so a hot batch is an
inherent serialization point — same as the reference's keyBy(batchId). The
streaming path bounds per-trigger work with ``maxOffsetsPerTrigger``; record
routing itself is embarrassingly parallel and the counter is the only
per-key state.
"""

from __future__ import annotations

import base64
import json
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import (
    COMPLETED,
    HEADER_TYPE,
    SEND_COMPLETED,
    STARTED,
    TERMINATED,
    UNKNOWN_BATCH_FAILURE,
)
from ..plans import QuerySpec, register
from ..session import load_table
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
    passthrough_validator,
)

QUERIES: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# The replay seam: both engines (run_pipeline_batch below, the streaming
# state function in streaming/topology.py) cross one encoded boundary and
# call one replay per group
# ---------------------------------------------------------------------------
_OUT_COLS = ["dest", "batch_id", "key", "value", "headers"]

# ROUTED_SCHEMA with ``headers`` as its ``to_json`` string form: what the
# replay emits, decoded back to HEADER_TYPE by ``decode_routed``.
_ROUTED_ENC_SCHEMA = T.StructType(
    [
        f
        if f.name != "headers"
        else T.StructField("headers", T.StringType(), True)
        for f in ROUTED_SCHEMA.fields
    ]
)


def encoded_envelope(records: DataFrame, notifications: DataFrame) -> DataFrame:
    """Both planes as one envelope whose ``headers`` and ``notification``
    columns are their ``to_json`` strings. Nested ARRAY<STRUCT<..binary>> and
    STRUCT columns build per-row Python object trees at every Arrow crossing
    (the dominant boundary cost of the replay, OPTIMIZATION_r15.md); flat
    strings do not. Routing passes headers through untouched, and the
    replay parses a notification only on the few control rows."""
    env = control_to_envelope(notifications).unionByName(data_to_envelope(records))
    return env.select(
        "batch_id", "kind", "time_ms", "seq", "key", "value",
        F.to_json("headers").alias("headers"),
        F.to_json("notification").alias("notification"),
    )


def decode_routed(routed: DataFrame) -> DataFrame:
    """The replay's output (``_ROUTED_ENC_SCHEMA``) as ROUTED_SCHEMA rows: a
    lossless roundtrip of the input headers, binary values (base64), null
    values, empty and null lists included."""
    return routed.select(
        "dest", "batch_id", "key", "value",
        F.from_json("headers", HEADER_TYPE).alias("headers"),
    )


def _nulls_first(col: pd.Series) -> np.ndarray:
    """A nullable long column as a sort key whose nulls sort first."""
    if col.dtype.kind in "iu" and not col.hasnans:
        return col.to_numpy()
    return col.to_numpy(dtype="float64", na_value=-np.inf)


def _sorted_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """The replay ordering rule: by time (untimed rows first), controls
    before data at equal time, then seq (nulls first); stable. ``np.lexsort``
    takes its last key as the primary one."""
    order = np.lexsort(
        (
            _nulls_first(pdf["seq"]),
            (pdf["kind"] != "control").to_numpy(),
            _nulls_first(pdf["time_ms"]),
        )
    )
    return pdf.take(order)


def _row_time(t) -> int | None:
    if t is None or (isinstance(t, float) and math.isnan(t)):
        return None
    return int(t)


def _notification(raw) -> dict:
    return json.loads(raw) if isinstance(raw, str) else {}


def _headers(raw) -> list:
    """A header string as the validator's ``[{key, value}]`` list (base64
    values decoded to bytes; a null list is empty)."""
    if not isinstance(raw, str):
        return []
    return [
        {
            "key": h.get("key"),
            "value": None if h.get("value") is None else base64.b64decode(h["value"]),
        }
        for h in json.loads(raw)
    ]


def _routed_frame(frames: list, notifs: list[dict], batch_id) -> pd.DataFrame:
    """Routed payload frames plus one row per emitted notification."""
    if notifs:
        frames = frames + [
            pd.DataFrame(
                {
                    "dest": "notification",
                    "batch_id": batch_id,
                    "key": [(batch_id or "").encode("utf-8")] * len(notifs),
                    "value": [notification_json(n) for n in notifs],
                    "headers": "[]",
                }
            )
        ]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=_OUT_COLS)
    return pd.concat(frames, ignore_index=True)[_OUT_COLS]


def _replay_rowwise(
    pdf: pd.DataFrame,
    machine: BatchStateMachine,
    batch_id,
    st: BatchState | None = None,
    now_ms: int | None = None,
    end_input: bool = True,
) -> pd.DataFrame:
    """Event-at-a-time through the pure core, on either clock (see
    :func:`_route_blocks`): the path of custom validators and lookups, and
    the reference the bulk path is pinned to. A data row's headers are
    decoded only for the validator; its routed row carries the input header
    string unchanged."""
    if st is None:
        st = BatchState(batch_id=batch_id or "")
    routed: list[tuple] = []
    notifs: list[dict] = []
    for row in pdf.itertuples(index=False):
        now = now_ms if now_ms is not None else _row_time(row.time_ms)
        if row.kind == "control":
            out = machine.on_control(st, _notification(row.notification), now)
        else:
            key = bytes(row.key) if row.key is not None else None
            value = bytes(row.value) if row.value is not None else None
            out = machine.on_data(st, key, value, _headers(row.headers), now)
            routed.extend(
                (r.dest, batch_id, r.key, r.value, row.headers) for r in out.routed
            )
        notifs.extend(out.notifications)
    if end_input:
        notifs.extend(machine.end_of_input(st).notifications)
    return _routed_frame([pd.DataFrame(routed, columns=_OUT_COLS)], notifs, batch_id)


def _route_blocks(
    pdf: pd.DataFrame,
    machine: BatchStateMachine,
    batch_id,
    st: BatchState | None = None,
    now_ms: int | None = None,
    end_input: bool = True,
) -> tuple[list, list]:
    """Passthrough fast path CORE: control rows still go one-by-one through
    the state machine, but runs of data rows between controls are routed in
    BULK (pandas slices, no per-row Python). Returns ``(parts, notifs)``
    where ``parts`` is ``[(block_slice, dest, body_override), ...]`` in
    replay order and ``notifs`` the emitted notification dicts, which
    :func:`replay_group` formats as payload rows. Valid ONLY for the
    passthrough validator with no external lookup — the row-wise path covers
    everything else. The differential property test
    (tests/test_replay_equivalence.py) pins this to the row-wise reference
    on randomized scenarios, on both clocks.

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
    """
    if st is None:
        st = BatchState(batch_id=batch_id or "")
    parts: list[tuple[pd.DataFrame, str, bytes | None]] = []  # slice, dest, body
    notifs: list[dict] = []

    def _block_now(block: pd.DataFrame, idx: int) -> int | None:
        if now_ms is not None:
            return now_ms
        return _row_time(block["time_ms"].iloc[idx])

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
        now = now_ms if now_ms is not None else _row_time(row["time_ms"])
        notifs.extend(
            machine.on_control(st, _notification(row["notification"]), now).notifications
        )
        pos = c + 1
    flush_block(pdf.iloc[pos:])
    if end_input:
        eoi = machine.end_of_input(st)
        notifs.extend(eoi.notifications)
    return parts, notifs


def replay_group(
    pdf: pd.DataFrame,
    machine: BatchStateMachine,
    batch_id,
    st: BatchState | None = None,
    now_ms: int | None = None,
    end_input: bool = True,
) -> pd.DataFrame:
    """Replay one group of encoded envelope rows (``encoded_envelope``)
    through ``machine``; returns ``_ROUTED_ENC_SCHEMA``-shaped rows. The one
    replay both engines call: the batch replay once per batch id, the
    stream once per (batch id, trigger) with its state ``st`` and the
    trigger's processing time ``now_ms``. Sorts by the ordering rule, then
    routes runs of data rows in bulk when the validator is the passthrough
    one and there is no lookup, and event-at-a-time otherwise."""
    pdf = _sorted_rows(pdf)
    if machine.validator is not passthrough_validator or machine.lookup is not None:
        return _replay_rowwise(pdf, machine, batch_id, st, now_ms, end_input)
    parts, notifs = _route_blocks(pdf, machine, batch_id, st, now_ms, end_input)
    frames = [
        pd.DataFrame(
            {
                "dest": dest,
                "batch_id": batch_id,
                "key": block["key"].values,
                "value": block["value"].values if body is None else [body] * len(block),
                "headers": block["headers"].values,
            }
        )
        for block, dest, body in parts
    ]
    return _routed_frame(frames, notifs, batch_id)


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

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        machine = BatchStateMachine(completion_delay_ms, validator, lookup)
        raw_bid = pdf["batch_id"].iloc[0]
        return replay_group(pdf, machine, raw_bid if isinstance(raw_bid, str) else None)

    env = encoded_envelope(records, notifications)
    return decode_routed(
        env.groupBy("batch_id").applyInPandas(replay, _ROUTED_ENC_SCHEMA)
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
    record) per batch, expected = true count (+ optional per-batch delta):
    ``_derive_control_agg``'s per-batch row expanded to its two controls."""
    base = _derive_control_agg(events, batch_col, expected_delta, exclude).select(
        F.col("batch_id").alias("id"),
        F.col("batch_id").alias("name"),
        F.lit("ingest.t.events.in").alias("topic"),
        F.lit("events").alias("dataType"),
        F.lit(-1).alias("invalidThreshold"),
        "started_t",
        "sc_t",
        "expected",
    )
    started = base.select(
        "id", "name", "topic", "dataType", "invalidThreshold",
        F.lit(STARTED).alias("status"),
        F.lit(None).cast("int").alias("expectedRecordCount"),
        F.col("started_t").alias("time_ms"),
        F.lit(0).cast("long").alias("seq"),
    )
    send_completed = base.select(
        "id", "name", "topic", "dataType", "invalidThreshold",
        F.lit(SEND_COMPLETED).alias("status"),
        F.col("expected").alias("expectedRecordCount"),
        F.col("sc_t").alias("time_ms"),
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


def _view_terminated(events: DataFrame) -> DataFrame:
    """The terminate scenario's control row: the 'view' batch is terminated
    at its 100th record's timestamp."""
    w = Window.orderBy("ts", "event_id")  # scenario construction only
    return (
        events.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 100)
        .select(
            F.lit("view").alias("id"),
            F.lit("view").alias("name"),
            F.lit("ingest.t.events.in").alias("topic"),
            F.lit("events").alias("dataType"),
            F.lit(-1).alias("invalidThreshold"),
            F.lit(TERMINATED).alias("status"),
            F.lit(None).cast("int").alias("expectedRecordCount"),
            F.unix_millis("ts").alias("time_ms"),
            F.lit(0).cast("long").alias("seq"),
        )
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
    e = load_table(spark, sf_dir, "events")
    ctrl = _derive_control(e).unionByName(_view_terminated(e))
    routed = run_pipeline_batch(events_as_records(e), ctrl)
    return _summarize(routed).select("batch_id", "n_out", "final_status")
