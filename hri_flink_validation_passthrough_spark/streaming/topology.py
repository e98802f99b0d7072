"""The streaming topology (SURVEY.md §7 phase 3).

Reference shape (SURVEY.md §2A): Kafka data source + Kafka notification
source → connect/broadcast → keyed validator+tracker → three sinks. Spark
shape: two ``readStream``s → normalize to the common envelope → ``unionByName``
→ keyed stateful operator → ``foreachBatch`` fan-out to out/invalid/
notification.

One stateful implementation over the pure core (operators/batch_state.py):
``lifecycle_with_group_state`` under ``applyInPandasWithState`` (GroupState +
ProcessingTimeTimeout), over the same encoded envelope and the same per-group
replay as the batch engine (operators/passthrough.py: ``encoded_envelope``,
``replay_group``, ``decode_routed``). Timeout semantics: Spark clears a key's
timeout whenever the function runs for that key, so the deadline is re-armed
from state on every invocation. A batch id that is still unknown after its
trigger keeps no state row: its records route to invalid without touching a
counter, and a missing row rebuilds the identical fresh ``BatchState``.

Semantics deltas vs Flink, documented per SURVEY.md §3.3/§2C.6:
- timers fire at microbatch boundaries: ``completed`` lands at the first
  trigger after the delay elapses — satisfies the ``≥ delay`` contract;
- sinks are at-least-once per topic (no cross-topic transaction); replays
  are idempotent by (key, batchId) for downstream dedup.

Scale posture: state is one tiny row per known batchId (RocksDB provider for
large key counts); the shuffle is one hash exchange on batchId — exactly the
reference's ``keyBy``; ``maxOffsetsPerTrigger`` bounds per-trigger work. A
single hot batch serializes on one task, same as in Flink. State partitions =
cores (``session.prepare``; the harness replays cap them at 8), fixed at the
first checkpoint: one stateful wave per trigger, kept across restarts.
Checkpoint files (state deltas and their checksums, offsets, commits, the
source log) go through Spark's FileSystem-based manager on local masters
(``session.prepare``): one ``rename(2)`` each, no readlink forks. Cluster
masters keep the FileContext manager and its atomic no-overwrite rename on
the shared checkpoint FS.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import DEFAULT_BATCH_COMPLETION_DELAY_MS
from ..operators.batch_state import (
    BatchState,
    BatchStateMachine,
    passthrough_validator,
)
from ..operators.passthrough import (
    _ROUTED_ENC_SCHEMA,
    _routed_frame,
    decode_routed,
    encoded_envelope,
    replay_group,
)

_STATE_SCHEMA = "state_json STRING"
# Whole-trigger ordering (r11) buffers one (key, trigger) group as a single
# pandas frame; per-trigger volume is expected to be bounded by the source's
# maxOffsetsPerTrigger / maxFilesPerTrigger. Past this row count the state fn
# logs a warning pointing at the missing bound (ADVICE r12) — ~5M envelope
# rows ≈ 1-2 GiB of pandas, the level where one executor's group starts to
# threaten its heap share.
TRIGGER_GROUP_WARN_ROWS = 5_000_000


def lifecycle_with_group_state(
    completion_delay_ms: int = DEFAULT_BATCH_COMPLETION_DELAY_MS,
    validator=passthrough_validator,
    lookup=None,
):
    """Returns the (key, pdf_iter, state) function for applyInPandasWithState
    over the encoded envelope: a timer pass, or the trigger's rows through
    the shared replay (operators/passthrough.py::replay_group)."""

    def fn(key, pdf_iter, state) -> Iterator[pd.DataFrame]:
        machine = BatchStateMachine(completion_delay_ms, validator, lookup)
        batch_id = key[0] if key else None
        stored = state.getOption  # property in the GroupState API
        st = (
            BatchState.from_dict(json.loads(stored[0]))
            if stored is not None
            else BatchState(batch_id=batch_id or "")
        )

        if state.hasTimedOut:
            outs = machine.on_timer(st, st.deadline_ms or 0)
            state.update((json.dumps(st.to_dict()),))
            out_pdf = _routed_frame([], outs.notifications, batch_id)
            if len(out_pdf):
                yield out_pdf
            return

        now = state.getCurrentProcessingTimeMs()
        # Concatenate the trigger's Arrow chunks BEFORE the sort: sorting
        # per chunk let a control row in a later chunk apply after data
        # rows with larger time_ms from an earlier chunk — a chunk-size-
        # dependent divergence from the batch replay's whole-group sort
        # (r11 self-review). Per-trigger-per-key volume is bounded by
        # maxOffsetsPerTrigger (the documented posture), so the concat is
        # the same memory class as one applyInPandas group. That bound is
        # a SOURCE option this operator cannot see (ADVICE r12): an
        # unbounded trigger — availableNow over a large backlog with no
        # maxOffsetsPerTrigger/maxFilesPerTrigger — materializes a key's
        # whole backlog here, so an oversized group logs a warning naming
        # the missing option instead of degrading silently.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        whole = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1
            else (chunks[0] if chunks else None)
        )
        if whole is not None and len(whole) > TRIGGER_GROUP_WARN_ROWS:
            import logging

            logging.getLogger(__name__).warning(
                "batch_id=%s received %d rows in ONE trigger (> %d): "
                "whole-trigger ordering buffers the group in memory — set "
                "maxOffsetsPerTrigger/maxFilesPerTrigger on the source to "
                "bound per-trigger volume",
                batch_id, len(whole), TRIGGER_GROUP_WARN_ROWS,
            )
        out_pdf = None
        if whole is not None:
            # the trigger's processing time is the constant clock; the
            # timer pass above owns deadlines that come due between triggers
            out_pdf = replay_group(
                whole, machine, batch_id, st=st, now_ms=now, end_input=False
            )

        if st.known:
            state.update((json.dumps(st.to_dict()),))
            # Spark clears the key's timeout each time this function runs —
            # re-arm from state unconditionally.
            if st.deadline_ms is not None:
                state.setTimeoutDuration(max(1, st.deadline_ms - now))
        else:
            # an unknown (garbage) batch id keeps no row: its records went
            # to invalid without touching a counter, so the row would equal
            # a fresh BatchState and only grow the store
            state.remove()
        if out_pdf is not None and len(out_pdf):
            yield out_pdf

    return fn


# ---------------------------------------------------------------------------
# Topology
# ---------------------------------------------------------------------------
def build_routed_stream(
    records: DataFrame,
    notifications: DataFrame,
    completion_delay_ms: int = DEFAULT_BATCH_COMPLETION_DELAY_MS,
    validator=passthrough_validator,
    lookup=None,
    per_trigger_bound: int | str | None = None,
) -> DataFrame:
    """records/notifications: STREAMING DataFrames already in record/
    notification shape (see sources.envelope). Returns the destination-tagged
    routed stream (ROUTED_SCHEMA). Pure function — sinks are the caller's
    (same injection seam as the reference, SURVEY.md §3.2).

    ``per_trigger_bound`` — the caller contract, now ENFORCED at build
    time (r12 verdict ask #3; previously a mid-run warning only): the
    state function orders each (batch_id, trigger) group as ONE pandas
    frame, so an unbounded availableNow backlog would buffer a key's
    whole backlog in a single group. Callers must declare how the
    per-trigger volume is bounded:

    - ``"source-option"`` — the sources set ``maxOffsetsPerTrigger``
      (Kafka; ``sources.kafka.read_records_stream`` sets a bounded
      default) or ``maxFilesPerTrigger`` (files).
    - an ``int`` — a staged replay whose TOTAL row volume is known;
      must not exceed ``TRIGGER_GROUP_WARN_ROWS`` (past that, stage the
      corpus behind a file source with ``maxFilesPerTrigger`` instead).

    Omitting it raises at build time — rejected, not warned after the
    fact. The runtime warning stays as the backstop for callers whose
    declaration turns out wrong."""
    if per_trigger_bound is None:
        raise ValueError(
            "build_routed_stream: declare per_trigger_bound — "
            "'source-option' if the sources set maxOffsetsPerTrigger/"
            "maxFilesPerTrigger, or the staged corpus's known row count "
            f"(<= TRIGGER_GROUP_WARN_ROWS={TRIGGER_GROUP_WARN_ROWS}). "
            "Whole-trigger ordering buffers each (batch_id, trigger) "
            "group as one pandas frame; an unbounded availableNow replay "
            "is rejected here rather than warned about mid-run."
        )
    # bool is an int subclass: per_trigger_bound=True would otherwise
    # validate as a declared bound of 1 (r13 ADVICE) — reject it as garbage
    if isinstance(per_trigger_bound, int) and not isinstance(
        per_trigger_bound, bool
    ):
        if not 0 < per_trigger_bound <= TRIGGER_GROUP_WARN_ROWS:
            raise ValueError(
                f"build_routed_stream: declared per_trigger_bound="
                f"{per_trigger_bound} outside (0, "
                f"{TRIGGER_GROUP_WARN_ROWS}]; stage the corpus behind a "
                "file source with maxFilesPerTrigger and declare "
                "'source-option' instead"
            )
    elif per_trigger_bound != "source-option":
        raise ValueError(
            f"build_routed_stream: per_trigger_bound={per_trigger_bound!r} "
            "must be 'source-option' or a positive int"
        )
    routed = encoded_envelope(records, notifications).groupBy(
        "batch_id"
    ).applyInPandasWithState(
        lifecycle_with_group_state(completion_delay_ms, validator, lookup),
        outputStructType=_ROUTED_ENC_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )
    return decode_routed(routed)


def start_memory_query(
    routed: DataFrame,
    name: str,
    checkpoint: str,
    available_now: bool = False,
    output_mode: str = "append",
):
    """Test/debug sink: collect the routed stream into an in-memory table.

    ``available_now=True`` processes everything currently staged and stops —
    right for finite-replay measurements that don't need processing-time
    timers to fire (those need the default continuous micro-batch trigger,
    whose no-data batches deliver timer expirations)."""
    writer = (
        routed.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kafka_fanout_writer(
    topics,
    brokers: str,
    extra_options: dict | None = None,
    notifier=None,
    sink=None,
):
    """foreachBatch writer: one atomic-per-microbatch fan-out to the three
    topics (avoids three independent queries sharing state). At-least-once
    per topic; see module docstring for the cross-topic contract.

    ``notifier`` (mgmt mode, op 16): terminal transitions are PUT to the
    Management API — which owns the notification topic — instead of the job
    writing that topic directly. Standalone mode (notifier=None) writes the
    topic itself.

    ``sink(part_df, topic, options)`` overrides the per-topic write — the
    test seam (the default writes Kafka, unverifiable without a broker/
    connector). ``options`` is the exact dict the default write would use
    (``kafka_writer_options``), so tests can assert assembly byte-exactly."""

    def kafka_sink(part: DataFrame, topic: str, options: dict) -> None:
        part.write.format("kafka").options(**options).save()

    sink = sink or kafka_sink

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            if notifier is not None:
                import json as _json

                for row in (
                    batch_df.filter(F.col("dest") == "notification")
                    .select("value")
                    .collect()
                ):
                    notifier.notify(_json.loads(bytes(row.value)))
            dests = [("out", topics.output), ("invalid", topics.invalid)]
            if notifier is None:
                dests.append(("notification", topics.notification))
            for dest, topic in dests:
                part = batch_df.filter(F.col("dest") == dest).select(
                    "key", "value", "headers"
                )
                sink(part, topic, kafka_writer_options(topic, brokers, extra_options))
        finally:
            batch_df.unpersist()

    return write


def kafka_writer_options(
    topic: str, brokers: str, extra_options: dict | None = None
) -> dict[str, str]:
    """The exact option dict the per-topic Kafka write uses — a pure
    function so the assembly (incl. SASL/JAAS passthrough) is testable
    without a broker; only ``.format("kafka").save()`` itself needs one."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "includeHeaders": "true",
    }
    opts.update(extra_options or {})
    return opts


def idempotent_parquet_sink(base_path: str):
    """foreachBatch sink with exactly-once effective semantics: each
    microbatch lands in ``{base_path}/epoch_id={N}/`` with dynamic overwrite,
    so a replayed epoch (post-crash reprocessing — foreachBatch is
    at-least-once) REPLACES its own previous output instead of appending a
    duplicate. Readers see parquet partitioned by epoch_id; dedup across
    epochs is the checkpoint's job, dedup within an epoch is this overwrite.

    This is the standard idempotent-sink recipe when the target is a file
    store rather than a transactional sink."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{base_path}/epoch_id={epoch_id}")
        )

    return write
