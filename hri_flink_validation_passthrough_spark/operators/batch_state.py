"""The per-batch lifecycle state machine — the one genuinely custom operator
in the reference (SURVEY.md §2A ops 5-13).

Reference contract (all citations into /root/reference):
- lifecycle ``started → sendCompleted → completed | failed | terminated``
  (flink_validation_passthrough_spec.rb:131, 261, 317, 355)
- per-batch record counting, reconciled against ``expectedRecordCount``
  (PassthroughStreamingJobIntTest.java:98-103, kafka_record_validator.rb:53)
- overcount → ``failed``: more records than expected, whether discovered at
  ``sendCompleted`` (spec.rb:292-318) or arriving within the completion-delay
  window (spec.rb:320-356); overage records are STILL routed to ``.out``
  (spec.rb:349-353) — routing and lifecycle are decoupled
- completion-delay timer: on count match, wait ``batchCompletionDelay`` ms for
  stragglers, then emit ``completed`` (PassthroughStreamingJob.java:40-41,
  kafka_record_validator.rb:67-71)
- unknown batchId → ``.invalid`` with body ``{"failure": "Bad Message -
  Unknown batchId"}``, headers preserved, counters untouched
  (spec.rb:264-290, kafka_record_validator.rb:110)
- records after ``completed`` → ``.invalid``; batch stays ``completed``
  (spec.rb:358-402)
- records after ``terminated`` → dropped (spec.rb:229-262; [inferred] the
  test asserts only `.out` count and the notification sequence)
- invalid-threshold: batch fails when validation-invalid count exceeds the
  threshold; −1 disables (PassthroughJobTestHelper.java:72)
- zero-record batch emits no terminal notification
  (PassthroughStreamingJobIntTest.java:110-155) — [inferred] we arm the
  completion timer only when expected > 0

This module is PURE PYTHON (no Spark imports): the same core drives the
batch-mode replay (``applyInPandas`` per batchId) and the Structured
Streaming stateful operator, mirroring the reference's source/sink-agnostic
seam (SURVEY.md §3.2).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from ..model import (
    COMPLETED,
    DEFAULT_BATCH_COMPLETION_DELAY_MS,
    FAILED,
    SEND_COMPLETED,
    STARTED,
    TERMINATED,
    UNKNOWN_BATCH_FAILURE,
)

# validator(key, value, headers) -> (is_valid, failure_message)
Validator = Callable[[bytes | None, bytes | None, list], tuple[bool, str | None]]


def passthrough_validator(key, value, headers) -> tuple[bool, str | None]:
    """Approve everything — PassthroughValidator.java:18-25 returns
    ``(true, null)`` unconditionally, never inspecting the payload."""
    return True, None


# lookup(batch_id) -> notification dict or None (op 7, BatchLookup)
Lookup = Callable[[str], dict | None]

_META_FIELDS = ("name", "topic", "dataType", "startDate", "endDate", "metadata")


@dataclass
class BatchState:
    batch_id: str
    known: bool = False
    status: str | None = None
    expected: int | None = None
    processed: int = 0
    invalid: int = 0
    invalid_threshold: int = -1
    meta: dict = field(default_factory=dict)
    deadline_ms: int | None = None  # armed completion timer

    def to_dict(self) -> dict:
        return {
            "batch_id": self.batch_id,
            "known": self.known,
            "status": self.status,
            "expected": self.expected,
            "processed": self.processed,
            "invalid": self.invalid,
            "invalid_threshold": self.invalid_threshold,
            "meta": self.meta,
            "deadline_ms": self.deadline_ms,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "BatchState":
        return cls(**d)


@dataclass
class RoutedRecord:
    dest: str  # "out" | "invalid"
    key: bytes | None
    value: bytes | None
    headers: list  # [(key, value_bytes)] — order & duplicates preserved


@dataclass
class Outputs:
    routed: list[RoutedRecord] = field(default_factory=list)
    notifications: list[dict] = field(default_factory=list)

    def extend(self, other: "Outputs") -> None:
        self.routed.extend(other.routed)
        self.notifications.extend(other.notifications)


def failure_body(message: str) -> bytes:
    """Invalid-topic body format (kafka_record_validator.rb:106-110)."""
    return json.dumps({"failure": message}).encode("utf-8")


def notification_json(payload: dict) -> bytes:
    """Serialize an emitted notification; the raw ``metadata`` JSON string is
    re-inflated so arbitrary nested objects round-trip
    (flink_validation_passthrough_spec.rb:112-114)."""
    p = dict(payload)
    meta = p.get("metadata")
    if isinstance(meta, str):
        try:
            p["metadata"] = json.loads(meta)
        except (ValueError, TypeError):
            pass
    return json.dumps(p, ensure_ascii=False).encode("utf-8")


class BatchStateMachine:
    """Event-at-a-time core. Callers own state persistence and clocks."""

    def __init__(
        self,
        completion_delay_ms: int = DEFAULT_BATCH_COMPLETION_DELAY_MS,
        validator: Validator = passthrough_validator,
        lookup: Lookup | None = None,
    ):
        self.delay_ms = completion_delay_ms
        self.validator = validator
        self.lookup = lookup

    # -- notification construction -------------------------------------
    def _notification(self, st: BatchState, status: str) -> dict:
        n = {"id": st.batch_id, "status": status}
        for f in _META_FIELDS:
            if f in st.meta:
                n[f] = st.meta[f]
        if st.expected is not None:
            n["expectedRecordCount"] = st.expected
        n["recordCount"] = st.processed
        n["invalidThreshold"] = st.invalid_threshold
        return n

    def _fail(self, st: BatchState, out: Outputs) -> None:
        st.deadline_ms = None
        st.status = FAILED
        out.notifications.append(self._notification(st, FAILED))

    def _complete(self, st: BatchState, out: Outputs) -> None:
        st.deadline_ms = None
        if st.status == SEND_COMPLETED and st.processed == st.expected:
            st.status = COMPLETED
            out.notifications.append(self._notification(st, COMPLETED))

    # -- timers ---------------------------------------------------------
    def advance_time(self, st: BatchState, now_ms: int | None, out: Outputs) -> None:
        """Fire the completion timer if ``now_ms`` passed the deadline. The
        contract is ``completed − sendCompleted ≥ delay``
        (kafka_record_validator.rb:70) — quantized firing satisfies it."""
        if (
            st.deadline_ms is not None
            and now_ms is not None
            and now_ms >= st.deadline_ms
        ):
            self._complete(st, out)

    def end_of_input(self, st: BatchState) -> Outputs:
        """Batch-mode replay: any armed timer fires once input is exhausted."""
        out = Outputs()
        if st.deadline_ms is not None:
            self._complete(st, out)
        return out

    def on_timer(self, st: BatchState, expiry_ms: int) -> Outputs:
        """Streaming: a registered processing-time timer fired. Only acts if
        the armed deadline is still the one that fired (a straggler overage
        clears the deadline and fails the batch before expiry)."""
        out = Outputs()
        if st.deadline_ms is not None and expiry_ms >= st.deadline_ms:
            self._complete(st, out)
        return out

    # -- control plane ----------------------------------------------------
    def on_control(self, st: BatchState, notif: dict, now_ms: int | None) -> Outputs:
        out = Outputs()
        self.advance_time(st, now_ms, out)
        st.known = True
        for f in _META_FIELDS:
            v = notif.get(f)
            if v is not None:
                st.meta[f] = v
        if notif.get("invalidThreshold") is not None:
            st.invalid_threshold = int(notif["invalidThreshold"])

        status = notif.get("status")
        if status == STARTED:
            if st.status is None:
                st.status = STARTED
        elif status == SEND_COMPLETED:
            if st.status in (None, STARTED, SEND_COMPLETED):
                st.status = SEND_COMPLETED
                if notif.get("expectedRecordCount") is not None:
                    st.expected = int(notif["expectedRecordCount"])
                if st.expected is not None and st.processed > st.expected:
                    # overcount discovered at sendCompleted (spec.rb:292-318)
                    self._fail(st, out)
                elif st.expected is not None and 0 < st.expected == st.processed:
                    st.deadline_ms = (now_ms or 0) + self.delay_ms
        elif status == TERMINATED:
            st.status = TERMINATED
            st.deadline_ms = None
        elif status in (COMPLETED, FAILED):
            # echo of our own terminal transition (or mgmt-API-driven)
            st.status = status
            st.deadline_ms = None
        return out

    # -- data plane ---------------------------------------------------------
    def on_data(
        self,
        st: BatchState,
        key: bytes | None,
        value: bytes | None,
        headers: list,
        now_ms: int | None,
    ) -> Outputs:
        out = Outputs()
        self.advance_time(st, now_ms, out)

        if not st.known:
            # BatchLookup fallback (op 7): on cache miss query the external
            # store; only emit Unknown batchId when that also misses (op 6).
            looked_up = self.lookup(st.batch_id) if self.lookup else None
            if looked_up is not None:
                out.extend(self.on_control(st, looked_up, now_ms))
            else:
                out.routed.append(
                    RoutedRecord(
                        "invalid", key, failure_body(UNKNOWN_BATCH_FAILURE), headers
                    )
                )
                return out

        if st.status == TERMINATED:
            return out  # dropped (spec.rb:229-262)
        if st.status == COMPLETED:
            # late record after completion → invalid, batch stays completed
            out.routed.append(
                RoutedRecord(
                    "invalid",
                    key,
                    failure_body("Batch is already completed"),
                    headers,
                )
            )
            return out

        st.processed += 1
        is_valid, msg = self.validator(key, value, headers)
        if is_valid:
            # byte-for-byte preservation (kafka_record_validator.rb:7-28)
            out.routed.append(RoutedRecord("out", key, value, headers))
        else:
            st.invalid += 1
            out.routed.append(
                RoutedRecord("invalid", key, failure_body(msg or "invalid"), headers)
            )
            if (
                0 <= st.invalid_threshold < st.invalid
                and st.status not in (FAILED,)
            ):
                self._fail(st, out)

        if (
            st.status == SEND_COMPLETED
            and st.expected is not None
            and st.processed > st.expected
        ):
            # straggler overage within the delay window (spec.rb:320-356);
            # the record was already routed above — routing is decoupled.
            self._fail(st, out)
        elif (
            st.status == SEND_COMPLETED
            and st.expected is not None
            and 0 < st.expected == st.processed
        ):
            # count caught UP to an earlier sendCompleted (cross-topic
            # ordering gives no record/notification ordering guarantee —
            # SURVEY.md §7 hard part 1): arm the completion timer now.
            st.deadline_ms = (now_ms or 0) + self.delay_ms
        return out
