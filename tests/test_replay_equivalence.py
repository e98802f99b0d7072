"""Differential test: the bulk replay path must produce EXACTLY the row-wise
reference's outputs and end state on randomized scenarios, on both clocks
(pure pandas, no Spark — this is the property pinning the bulk path to the
spec). Scenarios arrive in the encoded form both paths take: ``headers``
and ``notification`` as their Spark ``to_json`` strings."""

from __future__ import annotations

import base64
import json
import random

import pandas as pd
import pytest

from hri_flink_validation_passthrough_spark.operators.batch_state import (
    BatchState,
    BatchStateMachine,
)
from hri_flink_validation_passthrough_spark.operators.passthrough import (
    _replay_rowwise,
    _sorted_rows,
    replay_group,
)

DELAY = 5000
STATUSES = ["started", "sendCompleted", "terminated", "completed", "failed"]


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _headers_json(rng: random.Random) -> str | None:
    """A header list as Spark's ``to_json`` writes it: binary values as
    base64, a null value omitted, order and duplicate keys kept."""
    shape = rng.random()
    if shape < 0.05:
        return None
    if shape < 0.1:
        return "[]"
    hs = [{"key": "batchId", "value": _b64(b"B")}]
    if shape < 0.2:
        hs.append({"key": "x"})  # null value
    elif shape < 0.3:
        hs += [{"key": "dup", "value": _b64(b"\xff\xfe")},
               {"key": "dup", "value": _b64(b"")}]
    return json.dumps(hs)


def _scenario(rng: random.Random, started_first: bool = False) -> pd.DataFrame:
    """Up to 40 random events of batch "B". ``started_first`` opens with a
    started control, so data is counted from the start and a sendCompleted
    can match it and arm the completion timer."""
    rows = []
    if started_first:
        notif = json.dumps({"id": "B", "status": "started"})
        rows.append(dict(batch_id="B", kind="control", time_ms=0, seq=-1,
                         key=None, value=None, headers=None, notification=notif))
    t = 0
    n_events = rng.randint(0, 40)
    n_data_so_far = 0
    for i in range(n_events):
        t += rng.choice([0, 1, 10, 100, DELAY // 2, DELAY, DELAY * 2])
        if rng.random() < 0.25:
            status = rng.choice(STATUSES)
            notif = {
                "id": "B",
                "name": "n",
                "topic": "ingest.t.x.in",
                "dataType": "d",
                "status": status,
                "expectedRecordCount": (
                    rng.choice([None, 0, 1, 3, 5, 10, n_data_so_far,
                                n_data_so_far, n_data_so_far + 1,
                                n_data_so_far + 2])
                    if status == "sendCompleted"
                    else None
                ),
                "invalidThreshold": rng.choice([None, -1, 2]),
            }
            # to_json omits null fields
            notif = {k: v for k, v in notif.items() if v is not None}
            rows.append(
                dict(batch_id="B", kind="control", time_ms=t, seq=i, key=None,
                     value=None, headers=None, notification=json.dumps(notif))
            )
        else:
            n_data_so_far += 1
            rows.append(
                dict(batch_id="B", kind="data", time_ms=t, seq=i,
                     key=f"k{i}".encode(), value=f"v{i}".encode(),
                     headers=_headers_json(rng), notification=None)
            )
    cols = ["batch_id", "kind", "time_ms", "seq", "key", "value", "headers",
            "notification"]
    return pd.DataFrame(rows, columns=cols)


def _rows(df: pd.DataFrame) -> list:
    return [tuple(r) for r in df.itertuples(index=False)]


@pytest.mark.parametrize("seed", range(300))
def test_fast_path_equals_rowwise(seed):
    rng = random.Random(seed)
    pdf = _scenario(rng)
    if len(pdf) == 0:
        return
    st_a, st_b = BatchState(batch_id="B"), BatchState(batch_id="B")
    a = _replay_rowwise(_sorted_rows(pdf), BatchStateMachine(DELAY), "B", st=st_a)
    b = replay_group(pdf, BatchStateMachine(DELAY), "B", st=st_b)
    assert _rows(a) == _rows(b), f"seed {seed} diverged"
    assert st_a.to_dict() == st_b.to_dict()


@pytest.mark.parametrize("seed", range(300))
def test_fast_path_equals_rowwise_stream_clock(seed):
    """The stream's call shape: the scenario split into 2-3 triggers, each
    with one constant processing time, state carried between them, and the
    timer pass run between triggers whenever a deadline has come due."""
    rng = random.Random(seed)
    pdf = _sorted_rows(_scenario(rng, started_first=rng.random() < 0.7))
    machine = BatchStateMachine(DELAY)
    # half the time cut right after a row that leaves the timer armed: a
    # deadline carried into a later trigger is the case the clocks differ on
    probe, armed_after = BatchState(batch_id="B"), []
    for i in range(len(pdf)):
        _replay_rowwise(pdf.iloc[i:i + 1], machine, "B", st=probe, now_ms=0,
                        end_input=False)
        if probe.deadline_ms is not None:
            armed_after.append(i + 1)
    pool = (armed_after if armed_after and rng.random() < 0.5
            else range(len(pdf) + 1))
    cuts = rng.sample(pool, min(rng.choice([1, 2]), len(pool)))
    bounds = [0, *sorted(cuts), len(pdf)]
    st_a, st_b = BatchState(batch_id="B"), BatchState(batch_id="B")
    now = 0
    for lo, hi in zip(bounds, bounds[1:]):
        trig = pdf.iloc[lo:hi]
        if len(trig):
            now = max(now, int(trig["time_ms"].max()))
        now += rng.choice([0, 1, DELAY // 2, DELAY, DELAY * 2])
        # a no-data trigger before this one: the key's timer pass
        if st_a.deadline_ms is not None and st_a.deadline_ms <= now:
            if rng.random() < 0.5:
                ta = machine.on_timer(st_a, st_a.deadline_ms)
                tb = machine.on_timer(st_b, st_b.deadline_ms)
                assert ta.notifications == tb.notifications
        a = _replay_rowwise(trig, machine, "B", st=st_a, now_ms=now,
                            end_input=False)
        b = replay_group(trig, machine, "B", st=st_b, now_ms=now,
                         end_input=False)
        assert _rows(a) == _rows(b), f"seed {seed} diverged at rows {lo}:{hi}"
        assert st_a.to_dict() == st_b.to_dict(), f"seed {seed} state diverged"


def test_ordering_rule_matches_the_three_key_sort():
    """``_sorted_rows`` (one lexsort) orders exactly as a stable 3-key
    ``sort_values`` by (time nulls first, controls first, seq nulls first),
    on groups with null times, null seqs and duplicate keys."""
    rng = random.Random(7)
    for case in range(300):
        n = rng.randint(0, 50)
        nullable = case % 2 == 0
        pdf = pd.DataFrame(
            {
                "kind": [rng.choice(["control", "data", "data"]) for _ in range(n)],
                "time_ms": [
                    None if nullable and rng.random() < 0.2
                    else rng.choice([0, 1, 5, DELAY, 1_700_000_000_000])
                    for _ in range(n)
                ],
                "seq": [
                    None if nullable and rng.random() < 0.1 else rng.randint(-1, 4)
                    for _ in range(n)
                ],
                "row": range(n),
            }
        )
        want = pdf.assign(is_data=pdf["kind"] != "control").sort_values(
            ["time_ms", "is_data", "seq"], na_position="first", kind="stable"
        )
        assert list(_sorted_rows(pdf)["row"]) == list(want["row"]), case
