"""Custom-validator injection through the STREAMING path — the reference's
extension point (Validator.isValid, PassthroughValidator.java:18-25,
README.md:49): a rejecting validator routes to .invalid with the failure
body and trips the invalid-threshold failure."""

from __future__ import annotations

import json
import time
import uuid

import pytest

from pyspark.sql import types as T

from hri_flink_validation_passthrough_spark.model import (
    HRI_RECORD_SCHEMA,
    NOTIFICATION_SCHEMA,
)
from hri_flink_validation_passthrough_spark.streaming.topology import (
    build_routed_stream,
    start_memory_query,
)
from tests.test_pipeline_spark import EDGE_HEADERS, routed_headers

CTRL_SCHEMA = T.StructType(
    list(NOTIFICATION_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)
REC_SCHEMA = T.StructType(
    list(HRI_RECORD_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)


def _run_until(spark, routed, ckpt, n_rows, timeout_s=30):
    name = f"val_{uuid.uuid4().hex[:8]}"
    q = start_memory_query(routed, name, ckpt)
    try:
        t0 = time.time()
        while time.time() - t0 < timeout_s:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if len(rows) >= n_rows:
                return rows
            time.sleep(0.4)
        pytest.fail(f"timeout; rows={len(rows)}")
    finally:
        q.stop()


def test_custom_validator_and_threshold_in_streaming(spark, tmp_path):
    def reject_odd_keys(key, value, headers):
        # defined inside the test → cloudpickle serializes it BY VALUE, so
        # executors don't need the test module importable
        if int(key.decode()) % 2 == 1:
            return False, f"odd key {key.decode()} rejected"
        return True, None

    data_dir, ctrl_dir, ckpt = (
        str(tmp_path / "d"), str(tmp_path / "c"), str(tmp_path / "k"),
    )
    base = {f.name: None for f in NOTIFICATION_SCHEMA.fields}
    started = dict(base, id="B", status="started", invalidThreshold=3)
    spark.createDataFrame(
        [tuple(started[f.name] for f in NOTIFICATION_SCHEMA.fields) + (0, 0)],
        CTRL_SCHEMA,
    ).write.parquet(ctrl_dir)
    # keys 0-9 carry the plain batchId header, keys 10-14 the header edge
    # cases (13 and 14 carry no batchId: unknown batch)
    headers = [[("batchId", b"B")]] * 10 + EDGE_HEADERS
    recs = [
        (str(i).encode(), b"v", h, "t", 1, i, 100 + i, i)
        for i, h in enumerate(headers)  # 6 odd keys of B > threshold 3
    ]
    spark.createDataFrame(recs, REC_SCHEMA).write.parquet(data_dir)

    routed = build_routed_stream(
        spark.readStream.schema(REC_SCHEMA).parquet(data_dir),
        spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir),
        completion_delay_ms=60_000,
        validator=reject_odd_keys,
        per_trigger_bound=15,  # the 15 staged records
    )
    rows = _run_until(spark, routed, ckpt, 16)

    out = [r for r in rows if r.dest == "out"]
    inv = [r for r in rows if r.dest == "invalid"]
    notifs = [json.loads(bytes(r.value)) for r in rows if r.dest == "notification"]
    assert sorted(int(bytes(r.key)) for r in out) == [0, 2, 4, 6, 8, 10, 12]
    assert len(inv) == 8
    failures = {int(bytes(r.key)): json.loads(bytes(r.value))["failure"] for r in inv}
    assert failures[1].endswith("rejected")
    assert failures[13] == failures[14] == "Bad Message - Unknown batchId"
    assert [n["status"] for n in notifs] == ["failed"]  # threshold 3 < 4th invalid
    by_key = {int(bytes(r.key)): routed_headers(r) for r in out + inv}
    assert [by_key[i] for i in range(15)] == headers


def test_lookup_resolves_batches_in_streaming(spark, tmp_path):
    """Management mode through the stream: no control rows at all; the
    lookup's hit routes to .out and completes on the timer, its miss routes
    to .invalid as an unknown batch."""
    from hri_flink_validation_passthrough_spark.sources.lookup import (
        MapBatchLookup,
    )

    data_dir, ctrl_dir, ckpt = (
        str(tmp_path / "d"), str(tmp_path / "c"), str(tmp_path / "k"),
    )
    spark.createDataFrame([], CTRL_SCHEMA).write.parquet(ctrl_dir)
    recs = [
        (str(i).encode(), b"v", [("batchId", b"H" if i < 3 else b"M")],
         "t", 1, i, 100 + i, i)
        for i in range(5)
    ]
    spark.createDataFrame(recs, REC_SCHEMA).write.parquet(data_dir)
    lookup = MapBatchLookup(
        [{"id": "H", "status": "sendCompleted", "expectedRecordCount": 3,
          "invalidThreshold": -1}]
    )
    routed = build_routed_stream(
        spark.readStream.schema(REC_SCHEMA).parquet(data_dir),
        spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir),
        completion_delay_ms=500,
        lookup=lookup,
        per_trigger_bound=5,
    )
    rows = _run_until(spark, routed, ckpt, 6)

    got = sorted((r.dest, r.batch_id, int(bytes(r.key))) for r in rows
                 if r.dest != "notification")
    assert got == [("invalid", "M", 3), ("invalid", "M", 4),
                   ("out", "H", 0), ("out", "H", 1), ("out", "H", 2)]
    assert {json.loads(bytes(r.value))["failure"] for r in rows
            if r.dest == "invalid"} == {"Bad Message - Unknown batchId"}
    notes = [json.loads(bytes(r.value)) for r in rows if r.dest == "notification"]
    assert [(n["id"], n["status"], n["recordCount"]) for n in notes] == [
        ("H", "completed", 3)
    ]


def test_unbounded_replay_rejected_at_build(spark, tmp_path):
    """r12 verdict ask #3 (promotes the r12 warning to a CONTRACT): a
    caller that declares no per-trigger bound is rejected at topology
    build time — before any query starts — instead of warned mid-run;
    a declared bound past TRIGGER_GROUP_WARN_ROWS (a whole-trigger frame
    that cannot safely concat) is equally rejected, and so is garbage."""
    from hri_flink_validation_passthrough_spark.streaming.topology import (
        TRIGGER_GROUP_WARN_ROWS,
    )

    data_dir, ctrl_dir = str(tmp_path / "d"), str(tmp_path / "c")
    spark.createDataFrame([], REC_SCHEMA).write.parquet(data_dir)
    spark.createDataFrame([], CTRL_SCHEMA).write.parquet(ctrl_dir)
    records = spark.readStream.schema(REC_SCHEMA).parquet(data_dir)
    notifs = spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir)

    with pytest.raises(ValueError, match="per_trigger_bound"):
        build_routed_stream(records, notifs, completion_delay_ms=500)
    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        build_routed_stream(
            records,
            notifs,
            completion_delay_ms=500,
            per_trigger_bound=TRIGGER_GROUP_WARN_ROWS + 1,
        )
    with pytest.raises(ValueError, match="source-option"):
        build_routed_stream(
            records, notifs, completion_delay_ms=500, per_trigger_bound="yes"
        )
    # bool is an int subclass — True must not slip through as a declared
    # bound of 1 (r13 ADVICE)
    with pytest.raises(ValueError, match="positive int"):
        build_routed_stream(
            records, notifs, completion_delay_ms=500, per_trigger_bound=True
        )
    # valid declarations still build
    assert build_routed_stream(
        records, notifs, completion_delay_ms=500, per_trigger_bound=10
    ).isStreaming
    assert build_routed_stream(
        records,
        notifs,
        completion_delay_ms=500,
        per_trigger_bound="source-option",
    ).isStreaming


def test_oversized_trigger_group_logs_warning(monkeypatch, caplog):
    """ADVICE r12: whole-trigger ordering buffers one (key, trigger) group
    as a single pandas frame, which is only safe while the source bounds
    per-trigger volume. Past TRIGGER_GROUP_WARN_ROWS the state function
    must log a warning naming the missing source option instead of
    degrading silently (and stay silent under the bound)."""
    import logging

    import pandas as pd

    from hri_flink_validation_passthrough_spark.operators import passthrough
    from hri_flink_validation_passthrough_spark.streaming import topology

    monkeypatch.setattr(
        topology, "replay_group",
        lambda *a, **k: pd.DataFrame(columns=passthrough._OUT_COLS),
    )

    class FakeState:
        hasTimedOut = False
        getOption = None

        def update(self, t):
            self.stored = t

        def remove(self):
            self.stored = None

        def getCurrentProcessingTimeMs(self):
            return 0

        def setTimeoutDuration(self, ms):
            pass

    def run(n_rows):
        pdf = pd.DataFrame(
            {
                "kind": ["data"] * n_rows,
                "time_ms": range(n_rows),
                "seq": range(n_rows),
            }
        )
        fn = topology.lifecycle_with_group_state()
        with caplog.at_level(
            logging.WARNING,
            logger="hri_flink_validation_passthrough_spark.streaming.topology",
        ):
            caplog.clear()
            list(fn(("B",), iter([pdf]), FakeState()))
        return [
            r.getMessage()
            for r in caplog.records
            if "maxOffsetsPerTrigger" in r.getMessage()
        ]

    monkeypatch.setattr(topology, "TRIGGER_GROUP_WARN_ROWS", 2)
    assert not run(2), "at/below the bound must stay silent"
    warned = run(3)
    assert warned, "above the bound must warn"
    assert "batch_id=B" in warned[0]
