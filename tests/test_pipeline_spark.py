"""Spark-level pipeline tests: byte fidelity through Arrow/applyInPandas and
the end-to-end happy path on DataFrames (SURVEY.md §7 phase 1)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hri_flink_validation_passthrough_spark.model import HRI_RECORD_SCHEMA, NOTIFICATION_SCHEMA
from hri_flink_validation_passthrough_spark.operators.passthrough import run_pipeline_batch

RAW = bytes([0x00, 0xFF, 0x80, 0x7F]) + "日本語".encode()
HDRS = [
    ("batchId", b"batch-42"),
    ("testUtf8あいうえおか", "あいうえおか".encode()),
    ("passThru", b"tail"),
]


def _records_df(spark, n=15, batch=b"batch-42"):
    rows = [
        (
            str(i).encode(),
            RAW + str(i).encode(),
            [("batchId", batch)] + HDRS[1:],
            "ingest.t.data.in",
            1,
            1234 + i,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, HRI_RECORD_SCHEMA)
    return df.withColumn("time_ms", F.lit(100) + F.col("offset")).withColumn(
        "seq", F.col("offset")
    )


def _control_df(spark, status_rows):
    rows = [
        tuple(r.get(f.name) for f in NOTIFICATION_SCHEMA.fields) + (t, s)
        for r, t, s in status_rows
    ]
    schema = T.StructType(
        list(NOTIFICATION_SCHEMA.fields)
        + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
    )
    return spark.createDataFrame(rows, schema)


def test_happy_path_end_to_end(spark):
    records = _records_df(spark, 15)
    ctrl = _control_df(
        spark,
        [
            ({"id": "batch-42", "status": "started", "name": "Б",
              "metadata": json.dumps({"test": "ᚠᛇᚻ"})}, 0, 0),
            ({"id": "batch-42", "status": "sendCompleted",
              "expectedRecordCount": 15}, 10_000, 1),
        ],
    )
    routed = run_pipeline_batch(records, ctrl, completion_delay_ms=5000)
    rows = routed.collect()
    out = [r for r in rows if r.dest == "out"]
    inv = [r for r in rows if r.dest == "invalid"]
    notif = [r for r in rows if r.dest == "notification"]
    assert len(out) == 15 and not inv and len(notif) == 1

    by_key = {bytes(r.key): r for r in out}
    assert bytes(by_key[b"0"].value) == RAW + b"0"  # binary survives Arrow
    hs = [(h.key, bytes(h.value)) for h in by_key[b"0"].headers]
    assert hs == [("batchId", b"batch-42")] + [
        (k, v) for k, v in HDRS[1:]
    ]  # order preserved, UTF-8 header keys intact, trailing passThru last

    n = json.loads(bytes(notif[0].value))
    assert n["status"] == "completed"
    assert n["recordCount"] == 15 and n["expectedRecordCount"] == 15
    assert n["metadata"] == {"test": "ᚠᛇᚻ"}


def test_unknown_batch_and_interleaving(spark):
    known = _records_df(spark, 5, batch=b"batch-42")
    unknown = _records_df(spark, 3, batch=b"rspecUnknownBatch")
    records = known.unionByName(unknown)
    ctrl = _control_df(
        spark,
        [
            ({"id": "batch-42", "status": "started"}, 0, 0),
            ({"id": "batch-42", "status": "sendCompleted",
              "expectedRecordCount": 5}, 10_000, 1),
        ],
    )
    rows = run_pipeline_batch(records, ctrl, completion_delay_ms=5000).collect()
    inv = [r for r in rows if r.dest == "invalid"]
    assert len(inv) == 3
    assert json.loads(bytes(inv[0].value)) == {
        "failure": "Bad Message - Unknown batchId"
    }
    # unknown-batch rows keep their original headers
    assert [h.key for h in inv[0].headers][0] == "batchId"
    out = [r for r in rows if r.dest == "out"]
    assert len(out) == 5


def test_apply_rows_handles_null_header_value():
    """r11 self-review: a Kafka header with a NULL value is legal (the
    envelope schema declares it nullable and the batch path converts it to
    None); the streaming row-wise applier crashed with TypeError on
    bytes(None). Drive _apply_rows directly with such a row."""
    import pandas as pd

    from hri_flink_validation_passthrough_spark.model import STARTED
    from hri_flink_validation_passthrough_spark.operators.batch_state import (
        BatchState,
        BatchStateMachine,
        Outputs,
        passthrough_validator,
    )
    from hri_flink_validation_passthrough_spark.streaming.topology import (
        _apply_rows,
    )

    machine = BatchStateMachine(1000, passthrough_validator, None)
    st = BatchState(batch_id="b1")
    outs = Outputs()
    notif = {
        "id": "b1", "name": "b1", "topic": "ingest.t.x.in", "dataType": "x",
        "invalidThreshold": -1, "status": STARTED,
        "expectedRecordCount": None,
    }
    pdf = pd.DataFrame(
        [
            {"kind": "control", "key": None, "value": None, "headers": None,
             "notification": notif, "time_ms": 1, "seq": 0},
            {"kind": "data", "key": b"k", "value": b"v",
             "headers": [{"key": "batchId", "value": None}],
             "notification": None, "time_ms": 2, "seq": 1},
        ]
    )
    _apply_rows(machine, st, pdf, now=5, outs=outs)
    assert st.processed == 1  # the record routed despite the null header
