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
    envelope schema declares it nullable); the streaming row-wise applier
    once crashed with TypeError on bytes(None). Drive the one row-wise loop
    on the stream's clock with such a row: the validator sees the value as
    None and the routed row keeps the header string unchanged."""
    import pandas as pd

    from hri_flink_validation_passthrough_spark.model import STARTED
    from hri_flink_validation_passthrough_spark.operators.batch_state import (
        BatchState,
        BatchStateMachine,
    )
    from hri_flink_validation_passthrough_spark.operators.passthrough import (
        replay_group,
    )

    seen = []

    def record_headers(key, value, headers):
        seen.append(headers)
        return True, None

    machine = BatchStateMachine(1000, record_headers, None)
    st = BatchState(batch_id="b1")
    notif = {
        "id": "b1", "name": "b1", "topic": "ingest.t.x.in", "dataType": "x",
        "invalidThreshold": -1, "status": STARTED,
    }
    headers = json.dumps([{"key": "batchId"}])  # to_json drops the null value
    pdf = pd.DataFrame(
        [
            {"kind": "control", "key": None, "value": None, "headers": None,
             "notification": json.dumps(notif), "time_ms": 1, "seq": 0},
            {"kind": "data", "key": b"k", "value": b"v", "headers": headers,
             "notification": None, "time_ms": 2, "seq": 1},
        ]
    )
    out = replay_group(pdf, machine, "b1", st=st, now_ms=5, end_input=False)
    assert st.processed == 1  # the record routed despite the null header
    assert seen == [[{"key": "batchId", "value": None}]]
    assert list(out["dest"]) == ["out"] and list(out["headers"]) == [headers]


# Header shapes the string boundary must carry exactly (null value, non-UTF-8
# bytes, duplicate keys, an empty list, a null list); the last two carry no
# batchId, so they route as unknown-batch records.
EDGE_HEADERS = [
    [("batchId", b"B"), ("nullv", None)],
    [("batchId", b"B"), ("bin", b"\xff\x00\x80")],
    [("batchId", b"B"), ("dup", b"1"), ("dup", b"2")],
    [],
    None,
]


def routed_headers(row):
    """A routed row's headers as ``[(key, bytes | None)]``, or None."""
    if row.headers is None:
        return None
    return [(h.key, None if h.value is None else bytes(h.value))
            for h in row.headers]


def test_header_edge_cases_survive_both_replay_paths(spark):
    """The bulk path (passthrough validator) and the row-wise path (a custom
    validator) both cross the string boundary; routed headers must equal
    the input headers exactly on each."""
    rows = [
        (str(i).encode(), b"v", h, "t", 1, i)
        for i, h in enumerate(EDGE_HEADERS)
    ]
    records = (
        spark.createDataFrame(rows, HRI_RECORD_SCHEMA)
        .withColumn("time_ms", F.lit(100) + F.col("offset"))
        .withColumn("seq", F.col("offset"))
    )
    ctrl = _control_df(
        spark,
        [({"id": "B", "status": "started", "invalidThreshold": -1}, 0, 0)],
    )

    def reject_odd_keys(key, value, headers):
        return int(key.decode()) % 2 == 0, "odd"

    for validator, dests in [
        (None, ["out", "out", "out", "invalid", "invalid"]),
        (reject_odd_keys, ["out", "invalid", "out", "invalid", "invalid"]),
    ]:
        kw = {} if validator is None else {"validator": validator}
        got = {
            int(bytes(r.key)): r
            for r in run_pipeline_batch(records, ctrl, **kw).collect()
            if r.dest != "notification"
        }
        assert [got[i].dest for i in range(5)] == dests
        assert [routed_headers(got[i]) for i in range(5)] == EDGE_HEADERS
        for i in (3, 4):
            assert json.loads(bytes(got[i].value)) == {
                "failure": "Bad Message - Unknown batchId"
            }


def test_lookup_resolves_batches_without_control_rows(spark):
    """Management mode: no control rows at all; the lookup's hit routes to
    .out and completes, its miss routes to .invalid as an unknown batch."""
    from hri_flink_validation_passthrough_spark.sources.lookup import (
        MapBatchLookup,
    )

    lookup = MapBatchLookup(
        [{"id": "batch-42", "status": "sendCompleted", "expectedRecordCount": 3,
          "invalidThreshold": -1}]
    )
    records = _records_df(spark, 3).unionByName(
        _records_df(spark, 2, batch=b"ghost")
    )
    rows = run_pipeline_batch(
        records, _control_df(spark, []), completion_delay_ms=5000, lookup=lookup
    ).collect()
    by_dest = {}
    for r in rows:
        by_dest.setdefault((r.dest, r.batch_id), []).append(r)
    assert len(by_dest[("out", "batch-42")]) == 3
    assert [json.loads(bytes(r.value)) for r in by_dest[("invalid", "ghost")]] == [
        {"failure": "Bad Message - Unknown batchId"}
    ] * 2
    [note] = by_dest[("notification", "batch-42")]
    assert json.loads(bytes(note.value))["status"] == "completed"
    assert set(by_dest) == {
        ("out", "batch-42"), ("invalid", "ghost"), ("notification", "batch-42")
    }
