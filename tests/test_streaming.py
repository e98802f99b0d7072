"""End-to-end Structured Streaming tests: file-source streams drive the real
topology (keyed state + processing-time timers) into a memory sink — the
port of the reference's MiniCluster tier (SURVEY.md §5).

NOTE: with ProcessingTimeTimeout the engine keeps planning timer-evaluation
microbatches, so ``processAllAvailable()`` never converges — tests poll the
sink with a deadline instead.
"""

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

DELAY_MS = 1500

CTRL_SCHEMA = T.StructType(
    list(NOTIFICATION_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)
REC_SCHEMA = T.StructType(
    list(HRI_RECORD_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)


def _notif_row(status, bid="batch-42", expected=None, t=0, seq=0):
    base = {f.name: None for f in NOTIFICATION_SCHEMA.fields}
    base.update(
        id=bid, status=status, name="Б", topic="ingest.t.x.in",
        dataType="d", expectedRecordCount=expected, invalidThreshold=-1,
        metadata=json.dumps({"test": "ᚠᛇᚻ"}),
    )
    return tuple(base[f.name] for f in NOTIFICATION_SCHEMA.fields) + (t, seq)


def _rec_row(i, bid=b"batch-42", t=100):
    return (
        str(i).encode(),
        b"\x00\xff" + str(i).encode(),
        [("batchId", bid), ("passThru", b"tail")],
        "ingest.t.x.in",
        1,
        i,
        t + i,
        i,
    )


@pytest.fixture
def stream_env(spark, tmp_path):
    """One routed stream (applyInPandasWithState) over two file sources
    that the MiniCluster scenarios below stage rows into."""
    data_dir = str(tmp_path / "data")
    ctrl_dir = str(tmp_path / "ctrl")
    ckpt = str(tmp_path / "ckpt")

    def write_ctrl(rows):
        spark.createDataFrame(rows, CTRL_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(ctrl_dir)

    def write_recs(rows):
        spark.createDataFrame(rows, REC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    # both dirs must exist before readStream starts
    write_ctrl([_notif_row("started", t=0, seq=0)])
    write_recs([])

    records = spark.readStream.schema(REC_SCHEMA).parquet(data_dir)
    notifs = spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir)
    routed = build_routed_stream(
        records,
        notifs,
        completion_delay_ms=DELAY_MS,
        per_trigger_bound=1000,  # per-scenario staged rows, all tiny
    )
    name = f"routed_{uuid.uuid4().hex[:8]}"
    q = start_memory_query(routed, name, ckpt)

    def rows():
        return spark.sql(f"SELECT * FROM {name}").collect()

    def wait_for(cond, timeout=30.0, msg=""):
        t0 = time.time()
        while time.time() - t0 < timeout:
            r = rows()
            if cond(r):
                return r
            time.sleep(0.3)
        pytest.fail(f"timed out waiting for: {msg}\nlast rows: {rows()[:10]}")

    yield q, rows, wait_for, write_ctrl, write_recs
    q.stop()


def _dest(rows, d):
    return [r for r in rows if r.dest == d]


def _notifs(rows):
    return [json.loads(bytes(r.value)) for r in rows if r.dest == "notification"]


def test_streaming_lifecycle_end_to_end(spark, stream_env):
    q, rows, wait_for, write_ctrl, write_recs = stream_env

    write_recs([_rec_row(i) for i in range(15)])
    r = wait_for(lambda r: len(_dest(r, "out")) == 15, msg="15 routed records")
    # byte + header fidelity through the streaming path
    r0 = {bytes(x.key): x for x in _dest(r, "out")}[b"0"]
    assert bytes(r0.value) == b"\x00\xff0"
    assert [h.key for h in r0.headers] == ["batchId", "passThru"]

    sc_written = time.time()
    write_ctrl([_notif_row("sendCompleted", expected=15, t=200, seq=1)])
    r = wait_for(lambda r: _notifs(r), timeout=30, msg="terminal notification")
    elapsed_ms = (time.time() - sc_written) * 1000
    n = _notifs(r)
    assert [x["status"] for x in n] == ["completed"]
    assert n[0]["recordCount"] == 15 and n[0]["expectedRecordCount"] == 15
    assert n[0]["metadata"] == {"test": "ᚠᛇᚻ"}
    # the completion-delay contract: completed arrives ≥ delay after
    # sendCompleted reached the job (quantized by trigger interval)
    assert elapsed_ms >= DELAY_MS * 0.9, f"completed too early: {elapsed_ms}ms"

    # late record after completion → invalid, batch stays completed
    write_recs([_rec_row(77, t=9000)])
    r = wait_for(lambda r: _dest(r, "invalid"), msg="late record on invalid")
    assert json.loads(bytes(_dest(r, "invalid")[0].value)) == {
        "failure": "Batch is already completed"
    }
    assert [x["status"] for x in _notifs(r)] == ["completed"]  # unchanged


def test_streaming_unknown_batch_and_overcount(spark, stream_env):
    q, rows, wait_for, write_ctrl, write_recs = stream_env

    # unknown batchId → invalid with the reference failure body
    write_recs([_rec_row(50, bid=b"rspecUnknownBatch", t=50)])
    r = wait_for(lambda r: _dest(r, "invalid"), msg="unknown-batch invalid")
    assert json.loads(bytes(_dest(r, "invalid")[0].value)) == {
        "failure": "Bad Message - Unknown batchId"
    }

    # overcount at sendCompleted → failed; records still routed
    write_recs([_rec_row(i) for i in range(5)])
    wait_for(lambda r: len(_dest(r, "out")) == 5, msg="5 routed")
    write_ctrl([_notif_row("sendCompleted", expected=3, t=200, seq=1)])
    r = wait_for(lambda r: _notifs(r), msg="failed notification")
    assert [x["status"] for x in _notifs(r)] == ["failed"]
    assert len(_dest(r, "out")) == 5


def test_streaming_multi_batch_interleaving(spark, stream_env):
    """IVT multi-batch scenario (spec.rb:134-227): two interleaved batches,
    each tracked independently, both complete with their own counts."""
    q, rows, wait_for, write_ctrl, write_recs = stream_env

    write_ctrl([_notif_row("started", bid="batch-B", t=10, seq=2)])
    # interleave records of batch-42 (fixture-started) and batch-B
    write_recs(
        [_rec_row(i) for i in range(0, 10, 2)]
        + [_rec_row(i, bid=b"batch-B") for i in range(1, 10, 2)]
    )
    wait_for(lambda r: len(_dest(r, "out")) == 10, msg="10 routed")
    write_ctrl(
        [
            _notif_row("sendCompleted", expected=5, t=200, seq=3),
            _notif_row("sendCompleted", bid="batch-B", expected=5, t=201, seq=4),
        ]
    )
    r = wait_for(lambda r: len(_notifs(r)) == 2, msg="both batches complete")
    by_id = {n["id"]: n for n in _notifs(r)}
    assert set(by_id) == {"batch-42", "batch-B"}
    assert all(n["status"] == "completed" for n in by_id.values())
    assert all(n["recordCount"] == 5 for n in by_id.values())
    # every routed record kept its own batchId header
    for x in _dest(r, "out"):
        bid = dict((h.key, bytes(h.value)) for h in x.headers)["batchId"]
        expected = b"batch-42" if int(bytes(x.key)) % 2 == 0 else b"batch-B"
        assert bid == expected


def test_streaming_terminate_drops_later_records(spark, stream_env):
    q, rows, wait_for, write_ctrl, write_recs = stream_env

    write_recs([_rec_row(i) for i in range(10)])
    wait_for(lambda r: len(_dest(r, "out")) == 10, msg="10 routed")
    write_ctrl([_notif_row("terminated", t=300, seq=1)])
    # ensure the terminate is absorbed before sending more records: poke with
    # a second control for another batch and wait for a progress tick
    time.sleep(2.0)
    write_recs([_rec_row(i, t=400 + i) for i in range(10, 15)])
    time.sleep(4.0)
    r = rows()
    assert len(_dest(r, "out")) == 10  # post-terminate records dropped
    assert not _notifs(r)  # job emits nothing for terminated batches


def test_kafka_fanout_writer_routes_by_dest(spark):
    """Drive the foreachBatch fan-out with an injected sink (the Kafka write
    itself needs a broker): out/invalid go to their topics, notification is
    PUT to the notifier in mgmt mode and NOT written to the topic."""
    import json

    from hri_flink_validation_passthrough_spark.model import derive_topics
    from hri_flink_validation_passthrough_spark.streaming.topology import (
        kafka_fanout_writer,
    )

    topics = derive_topics("ingest.t1.events.in")
    rows = [
        ("out", b"k1", b"v1", []),
        ("out", b"k2", b"v2", []),
        ("invalid", b"k3", b'{"failure": "bad"}', []),
        ("notification", b"b1", json.dumps({"id": "b1", "status": "completed"}).encode(), []),
    ]
    batch = spark.createDataFrame(
        rows,
        "dest string, key binary, value binary, "
        "headers array<struct<key:string,value:binary>>",
    )

    written: dict[str, list] = {}
    seen_options: dict[str, dict] = {}

    def sink(part, topic, options):
        seen_options[topic] = options
        written.setdefault(topic, []).extend(
            (bytes(r.key), bytes(r.value)) for r in part.collect()
        )

    # standalone mode: notification topic written directly
    kafka_fanout_writer(topics, "broker:9092", sink=sink)(batch, epoch_id=0)
    assert sorted(written[topics.output]) == [(b"k1", b"v1"), (b"k2", b"v2")]
    assert written[topics.invalid] == [(b"k3", b'{"failure": "bad"}')]
    assert [k for k, _ in written[topics.notification]] == [b"b1"]
    # exact per-topic write options (what the default Kafka sink would use)
    assert seen_options[topics.output] == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": topics.output,
        "includeHeaders": "true",
    }

    # mgmt mode: notifier receives the terminal transition, topic untouched
    written.clear()
    puts = []

    class Notifier:
        def notify(self, body):
            puts.append(body)

    kafka_fanout_writer(topics, "broker:9092", notifier=Notifier(), sink=sink)(
        batch, epoch_id=1
    )
    assert puts == [{"id": "b1", "status": "completed"}]
    assert topics.notification not in written
    assert len(written[topics.output]) == 2


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path):
    """Replaying an epoch (foreachBatch at-least-once) must replace, not
    append: after a double write of epoch 0, totals are unchanged."""
    from hri_flink_validation_passthrough_spark.streaming.topology import (
        idempotent_parquet_sink,
    )

    out = str(tmp_path / "sink")
    sink = idempotent_parquet_sink(out)
    batch0 = spark.range(100).withColumnRenamed("id", "v")
    batch1 = spark.range(100, 150).withColumnRenamed("id", "v")
    sink(batch0, epoch_id=0)
    sink(batch1, epoch_id=1)
    first = spark.read.parquet(out).count()
    assert first == 150
    # crash-replay of epoch 0: same data written again under the same epoch
    sink(batch0, epoch_id=0)
    again = spark.read.parquet(out)
    assert again.count() == 150
    assert again.agg({"v": "sum"}).collect()[0][0] == sum(range(150))


def test_passthrough_route_auto_bounded_replay(spark, monkeypatch):
    """r13: stream_passthrough_route's auto-bound branch (corpus past the
    whole-trigger bar → re-staged as small files + maxFilesPerTrigger=1,
    declared 'source-option') must produce the SAME per-batch summary as
    the single-trigger fast path — the multi-trigger replay exercises
    control rows and data rows landing in DIFFERENT triggers, which the
    keyed state machine must absorb. The bar is shrunk so the sf0.001
    corpus (1000 events) takes the branch: 1000 > 400 → ≤80-row files,
    one file per trigger."""
    from hri_flink_validation_passthrough_spark.streaming import (
        topology,
        windows,
    )

    want = {
        tuple(r)
        for r in windows.QUERIES["stream_passthrough_route"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    monkeypatch.setattr(topology, "TRIGGER_GROUP_WARN_ROWS", 400)
    got = {
        tuple(r)
        for r in windows.QUERIES["stream_passthrough_route"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_passthrough_route_empty_corpus_returns_empty_summary(spark, tmp_path):
    """r13 ADVICE: an empty events table used to declare per_trigger_bound=0,
    which the build-time contract rejects as outside (0, bar] — a degenerate
    corpus must come back as an empty summary, not a ValueError. Staged via
    pyarrow so the parquet physical types (TIMESTAMP(NANOS)) match the
    driver tables byte-for-byte."""
    import pyarrow.parquet as pq

    from hri_flink_validation_passthrough_spark.streaming import windows

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    pq.write_table(
        src.schema.empty_table(), str(tmp_path / "events.parquet")
    )
    out = windows.QUERIES["stream_passthrough_route"].fn(spark, str(tmp_path))
    assert out.count() == 0


def _cold_start_env(spark, tmp_path, ctrl_rows, rec_rows, per_trigger_bound=1000):
    """Start the topology AFTER staging all control/data files: the first
    microbatch ingests everything, so the per-trigger whole-group sort by
    the replay ordering rule (time, controls first, seq) — not file-arrival
    races — defines the processing order. This is how 'mid-trigger' scenarios are staged
    deterministically (r15 adversarial streaming pins)."""
    data_dir = str(tmp_path / "data")
    ctrl_dir = str(tmp_path / "ctrl")
    spark.createDataFrame(ctrl_rows, CTRL_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ctrl_dir)
    spark.createDataFrame(rec_rows, REC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    records = spark.readStream.schema(REC_SCHEMA).parquet(data_dir)
    notifs = spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir)
    routed = build_routed_stream(
        records,
        notifs,
        completion_delay_ms=DELAY_MS,
        per_trigger_bound=per_trigger_bound,
    )
    name = f"routed_{uuid.uuid4().hex[:8]}"
    q = start_memory_query(routed, name, str(tmp_path / "ckpt"))

    def rows():
        return spark.sql(f"SELECT * FROM {name}").collect()

    return q, rows


def test_streaming_empty_control_topic_routes_all_unknown(spark, tmp_path):
    """Adversarial shape the registry sweeps can't stage (r15 stretch,
    spec.rb:264-290): the control topic is EMPTY — no batch ever started,
    notifications never arrive. Every data record must route invalid with
    the reference's unknown-batch body, nothing reaches out, and the job
    emits zero notifications (there is no batch to complete or fail)."""
    recs = [_rec_row(i, bid=(b"batch-A" if i % 2 else b"batch-B"), t=100)
            for i in range(40)]
    q, rows = _cold_start_env(spark, tmp_path, [], recs)
    try:
        t0 = time.time()
        while time.time() - t0 < 30:
            r = rows()
            if len(_dest(r, "invalid")) == 40:
                break
            time.sleep(0.3)
        r = rows()
        inv = _dest(r, "invalid")
        assert len(inv) == 40, f"expected 40 invalid, got {len(inv)}"
        for x in inv:
            assert json.loads(bytes(x.value)) == {
                "failure": "Bad Message - Unknown batchId"
            }
        # the batchId header survives onto the invalid route, per batch
        by_bid = {}
        for x in inv:
            bid = dict((h.key, bytes(h.value)) for h in x.headers)["batchId"]
            by_bid[bid] = by_bid.get(bid, 0) + 1
        assert by_bid == {b"batch-A": 20, b"batch-B": 20}
        assert not _dest(r, "out") and not _notifs(r)
    finally:
        q.stop()


@pytest.mark.slow  # ~25 s: 2,000 single-row keys cross the Python state boundary
def test_garbage_batch_ids_leave_no_state_rows(spark, tmp_path):
    """Unbounded unknown batch ids must not grow the state store: 2,000
    distinct garbage ids over two triggers leave no state row, while the
    two known batches keep theirs. Routing is unchanged — every garbage
    record goes to invalid with the unknown-batch body, the known batches'
    records reach out, and both complete with their own counts."""
    n_garbage, per_batch = 1000, 5

    def garbage(lo):
        return [_rec_row(i, bid=f"garbage-{i}".encode(), t=100)
                for i in range(lo, lo + n_garbage)]

    def known(lo, t):
        return [_rec_row(i, bid=bid, t=t)
                for bid in (b"batch-A", b"batch-B")
                for i in range(lo, lo + per_batch)]

    ctrl = [_notif_row("started", bid=b, t=0, seq=k)
            for k, b in enumerate(("batch-A", "batch-B"))]
    # trigger 1: both batches start; 1,000 garbage ids + 5 records each
    q, rows = _cold_start_env(
        spark, tmp_path, ctrl, garbage(0) + known(10_000, 100),
        per_trigger_bound=4 * n_garbage,
    )
    try:
        def wait_for(cond, msg):
            t0 = time.time()
            while time.time() - t0 < 60:
                r = rows()
                if cond(r):
                    return r
                time.sleep(0.3)
            pytest.fail(f"timed out waiting for: {msg}")

        wait_for(lambda r: len(_dest(r, "invalid")) == n_garbage,
                 "first garbage wave on invalid")
        # trigger 2+: 1,000 new garbage ids, 5 more records each, and the
        # sendCompleted controls
        spark.createDataFrame(
            garbage(n_garbage) + known(20_000, 500), REC_SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "data"))
        spark.createDataFrame(
            [_notif_row("sendCompleted", bid=b, expected=2 * per_batch,
                        t=900, seq=2 + k)
             for k, b in enumerate(("batch-A", "batch-B"))],
            CTRL_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "ctrl"))
        r = wait_for(lambda r: len(_notifs(r)) == 2, "both batches complete")

        inv = _dest(r, "invalid")
        assert len(inv) == 2 * n_garbage
        assert {bytes(x.key) for x in inv} == {
            str(i).encode() for i in range(2 * n_garbage)
        }
        for x in inv:
            assert json.loads(bytes(x.value)) == {
                "failure": "Bad Message - Unknown batchId"
            }
        out = _dest(r, "out")
        assert sorted(int(bytes(x.key)) for x in out) == sorted(
            list(range(10_000, 10_000 + per_batch)) * 2
            + list(range(20_000, 20_000 + per_batch)) * 2
        )
        n = {x["id"]: x for x in _notifs(r)}
        assert set(n) == {"batch-A", "batch-B"}
        assert all(x["status"] == "completed" for x in n.values())
        assert all(x["recordCount"] == 2 * per_batch for x in n.values())

        p = q.lastProgress
        assert p is not None and p.stateOperators, "no stateful progress"
        assert p.stateOperators[0].numRowsTotal == 2
    finally:
        q.stop()


def test_streaming_terminate_mid_trigger_splits_by_event_order(
    spark, tmp_path
):
    """Adversarial shape (r15 stretch, spec.rb:229-262): `terminated`
    lands in the SAME microbatch as data records on both sides of it. The
    whole-group event-time sort must route exactly the records ordered
    BEFORE the terminate to out, drop the ones after, and emit no
    notification — the routing table, not mere survival."""
    ctrl = [
        _notif_row("started", t=0, seq=0),
        _notif_row("terminated", t=545, seq=1),
    ]
    # records at t=500,510,...,590: five strictly before 545, five after
    recs = [_rec_row(i, t=500 + 10 * i - i) for i in range(10)]
    # (_rec_row adds i to t: effective time_ms = 500+10*i; keep it explicit)
    q, rows = _cold_start_env(spark, tmp_path, ctrl, recs)
    try:
        t0 = time.time()
        while time.time() - t0 < 30:
            r = rows()
            if len(_dest(r, "out")) >= 5:
                break
            time.sleep(0.3)
        time.sleep(3.0)  # settle: any late mis-routed rows would appear
        r = rows()
        out_keys = sorted(int(bytes(x.key)) for x in _dest(r, "out"))
        assert out_keys == [0, 1, 2, 3, 4], (
            f"pre-terminate records mis-routed: {out_keys}"
        )
        assert not _dest(r, "invalid")  # dropped, not invalidated
        assert not _notifs(r)  # terminated batches emit nothing
    finally:
        q.stop()


def test_streaming_data_before_started_at_volume(spark, stream_env):
    """Adversarial shape (r15 stretch): a VOLUME of records for a batch
    arrives before its `started` notification. All of them route invalid
    as unknown-batch and are NOT counted; once the batch starts, its real
    records flow and the completion count covers only them."""
    q, rows, wait_for, write_ctrl, write_recs = stream_env

    write_recs([_rec_row(i, bid=b"batch-pre", t=50) for i in range(200)])
    r = wait_for(
        lambda r: len(_dest(r, "invalid")) == 200,
        timeout=45,
        msg="200 pre-started records on invalid",
    )
    for x in _dest(r, "invalid"):
        assert json.loads(bytes(x.value)) == {
            "failure": "Bad Message - Unknown batchId"
        }
    assert not _dest(r, "out")

    write_ctrl([_notif_row("started", bid="batch-pre", t=300, seq=5)])
    time.sleep(1.5)  # let the control absorb before data follows
    write_recs([_rec_row(i, bid=b"batch-pre", t=400) for i in range(25)])
    wait_for(lambda r: len(_dest(r, "out")) == 25, msg="25 routed post-start")
    write_ctrl(
        [_notif_row("sendCompleted", bid="batch-pre", expected=25, t=600, seq=6)]
    )
    r = wait_for(lambda r: _notifs(r), msg="completion for batch-pre")
    n = _notifs(r)
    assert [x["status"] for x in n] == ["completed"]
    # the 200 unknown-batch rejects are NOT in the batch's record count
    assert n[0]["recordCount"] == 25 and n[0]["expectedRecordCount"] == 25


def test_routed_stream_state_partitions_match_cores(spark, tmp_path):
    """A fresh routed stream on a build_session() session runs as many
    state partitions as the session has cores: the stateful stage runs in
    one wave. A floor above the cores would run two waves of Python
    tasks (each a data pass plus a timer pass) per trigger."""
    q, _ = _cold_start_env(
        spark, tmp_path, [_notif_row("started", t=0, seq=0)],
        [_rec_row(i) for i in range(5)],
    )
    try:
        t0 = time.time()
        while time.time() - t0 < 30:
            p = q.lastProgress
            if p is not None and p.stateOperators:
                break
            time.sleep(0.3)
        assert p is not None and p.stateOperators, "no stateful progress"
        assert (
            p.stateOperators[0].numShufflePartitions
            == spark.sparkContext.defaultParallelism
        )
    finally:
        q.stop()


class _FakeConf(dict):
    def set(self, k, v):
        self[k] = v


def test_prepare_sizes_shuffle_partitions_to_cores():
    """prepare() sets shuffle partitions (a stream's state partitions) to
    the session's cores, with no floor: a 4-core session gets 4, not 8.
    Batch shuffles keep the floor through AQE's initial partition count,
    which streams do not read; at >= 8 cores that count is left alone."""
    from types import SimpleNamespace

    from hri_flink_validation_passthrough_spark.session import prepare

    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    for cores, batch in ((4, "8"), (8, None), (16, None)):
        fake = SimpleNamespace(
            conf=_FakeConf(), sparkContext=SimpleNamespace(defaultParallelism=cores)
        )
        prepare(fake)
        assert fake.conf["spark.sql.shuffle.partitions"] == str(cores)
        assert fake.conf.get(initial) == batch


def test_prepare_picks_filesystem_checkpoint_manager_on_local_masters():
    """A local master checkpoints through Spark's FileSystem-based manager
    (no readlink/chmod forks per rename); cluster masters keep Spark's
    default; a class the caller set is kept; a second prepare() is a no-op."""
    from types import SimpleNamespace

    from hri_flink_validation_passthrough_spark.session import (
        CHECKPOINT_MANAGER_KEY,
        LOCAL_CHECKPOINT_MANAGER,
        prepare,
    )

    def fake(master, conf=()):
        return SimpleNamespace(
            conf=_FakeConf(conf),
            sparkContext=SimpleNamespace(defaultParallelism=4, master=master),
        )

    assert LOCAL_CHECKPOINT_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    for master in ("local[4]", "local[*]", "local"):
        s = prepare(fake(master))
        assert s.conf[CHECKPOINT_MANAGER_KEY] == LOCAL_CHECKPOINT_MANAGER
        assert prepare(s).conf[CHECKPOINT_MANAGER_KEY] == LOCAL_CHECKPOINT_MANAGER
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert CHECKPOINT_MANAGER_KEY not in prepare(fake(master)).conf
    mine = "com.example.MyCheckpointFileManager"
    s = prepare(fake("local[4]", {CHECKPOINT_MANAGER_KEY: mine}))
    assert s.conf[CHECKPOINT_MANAGER_KEY] == mine


def test_streaming_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """The fixture session's streams resolve the FileSystem-based manager
    (the class StreamExecution gets from CheckpointFileManager.create)."""
    jvm = spark._jvm
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    m = cfm.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert m.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_routed_stream_state_keeps_both_checksum_files(spark, tmp_path):
    """Under the FileSystem-based manager every state delta still gets its
    Hadoop ``.N.delta.crc`` and Spark's ``N.delta.crc`` checksum file: the
    manager swap drops no integrity check."""
    import glob
    import os

    q, rows = _cold_start_env(
        spark, tmp_path, [_notif_row("started", t=0, seq=0)],
        [_rec_row(i) for i in range(5)],
    )
    try:
        t0 = time.time()
        while time.time() - t0 < 30 and len(_dest(rows(), "out")) < 5:
            time.sleep(0.3)
        assert len(_dest(rows(), "out")) == 5
    finally:
        q.stop()
    names = {
        name
        for part in glob.glob(str(tmp_path / "ckpt" / "state" / "0" / "*"))
        for name in os.listdir(part)
    }
    assert {"1.delta", ".1.delta.crc", "1.delta.crc"} <= names, sorted(names)


def test_stream_route_scratch_dir_lives_under_the_spark_files_root(
    spark, tmp_path
):
    """stream_passthrough_route stages its replay inputs, and the runner its
    checkpoint, in dirs under the SparkFiles root, which Spark deletes on
    ``SparkContext.stop()``: no run leaves one behind in the system temp
    dir."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq
    from pyspark import SparkFiles

    from hri_flink_validation_passthrough_spark.streaming import windows
    from tests.conftest import SF_SMALL

    src = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    pq.write_table(src.schema.empty_table(), str(tmp_path / "events.parquet"))
    patterns = ("hri_stream_route_*", "hri_route_*")
    root = SparkFiles.getRootDirectory()

    def dirs(base):
        return {pat: set(glob.glob(os.path.join(base, pat))) for pat in patterns}

    before_tmp, before_root = dirs(tempfile.gettempdir()), dirs(root)
    windows.QUERIES["stream_passthrough_route"].fn(spark, str(tmp_path)).count()
    assert dirs(tempfile.gettempdir()) == before_tmp
    after_root = dirs(root)
    assert {p: len(after_root[p] - before_root[p]) for p in patterns} == {
        p: 1 for p in patterns
    }


# ---------------------------------------------------------------------------
# The finite-stream runner (windows._run_to_table / _run_foreach)
# ---------------------------------------------------------------------------
def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _five_row_stream(spark, tmp_path):
    path = str(tmp_path / "src")
    spark.range(5).write.parquet(path)
    return spark.readStream.schema("id long").parquet(path)


def test_runner_returns_the_sink_and_leaves_no_view(spark, tmp_path):
    """Both completion modes return the detached sink table and drop the
    sink view."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        _run_to_table,
    )

    stream = _five_row_stream(spark, tmp_path)
    views = _temp_views(spark)
    done = _run_to_table(stream, "okavail", output_mode="append")
    polled = _run_to_table(
        stream,
        "okuntil",
        output_mode="append",
        until=lambda sink: sink.count() >= 5,
        result=lambda sink: sink.selectExpr("sum(id) AS s"),
    )
    assert sorted(r.id for r in done.collect()) == [0, 1, 2, 3, 4]
    assert polled.collect()[0].s == 10
    assert _temp_views(spark) == views


def test_runner_surfaces_a_dead_query_error_fast(spark, tmp_path):
    """A query that dies can never satisfy ``until``: its own error must
    surface at once, not after the 300 s stall limit."""
    from pyspark.errors import StreamingQueryException

    from hri_flink_validation_passthrough_spark.streaming.windows import (
        _run_to_table,
    )

    def explode(batches):
        for _ in batches:
            raise ValueError("runner-dead-query-probe")
        yield from ()

    stream = _five_row_stream(spark, tmp_path).mapInPandas(explode, "id long")
    views = _temp_views(spark)
    t0 = time.time()
    with pytest.raises(StreamingQueryException, match="runner-dead-query-probe"):
        _run_to_table(
            stream,
            "deadq",
            output_mode="append",
            until=lambda sink: sink.count() >= 5,
        )
    assert time.time() - t0 < 30
    assert _temp_views(spark) == views


def test_runner_raises_timeout_naming_prefix_and_rows(spark, tmp_path, monkeypatch):
    """A stream whose ``until`` never holds raises ``TimeoutError`` with the
    prefix and the sink row count, instead of returning a partial sink."""
    import re

    from hri_flink_validation_passthrough_spark.streaming import windows

    monkeypatch.setattr(windows, "FINITE_STREAM_TIMEOUT_S", 3)
    seen = [0]

    def never(sink):
        seen[0] = sink.count()
        return seen[0] > 5

    views = _temp_views(spark)
    t0 = time.time()
    with pytest.raises(TimeoutError) as err:
        windows._run_to_table(
            _five_row_stream(spark, tmp_path),
            "stallq",
            output_mode="append",
            until=never,
        )
    assert time.time() - t0 < 30
    m = re.search(r"^stallq: .* with (\d+) sink rows$", str(err.value))
    assert m, str(err.value)
    assert seen[0] <= int(m.group(1)) <= 5
    assert _temp_views(spark) == views


def test_write_stream_lives_only_in_the_runner():
    """The harness modules start streams only through the runner: every
    ``.writeStream`` and ``start_memory_query`` in them lies inside
    ``_run_to_table`` or ``_run_foreach``."""
    import ast
    import os

    import hri_flink_validation_passthrough_spark as pkg

    root = os.path.dirname(pkg.__file__)
    runner = {"_run_to_table", "_run_foreach"}
    stray = []
    for rel in ("streaming/windows.py", "streaming/state_ttl.py", "sources/pyds.py"):
        tree = ast.parse(open(os.path.join(root, rel)).read())

        def visit(node, owner):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = owner or (node.name if node.name in runner else None)
            hit = (
                isinstance(node, ast.Attribute) and node.attr == "writeStream"
            ) or (isinstance(node, ast.Name) and node.id == "start_memory_query")
            if hit and owner is None:
                stray.append(f"{rel}:{node.lineno}")
            for child in ast.iter_child_nodes(node):
                visit(child, owner)

        visit(tree, None)
    assert stray == []
