"""Chaos-parity test (SURVEY.md §2C.6 / nightly HA spec): kill the streaming
query mid-batch and restart from the checkpoint; the file sink's commit log
must show every record exactly once and the batch must still complete."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import types as T

from hri_flink_validation_passthrough_spark.model import (
    HRI_RECORD_SCHEMA,
    NOTIFICATION_SCHEMA,
)
from hri_flink_validation_passthrough_spark.streaming.monitor import (
    StreamingHealthMonitor,
)
from hri_flink_validation_passthrough_spark.streaming.topology import (
    build_routed_stream,
)

DELAY_MS = 800

CTRL_SCHEMA = T.StructType(
    list(NOTIFICATION_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)
REC_SCHEMA = T.StructType(
    list(HRI_RECORD_SCHEMA.fields)
    + [T.StructField("time_ms", T.LongType()), T.StructField("seq", T.LongType())]
)


def _notif_row(status, expected=None, t=0, seq=0):
    base = {f.name: None for f in NOTIFICATION_SCHEMA.fields}
    base.update(id="batch-42", status=status, expectedRecordCount=expected,
                invalidThreshold=-1)
    return tuple(base[f.name] for f in NOTIFICATION_SCHEMA.fields) + (t, seq)


def _rec_row(i):
    return (str(i).encode(), b"v" + str(i).encode(),
            [("batchId", b"batch-42")], "t", 1, i, 100 + i, i)


def test_health_monitor_catches_failing_query(spark, tmp_path):
    """flink_job.rb:51-54 parity: the monitor must surface a root exception
    from a dying job (there: polled from the REST API; here: pushed via
    onQueryTerminated)."""
    from pyspark.sql import functions as F

    mon = StreamingHealthMonitor()
    spark.streams.addListener(mon)
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)

    def boom(v):  # defined inside the test: module-level fns don't unpickle
        raise ValueError("intentional failure")

    boom_udf = F.udf(boom, "long")
    try:
        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .select(boom_udf("id").alias("x"))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination(60)
            raise RuntimeError("query should have failed")
        deadline = time.time() + 20
        while time.time() < deadline and not mon.failed:
            time.sleep(0.3)
        assert mon.failed
        with pytest.raises(RuntimeError, match="failed"):
            mon.assert_healthy()
        assert not mon.clean_stop(q.runId)
    finally:
        spark.streams.removeListener(mon)


def _restartable_route(spark, tmp_path):
    """(write_ctrl, write_recs, start_query, wait_for) over one routed
    stream whose parquet sink and checkpoint survive a stop/start cycle."""
    data_dir, ctrl_dir = str(tmp_path / "d"), str(tmp_path / "c")
    ckpt, out_dir = str(tmp_path / "k"), str(tmp_path / "out")

    def write_ctrl(rows):
        spark.createDataFrame(rows, CTRL_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(ctrl_dir)

    def write_recs(rows):
        spark.createDataFrame(rows, REC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    def start_query():
        records = spark.readStream.schema(REC_SCHEMA).parquet(data_dir)
        notifs = spark.readStream.schema(CTRL_SCHEMA).parquet(ctrl_dir)
        routed = build_routed_stream(
            records,
            notifs,
            completion_delay_ms=DELAY_MS,
            per_trigger_bound=1000,  # staged chaos scenarios are tiny
        )
        return (
            routed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def sink_rows():
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []

    def wait_for(cond, timeout=40.0, msg=""):
        t0 = time.time()
        while time.time() - t0 < timeout:
            r = sink_rows()
            if cond(r):
                return r
            time.sleep(0.4)
        pytest.fail(f"timeout: {msg}; sink has {len(sink_rows())} rows")

    return write_ctrl, write_recs, start_query, wait_for


def _assert_routed_once(rows, n):
    """Records 0..n-1 reached `out` exactly once and one `completed`
    notification counts all n."""
    out = [r for r in rows if r.dest == "out"]
    keys = sorted(bytes(r.key).decode() for r in out)
    assert keys == sorted(str(i) for i in range(n)), "loss or duplication"
    notifs = [json.loads(bytes(r.value)) for r in rows if r.dest == "notification"]
    assert [x["status"] for x in notifs] == ["completed"]
    assert notifs[0]["recordCount"] == n


def test_restart_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    write_ctrl, write_recs, start_query, wait_for = _restartable_route(
        spark, tmp_path
    )

    # health monitor — parity with the reference's Flink REST monitor thread
    # (flink_job.rb:47-66): fail on root exceptions, observe checkpoint
    # (microbatch) progress across the kill/restart cycle
    mon = StreamingHealthMonitor()
    spark.streams.addListener(mon)

    write_ctrl([_notif_row("started", t=0, seq=0)])
    write_recs([_rec_row(i) for i in range(8)])
    q = start_query()
    wait_for(lambda r: len([x for x in r if x.dest == "out"]) >= 8,
             msg="first 8 records committed")
    q.stop()  # chaos: kill the job mid-stream

    # more records + sendCompleted arrive while the job is down
    write_recs([_rec_row(i) for i in range(8, 15)])
    write_ctrl([_notif_row("sendCompleted", expected=15, t=300, seq=1)])

    q2 = start_query()  # restart from the same checkpoint
    rows = wait_for(
        lambda r: len([x for x in r if x.dest == "out"]) >= 15
        and [x for x in r if x.dest == "notification"],
        msg="all 15 records + terminal notification after restart",
    )
    q2.stop()

    # the monitor saw committed microbatches for both incarnations, no root
    # exceptions, and clean terminations (flink_job.rb monitor semantics)
    try:
        deadline = time.time() + 20
        while time.time() < deadline and not (
            mon.clean_stop(q.runId) and mon.clean_stop(q2.runId)
        ):
            time.sleep(0.3)  # termination events are async on the event bus
        mon.assert_healthy()
        assert not mon.failed
        assert mon.progress_count(q.runId) > 0
        assert mon.progress_count(q2.runId) > 0
        assert mon.clean_stop(q.runId) and mon.clean_stop(q2.runId)
    finally:
        spark.streams.removeListener(mon)

    _assert_routed_once(rows, 15)


@pytest.mark.slow  # ~15 s: two incarnations of the routed stream
def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    """A checkpoint written under 8 shuffle partitions restarts on a session
    sized to 4: the state-store count is fixed at the first checkpoint, so
    the restarted query keeps 8 stores and routes with no loss and no
    duplicates. Pins that deployments checkpointed before shuffle
    partitions were sized to cores still restart."""
    write_ctrl, write_recs, start_query, wait_for = _restartable_route(
        spark, tmp_path
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        write_ctrl([_notif_row("started", t=0, seq=0)])
        write_recs([_rec_row(i) for i in range(8)])
        q = start_query()
        wait_for(lambda r: len([x for x in r if x.dest == "out"]) >= 8,
                 msg="first 8 records committed")
        q.stop()

        spark.conf.set(key, "4")
        write_recs([_rec_row(i) for i in range(8, 15)])
        write_ctrl([_notif_row("sendCompleted", expected=15, t=300, seq=1)])
        q2 = start_query()
        try:
            rows = wait_for(
                lambda r: len([x for x in r if x.dest == "out"]) >= 15
                and [x for x in r if x.dest == "notification"],
                msg="all 15 records + terminal notification after restart",
            )
            parts = {
                op.numShufflePartitions
                for p in q2.recentProgress
                for op in p.stateOperators
            }
        finally:
            q2.stop()
    finally:
        spark.conf.set(key, prev)

    assert parts == {8}, f"restarted query ran {parts} state partitions"
    _assert_routed_once(rows, 15)


@pytest.mark.slow  # 14-30 s: two incarnations of the routed stream
def test_restart_moves_a_filecontext_checkpoint_to_the_filesystem_manager(
    spark, tmp_path
):
    """A checkpoint written by Spark's default FileContext-based manager
    (what every deployment before the local FileSystem-based manager
    checkpointed with) restarts under the FileSystem-based one and routes
    with no loss, no duplicates and one full-count completion."""
    from hri_flink_validation_passthrough_spark.session import (
        CHECKPOINT_MANAGER_KEY,
        LOCAL_CHECKPOINT_MANAGER,
    )

    write_ctrl, write_recs, start_query, wait_for = _restartable_route(
        spark, tmp_path
    )
    try:
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        write_ctrl([_notif_row("started", t=0, seq=0)])
        write_recs([_rec_row(i) for i in range(8)])
        q = start_query()
        wait_for(lambda r: len([x for x in r if x.dest == "out"]) >= 8,
                 msg="first 8 records committed")
        q.stop()
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)

    write_recs([_rec_row(i) for i in range(8, 15)])
    write_ctrl([_notif_row("sendCompleted", expected=15, t=300, seq=1)])
    q2 = start_query()
    try:
        rows = wait_for(
            lambda r: len([x for x in r if x.dest == "out"]) >= 15
            and [x for x in r if x.dest == "notification"],
            msg="all 15 records + terminal notification after restart",
        )
    finally:
        q2.stop()
    _assert_routed_once(rows, 15)


def test_cdc_merger_replayed_epoch_is_idempotent(spark, tmp_path):
    """A microbatch replayed under the same epoch_id must not re-apply: the
    additive n_updates column would double (replace columns hide the bug)."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        make_cdc_merger,
        recover_cdc_state,
    )

    base = str(tmp_path / "cdc")
    import os

    os.makedirs(base)
    state = {"cur": None, "ver": 0}
    merge = make_cdc_merger(spark, base, state)

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, value double, ts timestamp"
        )

    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    merge(batch([(1, 1, "a", 1.0, t), (1, 2, "b", 2.0, t)]), 0)
    merge(batch([(1, 3, "c", 3.0, t), (2, 4, "d", 4.0, t)]), 1)

    def snapshot():
        return {
            r["user_id"]: (r["event_type"], r["n_updates"])
            for r in spark.read.parquet(str(state["cur"])).collect()
        }

    want = {1: ("c", 3), 2: ("d", 1)}
    assert snapshot() == want

    # replay epoch 1 (failure recovery resends the same epoch id): no-op
    merge(batch([(1, 3, "c", 3.0, t), (2, 4, "d", 4.0, t)]), 1)
    assert snapshot() == want
    assert state["ver"] == 2  # no new version was committed

    # a restarted job recovers (cur, ver, last_epoch) from the _EPOCH
    # markers and is immune to the same replay
    rec = recover_cdc_state(base)
    assert rec["ver"] == 2 and rec["last_epoch"] == 1
    merge2 = make_cdc_merger(spark, base, rec)
    merge2(batch([(2, 5, "e", 5.0, t)]), 1)  # replay again -> skipped
    assert snapshot() == want
    merge2(batch([(2, 5, "e", 5.0, t)]), 2)  # genuinely new epoch applies
    assert {
        r["user_id"]: (r["event_type"], r["n_updates"])
        for r in spark.read.parquet(str(rec["cur"])).collect()
    } == {1: ("c", 3), 2: ("e", 2)}


def test_cdc_epoch_guard_resets_on_new_checkpoint_identity(spark, tmp_path):
    """Epoch ids are monotone only within ONE checkpoint lifetime — they
    restart at 0 under a fresh checkpointLocation. Recovering table state
    and then pointing the stream at a new checkpoint must NOT swallow the
    new run's microbatches until epoch_id exceeds the recovered last_epoch;
    the run-identity line in the _EPOCH marker resets the guard."""
    import datetime as dt
    import os

    from hri_flink_validation_passthrough_spark.streaming.windows import (
        make_cdc_merger,
        recover_cdc_state,
    )

    base = str(tmp_path / "cdc")
    os.makedirs(base)
    state = {"cur": None, "ver": 0}
    merge = make_cdc_merger(spark, base, state, run_id="ckpt-old")

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "user_id long, event_id long, event_type string, value double, ts timestamp",
        )

    t = dt.datetime(2024, 1, 1)
    merge(batch([(1, 1, "a", 1.0, t)]), 0)
    merge(batch([(1, 2, "b", 2.0, t)]), 1)

    rec = recover_cdc_state(base)
    assert rec["run_id"] == "ckpt-old" and rec["last_epoch"] == 1

    # restart against a FRESH checkpoint: the engine reissues epoch 0
    merge2 = make_cdc_merger(spark, base, rec, run_id="ckpt-new")
    merge2(batch([(1, 3, "c", 3.0, t)]), 0)  # must apply, not no-op

    def snapshot():
        return {
            r["user_id"]: (r["event_type"], r["n_updates"])
            for r in spark.read.parquet(str(rec["cur"])).collect()
        }

    assert snapshot() == {1: ("c", 3)}
    # same-run replay still no-ops
    merge2(batch([(1, 3, "c", 3.0, t)]), 0)
    assert snapshot() == {1: ("c", 3)} and rec["ver"] == 3
    # and the new identity is now the committed one
    assert recover_cdc_state(base)["run_id"] == "ckpt-new"


def test_cdc_epoch_guard_resets_on_legacy_marker_without_run_id(spark, tmp_path):
    """ADVICE r5: a legacy single-line _EPOCH marker recovers run_id=None —
    identity unknowable. Starting a fresh checkpoint against such a table
    must RESET the guard (treat as new lifetime), not trust the stale epoch
    and silently no-op microbatches until epoch_id catches up."""
    import datetime as dt
    import os

    from hri_flink_validation_passthrough_spark.streaming.windows import (
        make_cdc_merger,
    )

    base = str(tmp_path / "cdc")
    os.makedirs(base)
    t = dt.datetime(2024, 1, 1)

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "user_id long, event_id long, event_type string, value double, ts timestamp",
        )

    # seed a table so recovery has something to point at
    seed_state = {"cur": None, "ver": 0}
    seed = make_cdc_merger(spark, base, seed_state, run_id="ckpt-old")
    seed(batch([(1, 1, "a", 1.0, t)]), 0)
    seed(batch([(1, 2, "b", 2.0, t)]), 1)

    # legacy recovery: epoch known, identity NOT (old single-line marker)
    legacy = {
        "cur": seed_state["cur"],
        "ver": seed_state["ver"],
        "last_epoch": 1,
        "run_id": None,
    }
    merge = make_cdc_merger(spark, base, legacy, run_id="ckpt-new")
    merge(batch([(1, 3, "c", 3.0, t)]), 0)  # fresh checkpoint: must apply
    assert {
        r["user_id"]: (r["event_type"], r["n_updates"])
        for r in spark.read.parquet(str(legacy["cur"])).collect()
    } == {1: ("c", 3)}
