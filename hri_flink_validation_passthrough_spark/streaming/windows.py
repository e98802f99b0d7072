"""Streaming window operators (SURVEY.md §2B 'streaming windows'): tumbling,
sliding, and session windows executed as REAL Structured Streaming queries.

Each query boots a ``readStream`` over the parquet table and runs it to
completion through one finite-stream runner, so the driver's oracle compare
exercises the actual streaming engine (state store, window assignment,
output modes), not a batch rewrite. ``_run_to_table`` collects the stream
into a memory sink and returns the detached sink table; it completes in one
of two ways:

- without ``until``: ``Trigger.AvailableNow`` replays everything staged and
  the query terminates on its own;
- with ``until(sink_df) -> bool``: the default micro-batch trigger runs
  until the predicate holds on the sink. This is the mode for streams whose
  output arrives in later no-data batches (processing-time timers) or whose
  source yields one step at a time. The wait raises the query's own error
  as soon as it dies and ``TimeoutError`` after ``FINITE_STREAM_TIMEOUT_S``.

``_run_foreach`` is its ``foreachBatch`` twin (AvailableNow, caller-owned
checkpoint so a crashed run can resume). These two are the only code in the
harness that starts, waits on and stops a finite stream.

``complete`` output mode is used where closed AND in-flight windows must
emit without the watermark advancing past the last event (AvailableNow
replays a finite table; in production these run in append mode with
``withWatermark``)."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import iofs
from ..operators.text import HLL_ORACLE, QSK_BIN_CENTS, QSK_ORACLE, QSK_QS
from ..plans import QuerySpec, register
from ..session import (
    load_table,
    normalize_timestamps,
    raw_schema,
    scoped_conf,
    session_memo,
)
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}

# Cap on state-store partitions for these finite-replay harness queries:
# min(conf, 8), so at <= 8 cores they keep session.prepare's one-wave rule
# (partitions = cores). Every microbatch pays checkpoint I/O per state
# partition, even empty ones: an untuned driver session (200 partitions)
# pays ~25× the I/O the data needs, and bench.py measured 32 slower than 8
# for the routed replay. The count is fixed into the checkpoint at query
# start, so the cap only affects the freshly started query.
_STATE_PARTITIONS = 8


def _pinned_state(spark: SparkSession):
    # Mutates the SESSION-global shuffle-partition conf around query start
    # and restores it after: safe for this serial harness, but a second
    # query started concurrently on the same session would observe the
    # pinned value (round-3 ADVICE). Concurrent runners should set the conf
    # per-query (own session or writeStream-time sizing) instead.
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(min(cur, _STATE_PARTITIONS))}
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file streaming source wants a directory: point at sf_dir and
    # glob-filter down to the events table
    df = (
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_timestamps(df)


# No finite harness stream waits longer than this for its ``until``.
FINITE_STREAM_TIMEOUT_S = 300
_POLL_S = 0.3


def _run_to_table(
    stream: DataFrame,
    prefix: str,
    output_mode: str = "complete",
    until=None,
    result=None,
) -> DataFrame:
    """Run a finite stream into a memory sink and return ``result(sink)``
    (the sink itself by default), cut from the sink so the view can go.

    Each memory sink pins its rows in the driver catalog for the session
    lifetime, so the sink view is dropped and the query stopped in
    ``finally``, on error too. The checkpoint lives under the SparkFiles
    root, which Spark deletes on ``SparkContext.stop()``; deleting it here
    raced the state store's async maintenance thread
    (``failedToCommitStateFileError``)."""
    from .topology import start_memory_query

    spark = stream.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = f"{_app_scoped_dir(f'hri_{prefix}_')}/ckpt"
    with _pinned_state(spark):
        q = start_memory_query(
            stream, name, ckpt, available_now=until is None, output_mode=output_mode
        )
    try:
        if until is None:
            q.awaitTermination()
        else:
            deadline = time.monotonic() + FINITE_STREAM_TIMEOUT_S
            while not until(spark.table(name)):
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"{prefix}: stream stalled for {FINITE_STREAM_TIMEOUT_S} s "
                        f"with {spark.table(name).count()} sink rows"
                    )
                # returns early, raising the query's own error, if it dies
                q.awaitTermination(_POLL_S)
        sink = spark.table(name)
        return (result(sink) if result else sink).transform(cut())
    finally:
        spark.catalog.dropTempView(name)
        q.stop()


def _run_foreach(stream: DataFrame, fn, checkpoint: str) -> None:
    """Run a finite stream through ``foreachBatch(fn)`` with AvailableNow.
    The caller owns *checkpoint*: a rerun on the same path resumes."""
    with _pinned_state(stream.sparkSession):
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()


@register(
    QUERIES,
    "stream_tumbling_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY hour_ts, event_type
    """,
    doc="Tumbling 1h windows through the real streaming engine "
    "(groupBy(window(ts,'1 hour')) + AvailableNow), oracle = batch SQL.",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_table(agg, "tumbling")


@register(
    QUERIES,
    "stream_sliding_2h_1h",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM w
    GROUP BY window_start, event_type
    """,
    doc="Sliding windows (2h size, 1h slide): every event lands in two "
    "windows; oracle materializes the same assignment via UNION ALL.",
)
def stream_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_table(agg, "sliding")


@register(
    QUERIES,
    "stream_dedup_exact",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming exact dedup: a duplicated feed (stream unioned with "
    "itself) deduped on event_id with keyed state, then counted. Production "
    "uses dropDuplicatesWithinWatermark to bound the state; the unbounded "
    "form is used here for a deterministic oracle over a finite replay.",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    doubled = e.unionByName(_events_stream(spark, sf_dir))  # duplicate feed
    deduped = doubled.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    return _run_to_table(agg, "dedupstream")


@register(
    QUERIES,
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    doc="The PRODUCTION streaming dedup: dropDuplicatesWithinWatermark — "
    "keyed dedup state is EVICTED once the watermark passes, so state size "
    "is O(keys per watermark window), not O(all keys ever) like plain "
    "dropDuplicates. The delay here is sized to EXCEED the finite replay's "
    "whole event-time span: if availableNow splits the replay across "
    "microbatches, an advancing watermark could otherwise evict state "
    "mid-replay and silently drop or re-emit rows vs the batch oracle "
    "(round-3 ADVICE). Production dials the delay to its lateness SLA; the "
    "operator shape — the only dedup whose state is bounded — is unchanged.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    doubled = e.unionByName(_events_stream(spark, sf_dir))  # duplicate feed
    deduped = doubled.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # dedup emits first-seen rows immediately (append mode, no agg wait);
    # count per type on the sink side of the memory table would need a
    # second query, so aggregate with a windowless groupBy is not allowed
    # in append mode — emit the deduped rows and aggregate in the returned
    # batch DataFrame instead.
    rows = _run_to_table(
        deduped.select("event_id", "event_type"), "dedupwm", output_mode="append"
    )
    return rows.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


@register(
    QUERIES,
    "stream_static_join_nation",
    oracle="""
    SELECT n_name,
           count(*)             AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    JOIN customer ON c_custkey = user_id
    JOIN nation   ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    doc="Stream-static join: the event stream enriched against the static "
    "customer/nation dims (broadcast per microbatch) — the streaming form "
    "of dimension enrichment.",
)
def stream_static_join_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    spark = e.sparkSession
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = e.join(F.broadcast(c), e.user_id == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _run_to_table(agg, "streamstatic")


@register(
    QUERIES,
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
    doc="session_window(ts, 30 min) per user through the streaming engine; "
    "oracle = the lag-based sessionization (identical gap semantics).",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    return _run_to_table(agg, "session")


@register(
    QUERIES,
    "stream_stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id  AS user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream inner interval join (clicks x purchases by the same "
    "user within 30 min) through the real streaming engine: both sides are "
    "readStream sources with 1h watermarks, so the join state is bounded "
    "(rows age out once the opposite watermark passes the interval) — the "
    "attribution-join shape. Inner-join output in append mode is exactly "
    "the matched pairs, so the batch SQL oracle applies.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("click_ts_t"),
        )
        .withWatermark("click_ts_t", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts_t"),
        )
        .withWatermark("purchase_ts_t", "1 hour")
    )
    joined = clicks.join(
        purchases,
        on=[
            F.col("user_id") == F.col("p_user_id"),
            F.col("purchase_ts_t") >= F.col("click_ts_t"),
            F.col("purchase_ts_t") <= F.col("click_ts_t") + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.date_format("click_ts_t", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
    return _run_to_table(joined, "ssjoin", output_mode="append")


# Far-future sentinel offset: pushes the final watermark hours past every
# real row's outer-join eviction horizon, so ALL unmatched left rows are
# flushed deterministically before the AvailableNow query terminates.
_SENTINEL_OFFSET_H = 10
_WM = "1 hour"


def _outer_join_input_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events + 2 far-future sentinel rows (user_id -1, one per
    join side) into a temp dir the file stream source replays."""
    return session_memo(spark, sf_dir, "events.parquet", _write_ssjoin_input)


def _app_scoped_dir(prefix: str) -> str:
    """A fresh dir under the SparkContext's SparkFiles root, which Spark
    deletes on ``SparkContext.stop()``: the dir lives exactly as long as
    the applicationId in the memo key that holds its path."""
    import tempfile

    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def _write_ssjoin_input(spark: SparkSession, sf_dir: str) -> str:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    # The two sentinels are 2h apart so they can never pair with each other
    # (30-min join window), and user_id -1 never pairs with real rows; the
    # unmatched sentinel click's own horizon stays ABOVE the final watermark,
    # so neither sentinel ever reaches the output — no output filter needed.
    # (An output filter like user_id >= 0 would be pushed below the join
    # into the source and silently hold the watermark back.)
    sent = spark.createDataFrame(
        [
            (-1, max_ts, -1, "click"),
            (-2, max_ts, -1, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    ).select(
        "event_id",
        (
            F.col("ts")
            + F.expr(f"INTERVAL {_SENTINEL_OFFSET_H} HOURS")
            + F.when(F.col("event_type") == "purchase", F.expr("INTERVAL 2 HOURS"))
            .otherwise(F.expr("INTERVAL 0 HOURS"))
        ).alias("ts"),
        "user_id",
        "event_type",
    )
    tmp = _app_scoped_dir("hri_ssjoin_")
    e.unionByName(sent).write.mode("overwrite").parquet(tmp)
    return tmp


@register(
    QUERIES,
    "stream_stream_left_outer_join",
    oracle="""
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id  AS user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'click'
    """,
    doc="Stream-stream LEFT OUTER interval join (every click, attributed "
    "purchase or NULL) through the real streaming engine: watermarked state "
    "on both sides, unmatched clicks emitted with nulls when the watermark "
    "passes their match horizon (click_ts + 30 min). A far-future sentinel "
    "row pushes the final watermark hours past every real click's horizon, "
    "and AvailableNow runs the extra eviction batch the advanced watermark "
    "requires — so the outer emission is COMPLETE and deterministic, and "
    "the plain batch LEFT JOIN oracle applies exactly. The state-eviction "
    "semantics this pins (emit-on-eviction, one-batch delay) are the core "
    "of attribution pipelines at scale.",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _outer_join_input_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema

    def side(tag: str) -> DataFrame:
        return spark.readStream.schema(schema).parquet(path).filter(
            F.col("event_type") == tag
        )

    clicks = side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("click_ts_t"),
    ).withWatermark("click_ts_t", _WM)
    purchases = side("purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts_t"),
    ).withWatermark("purchase_ts_t", _WM)
    joined = clicks.join(
        purchases,
        on=[
            F.col("user_id") == F.col("p_user_id"),
            F.col("purchase_ts_t") >= F.col("click_ts_t"),
            F.col("purchase_ts_t")
            <= F.col("click_ts_t") + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="left_outer",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.date_format("click_ts_t", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )
    return _run_to_table(joined, "ssleft", output_mode="append")


@register(
    QUERIES,
    "stream_passthrough_route",
    oracle="""
    SELECT event_type            AS batch_id,
           count(*)              AS n_out,
           CAST(0 AS BIGINT)     AS n_invalid,
           'completed'           AS final_status
    FROM events
    GROUP BY event_type
    """,
    doc="The reference pipeline itself through the REAL streaming engine: "
    "file sources -> envelope union -> keyed lifecycle state machine "
    "(applyInPandasWithState, processing-time completion timers) -> "
    "memory sink, then the same per-batch summary as "
    "the batch replay. Same oracle as passthrough_route, so the streaming "
    "topology, the batch state machine, the relational plan, and DuckDB "
    "all agree on the happy path.",
)
def stream_passthrough_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.passthrough import _derive_control, _summarize
    from ..sources.envelope import events_as_records
    from .topology import TRIGGER_GROUP_WARN_ROWS, build_routed_stream

    e = load_table(spark, sf_dir, "events")
    n_events = e.count()
    n_batches = e.select("event_type").distinct().count()
    # under the SparkFiles root: the staged replay copies go with the app
    tmp = _app_scoped_dir("hri_stream_route_")

    # Per-trigger bound (r12 verdict ask #3): at driver SFs the whole
    # staged corpus is far under the whole-trigger bar, so it replays in
    # one trigger (fast path) under a declared int bound. Past the bar
    # (large-SF soaks) the staged source auto-bounds itself: files of
    # ≤ bar/5 rows each + maxFilesPerTrigger=1 → bounded triggers,
    # declared as 'source-option' (branch pinned end-to-end by
    # tests/test_streaming.py::test_passthrough_route_auto_bounded_replay
    # with a shrunken bar).
    if n_events <= TRIGGER_GROUP_WARN_ROWS:
        # max(1, ·): an empty corpus would declare bound=0, which the
        # build-time contract rejects as outside (0, bar] — a degenerate
        # input must yield an empty summary, not a ValueError (r13 ADVICE)
        bound: int | str = max(1, n_events)
        rec_writer = events_as_records(e)
        rec_reader_opts = {}
    else:
        bound = "source-option"
        rows_per_file = max(1, TRIGGER_GROUP_WARN_ROWS // 5)
        n_files = -(-n_events // rows_per_file)
        rec_writer = events_as_records(e).repartition(n_files)
        rec_reader_opts = {"maxFilesPerTrigger": "1"}
    rec_writer.write.parquet(f"{tmp}/records")
    _derive_control(e).write.parquet(f"{tmp}/ctrl")
    records = (
        spark.readStream.schema(spark.read.parquet(f"{tmp}/records").schema)
        .options(**rec_reader_opts)
        .parquet(f"{tmp}/records")
    )
    notifs = spark.readStream.schema(
        spark.read.parquet(f"{tmp}/ctrl").schema
    ).parquet(f"{tmp}/ctrl")
    routed = build_routed_stream(
        records, notifs, completion_delay_ms=1500, per_trigger_bound=bound
    )
    # done once every record routed AND every batch's completion timer has
    # fired (the 'completed' notification is emitted by a later no-data
    # microbatch once the processing-time deadline passes)
    done = (
        f"count_if(dest = 'out') >= {n_events} AND count_if(dest = 'notification'"
        f" AND CAST(value AS STRING) LIKE '%completed%') >= {n_batches}"
    )
    return _run_to_table(
        routed,
        "route",
        output_mode="append",
        until=lambda sink: sink.selectExpr(done).first()[0],
        result=_summarize,
    )


def make_cdc_merger(
    spark: SparkSession, base: str, state: dict, run_id: str | None = None
):
    """foreachBatch merge function maintaining a versioned parquet table.

    ``state``: {"cur": path|None, "ver": int, "last_epoch": int,
    "run_id": str|None}.

    ``run_id`` is the CHECKPOINT IDENTITY (pass the checkpointLocation
    path): structured streaming epoch ids are monotone only within one
    checkpoint's lifetime and restart at 0 under a fresh checkpoint dir, so
    a recovered ``last_epoch`` from a previous checkpoint would silently
    no-op every microbatch until epoch_id catches up. The marker stores the
    run identity next to the epoch; when the identity changes, the epoch
    guard resets instead of swallowing the new run's batches.

    Exactly-once via epoch-id idempotence: structured streaming replays a
    failed microbatch under the SAME epoch_id, so a merge whose epoch is
    <= the last committed one is a no-op — without this, the additive
    ``n_updates`` column would double on every replay (the replace columns
    are naturally idempotent, additive ones are not). Each version commits
    an ``_EPOCH`` marker file inside its directory BEFORE the current
    pointer moves; ``recover_cdc_state`` restores (cur, ver, last_epoch)
    from the newest marked version, so a restarted job skips replayed
    epochs too.
    """
    state.setdefault("last_epoch", -1)
    if run_id is not None:
        # Reset whenever the recovered identity differs — INCLUDING when it
        # is None (legacy single-line _EPOCH marker: identity unknowable, so
        # trusting the stale epoch would silently no-op every microbatch of
        # a fresh checkpoint until epoch_id catches up — the exact bug the
        # guard exists to fix). A fresh state dict has last_epoch=-1 already,
        # so the reset is a no-op there.
        # Documented tradeoff for the unknowable-identity (None) case: the
        # reset favors the COMMON operational path (new checkpoint dir over
        # a legacy table — epochs restart at 0 every time) over the narrow
        # one (same-checkpoint crash-replay of the final epoch written by
        # the PRE-run_id code version, which would now re-apply once,
        # doubling that epoch's additive n_updates). The two are not
        # distinguishable from (run_id, last_epoch) alone; every marker
        # written by current code carries run_id, so the window closes at
        # the first post-upgrade commit.
        if state.get("run_id") != run_id:
            state["last_epoch"] = -1  # new/unknown checkpoint lifetime
        state["run_id"] = run_id
    last_struct = F.max(
        F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value"))
    ).alias("last")

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= int(state["last_epoch"]):
            return  # replayed microbatch — its version is already committed
        b = (
            batch_df.groupBy("user_id")
            .agg(last_struct, F.count(F.lit(1)).alias("n_updates"))
            .select("user_id", "last.*", "n_updates")
        )
        if state["cur"] is not None:
            cur = spark.read.parquet(str(state["cur"]))
            b = (
                cur.unionByName(b)
                .groupBy("user_id")
                .agg(last_struct, F.sum("n_updates").alias("n_updates"))
                .select("user_id", "last.*", "n_updates")
            )
        state["ver"] = int(state["ver"]) + 1
        path = f"{base}/v{state['ver']}"
        b.write.mode("overwrite").parquet(path)
        iofs.write_text(
            f"{path}/_EPOCH", f"{int(epoch_id)}\n{state.get('run_id') or ''}"
        )
        state["cur"] = path
        state["last_epoch"] = int(epoch_id)

    return _merge


def recover_cdc_state(base: str) -> dict:
    """Restore merger state from the newest version with an _EPOCH marker.

    The marker's second line (when present) is the checkpoint identity the
    epoch was committed under; ``make_cdc_merger`` resets the epoch guard
    when the current run's identity differs (epoch ids restart at 0 with a
    fresh checkpoint location).
    """
    import re

    best = {"cur": None, "ver": 0, "last_epoch": -1, "run_id": None}
    pat = re.compile(r"^v(\d+)$")
    for d in iofs.list_names(base):
        m = pat.match(d)
        marker = iofs.join(base, d, "_EPOCH")
        if m and iofs.exists(marker):
            ver = int(m.group(1))
            if ver > int(best["ver"]):
                lines = iofs.read_text(marker).splitlines()
                best = {
                    "cur": iofs.join(base, d),
                    "ver": ver,
                    "last_epoch": int(lines[0].strip()),
                    "run_id": (lines[1] or None) if len(lines) > 1 else None,
                }
    return best



@register(
    QUERIES,
    "stream_cdc_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_updates
      FROM events
    )
    SELECT user_id,
           event_type                                   AS last_type,
           round(value, 2)                              AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S')            AS last_ts,
           CAST(n_updates AS BIGINT)                    AS n_updates
    FROM ranked WHERE rn = 1
    """,
    doc="Streaming CDC upsert maintaining a TABLE (the Delta-style merge "
    "loop on plain parquet): each microbatch reduces to per-key partials — "
    "argmax-by-(ts,event_id) via max(struct(...)) for the replace columns, "
    "a count for the additive column — then full-table MERGE with the "
    "current version and an atomic version-directory swap. Both merge "
    "functions are associative and commutative, so the result is invariant "
    "to how availableNow splits the replay. Merge cost is O(batch + "
    "|table|) per trigger, independent of history length — the table IS "
    "the state, no unbounded stream state. Epoch-id idempotence is built "
    "in: a replayed microbatch (same epoch_id after failure recovery) is "
    "a committed no-op via per-version _EPOCH markers, so the additive "
    "column never doubles — pinned incl. restart recovery in "
    "tests/test_streaming_restart.py; the oracle recomputes the final "
    "table from raw history.",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    e = _events_stream(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="hri_cdc_upsert_")
    state: dict[str, object] = {"cur": None, "ver": 0}
    _merge = make_cdc_merger(spark, base, state, run_id=f"{base}/ckpt")

    _run_foreach(e, _merge, f"{base}/ckpt")

    final = spark.read.parquet(str(state["cur"]))
    out = final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("n_updates").cast("long").alias("n_updates"),
    ).transform(cut())
    # the checkpointed result no longer reads the versioned table — drop
    # the whole work tree (r12 self-review: each invocation otherwise
    # leaves table versions + checkpoint in /tmp for the session lifetime)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_TOPK = 3


@register(
    QUERIES,
    "stream_windowed_topk_users",
    oracle=f"""
    WITH w AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT ws, user_id, n,
             row_number() OVER (PARTITION BY ws
                                ORDER BY n DESC, user_id) AS rnk
      FROM w
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           user_id,
           CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {STREAM_TOPK}
    """,
    doc="Streaming windowed top-k: per-user counts in 6h tumbling windows "
    "maintained by the REAL streaming engine (stateful windowed "
    "aggregation, complete mode), then the top-3 users per window ranked "
    "on the materialized per-(window,user) table — window-cardinality, "
    "data-size-independent after the stream reduces it. Ranking inside the "
    "stream itself is not expressible (no windows-over-aggregates in "
    "streaming); this aggregate-then-rank split IS the production shape "
    "(e.g. a dashboard ranking a live counter table). Integer counts + id "
    "tiebreak, epoch-aligned buckets both engines.",
)
def stream_windowed_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "6 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            "n",
        )
    )
    rows = _run_to_table(agg, "topkwin")
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), "user_id")
    return (
        rows.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= STREAM_TOPK)
        .select("window_start", "user_id", F.col("n").cast("long").alias("n"), "rnk")
    )


# Token-bucket rate limiter: hourly service capacity per event_type. With a
# constant cap the queue recurrence backlog_t = max(0, backlog_{t-1} + a_t - c)
# is a LINDLEY recursion, whose closed form is a reflected prefix sum:
# backlog_t = P_t - min(0, min_{j<=t} P_j) with P_t = cumsum(a - c). So the
# sequential-looking limiter is two ordered-window scans — no recursion, no
# stateful UDF.
RATE_CAP = 4  # records served per hour per event_type


@register(
    QUERIES,
    "stream_rate_limiter_backlog",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      -- densify: an idle hour still drains the queue, so zero-arrival hours
      -- must exist as rows
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    ), dense AS (
      SELECT g.event_type, g.hr, coalesce(h.n, 0) AS a
      FROM grid g LEFT JOIN hourly h
        ON g.event_type = h.event_type AND g.hr = h.hr
    ), p AS (
      SELECT event_type, hr, a,
             sum(a - {RATE_CAP}) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
      FROM dense
    ), b AS (
      SELECT event_type, hr, a,
             pt - least(0, min(pt) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS backlog
      FROM p
    )
    SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           CAST(a AS BIGINT) AS arrivals,
           CAST(a + lag(backlog, 1, 0) OVER (PARTITION BY event_type
                                             ORDER BY hr) - backlog
                AS BIGINT) AS served,
           CAST(backlog AS BIGINT) AS backlog
    FROM b
    """,
    doc="Rate limiter / admission queue: per event_type, arrivals counted in "
    "1h tumbling windows by the REAL streaming engine, then served at a "
    "constant cap of 4/hour with overflow queued. The per-hour queue "
    "recurrence backlog_t = max(0, backlog_{t-1} + arrivals_t - cap) is a "
    "Lindley recursion whose closed form is a reflected prefix sum "
    "(P_t - min(0, running-min P)), so the whole limiter is two ordered "
    "window scans over the HOURLY table — window-cardinality work, "
    "data-size-independent after the stream reduces it, same shape as the "
    "blocked EWMA/Holt-Winters recurrences. Hours are densified per type "
    "(idle hours drain the queue) from the streamed table's own span. "
    "All-integer output; both engines evaluate identical prefix sums.",
)
def stream_rate_limiter_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("hr"), "event_type", "n")
    )
    # _run_to_table's checkpoint already swapped the memory-sink leaf
    # (MemoryPlan, not a MultiInstanceRelation) for a LogicalRDD, so the
    # grid-vs-hourly self-join below can deduplicate its attribute ids —
    # the reason this site used to checkpoint locally.
    hourly = _run_to_table(agg, "ratelim")
    span = hourly.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    dense = grid.join(hourly, ["event_type", "hr"], "left").withColumn(
        "a", F.coalesce("n", F.lit(0))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlag = Window.partitionBy("event_type").orderBy("hr")
    b = (
        dense.withColumn("pt", F.sum(F.col("a") - RATE_CAP).over(wcum))
        .withColumn("mn", F.min("pt").over(wcum))
        .withColumn("backlog", F.col("pt") - F.least(F.lit(0), F.col("mn")))
    )
    return b.select(
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        "event_type",
        F.col("a").cast("long").alias("arrivals"),
        (
            F.col("a") + F.lag("backlog", 1, 0).over(wlag) - F.col("backlog")
        ).cast("long").alias("served"),
        F.col("backlog").cast("long").alias("backlog"),
    )


# CDC history: the versioned table the merger maintains is readable AS OF any
# committed version (time travel), and two versions diff relationally.
# Cutoff near the START of the event range so v1 misses many users and the
# diff exercises both 'insert' (key absent at v1) and 'update' classes.
CDC_CUTOFF = "2024-01-02 00:00:00"


@register(
    QUERIES,
    "cdc_time_travel_diff",
    oracle=f"""
    WITH s_old AS (
      SELECT user_id, count(*) AS n_updates FROM events
      WHERE ts < TIMESTAMP '{CDC_CUTOFF}' GROUP BY 1
    ), s_new AS (
      SELECT user_id, count(*) AS n_updates FROM events GROUP BY 1
    ), d AS (
      SELECT CASE WHEN o.user_id IS NULL THEN 'insert'
                  WHEN n.n_updates <> o.n_updates THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             n.n_updates - coalesce(o.n_updates, 0) AS delta
      FROM s_new n LEFT JOIN s_old o ON n.user_id = o.user_id
    )
    SELECT change_type,
           CAST(count(*) AS BIGINT)    AS n_keys,
           CAST(sum(delta) AS BIGINT)  AS updates_delta,
           CAST(1 AS BIGINT) AS from_version,
           CAST(2 AS BIGINT) AS to_version
    FROM d GROUP BY change_type
    """,
    doc="Time travel + snapshot diff over the CDC-maintained table: the "
    "merger (make_cdc_merger — same code path as stream_cdc_upsert) is "
    "driven with two batches split at a cutoff timestamp, producing "
    "committed versions v1/v2; read_table_version "
    "(operators/maintenance.py) reads each AS OF its version — a plain "
    "parquet read, since every version is a self-contained snapshot, with "
    "uncommitted (unmarked) directories rejected — and the diff is one "
    "left join on the key classifying insert/update/unchanged (deletes "
    "cannot occur in an upsert-only feed). Aggregated to per-change-type "
    "key counts + additive-column delta; the oracle reconstructs both "
    "snapshots from raw history with the cutoff predicate. At 100 TB the "
    "diff is a co-partitioned key join of two table versions — no history "
    "replay.",
)
def cdc_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.maintenance import list_table_versions, read_table_version

    e = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="hri_cdc_travel_")
    state: dict[str, object] = {"cur": None, "ver": 0}
    merge = make_cdc_merger(spark, base, state, run_id=f"{base}/batch")
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp")
    merge(e.filter(F.col("ts") < cutoff), 0)
    merge(e.filter(F.col("ts") >= cutoff), 1)

    vers = list_table_versions(base)
    v_old = read_table_version(spark, base, vers[0]).select(
        "user_id", F.col("n_updates").alias("old_updates")
    )
    v_new = read_table_version(spark, base, vers[-1]).select(
        "user_id", F.col("n_updates").alias("new_updates")
    )
    d = v_new.join(v_old, "user_id", "left").select(
        F.when(F.col("old_updates").isNull(), "insert")
        .when(F.col("new_updates") != F.col("old_updates"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        (F.col("new_updates") - F.coalesce("old_updates", F.lit(0))).alias(
            "delta"
        ),
    )
    out = (
        d.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("delta").cast("long").alias("updates_delta"),
        )
        .withColumn("from_version", F.lit(int(vers[0])).cast("long"))
        .withColumn("to_version", F.lit(int(vers[-1])).cast("long"))
        .transform(cut())  # detach from the versioned table, then drop it
    )
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    QUERIES,
    "stream_ohlc_hourly",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           round(min({'ts': ts, 'eid': event_id, 'v': value}).v, 2) AS open,
           round(max(value), 2)                                      AS high,
           round(min(value), 2)                                      AS low,
           round(max({'ts': ts, 'eid': event_id, 'v': value}).v, 2) AS close,
           CAST(count(*) AS BIGINT)                                  AS volume
    FROM events
    GROUP BY 1, 2
    """,
    doc="OHLC bars maintained by the REAL streaming engine: open/close as "
    "stateful min/max of struct(ts, event_id, value) — the streaming "
    "argmin/argmax, whose per-window state is two structs + three "
    "scalars regardless of event volume (contrast collecting events per "
    "window). Same bars as the batch ohlc_hourly_bars; the oracle "
    "recomputes from raw history. Demonstrates that composite-key "
    "extremum aggregation is incremental-merge-safe (struct comparison "
    "is associative), so bars stream correctly under any microbatch "
    "split.",
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_stream(spark, sf_dir)
    key = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    agg = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.round(F.min(key)["v"], 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max(key)["v"], 2).alias("close"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "hour_ts"
            ),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )
    return _run_to_table(agg, "ohlc")


@register(
    QUERIES,
    "stream_stream_full_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS cid, user_id AS cu, ts AS cts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS pid, user_id AS pu, ts AS pts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.cid AS click_id,
           p.pid AS purchase_id,
           coalesce(c.cu, p.pu) AS user_id,
           strftime(coalesce(c.cts, p.pts), '%Y-%m-%d %H:%M:%S') AS anchor_ts
    FROM c FULL JOIN p
      ON c.cu = p.pu
     AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream FULL OUTER interval join — the remaining outer-join "
    "mode of the streaming matrix: attributed (click, purchase) pairs, "
    "PLUS unmatched clicks (no purchase within 30 min) AND unmatched "
    "purchases (no preceding click), each emitted with nulls when the "
    "watermark passes its side's match horizon. Shares the left-outer "
    "harness's sentinel input: the far-future sentinels advance the final "
    "watermark past every real row's horizon (so BOTH sides' outer "
    "emissions are complete and deterministic) while each sentinel's own "
    "horizon stays above the final watermark — neither ever reaches the "
    "output, and the batch FULL JOIN oracle applies exactly.",
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _outer_join_input_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema

    def side(tag: str) -> DataFrame:
        return spark.readStream.schema(schema).parquet(path).filter(
            F.col("event_type") == tag
        )

    clicks = side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts_t"),
    ).withWatermark("click_ts_t", _WM)
    purchases = side("purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts_t"),
    ).withWatermark("purchase_ts_t", _WM)
    joined = clicks.join(
        purchases,
        on=[
            F.col("c_user_id") == F.col("p_user_id"),
            F.col("purchase_ts_t") >= F.col("click_ts_t"),
            F.col("purchase_ts_t")
            <= F.col("click_ts_t") + F.expr("INTERVAL 30 MINUTES"),
        ],
        how="full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user_id"), F.col("p_user_id")).alias("user_id"),
        F.date_format(
            F.coalesce(F.col("click_ts_t"), F.col("purchase_ts_t")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("anchor_ts"),
    )
    return _run_to_table(joined, "ssfull", output_mode="append")


@register(
    QUERIES,
    "stream_quantile_sketch",
    oracle=QSK_ORACLE,
    doc="The fixed-grid quantile sketch (quantile_sketch_value_by_type) "
    "maintained BY the streaming engine: the (event_type, bin) counts are a "
    "streaming aggregation in complete mode — each microbatch's partial "
    "counts merge into state by addition, which is exactly the sketch's "
    "merge operator, so the state is the sketch, bounded at |types| x ~98 "
    "grid cells regardless of stream length. Quantile readout runs as a "
    "grid-bounded batch pass over the final sink. Same oracle as the batch "
    "twin because the sketch is ingestion-order-insensitive by construction "
    "— the property KLL/t-digest quantile state can't give you "
    "cross-engine. Reference has no quantile surface; this is the "
    "training-pipeline telemetry shape (value-distribution drift per type).",
)
def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )

    e = _events_stream(spark, sf_dir)
    sketch = _run_to_table(quantile_sketch_build(e), "qsketch")
    return quantile_sketch_quantiles(sketch)


@register(
    QUERIES,
    "stream_hll_cardinality",
    oracle=HLL_ORACLE,
    doc="The portable HLL maintained BY the streaming engine — the MAX-merge "
    "twin of stream_quantile_sketch's ADD-merge: the sparse (event_type, "
    "bucket) -> max-rank registers are a complete-mode streaming "
    "aggregation, so each microbatch's partial registers merge into state "
    "by register-wise MAX, which is exactly the HLL merge operator; the "
    "state IS the sketch, bounded at |types| x m registers regardless of "
    "stream length. Grid completion + integer-rational readout run "
    "grid-bounded over the final sink. Same oracle as the batch twin "
    "because register MAX is ingestion-order-insensitive by construction.",
)
def stream_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import _hll_complete_grid, _hll_readout, _hll_rho

    e = _events_stream(spark, sf_dir)
    sink = _run_to_table(_hll_rho(e), "hllsketch")
    regs = _hll_complete_grid(sink)
    ex = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return _hll_readout(regs, ex)


# --- Windowed streaming quantile sketch (r7 verdict ask #5): the
# production shape — per-window sketch state, APPEND output, state evicted
# when the watermark passes the window. One far-future sentinel drags the
# final watermark past every real window's end (so all real windows flush
# deterministically) while the sentinel's own window stays open and never
# reaches the output — the same trick the outer-join harness uses.
QSKW_WINDOW = "1 day"
QSKW_WM = "1 hour"
_QSKW_SENTINEL_OFFSET_D = 3


def _qsk_window_input_dir(spark: SparkSession, sf_dir: str) -> str:
    return session_memo(spark, sf_dir, "events.parquet", _write_qskw_input)


def _write_qskw_input(spark: SparkSession, sf_dir: str) -> str:
    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    sent = e.agg(F.max("ts").alias("ts")).select(
        (F.col("ts") + F.expr(f"INTERVAL {_QSKW_SENTINEL_OFFSET_D} DAYS")).alias(
            "ts"
        ),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.01).alias("value"),
    )
    tmp = _app_scoped_dir("hri_qskw_")
    e.unionByName(sent).write.mode("overwrite").parquet(tmp)
    return tmp


@register(
    QUERIES,
    "stream_quantile_sketch_windowed",
    oracle=f"""
    WITH cents AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), bins AS (
      SELECT day, event_type, c // {QSK_BIN_CENTS} AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM cents GROUP BY 1, 2, 3
    ), cum AS (
      SELECT day, event_type, bin, cnt,
             CAST(sum(cnt) OVER (
               PARTITION BY day, event_type ORDER BY bin) AS BIGINT) AS cum
      FROM bins
    ), tot AS (
      SELECT day, event_type, CAST(sum(cnt) AS BIGINT) AS n
      FROM bins GROUP BY 1, 2
    ), tgt AS (
      SELECT day, event_type, n, q, (q * n + 99) // 100 AS target
      FROM tot CROSS JOIN (
        SELECT unnest([{", ".join(map(str, QSK_QS))}]) AS q)
    )
    SELECT t.day, t.event_type, t.q, t.n,
           (b.bin * {QSK_BIN_CENTS * 1000}
            + ((t.target - (b.cum - b.cnt)) * {QSK_BIN_CENTS * 1000})
              // b.cnt
           ) / 100000.0 AS est_value
    FROM tgt t
    JOIN cum b
      ON b.day = t.day AND b.event_type = t.event_type
     AND b.cum >= t.target
     AND b.cum - b.cnt < t.target
    """,
    doc="The fixed-grid quantile sketch per TUMBLING EVENT-TIME WINDOW in "
    "APPEND mode: (window, type, bin) counts are a watermarked windowed "
    "aggregation — each window's sketch lives in the state store only until "
    "the watermark passes its end, then its final counts emit once and the "
    "state is EVICTED (the r7 complete-mode twin kept all windows forever). "
    "Per-(day, type) quantile readout runs grid-bounded over the appended "
    "sink. State is bounded by windows-in-flight x |types| x ~98 bins "
    "regardless of stream length — the telemetry shape for value-drift "
    "monitoring over an unbounded stream. Verified on both state-store "
    "providers (HDFSBacked + RocksDB) in tests/test_round8_ops.py. Oracle = "
    "the same sketch algebra grouped by date_trunc day, over the raw table.",
)
def stream_quantile_sketch_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import QSK_BIN_CENTS, quantile_sketch_quantiles

    path = _qsk_window_input_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(path)
    binned = (
        src.withWatermark("ts", QSKW_WM)
        .groupBy(
            F.window("ts", QSKW_WINDOW).alias("w"),
            "event_type",
            F.expr(
                f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {QSK_BIN_CENTS}"
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "bin",
            "cnt",
        )
    )
    sketch = _run_to_table(binned, "qskw", output_mode="append")
    return quantile_sketch_quantiles(sketch, keys=("day", "event_type"))


# --------------------------------------------------------------------------
# Streaming incremental dedup (r9, verdict ask #3): the continuous-ingest
# twin of dedup_incremental_delta. The standing corpus's MinHash-LSH bucket
# index is built ONCE (in production: the STORED signature index maintained
# by yesterday's batch run — the text twin of ivf_upsert_index); today's
# delta then arrives as a STREAM, and each microbatch is banded through the
# same _minhash_buckets and bucket-joined against the standing index in
# foreachBatch. Pair work per microbatch = |batch buckets| x in-bucket
# corpus collisions — never corpus x corpus; corpus cost is one frozen
# index build. Each epoch's verified pairs land in an overwrite-per-epoch
# directory, so a replayed microbatch (same epoch_id after failure
# recovery) is idempotent. A given new doc belongs to exactly one
# microbatch, so no pair can span epochs.
# --------------------------------------------------------------------------
_SDI_DELTA_FILES = 4  # delta split into 4 files -> 4 microbatches


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.dedup import (
        _DELTA_DEN,
        _DELTA_NUM,
        _minhash_buckets,
        _shingles,
        _shingles_for,
        _verify_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    # empty corpus: no split point; every stage below is empty (r14)
    split = (max_id or 0) * _DELTA_NUM // _DELTA_DEN

    # Standing-corpus side: shared session shingle table (same memo the
    # batch twin uses) filtered to the corpus, banded once, persisted for
    # the run (bounded: |corpus| x 32 band rows). Frozen at the split —
    # production folds accepted deltas back in AFTER the day's run, which
    # is exactly what the batch twin's oracle checks.
    corpus_sh = _shingles_for(spark, sf_dir).filter(F.col("doc_id") < split)
    corpus_idx = (
        _minhash_buckets(corpus_sh)
        .withColumnRenamed("doc_id", "doc_a")
        .persist()
    )

    base = tempfile.mkdtemp(prefix="hri_sdi_")
    # the delta replayed as a finite stream: N files -> N microbatches
    (
        docs.filter(F.col("doc_id") >= split)
        .repartition(_SDI_DELTA_FILES)
        .write.mode("overwrite")
        .parquet(f"{base}/delta")
    )
    schema = spark.read.parquet(f"{base}/delta").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{base}/delta")
    )

    def _check(batch_df: DataFrame, epoch_id: int) -> None:
        bsh = _shingles(batch_df)
        bbk = _minhash_buckets(bsh).withColumnRenamed("doc_id", "doc_b")
        cand = (
            corpus_idx.join(F.broadcast(bbk), ["bkey"])
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
        verified = _verify_jaccard_pairs(
            cand, corpus_sh.unionByName(bsh), 0.8
        )
        # overwrite-per-epoch directory = replay-idempotent sink
        verified.write.mode("overwrite").parquet(f"{base}/out/e{int(epoch_id)}")

    try:
        _run_foreach(src, _check, f"{base}/ckpt_{uuid.uuid4().hex[:8]}")
    finally:
        corpus_idx.unpersist()

    out_root = f"{base}/out"
    parts = [
        os.path.join(out_root, d)
        for d in (sorted(os.listdir(out_root)) if os.path.isdir(out_root) else [])
        if any(
            f.startswith("part-") and f.endswith(".parquet")
            for f in os.listdir(os.path.join(out_root, d))
        )
    ]
    import shutil

    if not parts:  # zero near-dups in the delta at this sf
        shutil.rmtree(base, ignore_errors=True)
        return spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, jaccard double"
        )
    # checkpoint the (pair-sized) result so the delta replay + epoch dirs
    # can be dropped — each invocation otherwise leaves a delta-sized copy
    # in /tmp for the session lifetime (r12 self-review, same class as the
    # maintainers' r11 work-dir leak)
    out = spark.read.parquet(*parts).transform(cut())
    shutil.rmtree(base, ignore_errors=True)
    return out


def _register_stream_dedup_incremental():
    # oracle = the batch twin's, verbatim: both compute old x new
    # cross-partition near-dup pairs at the same 3/4 split and 0.8 cut.
    from ..operators.dedup import QUERIES as DEDUP_QUERIES

    return register(
        QUERIES,
        "stream_dedup_incremental",
        oracle=DEDUP_QUERIES["dedup_incremental_delta"].oracle,
        doc="Streaming incremental dedup — the CONTINUOUS-ingest twin of "
        "dedup_incremental_delta: the standing corpus's MinHash-LSH bucket "
        "index is built once and frozen (production: the stored signature "
        "index from yesterday's batch), the delta replays as a real "
        "Structured Streaming source (maxFilesPerTrigger=1 -> multiple "
        "microbatches), and every microbatch is banded through the shared "
        "_minhash_buckets and bucket-joined (batch side broadcast) against "
        "the standing index in foreachBatch, then exact-Jaccard verified "
        "at 0.8. Per-epoch overwrite directories make replayed microbatches "
        "idempotent; a new doc belongs to exactly one microbatch so no pair "
        "spans epochs. State is the frozen corpus index, not stream state — "
        "per-microbatch cost rides |batch| x bucket-collision rate, never "
        "corpus x corpus. Oracle = the batch twin's brute-force "
        "cross-partition SQL on the same split.",
    )(stream_dedup_incremental)


stream_dedup_incremental = _register_stream_dedup_incremental()

# --------------------------------------------------------------------------
# Streaming ANN index maintenance (r9 verdict ask #2): the continuous-ingest
# leg of the durable-index trio (one-shot build ✓, batch upsert ✓, this).
# --------------------------------------------------------------------------
_SAIM_DELTA_FILES = 4  # delta split into 4 files -> 4 microbatches


def make_epoch_appender(spark: SparkSession, epoch_root: str, cents):
    """The raw-vector maintainer's foreachBatch sink — cell-wise append:
    assign the microbatch against the SIDECAR centroids (frozen at base
    build — a delta vector's cell is identical whether assigned at ingest
    or rebuild, which is what makes the oracle a full-rebuild
    equivalence), build the microbatch's epoch dir in a TEMP location
    with its _EPOCH marker inside, then atomically swap it into place
    (the one cell-index writer, similarity._write_cell_index). A replayed
    epoch (same epoch_id after failure recovery) therefore replaces its
    predecessor atomically — a reader either sees the old committed epoch
    or the new complete one, never a half-written dir and never a
    committed epoch flickering back to uncommitted (a plain overwrite
    deletes marker+data before rewriting — r10 self-review finding). Assignment is the BROADCAST-DF
    form: per-microbatch calls must not pay the k x dim literal planning
    tax (~1.6 s/call x 4 microbatches, measured — the r9 rule).

    Module-level factory (not an inline closure) so the crash-resume
    chaos test drives the SAME commit protocol the production query runs
    (tests/test_round10_ops.py)."""
    from ..operators.similarity import _assign_by_broadcast

    return _epoch_appender(
        spark, epoch_root, lambda df: _assign_by_broadcast(spark, df, cents)
    )


def _epoch_appender(spark: SparkSession, epoch_root: str, rows):
    """foreachBatch sink committing ``rows(batch_df)`` as the epoch dir
    ``e<epoch_id>`` under *epoch_root* through the one cell-index writer
    (temp tree, ``_EPOCH`` marker last, atomic publish)."""
    import os

    from ..operators.similarity import _write_cell_index

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        edir = os.path.join(epoch_root, f"e{int(epoch_id)}")
        _write_cell_index(spark, edir, [rows(batch_df)], str(int(epoch_id)))

    return _append


def stream_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.similarity import (
        _DELTA_EPOCH_DIR,
        _emb,
        _ivf_index_read_topk,
        _maintained_probes,
        committed_delta_epochs,
        read_index_meta,
        stream_maintained_ivf_index,
    )

    # Base: centroids Lloyd-trained on the base slice, FROZEN in the
    # sidecar; a fresh session resolves them from metadata alone.
    path = stream_maintained_ivf_index(spark, sf_dir)
    meta = read_index_meta(path)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    split = meta.get("split")

    # Maintenance composition guard (r10 self-review findings): after
    # fold_delta_epochs the base tree already HOLDS the folded deltas
    # (delta_folded flag), and after retrain_if_skewed the rebalanced
    # index holds everything and resets split to None — in both states
    # replaying the delta would DUPLICATE vectors, and production's
    # consumed stream offsets mean there is nothing new to ingest. Serve
    # the maintained index as-is.
    if split is None or meta.get("delta_folded"):
        # drift-adaptive probes (r10 verdict ask #5): the sidecar's
        # per-cell sizes prune the probe set, metadata-only
        probes = _maintained_probes(spark, sf_dir, meta)
        return _ivf_index_read_topk(
            spark, sf_dir, [path] + committed_delta_epochs(path), probes=probes
        )
    split = int(split)

    # The day's delta replayed as a real finite stream: N files -> N
    # microbatches (maxFilesPerTrigger=1).
    work = tempfile.mkdtemp(prefix="hri_saim_")
    (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") >= split)
        .repartition(_SAIM_DELTA_FILES)
        .write.mode("overwrite")
        .parquet(f"{work}/delta")
    )
    schema = spark.read.parquet(f"{work}/delta").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/delta")
    )

    epoch_root = os.path.join(path, _DELTA_EPOCH_DIR)
    _append = make_epoch_appender(spark, epoch_root, cents)

    _run_foreach(src, _append, f"{work}/ckpt_{uuid.uuid4().hex[:8]}")

    # drift bookkeeping rides every maintenance run (r9 verdict #3): the
    # sidecar records delta_fraction + cell_skew so retrain-at-compaction
    # (operators/maintenance.retrain_if_skewed) is a metadata decision
    from ..operators.maintenance import update_drift_stats

    update_drift_stats(spark, path)
    # the work dir held only the replay source + checkpoint; the combined
    # read below touches the index dirs alone, so drop it now — repeated
    # bench reps must not accumulate delta-sized copies in /tmp (ADVICE r10)
    import shutil as _shutil

    _shutil.rmtree(work, ignore_errors=True)

    # Combined read: base + committed epochs, every source pruned to the
    # probed cells (each epoch dir is its own hive-partitioned tree).
    # Probes auto-tune from the drift stats just recorded above.
    probes = _maintained_probes(spark, sf_dir, read_index_meta(path))
    return _ivf_index_read_topk(
        spark, sf_dir, [path] + committed_delta_epochs(path), probes=probes
    )


def _register_stream_ann_index_maintenance():
    from ..operators.similarity import (
        DNLIST,
        NPROBE,
        TRAINED_ITERS,
        _trained_ivf_oracle,
    )

    return register(
        QUERIES,
        "stream_ann_index_maintenance",
        # adaptive=True superseded the fixed-nprobe read in r11 (verdict
        # ask #5): probes auto-tune from the sidecar's per-cell sizes;
        # SUPERSEDED_IN re-fronts this query for driver re-attestation.
        oracle=_trained_ivf_oracle(
            DNLIST, TRAINED_ITERS, NPROBE, base_split=True, adaptive=True
        ),
        doc="Continuous ANN-index ingest — the STREAMING twin of the batch "
        "upsert (ann_ivf_upsert_topk) over the trained-quantizer index: "
        "the base build Lloyd-trains centroids on the base corpus slice "
        "and freezes them in the catalog sidecar; the delta then arrives "
        "as a real Structured Streaming source (maxFilesPerTrigger=1 -> "
        "multiple microbatches) and every microbatch is assigned against "
        "the sidecar centroids (zero-shuffle literal E-step) and appended "
        "cell-wise into its own committed per-epoch directory under the "
        "index (_EPOCH marker after the data, stream_cdc_upsert's "
        "idempotence shape — replays overwrite byte-identically, torn "
        "writes are invisible to readers). The query returns top-k over "
        "base + committed epochs, partition-pruned per source; the oracle "
        "re-trains the base-slice centroids in chained CTEs and runs the "
        "full-corpus IVF tail — i.e. the maintained index must EQUAL a "
        "full rebuild with the frozen grid, the same contract the batch "
        "upsert pins. At 100 TB this is the always-fresh index: per-"
        "microbatch cost is one assignment pass over the batch plus a "
        "cell-wise append, never a rebuild; compaction of accumulated "
        "epoch files is the orthogonal maintenance op.",
    )(stream_ann_index_maintenance)


stream_ann_index_maintenance = _register_stream_ann_index_maintenance()


def make_codes_epoch_appender(
    spark: SparkSession, epoch_root: str, cents, cb
):
    """The CODES-ONLY maintainer's foreachBatch sink: PQ-encode the
    microbatch against the frozen per-subspace codebook and cell-assign
    it against the frozen coarse centroids (both broadcast-DF forms — no
    per-trigger literal planning tax), then commit the (vec_id, codes,
    cell) rows through the same atomic _EPOCH swap as the raw-vector
    appender. Module-level factory for the same reason as
    make_epoch_appender: the crash-resume chaos test must drive the
    production commit protocol itself."""
    from ..operators.similarity import (
        _assign_by_broadcast,
        _pq_encode_by_broadcast,
    )

    def rows(batch_df: DataFrame) -> DataFrame:
        asg = _assign_by_broadcast(spark, batch_df, cents)
        return _pq_encode_by_broadcast(spark, batch_df, cb).join(
            asg.select("vec_id", "cell"), "vec_id"
        )

    return _epoch_appender(spark, epoch_root, rows)


def stream_ivfpq_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest into the CODES-ONLY durable index — the fourth
    cell of the ingest matrix ({batch, stream} x {raw, codes}), closing it:
    each delta microbatch is PQ-ENCODED against the sidecar's frozen
    codebook (broadcast-data form — per-microbatch encodes must not pay
    the 1024-literal planning tax) and ASSIGNED against the sidecar's
    frozen centroids (broadcast form likewise), then appended cell-wise as
    (vec_id, codes) into atomically-committed epoch dirs. Read path:
    sidecar-resolved probes + codebook decode over base + committed
    epochs, shared ADC shortlist + exact rerank. Registered r11 (the slot
    freed by the sketch_cardinalities retirement — COVERAGE.md); also
    pinned row-for-row equal to the batch trained-upsert IVF-PQ index in
    tests/test_round10_ops.py — frozen artifacts make (cell, codes)
    ingest-time-invariant."""
    import os
    import tempfile

    from pyspark.sql import functions as _F

    from ..operators.similarity import (
        _DELTA_EPOCH_DIR,
        _emb,
        _ivfpq_shortlist_rerank,
        _maintained_probes,
        _pq_recon_expr,
        committed_delta_epochs,
        read_index_meta,
        stream_maintained_ivfpq_index,
    )

    path = stream_maintained_ivfpq_index(spark, sf_dir)
    meta = read_index_meta(path)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    cb = meta["codebook"]
    split = meta.get("split")

    def _read() -> DataFrame:
        # drift-adaptive probes off the freshest sidecar (r10 verdict
        # ask #5) — re-read because the maintenance pass above may have
        # just refreshed the per-cell sizes
        probes = _maintained_probes(spark, sf_dir, read_index_meta(path))
        probed = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        from ..operators.similarity import visible_parquet_paths

        idx_paths = visible_parquet_paths(
            [path, *committed_delta_epochs(path)]
        )
        if not probed or not idx_paths:
            # no queries / part-file-less trees (empty or tiny corpus): no
            # codes to read, and the decode expression is unconstructible
            # on an empty codebook (r14 empty/tiny-corpus sweeps)
            return spark.createDataFrame(
                [], "qid long, nid long, cos_sim double, rnk long"
            )
        from functools import reduce

        idx = reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(p).filter(_F.col("cell").isin(probed))
                for p in idx_paths
            ],
        )
        cand = idx.select("vec_id", "cell", _pq_recon_expr(cb).alias("re"))
        return _ivfpq_shortlist_rerank(spark, sf_dir, cand, probes)

    if split is None or meta.get("delta_folded"):
        return _read()
    split = int(split)

    work = tempfile.mkdtemp(prefix="hri_spqm_")
    (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") >= split)
        .repartition(_SAIM_DELTA_FILES)
        .write.mode("overwrite")
        .parquet(f"{work}/delta")
    )
    schema = spark.read.parquet(f"{work}/delta").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/delta")
    )
    epoch_root = os.path.join(path, _DELTA_EPOCH_DIR)
    _append = make_codes_epoch_appender(spark, epoch_root, cents, cb)

    _run_foreach(src, _append, f"{work}/ckpt_{uuid.uuid4().hex[:8]}")

    from ..operators.maintenance import update_drift_stats

    update_drift_stats(spark, path)
    # replay source + checkpoint are consumed; _read() touches only the
    # index dirs (ADVICE r10 — don't leak a delta copy per invocation)
    import shutil as _shutil

    _shutil.rmtree(work, ignore_errors=True)
    return _read()


def _register_stream_ivfpq_maintenance():
    from ..operators.similarity import (
        DNLIST,
        NPROBE,
        TRAINED_ITERS,
        _trained_ivfpq_oracle,
    )

    return register(
        QUERIES,
        "stream_ivfpq_maintenance",
        oracle=_trained_ivfpq_oracle(
            DNLIST, TRAINED_ITERS, NPROBE, adaptive=True
        ),
        doc="Continuous ingest into the CODES-ONLY durable index — the "
        "fourth cell of the ingest matrix ({batch, stream} x {raw, "
        "codes}), registered r11 in the slot freed by the "
        "sketch_cardinalities retirement: BOTH quantizer levels (coarse "
        "Lloyd centroids AND the per-subspace PQ codebook) are trained on "
        "the base corpus slice and frozen in the catalog sidecar; each "
        "delta microbatch is then PQ-encoded and cell-assigned against "
        "those frozen artifacts (broadcast-data forms — no per-trigger "
        "literal planning tax) and appended as 8-16 B/vector (vec_id, "
        "codes) rows into atomically-committed per-epoch dirs. The query "
        "returns top-k via sidecar-resolved probes + codebook decode over "
        "base + committed epochs with the shared ADC-shortlist + "
        "exact-rerank tail; the oracle re-trains both quantizer levels on "
        "the base slice in chained CTEs and runs the full-corpus IVF-PQ "
        "tail — the maintained codes-only index must EQUAL a full rebuild "
        "with the frozen artifacts, the same contract the batch "
        "trained-upsert pins in tests/test_round10_ops.py. At 100 TB this "
        "is the always-fresh memory-tier index: per-microbatch cost is "
        "one encode+assign pass over the batch, never a rebuild, and the "
        "index stays ~100x smaller than raw vectors.",
    )(stream_ivfpq_maintenance)


stream_ivfpq_maintenance = _register_stream_ivfpq_maintenance()
