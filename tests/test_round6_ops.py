"""Semantic pins for the round-6 fixes and operators.

ADVICE-r5 regression pins first (short-doc PMI clamp, shared-table memos),
then the semantics tests for queries added this round.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_pmi_handles_short_documents(spark, tmp_path):
    """ADVICE r5: a document with <= PMI_W tokens used to drive F.slice's
    length expression negative and throw at runtime; the clamp makes short
    docs contribute zero pairs (matching the oracle's empty range())."""
    from hri_flink_validation_passthrough_spark.operators.corpus import (
        pmi_cooccurrence_topk,
    )

    rows = [
        # 2-token docs (< PMI_W+1: the gap-2/3 slice length would go
        # negative without the clamp); 5 copies clear the PMI_MIN=5 floor
        *[(i, "alpha beta", "en", "s", 10) for i in range(1, 6)],
        (6, "x", "en", "s", 1),  # single token: no pairs at ANY gap
        (7, "one two three four five six seven eight", "en", "s", 40),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = pmi_cooccurrence_topk(spark, str(tmp_path)).collect()  # must not throw
    pairs = {r["pair"] for r in out}
    # doc 1 still contributes its one adjacent pair; doc 2 none
    assert "alpha beta" in pairs
    assert not any(p.startswith("x ") or p.endswith(" x") for p in pairs)


def test_bm25_scored_is_session_memoized(spark):
    """ADVICE r5: bm25_keyword_search and hybrid_search_rrf share one scored
    table per (session, dataset) instead of persisting independent copies."""
    from hri_flink_validation_passthrough_spark.operators import similarity

    a = similarity._bm25_scored(spark, SF)
    b = similarity._bm25_scored(spark, SF + "/")  # normalized key
    assert a is b


import time
import uuid


def test_stream_state_ttl_metrics(spark):
    """Verdict-r5 ask #4: idle-TTL eviction metrics (GroupState timers)
    hash-match the batch recompute."""
    from hri_flink_validation_passthrough_spark.session import load_table, prepare
    from hri_flink_validation_passthrough_spark.streaming.state_ttl import (
        N_BUCKETS,
        stream_state_ttl_metrics,
    )

    prepare(spark)
    got = {
        r["bucket"]: (r["n_events"], r["n_users"], r["sum_value"])
        for r in stream_state_ttl_metrics(spark, SF).collect()
    }
    e = load_table(spark, SF, "events")
    want = {
        r["bucket"]: (r["n_events"], r["n_users"], r["sum_value"])
        for r in e.groupBy((F.col("user_id") % N_BUCKETS).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")) / 100.0
            ).alias("sum_value"),
        )
        .collect()
    }
    assert got == want and len(got) == N_BUCKETS


def test_stream_topk_eviction(spark):
    """Capacity-evicting streaming top-k matches the batch row_number top-k,
    including rank order and tiebreaks."""
    from hri_flink_validation_passthrough_spark.session import load_table, prepare
    from hri_flink_validation_passthrough_spark.streaming.state_ttl import (
        TOPK_K,
        stream_windowed_topk_eviction,
    )
    from pyspark.sql import Window

    prepare(spark)
    got = {
        (r["event_type"], r["rank"]): r["event_id"]
        for r in stream_windowed_topk_eviction(spark, SF).collect()
    }
    e = load_table(spark, SF, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    want = {
        (r["event_type"], r["rn"]): r["event_id"]
        for r in e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK_K)
        .collect()
    }
    assert got == want


def test_ttl_eviction_actually_clears_state(spark, tmp_path):
    """The TTL flush EVICTS: data arriving for a key after its idle flush
    starts a FRESH aggregate (second emitted row covers only the new data) —
    pinning emit-on-eviction semantics rather than running totals."""
    from hri_flink_validation_passthrough_spark.streaming.state_ttl import (
        build_ttl_metrics_stream,
    )

    data_dir = str(tmp_path / "data")
    schema = "bucket long, user_id long, value double, ts_us long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    write([(1, 10, 1.0, 1_000_000), (1, 11, 2.0, 2_000_000)])
    stream = spark.readStream.schema(schema).parquet(data_dir)
    out = build_ttl_metrics_stream(stream, ttl_ms=1200)
    name = f"ttlev_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:

        def wait_rows(n, timeout=60):
            t0 = time.time()
            while time.time() - t0 < timeout:
                if spark.table(name).count() >= n:
                    return
                time.sleep(0.2)
            raise TimeoutError(f"sink never reached {n} rows")

        wait_rows(1)  # first idle flush evicts the key
        write([(1, 12, 5.0, 9_000_000)])  # same key, post-eviction traffic
        wait_rows(2)
        rows = sorted(
            spark.table(name).collect(), key=lambda r: r["n_events"], reverse=True
        )
        assert (rows[0]["n_events"], rows[0]["n_users"], rows[0]["sum_cents"]) == (
            2, 2, 300,
        )
        # fresh aggregate: only the post-eviction row, not a running total
        assert (rows[1]["n_events"], rows[1]["n_users"], rows[1]["sum_cents"]) == (
            1, 1, 500,
        )
    finally:
        q.stop()


def test_containment_catches_snippet_in_long_doc(spark, tmp_path):
    """The case Jaccard-threshold dedup structurally misses: a short doc
    fully embedded in a much longer one (containment 1.0, Jaccard << 0.5).
    The snippet must be removed, kept by the long doc; two unrelated docs
    must survive; the long doc itself must survive."""
    from hri_flink_validation_passthrough_spark.operators import dedup

    long_words = " ".join(f"w{i}" for i in range(60))
    snippet = " ".join(f"w{i}" for i in range(10, 22))  # strict substring
    other = " ".join(f"z{i}" for i in range(30))
    rows = [
        (1, long_words, "en", "s", len(long_words)),
        (2, snippet, "en", "s", len(snippet)),
        (3, other, "en", "s", len(other)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["removed_doc_id"]: (r["kept_doc_id"], r["containment"])
        for r in dedup.dedup_containment_removal(spark, str(tmp_path)).collect()
    }
    assert out == {2: (1, 1.0)}
    # sanity: the jaccard between snippet and long doc is below the 0.5
    # near-dup threshold, so the jaccard removal list would NOT catch it
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup._jaccard_pairs(
            dedup._shingles_for(spark, str(tmp_path)), 0.0
        ).collect()
    }
    assert jac[(1, 2)] < 0.5


def test_custom_datasource_partitions_and_replay(spark):
    """The Python DataSource connector: batch read covers every partition's
    residue class exactly once, and the stream reader's readBetweenOffsets
    (failure-recovery replay) reproduces identical records."""
    from hri_flink_validation_passthrough_spark.sources.pyds import (
        PYDS_N,
        PYDS_PARTS,
        HriEnvelopeStreamReader,
        _record,
        _register_ds,
    )

    _register_ds(spark)
    df = spark.read.format("hri_envelope").option("n", "400").load()
    rows = df.collect()
    assert len(rows) == 400
    assert {r["part"] for r in rows} == set(range(PYDS_PARTS))
    assert sorted(r["record_id"] for r in rows) == list(range(400))
    # stream replay purity: read() then readBetweenOffsets over the same
    # span yield the same records
    rd = HriEnvelopeStreamReader({"n": str(PYDS_N)})
    first, off = rd.read(rd.initialOffset())
    replay = list(rd.readBetweenOffsets({"pos": 0}, off))
    assert list(first) == replay == [_record(i) for i in range(off["pos"])]


def test_oriented_edges_is_session_memoized(spark):
    """Triangle count and clustering coefficient share one oriented edge
    list (src < dst) instead of persisting two copies."""
    from hri_flink_validation_passthrough_spark.operators import graph

    a = graph._oriented_edges(spark, SF)
    b = graph._oriented_edges(spark, SF + "/")
    assert a is b
    # orientation invariant: every edge strictly low->high
    assert a.filter(F.col("src") >= F.col("dst")).count() == 0


def test_ttl_metrics_survive_checkpoint_restart(spark, tmp_path):
    """Chaos parity for the new TTL operator: stop the query after the first
    microbatch (before the idle timer fires), restart from the SAME
    checkpoint with more data staged — recovered keyed state must fold the
    new arrivals into the same aggregate and flush exactly one row with the
    combined totals."""
    import time as _t
    import uuid as _u

    from hri_flink_validation_passthrough_spark.streaming.state_ttl import (
        build_ttl_metrics_stream,
    )

    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    schema = "bucket long, user_id long, value double, ts_us long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    collected: list = []

    def start(ttl_ms):
        # foreachBatch sink: the memory sink refuses checkpoint RECOVERY
        # ("This query does not support recovering from checkpoint
        # location"), and recovery is the point of this test
        stream = spark.readStream.schema(schema).parquet(data_dir)
        out = build_ttl_metrics_stream(stream, ttl_ms=ttl_ms)

        def sink(df, _epoch):
            collected.extend(df.collect())

        return (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    # phase 1: one microbatch lands, timer armed far in the future, kill
    write([(7, 1, 1.0, 1_000_000), (7, 2, 2.0, 2_000_000)])
    q1 = start(ttl_ms=600_000)
    t0 = _t.time()
    while _t.time() - t0 < 60:
        if any(p.numInputRows for p in q1.recentProgress):
            break
        _t.sleep(0.2)
    q1.stop()
    assert collected == []  # timer far out: nothing flushed before the kill

    # phase 2: more data for the SAME key, restart from the checkpoint with
    # a short TTL so the flush fires; the emitted row must cover ALL rows
    write([(7, 3, 5.0, 9_000_000)])
    q2 = start(ttl_ms=1200)
    try:
        t0 = _t.time()
        while _t.time() - t0 < 90 and not collected:
            _t.sleep(0.2)
        assert len(collected) == 1
        r = collected[0]
        assert (r["bucket"], r["n_events"], r["n_users"], r["sum_cents"]) == (
            7, 3, 3, 800,
        )
        assert (r["min_ts"], r["max_ts"]) == (1_000_000, 9_000_000)
    finally:
        q2.stop()


def test_custom_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """The connector's streaming offsets survive a restart: kill after the
    first microbatch, restart from the same checkpoint — the union of both
    runs' batches is exactly the full record range, no gap, no overlap."""
    import time as _t

    from hri_flink_validation_passthrough_spark.sources.pyds import (
        _STREAM_STEP,
        _register_ds,
    )

    _register_ds(spark)
    n_total = _STREAM_STEP * 3
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def start():
        stream = (
            spark.readStream.format("hri_envelope")
            .option("n", str(n_total))
            .load()
        )

        def sink(df, _epoch):
            seen.extend(r["record_id"] for r in df.select("record_id").collect())

        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    t0 = _t.time()
    while _t.time() - t0 < 60 and not seen:
        _t.sleep(0.1)
    q1.stop()
    n_first = len(seen)
    assert 0 < n_first  # at least one microbatch landed before the kill

    q2 = start()
    try:
        t0 = _t.time()
        while _t.time() - t0 < 120 and len(set(seen)) < n_total:
            _t.sleep(0.2)
        # exactly-once effect across the restart: every record exactly once
        # (foreachBatch replays of a committed epoch would duplicate — the
        # offset log prevents re-reading committed ranges)
        assert sorted(set(seen)) == list(range(n_total))
    finally:
        q2.stop()


def test_stream_user_activity_mapstate(spark):
    """Per-subkey keyed state matches the batch two-level recompute:
    per-bucket user maps updated per arrival, flushed by the idle timer."""
    from hri_flink_validation_passthrough_spark.session import load_table, prepare
    from hri_flink_validation_passthrough_spark.streaming.state_ttl import (
        N_BUCKETS,
        stream_user_activity_mapstate,
    )

    prepare(spark)
    got = {
        r["bucket"]: (r["n_users"], r["n_events"], r["max_user_events"])
        for r in stream_user_activity_mapstate(spark, SF).collect()
    }
    e = load_table(spark, SF, "events")
    per_user = e.groupBy(
        (F.col("user_id") % N_BUCKETS).alias("bucket"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    want = {
        r["bucket"]: (r["n_users"], r["n_events"], r["max_user_events"])
        for r in per_user.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_user_events"),
        )
        .collect()
    }
    assert got == want
