"""The benchmark workloads, driven through the package's public entry
points from outside.

Each workload returns ``(e2e, layers, attempted, failed, window)``, *window*
being the epoch seconds (start, end) of its measured part.  The end-to-end
``latency_p50_ms`` / ``latency_p90_ms`` are per operation on every workload.
An operation is a record on ``stream_steady``, timed from when its file was due
to the sink commit that emitted it, and one query on ``query_mix``, timed as
plan build + noop-sink execution (median over the timed passes).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading
import time

from perfbench import gen
from perfbench.probe import SparkStores, median, pct, progress_rows

# stream_steady offered load: about an eighth of what the same job sustains
# on a staged backlog in large triggers on a 4-core host (~6k records/s).  A
# trigger then costs little more than an empty one, so a stall adds few rows
# to the next trigger and the loop settles within a cycle or two.
STEADY_RATE = 750  # records/s
# open-loop lead-in before the measured window: the first trigger cycles
# after the prime run up to half again as long as the later ones (JIT,
# Python workers) and leave a backlog; timing starts once both have settled
STEADY_WARM_S = 12.0
COMPLETION_DELAY_MS = 500
FILES_PER_TRIGGER = 50  # the declared per-trigger bound: 5 s of arrivals
QUERY_SF = 0.01
DEADLINE_S = 90.0  # no wait on the job outlives this

PIPELINE = ("passthrough_route", "passthrough_route_relational")


# ---------------------------------------------------------------------------
# streaming harness
# ---------------------------------------------------------------------------
class CountSink:
    """``foreachBatch`` stand-in for the Kafka fan-out: one distributed
    aggregate per micro-batch, recording when each group was committed."""

    def __init__(self):
        self.lock = threading.Lock()
        self.data: list[tuple] = []  # (dest, fseq, batch_id, count, t_commit)
        self.notes: list[tuple] = []  # (batch_id, status, t_commit)
        self.routed = 0
        self.call_ms: list[float] = []
        self.query = None  # set to read per-batch plan metrics (traced runs)
        self.plan: dict[str, float] = {}

    def __call__(self, df, epoch_id) -> None:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        is_note = F.col("dest") == "notification"
        rows = (
            df.select(
                "dest",
                "batch_id",
                F.when(~is_note, F.substring_index(F.col("key").cast("string"), ":", 1)
                       .cast("long")).alias("fseq"),
                F.when(is_note, F.get_json_object(F.col("value").cast("string"), "$.status"))
                .alias("status"),
            )
            .groupBy("dest", "batch_id", "fseq", "status")
            .count()
            .collect()
        )
        now = time.time()
        if self.query is not None:
            from perfbench.probe import plan_metrics

            # the running micro-batch's IncrementalExecution
            ex = self.query._jsq.streamingQuery().lastExecution()
            if ex is not None:
                for k, v in plan_metrics(df.sparkSession._jvm, ex.executedPlan()).items():
                    self.plan[k] = self.plan.get(k, 0.0) + v
        with self.lock:
            for r in rows:
                if r["dest"] == "notification":
                    self.notes.extend([(r["batch_id"], r["status"], now)] * r["count"])
                else:
                    self.data.append((r["dest"], r["fseq"], r["batch_id"], r["count"], now))
                    self.routed += r["count"]
        self.call_ms.append((time.perf_counter() - t0) * 1000)


def _start_stream(spark, tracer, tmp: str, schema_file: str):
    """Route the parquet files appearing under ``tmp/src`` into a CountSink."""
    from hri_flink_validation_passthrough_spark.streaming import topology

    src = (
        spark.readStream.schema(spark.read.parquet(schema_file).schema)
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .parquet(f"{tmp}/src")
    )
    records = src.where("kind = 'data'").select(*gen.RECORD_COLS)
    notes = src.where("kind = 'control'").select(*gen.CONTROL_COLS)
    with tracer.span("topology.build_routed_stream"):
        routed = topology.build_routed_stream(
            records, notes, completion_delay_ms=COMPLETION_DELAY_MS,
            per_trigger_bound="source-option",
        )
    sink = CountSink()
    writer = (
        routed.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
    )
    return writer.start(), sink


def _wait(q, cond, deadline_s: float) -> bool:
    """Poll *cond* until true, the query dies (raises) or the deadline."""
    t_end = time.time() + deadline_s
    while not cond():
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"streaming query failed: {exc}")
        if time.time() > t_end:
            return False
        time.sleep(0.02)
    return True


def check_ledger(ledger: gen.Ledger, sink: CountSink) -> int:
    """Failures: each batch whose terminal status or .out count is wrong or
    missing, plus each record routed where the ledger does not expect it or
    never routed at all."""
    out: dict[str, int] = {}
    invalid_known = invalid_unknown = 0
    for dest, _fseq, bid, n, _t in sink.data:
        if dest == "out":
            out[bid] = out.get(bid, 0) + n
        elif bid in ledger.out:
            invalid_known += n
        else:
            invalid_unknown += n
    notes: dict[str, list[str]] = {}
    for bid, status, _t in sink.notes:
        notes.setdefault(bid, []).append(status)
    failed = 0
    for bid, want in ledger.status.items():
        got, n_out = notes.pop(bid, []), out.pop(bid, 0)
        if got != ([want] if want else []) or n_out != ledger.out[bid]:
            failed += 1
    failed += len(notes) + sum(out.values())  # notes / .out rows for no batch
    failed += invalid_known + abs(invalid_unknown - ledger.unknown_invalid)
    return failed


def _progress_layers(prog: list[dict], since: float) -> dict[str, float]:
    """Trigger-level counters from ``recentProgress`` for triggers that
    started at or after *since* (epoch s)."""
    rows = [
        p for p in prog
        if dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() >= since
    ]
    dur = [p.get("durationMs", {}) for p in rows]
    ops = [p.get("stateOperators") or [{}] for p in rows]
    full = [p["numInputRows"] for p in rows if p["numInputRows"]]
    return {
        "topology.triggers": len(rows),
        "topology.empty_triggers": sum(1 for p in rows if not p["numInputRows"]),
        "topology.trigger_ms_p50": pct([d.get("triggerExecution", 0) for d in dur], 50),
        "topology.trigger_ms_p99": pct([d.get("triggerExecution", 0) for d in dur], 99),
        "topology.overhead_ms_p50": pct(
            [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur], 50),
        "topology.wal_commit_ms_p50": pct([d.get("walCommit", 0) for d in dur], 50),
        "topology.query_planning_ms_p50": pct([d.get("queryPlanning", 0) for d in dur], 50),
        "topology.state_commit_ms": sum(o[0].get("commitTimeMs", 0) for o in ops),
        "topology.state_update_ms": sum(o[0].get("allUpdatesTimeMs", 0) for o in ops),
        "topology.state_rows_total": ops[-1][0].get("numRowsTotal", 0) if ops else 0,
        "topology.state_memory_bytes": max((o[0].get("memoryUsedBytes", 0) for o in ops), default=0),
        "topology.rows_per_trigger_p50": pct(full, 50),
        "sources.read_ms_p50": pct(
            [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur], 50),
    }


def _plan_layers(sink: CountSink) -> dict[str, float]:
    m = sink.plan
    return {
        "topology.shuffle_bytes": m.get("shuffle_bytes", 0.0),
        "passthrough.py_run_ms": m.get("py_run_ms", 0.0),
        "passthrough.py_start_ms": m.get("py_start_ms", 0.0) + m.get("py_init_ms", 0.0),
        "passthrough.py_bytes_sent": m.get("py_bytes_sent", 0.0),
        "passthrough.py_bytes_returned": m.get("py_bytes_returned", 0.0),
    }


# ---------------------------------------------------------------------------
# stream_steady
# ---------------------------------------------------------------------------
def stream_steady(spark, seed: int, seconds: float, tracer, tmp: str):
    """Open loop: one thread writes one small file every tick on a fixed
    schedule, whether or not the job keeps up."""
    plan = gen.steady_plan(seed, STEADY_RATE, STEADY_WARM_S + seconds)
    os.makedirs(f"{tmp}/src")
    os.makedirs(f"{tmp}/prime")
    prime, ledger = gen.backlog(seed, 999, 200, 1, n_batches=2)
    gen.write_atomic(prime[0], f"{tmp}/prime/p.parquet")
    n_prime = pq_rows(f"{tmp}/prime/p.parquet")
    ledger.merge(plan.ledger)
    warm_files = int(round(STEADY_WARM_S / plan.tick_s))
    lag: list[float] = []

    q, sink = _start_stream(spark, tracer, tmp, f"{tmp}/prime/p.parquet")
    try:
        # prime: the first trigger that runs the stateful operator starts its
        # Python workers; keep that out of the open loop
        os.rename(f"{tmp}/prime/p.parquet", f"{tmp}/src/p.parquet")
        if not _wait(q, lambda: sink.routed >= n_prime, DEADLINE_S):
            raise RuntimeError("priming batch was not routed")
        if tracer.enabled:
            sink.query = q
        t_start = time.time() + 0.2
        due = [t_start + k * plan.tick_s for k in range(len(plan.tables))]

        def generate() -> None:
            for k, table in enumerate(plan.tables):
                pause = due[k] - time.time()
                if pause > 0:
                    time.sleep(pause)
                gen.write_atomic(table, f"{tmp}/src/f{k:06d}.parquet")
                lag.append(time.time() - due[k])

        with tracer.span("sources.generator"):
            writer = threading.Thread(target=generate, daemon=True)
            writer.start()
            writer.join(timeout=len(plan.tables) * plan.tick_s + DEADLINE_S)
        want = ledger.totals()
        done = _wait(
            q,
            lambda: sink.routed >= want["out"] + want["invalid"]
            and len(sink.notes) >= want["notification"],
            DEADLINE_S,
        )
    finally:
        q.stop()
    failed = check_ledger(ledger, sink) or (0 if done else 1)

    measured = _whole_cycles(
        [(f, n, t) for _d, f, _b, n, t in sink.data if f is not None and f < len(due)],
        warm_files, due)
    lat_ms = [x * 1000 for _, x in measured]
    weights = [n for n, _ in measured]
    close_ms = [
        (t - due[plan.close_tick[b]]) * 1000 - COMPLETION_DELAY_MS
        for b, s, t in sink.notes
        if s == "completed" and plan.close_tick.get(b, -1) >= warm_files
    ]
    e2e = {
        "latency_p50_ms": pct(lat_ms, 50, weights),
        "latency_p90_ms": pct(lat_ms, 90, weights),
    }
    layers = {
        "stream.batch_close_p50_ms": pct(close_ms, 50),
        "stream.batch_close_p90_ms": pct(close_ms, 90),
        "stream.batches_closed": len(close_ms),
        "sources.gen_lag_p99_ms": pct([x * 1000 for x in lag], 99),
        "sink.ms_p50": median(sink.call_ms),
    }
    if tracer.enabled:
        prog = progress_rows(q)
        tracer.attached["progress"] = prog
        layers.update(_progress_layers(prog, t_start))
        layers.update(_plan_layers(sink))
    attempted = plan.n_records + n_prime + len(ledger.status)
    return e2e, layers, attempted, failed, (due[warm_files], due[-1])


def _whole_cycles(rows: list[tuple], first: int, due: list[float]) -> list[tuple]:
    """(count, latency s) of the records of schedule files >= *first* that
    were picked up by a whole trigger cycle.

    Triggers run back to back, so a record waits for the running trigger to
    end and then for its own.  The first trigger after the warm-up and the
    last one of the schedule each see only part of a cycle's arrivals, which
    would make the percentiles depend on where the run started; their records
    are left out when any whole cycle remains."""
    commits: dict[float, list[int]] = {}
    for f, _n, t in rows:
        commits.setdefault(t, []).append(f)
    order = sorted(commits)
    whole = {t for t in order[:-1] if min(commits[t]) >= first}
    keep = [(n, t - due[f]) for f, n, t in rows if f >= first and t in whole]
    return keep or [(n, t - due[f]) for f, n, t in rows if f >= first]


def pq_rows(path: str) -> int:
    """Data rows in one staged stream file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    kind = pq.read_table(path, columns=["kind"])["kind"]
    return int(pc.sum(pc.equal(kind, "data")).as_py() or 0)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
def query_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def family(name: str, module: str) -> str:
    if name in PIPELINE:
        return "pipeline"
    return "relational" if ".plans." in module else "operators"


def result_digest(pdf) -> str:
    """Order-insensitive digest of a result, canonicalised exactly like the
    repository's oracle compare (tests/oracle.py)."""
    import hashlib

    from tests.oracle import canon_rows

    return hashlib.sha256(repr(canon_rows(pdf)).encode()).hexdigest()


def query_mix(spark, seed: int, seconds: float, tracer, tmp: str):
    """The bench.py headline queries: one untimed pass that also checks each
    result against its DuckDB oracle, one untimed noop-sink pass, then as
    many whole timed passes as the first one says fit in *seconds*."""
    import __spark_entry__ as entry
    from hri_flink_validation_passthrough_spark.operators import (
        passthrough,
        passthrough_relational,
    )
    from tests.oracle import run_oracle

    data = f"{tmp}/data"
    gen.write_tables(seed, data, QUERY_SF)
    specs = entry._all_specs()
    names = query_names()
    fam = {n: family(n, specs[n].fn.__module__) for n in names}
    trace = tracer.enabled
    failed = attempted = 0
    for n in names:
        attempted += 1
        try:
            got = result_digest(specs[n].fn(spark, data).toPandas())
            if got != result_digest(run_oracle(specs[n].oracle, data)):
                print(f"{n}: result differs from its oracle", file=sys.stderr, flush=True)
                failed += 1
        except Exception as exc:  # a failing query is counted, not fatal
            print(f"{n}: {exc!r}"[:500], file=sys.stderr, flush=True)
            failed += 1
    # the first noop-sink pass after the checked one still runs about a
    # third slower than the later ones (JIT, codegen caches); a query that
    # fails here fails again in the timed passes, where it is counted
    for n in names:
        try:
            specs[n].fn(spark, data).write.mode("overwrite").format("noop").save()
        except Exception:
            pass

    stores = SparkStores(spark) if trace else None
    if trace:
        tracer.wrap(passthrough, "run_pipeline_batch")
        tracer.wrap(passthrough_relational, "route_records_relational")
    build: dict[str, list[float]] = {n: [] for n in names}
    run: dict[str, list[float]] = {n: [] for n in names}
    store: dict[str, dict[str, float]] = {}
    t0, w0 = time.perf_counter(), time.time()
    executed = done = 0
    passes = None  # whole passes, as many as the first one says fit
    while True:
        for n in names:
            attempted += 1
            if trace:
                e0, s0, j0 = stores.last_execution_id(), stores.max_stage_id(), stores.max_job_id()
            try:
                with tracer.span(f"query.{n}.build"):
                    b0 = time.perf_counter()
                    df = specs[n].fn(spark, data)
                    b1 = time.perf_counter()
                with tracer.span(f"query.{n}.exec"):
                    df.write.mode("overwrite").format("noop").save()
                    b2 = time.perf_counter()
            except Exception as exc:
                print(f"{n}: {exc!r}"[:500], file=sys.stderr, flush=True)
                failed += 1
                continue
            executed += 1
            build[n].append(b1 - b0)
            run[n].append(b2 - b1)
            if trace:
                with tracer.span("trace.collect"):
                    acc = store.setdefault(n, {})
                    for k, v in stores.sql_metrics(e0).items():
                        acc[k] = acc.get(k, 0.0) + v
                    acc["task_s"] = acc.get("task_s", 0.0) + stores.task_seconds(s0)
                    acc["jobs"] = acc.get("jobs", 0) + stores.max_job_id() - j0
                    acc["passes"] = acc.get("passes", 0) + 1
        done += 1
        if passes is None:
            passes = max(1, round(seconds / (time.perf_counter() - t0)))
        if done >= passes:
            break
    wall, w1 = time.perf_counter() - t0, time.time()

    per_query = {n: median(build[n]) + median(run[n]) for n in names}
    ms = [v * 1000 for v in per_query.values()]
    e2e = {
        "latency_p50_ms": pct(ms, 50),
        "latency_p90_ms": pct(ms, 90),
    }
    layers: dict[str, float] = {
        "query.total_s": sum(per_query.values()),
        "query.per_s": executed / wall,
    }
    cores = spark.sparkContext.defaultParallelism
    for n in names:
        layers[f"query.{n}.build_s"] = median(build[n])
        layers[f"query.{n}.exec_s"] = median(run[n])
    for f in ("relational", "pipeline", "operators"):
        members = [n for n in names if fam[n] == f]
        fwall = sum(per_query[n] for n in members)
        layers[f"family.{f}.wall_s"] = fwall
        if not trace:
            continue
        per_pass = {
            k: sum(store.get(n, {}).get(k, 0.0) / max(1, store.get(n, {}).get("passes", 1))
                   for n in members)
            for k in ("task_s", "shuffle_bytes", "spill_bytes", "py_run_ms")
        }
        layers[f"family.{f}.task_s"] = per_pass["task_s"]
        layers[f"family.{f}.sched_share"] = 1 - per_pass["task_s"] / max(1e-9, fwall * cores)
        layers[f"family.{f}.shuffle_bytes"] = per_pass["shuffle_bytes"]
        layers[f"family.{f}.spill_bytes"] = per_pass["spill_bytes"]
        layers[f"family.{f}.py_run_ms"] = per_pass["py_run_ms"]
    if trace:
        for n in names:
            acc = store.get(n, {})
            layers[f"query.{n}.jobs"] = acc.get("jobs", 0) / max(1, acc.get("passes", 1))
        layers["passthrough.plan_build_ms"] = 1000 * (
            tracer.total("passthrough.run_pipeline_batch")
            + tracer.total("passthrough_relational.route_records_relational")
        ) / max(1, len(build["passthrough_route"]))
    return e2e, layers, attempted, failed, (w0, w1)
