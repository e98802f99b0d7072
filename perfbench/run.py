"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Workloads:

- ``stream_steady``: open-loop file arrivals routed by ``build_routed_stream``
  (many small triggers: trigger overhead, state store, timers);
- ``query_mix``: the ``bench.py`` headline queries on generated tables
  (driver plan build, scheduling and the batch operators).

Inputs are generated from ``--seed``.  Every output is checked: the stream
workloads against the generator's expected-outcome ledger, the queries against
their DuckDB oracles.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (which also writes
all spans to ``.perfbench_out/``).  Scratch files live under
``.perfbench_tmp/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hri_flink_validation_passthrough_spark"
WORKLOADS = ("stream_steady", "query_mix")
DRIVER_MEMORY = "2g"
SETUP_CYCLES = 5  # the first launches the JVM; setup_s is the median

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rss_p50_mb": ("MB", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
}

_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q10_returned_customers", "top3_orders_per_customer", "events_sessionize",
    "asof_latest_order_per_event", "passthrough_route",
    "passthrough_route_relational", "dedup_minhash_lsh", "dedup_exact",
    "dedup_clusters", "dedup_embedding_srp_lsh", "knn_brute_force",
    "ann_ivf_topk", "text_quality_score",
)

# name -> (unit, better); a layer a workload does not exercise reads 0
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.cold_build_s": ("s", "lower"),
    "session.cold_warmup_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "sources.gen_lag_p99_ms": ("ms", "lower"),
    "sources.read_ms_p50": ("ms", "lower"),
    "topology.build_ms": ("ms", "lower"),
    "topology.triggers": ("count", "lower"),
    "topology.empty_triggers": ("count", "lower"),
    "topology.trigger_ms_p50": ("ms", "lower"),
    "topology.trigger_ms_p99": ("ms", "lower"),
    "topology.overhead_ms_p50": ("ms", "lower"),
    "topology.wal_commit_ms_p50": ("ms", "lower"),
    "topology.query_planning_ms_p50": ("ms", "lower"),
    "topology.state_commit_ms": ("ms", "lower"),
    "topology.state_update_ms": ("ms", "lower"),
    "topology.state_rows_total": ("count", "lower"),
    "topology.state_memory_bytes": ("B", "lower"),
    "topology.rows_per_trigger_p50": ("count", "higher"),
    "topology.shuffle_bytes": ("B", "lower"),
    "passthrough.py_run_ms": ("ms", "lower"),
    "passthrough.py_start_ms": ("ms", "lower"),
    "passthrough.py_bytes_sent": ("B", "lower"),
    "passthrough.py_bytes_returned": ("B", "lower"),
    "passthrough.plan_build_ms": ("ms", "lower"),
    "stream.batch_close_p50_ms": ("ms", "lower"),
    "stream.batch_close_p90_ms": ("ms", "lower"),
    "stream.batches_closed": ("count", "higher"),
    "sink.ms_p50": ("ms", "lower"),
    "query.total_s": ("s", "lower"),
    "query.per_s": ("1/s", "higher"),
    **{
        f"query.{q}.{k}": (u, "lower")
        for q in _QUERIES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    **{
        f"family.{f}.{k}": (u, "lower")
        for f in ("relational", "pipeline", "operators")
        for k, u in (
            ("wall_s", "s"), ("task_s", "s"), ("sched_share", "share"),
            ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("py_run_ms", "ms"),
        )
    },
    "trace.collector_ms": ("ms", "lower"),
    "trace.latency_p50_ms": ("ms", "lower"),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(tmp: str) -> dict[str, str]:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from it."""
    for d in ("local", "jvm", "py"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed, modest driver heap: with the package default (8g) the JVM's
    # resident size follows GC timing more than the work done
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    os.environ["TMPDIR"] = f"{tmp}/py"
    # every JVM (the launcher's too): temp files in the checkout, no
    # hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvm"
    import tempfile

    tempfile.tempdir = f"{tmp}/py"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.local.dir": f"{tmp}/local",
        # keep every trigger's progress for the traced run
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def _warm(spark) -> None:
    """Run one small job through the fresh session.  (Python workers start in
    each workload's own unmeasured warm-up: the stream prime, backlog 0, the
    oracle pass.)"""
    spark.range(200_000).selectExpr("sum(id)").collect()


def setup(conf: dict, tracer, cycles: int = SETUP_CYCLES):
    """Build the session and warm it *cycles* times (the first one launches
    the JVM); returns the last session and per-cycle (build, warm-up) s."""
    from hri_flink_validation_passthrough_spark.session import build_session

    spark, times = None, []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        with tracer.span("session.build_session"):
            t0 = time.perf_counter()
            spark = build_session("perfbench", cpus=_cpus(), extra_conf=conf)
            t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("session.warmup"):
            _warm(spark)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def shutdown(spark) -> None:
    """Stop the session, the JVM and every process under this one, and wait
    until each has exited."""
    from perfbench.probe import descendants

    me = os.getpid()
    pids = descendants(me)
    proc = None
    if spark is not None:
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            spark.stop()
        finally:
            gw.shutdown()
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    pids += descendants(me)
    t_end = time.time() + 20
    for pid in dict.fromkeys(pids):
        while _alive(pid):
            if time.time() > t_end:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median(xs):
    from perfbench.probe import median

    return median(xs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench import workloads
    from perfbench.probe import RssSampler, Tracer

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    conf = _environment(tmp)
    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}")
    spark = None
    try:
        with RssSampler() as rss:
            spark, times = setup(conf, tracer)
            e2e, layers, attempted, failed, window = getattr(workloads, args.workload)(
                spark, args.seed, args.seconds, tracer, f"{tmp}/work")
            shutdown(spark)
            spark = None
    except Exception:
        traceback.print_exc()
        shutdown(spark)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    e2e["setup_s"] = _median([b + w for b, w in times])
    # the median over the measured window: Python workers come and go with
    # the tasks, so the peak mostly reflects how many happened to overlap,
    # and set-up and warm-up run at lower footprints for varying times
    e2e["rss_p50_mb"] = _median(rss.between(*window)) / (1 << 20)
    if args.trace:
        layers.update({
            "session.build_s": _median([b for b, _ in times[1:]]),
            "session.warmup_s": _median([w for _, w in times[1:]]),
            "session.cold_build_s": times[0][0],
            "session.cold_warmup_s": times[0][1],
            "process.peak_rss_mb": max(rss.samples) / (1 << 20),
            "topology.build_ms": 1000 * tracer.total("topology.build_routed_stream"),
            "trace.collector_ms": 1000 * tracer.total("trace.collect"),
            "trace.latency_p50_ms": e2e["latency_p50_ms"],
        })
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
            {"layers": layers, "end_to_end": e2e},
        )
        spec, values = PER_LAYER, layers
    else:
        spec, values = END_TO_END, e2e
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, (unit, _better) in spec.items()
        },
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
