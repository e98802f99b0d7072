#!/usr/bin/env python
"""Interleaved same-session A/B for the r16 _outcomes restructure
(passthrough_route_relational): OLD = ctrl materialized (lazy
localCheckpoint) + final `ctrl LEFT JOIN agg`; NEW = ctrl columns carried
through the record aggregation via first(), single outcomes
materialization. Alternates arms in ONE session so box drift cannot fake a
winner; reports per-rep plan-build and noop-exec seconds.

Usage: python tools/ab_relational_outcomes.py [reps] [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _outcomes_old(records, controls, delay_ms, ctrl_agg=None):
    """The r15-shipped form, verbatim (git 8204e0d)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.model import COMPLETED, FAILED, SEND_COMPLETED, STARTED, TERMINATED
    from hri_flink_validation_passthrough_spark.operators import passthrough_relational as prel

    _BUCKET_MS = prel._BUCKET_MS
    if ctrl_agg is not None:
        ctrl = ctrl_agg
    else:
        ctrl = controls.groupBy(F.col("id").alias("batch_id")).agg(
            F.min(F.when(F.col("status") == STARTED, F.col("time_ms"))).alias("started_t"),
            F.min(F.when(F.col("status") == SEND_COMPLETED, F.col("time_ms"))).alias("sc_t_raw"),
            F.max(
                F.when(F.col("status") == SEND_COMPLETED, F.col("expectedRecordCount"))
            ).alias("expected_raw"),
            F.min(F.when(F.col("status") == TERMINATED, F.col("time_ms"))).alias("term_t"),
        )
        ctrl = ctrl.withColumn(
            "sc_t",
            F.when(
                F.col("term_t").isNotNull() & (F.col("sc_t_raw") >= F.col("term_t")),
                F.lit(None),
            ).otherwise(F.col("sc_t_raw")),
        ).withColumn(
            "expected",
            F.when(F.col("sc_t").isNull(), F.lit(None)).otherwise(F.col("expected_raw")),
        ).select("batch_id", "started_t", "sc_t", "expected", "term_t")

    ctrl = prel.materialize(ctrl, eager=False)

    r = records.select("batch_id", "time_ms", "seq").join(
        F.broadcast(ctrl), "batch_id", "left"
    )
    eligible = F.col("term_t").isNull() | (F.col("time_ms") < F.col("term_t"))
    r = r.withColumn("bucket", F.expr(f"time_ms div {_BUCKET_MS}"))
    r = r.withColumn("elig", F.when(eligible, 1).otherwise(0))
    r = r.repartition("batch_id", "bucket")
    w_buckets = (
        Window.partitionBy("batch_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        r.groupBy("batch_id", "bucket")
        .agg(F.sum("elig").alias("b_total"))
        .withColumn(
            "b_offset", F.coalesce(F.sum("b_total").over(w_buckets), F.lit(0))
        )
        .select("batch_id", "bucket", "b_offset")
    )
    w_in = (
        Window.partitionBy("batch_id", "bucket")
        .orderBy("time_ms", "seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = r.join(F.broadcast(offsets), ["batch_id", "bucket"]).withColumn(
        "cnt", F.col("b_offset") + F.sum("elig").over(w_in)
    )
    agg = r.groupBy("batch_id").agg(
        F.count(F.when(eligible & (F.col("time_ms") < F.col("sc_t")), 1)).alias(
            "processed_at_sc"
        ),
        F.min(
            F.when(eligible & (F.col("cnt") == F.col("expected")), F.col("time_ms"))
        ).alias("t_expected"),
        F.min(
            F.when(eligible & (F.col("cnt") == F.col("expected") + 1), F.col("time_ms"))
        ).alias("t_over"),
    )
    o = ctrl.join(agg, "batch_id", "left")

    failed_at_sc = F.col("sc_t").isNotNull() & (
        F.col("processed_at_sc") > F.col("expected")
    )
    armed = (
        F.col("sc_t").isNotNull()
        & (F.col("expected") > 0)
        & ~failed_at_sc
        & F.col("t_expected").isNotNull()
    )
    deadline = F.greatest(F.col("sc_t"), F.col("t_expected")) + F.lit(delay_ms)
    failed_in_window = armed & F.col("t_over").isNotNull() & (
        F.col("t_over") < deadline
    )
    completed = armed & ~failed_in_window & F.col("term_t").isNull()
    # old outcome table had no `known`; reproduce the r15 route join shape
    return o.select(
        "batch_id",
        "term_t",
        F.when(completed, deadline).alias("completed_t"),
        F.when(failed_at_sc | failed_in_window, F.lit(FAILED))
        .when(completed, F.lit(COMPLETED))
        .alias("final_status"),
        F.lit(True).alias("known"),
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hri_flink_validation_passthrough_spark.session import build_session
    from hri_flink_validation_passthrough_spark.operators import passthrough_relational as prel

    spark = build_session("ab_rel_outcomes", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    fn = entry.queries()["passthrough_route_relational"]
    new_outcomes = prel._outcomes

    def run(tag):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_plan = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t_exec = time.perf_counter() - t0
        print(f"{tag}: plan {t_plan:.3f}s exec {t_exec:.3f}s total {t_plan+t_exec:.3f}s", flush=True)
        return t_plan, t_exec

    # warm both arms once
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    run("warm-new")
    prel._outcomes = _outcomes_old
    run("warm-old")
    prel._outcomes = new_outcomes

    res = {"new": [], "old": []}
    for i in range(reps):
        prel._outcomes = new_outcomes
        res["new"].append(run(f"rep{i} NEW"))
        prel._outcomes = _outcomes_old
        res["old"].append(run(f"rep{i} OLD"))
    prel._outcomes = new_outcomes

    for arm in ("new", "old"):
        plans = sorted(p for p, _ in res[arm])
        execs = sorted(e for _, e in res[arm])
        tots = sorted(p + e for p, e in res[arm])
        print(
            f"{arm}: plan best {plans[0]:.3f} med {plans[len(plans)//2]:.3f} | "
            f"exec best {execs[0]:.3f} med {execs[len(execs)//2]:.3f} | "
            f"total best {tots[0]:.3f} med {tots[len(tots)//2]:.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
