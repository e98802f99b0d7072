#!/usr/bin/env python
"""Same-code rep-spread adjudication for ANY registered query — the
generalized form of ab_prefix_join.py (since deleted; r8 ask #1, r9 ask #5): when a driver
bench number moves on UNTOUCHED code, there is no candidate policy to race;
the fallback protocol bounds the same-code spread instead. Several fresh
JVMs (parquet footer caches / code caches / persisted memos never carry
across sessions), each warming once (builds session memos exactly like the
driver's best-of-N first pass) then measuring R reps. If the pooled spread
covers the driver anchors, the delta is box drift, not a plan cost.

Usage: python tools/ab_rep_spread.py QUERY [sessions=4] [reps-per-session=4]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sessions = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from hri_flink_validation_passthrough_spark.session import build_session

    spec = entrymod._all_specs()[name]

    all_times: list[float] = []
    bests: list[float] = []
    for s in range(sessions):
        spark = build_session(f"ab_{name}_{s}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")

        def run_once() -> float:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        warm = run_once()  # cold: builds session memos (unmeasured)
        ts = [run_once() for _ in range(reps)]
        all_times.extend(ts)
        bests.append(min(ts))
        print(
            f"session {s}: warm={warm:.3f}s reps={[round(t, 3) for t in ts]} "
            f"best={min(ts):.3f}s",
            file=sys.stderr,
        )
        spark.stop()

    print(
        f"\n{name} pooled warm reps n={len(all_times)}: "
        f"min={min(all_times):.3f} median={statistics.median(all_times):.3f} "
        f"mean={statistics.mean(all_times):.3f} max={max(all_times):.3f}"
    )
    print(
        f"per-session bests (driver records best-of-N): "
        f"{[round(b, 3) for b in bests]}"
    )


if __name__ == "__main__":
    main()
