#!/usr/bin/env python
"""Fleet-wide performance audits over the registered batch queries.

Three sweeps (the first two born in round 9, COVERAGE.md r9 post-close
notes):

``rescans`` — count ``Scan parquet`` nodes per table on each query's
EXECUTED plan and flag a table scanned >= threshold times (default 3). The
r8 hll_set_algebra lesson: Spark 4 applies no exchange reuse across fan-out
branches, so a shared subtree can silently execute N times; the r5 one: a
small reused intermediate that is NOT persisted re-runs its whole lineage,
base-table scan included, once per consumer. Only the plan above the first
``InMemoryRelation`` is counted: persisted subtrees print their scan nodes
there although runtime reads come from cache, and counting them over-flagged
31 of 32 queries in the r9 sweep. Not every flag is a bug: pushdown-pruned
mini-scans (IVF subsets filtered by ``vec_id < k``) read a sliver,
multi-scan shapes (TPC-H Q21's l1/l2/l3) are the query, and re-scanning a
fact table 2-3x usually beats caching O(data). Confirm a flag with the
``bytes`` mode before acting on it.

``bytes`` — runtime truth: Hadoop FileSystem bytesRead delta across a
WARM second run, as a multiple of the query's source-table size. A warm
ratio much above the number of genuinely required passes is a real
rescan (the r9 find: ann_pq_depth_recall_sweep at 18 scans -> fixed to 2
with a lazy localCheckpoint barrier).

``plantax`` — per-query plan-construction vs execution time on a warm
call. Build-heavy queries either run driver-side loops (their real work)
or carry a literal-model planning tax: large literal arrays in the
expression tree are re-analyzed per call (~1.6 s for 64x64 doubles,
~0.5 s for 1024 longs — three r9 fixes in BASELINE.md). Ship model
artifacts as broadcast data or memoize behind a lazy checkpoint, UNLESS
the literal is probed per element inside a lambda (element_at per token),
where a join would force a shuffle.

Usage: python tools/perf_audit.py {rescans|bytes|plantax} [sf_dir] [threshold]
"""

from __future__ import annotations

import collections
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKIP_PREFIXES = ("stream_", "custom_source_stream")


def _session(cpus: int = 8):
    from hri_flink_validation_passthrough_spark.session import build_session

    spark = build_session("perf_audit", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _batch_queries():
    import __spark_entry__ as entry

    return {
        n: fn
        for n, fn in entry.queries().items()
        if not n.startswith(SKIP_PREFIXES)
    }


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def cmd_rescans(sf_dir: str, threshold: int = 3) -> None:
    spark = _session()
    for name, fn in _batch_queries().items():
        try:
            df = fn(spark, sf_dir)
            _noop(df)
            plan = df._jdf.queryExecution().executedPlan().toString()
            live = plan.split("InMemoryRelation")[0]
            per: collections.Counter = collections.Counter()
            for s in re.findall(r"Scan parquet[^\n]*", live):
                m = re.search(r"/(\w+)\.parquet", s)
                per[m.group(1) if m else "other"] += 1
            if per and max(per.values()) >= threshold:
                print(f"FLAG {name}: {dict(per)} (confirm with `bytes`)")
        except Exception as ex:  # noqa: BLE001 - audit keeps sweeping
            print(f"ERR {name}: {str(ex)[:120]}")
    print(f"rescans sweep done (threshold {threshold})")


def cmd_bytes(sf_dir: str) -> None:
    spark = _session()
    jvm = spark.sparkContext._jvm

    def bytes_read() -> int:
        tot, it = 0, jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().iterator()
        while it.hasNext():
            tot += it.next().getBytesRead()
        return tot

    total_sz = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    for name, fn in _batch_queries().items():
        try:
            _noop(fn(spark, sf_dir))  # warm memos/caches
            b0 = bytes_read()
            _noop(fn(spark, sf_dir))
            ratio = (bytes_read() - b0) / total_sz
            if ratio > 3:
                print(f"FLAG {name}: warm run reads {ratio:.1f}x ALL tables")
        except Exception as ex:  # noqa: BLE001
            print(f"ERR {name}: {str(ex)[:120]}")
    print("bytes sweep done")


def cmd_plantax(sf_dir: str) -> None:
    spark = _session(cpus=16)
    for name, fn in _batch_queries().items():
        try:
            _noop(fn(spark, sf_dir))  # warm
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            build, run = t1 - t0, t2 - t1
            if build > 0.3 and build > run * 0.4:
                print(f"FLAG {name}: build={build:.2f}s run={run:.2f}s")
        except Exception as ex:  # noqa: BLE001
            print(f"ERR {name}: {str(ex)[:120]}")
    print("plantax sweep done")


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in ("rescans", "bytes", "plantax"):
        print(__doc__)
        sys.exit(2)
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    if sys.argv[1] == "rescans":
        cmd_rescans(sf_dir, *map(int, sys.argv[3:4]))
        return
    {"bytes": cmd_bytes, "plantax": cmd_plantax}[sys.argv[1]](sf_dir)


if __name__ == "__main__":
    main()
