"""Smoke tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench -q

The checker tests run without Spark.  ``test_run_*`` start one short run each
through ``run.py`` (about a minute in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_names_match_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert set(run._QUERIES) == set(workloads.query_names())


def _perfect_sink(ledger: gen.Ledger) -> workloads.CountSink:
    """A sink that saw exactly what the ledger expects."""
    sink = workloads.CountSink()
    for bid, n in ledger.out.items():
        sink.data.append(("out", 0, bid, n, 0.0))
        if ledger.status[bid]:
            sink.notes.append((bid, ledger.status[bid], 0.0))
    sink.data.append(("invalid", 0, "never-started", ledger.unknown_invalid, 0.0))
    return sink


def test_ledger_check_counts_each_corruption():
    plan = gen.steady_plan(seed=7, rate=400, seconds=3.0)
    assert plan.ledger.status and plan.ledger.unknown_invalid
    assert workloads.check_ledger(plan.ledger, _perfect_sink(plan.ledger)) == 0

    done = next(b for b, s in plan.ledger.status.items() if s == "completed")
    wrong_status = _perfect_sink(plan.ledger)
    wrong_status.notes = [(b, "failed" if b == done else s, t) for b, s, t in wrong_status.notes]
    assert workloads.check_ledger(plan.ledger, wrong_status) == 1

    missing = _perfect_sink(plan.ledger)
    missing.notes = [n for n in missing.notes if n[0] != done]
    assert workloads.check_ledger(plan.ledger, missing) == 1

    short = _perfect_sink(plan.ledger)
    short.data = [(d, f, b, n - (b == done), t) for d, f, b, n, t in short.data]
    assert workloads.check_ledger(plan.ledger, short) == 1

    unrouted = _perfect_sink(plan.ledger)
    unrouted.data[-1] = ("invalid", 0, "never-started", plan.ledger.unknown_invalid - 2, 0.0)
    assert workloads.check_ledger(plan.ledger, unrouted) == 2


def test_backlog_ledger_matches_its_files():
    tables, ledger = gen.backlog(seed=3, round_no=1, n_records=2000, n_files=3)
    rows = pd.concat([t.to_pandas() for t in tables])
    data = rows[rows.kind == "data"]
    assert len(data) == sum(ledger.out.values()) + ledger.unknown_invalid
    assert set(rows[rows.kind == "control"].id) == set(ledger.status)


def test_oracle_digest_detects_a_corrupted_row(tmp_path):
    from tests.oracle import run_oracle

    gen.write_tables(seed=5, out_dir=str(tmp_path), sf=0.001)
    sql = "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s FROM lineitem GROUP BY 1"
    want = run_oracle(sql, str(tmp_path))
    assert workloads.result_digest(want) == workloads.result_digest(want.iloc[::-1])
    bad = want.copy()
    bad.loc[bad.index[0], "n"] += 1
    assert workloads.result_digest(bad) != workloads.result_digest(want)


def test_seed_changes_inputs_only(tmp_path):
    a = gen.steady_plan(seed=1, rate=300, seconds=1.0)
    b = gen.steady_plan(seed=2, rate=300, seconds=1.0)
    assert a.tables[3].equals(gen.steady_plan(seed=1, rate=300, seconds=1.0).tables[3])
    assert not a.tables[3].equals(b.tables[3])
    gen.write_tables(1, str(tmp_path / "a"), sf=0.001)
    gen.write_tables(2, str(tmp_path / "b"), sf=0.001)
    assert (tmp_path / "a" / "orders.parquet").read_bytes() != (
        tmp_path / "b" / "orders.parquet").read_bytes()


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = _run("--workload", "stream_steady", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_emits_every_named_metric(trace):
    p = _run("--workload", "stream_steady", "--seed", "4", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
