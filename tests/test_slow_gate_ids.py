"""Every id in tests/slow_gate.py must still name a test: a renamed or
deleted test would otherwise drop out of the gate silently and run in the
default pass. Pure ``ast``, no Spark."""

from __future__ import annotations

import ast
import os

from tests.conftest import REPO_ROOT
from tests.slow_gate import SLOW_NODEIDS


def test_every_slow_gate_id_resolves_to_a_test_function():
    defined: dict[str, set[str]] = {}
    missing = []
    for nodeid in sorted(SLOW_NODEIDS):
        path, _, name = nodeid.partition("::")
        name = name.partition("[")[0]
        if path not in defined:
            full = os.path.join(REPO_ROOT, path)
            if not os.path.isfile(full):
                missing.append(nodeid)
                continue
            with open(full, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=full)
            defined[path] = {
                n.name for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
        if name not in defined[path]:
            missing.append(nodeid)
    assert not missing, f"slow-gate ids with no test behind them: {missing}"
