"""One query entry: ``plans.register`` wraps every registered query so that it
runs ``session.prepare(spark)`` once and then its body. No other package code
prepares a session (``build_session`` and ``register_views`` aside), and no
module keeps a private ``prepare`` + ``load_table`` helper."""

from __future__ import annotations

import ast
import inspect
import pathlib
from types import SimpleNamespace

from tests.conftest import REPO_ROOT, SF_SMALL

PKG = pathlib.Path(REPO_ROOT) / "hri_flink_validation_passthrough_spark"

# (module, enclosing function) pairs allowed to call prepare(); None = any
_ALLOWED = {
    ("session.py", "build_session"),
    ("session.py", "register_views"),
    ("plans/__init__.py", None),
}


def _prepare_calls(tree: ast.AST):
    """(enclosing function name, line) of every ``prepare(...)`` or
    ``x.prepare(...)`` call in *tree*."""

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "prepare":
                    yield owner, child.lineno
            yield from visit(child, owner)

    return visit(tree, None)


def test_prepare_is_called_only_at_the_query_entry():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for owner, line in _prepare_calls(tree):
            if (rel, owner) not in _ALLOWED and (rel, None) not in _ALLOWED:
                stray.append(f"{rel}:{line} in {owner}")
        stray += [
            f"{rel}:{node.lineno} defines _t"
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef) and node.name == "_t"
        ]
    assert not stray, stray


class _FakeConf(dict):
    def set(self, k, v):
        self[k] = v


def test_registered_query_sees_runtime_conf_before_its_body():
    """Both the registry's callable and the name the decorator returns
    apply RUNTIME_CONF before the body runs; the wrapper keeps the
    function's name, module and source for introspection."""
    from hri_flink_validation_passthrough_spark.plans import register
    from hri_flink_validation_passthrough_spark.session import RUNTIME_CONF

    registry: dict = {}
    seen: list = []

    @register(registry, "probe_query", oracle=None)
    def probe_query(spark, sf_dir):
        seen.append({k: spark.conf.get(k) for k in RUNTIME_CONF})
        return sf_dir

    for call in (registry["probe_query"].fn, probe_query):
        fake = SimpleNamespace(
            conf=_FakeConf(),
            sparkContext=SimpleNamespace(defaultParallelism=4, master="local[4]"),
        )
        assert call(fake, "sf") == "sf"
        assert seen.pop() == RUNTIME_CONF
    assert probe_query.__name__ == "probe_query"
    assert probe_query.__module__ == __name__
    assert "def probe_query(spark, sf_dir):" in inspect.getsource(probe_query)


def test_untuned_session_is_prepared_by_queries_that_never_load_a_table(spark):
    """Two registered queries whose bodies reach no table loader still leave
    the session tuned: ANSI mode, switched on before the call, reads off
    afterwards."""
    import __spark_entry__ as entry

    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    qs = entry.queries()
    try:
        for name in ("quantile_sketch_value_by_type", "multimodal_arrow_byte_stats"):
            spark.conf.set(key, "true")
            qs[name](spark, SF_SMALL)
            assert spark.conf.get(key) == "false", name
    finally:
        spark.conf.set(key, prev)
