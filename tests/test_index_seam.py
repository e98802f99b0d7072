"""The durable cell-index protocol has one seam: ``_durable_index`` is the
only resolve-or-build and ``_write_cell_index`` the only writer of the cell
layout (temp dir, marker last, atomic publish). The first test pins that
structurally (pure ``ast``, no Spark); the second pins that every public
builder resolves a current index without running any build input."""

from __future__ import annotations

import ast
import os

import pytest

from tests.conftest import SF_ORACLE, drop_session_memo

_SEAM_MODULES = (
    "operators/similarity.py",
    "operators/maintenance.py",
    "streaming/windows.py",
)


def _protocol_site(node) -> str | None:
    """Which protocol step *node* is, if any."""
    if isinstance(node, ast.Call):
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "partitionBy"
            and [getattr(a, "value", None) for a in node.args] == ["cell"]
        ):
            return "partitionBy-cell"
        if getattr(f, "id", getattr(f, "attr", None)) == "_publish_index":
            return "publish"
    if isinstance(node, ast.JoinedStr) and any(
        isinstance(v, ast.Constant) and ".build-" in str(v.value)
        for v in node.values
    ):
        return "build-tempdir"
    if isinstance(node, ast.Name) and node.id == "_INDEX_META":
        return "sidecar"
    if (
        isinstance(node, ast.Attribute)
        and node.attr == "get"
        and getattr(node.value, "id", None) == "_ivf_index_dir_memo"
    ):
        return "memo-get"
    return None


# the seam helper each protocol step may appear in
_ALLOWED = {
    "partitionBy-cell": {"_write_cell_index"},
    "publish": {"_write_cell_index"},
    "build-tempdir": {"_write_cell_index"},
    # the sidecar is written by the publish and the in-place drift update,
    # and read by read_index_meta
    "sidecar": {"_write_cell_index", "_rewrite_sidecar", "read_index_meta"},
    "memo-get": {"_durable_index"},
}


def test_cell_index_protocol_lives_only_in_the_seam():
    import hri_flink_validation_passthrough_spark as pkg

    root = os.path.dirname(pkg.__file__)
    stray = []
    for rel in _SEAM_MODULES:
        with open(os.path.join(root, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read())

        def visit(node, owner):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = owner or node.name
            site = _protocol_site(node)
            if site is not None and owner not in _ALLOWED[site]:
                stray.append(f"{rel}:{node.lineno} {site} in {owner}")
            for child in ast.iter_child_nodes(node):
                visit(child, owner)

        for top in tree.body:
            # module-level assignments (the _INDEX_META constant itself)
            # are definitions, not protocol sites
            if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                visit(top, None)
    assert stray == []


def _objectstore_index(spark, sf_dir):
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    return S._first_n_index(
        spark,
        sf_dir,
        f"ivf_objstore_n{S.DNLIST}",
        S.DNLIST,
        root=S.objectstore_index_root(),
    )


_BUILDERS = (
    "ivf_durable_index",
    "objectstore",
    "ivf_upsert_index",
    "ivf_trained_index",
    "ivf_trained_upsert_index",
    "stream_maintained_ivf_index",
    "ivfpq_durable_index",
    "ivfpq_trained_upsert_index",
    "stream_maintained_ivfpq_index",
)

# every input a build computes: none may run when the index is current
_POISONED = (
    "_first_n_centroids",
    "lloyd_trained_centroids",
    "_lloyd_iterate",
    "_pq_lloyd",
    "_pq_encoded",
    "_pq_codebook",
    "_ivf_assign_probes",
)


@pytest.mark.slow
@pytest.mark.parametrize("builder", _BUILDERS)
def test_current_index_resolves_without_building(
    spark, builder, tmp_path, monkeypatch
):
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    build = (
        _objectstore_index if builder == "objectstore" else getattr(S, builder)
    )
    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    # a private directory memo: no entry for this tmp root outlives the test
    monkeypatch.setattr(S, "_ivf_index_dir_memo", {})
    path = build(spark, SF_ORACLE)

    # a fresh session: no directory memo, no memoized build inputs, and
    # every build input poisoned
    S._ivf_index_dir_memo.clear()
    drop_session_memo(
        S._collect_first_n,
        S._train_cells,
        S._pq_train_codebook,
        S._pq_encode_build,
        S._ivf_assign,
    )

    def _poisoned(*a, **kw):  # pragma: no cover
        raise AssertionError("a current index ran a build input")

    for name in _POISONED:
        monkeypatch.setattr(S, name, _poisoned)
    assert build(spark, SF_ORACLE) == path
