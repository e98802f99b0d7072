"""Properties of ``session.session_memo``, the one memo every session cache
of corpus-derived artifacts goes through. A fake session and fake builders
stand in for Spark: the key and eviction rules are pure driver-side logic,
so no Spark job runs here."""

from __future__ import annotations

from types import SimpleNamespace
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame

from hri_flink_validation_passthrough_spark import session

SOURCE = "src.parquet"
FAKE = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-fake"))


class Builder:
    """Records every build and returns a fresh object per build."""

    def __init__(self, make=object):
        self.calls: list[tuple] = []
        self.make = make
        self.__module__ = __name__
        self.__qualname__ = f"Builder#{id(self)}"

    def __call__(self, spark, sf_dir, *params):
        self.calls.append((sf_dir, params))
        return self.make()


@pytest.fixture
def memo(monkeypatch, tmp_path):
    """An empty memo and a source file under a fresh data dir."""
    monkeypatch.setattr(session, "_MEMO", {})
    (tmp_path / SOURCE).write_bytes(b"v1")
    return tmp_path


def _regen(data_dir, content: bytes) -> None:
    (data_dir / SOURCE).write_bytes(content)


def _frame():
    return mock.create_autospec(DataFrame, instance=True)


def test_same_params_hit_returns_the_identical_object(memo):
    b = Builder()
    first = session.session_memo(FAKE, str(memo), SOURCE, b, 3, "x")
    assert session.session_memo(FAKE, str(memo), SOURCE, b, 3, "x") is first
    # 'dir' and 'dir/' are one dataset
    assert session.session_memo(FAKE, f"{memo}/", SOURCE, b, 3, "x") is first
    assert b.calls == [(str(memo), (3, "x"))]


@settings(max_examples=40, deadline=None)
@given(
    params=st.lists(st.integers(-5, 5), min_size=1, max_size=4),
    which=st.integers(min_value=0),
    delta=st.integers(1, 3),
)
def test_changing_any_one_param_builds_a_new_entry(params, which, delta):
    with mock.patch.object(session, "_MEMO", {}):
        sf, b = "/data/memo-prop", Builder()
        with mock.patch.object(
            session, "source_fingerprint", return_value=(SOURCE, 1, 1)
        ):
            base = session.session_memo(FAKE, sf, SOURCE, b, *params)
            other = list(params)
            other[which % len(params)] += delta
            changed = session.session_memo(FAKE, sf, SOURCE, b, *other)
            assert changed is not base
            # the first entry survives the other params' build
            assert session.session_memo(FAKE, sf, SOURCE, b, *params) is base
            assert session.session_memo(FAKE, sf, SOURCE, b, *other) is changed
        assert [p for _, p in b.calls] == [tuple(params), tuple(other)]


def test_builders_and_sessions_do_not_share_entries(memo):
    b1, b2 = Builder(), Builder()
    other_app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-2"))
    v1 = session.session_memo(FAKE, str(memo), SOURCE, b1)
    assert session.session_memo(FAKE, str(memo), SOURCE, b2) is not v1
    assert session.session_memo(other_app, str(memo), SOURCE, b1) is not v1
    assert session.session_memo(FAKE, str(memo), SOURCE, b1) is v1


def test_regenerated_source_rebuilds_and_unpersists_old_frames(memo):
    single = Builder(_frame)
    pair = Builder(lambda: (_frame(), _frame(), ["not", "a", "frame"]))
    old_df = session.session_memo(FAKE, str(memo), SOURCE, single)
    old_tuple = session.session_memo(FAKE, str(memo), SOURCE, pair)
    untouched = session.session_memo(FAKE, str(memo), SOURCE, single, "p")

    _regen(memo, b"version two")
    new_df = session.session_memo(FAKE, str(memo), SOURCE, single)
    new_tuple = session.session_memo(FAKE, str(memo), SOURCE, pair)

    assert new_df is not old_df and new_tuple is not old_tuple
    old_df.unpersist.assert_called_once_with()
    for df in old_tuple[:2]:
        df.unpersist.assert_called_once_with()
    # the 'p' slot has not been asked for since the regen: left alone
    untouched.unpersist.assert_not_called()
    new_df.unpersist.assert_not_called()
    assert len(session._MEMO) == 3  # one live entry per slot, none leaked


@pytest.mark.parametrize(
    "value",
    [[[0.5, 1.0]], "/tmp/some-dir", None, 7, ("a", 1), {"schema": 1}],
    ids=["centroids", "path", "none", "int", "tuple", "dict"],
)
def test_evicting_a_non_frame_value_is_a_plain_drop(memo, value):
    b = Builder(lambda: value)
    session.session_memo(FAKE, str(memo), SOURCE, b)
    _regen(memo, b"version two, longer")
    assert session.session_memo(FAKE, str(memo), SOURCE, b) == value
    assert len(b.calls) == 2 and len(session._MEMO) == 1
