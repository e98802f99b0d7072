"""Repo-wide materialization policy (r12 verdict ask #2).

The localCheckpoint convention sites now consult ONE module-level switch
(``hri_flink_validation_passthrough_spark.materialize``). These pins keep
the switch honest: every arm must be a pure materialization strategy —
frame-equal results on representative touched queries (a multi-consumer
aggregate cut, an iterative lineage-truncating loop, and a streaming
memory-sink detach) — and the "persist" arm must honor its leak-free
release contract.
"""

from __future__ import annotations

import pytest

from hri_flink_validation_passthrough_spark import materialize as M


@pytest.fixture
def policy_guard():
    """Restore the policy (and release any pinned handles) after each test
    — a leaked 'persist'/'none' policy would skew every later test."""
    before = M.POLICY
    yield
    while M.PINNED:
        M.PINNED.pop().unpersist()
    M.POLICY = before


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_policy_arms_frame_equal_on_multi_consumer_cut(spark, policy_guard):
    """column_profile_stats routes its melted profile through materialize();
    every arm must return the identical frame."""
    from hri_flink_validation_passthrough_spark.operators.analytics import (
        column_profile_stats,
    )

    sf = "/root/testdata/sf0.001"
    M.POLICY = "ckpt"
    want = _rows(column_profile_stats(spark, sf))
    for arm in ("reliable", "persist", "none"):
        M.POLICY = arm
        got = _rows(column_profile_stats(spark, sf))
        assert got == want, f"arm {arm} diverged"
        M.release_pinned()


def test_policy_arms_frame_equal_on_iterative_loop(spark, policy_guard):
    """The transitive-closure loop truncates lineage per round through
    materialize(iterative=True); the reliable arm must agree, and the
    non-truncating arms must FALL BACK to a truncating one (geometric
    lineage growth is the r6-diagnosed driver OOM) while still agreeing."""
    from hri_flink_validation_passthrough_spark.plans.relational import (
        QUERIES,
    )

    fn = QUERIES["transitive_closure_depth"].fn
    sf = "/root/testdata/sf0.001"
    M.POLICY = "ckpt"
    want = _rows(fn(spark, sf))
    for arm in ("reliable", "persist", "none"):
        M.POLICY = arm
        assert _rows(fn(spark, sf)) == want, f"arm {arm} diverged"
        M.release_pinned()


def test_policy_arms_frame_equal_on_memory_sink_detach(spark, policy_guard):
    """The streaming memory-sink result is cut loose (eager) before its
    view drops; the detach semantics must hold under every arm."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        QUERIES,
    )

    fn = QUERIES["stream_tumbling_hourly"].fn
    sf = "/root/testdata/sf0.001"
    M.POLICY = "ckpt"
    want = _rows(fn(spark, sf))
    # incl. "none": eager=True declares detach semantics, so the no-op arm
    # must fall back to a materializing one instead of breaking the read
    # of a dropped memory-sink view (r13 self-review)
    for arm in ("reliable", "persist", "none"):
        M.POLICY = arm
        assert _rows(fn(spark, sf)) == want, f"arm {arm} diverged"
        M.release_pinned()


def test_persist_arm_pins_and_release_unpersists(spark, policy_guard):
    """'persist' materializations register in PINNED; release_pinned()
    unpersists them all — the leak-free contract the A/B harnesses rely
    on (tools/ab_srp_materialize.py)."""
    M.POLICY = "persist"
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = M.materialize(df)
    assert M.PINNED, "persist arm did not pin its handle"
    assert out.storageLevel.useMemory
    n = M.release_pinned()
    assert n >= 1 and not M.PINNED
    assert not out.storageLevel.useMemory


def test_invalid_policy_rejected(spark, policy_guard):
    M.POLICY = "bogus"
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        M.materialize(spark.range(1))


def test_iterative_falls_back_to_truncating_arm(spark, policy_guard):
    """iterative=True under 'persist'/'none' must produce a
    lineage-truncated frame (localCheckpoint fallback), not a persisted or
    pass-through one — un-truncated loop lineage grows geometrically."""
    M.POLICY = "none"
    df = spark.range(10)
    out = M.materialize(df, iterative=True)
    # localCheckpoint rewrites the plan onto materialized blocks; a pure
    # pass-through would keep the Range scan in the physical plan
    assert "Range" not in out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    M.POLICY = "persist"
    out = M.materialize(df, iterative=True)
    assert not M.PINNED  # fell back to ckpt, nothing pinned
    # eager=True under "none" is a detach declaration — must materialize
    M.POLICY = "none"
    out = M.materialize(spark.range(7), eager=True)
    assert "Range" not in out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    # lazy under "none" really is a pass-through (the measurement arm)
    out = M.materialize(spark.range(7), eager=False)
    assert "Range" in out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )


def test_reliable_local_fallback_warns_on_nonlocal_master(monkeypatch):
    """r13 verdict ask #4: when SPARK_GRAFT_CHECKPOINT_DIR is unset, the
    reliable arm provisions a DRIVER-LOCAL temp dir — fine under local[*],
    silently non-durable under a real cluster master. The fallback must
    warn there (and only there): a user flipping the cluster arm on
    without shared storage should learn it before the first executor
    loss, not after. Stubbed SparkContext: no cluster master exists in
    the sandbox, and the seam under test is pure driver-side."""
    import warnings

    class _FakeSC:
        def __init__(self, master):
            self.master = master
            self.dir = None

        def getCheckpointDir(self):
            return self.dir

        def setCheckpointDir(self, path):
            self.dir = path

    class _FakeSpark:
        def __init__(self, master):
            self.sparkContext = _FakeSC(master)

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)

    # cluster-shaped masters: warn, but still provision (stay exercisable)
    for master in ("spark://host:7077", "yarn", "k8s://https://host"):
        fake = _FakeSpark(master)
        with pytest.warns(RuntimeWarning, match="NOT survive executor loss"):
            M._ensure_checkpoint_dir(fake)
        assert fake.sparkContext.dir  # fallback dir was still set

    # local masters: silent — the fallback is the documented single-box path
    for master in ("local", "local[32]", "local-cluster[2,1,1024]"):
        fake = _FakeSpark(master)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            M._ensure_checkpoint_dir(fake)
        assert fake.sparkContext.dir

    # env var set: no warning regardless of master, and the env dir wins
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/sg_ckpt_env_test")
    fake = _FakeSpark("yarn")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        M._ensure_checkpoint_dir(fake)
    assert fake.sparkContext.dir == "/tmp/sg_ckpt_env_test"

    # an already-configured session is left alone
    fake = _FakeSpark("yarn")
    fake.sparkContext.dir = "hdfs://nn/ckpt"
    M._ensure_checkpoint_dir(fake)
    assert fake.sparkContext.dir == "hdfs://nn/ckpt"


def test_lazy_iterative_result_is_rejected_not_hung(spark, policy_guard):
    """iterative=True must hand back an action-backed frame: loop drivers
    read observe() metrics off it (dedup.min_label_components), and
    Observation.get blocks until a job fills it. A lazy iterative request
    must fail fast under every arm instead of returning a frame whose
    metric read would wait forever."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    for arm in ("ckpt", "reliable", "persist", "none"):
        M.POLICY = arm
        obs = Observation(f"lazy_{arm}")
        df = spark.range(10).observe(obs, F.sum("id").alias("s"))
        with pytest.raises(ValueError, match="must be eager"):
            M.materialize(df, eager=False, iterative=True)
        with pytest.raises(ValueError, match="must be eager"):
            df.transform(M.cut(eager=False, iterative=True))
        assert not M.PINNED
    # the eager form is action-backed: the metric is already filled
    M.POLICY = "ckpt"
    obs = Observation("eager_ckpt")
    spark.range(10).observe(obs, F.sum("id").alias("s")).transform(
        M.cut(iterative=True)
    )
    assert obs.get["s"] == 45
