"""Repo-wide materialization policy (r12 verdict ask #2).

The localCheckpoint convention sites now consult ONE module-level switch
(``hri_flink_validation_passthrough_spark.materialize``). These pins keep
the switch honest: every arm must be a pure materialization strategy —
frame-equal results on representative touched queries (a multi-consumer
aggregate cut, an iterative lineage-truncating loop, and a streaming
memory-sink detach) — and every arm must cut lineage.
"""

from __future__ import annotations

import pytest

from hri_flink_validation_passthrough_spark import materialize as M


@pytest.fixture
def policy_guard():
    """Restore the policy after each test — a leaked 'reliable' policy
    would skew every later test."""
    before = M.POLICY
    yield
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
    M.POLICY = "reliable"
    assert _rows(column_profile_stats(spark, sf)) == want


def test_policy_arms_frame_equal_on_iterative_loop(spark, policy_guard):
    """The transitive-closure loop truncates lineage per round through
    materialize(iterative=True); the reliable arm must agree."""
    from hri_flink_validation_passthrough_spark.plans.relational import (
        QUERIES,
    )

    fn = QUERIES["transitive_closure_depth"].fn
    sf = "/root/testdata/sf0.001"
    M.POLICY = "ckpt"
    want = _rows(fn(spark, sf))
    M.POLICY = "reliable"
    assert _rows(fn(spark, sf)) == want


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
    M.POLICY = "reliable"
    assert _rows(fn(spark, sf)) == want


def test_invalid_policy_rejected(spark, policy_guard):
    # incl. the retired "persist"/"none" arms: no silent fallback to ckpt
    for bad in ("bogus", "persist", "none"):
        M.POLICY = bad
        with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
            M.materialize(spark.range(1))


def test_iterative_falls_back_to_truncating_arm(spark, policy_guard):
    """iterative=True must produce a lineage-truncated frame under every
    arm — un-truncated loop lineage grows geometrically (the r6-diagnosed
    driver OOM). Both arms cut lineage, so none needs a fallback."""
    for arm in M._VALID:
        M.POLICY = arm
        out = M.materialize(spark.range(10), iterative=True)
        # a checkpoint rewrites the plan onto materialized blocks; a
        # pass-through would keep the Range scan in the physical plan
        assert "Range" not in out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        ), arm


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

    for arm in M._VALID:
        M.POLICY = arm
        obs = Observation(f"lazy_{arm}")
        df = spark.range(10).observe(obs, F.sum("id").alias("s"))
        with pytest.raises(ValueError, match="must be eager"):
            M.materialize(df, eager=False, iterative=True)
        with pytest.raises(ValueError, match="must be eager"):
            df.transform(M.cut(eager=False, iterative=True))
    # the eager form is action-backed: the metric is already filled
    M.POLICY = "ckpt"
    obs = Observation("eager_ckpt")
    spark.range(10).observe(obs, F.sum("id").alias("s")).transform(
        M.cut(iterative=True)
    )
    assert obs.get["s"] == 45
