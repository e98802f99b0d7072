"""Round-10 additions: streaming ANN index maintenance (r9 verdict ask #2)
— the continuous-ingest leg of the durable-index trio."""

from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle import assert_matches_oracle

_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}


def _fresh_index_root(monkeypatch, tmp_path):
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    S._ivf_index_dir_memo.clear()
    return S


@pytest.mark.parametrize("provider", sorted(_PROVIDERS))
def test_stream_ann_maintenance_both_backends(
    spark, provider, tmp_path, monkeypatch
):
    """Hash-match the full-rebuild-equivalence oracle on BOTH state-store
    providers. (The pipeline itself is stateless — file source +
    foreachBatch — so the provider never instantiates stateful operators;
    the parametrization is kept as the r9 verdict's explicit done-criterion
    and as a guard should the topology ever gain streaming state.)"""
    import __spark_entry__ as entrymod

    _fresh_index_root(monkeypatch, tmp_path)
    conf = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(conf)
    except Exception:
        prev = None
    spark.conf.set(conf, _PROVIDERS[provider])
    try:
        qs, osql = entrymod.queries(), entrymod.oracle_sql()
        name = "stream_ann_index_maintenance"
        assert_matches_oracle(
            qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name
        )
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_stream_ann_maintenance_replay_idempotent(
    spark, tmp_path, monkeypatch
):
    """A second full replay (fresh checkpoint — epoch ids restart at 0, the
    production restart-from-scratch case) must overwrite the committed
    epoch directories byte-idempotently: same results, same epoch count,
    no row duplication in the combined index."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        _SAIM_DELTA_FILES,
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    first = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    epochs1 = S.committed_delta_epochs(path)
    assert len(epochs1) >= 2, "replay must span multiple microbatches"

    again = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    assert again == first
    epochs2 = S.committed_delta_epochs(path)
    assert len(epochs2) == len(epochs1) <= _SAIM_DELTA_FILES + 1
    # the combined index holds every corpus vector exactly once (each
    # source is its own hive tree — read separately, union, like the
    # production reader)
    from functools import reduce

    idx = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p).select("vec_id")
            for p in [path, *epochs2]
        ],
    )
    total = idx.count()
    assert total == idx.distinct().count(), "replay duplicated vectors"
    n_corpus = S._emb(spark, SF_ORACLE).count()
    assert total == n_corpus


def test_stream_ann_maintenance_leaves_base_untouched(
    spark, tmp_path, monkeypatch
):
    """The stream only ADDS committed epoch dirs under _delta_epochs — every
    base part-file survives byte-for-byte (mtime+size), the upsert
    contract's streaming analog."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    before = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{path}/cell=*/*.parquet")
    }
    assert before, "base index has no cell files"
    stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    after = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{path}/cell=*/*.parquet")
    }
    assert after == before, "stream rewrote base index files"


def test_stream_ann_maintenance_equals_batch_trained_upsert(
    spark, tmp_path, monkeypatch
):
    """Stream-maintained and batch trained-upsert indexes share the same
    contract (base-slice-trained frozen centroids, full corpus), so their
    top-k must agree row-for-row — two ingest engines, one index."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    got = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    up = S.ivf_trained_upsert_index(spark, SF_ORACLE)
    meta = S.read_index_meta(up)
    # same (drift-adaptive) probe policy as the stream query under test
    probes = S._maintained_probes(spark, SF_ORACLE, meta)
    want = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S._ivf_index_read_topk(
            spark, SF_ORACLE, up, probes=probes
        ).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# Quantizer-drift retrain policy (r9 verdict ask #3)
# --------------------------------------------------------------------------


@pytest.fixture()
def drifted_corpus_dir(tmp_path):
    """A corpus whose delta slice (the last 25%, appended after training)
    piles into ONE region: base = 300 random unit vectors, delta = 100
    vectors tightly clustered near base vector 0 — the skew-inducing
    upsert sequence."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    delta = base[0][None, :] + 0.05 * rng.normal(size=(100, 64))
    pts = np.vstack([base, delta])
    d = tmp_path / "corpus"
    os.makedirs(d)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(pts)), type=pa.int64()),
            "embedding": pa.array(
                [row.astype("float32") for row in pts],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


def test_upsert_records_drift_stats(spark, tmp_path, monkeypatch):
    """Every upsert stamps delta_fraction + cell_skew into the sidecar —
    the retrain decision must be a metadata read, not a scan."""
    S = _fresh_index_root(monkeypatch, tmp_path / "idx")
    path = S.ivf_trained_upsert_index(spark, SF_ORACLE)
    drift = S.read_index_meta(path).get("drift")
    assert drift is not None
    assert 0.2 < drift["delta_fraction"] < 0.3  # the 75/25 upsert split
    assert drift["cell_skew"] >= 1.0  # max cell is at least the fair share
    assert drift["total_rows"] == S._emb(spark, SF_ORACLE).count()


def test_skew_inducing_upsert_triggers_retrain(
    spark, tmp_path, monkeypatch, drifted_corpus_dir
):
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )

    S = _fresh_index_root(monkeypatch, tmp_path / "idx")
    path = S.ivf_trained_upsert_index(spark, drifted_corpus_dir, nlist=8)
    before = S.read_index_meta(path)["drift"]
    assert before["cell_skew"] > M.RETRAIN_SKEW_THRESHOLD, (
        f"fixture failed to induce skew: {before}"
    )

    res = M.retrain_if_skewed(spark, path)
    assert res["retrained"] is True
    assert res["after"]["cell_skew"] < res["before"]["cell_skew"], (
        f"rebalance did not improve balance: {res}"
    )

    # the published rebalanced index is complete and atomic: every vector
    # exactly once, no torn build residue, fresh provenance + drift reset
    meta = S.read_index_meta(path)
    assert meta["centroid_kind"] == "lloyd_trained_rebalanced"
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not glob.glob(f"{path}.build-*"), "unpublished build residue"
    idx = spark.read.parquet(path).select("vec_id")
    assert idx.count() == idx.distinct().count() == 400
    assert meta["drift"]["delta_fraction"] == 0.0  # delta clock restarted


def test_balanced_index_is_left_alone(spark, tmp_path, monkeypatch):
    """Below thresholds the maintenance pass only refreshes the stats —
    the un-retrained index keeps its frozen centroids (and with them the
    upsert-equals-frozen-grid-rebuild equivalence proof)."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )

    S = _fresh_index_root(monkeypatch, tmp_path / "idx")
    path = S.ivf_trained_upsert_index(spark, SF_ORACLE)
    cents_before = S.read_index_meta(path)["centroids"]
    res = M.retrain_if_skewed(spark, path)
    assert res["retrained"] is False
    meta = S.read_index_meta(path)
    assert meta["centroids"] == cents_before
    assert meta["centroid_kind"] == "lloyd_trained_base_slice"
    assert meta["drift"]["total_rows"] == res["after"]["total_rows"]


def test_fold_delta_epochs_preserves_reads(spark, tmp_path, monkeypatch):
    """Epoch compaction is pure layout maintenance: folding the committed
    stream epochs into the base cell layout must leave the top-k read
    byte-identical, empty the epoch list, and not lose a single row."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    before = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    assert S.committed_delta_epochs(path)

    res = M.fold_delta_epochs(spark, path)
    assert res["folded_epochs"] >= 2
    assert S.committed_delta_epochs(path) == []
    meta = S.read_index_meta(path)
    probes = S._maintained_probes(spark, SF_ORACLE, meta)
    after = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S._ivf_index_read_topk(
            spark, SF_ORACLE, path, probes=probes
        ).collect()
    }
    assert after == before
    idx = spark.read.parquet(path).select("vec_id")
    assert idx.count() == idx.distinct().count() == S._emb(
        spark, SF_ORACLE
    ).count()


def test_retrain_consumes_stream_epochs(spark, tmp_path, monkeypatch):
    """retrain_if_skewed must see the WHOLE maintained index — base plus
    committed stream epochs — and its rebalanced publish rolls the epochs
    into one fresh tree (delta clock reset)."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    n_corpus = S._emb(spark, SF_ORACLE).count()
    rep = M.ivf_drift_report(spark, path)
    assert rep["total_rows"] == n_corpus  # epochs included in the report

    # force the rebalance regardless of incidental balance
    res = M.retrain_if_skewed(spark, path, skew_threshold=0.0)
    assert res["retrained"] is True
    assert S.committed_delta_epochs(path) == []
    idx = spark.read.parquet(path).select("vec_id")
    assert idx.count() == idx.distinct().count() == n_corpus
    meta = S.read_index_meta(path)
    assert meta["centroid_kind"] == "lloyd_trained_rebalanced"
    assert meta["drift"]["delta_fraction"] == 0.0


# --------------------------------------------------------------------------
# Trained IVF-PQ upsert: the full composition (both quantizer levels frozen
# at base build, codes-only rows). Test-surface only — registry at capacity.
# --------------------------------------------------------------------------


def test_ivfpq_trained_upsert_equals_one_shot_with_frozen_artifacts(
    spark, tmp_path, monkeypatch
):
    """Frozen coarse grid + frozen codebook => a delta vector's
    (cell, codes) are identical at ingest or rebuild: the upserted index
    must equal a one-shot build of the full corpus with THOSE artifacts."""
    import pyspark.sql.functions as F

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.ivfpq_trained_upsert_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    assert meta["centroid_kind"] == "lloyd_trained_base_slice"
    assert meta["codebook_kind"] == "lloyd_trained_base_slice"
    cents, cb = meta["centroids"], meta["codebook"]

    def rows(df):
        codes = S._pq_encode_with(df, cb).select(
            "vec_id", *[f"code_{m}" for m in range(S.PQ_M)]
        )
        return codes.join(
            S._assign_by_literal(df, cents).select("vec_id", "cell"), "vec_id"
        )

    one_shot = S._durable_index(
        spark,
        SF_ORACLE,
        "ivfpq_trained_oneshot_equiv",
        lambda: ([rows(S._emb(spark, SF_ORACLE))], {"nlist": S.DNLIST}),
    )
    code_cols = [f"code_{m}" for m in range(S.PQ_M)]
    got = {
        tuple(r) for r in
        spark.read.parquet(path).select("vec_id", "cell", *code_cols).collect()
    }
    want = {
        tuple(r) for r in
        spark.read.parquet(one_shot)
        .select("vec_id", "cell", *code_cols)
        .collect()
    }
    assert got == want
    # and the base-slice codebook differs from the full-corpus one (it
    # really did train on the base slice, not fall through to _pq_codebook)
    assert cb != S._pq_codebook(spark, SF_ORACLE)


def test_ivfpq_trained_upsert_reads_from_sidecar_alone(
    spark, tmp_path, monkeypatch
):
    S = _fresh_index_root(monkeypatch, tmp_path)
    first = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S.ann_ivfpq_trained_upsert_topk(spark, SF_ORACLE).collect()
    }
    assert first
    S._ivf_index_dir_memo.clear()

    def _poisoned(*a, **kw):  # pragma: no cover
        raise AssertionError("read path re-derived a frozen artifact")

    monkeypatch.setattr(S, "_pq_lloyd", _poisoned)
    monkeypatch.setattr(S, "_lloyd_iterate", _poisoned)
    monkeypatch.setattr(S, "_pq_encode_with", _poisoned)
    again = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S.ann_ivfpq_trained_upsert_topk(spark, SF_ORACLE).collect()
    }
    assert again == first


def test_codes_only_index_refuses_retrain(spark, tmp_path, monkeypatch):
    """retrain_if_skewed retrains from the index's own rows — impossible on
    a codes-only index (no raw vectors): it must refuse with a clear error,
    never produce a half-rebalanced code table."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.ivfpq_trained_upsert_index(spark, SF_ORACLE)
    # drift stats still work on codes-only indexes (vec_id + cell suffice)
    rep = M.ivf_drift_report(spark, path)
    assert rep["total_rows"] == S._emb(spark, SF_ORACLE).count()
    with pytest.raises(ValueError, match="codes-only"):
        M.retrain_if_skewed(spark, path, skew_threshold=0.0)


def test_stream_maintenance_after_fold_does_not_duplicate(
    spark, tmp_path, monkeypatch
):
    """Maintenance composition (r10 self-review): after fold_delta_epochs
    the base tree holds the deltas — a subsequent maintenance run must NOT
    replay them (delta_folded flag), and the served top-k stays identical."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    first = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    M.fold_delta_epochs(spark, path)

    again = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    }
    assert again == first
    assert S.committed_delta_epochs(path) == [], (
        "post-fold maintenance run replayed the already-folded delta"
    )
    idx = spark.read.parquet(path).select("vec_id")
    assert idx.count() == idx.distinct().count() == S._emb(
        spark, SF_ORACLE
    ).count()
    # and no torn epoch-publish residue anywhere
    assert not glob.glob(f"{path}/_delta_epochs/e*.build-*")


def test_stream_maintenance_after_retrain_serves_rebalanced_index(
    spark, tmp_path, monkeypatch
):
    """Maintenance composition (r10 self-review): retrain_if_skewed resets
    split to None — the next maintenance run must serve the rebalanced
    index (nothing new to ingest), not crash on int(None) or re-append."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    res = M.retrain_if_skewed(spark, path, skew_threshold=0.0)
    assert res["retrained"] is True

    out = stream_ann_index_maintenance(spark, SF_ORACLE)
    rows = out.collect()  # must not raise
    n_q = out.select("qid").distinct().count()
    assert rows and n_q == 10  # every query served from the rebalanced index
    idx = spark.read.parquet(path).select("vec_id")
    assert idx.count() == idx.distinct().count() == S._emb(
        spark, SF_ORACLE
    ).count()


def test_retrain_refuses_frozen_first_n_index(spark, tmp_path, monkeypatch):
    """first_n indexes' readers derive probes from the corpus-frozen grid,
    not the sidecar — an in-place rebalance would silently serve wrong
    candidates, so retrain_if_skewed must refuse them."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.ivf_upsert_index(spark, SF_ORACLE)
    with pytest.raises(ValueError, match="first-n"):
        M.retrain_if_skewed(spark, path, skew_threshold=0.0)


def test_stream_maintained_read_prunes_every_source(
    spark, tmp_path, monkeypatch
):
    """The combined read must partition-prune base AND epoch trees to the
    probed cells — runtime truth via input_file_name, not plan text."""
    import pyspark.sql.functions as F

    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    stream_ann_index_maintenance(spark, SF_ORACLE).collect()
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    probes = S._maintained_probes(spark, SF_ORACLE, meta)
    probed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    assert len(probed) < int(meta["nlist"])
    for src in [path] + S.committed_delta_epochs(path):
        total = len(glob.glob(f"{src}/cell=*/*.parquet"))
        nread = (
            spark.read.parquet(src)
            .filter(F.col("cell").isin(probed))
            .select(F.input_file_name())
            .distinct()
            .count()
        )
        assert 0 < nread < total, (
            f"no pruning on {src}: read {nread} of {total} files"
        )


# --------------------------------------------------------------------------
# Streaming codes-only maintenance: the fourth ingest-matrix cell
# ({batch, stream} x {raw, codes}). Test-surface only.
# --------------------------------------------------------------------------


def test_stream_ivfpq_maintenance_equals_batch_codes_upsert(
    spark, tmp_path, monkeypatch
):
    """Frozen artifacts make (cell, codes) ingest-time-invariant: the
    stream-maintained codes index's top-k must equal the batch trained-
    upsert IVF-PQ read row-for-row, and the combined code table must be
    set-equal to the batch one."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ivfpq_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    got = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ivfpq_maintenance(spark, SF_ORACLE).collect()
    }
    want = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S.ann_ivfpq_trained_upsert_topk(spark, SF_ORACLE).collect()
    }
    assert got == want

    spath = S.stream_maintained_ivfpq_index(spark, SF_ORACLE)
    bpath = S.ivfpq_trained_upsert_index(spark, SF_ORACLE)
    code_cols = ["vec_id", "cell"] + [f"code_{m}" for m in range(S.PQ_M)]
    from functools import reduce

    stream_rows = {
        tuple(r)
        for r in reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(p).select(*code_cols)
                for p in [spath, *S.committed_delta_epochs(spath)]
            ],
        ).collect()
    }
    batch_rows = {
        tuple(r) for r in spark.read.parquet(bpath).select(*code_cols).collect()
    }
    assert stream_rows == batch_rows


def test_stream_ivfpq_maintenance_replay_and_drift(
    spark, tmp_path, monkeypatch
):
    """Replay idempotence + drift bookkeeping for the codes-only stream:
    a second full replay changes nothing; drift stats ride the sidecar
    and cover base + epochs (codes-only indexes report drift fine —
    only retrain refuses them)."""
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ivfpq_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    first = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ivfpq_maintenance(spark, SF_ORACLE).collect()
    }
    again = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ivfpq_maintenance(spark, SF_ORACLE).collect()
    }
    assert again == first
    path = S.stream_maintained_ivfpq_index(spark, SF_ORACLE)
    assert len(S.committed_delta_epochs(path)) >= 2
    drift = S.read_index_meta(path)["drift"]
    assert drift["total_rows"] == S._emb(spark, SF_ORACLE).count()
    assert 0.2 < drift["delta_fraction"] < 0.3


def test_fold_delta_epochs_codes_only_index(spark, tmp_path, monkeypatch):
    """ADVICE r11 (low): fold_delta_epochs derived its column list from the
    raw-index default (vec_id, e, cell) and raised on the codes-only
    stream-maintained IVF-PQ index. Columns now come from the base tree's
    own schema, so the fourth ingest-matrix cell compacts too — and the
    top-k read is unchanged by the fold."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )
    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ivfpq_maintenance,
    )

    S = _fresh_index_root(monkeypatch, tmp_path)
    before = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ivfpq_maintenance(spark, SF_ORACLE).collect()
    }
    path = S.stream_maintained_ivfpq_index(spark, SF_ORACLE)
    assert S.committed_delta_epochs(path)

    res = M.fold_delta_epochs(spark, path)
    assert res["folded_epochs"] >= 2
    assert S.committed_delta_epochs(path) == []
    after = {
        (r["qid"], r["nid"], r["rnk"])
        for r in stream_ivfpq_maintenance(spark, SF_ORACLE).collect()
    }
    assert after == before
    idx = spark.read.parquet(path)
    assert "e" not in idx.columns, "fold must keep the index codes-only"
    assert (
        idx.count()
        == idx.select("vec_id").distinct().count()
        == S._emb(spark, SF_ORACLE).count()
    )


def test_stream_maintenance_cleans_work_dir(spark, tmp_path, monkeypatch):
    """ADVICE r11 (low): the streaming maintainers' scratch dir (delta copy
    + checkpoint) must be removed after the stream drains — repeated bench
    reps in one session must not accumulate delta-sized copies in /tmp."""
    import tempfile as T

    from hri_flink_validation_passthrough_spark.streaming.windows import (
        stream_ann_index_maintenance,
    )

    _fresh_index_root(monkeypatch, tmp_path)
    made: list[str] = []
    real = T.mkdtemp

    def recording(*a, **k):
        d = real(*a, **k)
        if k.get("prefix", "").startswith(("hri_saim_", "hri_spqm_")):
            made.append(d)
        return d

    monkeypatch.setattr(T, "mkdtemp", recording)
    assert stream_ann_index_maintenance(spark, SF_ORACLE).count() > 0
    assert made, "maintenance run should have created a work dir"
    leaked = [d for d in made if os.path.exists(d)]
    assert not leaked, f"work dirs left in /tmp: {leaked}"


def test_adaptive_probes_prune_at_held_recall(
    spark, tmp_path, monkeypatch, drifted_corpus_dir
):
    """r10 verdict ask #5 guard: on a skew-drifted index the drift-adaptive
    probe policy (_adaptive_probes: probe the k-th ranked cell only while
    the better-ranked cells' mass is under the fixed scan's fair-share
    target) must scan STRICTLY fewer index rows than the fixed nprobe
    policy while recall@5 vs exact KNN stays equal-or-better — and it may
    never probe a cell the fixed policy wouldn't."""
    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.ivf_trained_upsert_index(spark, drifted_corpus_dir, nlist=8)
    meta = S.read_index_meta(path)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    cell_rows = meta["drift"]["cell_rows"]

    fixed = S._probes_from_centroids(spark, drifted_corpus_dir, cents)
    adapt = S._adaptive_probes(spark, drifted_corpus_dir, cents, cell_rows)
    fset = {(r["qid"], r["cell"]) for r in fixed.select("qid", "cell").collect()}
    aset = {(r["qid"], r["cell"]) for r in adapt.select("qid", "cell").collect()}
    assert aset <= fset, "adaptive probed a cell outside the fixed set"

    def scanned(pairs):
        return sum(cell_rows.get(str(c), 0) for _, c in pairs)

    assert scanned(aset) < scanned(fset), (
        f"no pruning on the skewed index: {scanned(aset)} vs {scanned(fset)}"
    )

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], set()).add(r["nid"])
        return out

    # exact ground truth: brute-force cosine top-k on the same corpus
    from hri_flink_validation_passthrough_spark.operators.similarity import (
        knn_brute_force,
    )

    ex = topsets(knn_brute_force(spark, drifted_corpus_dir))

    def recall(top):
        return sum(
            len(top.get(q, set()) & ex[q]) / len(ex[q]) for q in ex
        ) / len(ex)

    r_fixed = recall(
        topsets(S._ivf_index_read_topk(spark, drifted_corpus_dir, path, probes=fixed))
    )
    r_adapt = recall(
        topsets(S._ivf_index_read_topk(spark, drifted_corpus_dir, path, probes=adapt))
    )
    assert r_adapt >= r_fixed, (
        f"adaptive pruning cost recall: {r_adapt:.3f} < {r_fixed:.3f}"
    )


def test_adaptive_probe_rule_synthetic_properties(spark):
    """The adaptive rule's contract, pinned directly on synthetic per-cell
    sizes (no index build — the policy is metadata-only by design):
    - uniform sizes -> EXACTLY the fixed probe set (balanced identity);
    - top-cell-fat sizes -> a strict subset with trailing ranks pruned;
    - fat cell ranked lower -> NO pruning (the junk-mass gate);
    - always a subset of the fixed set, never empty per query."""
    from hri_flink_validation_passthrough_spark.operators import (
        similarity as S,
    )

    # centroids = first 8 corpus vectors (any deterministic grid works:
    # the rule under test only consumes the RANKING they induce)
    cents = [
        [float(x) for x in r["e"]]
        for r in S._emb(spark, SF_ORACLE).filter("vec_id < 8").collect()
    ]
    fixed = {
        (r["qid"], r["cell"])
        for r in S._probes_from_centroids(spark, SF_ORACLE, cents)
        .select("qid", "cell")
        .collect()
    }
    qids = {q for q, _ in fixed}

    def adapt(sizes: dict) -> set:
        return {
            (r["qid"], r["cell"])
            for r in S._adaptive_probes(spark, SF_ORACLE, cents, sizes)
            .select("qid", "cell")
            .collect()
        }

    # 1) balanced identity
    uniform = {str(c): 100 for c in range(8)}
    assert adapt(uniform) == fixed

    # 2) uniformly LARGE cells are not fat — fatness is RELATIVE (>= 2x
    # the fair share), so scaling every cell equally must change nothing
    all_big = {str(c): 1000 for c in range(8)}
    assert adapt(all_big) == fixed

    # 3) one huge cell, thin elsewhere (total 5350, fair share 669, fat
    # threshold 1337, target 2675). Queries whose TOP cell is the fat one
    # prune to EXACTLY that one probe (5000 >= target alone); queries
    # merely PASSING THROUGH the fat cell at rank >= 2 must keep the full
    # fixed set (the junk-mass gate).
    skew = {str(c): 50 for c in range(8)}
    skew["0"] = 5000
    got = adapt(skew)
    assert got <= fixed
    ranked = {}
    for r in (
        S._ranked_probes(spark, SF_ORACLE, cents, S.NPROBE)
        .select("qid", "cell", "rn")
        .collect()
    ):
        ranked.setdefault(r["qid"], {})[r["rn"]] = r["cell"]
    assert set(ranked) == qids
    pruned_any = False
    for q, by_rn in ranked.items():
        q_fixed = {(q, c) for c in by_rn.values()}
        q_got = {(q, c) for (qq, c) in got if qq == q}
        if by_rn[1] == 0:
            assert q_got == {(q, 0)}, (
                f"query {q}: fat top cell covers the target alone -> "
                f"exactly one probe, got {q_got}"
            )
            pruned_any = True
        else:
            assert q_got == q_fixed, (
                f"query {q} pruned despite a thin top cell (junk-mass gate)"
            )
        assert q_got, f"query {q} lost all probes"
    if all(by_rn[1] != 0 for by_rn in ranked.values()):
        pruned_any = True  # no query tops the fat cell on this grid; vacuous
    assert pruned_any


def test_stream_ann_maintenance_crash_and_resume_same_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Kill the maintainer MID-STREAM (after 2 of 4 microbatch epochs
    commit), then resume with the SAME checkpoint — the production
    failure mode the fresh-checkpoint replay test cannot see. Pins the
    interplay of three mechanisms: the file source's tracked offsets
    (already-ingested files are not re-read), the _EPOCH commit protocol
    (the crashed batch left nothing visible — a planted torn build dir
    stays invisible too), and batchId-stable retry (the resumed run
    continues the epoch numbering). End state: base + committed epochs
    hold every corpus vector exactly once with the same cell assignments
    a batch pass over the full delta produces."""
    from functools import reduce

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.streaming import windows as W

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.stream_maintained_ivf_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    split = int(meta["split"])

    work = str(tmp_path / "replay")
    (
        S._emb(spark, SF_ORACLE)
        .filter(F.col("vec_id") >= split)
        .repartition(W._SAIM_DELTA_FILES)
        .write.mode("overwrite")
        .parquet(f"{work}/delta")
    )
    schema = spark.read.parquet(f"{work}/delta").schema
    ckpt = f"{work}/ckpt"  # the SAME checkpoint for both runs
    epoch_root = os.path.join(path, S._DELTA_EPOCH_DIR)
    appender = W.make_epoch_appender(spark, epoch_root, cents)
    committed_before_crash = 2
    seen = []

    def bombed(batch_df, epoch_id):
        if len(seen) >= committed_before_crash:
            raise RuntimeError("injected crash mid-stream")
        appender(batch_df, epoch_id)
        seen.append(int(epoch_id))

    def _run(sink):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{work}/delta")
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        _run(bombed)
    mid = S.committed_delta_epochs(path)
    assert len(mid) == committed_before_crash, mid
    # plant the torn build dir a crash inside the epoch write would leave:
    # parquet data, marker, but never renamed into place — must stay
    # invisible to the committed listing and to the resume
    torn = os.path.join(epoch_root, "e2.build-deadbeef", "cell=0")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-0.parquet"), "wb") as fh:
        fh.write(b"x")
    with open(os.path.join(epoch_root, "e2.build-deadbeef", "_EPOCH"), "w") as fh:
        fh.write("2")
    assert S.committed_delta_epochs(path) == mid

    _run(appender)  # resume: same checkpoint, no bomb

    final = S.committed_delta_epochs(path)
    assert set(mid) <= set(final)
    assert len(final) >= 3  # the remaining files landed as new epochs
    # exactly-once: every corpus vector appears exactly once across
    # base + committed epochs, none lost, none duplicated
    idx = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p).select("vec_id", "cell")
            for p in [path, *final]
        ],
    )
    rows = idx.collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids)) == S._emb(spark, SF_ORACLE).count()
    # cell assignments equal a BATCH pass over the full delta against the
    # same frozen centroids (ingest-time-invariance of the frozen grid)
    got = {r["vec_id"]: r["cell"] for r in rows if r["vec_id"] >= split}
    want = {
        r["vec_id"]: r["cell"]
        for r in S._assign_by_broadcast(
            spark,
            S._emb(spark, SF_ORACLE).filter(F.col("vec_id") >= split),
            cents,
        ).collect()
    }
    assert got == want


def test_stream_ivfpq_maintenance_crash_and_resume_same_checkpoint(
    spark, tmp_path, monkeypatch
):
    """The codes-only twin of the crash-resume pin above: kill the
    IVF-PQ maintainer after 2 of 4 epochs commit, resume on the same
    checkpoint, and require base + committed epochs to hold every corpus
    vector's (cell, codes) row exactly once — with codes EQUAL to a
    batch encode of the full delta against the same frozen codebook
    (frozen-artifact ingest-time invariance surviving a mid-stream
    crash)."""
    from functools import reduce

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.streaming import windows as W

    S = _fresh_index_root(monkeypatch, tmp_path)
    path = S.stream_maintained_ivfpq_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    cents = [[float(x) for x in c] for c in meta["centroids"]]
    cb = meta["codebook"]
    split = int(meta["split"])

    work = str(tmp_path / "replay")
    (
        S._emb(spark, SF_ORACLE)
        .filter(F.col("vec_id") >= split)
        .repartition(W._SAIM_DELTA_FILES)
        .write.mode("overwrite")
        .parquet(f"{work}/delta")
    )
    schema = spark.read.parquet(f"{work}/delta").schema
    ckpt = f"{work}/ckpt"
    epoch_root = os.path.join(path, S._DELTA_EPOCH_DIR)
    appender = W.make_codes_epoch_appender(spark, epoch_root, cents, cb)
    seen = []

    def bombed(batch_df, epoch_id):
        if len(seen) >= 2:
            raise RuntimeError("injected crash mid-stream")
        appender(batch_df, epoch_id)
        seen.append(int(epoch_id))

    def _run(sink):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{work}/delta")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        _run(bombed)
    assert len(S.committed_delta_epochs(path)) == 2
    _run(appender)
    final = S.committed_delta_epochs(path)
    assert len(final) >= 3

    code_cols = [c for c in spark.read.parquet(path).columns if c.startswith("code_")]
    idx = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(p).select("vec_id", "cell", *code_cols)
            for p in [path, *final]
        ],
    )
    rows = idx.collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids)) == S._emb(spark, SF_ORACLE).count()
    got = {
        r["vec_id"]: tuple(r[c] for c in code_cols)
        for r in rows
        if r["vec_id"] >= split
    }
    want_codes = S._pq_encode_by_broadcast(
        spark, S._emb(spark, SF_ORACLE).filter(F.col("vec_id") >= split), cb
    ).collect()
    want = {
        r["vec_id"]: tuple(r[c] for c in code_cols) for r in want_codes
    }
    assert got == want


def test_drift_cell_rows_cover_every_cell_including_empty(spark, tmp_path):
    """ivf_drift_report must emit ALL nlist cells (empty ones as zeros):
    _adaptive_probes joins ranked probe cells to these sizes, and a
    missing top-ranked cell would make the fat-top gate read the next
    present cell — activating pruning the heuristic forbids for
    lower-ranked fat cells (r11 self-review). Constructed index with
    cells 2 and 3 genuinely empty (the real fixture corpora fill every
    cell, so this is the only way to exercise the zero branch)."""
    import json

    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.operators.maintenance import (
        ivf_drift_report,
    )
    from hri_flink_validation_passthrough_spark.operators.similarity import (
        _INDEX_META,
    )

    path = str(tmp_path / "sparse_idx")
    (
        spark.range(0, 20)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") % 2).cast("int").alias("cell"),  # cells 0,1 only
        )
        .write.partitionBy("cell")
        .parquet(path)
    )
    with open(os.path.join(path, _INDEX_META), "w") as fh:
        json.dump({"nlist": 4, "split": None}, fh)
    rep = ivf_drift_report(spark, path)
    assert sorted(int(c) for c in rep["cell_rows"]) == [0, 1, 2, 3]
    assert rep["cell_rows"]["2"] == rep["cell_rows"]["3"] == 0
    assert rep["cell_rows"]["0"] == rep["cell_rows"]["1"] == 10
    assert rep["total_rows"] == 20 and rep["cell_skew"] == 2.0


def test_retrain_never_publishes_stale_drift_stats(
    spark, tmp_path, monkeypatch, drifted_corpus_dir
):
    """The rebalanced index's sidecar must NOT carry the pre-rebalance
    drift stats (they are keyed to cell ids whose contents just moved):
    if the post-publish refresh dies, readers must fall back to fixed
    probes, never auto-tune off the stale sizes (r11 self-review)."""
    from hri_flink_validation_passthrough_spark.operators import (
        maintenance as M,
    )

    S = _fresh_index_root(monkeypatch, tmp_path / "idx")
    path = S.ivf_trained_upsert_index(spark, drifted_corpus_dir, nlist=8)

    real_report = M.ivf_drift_report
    calls = {"n": 0}

    def dying_report(spark_, path_):
        # the first call is the retrain decision; the second is the
        # post-publish refresh — simulate it crashing
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected post-publish crash")
        return real_report(spark_, path_)

    monkeypatch.setattr(M, "ivf_drift_report", dying_report)
    with pytest.raises(RuntimeError, match="injected"):
        M.retrain_if_skewed(spark, path)
    meta = S.read_index_meta(path)
    assert meta["centroid_kind"] == "lloyd_trained_rebalanced"  # published
    assert meta.get("drift") is None, (
        "stale pre-rebalance drift stats leaked into the published sidecar"
    )
