"""Index-catalog round-trip guards (r8 verdict ask #4 done-criteria): a
fresh session must resolve and prune a published durable index from its
``_catalog_meta.json`` sidecar alone — no corpus recompute, no retraining —
and a regenerated corpus at the same path must invalidate the index via the
content fingerprint instead of silently serving stale cells."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, drop_session_memo


@pytest.fixture(autouse=True)
def _private_index_dir_memo(monkeypatch):
    """Each test resolves through its own index-directory memo, so no entry
    pointing into a test's tmp index root outlives the test (a later test
    resolving the same index name would get that tmp path)."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setattr(S, "_ivf_index_dir_memo", {})


def _clear_session_memos():
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    S._ivf_index_dir_memo.clear()
    drop_session_memo(S._train_cells, S._collect_first_n)


def test_fresh_session_resolves_trained_index_from_metadata_alone(
    spark, tmp_path, monkeypatch
):
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    _clear_session_memos()
    first = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S.ann_ivf_trained_topk(spark, SF_ORACLE).collect()
    }
    path = S.ivf_trained_index(spark, SF_ORACLE)
    assert path.startswith(str(tmp_path)), "index ignored the catalog root"

    # fresh session: no memos, and BOTH centroid derivations poisoned —
    # the read path may only use the sidecar
    _clear_session_memos()

    def _poisoned(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("read path recomputed centroids from the corpus")

    monkeypatch.setattr(S, "lloyd_trained_centroids", _poisoned)
    monkeypatch.setattr(S, "_first_n_centroids", _poisoned)
    again = {
        (r["qid"], r["nid"], r["rnk"])
        for r in S.ann_ivf_trained_topk(spark, SF_ORACLE).collect()
    }
    assert again == first

    # and the metadata-resolved read still prunes: strictly fewer files
    # touched than the index holds (runtime truth, not plan text)
    meta = S.read_index_meta(path)
    assert meta["centroid_kind"] == "lloyd_trained"
    total = len(glob.glob(f"{path}/cell=*/*.parquet"))
    probes = S._probes_from_centroids(spark, SF_ORACLE, meta["centroids"])
    probed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    nread = cand.select(F.input_file_name()).distinct().count()
    assert 0 < nread < total, f"no pruning: read {nread} of {total} files"


def test_regenerated_corpus_invalidates_index(spark, tmp_path, monkeypatch):
    """ADVICE r8: an index keyed only by path would silently serve stale
    cells after the dataset at that path is regenerated. The sidecar's
    corpus fingerprint (size + mtime_ns) must force a rebuild instead."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path / "idx"))
    os.makedirs(tmp_path / "idx", exist_ok=True)
    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "embeddings.parquet"),
        corpus / "embeddings.parquet",
    )
    _clear_session_memos()
    path = S.ivf_durable_index(spark, str(corpus))
    built = os.path.getmtime(os.path.join(path, "_SUCCESS"))

    # same session, untouched corpus: served from the catalog, not rebuilt
    assert S.ivf_durable_index(spark, str(corpus)) == path
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == built

    # "regenerate" the corpus in place (content may even be identical —
    # mtime_ns change is enough; a real regen changes size too)
    os.utime(corpus / "embeddings.parquet")
    _clear_session_memos()  # fresh session; the DIRECTORY is the artifact
    path2 = S.ivf_durable_index(spark, str(corpus))
    assert path2 == path
    assert os.path.getmtime(os.path.join(path2, "_SUCCESS")) != built, (
        "stale index served after the corpus was regenerated in place"
    )


def test_publish_is_atomic_no_build_residue(spark, tmp_path, monkeypatch):
    """Builds land in .build-* temp dirs and are renamed into place; after
    a successful publish no temp dir may remain and the published dir must
    carry the sidecar + _SUCCESS (readers never see a partial index)."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    _clear_session_memos()
    path = S.ivf_durable_index(spark, SF_ORACLE)
    assert os.path.exists(os.path.join(path, S._INDEX_META))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not glob.glob(f"{path}.build-*"), "unpublished build residue"


def test_trained_upsert_equals_one_shot_with_frozen_centroids(
    spark, tmp_path, monkeypatch
):
    """The trained-quantizer maintenance contract: base-build trains on the
    base slice and FREEZES the centroids; the delta append assigns against
    the frozen grid, so the upserted index must equal a one-shot build of
    the full corpus with THOSE SAME centroids (NOT a full re-train — that
    is the periodic rebalance, a different operation)."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    _clear_session_memos()
    up_path = S.ivf_trained_upsert_index(spark, SF_ORACLE)
    meta = S.read_index_meta(up_path)
    assert meta["centroid_kind"] == "lloyd_trained_base_slice"
    cents = meta["centroids"]

    # one-shot build of the FULL corpus with the frozen base-trained grid
    one_shot = S._durable_index(
        spark,
        SF_ORACLE,
        "trained_oneshot_equiv",
        lambda: (
            [S._assign_by_literal(S._emb(spark, SF_ORACLE), cents)],
            {"nlist": S.DNLIST, "centroids": cents},
        ),
    )
    probes = S._probes_from_centroids(spark, SF_ORACLE, cents)
    read = lambda p: {  # noqa: E731
        (r["qid"], r["nid"], r["rnk"])
        for r in S._ivf_index_read_topk(
            spark, SF_ORACLE, p, probes=probes
        ).collect()
    }
    assert read(up_path) == read(one_shot)


def test_trained_upsert_appends_without_rewriting_base(
    spark, tmp_path, monkeypatch
):
    """The delta phase lands NEW part-files inside the cells; every base
    part-file recorded in the sidecar survives the publish untouched."""
    import glob as globmod

    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    _clear_session_memos()
    path = S.ivf_trained_upsert_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    base_files = meta["base_files"]
    assert base_files and all(os.path.exists(p) for p in base_files)
    all_files = set(globmod.glob(f"{path}/cell=*/*.parquet"))
    assert set(base_files) < all_files, "delta appended no new part-files"


def _negate_parquet_in_place(src: str) -> None:
    """'Regenerate' an embeddings parquet at the same path with NEGATED
    vectors — distinguishable content for staleness tests."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT vec_id,"
        " list_transform(embedding, x -> -x) AS embedding"
        f" FROM read_parquet('{src}')"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    con.close()


def test_memo_staleness_same_session_regen(spark, tmp_path, monkeypatch):
    """ADVICE r9 (medium): session memos caching corpus-derived artifacts
    (centroids, assignments) must key on the corpus fingerprint. Otherwise a
    fingerprint-mismatch rebuild consumes STALE memoized centroids yet
    stamps the NEW fingerprint — a permanently-'current' index built from
    old data. Regenerate the corpus in place WITHOUT clearing memos and
    assert both the memoized centroids and the rebuilt sidecar track the
    new content."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path / "idx"))
    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "embeddings.parquet"),
        corpus / "embeddings.parquet",
    )
    _clear_session_memos()
    before = S._first_n_centroids(spark, str(corpus), 4)
    path = S.ivf_durable_index(spark, str(corpus))
    cents1 = S.read_index_meta(path)["centroids"]

    _negate_parquet_in_place(str(corpus / "embeddings.parquet"))
    # NO memo clear: same session observes the regenerated corpus
    after = S._first_n_centroids(spark, str(corpus), 4)
    assert after == [[-x for x in row] for row in before], (
        "memoized centroids served stale pre-regeneration data"
    )
    path2 = S.ivf_durable_index(spark, str(corpus))
    cents2 = S.read_index_meta(path2)["centroids"]
    assert cents2 == [[-x for x in row] for row in cents1], (
        "rebuild stamped the new fingerprint over stale memoized centroids"
    )


def test_ivfpq_cand_memo_rederives_on_changed_nlist(spark):
    """The IVF-PQ candidate memo keys on the coarse grid its assignment
    input is keyed on: a table built for one nlist is never served for
    another."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    small = 4
    base, _ = S._ivfpq_cand(spark, SF_ORACLE)
    assert S._ivfpq_cand(spark, SF_ORACLE)[0] is base  # memo hit
    other, _ = S._ivfpq_cand(spark, SF_ORACLE, nlist=small)
    assert other is not base, "memo served the default grid's table"
    assert other.agg(F.max("cell")).first()[0] < small
    assert base.agg(F.max("cell")).first()[0] >= small
    # the default grid's entry survives the other grid's build
    assert S._ivfpq_cand(spark, SF_ORACLE)[0] is base


def test_publish_race_loser_yields_to_winner(tmp_path, monkeypatch):
    """ADVICE r9 (low): POSIX rename onto an existing non-empty directory
    fails (ENOTEMPTY) — the losing concurrent publisher must treat the
    already-published index as authoritative and discard its tmp dir, not
    crash. Simulated by republishing *base* in the window between the
    aside-move and the final rename."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    base = tmp_path / "idx"
    tmp = tmp_path / "idx.build-loser"
    os.makedirs(tmp)
    (tmp / "data.txt").write_text("loser")
    os.makedirs(base)
    (base / "data.txt").write_text("winner-v1")

    real_rename = os.rename

    def racing_rename(src, dst):
        real_rename(src, dst)
        if str(src) == str(base):
            # concurrent winner publishes the instant base is moved aside
            os.makedirs(base)
            (base / "data.txt").write_text("winner-v2")

    monkeypatch.setattr(os, "rename", racing_rename)
    S._publish_index(str(base), str(tmp))  # must not raise
    assert (base / "data.txt").read_text() == "winner-v2", (
        "loser clobbered the concurrently published index"
    )
    assert not tmp.exists(), "losing build residue left behind"


def test_missing_corpus_degrades_to_stale_not_raise(tmp_path):
    """ADVICE r9 (low): resolving an index whose source corpus was wiped
    (durable index volume, ephemeral data dir) must report 'stale', never
    raise FileNotFoundError."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    gone = tmp_path / "wiped-corpus"
    fp = S._corpus_fingerprint(str(gone))  # no raise
    assert fp.get("missing") is True
    # sentinel never matches a recorded fingerprint from a successful build
    assert fp != {"src": fp["src"], "size": 0, "mtime_ns": 0}
    assert S._index_is_current(str(tmp_path / "noidx"), str(gone), "x") is False


def test_dedup_memo_staleness_same_session_regen(spark, tmp_path):
    """The r9 memo-staleness ADVICE generalized (r10): dedup's shingle memo
    caches a persisted table per (session, sf_dir) — regenerating
    documents.parquet in place mid-session must invalidate it via the
    source fingerprint in the memo key, not serve stale shingles."""
    import duckdb

    from hri_flink_validation_passthrough_spark.operators import dedup as D

    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "documents.parquet"),
        corpus / "documents.parquet",
    )
    n1 = D._shingles_for(spark, str(corpus)).count()

    # regenerate IN PLACE with half the documents — same path, new content
    src = str(corpus / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')"
        " WHERE doc_id % 2 = 0"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    con.close()

    n2 = D._shingles_for(spark, str(corpus)).count()
    assert n2 < n1, (
        "shingle memo served the stale pre-regeneration corpus "
        f"({n1} == {n2})"
    )


def test_events_intermediates_track_same_session_regen(spark, tmp_path):
    """Cached events intermediates (the shared dense hourly series and the
    per-query MAD / chi-square tables) must not outlive an in-place
    regeneration of events.parquet: Spark's CacheManager would substitute
    a cached table into the next semantically equal plan and serve the
    pre-regeneration rows."""
    import duckdb

    from hri_flink_validation_passthrough_spark.operators import analytics as A
    from tests.oracle import canon_rows

    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    src = str(corpus / "events.parquet")
    shutil.copy(os.path.join(SF_ORACLE, "events.parquet"), src)
    names = ["ts_subsequence_match", "events_mad_outliers", "chi_square_type_by_dow"]
    for name in names:
        A.QUERIES[name].fn(spark, str(corpus)).collect()

    # regenerate IN PLACE with half the events — same path, new content
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')"
        " WHERE event_id % 2 = 0"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}')")

    for name in names:
        spec = A.QUERIES[name]
        got = canon_rows(spec.fn(spark, str(corpus)).toPandas())
        assert got == canon_rows(con.sql(spec.oracle).df()), (
            f"{name} served rows cached before the regeneration"
        )
    con.close()


def test_window_input_dirs_track_same_session_regen(spark, tmp_path):
    """The streaming harnesses replay events from a session-memoized temp
    dir (events + far-future sentinels). Regenerating events.parquet in
    place mid-session must rebuild that dir, not replay the stale one."""
    import duckdb

    from hri_flink_validation_passthrough_spark.streaming import windows as W

    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    src = str(corpus / "events.parquet")
    shutil.copy(os.path.join(SF_ORACLE, "events.parquet"), src)
    con = duckdb.connect()

    def rows(path: str) -> int:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet')"
        ).fetchone()[0]

    dirs = [W._outer_join_input_dir, W._qsk_window_input_dir]
    before = [rows(d(spark, str(corpus))) for d in dirs]

    # regenerate IN PLACE with half the events — same path, new content
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')"
        " WHERE event_id % 2 = 0"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    n_events = con.execute("SELECT count(*) FROM t").fetchone()[0]

    after = [rows(d(spark, str(corpus))) for d in dirs]
    # each dir holds the events plus its sentinel rows (2 and 1)
    assert after == [n_events + 2, n_events + 1], (before, after)
    con.close()


def test_window_input_dirs_live_under_the_spark_files_root(spark):
    """The harness input dirs are created under the SparkFiles root, which
    Spark deletes on ``SparkContext.stop()``, so no session leaves them
    behind in the system temp dir."""
    from pyspark import SparkFiles

    from hri_flink_validation_passthrough_spark.streaming import windows as W

    root = os.path.realpath(SparkFiles.getRootDirectory())
    for input_dir in (W._outer_join_input_dir, W._qsk_window_input_dir):
        path = os.path.realpath(input_dir(spark, SF_ORACLE))
        assert os.path.commonpath([root, path]) == root, (root, path)
        assert os.listdir(path)


def test_bucketing_artifacts_track_regen_and_cleanup(spark, tmp_path):
    """r10 review follow-up: session-written table copies (partitioned
    events here) must track an in-place source regen via the fingerprint
    tag AND drop the previous copy's catalog table + data dir instead of
    leaking one full copy per regen."""
    import duckdb

    from hri_flink_validation_passthrough_spark.plans import bucketing as B

    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "events.parquet"), corpus / "events.parquet"
    )
    t1 = B.partitioned_events(spark, str(corpus))
    n1 = t1.count()
    key = (spark.sparkContext.applicationId, str(corpus), "part")
    tag1, tables1, dirs1 = B._ARTIFACT_REG[key]

    # regenerate IN PLACE with half the events
    src = str(corpus / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')"
        " WHERE event_id % 2 = 0"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    con.close()

    t2 = B.partitioned_events(spark, str(corpus))
    n2 = t2.count()
    assert n2 < n1, "partitioned copy served the stale pre-regen events"
    # previous copy cleaned up: catalog table gone, data dir removed
    assert not spark.catalog.tableExists(tables1[0])
    assert not os.path.exists(dirs1[0])


def test_publish_non_race_oserror_propagates(tmp_path):
    """ADVICE r11 (low): only the rename-race errnos (ENOTEMPTY / EEXIST /
    ENOTDIR) mean 'another builder won'. A real failure — here the index
    root's parent directory missing (ENOENT) — must raise at the publish
    site, not silently discard the completed build and resurface later as
    a confusing missing-sidecar error."""
    import pytest

    from hri_flink_validation_passthrough_spark.operators import similarity as S

    tmp = tmp_path / "idx.build-x"
    os.makedirs(tmp)
    (tmp / "data.txt").write_text("built")
    with pytest.raises(OSError):
        S._publish_index(str(tmp_path / "no-such-parent" / "idx"), str(tmp))
    # and the completed build is NOT thrown away on a real failure
    assert (tmp / "data.txt").exists()


def test_bucketing_failed_regen_preserves_previous_copy(spark, tmp_path, monkeypatch):
    """ADVICE r11 (low): artifact swap must happen AFTER the new tables are
    written. A regen whose write fails must leave the previous tag's
    catalog table + data dir fully intact (still served on the next call),
    not drop them up front and register never-completed paths."""
    import duckdb
    import pytest

    from hri_flink_validation_passthrough_spark.plans import bucketing as B

    corpus = tmp_path / "corpus"
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "events.parquet"), corpus / "events.parquet"
    )
    B.partitioned_events(spark, str(corpus))
    key = (spark.sparkContext.applicationId, str(corpus), "part")
    tag1, tables1, dirs1 = B._ARTIFACT_REG[key]

    # regenerate IN PLACE (new fingerprint -> new tag on next call)
    src = str(corpus / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')"
        " WHERE event_id % 2 = 0"
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    con.close()

    def boom(*a, **k):
        raise RuntimeError("injected write failure")

    with monkeypatch.context() as mp:
        mp.setattr(B, "load_table", boom)
        with pytest.raises(RuntimeError, match="injected"):
            B.partitioned_events(spark, str(corpus))

    # previous copy survived the failed rebuild: registration unchanged,
    # catalog table present, data dir on disk
    assert B._ARTIFACT_REG[key][0] == tag1
    assert spark.catalog.tableExists(tables1[0])
    assert os.path.exists(dirs1[0])

    # and a subsequent successful rebuild swaps + cleans up as before
    t2 = B.partitioned_events(spark, str(corpus))
    assert t2.count() > 0
    assert B._ARTIFACT_REG[key][0] != tag1
    assert not spark.catalog.tableExists(tables1[0])
    assert not os.path.exists(dirs1[0])


def test_filtered_durable_read_pushes_predicate(spark, tmp_path, monkeypatch):
    """Filtered search over the ON-DISK index (the 100 TB claim in
    ann_ivf_filtered_topk's docstring): a range predicate on a stored
    column must reach the index's parquet scan as a PUSHED filter while
    the probe set simultaneously prunes cell partitions — both prunings
    visible on one executed plan, and the filtered result is the plain
    pruned read minus the filtered-out candidates."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    monkeypatch.setenv(S.INDEX_ROOT_ENV, str(tmp_path))
    _clear_session_memos()
    path = S.ivf_durable_index(spark, SF_ORACLE)
    _, probes = S._ivf_assign_probes(spark, SF_ORACLE, nlist=S.DNLIST)
    probed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))
        .filter(F.col("vec_id") < 250)  # the pushable metadata predicate
    )
    cand.collect()
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan(vec_id,250)" in plan, plan
    assert "PartitionFilters" in plan and "cell#" in plan, plan
    # correctness of the filtered read vs the unfiltered pruned read
    unfiltered = {
        r["vec_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin(probed))
        .select("vec_id")
        .collect()
    }
    filtered = {r["vec_id"] for r in cand.select("vec_id").collect()}
    assert filtered == {v for v in unfiltered if v < 250}
