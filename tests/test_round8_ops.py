"""Round-8 additions: durable IVF index (r7 verdict ask #3), HLL set
algebra (ask #4), streaming quantile sketch with watermark eviction (ask #5).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.oracle import assert_matches_oracle


# --------------------------------------------------------------------------
# Durable IVF index
# --------------------------------------------------------------------------


def test_ann_ivf_durable_matches_oracle(spark):
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "ann_ivf_durable_topk"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_ivf_durable_index_prunes_files(spark):
    """The 100 TB read-path property: the probed-cell union must reach the
    scan as PartitionFilters and the executed read must touch strictly
    fewer files than the index holds. Asserted from RUNTIME truth
    (input_file_name during execution), not just plan text."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    path = S.ivf_durable_index(spark, SF_ORACLE)
    total = len(glob.glob(f"{path}/cell=*/*.parquet"))
    assert total > 0
    _, probes = S._ivf_assign_probes(spark, SF_ORACLE, nlist=S.DNLIST)
    probed = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    # the structural guarantee: probe slots bound the union
    assert len(probed) <= S.N_QUERIES * S.NPROBE < S.DNLIST
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    nread = cand.select(F.input_file_name()).distinct().count()
    assert 0 < nread < total, f"no pruning: read {nread} of {total} files"
    plan = cand._sc._jvm.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [cell" in plan


def test_ann_ivf_upsert_matches_oracle(spark):
    """The upserted index (base build + cell-wise delta append) must equal
    a full rebuild — same full-corpus oracle as the durable twin."""
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "ann_ivf_upsert_topk"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_ivf_upsert_appends_without_rewriting_base(spark):
    """The maintenance contract: the delta append lands NEW part-files
    inside the cells and never rewrites the base file set (otherwise daily
    index freshness costs a rebuild)."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    path = S.ivf_upsert_index(spark, SF_ORACLE)
    meta = S.read_index_meta(path)
    current = set(glob.glob(f"{path}/cell=*/*.parquet"))
    base = set(meta["base_files"])
    assert base, "no base files recorded"
    assert base <= current, "append rewrote/removed base files"
    assert len(current) > len(base), "no delta files were appended"


def test_ivf_upsert_index_compaction_roundtrip(spark, tmp_path):
    """Close the maintenance loop: upserts accumulate small per-cell delta
    files; per-cell compaction with the EXISTING maintenance op
    (compact_small_files — coalesce rewrite, row-count-guarded) must cut
    the file count while leaving the pruned read path's answers
    hash-identical to the oracle."""
    import __spark_entry__ as entrymod

    from hri_flink_validation_passthrough_spark.operators import similarity as S
    from hri_flink_validation_passthrough_spark.operators.maintenance import (
        compact_small_files,
    )

    src = S.ivf_upsert_index(spark, SF_ORACLE)
    n_before = len(glob.glob(f"{src}/cell=*/*.parquet"))
    dst = str(tmp_path / "ivf_compacted")
    for cdir in sorted(glob.glob(f"{src}/cell=*")):
        compact_small_files(spark, cdir, f"{dst}/{os.path.basename(cdir)}")
    n_after = len(glob.glob(f"{dst}/cell=*/*.parquet"))
    assert 0 < n_after < n_before, f"no compaction: {n_before} -> {n_after}"
    got = S._ivf_index_read_topk(spark, SF_ORACLE, dst)
    osql = entrymod.oracle_sql()
    assert_matches_oracle(
        got, osql["ann_ivf_upsert_topk"], SF_ORACLE, "ivf_compacted_read"
    )


def test_ann_ivfpq_durable_matches_oracle(spark):
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "ann_ivfpq_durable_topk"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_ivfpq_durable_index_holds_codes_only(spark):
    """The PQ memory-layer contract: the on-disk index carries ONLY
    (vec_id, codes, cell) — raw vectors stay in the corpus table and are
    read just for the shortlist rerank. A schema that re-grows the `e`
    column silently re-inflates the index by ~the corpus size."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    idx = spark.read.parquet(S.ivfpq_durable_index(spark, SF_ORACLE))
    assert "e" not in idx.columns
    assert set(idx.columns) == (
        {"vec_id", "cell"} | {f"code_{m}" for m in range(S.PQ_M)}
    )


# --------------------------------------------------------------------------
# Incremental dedup (delta vs corpus)
# --------------------------------------------------------------------------


def test_dedup_incremental_delta_matches_oracle(spark):
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "dedup_incremental_delta"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_dedup_incremental_is_cross_partition_subset(spark):
    """Every incremental pair must be (corpus, delta) — doc_a strictly
    below the split, doc_b at/above it — and the incremental output must
    be exactly the full dedup's pairs restricted to that cross cut (no
    corpus x corpus re-checks, no missed cross pairs)."""
    import __spark_entry__ as entrymod

    from hri_flink_validation_passthrough_spark.operators import dedup as D
    from hri_flink_validation_passthrough_spark.session import load_table

    qs = entrymod.queries()
    max_id = (
        load_table(spark, SF_ORACLE, "documents")
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    split = max_id * D._DELTA_NUM // D._DELTA_DEN
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in qs["dedup_incremental_delta"](spark, SF_ORACLE).collect()
    }
    assert inc, "no incremental pairs at this sf — test data drifted"
    assert all(a < split <= b for a, b, _ in inc)
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in qs["dedup_minhash_lsh"](spark, SF_ORACLE).collect()
    }
    assert inc == {(a, b, j) for a, b, j in full if a < split <= b}


# --------------------------------------------------------------------------
# HLL set algebra
# --------------------------------------------------------------------------


def test_hll_set_algebra_matches_oracle(spark):
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "hll_set_algebra"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_stream_hll_cardinality_matches_oracle(spark):
    """The MAX-merge streaming sketch twin: complete-mode register state
    through the real engine must hash-match the batch HLL oracle."""
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    name = "stream_hll_cardinality"
    assert_matches_oracle(qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name)


def test_hll_register_split_merge_parity(spark):
    """The property that makes HLL the distributed-distinct structure:
    union of sketches IS the sketch of the union. Build registers from two
    disjoint corpus halves, merge cell-wise MAX, and require exact register
    equality with the whole-corpus build — same shape as the quantile
    sketch's split-merge parity pin."""
    from tests.conftest import SF_SMALL
    from hri_flink_validation_passthrough_spark.operators.text import (
        _hll_reg_table,
    )
    from hri_flink_validation_passthrough_spark.session import load_table

    e = load_table(spark, SF_SMALL, "events")
    split = F.crc32(F.col("user_id").cast("string")) % 2
    r0 = _hll_reg_table(e.filter(split == 0))
    r1 = _hll_reg_table(e.filter(split == 1))
    merged = (
        r0.withColumnRenamed("reg", "reg0")
        .join(
            r1.withColumnRenamed("reg", "reg1"),
            ["event_type", "bucket"],
            "full_outer",
        )
        .select(
            "event_type",
            "bucket",
            F.greatest(
                F.coalesce("reg0", F.lit(0)), F.coalesce("reg1", F.lit(0))
            ).alias("reg"),
        )
    )
    whole = _hll_reg_table(e)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, whole.collect()))
    assert got == want


# --------------------------------------------------------------------------
# Windowed streaming quantile sketch (append mode, watermark eviction)
# --------------------------------------------------------------------------

_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}


@pytest.mark.parametrize("provider", sorted(_PROVIDERS))
def test_stream_quantile_sketch_windowed_both_backends(spark, provider):
    """r7 verdict ask #5: per-window sketch state in APPEND mode with
    watermark eviction, oracle-green on BOTH state-store providers. The
    provider conf is session-wide and read lazily at state-store init, so
    it is stashed and restored around the whole query lifetime, so later
    streaming queries in the session keep the default provider."""
    import __spark_entry__ as entrymod

    conf = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(conf)
    except Exception:
        prev = None
    spark.conf.set(conf, _PROVIDERS[provider])
    try:
        qs, osql = entrymod.queries(), entrymod.oracle_sql()
        name = "stream_quantile_sketch_windowed"
        assert_matches_oracle(
            qs[name](spark, SF_ORACLE), osql[name], SF_ORACLE, name
        )
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_windowed_sketch_runs_append_mode(spark):
    """The windowed twin must actually run in append mode (state evicted at
    the watermark), not complete mode — pin the output-mode wiring so a
    refactor can't silently fall back to the r7 keep-everything shape."""
    import inspect

    from hri_flink_validation_passthrough_spark.streaming import windows as W

    src = inspect.getsource(W.stream_quantile_sketch_windowed)
    assert 'output_mode="append"' in src
    assert "withWatermark" in src


def test_ivf_durable_index_is_not_rebuilt(spark):
    """Durability contract: a second request — including from a process
    that lost the in-memory memo — must reuse the on-disk artifact, not
    rewrite it (the index is built at ingest, read by every query)."""
    from hri_flink_validation_passthrough_spark.operators import similarity as S

    path = S.ivf_durable_index(spark, SF_ORACLE)
    marker = os.path.join(path, "_SUCCESS")
    mtime = os.path.getmtime(marker)
    # simulate a fresh process: drop the dict memo, keep the directory
    S._ivf_index_dir_memo.pop((SF_ORACLE.rstrip("/"), f"ivf_n{S.DNLIST}"), None)
    assert S.ivf_durable_index(spark, SF_ORACLE) == path
    assert os.path.getmtime(marker) == mtime, "index was rebuilt"
