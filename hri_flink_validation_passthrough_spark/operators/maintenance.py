"""Table-maintenance utilities: compaction, version vacuum, layout report.

The ops side of an engine that maintains parquet tables (the CDC upsert in
``streaming/windows.py`` writes ``v{N}`` version directories; every long-lived
streaming sink accretes small files). The primitives a real deployment runs
on a schedule:

- ``compact_small_files`` — rewrite a dataset into ~target-sized files with
  ``coalesce`` (NO shuffle: partitions are concatenated, never repartitioned
  by key — compaction must not pay a network pass at 100 TB; callers who want
  clustering on top use the bucketed/Z-order writers in ``plans/bucketing``).
- ``vacuum_table_versions`` — drop all but K ``v{N}`` directories of a
  versioned table root, ranking keep-priority by ``(_EPOCH marker, version)``
  so uncommitted partial writes go first and the newest *committed* version
  (the ``recover_cdc_state`` anchor) is never deleted (the swap protocol
  keeps every version self-contained, so vacuum is pure directory deletion).
- ``table_layout_report`` — the small-files diagnostic (file count, byte
  sizes, rows/file) that decides WHEN to compact; pure filesystem metadata +
  one count, no data scan of column values.
- ``list_table_versions`` / ``read_table_version`` — time travel: AS-OF
  reads of the committed (``_EPOCH``-marked) version snapshots.
- ``checksum_by_bucket`` + the ``table_checksum_integrity`` query —
  anti-entropy replica-divergence detection via per-bucket BIT_XOR'd
  portable row hashes.

Reference parity note: the reference engine (Alvearie
hri-flink-validation-passthrough) has no table surface at all — these are
north-star extensions mandated by the engine's own CDC/table features.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import iofs

from ..plans import QuerySpec, register
from ..session import load_table
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the classic HDFS/parquet sweet spot

_VER_RE = re.compile(r"^v(\d+)$")


def _data_files(path: str, include_hidden_trees: bool = False) -> list[str]:
    """Parquet data files under *path*. By default underscore/dot-prefixed
    SUBDIRECTORIES are pruned too — Spark's reader ignores them (e.g. a
    stream-maintained index's _delta_epochs), so counting their files
    against a spark.read row count would make a layout report internally
    inconsistent (r11 self-review finding). fold_delta_epochs passes
    include_hidden_trees=True: its before/after file metric deliberately
    spans the epoch trees it folds. Listing routes through iofs (r15), so
    the layout report works on an object-store catalog root too."""
    return [f for f, _sz in _data_files_with_size(path, include_hidden_trees)]


def _data_files_with_size(
    path: str, include_hidden_trees: bool = False
) -> list[tuple[str, int]]:
    """(full path, bytes) per data file, in ONE recursive listing pass —
    the listStatus response already carries lengths, so the layout report
    over a remote million-file table never pays a per-file stat RPC."""
    out = []
    for rel, sz in iofs.list_files_with_size(path):
        segs = rel.split("/")
        if not segs[-1].endswith(".parquet") or segs[-1].startswith(("_", ".")):
            continue
        if not include_hidden_trees and any(
            s.startswith(("_", ".")) for s in segs[:-1]
        ):
            continue
        out.append((iofs.join(path, rel), sz))
    return out


def table_layout_report(spark: SparkSession, path: str) -> dict:
    """File-layout health of a parquet dataset (metadata-only + row count)."""
    files_sized = _data_files_with_size(path)
    files = [f for f, _sz in files_sized]
    sizes = [sz for _f, sz in files_sized]
    n_rows = spark.read.parquet(path).count() if files else 0
    return {
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes) if sizes else 0,
        "max_bytes": max(sizes) if sizes else 0,
        "avg_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
        "n_rows": n_rows,
    }


def compact_small_files(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Rewrite ``src`` into ``dst`` with ~``target_bytes``-sized files.

    The output file count is ``ceil(total_bytes / target_bytes)`` (>=1),
    reached with ``coalesce`` — a partition-merge with no shuffle, no
    re-sorting, and no change to row content. Returns a before/after report.
    """
    before = table_layout_report(spark, src)
    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))
    df = spark.read.parquet(src)
    # coalesce can only REDUCE partition count; if the source has fewer
    # (huge-file) partitions than n_out, leave them — splitting oversized
    # files is the scan's job (maxPartitionBytes), not the writer's.
    df.coalesce(n_out).write.mode("overwrite").parquet(dst)
    after = table_layout_report(spark, dst)
    # a plain assert is compiled out under `python -O` — exactly where an
    # unattended maintenance job would run; keep the invariant unconditional
    if after["n_rows"] != before["n_rows"]:
        raise RuntimeError(
            f"compaction must not drop rows: {before['n_rows']} -> "
            f"{after['n_rows']} ({src} -> {dst})"
        )
    return {"before": before, "after": after, "target_files": n_out}


def list_table_versions(root: str) -> list[int]:
    """Committed (``_EPOCH``-marked) version numbers of a versioned table,
    ascending. Uncommitted partial writes (crash between parquet write and
    marker write) are excluded — they are not readable history."""
    out = []
    for d in iofs.list_names(root):
        m = _VER_RE.match(d)
        if m and iofs.exists(iofs.join(root, d, "_EPOCH")):
            out.append(int(m.group(1)))
    return sorted(out)


def read_table_version(spark: SparkSession, root: str, version: int):
    """Time-travel read: the table AS OF committed version ``version``.

    Every ``v{N}`` directory the CDC writer produces is a SELF-CONTAINED
    snapshot (full-table merge per microbatch, not a delta log), so time
    travel is a plain parquet read of that directory — no log replay, no
    reconstruction. Only ``_EPOCH``-marked versions are readable: an
    unmarked directory is a torn write whose contents are undefined.
    Raises ``ValueError`` for unknown/uncommitted versions (listing the
    committed ones, so callers can bisect history).
    """
    path = iofs.join(root, f"v{version}")
    if not iofs.is_dir(path) or not iofs.exists(iofs.join(path, "_EPOCH")):
        raise ValueError(
            f"no committed version v{version} under {root}; "
            f"committed versions: {list_table_versions(root)}"
        )
    return spark.read.parquet(path)


def vacuum_table_versions(root: str, keep: int = 2) -> dict:
    """Delete all but ``keep`` ``v{N}`` version directories, marker-aware.

    Versions are self-contained snapshots (the CDC writer's swap protocol),
    so deletion is pure directory removal — but COMMIT ORDER is defined by
    the ``_EPOCH`` marker the CDC writer drops after a successful parquet
    write, not by the version number alone. A crash between the parquet
    write and the marker write leaves the numerically-newest ``v{N}``
    uncommitted; ranking purely by number would then keep the partial
    version and delete the last committed one, leaving
    ``recover_cdc_state`` (which only restores MARKED versions) with
    nothing. Hence:

    - keep-priority ranks by ``(has _EPOCH marker, version)`` — uncommitted
      partial versions are vacuumed first, regardless of number;
    - the newest *marked* version is never deleted, regardless of ``keep``.

    Returns kept/removed version numbers.
    """
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current version always stays)")
    if not iofs.is_dir(root):
        # a table root that does not exist yet has no versions to vacuum —
        # mirror list_table_versions' graceful empty instead of
        # FileNotFoundError from a scheduled job (r11 self-review)
        return {"kept": [], "removed": []}
    vers = sorted(
        int(m.group(1))
        for d in iofs.list_names(root)
        if (m := _VER_RE.match(d)) and iofs.is_dir(iofs.join(root, d))
    )

    def _committed(v: int) -> bool:
        return iofs.exists(iofs.join(root, f"v{v}", "_EPOCH"))

    by_keep_priority = sorted(vers, key=lambda v: (_committed(v), v), reverse=True)
    hold = set(by_keep_priority[:keep])
    marked = [v for v in vers if _committed(v)]
    if marked:
        hold.add(max(marked))  # the recovery anchor survives any keep
    drop = [v for v in vers if v not in hold]
    for v in drop:
        iofs.delete(iofs.join(root, f"v{v}"), ignore_errors=False)
    return {"kept": sorted(hold), "removed": drop}


# --- content checksums: anti-entropy / replica-divergence detection -------

CS_BUCKETS = 16
CS_TAMPER_BUCKET = 3  # the query's injected corruption, for a visible diff
# Checksum-scheme version (ADVICE r12): v1 bucketed with sign-preserving %,
# v2 with pmod — the two assign NEGATIVE keys to different buckets, so a
# persisted v1 snapshot compared against a fresh v2 computation would report
# false divergence on tables with negative keys. The in-repo query computes
# both sides fresh (always same-version), but any caller that PERSISTS
# checksum_by_bucket output for later anti-entropy comparison must store
# this version alongside it and recompute when versions differ.
CS_SCHEME_VERSION = 2


def checksum_by_bucket(df: DataFrame, cols: list[str], key: str) -> DataFrame:
    """Per-bucket content checksum: (bucket, n_rows, checksum).

    Each row is canonicalized to a '|'-joined string of ``cols`` (caller
    formats timestamps/doubles into stable strings first), md5-hashed to a
    60-bit integer (first 15 hex chars — the repo's portable md5->int
    construction, same as dedup_simhash_md5), and the per-bucket checksum is
    the BIT_XOR of row hashes: order-independent, overflow-free at any row
    count, and one map-side-combinable aggregation — comparing two 100 TB
    replicas costs one scan each plus a 16-row exchange, no data movement.
    A divergent row flips its bucket's checksum with probability 1-2^-60.
    Bucketing uses pmod, not %: sign-preserving modulo would scatter
    negative keys across buckets -16..-1 and mis-align replicas bucketed
    by an engine with different modulo sign semantics (for the positive
    key domains of the registered query the two are identical).
    Persisted snapshots must carry ``CS_SCHEME_VERSION`` (the % -> pmod
    change altered bucket assignment for negative keys; cross-version
    comparison is invalid — see the constant's note).
    """
    s = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    row_cs = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    return (
        df.withColumn("bucket", F.pmod(F.col(key), F.lit(CS_BUCKETS)))
        .withColumn("row_cs", row_cs)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(row_cs)").alias("checksum"),
        )
    )


# canonical column expressions for the orders table, shared by query+oracle:
# integer/string columns verbatim; the timestamp formatted; the DOUBLE
# column excluded (float-to-string canonicalization is engine-specific —
# a production checksum would use the stored binary, not a decimal render)
_CS_COLS_SPARK = [
    "ck_orderkey",
    "ck_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "ck_date",
]


@register(
    QUERIES,
    "table_checksum_integrity",
    oracle=f"""
    WITH canon AS (
      SELECT o_orderkey % {CS_BUCKETS} AS bucket,
             concat_ws('|', CAST(o_orderkey AS VARCHAR),
                       CAST(o_custkey AS VARCHAR), o_orderstatus,
                       o_orderpriority,
                       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS s,
             concat_ws('|', CAST(o_orderkey AS VARCHAR),
                       CAST(o_custkey AS VARCHAR),
                       CASE WHEN o_orderkey % {CS_BUCKETS} = {CS_TAMPER_BUCKET}
                            THEN 'X' ELSE o_orderstatus END,
                       o_orderpriority,
                       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS s2
      FROM orders
    ), cs AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             bit_xor(('0x' || substr(md5(s), 1, 15))::BIGINT)  AS cs_primary,
             bit_xor(('0x' || substr(md5(s2), 1, 15))::BIGINT) AS cs_replica
      FROM canon GROUP BY bucket
    )
    SELECT bucket, n_rows, cs_primary, cs_replica,
           cs_primary = cs_replica AS is_consistent
    FROM cs
    """,
    doc="Anti-entropy integrity check: per-bucket (key mod 16) content "
    "checksums of the orders table vs a 'replica' with one corrupted "
    "bucket (status flipped where bucket=3 — injected so the diff is "
    "visible). Row canonical form is a '|'-joined string of the stable "
    "columns; row hash is the portable 60-bit md5 prefix (same "
    "construction as dedup_simhash_md5, so checksum VALUES hash-match "
    "across engines); bucket checksum is BIT_XOR of row hashes — "
    "order-independent, overflow-free, map-side combinable. Detecting "
    "replica divergence at 100 TB costs one scan per side + a 16-row "
    "compare; only mismatched buckets need row-level repair reads.",
)
def table_checksum_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderkey").cast("string").alias("ck_orderkey"),
        F.col("o_custkey").cast("string").alias("ck_custkey"),
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("ck_date"),
    )
    tampered = o.withColumn(
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % CS_BUCKETS == CS_TAMPER_BUCKET, F.lit("X")
        ).otherwise(F.col("o_orderstatus")),
    )
    a = checksum_by_bucket(o, _CS_COLS_SPARK, "o_orderkey").withColumnRenamed(
        "checksum", "cs_primary"
    )
    b = (
        checksum_by_bucket(tampered, _CS_COLS_SPARK, "o_orderkey")
        .withColumnRenamed("checksum", "cs_replica")
        .drop("n_rows")
    )
    return a.join(b, "bucket").select(
        "bucket",
        "n_rows",
        "cs_primary",
        "cs_replica",
        (F.col("cs_primary") == F.col("cs_replica")).alias("is_consistent"),
    )


# --- quantizer-drift monitoring + retrain-at-compaction (r9 verdict #3) ---
# Trained upserts deliberately FREEZE base centroids (that is what makes the
# daily append provably equal to a frozen-grid rebuild), but frozen grids
# decay: as deltas accumulate, drifted data piles into a few cells and the
# worst-case probe cost grows with the biggest cell. Policy: every upsert /
# maintenance pass records (delta_fraction, cell_skew) in the sidecar;
# when either crosses its threshold, the REBALANCE — an explicit, separate
# operation from the append, so the un-retrained path keeps its equivalence
# proof — retrains on the index's own rows and republishes atomically.

# A cell holding >2.5x its fair share means probes hitting it scan >2.5x
# the expected candidates — the skew level where AQE-style mitigation stops
# helping because the imbalance is in the INDEX layout, not the shuffle.
RETRAIN_SKEW_THRESHOLD = 2.5
# Once half the index arrived after training, the centroids have seen a
# minority of the data — retrain regardless of incidental balance.
RETRAIN_DELTA_FRACTION = 0.5


def _index_columns(
    spark: SparkSession, path: str, epochs: list[str] | None = None
) -> tuple[str, ...]:
    """Column set of a durable index, resolved through the FIRST visible
    tree among [base, *committed epochs] — never an unconditional read of
    the base tree, which is part-file-less on a tiny corpus whose rows all
    landed past the upsert split (ADVICE r14 medium: schema inference over
    a part-file-less BASE with committed delta epochs crashed the fold).
    Base and epochs share one layout by the append contract, so any
    visible tree answers for all. Empty tuple when NO tree is visible
    (nothing indexed — callers short-circuit)."""
    from .similarity import committed_delta_epochs, visible_parquet_paths

    if epochs is None:
        epochs = committed_delta_epochs(path)
    vis = visible_parquet_paths([path, *epochs])
    if not vis:
        return ()
    return tuple(spark.read.parquet(vis[0]).columns)


def _ivf_index_frame(
    spark: SparkSession,
    path: str,
    cols: tuple = ("vec_id", "e", "cell"),
    epochs: list[str] | None = None,
) -> DataFrame:
    """Selected columns across the base tree + committed stream epochs.
    Drift reporting passes ("vec_id", "cell") so it also works on
    codes-only (IVF-PQ) indexes that store no raw vectors. Callers that
    already listed the committed epochs pass them via *epochs* so the
    folded/reported set is exactly the listed one (a second directory
    listing could race a committing maintainer at the edge of the
    single-writer contract)."""
    from functools import reduce

    from .similarity import committed_delta_epochs, visible_parquet_paths

    if epochs is None:
        epochs = committed_delta_epochs(path)
    paths = visible_parquet_paths([path, *epochs])
    if not paths:
        # an index built over an empty corpus has a committed sidecar but
        # zero part-files — there is no footer to infer a schema from, so
        # return the typed empty frame instead (r14 empty/tiny-corpus
        # sweeps; a tiny corpus can also leave just the BASE tree empty
        # when every vector lands past the upsert split, so part-file-less
        # trees are dropped per-path). `cell` rides as a hive partition
        # column and `e` as data; every other index column (vec_id,
        # code_*) is integral.
        types = {"e": "array<double>", "cell": "int", "vec_id": "long"}
        return spark.createDataFrame(
            [], ", ".join(f"{c} {types.get(c, 'int')}" for c in cols)
        )
    return reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(p).select(*cols) for p in paths],
    )


def ivf_drift_report(spark: SparkSession, path: str) -> dict:
    """Drift health of a durable IVF index: cell_skew = biggest cell over
    the fair share (total/nlist — empty cells count against balance), and
    delta_fraction = rows that arrived after the centroids were trained
    (vec_id >= the sidecar's base split). One groupBy over the index."""
    from .similarity import read_index_meta

    meta = read_index_meta(path)
    if meta is None:
        # read_index_meta's None means "no committed sidecar — rebuild";
        # for a maintenance op there is nothing to measure, so fail with
        # the cause instead of a NoneType subscript far from it
        raise ValueError(f"no committed index sidecar at {path}")
    nlist = int(meta["nlist"])
    split = meta.get("split")
    df = _ivf_index_frame(spark, path, cols=("vec_id", "cell"))
    # one pass: per-cell partials (map-side combined). The collect is
    # bounded at nlist rows (64 here) — the per-cell sizes land in the
    # sidecar so the read path can auto-tune its probe set from metadata
    # alone (r10 verdict ask #5); the scalar rollups derive in Python.
    per_cell = (
        df.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("vec_id")
                    >= F.lit(split if split is not None else 1 << 62)
                ).cast("long")
            ).alias("d"),
        )
        .collect()
    )
    total = sum(int(r["n"]) for r in per_cell)
    delta_rows = (
        sum(int(r["d"]) for r in per_cell) if split is not None else 0
    )
    max_cell = max((int(r["n"]) for r in per_cell), default=0)
    # EMPTY cells must appear (as zeros): _adaptive_probes joins ranked
    # probe cells to these sizes, and a query whose TOP-ranked cell is
    # missing from the dict would read its fat-top gate off the next
    # present cell — activating pruning the heuristic forbids for
    # lower-ranked fat cells (r11 self-review finding).
    cell_rows = {str(c): 0 for c in range(nlist)}
    cell_rows.update({str(int(r["cell"])): int(r["n"]) for r in per_cell})
    return {
        "total_rows": total,
        "delta_rows": delta_rows,
        "delta_fraction": (delta_rows / total) if total else 0.0,
        "max_cell_rows": max_cell,
        "cell_skew": (max_cell / (total / nlist)) if total else 0.0,
        "cell_rows": cell_rows,
    }


def update_drift_stats(spark: SparkSession, path: str) -> dict:
    """Recompute and record the drift fields in the index sidecar — the
    per-upsert bookkeeping step (batch upsert and the streaming maintainer
    both call this shape at the end of their append)."""
    from .similarity import _rewrite_sidecar, read_index_meta

    meta = read_index_meta(path)
    rep = ivf_drift_report(spark, path)
    meta["drift"] = rep
    _rewrite_sidecar(path, meta)
    return rep


def retrain_if_skewed(
    spark: SparkSession,
    path: str,
    skew_threshold: float = RETRAIN_SKEW_THRESHOLD,
    delta_threshold: float = RETRAIN_DELTA_FRACTION,
    iters: int | None = None,
) -> dict:
    """The compact_small_files-style maintenance entry point for durable
    IVF indexes: measure drift; below thresholds, just record the stats
    (cheap bookkeeping). Above, run the REBALANCE: Lloyd-retrain centroids
    on the index's own rows (first-nlist init by vec_id — the index is
    self-contained, no corpus re-read), reassign everything, and publish
    atomically into the same catalog path with a fresh sidecar
    (centroid_kind 'lloyd_trained_rebalanced', drift reset, fingerprint
    carried over — a rebalance changes layout, not corpus identity).
    Readers either see the complete old index or the complete new one,
    never a partial (same temp-dir + rename publish as every build).

    The un-retrained append path keeps its equivalence proof untouched:
    retraining moves centroids and reassigns rows, so it is only ever this
    explicit maintenance op, never a side effect of an upsert. NB for
    oracle-pinned indexes: a registered query whose DuckDB oracle
    re-derives the training from its deterministic init no longer matches
    a rebalanced sidecar — rebalancing is paired with re-deriving the
    oracle (here it is exercised on scratch/test indexes; the registered
    queries never trigger it)."""
    import time

    from .similarity import (
        _assign_by_literal,
        _first_rows,
        _lloyd_iterate,
        _rewrite_sidecar,
        _write_cell_index,
        read_index_meta,
    )
    from .similarity import TRAINED_ITERS as _DEFAULT_ITERS

    meta = read_index_meta(path)
    rep = ivf_drift_report(spark, path)
    if (
        rep["cell_skew"] <= skew_threshold
        and rep["delta_fraction"] <= delta_threshold
    ):
        meta["drift"] = rep
        _rewrite_sidecar(path, meta)
        return {"retrained": False, "before": rep, "after": rep}

    nlist = int(meta["nlist"])
    it = iters if iters is not None else int(meta.get("iters", _DEFAULT_ITERS))
    # column check through the visible trees, not an unconditional read of
    # the base (part-file-less on a tiny corpus whose rows all landed past
    # the upsert split — the ADVICE r14 seam; the drift report above
    # guarantees rows exist somewhere once we're on the retrain arm)
    if "e" not in _index_columns(spark, path):
        raise ValueError(
            f"{path} is a codes-only index (no raw vectors): rebalancing it "
            "means re-encoding from the corpus — rebuild via its builder "
            "instead of retrain_if_skewed"
        )
    if meta.get("centroid_kind") == "first_n":
        # A first_n index's read paths derive probe cells from the
        # corpus-frozen first-n grid (probes=None in _ivf_index_read_topk),
        # NOT from the sidecar: rebalancing its cells would silently return
        # wrong candidates (probe ids would index different centroids than
        # the on-disk cells — r10 self-review finding). Only sidecar-
        # resolved (lloyd_trained*) indexes may rebalance in place.
        raise ValueError(
            f"{path} uses the frozen first-n grid whose readers resolve "
            "probes from the corpus, not the sidecar: rebalance by "
            "rebuilding, not retrain_if_skewed"
        )
    v = _ivf_index_frame(spark, path).select("vec_id", "e").transform(cut())
    cents = _lloyd_iterate(v, _first_rows(v, nlist), it)
    new_meta = {
        **meta,
        "built_unix": time.time(),
        "centroids": cents,
        "centroid_kind": "lloyd_trained_rebalanced",
        "iters": it,
        # post-rebalance every row is re-trained data: the delta clock
        # restarts
        "split": None,
    }
    new_meta.pop("base_files", None)
    # the PRE-rebalance drift stats are keyed to cell ids whose contents
    # this rebalance just moved: publishing them would feed
    # _adaptive_probes wrong sizes until (and forever, if) the
    # post-publish refresh below lands. Drop them — readers fall back to
    # the fixed probe policy until fresh stats are recorded.
    new_meta.pop("drift", None)
    # row preservation is checked on the temp tree, before the old index
    # is replaced (r11 self-review: a post-publish check guards nothing)
    _write_cell_index(
        spark, path, [_assign_by_literal(v, cents)], new_meta, n_rows=v.count()
    )
    after = update_drift_stats(spark, path)
    return {"retrained": True, "before": rep, "after": after}


def fold_delta_epochs(spark: SparkSession, path: str) -> dict:
    """Epoch compaction for a stream-maintained IVF index: fold the
    committed _delta_epochs trees into the base cell layout and republish
    atomically. Pure layout maintenance — rows, cells, and centroids are
    byte-identical (assignment happened at append time against the frozen
    grid), so the oracle-facing result is unchanged; what changes is the
    file count a reader lists (each day's stream leaves one tree of small
    files per epoch — at 100 TB this runs on the compaction schedule right
    before retrain_if_skewed, which reuses the same publish seam).
    Returns file counts before/after."""
    from .similarity import (
        _write_cell_index,
        committed_delta_epochs,
        read_index_meta,
    )

    epochs = committed_delta_epochs(path)
    n_before = len(_data_files(path, include_hidden_trees=True))
    if not epochs:
        return {"folded_epochs": 0, "files_before": n_before,
                "files_after": n_before}
    meta = read_index_meta(path)
    # Column set comes from the index's own trees, not the raw-index
    # default (ADVICE r10): the codes-only IVF-PQ stream index has no `e`
    # column — its rows are (vec_id, code_0..code_{M-1}, cell) — and the
    # epochs share the base layout by the append contract, so folding is
    # layout-generic. Resolved through the FIRST VISIBLE tree, not an
    # unconditional base read: with a part-file-less base and committed
    # delta epochs (tiny corpus, all rows past the upsert split) schema
    # inference over the base crashes (ADVICE r14 medium).
    cols = _index_columns(spark, path, epochs=epochs)
    if not cols:
        # committed epochs exist but hold no visible part files and the
        # base is bare too — nothing to fold
        return {"folded_epochs": 0, "files_before": n_before,
                "files_after": n_before}
    df = _ivf_index_frame(
        spark,
        path,
        cols=cols,
        epochs=epochs,  # the listed set IS the folded set — never re-list
    )
    meta.pop("base_files", None)
    # the folded base now HOLDS the deltas: a subsequent maintenance run
    # must not replay them (it would duplicate every delta vector in the
    # combined read — r10 self-review finding); split stays for drift
    # accounting, the flag gates the replay. A terminal flag (vs a
    # folded-through watermark) is exact in this repo's model: any NEW
    # corpus content changes the fingerprint and forces a full rebuild, so
    # post-fold data can never arrive under the same sidecar; a deployment
    # with an append-only corpus would replace the flag with a
    # folded-through vec_id/epoch watermark on the same meta field.
    meta["delta_folded"] = True
    # row preservation is checked on the temp tree BEFORE the publish
    # replaces the only complete copy (r11 self-review)
    _write_cell_index(spark, path, [df], meta, n_rows=df.count())
    return {
        "folded_epochs": len(epochs),
        "files_before": n_before,
        "files_after": len(_data_files(path, include_hidden_trees=True)),
    }
