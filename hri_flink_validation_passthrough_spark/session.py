"""SparkSession construction and per-session tuning.

Two entry points:

- ``build_session()``   — create a tuned local session (tests, bench, CLI).
- ``prepare(spark)``    — apply the *runtime-settable* subset of the tuning to
  a session we did not create (the driver passes us its own session). Only
  ``spark.sql.*`` runtime confs are touched; never the master or memory.

Only ``build_session``, ``register_views`` and the query entry
(``plans.register``: every registered query prepares once per call) call
``prepare``. Library functions outside the registry (memo and index builders,
``run_pipeline_batch``, ``build_routed_stream``) expect a session one of them
tuned; tests, tools and benchmarks get theirs from ``build_session()``.

Scale posture (100 TB, ~1000 executors): everything here is either
runtime-settable or per-job. ``prepare()`` sizes stream state to the cores
(one wave) and starts batch shuffles at >= 8 for AQE to coalesce; adaptive
skew-join handling is on so a hot batchId / hot join key re-splits at runtime.

Python tasks no longer re-read Spark's zip archives: importing the package
makes the worker's per-task ``importlib.invalidate_caches()`` skip unchanged
archives (see ``_skip_unchanged_zip_rereads`` in ``__init__``). With a
pip-only pyspark (no ``pyspark.zip`` on the worker path) only the spark-core
jar's importers were paying, so the gain is smaller there.

Streaming checkpoints on a ``local[...]`` master are written through Spark's
``FileSystemBasedCheckpointFileManager`` (``LOCAL_CHECKPOINT_MANAGER``), not
the default FileContext-based one. pip-installed PySpark has no native Hadoop
library, so Hadoop forks a ``readlink`` or ``chmod`` process for every
link-status or permission call: ~10 forks per checkpoint file under the
FileContext manager, ~110 per routed-stream trigger (11 files: 4 state
deltas, their 4 checksum companions, offsets, commits, the source log). The
FileSystem manager renames with ``FileSystem.rename`` (an atomic POSIX
``rename(2)`` on the local FS) and asks for no link status, which leaves the
2 ``chmod``s of each file's create. Hadoop ``.crc`` files and Spark's
checkpoint checksum files are still written and verified. A manager class
the caller set is kept, and cluster masters keep the FileContext manager:
there the checkpoint lives on a shared FS whose atomic no-overwrite rename
Spark relies on. One local-FS difference: the metadata log (offsets,
commits) writes with ``overwriteIfPossible=false``, which this manager does
as "check that the destination does not exist, then rename" rather than one
failing rename. Two applications racing on one checkpoint dir are still
caught, except inside that window; within one application Spark already
refuses a second active run of the same query.
"""

from __future__ import annotations

import contextlib
import os

from itertools import count as _itercount

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FP_MISSING = _itercount()

# Runtime-settable confs applied to ANY session that runs our queries.
RUNTIME_CONF: dict[str, str] = {
    # Oracle comparability: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan — coalesce post-shuffle partitions, split skewed
    # ones, demote/promote join strategies with real stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as a
    # long we convert in load_table (DuckDB truncates nanos→micros the same).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Driver testdata timestamps are timezone-less parquet micros. Read them
    # as session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ: values then equal the
    # DuckDB oracle's UTC-naive reads and chrono functions (unix_millis,
    # window, watermarks) accept them. load_table also casts defensively in
    # case this conf cannot be applied to an externally built session.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # ANSI off: Spark 4 defaults ansi.enabled=true (strict cast/overflow/
    # element_at). We want classic null-on-bad-cast semantics so expressions
    # like get_json_object(...).cast('int') behave like DuckDB TRY_CAST-ish
    # oracle comparisons; we never rely on silent overflow.
    "spark.sql.ansi.enabled": "false",
}


CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _local_cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime tuning to an externally provided session (idempotent).

    Conf-set failures never fail a query, but they are not silent either:
    most of RUNTIME_CONF is tuning, yet ``session.timeZone`` is a
    CORRECTNESS dependency — load_table's NTZ→LTZ cast is value-preserving
    only under UTC, and epoch-based functions (unix_millis, watermarks)
    would silently drift from the UTC-naive DuckDB oracle otherwise."""
    import warnings

    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            warnings.warn(
                f"prepare(): could not set {k}={v!r} on this session: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        warnings.warn(
            f"prepare(): spark.sql.session.timeZone is {tz!r}, not 'UTC' — "
            "timestamp reinterpretation and epoch functions may drift from "
            "UTC-naive oracles",
            RuntimeWarning,
            stacklevel=2,
        )
    # Shuffle partitions = cores: a stream (run without AQE) fixes its state
    # count from this at its first checkpoint; more means two waves a trigger.
    # Batch (AQE) starts at >= 8, so one slow task cannot set a stage's time.
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
        if cores < 8:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "8"
            )
    except Exception:
        pass
    # Local masters checkpoint through FileSystem.rename: no per-file
    # readlink/chmod forks (see the module docstring). Caller's choice wins.
    try:
        master = spark.sparkContext.master
        local = master == "local" or master.startswith("local[")
        if local and not spark.conf.get(CHECKPOINT_MANAGER_KEY, None):
            spark.conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)
    except Exception:
        pass
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set *confs* on the session for the ``with`` block, then restore each
    key's previous value; a key that was unset before is unset again."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def build_session(
    app_name: str = "hri_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create the tuned local session used by tests, bench.py and the CLI.
    *extra_conf* adds session-start-only confs (e.g. spark.local.dir) on
    top of the tuning."""
    n = cpus or _local_cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # context-start-only (ContextCleaner reads it once): reliable
        # checkpoints (materialize.py's SPARK_GRAFT_MATERIALIZE=reliable
        # arm) are otherwise never deleted — out-of-scope checkpoint data
        # must be reference-released like cached blocks, or a long session
        # accrues one checkpoint tree per materialized intermediate
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare(spark)


def source_fingerprint(sf_dir: str, fname: str) -> tuple:
    """Hashable (fname, size, mtime_ns) of one source parquet — the memo-key
    component every session cache of corpus-DERIVED artifacts must carry
    (r9 ADVICE, generalized in r10): keyed on path alone, a dataset
    regenerated in place mid-session would silently serve stale persisted
    intermediates. A missing file yields a truly never-matching (unique)
    sentinel rather than raising. Routed through iofs (r15) so a
    ``scheme://`` data dir fingerprints like a local one."""
    from . import iofs

    src = iofs.join(sf_dir.rstrip("/"), fname)
    st = iofs.stat(src)
    if st is None:
        # UNIQUE per call (itertools counter), so the sentinel can never
        # equal another fingerprint — including another missing-file one:
        # a stat that races a delete-then-regenerate window must not let
        # two sentinel keys collide and serve a stale entry. (Nothing can
        # be BUILT while the file is absent, so unique keys cost nothing.)
        return (fname, None, next(_FP_MISSING))
    return (fname, st["size"], st["mtime_ns"])


# One memo for everything a session derives from a source file: schemas,
# persisted intermediates, model artifacts (centroids, codebooks, bitmaps)
# and temp dirs. Key: (applicationId, sf_dir, builder, params, source
# fingerprint); session_memo is the only code that builds one.
_MEMO: dict[tuple, object] = {}


def session_memo(spark: SparkSession, sf_dir: str, source: str, build, *params):
    """``build(spark, sf_dir, *params)``, computed once per session, dataset,
    builder, params and content of *source* (a file under *sf_dir*).

    The builder sees only what its key holds, so an entry built for other
    parameters is never served; 'sf0.1' and 'sf0.1/' are one dataset. On a
    miss, the entries of the same slot built from an older *source* are
    evicted, and an evicted DataFrame (or tuple of them) is unpersisted:
    Spark's CacheManager substitutes any semantically-equal plan with the
    existing InMemoryRelation, so a rebuild over a file regenerated in place
    would otherwise serve the stale cached rows. Other values are dropped.
    """
    sf = sf_dir.rstrip("/")
    slot = (
        spark.sparkContext.applicationId,
        sf,
        f"{build.__module__}.{build.__qualname__}",
        params,
    )
    key = slot + (source_fingerprint(sf, source),)
    if key in _MEMO:
        return _MEMO[key]
    for k in [k for k in _MEMO if k[:4] == slot]:
        v = _MEMO.pop(k)
        for df in v if isinstance(v, tuple) else (v,):
            if isinstance(df, DataFrame):
                df.unpersist()
    value = _MEMO[key] = build(spark, sf, *params)
    return value


def _parquet_schema(spark: SparkSession, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """Inferred parquet schema of one table, before ``normalize_timestamps``.
    Memoized because a bare ``spark.read.parquet`` runs a footer-inference
    job on EVERY call (measured 0.16-0.37 s warm per table vs 0.027 s with
    the schema supplied). The applicationId in the memo key keeps sessions
    with different reader confs (e.g. one where ``nanosAsLong`` could not be
    applied) from sharing inference results."""
    return session_memo(spark, sf_dir, f"{name}.parquet", _parquet_schema, name)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """The one timestamp normalization of a source table, batch or stream.

    ``events.ts`` is parquet TIMESTAMP(NANOS); with ``nanosAsLong`` Spark
    surfaces it as nanos-since-epoch LONG. Convert with *integer* division
    (``div``) to microseconds — matching DuckDB's truncating nanos→micros
    read; float division would round and drift by 1µs.
    """
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif f.dataType.simpleString() == "timestamp_ntz":
            # Session TZ is UTC, so NTZ → LTZ is a value-preserving
            # reinterpretation matching the DuckDB oracle's naive reads.
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md)."""
    reader = spark.read.schema(raw_schema(spark, sf_dir, name))
    return normalize_timestamps(reader.parquet(f"{sf_dir}/{name}.parquet"))


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Register every driver table as a temp view: the plain-SQL entry point.

    After this, users run ``spark.sql("SELECT ... FROM lineitem ...")``
    directly — the same catalog names the DuckDB oracles use, with the same
    timestamp normalization ``load_table`` applies. Views are lazy: no data
    moves until a query runs, and Catalyst sees straight through them
    (pushdown/pruning reach the parquet scan exactly as with the DataFrame
    API).
    """
    prepare(spark)
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark
