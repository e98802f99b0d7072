"""Custom PySpark DataSource connector (Spark 4 Python Data Source API).

The reference engine's source surface is a Kafka consumer emitting the HRI
record envelope (reference `PassthroughStreamingJob.java:110-117` wires
`hri.kafka.*` consumers; no broker exists in this sandbox, so
`sources/kafka.py` pins the option/JAAS byte contracts instead). This module
exercises the seam Spark itself offers for NEW connectors — a registered
`DataSource` with a partitioned batch reader and a simple stream reader —
with a DETERMINISTIC envelope generator, so the connector path (planning,
partition scheduling, Python-worker row production, offset bookkeeping) is
driver-verifiable against a DuckDB recompute of the same closed-form rows.

Companion to ``sources/fixture.py`` (`hri_fixture`), the KAFKA-WIRE-shaped
twin that feeds the passthrough topology's tests with binary key/value +
header rows: that one plugs into the envelope seam but its binary payload
cannot be recomputed in ANSI SQL, so it is exercised by pytest; THIS one
trades wire fidelity for an md5/VARCHAR schema DuckDB can reproduce
bit-for-bit, making the connector path itself part of the driver's
hash-compare gate. Same API surface, two verification channels.

Generator contract (shared with the oracle SQL): record i in [0, n) has
  batch_id = 'batch-' || (i % n_batches)
  key      = md5('k:' || i)
  value    = md5('v:' || i)
  part     = i % n_partitions     (the reader's InputPartition)
Every field is a pure function of i, so ANY partitioning/ordering the engine
chooses yields the same table. At 100 TB the same design holds for real
connectors: planInputPartitions carves the offset range; each partition
reads independently; no cross-partition state.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..plans import QuerySpec, register

QUERIES: dict[str, QuerySpec] = {}

PYDS_N = 5000
PYDS_PARTS = 8
PYDS_BATCHES = 5
PYDS_SCHEMA = "record_id long, part int, batch_id string, key string, value string"
_STREAM_STEP = 1000  # records per microbatch for the stream reader


def _record(i: int) -> tuple:
    return (
        i,
        i % PYDS_PARTS,
        f"batch-{i % PYDS_BATCHES}",
        hashlib.md5(f"k:{i}".encode()).hexdigest(),
        hashlib.md5(f"v:{i}".encode()).hexdigest(),
    )


class _RangePartition(InputPartition):
    def __init__(self, part: int, n: int):
        self.part = part
        self.n = n


class HriEnvelopeReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", PYDS_N))

    def partitions(self):
        return [_RangePartition(p, self.n) for p in range(PYDS_PARTS)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        # each partition produces its residue class independently — the
        # closed-form generator needs no coordination, like a real
        # connector's per-split reader
        for i in range(partition.part, partition.n, PYDS_PARTS):
            yield _record(i)


class HriEnvelopeStreamReader(SimpleDataSourceStreamReader):
    """Offset = how many records have been emitted; each microbatch emits
    the next _STREAM_STEP records until the range is exhausted. Offsets are
    plain dicts, replayable: read(start) is pure, so checkpoint recovery
    re-produces identical batches."""

    def __init__(self, options):
        self.n = int(options.get("n", PYDS_N))

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start: dict):
        pos = int(start["pos"])
        end = min(pos + _STREAM_STEP, self.n)
        rows = [_record(i) for i in range(pos, end)]
        return iter(rows), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            _record(i) for i in range(int(start["pos"]), int(end["pos"]))
        )


class HriEnvelopeDataSource(DataSource):
    """`spark.read.format("hri_envelope")` / `spark.readStream.format(...)`."""

    @classmethod
    def name(cls) -> str:
        return "hri_envelope"

    def schema(self) -> str:
        return PYDS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return HriEnvelopeReader(self.options)

    def simpleStreamReader(self, schema) -> HriEnvelopeStreamReader:
        return HriEnvelopeStreamReader(self.options)


def _register_ds(spark: SparkSession) -> None:
    # idempotent per session: re-registering the same name just replaces it
    spark.dataSource.register(HriEnvelopeDataSource)


_PYDS_BASE = f"""
    WITH r AS (
      SELECT i AS record_id,
             'batch-' || CAST(i % {PYDS_BATCHES} AS VARCHAR) AS batch_id,
             md5('k:' || CAST(i AS VARCHAR)) AS key
      FROM (SELECT unnest(range(0, {PYDS_N})) AS i)
    )
"""

_PYDS_ORACLE = (
    _PYDS_BASE
    + """
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
           min(key) AS min_key,
           max(key) AS max_key,
           CAST(sum(ascii(substring(key, 1, 1))) AS BIGINT) AS sum_ascii1
    FROM r GROUP BY batch_id
"""
)

# the stream twin carries no DISTINCT (unsupported on streaming aggregates)
_PYDS_STREAM_ORACLE = (
    _PYDS_BASE
    + """
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_records,
           min(key) AS min_key,
           max(key) AS max_key,
           CAST(sum(ascii(substring(key, 1, 1))) AS BIGINT) AS sum_ascii1
    FROM r GROUP BY batch_id
"""
)


def _envelope_summary(df: DataFrame, with_distinct: bool = True) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n_records")]
    if with_distinct:  # distinct aggregates are unsupported on streams
        aggs.append(F.count_distinct("key").alias("n_keys"))
    aggs += [
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.sum(F.ascii(F.substring("key", 1, 1))).cast("long").alias("sum_ascii1"),
    ]
    return df.groupBy("batch_id").agg(*aggs)


@register(
    QUERIES,
    "custom_source_batch_envelope",
    oracle=_PYDS_ORACLE,
    doc=f"Custom connector through Spark 4's Python Data Source API: a "
    f"registered `DataSource` whose batch reader plans {PYDS_PARTS} "
    "independent InputPartitions over a deterministic closed-form record "
    "generator (the HRI envelope shape the reference consumes from "
    "Kafka). The summary aggregate is order/partitioning-independent, so "
    "the DuckDB oracle recomputes the identical table from range() + "
    "md5 — verifying planning, partition scheduling, and Python-worker "
    "row production end-to-end. The connector seam for sources Spark "
    "lacks built-in.",
)
def custom_source_batch_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_ds(spark)
    df = spark.read.format("hri_envelope").option("n", str(PYDS_N)).load()
    return _envelope_summary(df)


@register(
    QUERIES,
    "custom_source_stream_envelope",
    oracle=_PYDS_STREAM_ORACLE,
    doc="The same custom connector through its STREAMING reader "
    f"(SimpleDataSourceStreamReader): {PYDS_N} records arrive in "
    f"{PYDS_N // _STREAM_STEP} replayable microbatches of {_STREAM_STEP} "
    "(offset = emitted-record count; read(start) is pure so checkpoint "
    "recovery reproduces identical batches), aggregated statefully in "
    "complete mode into a memory sink. Oracle identical to the batch "
    "form — the stream must converge to the batch answer.",
)
def custom_source_stream_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import _run_to_table

    _register_ds(spark)
    stream = spark.readStream.format("hri_envelope").option("n", str(PYDS_N)).load()
    # default micro-batch trigger until every record is in: availableNow
    # consumes only the FIRST simple-stream-reader batch (read() defines
    # availability one step at a time), observed stopping at 1000/5000
    return _run_to_table(
        _envelope_summary(stream, with_distinct=False),
        "pyds",
        until=lambda sink: sink.selectExpr(
            f"coalesce(sum(n_records), 0) >= {PYDS_N}"
        ).first()[0],
    )
