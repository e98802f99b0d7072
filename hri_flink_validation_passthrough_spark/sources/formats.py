"""Multi-format source/sink coverage (SURVEY.md §2B 'file-format scans').

One query writes reference tables out through three non-parquet DataFrameWriter
formats (CSV, JSON, ORC) into a session-scoped temp dir, reads each back
through the matching DataFrameReader with an explicit schema (no inference —
inference is nondeterministic under schema drift and an extra pass at scale),
and emits per-format row counts + key checksums. The DuckDB oracle computes
the same figures straight from the source parquet, so a hash-green row proves
the round-trip is lossless, not just that it ran.

Scale note: formats differ only in the scan/sink; the plan (project → agg) is
identical, and each write is partitioned by the session's parallelism like any
other sink. CSV/JSON are row formats with no pushdown — the docstring of each
engine keeps parquet/ORC as the scale path; CSV/JSON exist for interchange.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import QuerySpec, register
from ..session import load_table

QUERIES: dict[str, QuerySpec] = {}

# (format, table, key column summed as the checksum, name column counted)
_ROUNDTRIPS = [
    ("csv", "nation", "n_nationkey", "n_name"),
    ("json", "supplier", "s_suppkey", "s_name"),
    ("orc", "region", "r_regionkey", "r_name"),
]


@register(
    QUERIES,
    "file_formats_roundtrip",
    oracle="""
    SELECT 'csv' AS fmt, count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           count(DISTINCT n_name) AS n_names
    FROM nation
    UNION ALL
    SELECT 'json', count(*), CAST(sum(s_suppkey) AS BIGINT),
           count(DISTINCT s_name)
    FROM supplier
    UNION ALL
    SELECT 'orc', count(*), CAST(sum(r_regionkey) AS BIGINT),
           count(DISTINCT r_name)
    FROM region
    """,
    doc="Write nation/supplier/region through CSV/JSON/ORC sinks, read each "
    "back with an explicit schema, and checksum; oracle reads the original "
    "parquet, so equality proves the round-trip is lossless.",
)
def file_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="fmt_roundtrip_")
    out: DataFrame | None = None
    for fmt, table, key, name in _ROUNDTRIPS:
        src = load_table(spark, sf_dir, table).select(key, name)
        path = os.path.join(base, f"{table}_{fmt}")
        writer = src.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(fmt).save(path)
        reader = spark.read.schema(src.schema)
        if fmt == "csv":
            reader = reader.option("header", "true")
        back = reader.format(fmt).load(path)
        agg = back.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(key).cast("long").alias("key_sum"),
            F.countDistinct(name).alias("n_names"),
        ).select("fmt", "n_rows", "key_sum", "n_names")
        out = agg if out is None else out.unionByName(agg)
    return out
