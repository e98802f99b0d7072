"""Query registry: every engine capability is exposed as a named query.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
with an (optional) ANSI-SQL oracle string that DuckDB runs on the same parquet
tables. The driver hash-compares the two at sf0.01 (order-insensitive, columns
sorted by name) — so every computed column is aliased identically on both
sides, doubles are rounded identically on both sides, and timestamps are
emitted as formatted strings to sidestep tz/precision representation drift.

One query entry: the callable ``register`` stores, and the name it returns,
runs ``session.prepare(spark)`` once and then the body, so a registered query
runs on a tuned session whoever built it, a vanilla one included.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import prepare


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


# module-level registries are merged by __spark_entry__
def register(registry: dict[str, QuerySpec], name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a query function to a module registry."""

    def deco(fn):
        @functools.wraps(fn)
        def query(spark, *args, **kwargs):
            prepare(spark)
            return fn(spark, *args, **kwargs)

        registry[name] = QuerySpec(fn=query, oracle=oracle, doc=doc)
        return query

    return deco
