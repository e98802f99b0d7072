"""hri_flink_validation_passthrough_spark — a PySpark-native engine with the
query/data-processing capabilities of Alvearie/hri-flink-validation-passthrough.

The reference (see /root/reference, SURVEY.md) is a Flink streaming validation
job: opaque records from a Kafka input topic are routed to out/invalid topics
with byte fidelity while a per-batch lifecycle state machine (started →
sendCompleted → completed | failed | terminated) reconciles record counts.

This package re-expresses that contract Spark-first:

- ``model``          — record-envelope & BatchNotification schemas, topic rules
- ``operators``      — the keyed batch state machine + LLM-pipeline operators
                       (dedup, similarity search, text analysis, multimodal)
- ``plans``          — the relational/analytical query layer (DataFrame/SQL)
- ``sources``        — Kafka / memory / envelope source builders
- ``functions``      — JVM-side column helpers (vector math, text metrics)
- ``streaming``      — the Structured Streaming topology (parity path)
- ``cli``            — picocli-parity command line surface

Design stance: library, not framework. Pipelines are pure functions over
DataFrames so tests can inject memory sources/sinks exactly like the
reference's MiniCluster tests do (SURVEY.md §3.2).
"""

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (mtime_ns, size) stamp changed since the last read (CPython < 3.13).

    ``pyspark.worker.main`` calls ``importlib.invalidate_caches()`` for every
    task, and before 3.13 each zipimporter then re-reads its archive's whole
    central directory: ~18 importers over pyspark.zip, py4j and the
    spark-core jar, ~190 ms per task on an idle 4-core VM. An unchanged
    archive now reuses ``zipimport._zip_directory_cache``; a changed one is
    re-read as before. 3.13 made the method cheap itself (it only drops the
    cache entry)."""
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamp taken before the read: a write racing it forces a re-read
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
