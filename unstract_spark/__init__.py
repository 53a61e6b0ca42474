"""unstract_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Zipstack/unstract, rebuilt Spark-first.

The reference (an LLM document-ETL platform) drives per-file pipelines:
source listing -> content hash + dedup -> text extraction -> chunking ->
embedding -> vector retrieval -> per-field LLM prompting -> type coercion ->
dynamic-schema sinks, plus usage accounting and human-review routing.

Here every stage is a declarative DataFrame transformation so Catalyst
gets to optimize the whole plan (predicate pushdown, broadcast joins,
whole-stage codegen), and external-service calls (LLM/embedding) are
isolated behind batched, mockable Pandas-UDF controllers.

Layout:
  session        SparkSession factory tuned for local[] and cluster runs
  schemas        StructType registry for all engine tables (FIXTURES.md)
  ids            deterministic id/cache-key helpers (sha2-based)
  mock           deterministic mock LLM + mock embedding (offline testing)
  sources/       file-catalog listing semantics (glob, limit, FIFO/LIFO)
  operators/     relational + document operators (SURVEY.md section 2)
  sinks/         dynamic-DDL JDBC writer, review queue, history, vector stores
  streaming/     incremental (cron/AvailableNow) pipelines
  plans/         pipeline composition + plan-level rewrites (prompt fusion)

Python workers: before every task, PySpark's worker calls
`importlib.invalidate_caches()`, and on CPython 3.11 each of the
about 16 `zipimporter`s on the worker path (over pyspark.zip, py4j's
zip and the spark-core jar) then re-reads its archive's whole central
directory in pure Python: 0.1-0.2 s per task before the UDF starts.
Every engine UDF unpickles a reference to this package, so importing
it in a worker (`SparkFiles._is_running_on_worker`) wraps
`zipimporter.invalidate_caches` once: an archive whose
`(st_ino, st_size, st_mtime_ns)` is unchanged since its last read is
not read again, and a changed one is re-read as before. Interpreters
whose zipimport already invalidates lazily are left alone.
"""

import os

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Make `zipimporter.invalidate_caches` skip archives that have not
    changed since it last read them (see the module docstring)."""
    import zipimport

    read = zipimport.zipimporter.invalidate_caches
    if "_read_directory" not in getattr(getattr(read, "__code__", None), "co_names", ()):
        return  # lazy already, or wrapped by an earlier import
    last_read: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)  # before the read: a write racing it shows next time
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and last_read.get(self.archive) == key:
            self._files = files
            return
        read(self)
        if key is not None:
            last_read[self.archive] = key

    invalidate_caches.__doc__ = read.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


try:
    from pyspark.core.files import SparkFiles
except ImportError:  # a Spark Connect-only client runs no Python worker
    pass
else:
    if SparkFiles._is_running_on_worker:
        _keep_unchanged_zip_directories()
