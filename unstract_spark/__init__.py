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
"""

__version__ = "0.1.0"
