"""Schema registry — StructTypes for every engine table (FIXTURES.md).

The reference is schema-on-write everywhere (destination tables created
lazily from the first row's Python types —
reference: backend/workflow_manager/endpoint_v2/database_utils.py:276-305).
Our engine declares schemas up front so Catalyst can prune/push down, and
keeps a MapType fallback only for genuinely dynamic prompt outputs.
"""

from __future__ import annotations

from pyspark.sql import types as T


def quote_ident(name: str) -> str:
    """`name` as a backtick-quoted SQL/DDL identifier."""
    return "`" + name.replace("`", "``") + "`"


# --- file catalog (reference: endpoint_v2/source.py:891-912 FileHash) ---
FILES = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("file_size", T.LongType(), True),
        T.StructField("is_dir", T.BooleanType(), True),
        T.StructField("modified_at", T.TimestampType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("file_hash", T.StringType(), True),
        T.StructField("provider_file_uuid", T.StringType(), True),
        T.StructField("file_number", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)

# --- dedup / result-cache ledger (reference: workflow_v2/models/file_history.py:14-54) ---
FILE_HISTORY = T.StructType(
    [
        T.StructField("cache_key", T.StringType(), False),
        T.StructField("provider_file_uuid", T.StringType(), True),
        T.StructField("file_path", T.StringType(), True),
        T.StructField("workflow_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("result", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("execution_count", T.IntegerType(), True),
    ]
)

# --- the extraction "query": one row per output field
# (reference: prompt_studio/prompt_studio_v2/models.py:12-114 ToolStudioPrompt) ---
PROMPT_SPECS = T.StructType(
    [
        T.StructField("prompt_key", T.StringType(), False),
        T.StructField("prompt", T.StringType(), False),
        T.StructField("enforce_type", T.StringType(), False),
        T.StructField("sequence_number", T.IntegerType(), True),
        T.StructField("retrieval_strategy", T.StringType(), True),
        T.StructField("similarity_top_k", T.IntegerType(), True),
        T.StructField("chunk_size", T.IntegerType(), True),
        T.StructField("chunk_overlap", T.IntegerType(), True),
        T.StructField("required", T.StringType(), True),
        T.StructField("preamble", T.StringType(), True),
        T.StructField("postamble", T.StringType(), True),
        T.StructField(
            "grammar",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("word", T.StringType()),
                        T.StructField("synonyms", T.ArrayType(T.StringType())),
                    ]
                )
            ),
            True,
        ),
    ]
)

# --- extracted text (reference: sdk1/index.py:133-217 extract_text) ---
EXTRACTED = T.StructType(
    [
        T.StructField("file_hash", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("page_count", T.IntegerType(), True),
        T.StructField("whisper_hash", T.StringType(), True),
    ]
)

# --- chunk/vector index (reference: sdk1/vector_db.py:122-157, doc_id sdk1/index.py:460-516) ---
CHUNKS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("file_hash", T.StringType(), False),
        T.StructField("chunk_no", T.IntegerType(), False),
        T.StructField("chunk_text", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)

# --- structured output rows (reference: executor legacy_executor.py:1356-1363) ---
EXTRACTION_RESULTS = T.StructType(
    [
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("file_execution_id", T.StringType(), False),
        T.StructField("file_hash", T.StringType(), False),
        T.StructField("prompt_key", T.StringType(), False),
        T.StructField("answer_raw", T.StringType(), True),
        T.StructField("answer_typed", T.StringType(), True),
        T.StructField("context", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_message", T.StringType(), True),
    ]
)

# --- token/cost ledger (reference: backend/usage_v2/helper.py:55-103) ---
USAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("usage_reason", T.StringType(), True),
        T.StructField("model_name", T.StringType(), True),
        T.StructField("embedding_tokens", T.LongType(), True),
        T.StructField("prompt_tokens", T.LongType(), True),
        T.StructField("completion_tokens", T.LongType(), True),
        T.StructField("total_tokens", T.LongType(), True),
        T.StructField("cost_in_dollars", T.DoubleType(), True),
        T.StructField("pages_processed", T.IntegerType(), True),
    ]
)

# --- HITL review queue (reference: endpoint_v2/queue_utils.py:231-247 QueueResult) ---
REVIEW_QUEUE = T.StructType(
    [
        T.StructField("queue_name", T.StringType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("result", T.StringType(), True),
        T.StructField("file_content_b64", T.StringType(), True),
        T.StructField("whisper_hash", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("file_execution_id", T.StringType(), True),
        T.StructField("execution_id", T.StringType(), True),
        T.StructField("enqueued_at", T.TimestampType(), True),
        T.StructField("ttl_seconds", T.LongType(), True),
        T.StructField("message_id", T.StringType(), True),
    ]
)

# --- execution status rows (reference: callback aggregation workers/callback/tasks.py:255-360) ---
EXECUTIONS = T.StructType(
    [
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("file_execution_id", T.StringType(), False),
        T.StructField("workflow_id", T.StringType(), True),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("execution_time_s", T.DoubleType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

DEFAULT_HITL_TTL_SECONDS = 90 * 24 * 3600  # reference: plugins/workflow_v2/utils.py:18-19
DEFAULT_TOP_K = 5  # reference: sdk1/index.py:40-41
DEFAULT_CHUNK_SIZE = 512  # reference: legacy_executor.py:1109-1110
DEFAULT_CHUNK_OVERLAP = 128
MAX_FILES_DEFAULT = 100  # reference: endpoint_v2/constants.py:57
MAX_FILES_FOR_SORTING = 40_000  # reference: endpoint_v2/constants.py:198
MAX_RECURSIVE_DEPTH = 10  # reference: endpoint_v2/constants.py:197
