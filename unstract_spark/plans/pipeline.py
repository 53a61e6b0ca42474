"""End-to-end extraction pipeline — the reference's §3.2 ETL path as
one composed Spark job.

    catalog (sources.list_files + build_catalog)
      LEFT JOIN the COMPLETED history (sinks.history), staged once
      -> fresh rows (F2 dedup) | skipped rows (replayed results)
      -> T1 text extraction (here: utf-8 decode of text files; real
         parsers plug in via the same mapInPandas contract)
      -> T9 per-field extraction over prompt stages (plans.fusion
         ordering, mock or controller-backed LLM)
      -> structured results + usage rows
      -> D1/D2/D4 sinks + history MERGE

The whole thing is one DataFrame lineage per stage boundary — no
inter-service hops, no per-file Python loops; Catalyst sees each
stage's plan end-to-end (reference contrast: 6 process hops per file,
SURVEY.md §3.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstract_spark.operators.extract import extract_text
from unstract_spark.operators.prompts import with_mock_answers
from unstract_spark.plans.fusion import plan_prompt_stages
from unstract_spark.sinks.history import REPLAY_COLUMNS, FileHistoryStore
from unstract_spark.sources.catalog import FilePattern, build_catalog, list_files


@dataclass
class ExtractionJob:
    """One workflow run: source dir -> structured rows + ledgers."""

    source_dir: str
    history_path: str
    workflow_id: str = "wf-default"
    prompt_specs: list[dict] = field(default_factory=list)
    glob: str | list[str] = "*.txt"
    max_files: int = 100
    # extraction adapter registry override (x2text surface): maps MIME
    # type -> `bytes -> (text, pages)`. None = DEFAULT_ADAPTERS. This is
    # how remote extractors (make_whisperer_adapter, make_ocr_adapter)
    # plug into the e2e pipeline — the reference configures its x2text
    # adapter per tool the same way (sdk1/index.py:133-217).
    adapters: dict | None = None
    # Optional TableStatsStore directory. When set, the history ledger
    # is ANALYZEd on every merge and the run's history join (F2 dedup
    # and replay in one left join) takes the stats-priced shape —
    # broadcast / hot-key split / shuffle — instead of Spark's default
    # (see sinks.history.FileHistoryStore and
    # operators.stats_store.plan_against_unknown).
    stats_path: str | None = None


def run_extraction(spark: SparkSession, job: ExtractionJob) -> dict[str, DataFrame]:
    """Execute the pipeline; returns {results, skipped, usage} frames.

    `results` has one column per prompt_key (typed) plus file identity;
    `skipped` are catalog rows served from history (the replay path);
    `usage` is the A1 ledger input. History is MERGEd at the end so a
    re-run skips completed content (exactly-once per content).
    """
    globs = [job.glob] if isinstance(job.glob, str) else list(job.glob)
    listing = list_files(
        spark, job.source_dir, FilePattern(globs=globs, max_files=job.max_files)
    )
    stats = None
    if job.stats_path is not None:
        from unstract_spark.operators.stats_store import TableStatsStore

        stats = TableStatsStore(spark, job.stats_path)
    store = FileHistoryStore(spark, job.history_path, stats=stats)

    # Stage the run ONCE: the catalog rows of one listing scan (hash,
    # numbering and content all come from that scan) LEFT JOINed to the
    # COMPLETED ledger rows, behind one barrier. `fresh` (no history)
    # and `skipped` (replayed from history) are filters of it, so a run
    # reads each source file once (as the reference does,
    # source.py:938-954) and the ledger once. localCheckpoint writes
    # partitions to executor-local storage — no driver involvement, no
    # CacheManager entry.
    # list_files' limit(max_files) stays even when the source holds
    # fewer files than the cap: the limit is also what gathers the
    # catalog into ONE partition. Without it the staged frame keeps the
    # listing's partitioning (63 partitions for a 2000-file inbox) and
    # the non-text extraction below runs one Python task per partition
    # in each of its two stages, measured at 7-8 s per run instead of
    # about 2.6 s.
    catalog = build_catalog(listing)
    staged = store.join_completed(catalog, REPLAY_COLUMNS).localCheckpoint(eager=True)
    fresh = store.misses(staged, catalog.columns)
    skipped = store.hits(staged)

    # T1 — MIME-dispatched extraction with per-file error isolation
    # (reference hard-part 5, legacy_executor.py:159-163): a bad file
    # becomes an ERROR row with a message, never a job failure.
    # Hybrid plan: text/plain stays a pure JVM column expression
    # (is_valid_utf8 + decode — no Python in the hot path for the
    # dominant type); every other MIME (pdf/json/csv/...) goes through
    # the Arrow-batched adapter registry (operators/extract.extract_text,
    # x2text surface of sdk1/index.py:133-217). Both branches are one
    # scan each over a disjoint mime partition of `fresh` — no join, one
    # union, identical output contract.
    valid = F.expr("is_valid_utf8(content)")
    is_text = F.col("mime_type") == "text/plain"
    base_cols = ["file_path", "file_name", "file_hash"]
    txt_docs = fresh.filter(is_text).select(
        *base_cols,
        F.when(valid, F.decode(F.col("content"), "UTF-8")).otherwise(F.lit(None)).alias(
            "extracted_text"
        ),
        F.when(valid, "SUCCESS").otherwise("ERROR").alias("extract_status"),
        F.when(~valid, "text extraction failed: invalid utf-8")
        .otherwise(F.lit(None))
        .alias("extract_error"),
    )
    other_docs = extract_text(
        fresh.filter(~is_text),
        adapters=job.adapters,
        passthrough_cols=["file_path", "file_name"],
    ).select(
        *base_cols,
        "extracted_text",
        F.col("status").alias("extract_status"),
        F.col("error_message").alias("extract_error"),
    )
    docs = txt_docs.unionByName(other_docs)

    # T9: prompt columns in stage order (plan_prompt_stages also
    # rejects dependency cycles). with_mock_answers stages each
    # prompt's hash and answer as columns of their own, so each row
    # hashes each prompt once; coerce already maps 'NA' to null.
    plan = plan_prompt_stages(job.prompt_specs)
    by_key = {s["prompt_key"]: s for s in job.prompt_specs}
    keys = [key for stage in plan.stages for group in stage for key in group]
    answered = with_mock_answers(
        docs.select(
            "file_path",
            "file_name",
            "file_hash",
            "extracted_text",
            F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))).alias("fingerprint"),
            F.col("extract_status").alias("status"),
            F.col("extract_error").alias("error_message"),
        ),
        [by_key[key] for key in keys],
    )
    ok = F.col("status") == "SUCCESS"
    result = answered.withColumns({key: F.when(ok, F.col(key)) for key in keys})

    # Extract ONCE: three consumers follow (history MERGE write,
    # results, usage). Without a materialization barrier each action
    # re-runs the whole scan -> decode -> per-field extraction lineage
    # (3x the corpus read; at 100 TB that is 3x the extraction cost —
    # the reference extracts each file exactly once,
    # legacy_executor.py:159). localCheckpoint, not persist: blocks are
    # owned by the RDD and reclaimed by the ContextCleaner when the
    # frame goes out of scope, so repeated pipeline runs in one session
    # can't accumulate CacheManager entries (SCALE.md local-mode caveat).
    result = result.localCheckpoint(eager=True)

    usage = result.select(
        F.col("file_hash").alias("run_id"),
        F.lit(job.workflow_id).alias("execution_id"),
        F.lit("extraction").alias("usage_reason"),
        F.lit("mock-llm").alias("model_name"),
        F.lit(0).cast("long").alias("embedding_tokens"),
        (F.length("extracted_text") / 4).cast("long").alias("prompt_tokens"),
        F.lit(len(keys) * 8).cast("long").alias("completion_tokens"),
        ((F.length("extracted_text") / 4) + len(keys) * 8)
        .cast("long")
        .alias("total_tokens"),
        F.lit(0.0).alias("cost_in_dollars"),
        F.lit(1).alias("pages_processed"),
    )

    results = result.drop("extracted_text", "fingerprint")

    # history MERGE: mark processed content COMPLETED with cached result
    payload_cols = [k for k in by_key]
    # ERROR rows stay ERROR in history so the next run retries them
    # (only COMPLETED dedups — reference file_history.py:21)
    hist_updates = result.select(
        F.col("file_hash").alias("cache_key"),
        F.lit(None).cast("string").alias("provider_file_uuid"),
        "file_path",
        F.lit(job.workflow_id).alias("workflow_id"),
        # ledger vocabulary is COMPLETED/ERROR (file_history.py:21);
        # per-row pipeline status is SUCCESS/ERROR (database_utils.py:162)
        F.when(F.col("status") == "SUCCESS", "COMPLETED").otherwise("ERROR").alias(
            "status"
        ),
        F.when(
            F.col("status") == "SUCCESS", F.to_json(F.struct(*payload_cols))
        ).alias("result"),
        F.lit(None).cast("string").alias("metadata"),
        F.lit(1).alias("execution_count"),
    )
    store.merge(hist_updates)

    return {"results": results, "skipped": skipped, "usage": usage}


API_MAX_FILES = 32  # reference: backend/api_v2/serializers.py:247


def api_results(
    results: DataFrame,
    skipped: DataFrame | None = None,
    max_files: int = API_MAX_FILES,
) -> list[dict]:
    """D3 — shape an execution's output as the API response payload:
    one dict per file {file, status, result, metadata}, replayed cache
    hits included (reference: destination.py:516-557 _handle_api_result).
    The collect() here IS the sink — the API response goes to one
    caller — but it is bounded by the reference's per-request file cap
    (serializers.py:247-392 rejects >32 files per API deployment
    request), so a misrouted bulk pipeline can't OOM the driver."""
    import json as _json

    # ONE action per input: limit(cap+1) bounds what can ever reach the
    # driver, and len() of the collected rows replaces the separate
    # count() pass (two Spark jobs over the same lineage otherwise)
    rows = results.limit(max_files + 1).collect()
    skipped_rows = skipped.limit(max_files + 1).collect() if skipped is not None else []
    n = len(rows) + len(skipped_rows)
    if n > max_files:
        raise ValueError(
            f"api_results is a per-request sink capped at {max_files} files "
            f"(got >={n}); bulk output belongs in the filesystem/JDBC sinks"
        )
    payload_cols = [
        c
        for c in results.columns
        if c not in ("file_path", "file_name", "file_hash", "status", "error_message")
    ]
    out = [
        {
            "file": r["file_name"],
            "status": r["status"],
            "result": {k: r[k] for k in payload_cols},
            "metadata": {"file_execution_id": r["file_hash"]},
            "error": r["error_message"],
        }
        for r in rows
    ]
    out += [
        {
            "file": r["file_path"].rsplit("/", 1)[-1],
            "status": "COMPLETED",
            "result": _json.loads(r["result"]) if r["result"] else None,
            "metadata": {"cache_hit": True},
            "error": None,
        }
        for r in skipped_rows
    ]
    return out
