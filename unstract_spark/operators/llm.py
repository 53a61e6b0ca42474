"""T7 — the LLM call controller (the engine's only external-service stage).

Reference: litellm-backed completion with retries/backoff, token caps and
a mock hook (sdk1/llm.py:165-437, retry utils_retry_utils.py). In Spark
the rules are:

- LLM calls live in `mapInPandas` (Arrow batches), never row-at-a-time.
- Bounded concurrency per executor (semaphore) — the cluster-wide rate
  is `executors * max_concurrency`, tuned to the provider limit.
- Retries with exponential backoff happen *inside* the UDF. Spark task
  retry is the outer layer and calls the provider again: there is no
  answer cache, so a retried task re-spends its tokens. Replay across
  runs comes from the file-history ledger, which skips COMPLETED files
  (sinks.history.FileHistoryStore).
- Usage (token/cost) rows are emitted as side-output columns on the same
  result rows — no separate collection pass.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame

from unstract_spark.mock import MockLLM

# Process-global semaphores, keyed by (bucket name, limit). A Python
# worker process handles one Spark task at a time but persists across
# tasks (spark.python.worker.reuse), so this bounds in-flight provider
# calls per worker process for the lifetime of the executor. The
# cluster-wide in-flight ceiling is
#     executors * cores_per_executor * max_concurrency
# (one python worker per task slot) — size max_concurrency from the
# provider's rate limit divided by that product.
_SEM_LOCK = threading.Lock()
_SEMAPHORES: dict[tuple[str, int], threading.BoundedSemaphore] = {}


def _get_semaphore(bucket: str, limit: int) -> threading.BoundedSemaphore:
    with _SEM_LOCK:
        key = (bucket, limit)
        if key not in _SEMAPHORES:
            _SEMAPHORES[key] = threading.BoundedSemaphore(limit)
        return _SEMAPHORES[key]


def complete_with_controller(
    df: DataFrame,
    prompt_col: str = "prompt",
    key_col: str = "prompt_key",
    fingerprint_col: str = "fingerprint",
    llm_factory: Callable[[], MockLLM] | None = None,
    batch_size: int = 32,
    max_retries: int = 5,
    backoff_s: float = 0.05,
    model_name: str = "mock-llm",
    max_concurrency: int = 4,
) -> DataFrame:
    """Run completions over (prompt, key, fingerprint) rows.

    Provider calls fan out on a thread pool (provider latency is I/O
    wait — threads overlap it) and are gated by a process-global
    semaphore shared across tasks in the same worker, so a long-lived
    executor never exceeds `max_concurrency` in-flight calls no matter
    how batches land. Retries with exponential backoff are per-chunk,
    inside the worker thread, so one flaky chunk never blocks or
    re-runs its siblings.

    Output adds: answer_raw, model_name, prompt_tokens,
    completion_tokens, total_tokens — the usage side-output that feeds
    operators.usage.usage_breakdown_by_model (A1) without a second pass.
    """
    llm_factory = llm_factory or MockLLM
    in_cols = [c for c in df.columns]
    schema = (
        ", ".join(f"{c} {t}" for c, t in zip(df.schema.fieldNames(), _ddl_types(df)))
        + ", answer_raw string, model_name string"
        + ", prompt_tokens long, completion_tokens long, total_tokens long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        llm = llm_factory()  # one client per task (lazy heavy init)
        sem = _get_semaphore(model_name, max_concurrency)
        # real adapters (providers.OpenAICompatibleLLM) expose
        # complete_rows(prompts, keys, fps) -> list[dict] with
        # provider-reported usage; the mock contract stays untouched
        rows_fn = getattr(llm, "complete_rows", None)

        def call_chunk(chunk: pd.DataFrame) -> list:
            for attempt in range(max_retries):
                with sem:  # released during backoff so siblings proceed
                    try:
                        if rows_fn is not None:
                            return rows_fn(
                                chunk[prompt_col].tolist(),
                                chunk[key_col].tolist(),
                                chunk[fingerprint_col].tolist(),
                            )
                        return llm.complete_batch(
                            chunk[key_col].tolist(), chunk[fingerprint_col].tolist()
                        )
                    except Exception:
                        if attempt == max_retries - 1:
                            raise
                time.sleep(backoff_s * (3**attempt))
            raise RuntimeError("unreachable")

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for pdf in batches:
                chunks = [
                    pdf.iloc[start : start + batch_size]
                    for start in range(0, len(pdf), batch_size)
                ]
                results: list = []
                for fut in [pool.submit(call_chunk, c) for c in chunks]:
                    results.extend(fut.result())
                out = pdf.copy()
                out["answer_raw"] = [
                    r["text"] if isinstance(r, dict) else r for r in results
                ]
                out["model_name"] = model_name
                est_pt = out[prompt_col].str.split().str.len().fillna(0).astype("int64")
                est_ct = (
                    out["answer_raw"].str.split().str.len().fillna(0).astype("int64")
                )
                # provider-reported usage wins; whitespace estimate backfills
                prov_pt = pd.Series(
                    [r.get("prompt_tokens") if isinstance(r, dict) else None
                     for r in results],
                    index=out.index, dtype="object",
                )
                prov_ct = pd.Series(
                    [r.get("completion_tokens") if isinstance(r, dict) else None
                     for r in results],
                    index=out.index, dtype="object",
                )
                out["prompt_tokens"] = prov_pt.where(prov_pt.notna(), est_pt).astype("int64")
                out["completion_tokens"] = prov_ct.where(prov_ct.notna(), est_ct).astype("int64")
                out["total_tokens"] = out["prompt_tokens"] + out["completion_tokens"]
                yield out[in_cols + ["answer_raw", "model_name", "prompt_tokens",
                                     "completion_tokens", "total_tokens"]]

    return df.mapInPandas(run, schema=schema)


def _ddl_types(df: DataFrame) -> list[str]:
    return [f.dataType.simpleString() for f in df.schema.fields]
