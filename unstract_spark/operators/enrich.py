"""Post-extraction enrichment operators: T11 summarize, T12 challenge,
T13 evaluation, T14 lookup enrichment, T16 classification, T17 JSON
repair, T18 highlight projection.

All LLM-backed stages use the deterministic mock (so they are testable
and — where the logic is pure column algebra — oracle-checkable); the
real-provider path swaps in operators/llm.complete_with_controller with
identical plan shape.
"""

from __future__ import annotations

import json
import re

import pandas as pd  # module-level: pandas_udf resolves string annotations here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unstract_spark.mock import mock_answer_hash

# ---------- T11 summarize-as-source ----------


def summarize_mock(
    docs: DataFrame,
    prompt_keys: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic 'summary' per document focused on the prompt keys.

    Reference: one LLM summary cached per (file, llm, prompt_keys);
    downstream prompts then run against the summary with chunk_size=0
    (legacy_executor.py:2312-2410). Mock summary = keyed digest +
    leading text slice, a pure expression (SQL-oracle-able). The cache
    key mirrors the reference's file-hash + prompt-keys keying.
    """
    keys = ",".join(sorted(prompt_keys))
    digest = mock_answer_hash(F.lit(f"summarize:{keys}"), F.md5(F.col(text_col)))
    return docs.select(
        F.col(id_col),
        F.concat(
            F.lit("SUMMARY["), digest, F.lit("]: "), F.substring(F.col(text_col), 1, 120)
        ).alias("summary"),
        digest.alias("summary_cache_key"),
    )


# ---------- T12 challenge (adversarial second opinion) ----------


def challenge_mock(
    answers: DataFrame,
    answer_col: str = "answer_raw",
    context_col: str = "context_text",
) -> DataFrame:
    """Second-LLM challenge of each answer against its context
    (legacy_executor.py:1539-1595). Mock verdict: the answer's digest
    must appear derivable from the context digest — deterministic
    agree/disagree with a confidence score."""
    h = mock_answer_hash(F.col(answer_col), F.md5(F.coalesce(F.col(context_col), F.lit(""))))
    agree = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 4) != 0  # ~75% agree
    conf = F.round(F.conv(F.substring(h, 3, 4), 16, 10).cast("double") / 65535.0, 4)
    return answers.withColumn("challenge_agrees", agree).withColumn(
        "challenge_confidence", conf
    )


# ---------- T13 evaluation (quality flags per answer) ----------


def evaluate_answers(
    answers: DataFrame,
    answer_col: str = "answer_raw",
    context_col: str = "context_text",
) -> DataFrame:
    """Rule-based evaluation flags (faithfulness/completeness/PII),
    mirroring the reference's per-answer eval surface
    (prompt_studio_v2/models.py:148-154). Pure column algebra:
    - faithful: answer tokens appear in context (overlap ratio)
    - complete: non-null, non-NA, length above floor
    - pii_free: no email/phone-looking substrings
    """
    ans = F.coalesce(F.col(answer_col), F.lit(""))
    ctx = F.coalesce(F.col(context_col), F.lit(""))
    overlap = F.size(
        F.array_intersect(
            F.split(F.lower(ans), "\\s+"), F.split(F.lower(ctx), "\\s+")
        )
    )
    n_ans = F.greatest(F.size(F.split(F.lower(ans), "\\s+")), F.lit(1))
    faithful_ratio = F.round(overlap / n_ans, 4)
    return (
        answers.withColumn("eval_faithful_ratio", faithful_ratio)
        .withColumn("eval_complete", (F.length(F.trim(ans)) >= 3) & (F.lower(F.trim(ans)) != "na"))
        .withColumn(
            "eval_pii_free",
            ~(
                ans.rlike(r"[^@\s]+@[^@\s]+\.[^@\s]+")
                | ans.rlike(r"\+?\d[\d\- ]{7,}\d")
            ),
        )
    )


# ---------- T14 lookup enrichment ----------


def lookup_enrich(
    results: DataFrame,
    lookup: DataFrame,
    on: str,
    how: str = "left",
    stats=None,
    stats_table: str = "lookup",
) -> DataFrame:
    """Join against a dimension table
    (workers/executor/executors/lookup_enrichment.py).

    Default: explicit broadcast — zero shuffle of the result side,
    correct for the reference's always-small lookup tables. With a
    `stats_store.TableStatsStore` (analyzed under `stats_table`.`on`,
    e.g. by the maintenance job that writes the lookup), the choice is
    PRICED instead of assumed: a dimension whose persisted size bound
    exceeds the broadcast threshold takes the shuffle (or hot-key
    split) plan via apply_using_join — the blind broadcast of a
    100 GB "dimension" is exactly the planner-bypass mistake the
    stats store exists to prevent."""
    if stats is not None and stats.has_stats(stats_table, on):
        plan = stats.plan_against_unknown(stats_table, on)
        return stats.apply_using_join(results, lookup, [on], plan, how)
    return results.join(F.broadcast(lookup), on, how)


# ---------- T16 classification ----------


def classify_by_keywords(
    docs: DataFrame,
    bins: dict[str, list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    unknown_label: str = "unknown",
) -> DataFrame:
    """Deterministic classifier: arg-max of per-bin keyword hits, with
    the reference's reserved 'unknown' bin (tools/classifier/src/main.py).
    The LLM variant swaps the score columns for a completion call; the
    routing (partitionBy(classification) on write) is identical."""
    def _kw_pattern(w: str) -> str:
        # Keywords are literals, not patterns: escape metacharacters
        # ('c++', 'a.b'). A \b anchor only works against a word char, so
        # apply it per-edge ('\bc\+\+\b' would never match).
        esc = re.escape(w.lower())
        head = "\\b" if re.match(r"\w", w) else ""
        tail = "\\b" if re.search(r"\w$", w) else ""
        return head + esc + tail

    scores = {
        label: sum(
            (F.regexp_count(F.lower(F.col(text_col)), F.lit(_kw_pattern(w))))
            for w in words
        )
        for label, words in bins.items()
    }
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    pred: Column = F.lit(None).cast("string")
    for label in sorted(scores):
        pred = F.when(pred.isNotNull(), pred).when(
            (scores[label] == best) & (best > 0), F.lit(label)
        )
    pred = F.coalesce(pred, F.lit(unknown_label))
    return docs.select(
        F.col(id_col),
        *[scores[lbl].alias(f"score_{lbl}") for lbl in sorted(scores)],
        pred.alias("classification"),
    )


# ---------- T17 JSON repair ----------


def repair_json(raw: str | None) -> str | None:
    """Best-effort structural repair of malformed LLM JSON
    (workers/executor/executors/json_repair_helper.py:1-63 semantics:
    strip code fences, balance braces/brackets, close strings; non-dict/
    list results coerce to {}). Pure Python — used inside the pandas UDF
    below and unit-tested directly."""
    if raw is None:
        return None
    s = raw.strip()
    if s.lower() in ("na", ""):
        return None
    if s.startswith("```"):
        s = s.strip("`")
        if s.startswith("json"):
            s = s[4:]
        s = s.strip()
    start = min([i for i in (s.find("{"), s.find("[")) if i >= 0], default=-1)
    if start < 0:
        return "{}"
    s = s[start:]
    try:
        json.loads(s)
        return s
    except json.JSONDecodeError:
        pass
    # balance quotes then brackets
    if s.count('"') % 2 == 1:
        s += '"'
    stack = []
    out = []
    in_str = False
    for ch in s:
        if ch == '"' and (not out or out[-1] != "\\"):
            in_str = not in_str
        if not in_str:
            if ch in "{[":
                stack.append("}" if ch == "{" else "]")
            elif ch in "}]":
                if stack and stack[-1] == ch:
                    stack.pop()
                else:
                    continue  # drop mismatched closer
        out.append(ch)
    s = "".join(out).rstrip(",")
    s += "".join(reversed(stack))
    try:
        v = json.loads(s)
        if not isinstance(v, (dict, list)):
            return "{}"
        return s
    except json.JSONDecodeError:
        return "{}"


def repair_json_column(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """Arrow-batched repair UDF over a string column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _repair(s: pd.Series) -> pd.Series:
        return s.map(repair_json)

    return df.withColumn(out_col or col, _repair(F.col(col)))


# ---------- T15 webhook postprocess ----------


def webhook_postprocess(
    results: DataFrame,
    url: str,
    transport,  # Callable[[str, str], str | None] — injected; tests fake it
    payload_cols: list[str] | None = None,
    batch_size: int = 32,
) -> DataFrame:
    """POST each result row's JSON to a webhook; the response replaces
    the row payload (reference: answer_prompt.py:283-310 — SSRF-guarded
    external postprocessor).

    Arrow-batched mapInPandas with row-level error isolation: transport
    failures become (postprocess_status=ERROR, original payload kept).
    Only https URLs to non-private hosts should be allowed by the
    caller-provided transport (the SSRF guard lives there).
    """
    import pandas as pd  # noqa: F811 — explicit for the UDF closure

    payload_cols = payload_cols or [c for c in results.columns]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in results.schema.fields)
    out_schema = fields + ", postprocessed string, postprocess_status string"

    def run(batches):
        for pdf in batches:
            out_vals, statuses = [], []
            for _, row in pdf.iterrows():
                payload = json.dumps({c: row[c] for c in payload_cols}, default=str)
                try:
                    resp = transport(url, payload)
                    out_vals.append(resp if resp is not None else payload)
                    statuses.append("SUCCESS")
                except Exception as e:  # noqa: BLE001 — row isolation
                    out_vals.append(payload)
                    statuses.append(f"ERROR: {str(e)[:100]}")
            out = pdf.copy()
            out["postprocessed"] = out_vals
            out["postprocess_status"] = statuses
            yield out

    return results.mapInPandas(run, schema=out_schema)


# ---------- T18 highlight/confidence projection ----------


def attach_highlights(
    answers: DataFrame,
    context_col: str = "context_text",
    answer_col: str = "answer_raw",
) -> DataFrame:
    """Carry per-answer source coordinates as a nested struct
    (answer_prompt.py:255-274). Mock coordinates: first occurrence of
    the answer inside the context (line/char offsets) — the real
    extractor supplies word-level coords through the same struct."""
    ctx = F.coalesce(F.col(context_col), F.lit(""))
    ans = F.coalesce(F.col(answer_col), F.lit(""))
    pos = F.instr(ctx, ans)
    line_no = F.when(pos > 0, F.size(F.split(F.substring(ctx, 1, pos), "\n"))).otherwise(
        F.lit(None)
    )
    return answers.withColumn(
        "highlight",
        F.struct(
            pos.alias("char_offset"),
            line_no.alias("line_no"),
            (pos > 0).alias("found_in_context"),
        ),
    )
