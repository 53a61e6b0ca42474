"""T8-T10 + type system — prompt assembly, extraction, coercion.

The extraction "query" is a set of prompt specs (one per output field).
Execution shape (reference: legacy_executor.py:1327-1497):

    documents  CROSS JOIN  broadcast(prompt_specs)     (J3)
      -> retrieval context per (doc, prompt)           (J4, retrieval.py)
      -> prompt assembly                               (T8, concat)
      -> LLM completion                                (T7, llm.py / mock)
      -> NA sanitize + type coercion                   (F5 + §1.2)
      -> pivot prompt_key -> columns                   (structured output)

Everything except the LLM call is declarative Column algebra.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unstract_spark.mock import (
    doc_fingerprint,
    mock_answer_from_hash,
    mock_answer_hash,
)

# --- F5 NA sanitize (reference: legacy_executor.py:1297-1325) ---


def na_to_null(col: Column) -> Column:
    return F.when(F.lower(F.trim(col)) == "na", F.lit(None).cast("string")).otherwise(col)


# --- §1.2 type coercion ---


def coerce_number(raw: Column) -> Column:
    """Extract the first numeric literal; expand thousands/millions words.

    Fast path of the reference's second-LLM number extraction
    (legacy_executor.py:1499-1520): regexp pull + word-multiplier.
    """
    # `num` is read once ('' try-casts to NULL); x * 1.0 == x, -0.0 too
    num = F.regexp_extract(raw, r"(-?\d+(?:\.\d+)?)", 1)
    lower = F.lower(raw)
    multiplier = (
        F.when(lower.rlike("million"), 1e6)
        .when(lower.rlike("thousand"), 1e3)
        .when(lower.rlike("billion"), 1e9)
        .otherwise(1.0)
    )
    return num.try_cast("double") * multiplier


def coerce_boolean(raw: Column) -> Column:
    l = F.lower(F.trim(raw))
    return (
        F.when(l.isin("yes", "true", "1"), True)
        .when(l.isin("no", "false", "0"), False)
        .otherwise(F.lit(None).cast("boolean"))
    )


def coerce_date(raw: Column) -> Column:
    """ISO-8601 first; None on parse failure (reference 'NA' -> null)."""
    return F.try_to_timestamp(F.trim(raw))


def coerce_json(raw: Column) -> Column:
    """Validated JSON or null — structural repair lives in llm.py UDF path."""
    return F.when(F.try_variant_get(F.try_parse_json(raw), "$").isNotNull(), raw)


def coerce_table(raw: Column) -> Column:
    """TABLE type: valid JSON whose top level is an array, else null.

    The reference delegates TABLE/RECORD prompts to the table-executor
    plugin and stores its structured output verbatim, '' on failure
    (legacy_executor.py:2002-2074); here the answer is kept as a JSON
    string column (scalar — gate-safe) and validated structurally.
    """
    valid = F.try_parse_json(raw).isNotNull() & F.ltrim(raw).startswith("[")
    return F.when(valid, raw)


def coerce_record(raw: Column) -> Column:
    """RECORD type: valid JSON whose top level is an object, else null."""
    valid = F.try_parse_json(raw).isNotNull() & F.ltrim(raw).startswith("{")
    return F.when(valid, raw)


def coerce(raw: Column, enforce_type: str) -> Column:
    cleaned = na_to_null(raw)
    if enforce_type == "number":
        return coerce_number(cleaned)
    if enforce_type == "boolean":
        return coerce_boolean(cleaned)
    if enforce_type == "date":
        return coerce_date(cleaned)
    if enforce_type == "json":
        return coerce_json(cleaned)
    if enforce_type == "table":
        return coerce_table(cleaned)
    if enforce_type == "record":
        return coerce_record(cleaned)
    if enforce_type == "email":
        return F.when(cleaned.rlike(r"^[^@\s]+@[^@\s]+\.[^@\s]+$"), cleaned)
    return F.when(cleaned.isNotNull(), F.regexp_replace(cleaned, r"\n+$", ""))


# --- T9 per-field extraction over the cross join, mock-LLM path ---


def with_mock_answers(
    df: DataFrame, prompt_specs: list[dict], fingerprint: str = "fingerprint"
) -> DataFrame:
    """Add one typed column per prompt_key: the mock answer for
    (prompt_key, `fingerprint`), NA-sanitized and coerced.

    Each prompt's hash and raw answer get a projection of their own. A
    Column helper that reads its input twice copies the input's whole
    tree: the answer reads its hash twice and `coerce` reads the answer
    four to twenty-two times, so inlined, `run_extraction`'s three
    prompts planned 234 md5 calls. CollapseProject keeps a projection
    apart when a non-cheap column of it is read more than once, so each
    row hashes each prompt once.
    """
    fp = F.col(fingerprint)
    hashes = {
        f"_h{i}": mock_answer_hash(F.lit(s["prompt_key"]), fp)
        for i, s in enumerate(prompt_specs)
    }
    answers = {f"_a{i}": mock_answer_from_hash(F.col(f"_h{i}")) for i in range(len(prompt_specs))}
    typed = {
        s["prompt_key"]: coerce(F.col(f"_a{i}"), s.get("enforce_type", "text"))
        for i, s in enumerate(prompt_specs)
    }
    return df.withColumns(hashes).withColumns(answers).withColumns(typed).drop(*hashes, *answers)


def extract_structured_mock(
    docs: DataFrame,
    prompt_specs: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents x prompt_specs -> one column per prompt_key (mock LLM).

    The cross join is broadcast (prompt specs are tiny); answers come
    from the deterministic mock so the whole pipeline is
    oracle-checkable. With a real provider, swap the mock answer in
    :func:`with_mock_answers` for llm.complete_with_controller — the
    plan shape is identical.

    Pivot note: instead of groupBy().pivot() (whose output columns
    depend on runtime values), we emit one aliased column per spec —
    plan-time schema, as the engine requires (§1.3 dynamic schemas).
    """
    fp = doc_fingerprint(F.col(text_col)).alias("_fp")
    answered = with_mock_answers(docs.select(F.col(id_col), fp), prompt_specs, "_fp")
    return answered.select(id_col, *[s["prompt_key"] for s in prompt_specs])


def extract_long_format_mock(
    docs: DataFrame,
    prompt_specs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-format result rows: (doc, prompt_key, answer_raw, answer_text).

    The J3 cross join made explicit — broadcast(prompt_specs) replicates
    the tiny spec table to every executor; no shuffle of the doc side.
    """
    fp = doc_fingerprint(F.col(text_col)).alias("fingerprint")
    joined = docs.select(F.col(id_col), fp).crossJoin(
        F.broadcast(prompt_specs_df.select("prompt_key", "enforce_type"))
    )
    # staged like with_mock_answers: the hash and answer are each read twice
    hashed = joined.withColumn("_h", mock_answer_hash(F.col("prompt_key"), F.col("fingerprint")))
    answered = hashed.select(
        id_col, "prompt_key", mock_answer_from_hash(F.col("_h")).alias("answer_raw")
    )
    return answered.withColumn("answer_text", na_to_null(F.col("answer_raw")))


def extract_table_mock(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TABLE/RECORD extraction — whole-doc delegation, mock path.

    Mirrors the reference's plugin dispatch (legacy_executor.py:
    1718-1733 routes TYPE in (TABLE, RECORD) to _run_table_extraction,
    2002-2074): chunk_size is forced to 0 (the whole document is the
    context — no retrieval), the structured answer is one JSON string
    per document, and a failed extraction lands as status='ERROR' with
    an empty output instead of failing the job. Output columns are all
    scalar (JSON strings + counts) so results are driver-gate safe.
    """
    from unstract_spark.mock import mock_record_answer, mock_table_answer

    fp = doc_fingerprint(F.col(text_col))
    table_raw = mock_table_answer(fp)
    record_raw = mock_record_answer(fp)
    table_json = coerce(table_raw, "table")
    record_json = coerce(record_raw, "record")
    return docs.select(
        F.col(id_col),
        table_json.alias("table_json"),
        F.json_array_length(table_json).alias("table_rows"),
        record_json.alias("record_json"),
        F.when(table_json.isNull() | record_json.isNull(), F.lit("ERROR"))
        .otherwise(F.lit("SUCCESS"))
        .alias("status"),
    )


def single_pass_mock(
    docs: DataFrame,
    prompt_keys: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T10 single-pass fusion: N prompts -> ONE call per document.

    The mock's combined answer is the struct of per-key answers derived
    from one fused key — mirrors the reference forcing chunk_size=0 and
    combining prompts (legacy_executor.py:733-772, 2270-2310). The
    planner rewrite (plans/fusion.py) decides when this replaces N
    per-prompt calls.
    """
    fused_key = "|".join(sorted(prompt_keys))
    # staged like with_mock_answers: the fingerprint and each answer's
    # hash are read more than once, so each is projected once
    fp = docs.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("_fp"))
    hashed = fp.withColumns(
        {
            f"_h{i}": mock_answer_hash(F.lit(f"{fused_key}#{key}"), F.col("_fp"))
            for i, key in enumerate(prompt_keys)
        }
    )
    return hashed.select(
        F.col(id_col),
        mock_answer_hash(F.lit(fused_key), F.col("_fp")).alias("call_id"),
        *[mock_answer_from_hash(F.col(f"_h{i}")).alias(key) for i, key in enumerate(prompt_keys)],
    )
