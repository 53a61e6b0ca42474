"""Deterministic mock LLM + mock embedding.

The reference tests end-to-end with a mocked LLM
(reference: unstract/sdk1/src/unstract/sdk1/llm.py:35-57 —
`UNSTRACT_LLM_MOCK_RESPONSE`) so landed output is exact-match assertable.
We go one step further: the mock answer is a *pure function* of
(prompt_key, document fingerprint), and that function is expressible both
as a Spark Column and as ANSI SQL — so the whole extraction pipeline can
be validated against a DuckDB oracle, not just smoke-tested.

Mock function (both engines):
    fp       = md5(document_text)
    h        = md5(prompt_key || ':' || fp)
    text     -> 'ans-' || substr(h, 1, 12)
    number   -> (ascii(h[1])*256 + ascii(h[2])) / 10.0
    boolean  -> ascii(h[1]) % 2 == 0
    date     -> date '2024-01-01' + (ascii(h[1]) % 28) days
    json     -> '{"k": "' || substr(h,1,8) || '"}'
    ~1/16 of answers come back as the literal 'NA' (h starts with '0'),
    exercising the NA->null sanitization path
    (reference: legacy_executor.py:1297-1325).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MOCK_EMBED_DIM = 8


def doc_fingerprint(text: Column) -> Column:
    """md5 fingerprint of raw document text (stable join key for caches)."""
    return F.md5(text)


def mock_answer_hash(prompt_key: Column, fingerprint: Column) -> Column:
    """The mock call's md5 `h`; :func:`mock_answer_from_hash` maps it to the answer."""
    return F.md5(F.concat_ws(":", prompt_key, fingerprint))


def mock_answer_from_hash(h: Column) -> Column:
    """Raw mock answer from its hash. `h` is read twice, so pass a column
    reference, not the md5 expression, where the answer is computed per row."""
    return F.when(h.startswith("0"), F.lit("NA")).otherwise(
        F.concat(F.lit("ans-"), F.substring(h, 1, 12))
    )


def mock_answer_raw(prompt_key: Column, fingerprint: Column) -> Column:
    """Raw mock LLM answer string, pre type-coercion ('NA' possible)."""
    return mock_answer_from_hash(mock_answer_hash(prompt_key, fingerprint))


def mock_answer_raw_sql(prompt_key_sql: str, fingerprint_sql: str) -> str:
    """DuckDB-SQL twin of :func:`mock_answer_raw` (oracle side)."""
    h = f"md5({prompt_key_sql} || ':' || {fingerprint_sql})"
    return (
        f"CASE WHEN substr({h},1,1) = '0' THEN 'NA' "
        f"ELSE 'ans-' || substr({h},1,12) END"
    )


class MockLLM:
    """Batched deterministic completion 'provider' for pipeline tests.

    Stands in for the litellm-backed provider fan-out
    (reference: sdk1/llm.py:165-437). `complete_batch` is what the
    pandas-UDF controller calls; the static `mock_response` hook mirrors
    the reference's env override.
    """

    def __init__(self, mock_response: str | None = None):
        self.mock_response = mock_response
        self.calls = 0

    @staticmethod
    def _answer(prompt_key: str, fingerprint: str) -> str:
        h = hashlib.md5(f"{prompt_key}:{fingerprint}".encode()).hexdigest()
        if h.startswith("0"):
            return "NA"
        return f"ans-{h[:12]}"

    def complete_batch(self, keys: list[str], fingerprints: list[str]) -> list[str]:
        self.calls += 1
        if self.mock_response is not None:
            return [self.mock_response] * len(keys)
        return [self._answer(k, f) for k, f in zip(keys, fingerprints)]


def mock_table_answer(fingerprint: Column) -> Column:
    """Deterministic mock TABLE answer: JSON array of 1-3 row objects.

    Stands in for the table-executor plugin's structured output
    (reference: workers/executor/executors/legacy_executor.py:2002-2074
    delegates TABLE/RECORD to the plugin and stores its data['output']).
    ~1/16 of answers are 'NA' to exercise the failure path.
    """
    h = F.md5(F.concat(F.lit("table:"), fingerprint))
    n = (F.ascii(F.substring(h, 1, 1)) % 3) + 1
    rows = F.array(
        *[
            F.concat(
                F.lit('{"item":"it-'),
                F.substring(h, 4 * i + 1, 4),
                F.lit('","qty":'),
                (F.ascii(F.substring(h, i + 2, 1)) % 9).cast("string"),
                F.lit("}"),
            )
            for i in range(3)
        ]
    )
    body = F.concat(F.lit("["), F.array_join(F.slice(rows, 1, n), ","), F.lit("]"))
    return F.when(h.startswith("0"), F.lit("NA")).otherwise(body)


def mock_table_answer_sql(fingerprint_sql: str) -> str:
    """DuckDB-SQL twin of :func:`mock_table_answer`."""
    h = f"md5('table:' || {fingerprint_sql})"
    rows = ", ".join(
        f"'{{\"item\":\"it-' || substr({h}, {4 * i + 1}, 4) || '\",\"qty\":' || "
        f"CAST(ascii(substr({h}, {i + 2}, 1)) % 9 AS VARCHAR) || '}}'"
        for i in range(3)
    )
    n = f"(ascii(substr({h}, 1, 1)) % 3) + 1"
    body = f"'[' || array_to_string(([{rows}])[1:{n}], ',') || ']'"
    return f"CASE WHEN substr({h},1,1) = '0' THEN 'NA' ELSE {body} END"


def mock_record_answer(fingerprint: Column) -> Column:
    """Deterministic mock RECORD answer: one JSON object per document."""
    h = F.md5(F.concat(F.lit("record:"), fingerprint))
    body = F.concat(
        F.lit('{"vendor":"v-'),
        F.substring(h, 1, 6),
        F.lit('","total":'),
        (F.ascii(F.substring(h, 7, 1)) * 100 + F.ascii(F.substring(h, 8, 1))).cast("string"),
        F.lit("}"),
    )
    return F.when(h.startswith("0"), F.lit("NA")).otherwise(body)


def mock_record_answer_sql(fingerprint_sql: str) -> str:
    """DuckDB-SQL twin of :func:`mock_record_answer`."""
    h = f"md5('record:' || {fingerprint_sql})"
    body = (
        f"'{{\"vendor\":\"v-' || substr({h}, 1, 6) || '\",\"total\":' || "
        f"CAST(ascii(substr({h}, 7, 1)) * 100 + ascii(substr({h}, 8, 1)) AS VARCHAR) || '}}'"
    )
    return f"CASE WHEN substr({h},1,1) = '0' THEN 'NA' ELSE {body} END"


def mock_embed_expr(text: Column, dim: int = MOCK_EMBED_DIM) -> list[Column]:
    """Column-expression twin of :func:`mock_embed_texts`, in DOUBLE.

    byte_i = sha256(text) hex pair i -> v_i = (byte_i - 127.5)/127.5,
    unit-normalized. Pure codegen and exactly reproducible in SQL (the
    oracle's twin is queries._RAW_COMPONENTS), which makes retrieval
    pipelines oracle-checkable end-to-end. (The numpy version computes
    in float32 and is used by the pandas-UDF provider path; the two are
    intentionally separate precision domains.)
    """
    h = F.sha2(text, 256)
    raw = [
        (F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("double") - 127.5) / 127.5
        for i in range(dim)
    ]
    norm2 = raw[0] * raw[0]
    for v in raw[1:]:
        norm2 = norm2 + v * v
    nrm = F.sqrt(norm2)
    return [v / nrm for v in raw]


def mock_embed_texts(texts: "list[str] | np.ndarray", dim: int = MOCK_EMBED_DIM) -> np.ndarray:
    """Mock embedding: sha256(text) bytes scaled to [-1, 1], unit-normed.

    Deterministic stand-in for the 9 embedding providers
    (reference: sdk1/embedding.py:137-196). Vectorized per batch —
    this is the shape the Arrow-batched pandas-UDF path needs.
    """
    out = np.empty((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        raw = hashlib.sha256((t or "").encode()).digest()[:dim]
        v = np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
        v = (v - 127.5) / 127.5
        n = np.linalg.norm(v)
        out[i] = v / n if n > 0 else v
    return out
