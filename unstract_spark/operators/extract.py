"""T1/T2 — text extraction (the x2text adapter surface).

Reference: `extract_text(x2text_id, file_path, ...)` dispatches to
LLMWhisperer / Unstructured / LlamaParse / no-op adapters
(sdk1/index.py:133-217; adapters under sdk1/adapters/x2text/). Each
takes one document's bytes and yields text (+ page count, artifacts).

Spark-first adapter contract: an adapter is a pure function
`bytes -> (text, page_count)` registered per MIME type; extraction runs
as ONE Arrow-batched mapInPandas over the catalog with row-level error
isolation (a bad document becomes an ERROR row, the job never fails —
legacy_executor.py:159-163). Remote adapters (LLMWhisperer HTTP, OCR)
plug in as functions that call out — the batching/retry discipline of
operators/llm.py applies to them unchanged.

In-container adapters: utf-8 text, JSON (string-value flattening),
CSV (tabular -> line text), and real PDF text extraction via the
pure-stdlib parser in `minipdf.py` (encrypted PDFs are rejected with a
typed ERROR row). Remote shapes — LLMWhisperer submit/poll/retrieve and
Document-AI OCR — run over injected transports; only image raster
formats without an in-container decoder remain registry-swappable
stubs.
"""

from __future__ import annotations

import csv
import io
import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Adapter = Callable[[bytes], tuple[str, int]]

PAGE_CHARS = 3000  # chars per accounted "page" (usage A4 input)


def _pages(text: str) -> int:
    return max(1, -(-len(text) // PAGE_CHARS))


def extract_plain(content: bytes) -> tuple[str, int]:
    text = content.decode("utf-8")  # strict: undecodable -> ERROR row
    return text, _pages(text)


def extract_json(content: bytes) -> tuple[str, int]:
    """Flatten all string values of a JSON document, depth-first —
    the 'text of' a structured payload."""
    doc = json.loads(content.decode("utf-8"))
    parts: list[str] = []

    def walk(v) -> None:
        if isinstance(v, str):
            parts.append(v)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(doc)
    text = "\n".join(parts)
    return text, _pages(text)


def extract_csv(content: bytes) -> tuple[str, int]:
    rows = csv.reader(io.StringIO(content.decode("utf-8")))
    text = "\n".join(" ".join(cells) for cells in rows)
    return text, _pages(text)


def extract_pdf(content: bytes) -> tuple[str, int]:
    """Real PDF text extraction (no external parser in the container):
    operators/minipdf implements the ISO 32000 subset machine-generated
    PDFs use — object scan, Flate/AHx/A85 filters, ObjStm, page-tree
    walk, Tj/TJ/'/" text operators, ToUnicode CMaps. Page count comes
    from the page tree, not the char heuristic. Encrypted or non-PDF
    bytes raise -> ERROR row via the extract_text isolation path."""
    from unstract_spark.operators.minipdf import extract_pdf_text

    text, n_pages = extract_pdf_text(content)
    return text, n_pages


def make_ocr_adapter(
    mime_type: str,
    processor_url: str,
    transport=None,
    api_key: str | None = None,
) -> Adapter:
    """T2 — OCR as a remote-service adapter (Document AI request shape:
    reference sdk1/adapters/ocr/google_document_ai/src/
    google_document_ai.py:68-151 posts {rawDocument: {content: b64,
    mimeType}} to `<processor>:process` and reads document.text).

    The transport is injected like every external call in this engine;
    the returned adapter is a plain `bytes -> (text, pages)` function,
    so OCR'd images flow through the SAME extract_text mapInPandas with
    per-row error isolation as every other MIME type. Page count comes
    from the service's pages list when present.
    """
    import base64

    from unstract_spark.providers import http_json_transport

    transport = transport or http_json_transport
    headers = {"Authorization": f"Bearer {api_key}"} if api_key else {}

    def adapter(content: bytes) -> tuple[str, int]:
        payload = {
            "rawDocument": {
                "content": base64.b64encode(content).decode(),
                "mimeType": mime_type,
            }
        }
        body = transport(f"{processor_url}:process", payload, headers)
        doc = body.get("document") or {}
        text = doc.get("text") or ""
        pages = len(doc.get("pages") or []) or _pages(text)
        return text, pages

    return adapter


def make_whisperer_adapter(
    base_url: str,
    api_key: str,
    mode: str = "form",
    output_mode: str = "layout_preserving",
    page_separator: str = "<<<",
    enable_highlight: bool = False,
    transport=None,
    poll_interval_s: float = 0.0,
    max_polls: int = 60,
) -> Adapter:
    """T1 — LLMWhisperer-shaped remote extractor (the reference's
    flagship x2text adapter).

    Protocol parity (reference sdk1/adapters/x2text/llm_whisperer_v2/src/
    helper.py:83-165, constants.py:26-33,95-116): POST the document bytes
    to `<url>/api/v2/whisper` with mode/output_mode/line-splitter query
    params and the `unstract-key` auth header. A synchronous answer
    (status_code 200) carries the extraction inline; an async accept
    returns a `whisper_hash` which is polled at `whisper-status` until
    `processed`/`delivered`, then fetched from `whisper-retrieve`. With
    `enable_highlight`, line metadata comes from the `highlights`
    endpoint keyed by the same hash (helper.py:287-315).

    Spark-first: the returned adapter is a plain `bytes -> (text,
    pages)` function, so whisperered documents flow through the same
    extract_text mapInPandas with per-row error isolation as local
    parsers; polling happens inside the executor task with a hard
    `max_polls` bound (no unbounded waits inside a Spark task — the
    reference's 900 s WAIT_TIMEOUT becomes poll_interval*max_polls).
    Page count = page_separator occurrences + 1 (the service marks page
    breaks with the separator in result_text).
    """
    import time

    from unstract_spark.providers import http_json_transport

    transport = transport or http_json_transport
    headers = {"unstract-key": api_key}
    svc = f"{base_url.rstrip('/')}/api/v2"
    params = {
        "mode": mode,
        "output_mode": output_mode,
        "page_seperator": page_separator,  # sic — reference spelling
        "add_line_nos": enable_highlight,
        "include_line_confidence": enable_highlight,
        "wait_for_completion": False,
    }

    def adapter(content: bytes) -> tuple[str, int]:
        if not content:
            raise ValueError("empty document payload")
        import base64

        submit = transport(
            f"{svc}/whisper",
            {**params, "content_b64": base64.b64encode(content).decode()},
            headers,
        )
        if submit.get("status_code", 202) == 200 and "extraction" in submit:
            body = submit["extraction"]
        else:
            whisper_hash = submit.get("whisper_hash")
            if not whisper_hash:
                raise ValueError(f"whisper rejected: {submit.get('message', submit)}")
            for _ in range(max_polls):
                st = transport(
                    f"{svc}/whisper-status",
                    {"whisper_hash": whisper_hash},
                    headers,
                )
                status = st.get("status")
                if status in ("processed", "delivered"):
                    break
                if status not in ("processing", "unknown"):
                    raise ValueError(f"whisper failed: {status}")
                if poll_interval_s:
                    time.sleep(poll_interval_s)
            else:
                raise TimeoutError(
                    f"whisper not processed after {max_polls} polls"
                )
            body = transport(
                f"{svc}/whisper-retrieve",
                {"whisper_hash": whisper_hash},
                headers,
            )
        text = body.get("result_text") or ""
        if not text:
            raise ValueError("whisper returned no result_text")
        return text, text.count(page_separator) + 1

    return adapter


def make_unstructured_adapter(
    base_url: str,
    api_key: str | None = None,
    strategy: str = "auto",
    transport=None,
) -> Adapter:
    """T1 — Unstructured-shaped remote extractor (partition endpoint).

    Protocol parity (reference sdk1/adapters/x2text/
    unstructured_community/src/unstructured_community.py:46-58 +
    helper.py UnstructuredHelper.process_document/make_request: POST
    the file bytes, optional `unstructured-api-key`, read back the
    element list). The public Unstructured partition API shape: POST
    multipart file to `/general/v0/general`, response is a JSON array
    of elements `[{type, text, metadata: {page_number, ...}}]`; the
    extracted document is the element texts joined with blank lines,
    page count the max page_number seen.

    The multipart upload travels through the engine's JSON transport
    seam as {filename, content_b64, strategy} — a thin shim maps that
    onto a real multipart POST where a live server exists, exactly like
    the OCR adapter's `:process` call. The returned adapter is a plain
    `bytes -> (text, pages)` function, so Unstructured-extracted
    documents flow through the same extract_text mapInPandas and error
    isolation as every other MIME type.
    """
    import base64

    from unstract_spark.providers import http_json_transport

    transport = transport or http_json_transport
    headers = {"accept": "application/json"}
    if api_key:
        headers["unstructured-api-key"] = api_key
    endpoint = f"{base_url.rstrip('/')}/general/v0/general"

    def adapter(content: bytes) -> tuple[str, int]:
        if not content:
            raise ValueError("empty document payload")
        body = transport(
            endpoint,
            {
                "filename": "document",
                "content_b64": base64.b64encode(content).decode(),
                "strategy": strategy,
            },
            headers,
        )
        elements = body.get("elements") if isinstance(body, dict) else body
        if not isinstance(elements, list):
            raise ValueError(f"unexpected partition response: {type(body).__name__}")
        texts = [
            e.get("text", "")
            for e in elements
            if isinstance(e, dict) and e.get("text")
        ]
        if not texts:
            raise ValueError("partition returned no text elements")
        pages = max(
            (
                int((e.get("metadata") or {}).get("page_number") or 1)
                for e in elements
                if isinstance(e, dict)
            ),
            default=1,
        )
        return "\n\n".join(texts), pages

    return adapter


def make_llamaparse_adapter(
    base_url: str,
    api_key: str,
    result_type: str = "text",
    transport=None,
    poll_interval_s: float = 0.0,
    max_polls: int = 60,
) -> Adapter:
    """T1 — LlamaParse-shaped remote extractor (the reference's third
    x2text protocol, completing whisperer/unstructured/llama_parse).

    Reference parity: adapters/x2text/llama_parse/src/llama_parse.py
    (_call_parser wraps the llama_parse client with api_key/base_url/
    result_type and joins document texts with blank lines,
    llama_parse.py:46-102). The public cloud protocol implemented here:

    - POST `/api/parsing/upload` (file + Bearer key) -> {"id": job_id}
    - GET-shaped `/api/parsing/job/{id}` poll -> {"status":
      PENDING|SUCCESS|ERROR}
    - GET-shaped `/api/parsing/job/{id}/result/{text|markdown}` ->
      {"text"|"markdown": ..., "job_metadata": {"job_pages": N}}

    Same discipline as the whisperer adapter: bounded polling inside
    the executor task (never an unbounded wait in a Spark task),
    injected transport, plain `bytes -> (text, pages)` contract riding
    the shared extract_text dispatch.
    """
    import base64
    import time

    from unstract_spark.providers import http_json_transport

    if result_type not in ("text", "markdown"):
        raise ValueError(f"result_type must be text|markdown: {result_type!r}")
    transport = transport or http_json_transport
    headers = {"Authorization": f"Bearer {api_key}"}
    svc = f"{base_url.rstrip('/')}/api/parsing"

    def adapter(content: bytes) -> tuple[str, int]:
        if not content:
            raise ValueError("empty document payload")
        up = transport(
            f"{svc}/upload",
            {"filename": "document", "content_b64": base64.b64encode(content).decode()},
            headers,
        )
        job_id = up.get("id")
        if not job_id:
            raise ValueError(f"llamaparse upload rejected: {up}")
        for _ in range(max_polls):
            st = transport(f"{svc}/job/{job_id}", {}, headers)
            status = (st.get("status") or "").upper()
            if status == "SUCCESS":
                break
            if status not in ("PENDING", ""):
                raise ValueError(f"llamaparse job failed: {status}")
            if poll_interval_s:
                time.sleep(poll_interval_s)
        else:
            raise TimeoutError(f"llamaparse job not done after {max_polls} polls")
        res = transport(f"{svc}/job/{job_id}/result/{result_type}", {}, headers)
        text = res.get(result_type) or ""
        if not text:
            raise ValueError("llamaparse returned no text")
        pages = int((res.get("job_metadata") or {}).get("job_pages") or 0) or _pages(
            text
        )
        return text, pages

    return adapter


DEFAULT_ADAPTERS: dict[str, Adapter] = {
    "text/plain": extract_plain,
    "text/csv": extract_csv,
    "application/json": extract_json,
    "application/pdf": extract_pdf,
}


def extract_text(
    catalog: DataFrame,
    adapters: dict[str, Adapter] | None = None,
    content_col: str = "content",
    mime_col: str = "mime_type",
    id_col: str = "file_hash",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Run MIME-dispatched extraction over catalog rows.

    Output: (id, *passthrough, extracted_text, page_count, status,
    error_message). Unknown MIME and adapter failures are ERROR rows,
    isolated per file. `passthrough_cols` ride along inside the same
    Arrow batch (no rejoin shuffle downstream — at 100 TB a join back
    on id would be a second exchange for no reason).
    """
    adapters = adapters or DEFAULT_ADAPTERS
    passthrough = passthrough_cols or []
    in_schema = {f.name: f.dataType.simpleString() for f in catalog.schema.fields}
    pass_ddl = "".join(f", {c} {in_schema[c]}" for c in passthrough)
    out_schema = (
        f"{id_col} string{pass_ddl}, extracted_text string, page_count int,"
        " status string, error_message string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, pages, statuses, errors = [], [], [], []
            for mime, content in zip(pdf[mime_col], pdf[content_col]):
                adapter = adapters.get(mime)
                if adapter is None:
                    texts.append(None); pages.append(0)
                    statuses.append("ERROR")
                    errors.append(f"no extraction adapter for {mime}")
                    continue
                try:
                    text, n = adapter(bytes(content) if content is not None else b"")
                    texts.append(text); pages.append(n)
                    statuses.append("SUCCESS"); errors.append(None)
                except Exception as e:  # noqa: BLE001 — row-level isolation
                    texts.append(None); pages.append(0)
                    statuses.append("ERROR"); errors.append(str(e)[:200])
            out = {id_col: pdf[id_col]}
            for c in passthrough:
                out[c] = pdf[c]
            out.update(
                extracted_text=texts,
                page_count=pages,
                status=statuses,
                error_message=errors,
            )
            yield pd.DataFrame(out)

    cols = [id_col, *passthrough, mime_col, content_col]
    return catalog.select(*cols).mapInPandas(run, schema=out_schema)


def explode_pages(
    docs: DataFrame,
    text_col: str = "extracted_text",
    id_col: str = "file_hash",
    separator: str = "\\f|<<<",
) -> DataFrame:
    """Per-PAGE rows from extracted documents: (id, page_no, page_text),
    1-based, in document order. The default separator regex covers
    BOTH page conventions this engine produces — minipdf joins page
    texts with form-feed, the whisperer adapter keeps the service's
    literal `<<<` marker — so page explode is one JVM split+posexplode
    over either, no re-parse. Single-page (or non-paginated) text
    yields exactly one row. NULL text yields no rows (the ERROR row
    carries the failure, not a fake page)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), separator)).alias(
            "_p", "page_text"
        ),
    ).select(
        id_col,
        (F.col("_p") + 1).cast("int").alias("page_no"),
        "page_text",
    )
