"""Unstructured-shaped x2text adapter (T1 remote path): multipart
partition request → element list → joined text, wired through the same
MIME-dispatched extract_text mapInPandas as every other adapter.

Reference protocol: sdk1/adapters/x2text/unstructured_community/src/
unstructured_community.py (process → UnstructuredHelper) + helper.py
(POST file, optional unstructured-api-key, parse response).
"""

import pytest

from tests.fakes import make_fake_llamaparse_transport, make_fake_unstructured_transport
from unstract_spark.operators.extract import (
    DEFAULT_ADAPTERS,
    extract_text,
    make_unstructured_adapter,
)


def _adapter(**kw):
    transport, state = make_fake_unstructured_transport()
    adapter = make_unstructured_adapter(
        "http://unstructured.local:8000", transport=transport, **kw
    )
    return adapter, state


def test_unstructured_partition_elements_joined():
    adapter, state = _adapter(api_key="ukey")
    text, pages = adapter(b"Title A\n\nBody paragraph one.\n\nBody two.")
    # element texts joined with blank lines, in element order
    assert text == "Title A\n\nBody paragraph one.\n\nBody two."
    # fake assigns page_number = idx//2 + 1 -> 3 elements = 2 pages
    assert pages == 2
    assert state["requests"] == 1
    assert state["auth_headers"] == ["ukey"]


def test_unstructured_no_api_key_header_absent():
    adapter, state = _adapter()
    adapter(b"one paragraph")
    assert state["auth_headers"] == [None]


def test_unstructured_rejects_empty_and_textless():
    adapter, _ = _adapter()
    with pytest.raises(ValueError, match="empty document payload"):
        adapter(b"")
    with pytest.raises(ValueError, match="nothing to partition"):
        adapter(b"   \n\n   ")


def test_unstructured_unexpected_response_shape():
    def bad_transport(url, payload, headers):
        return {"detail": "server melted"}

    adapter = make_unstructured_adapter(
        "http://unstructured.local:8000", transport=bad_transport
    )
    with pytest.raises(ValueError, match="unexpected partition response"):
        adapter(b"doc")


def test_unstructured_deterministic_per_content():
    a1, _ = _adapter()
    a2, _ = _adapter()
    assert a1(b"same\n\nbytes") == a2(b"same\n\nbytes")
    assert a1(b"same\n\nbytes") != a2(b"other\n\ncontent")


def test_unstructured_in_extract_dispatch(spark):
    """Unstructured handles office MIME types next to local parsers and
    the error path, all in one mapInPandas."""
    adapter, _ = _adapter()
    docx = "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
    adapters = {**DEFAULT_ADAPTERS, docx: adapter}
    catalog = spark.createDataFrame(
        [
            ("h1", docx, b"Heading\n\nFirst para\n\nSecond para"),
            ("h2", "text/plain", b"plain text doc"),
            ("h3", docx, b""),  # empty payload -> ERROR row, not job fail
        ],
        "file_hash string, mime_type string, content binary",
    )
    out = {r.file_hash: r for r in extract_text(catalog, adapters=adapters).collect()}
    assert out["h1"].status == "SUCCESS"
    assert out["h1"].extracted_text == "Heading\n\nFirst para\n\nSecond para"
    assert out["h1"].page_count == 2
    assert out["h2"].status == "SUCCESS"
    assert out["h3"].status == "ERROR"
    assert "empty" in out["h3"].error_message


# -- LlamaParse-shaped adapter (upload -> poll -> result) ----------------


def _llama(**kw):
    from unstract_spark.operators.extract import make_llamaparse_adapter

    transport, state = make_fake_llamaparse_transport(
        polls_until_done=kw.pop("polls_until_done", 2)
    )
    adapter = make_llamaparse_adapter(
        "https://api.cloud.llamaindex.local", api_key="lk", transport=transport, **kw
    )
    return adapter, state


def test_llamaparse_upload_poll_result():
    adapter, state = _llama()
    text, pages = adapter(b"z" * 1700)
    assert text.startswith("llamaparse:")
    assert pages == 2  # 1700 // 800
    assert state["uploads"] == 1
    assert state["polls"] == 3  # 2 PENDING + 1 SUCCESS
    assert state["results"] == 1


def test_llamaparse_markdown_result_type():
    adapter, _ = _llama(result_type="markdown")
    text, _ = adapter(b"doc")
    assert text.startswith("llamaparse:")
    with pytest.raises(ValueError, match="result_type"):
        from unstract_spark.operators.extract import make_llamaparse_adapter

        make_llamaparse_adapter("http://x", api_key="k", result_type="html")


def test_llamaparse_poll_bound_and_failure():
    adapter, _ = _llama(polls_until_done=99, max_polls=4)
    with pytest.raises(TimeoutError, match="not done after 4 polls"):
        adapter(b"doc")

    def failing(url, payload, headers):
        if url.endswith("/parsing/upload"):
            return {"id": "ab12"}
        return {"status": "ERROR"}

    from unstract_spark.operators.extract import make_llamaparse_adapter

    bad = make_llamaparse_adapter("http://x", api_key="k", transport=failing)
    with pytest.raises(ValueError, match="job failed: ERROR"):
        bad(b"doc")


def test_llamaparse_in_extract_dispatch(spark):
    adapter, _ = _llama()
    adapters = {**DEFAULT_ADAPTERS, "application/msword": adapter}
    catalog = spark.createDataFrame(
        [
            ("h1", "application/msword", b"w" * 900),
            ("h2", "text/plain", b"plain"),
        ],
        "file_hash string, mime_type string, content binary",
    )
    out = {r.file_hash: r for r in extract_text(catalog, adapters=adapters).collect()}
    assert out["h1"].status == "SUCCESS"
    assert out["h1"].extracted_text.startswith("llamaparse:")
    assert out["h2"].status == "SUCCESS"
