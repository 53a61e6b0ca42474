"""LLMWhisperer-shaped x2text adapter (T1 remote path): submit → poll →
retrieve protocol against a deterministic fake service, wired through
the same MIME-dispatched extract_text mapInPandas as local parsers.

Reference protocol: sdk1/adapters/x2text/llm_whisperer_v2/src/helper.py
(whisper POST, whisper-status poll until processed, whisper-retrieve),
constants.py (endpoints, param names, `<<<` page separator).
"""

import pytest
from pyspark.sql import functions as F

from tests.fakes import make_fake_whisperer_transport
from unstract_spark.operators.extract import (
    DEFAULT_ADAPTERS,
    extract_text,
    make_whisperer_adapter,
)


def _adapter(**kw):
    transport, state = make_fake_whisperer_transport(
        polls_until_processed=kw.pop("polls_until_processed", 2)
    )
    adapter = make_whisperer_adapter(
        "http://whisper.local", api_key="k", transport=transport, **kw
    )
    return adapter, state


def test_whisperer_submit_poll_retrieve():
    adapter, state = _adapter()
    text, pages = adapter(b"x" * 1300)  # 1300//512 = 2 "pages" in the fake
    assert text.startswith("whisper:")
    assert "<<<" in text and pages == 2
    # protocol discipline: one submit, polls until processed, one retrieve
    assert state["submits"] == 1
    assert state["polls"] == 3  # 2 "processing" + 1 "processed"
    assert state["retrieves"] == 1


def test_whisperer_deterministic_per_content():
    a1, _ = _adapter()
    a2, _ = _adapter()
    assert a1(b"same bytes") == a2(b"same bytes")
    assert a1(b"same bytes") != a2(b"other bytes")


def test_whisperer_poll_bound():
    adapter, _ = _adapter(polls_until_processed=99, max_polls=5)
    with pytest.raises(TimeoutError, match="not processed after 5 polls"):
        adapter(b"doc")


def test_whisperer_empty_payload_rejected():
    adapter, _ = _adapter()
    with pytest.raises(ValueError, match="empty document payload"):
        adapter(b"")


def test_whisperer_in_extract_dispatch(spark):
    """The remote adapter rides the same mapInPandas as local parsers,
    with per-row error isolation (an unknown MIME next to a whisperered
    PDF must not fail the job)."""
    adapter, state = _adapter()
    adapters = {**DEFAULT_ADAPTERS, "application/pdf": adapter}
    catalog = spark.createDataFrame(
        [
            ("h1", "application/pdf", b"fake-pdf-bytes" * 100),
            ("h2", "text/plain", b"plain text doc"),
            ("h3", "application/zip", b"nope"),
        ],
        "file_hash string, mime_type string, content binary",
    )
    out = extract_text(catalog, adapters=adapters).collect()
    by_id = {r.file_hash: r for r in out}
    assert by_id["h1"].status == "SUCCESS"
    assert by_id["h1"].extracted_text.startswith("whisper:")
    assert by_id["h1"].page_count >= 1
    assert by_id["h2"].status == "SUCCESS"
    assert by_id["h3"].status == "ERROR"
    assert "no extraction adapter" in by_id["h3"].error_message
    # NB: `state` counters mutate inside the executor's Python worker,
    # not this process — protocol discipline is asserted driver-side in
    # test_whisperer_submit_poll_retrieve instead.
    del state


def test_whisperer_page_count_from_separator():
    adapter, _ = _adapter()
    text, pages = adapter(b"y" * 2048)  # fake makes len//512 = 4 pages
    assert pages == text.count("<<<") + 1 == 4


def test_whisperer_sync_response_path():
    """A 200-with-extraction answer (wait_for_completion servers) skips
    polling entirely."""
    calls = {"n": 0}

    def sync_transport(url, payload, headers):
        calls["n"] += 1
        assert url.endswith("/whisper")
        assert headers == {"unstract-key": "k"}
        assert payload["mode"] == "form"
        assert payload["output_mode"] == "layout_preserving"
        return {
            "status_code": 200,
            "extraction": {"result_text": "page one<<<page two"},
        }

    adapter = make_whisperer_adapter(
        "http://whisper.local", api_key="k", transport=sync_transport
    )
    assert adapter(b"doc") == ("page one<<<page two", 2)
    assert calls["n"] == 1


def test_whisperer_service_error_surfaces():
    def err_transport(url, payload, headers):
        if url.endswith("/whisper"):
            return {"status_code": 202, "whisper_hash": "wh1", "status": "processing"}
        return {"status": "error"}

    adapter = make_whisperer_adapter(
        "http://whisper.local", api_key="k", transport=err_transport
    )
    with pytest.raises(ValueError, match="whisper failed: error"):
        adapter(b"doc")


def test_whisperer_in_e2e_pipeline(spark, tmp_path):
    """A remote whisperer adapter configured on the ExtractionJob runs
    inside the full pipeline: listing -> history dedup -> remote
    extraction -> prompts -> sinks."""
    from unstract_spark.operators.extract import DEFAULT_ADAPTERS
    from unstract_spark.plans.pipeline import ExtractionJob, run_extraction

    src = tmp_path / "in"
    src.mkdir()
    (src / "doc1.pdf").write_bytes(b"%PDF-ish payload " * 64)
    (src / "doc2.txt").write_text("plain text doc")

    adapter, _ = _adapter()
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist"),
        prompt_specs=[{"prompt_key": "title", "prompt": "Title?", "enforce_type": "text"}],
        glob=["*.pdf", "*.txt"],
        adapters={**DEFAULT_ADAPTERS, "application/pdf": adapter},
    )
    out = run_extraction(spark, job)
    rows = {r.file_name: r for r in out["results"].collect()}
    assert rows["doc1.pdf"].status == "SUCCESS"
    assert rows["doc2.txt"].status == "SUCCESS"
    assert rows["doc1.pdf"].title  # prompt answered over whisperered text

    # control: WITHOUT the adapter override the same bytes are rejected
    # by the local PDF parser — proving the override carried the doc
    control = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist2"),
        prompt_specs=job.prompt_specs,
        glob=["*.pdf"],
    )
    crows = {r.file_name: r for r in run_extraction(spark, control)["results"].collect()}
    assert crows["doc1.pdf"].status == "ERROR"
