"""T1 PDF extraction: minipdf unit coverage + mixed-MIME pipeline e2e.

Reference parity: sdk1/index.py:133-217 extract_text dispatch; PDF is
the first pattern class (endpoint_v2/constants.py:151-163); per-file
error isolation legacy_executor.py:159-163.
"""

from __future__ import annotations

import pytest

from tests.pdf_fixtures import (
    encrypted_pdf,
    objstm_pdf,
    simple_pdf,
    tj_array_pdf,
    type0_tounicode_pdf,
)
from unstract_spark.operators.extract import DEFAULT_ADAPTERS, extract_text
from unstract_spark.operators.minipdf import extract_pdf_text

# ---------- pure-python extractor ----------


def test_simple_multipage():
    text, n = extract_pdf_text(simple_pdf(["Hello World\nSecond line", "Page two text"]))
    assert n == 2
    assert text.split("\f") == ["Hello World\nSecond line", "Page two text"]


def test_flate_compressed_content():
    text, n = extract_pdf_text(simple_pdf(["Compressed page"], compress=True))
    assert (text, n) == ("Compressed page", 1)


def test_tj_arrays_hex_strings_escapes():
    text, _ = extract_pdf_text(tj_array_pdf())
    # TJ kerning gaps become word gaps; hex string decodes; octal escape
    assert "Invoice Total: (USD)" in text
    assert "Hello" in text
    assert "line three" in text


def test_type0_tounicode_cmap():
    text, _ = extract_pdf_text(type0_tounicode_pdf("Unicode — café €"))
    assert text == "Unicode — café €"


def test_object_stream_packed_pages():
    text, n = extract_pdf_text(objstm_pdf("packed in an object stream"))
    assert (text, n) == ("packed in an object stream", 1)


def test_encrypted_raises():
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(encrypted_pdf())


def test_non_pdf_raises():
    with pytest.raises(ValueError, match="not a PDF"):
        extract_pdf_text(b"PK\x03\x04 this is a zip")


def test_large_page_count():
    pages = [f"page {i}" for i in range(25)]
    text, n = extract_pdf_text(simple_pdf(pages, compress=True))
    assert n == 25
    assert text.split("\f")[13] == "page 13"


# ---------- Spark adapter dispatch ----------


def test_extract_text_mixed_mimes(spark):
    rows = [
        ("h1", "application/pdf", simple_pdf(["From a PDF"], compress=True), "a.pdf"),
        ("h2", "text/plain", b"plain text body", "b.txt"),
        ("h3", "application/pdf", b"%PDF-1.4 garbage with no objects", "c.pdf"),
        ("h4", "image/png", b"\x89PNG....", "d.png"),
    ]
    df = spark.createDataFrame(
        rows, "file_hash string, mime_type string, content binary, file_name string"
    )
    out = {
        r.file_hash: r
        for r in extract_text(df, passthrough_cols=["file_name"]).collect()
    }
    assert out["h1"].status == "SUCCESS"
    assert out["h1"].extracted_text == "From a PDF"
    assert out["h1"].page_count == 1
    assert out["h1"].file_name == "a.pdf"  # passthrough survives the batch
    assert out["h2"].status == "SUCCESS"
    assert out["h3"].status == "ERROR"  # corrupt PDF isolated to its row
    assert "page" in out["h3"].error_message or "PDF" in out["h3"].error_message
    assert out["h4"].status == "ERROR"
    assert "no extraction adapter" in out["h4"].error_message


def test_ocr_adapter_deterministic_stub(spark):
    """T2: image MIME types route through the OCR adapter — same
    mapInPandas, same per-row isolation; the recognized text is a pure
    function of the bytes via the deterministic stand-in transport."""
    import hashlib

    from tests.fakes import fake_ocr_transport
    from unstract_spark.operators.extract import make_ocr_adapter

    adapters = dict(DEFAULT_ADAPTERS)
    adapters["image/png"] = make_ocr_adapter(
        "image/png", "http://ocr.local/v1/proc", transport=fake_ocr_transport
    )
    png1 = b"\x89PNG" + b"p" * 3000
    rows = [
        ("h1", "image/png", png1, "scan1.png"),
        ("h2", "image/png", b"", "empty.png"),  # transport raises -> ERROR row
        ("h3", "text/plain", b"still plain", "t.txt"),
    ]
    df = spark.createDataFrame(
        rows, "file_hash string, mime_type string, content binary, file_name string"
    )
    out = {
        r.file_hash: r
        for r in extract_text(df, adapters=adapters, passthrough_cols=["file_name"]).collect()
    }
    sha = hashlib.sha256(png1).hexdigest()[:12]
    assert out["h1"].status == "SUCCESS"
    assert out["h1"].extracted_text == f"ocr:{sha}:3004b"
    assert out["h1"].page_count == 2  # from the service's pages list
    assert out["h2"].status == "ERROR" and "empty image" in out["h2"].error_message
    assert out["h3"].status == "SUCCESS"  # text path untouched


def test_default_adapters_has_real_pdf():
    text, n = DEFAULT_ADAPTERS["application/pdf"](simple_pdf(["adapter check"]))
    assert (text, n) == ("adapter check", 1)


# ---------- pipeline e2e over mixed fixture dir ----------


def test_pipeline_mixed_mime_e2e(spark, tmp_path):
    from unstract_spark.plans.pipeline import ExtractionJob, run_extraction

    src = tmp_path / "in"
    src.mkdir()
    (src / "one.txt").write_text("utf-8 text file")
    (src / "two.pdf").write_bytes(simple_pdf(["pdf body text"], compress=True))
    (src / "three.json").write_text('{"k": "json text value"}')
    (src / "four.csv").write_text("a,b\n1,2\n")
    (src / "broken.pdf").write_bytes(b"%PDF-1.4 truncated nonsense")
    (src / "bad.txt").write_bytes(b"\xff\xfe invalid \xf0 utf8")

    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist"),
        prompt_specs=[{"prompt_key": "title", "prompt": "the title", "enforce_type": "text"}],
        glob=["*.txt", "*.pdf", "*.json", "*.csv"],
    )
    out = run_extraction(spark, job)
    rows = {r.file_name: r for r in out["results"].collect()}
    assert len(rows) == 6
    ok = {n for n, r in rows.items() if r.status == "SUCCESS"}
    bad = {n for n, r in rows.items() if r.status == "ERROR"}
    assert ok == {"one.txt", "two.pdf", "three.json", "four.csv"}
    assert bad == {"broken.pdf", "bad.txt"}
    # mock LLM answers are deterministic: NA (-> null) iff the answer
    # hash starts with '0' (mock.py mock_answer_raw); recompute per file
    import hashlib

    texts = {
        "one.txt": "utf-8 text file",
        "two.pdf": "pdf body text",
        "three.json": "json text value",
        "four.csv": "a b\n1 2",
    }
    for name in ok:
        fp = hashlib.md5(texts[name].encode()).hexdigest()
        h = hashlib.md5(f"title:{fp}".encode()).hexdigest()
        expect = None if h.startswith("0") else "ans-" + h[:12]
        assert rows[name].title == expect, name
    for name in bad:
        assert rows[name].error_message
        assert rows[name].title is None

    # ERROR rows retry on re-run; SUCCESS rows replay from history
    out2 = run_extraction(spark, job)
    assert out2["results"].count() == 2  # only the two ERROR files re-enter
    assert out2["skipped"].count() == 4


def test_explode_pages_multipage_and_single(spark):
    from unstract_spark.operators.extract import explode_pages

    docs = spark.createDataFrame(
        [("h1", "page one\fpage two\fpage three"),
         ("h2", "single page text"),
         ("h3", None)],
        "file_hash string, extracted_text string",
    )
    rows = explode_pages(docs).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.file_hash, []).append((r.page_no, r.page_text))
    assert by_id["h1"] == [(1, "page one"), (2, "page two"), (3, "page three")]
    assert by_id["h2"] == [(1, "single page text")]
    assert "h3" not in by_id  # null text -> no fake page rows


def test_explode_pages_roundtrips_minipdf(spark):
    """Pages exploded from a real multi-page minipdf extraction match
    the parser's own page count and order."""
    from tests.pdf_fixtures import simple_pdf
    from unstract_spark.operators.extract import explode_pages
    from unstract_spark.operators.minipdf import extract_pdf_text

    pdf = simple_pdf(["alpha page", "beta page"])
    text, n_pages = extract_pdf_text(pdf)
    assert n_pages == 2
    docs = spark.createDataFrame(
        [("h", text)], "file_hash string, extracted_text string"
    )
    rows = sorted(
        (r.page_no, r.page_text) for r in explode_pages(docs).collect()
    )
    assert len(rows) == 2
    assert "alpha" in rows[0][1] and "beta" in rows[1][1]


def test_explode_pages_whisperer_marker(spark):
    """The whisperer adapter keeps the service's literal '<<<' page
    marker; explode_pages' default separator must split on it too."""
    from unstract_spark.operators.extract import explode_pages

    docs = spark.createDataFrame(
        [("h", "page one<<<page two<<<page three")],
        "file_hash string, extracted_text string",
    )
    rows = sorted((r.page_no, r.page_text) for r in explode_pages(docs).collect())
    assert rows == [(1, "page one"), (2, "page two"), (3, "page three")]
