"""S1-S7: file-catalog listing semantics (glob, limit, order, hash)."""

import hashlib

import pytest

from unstract_spark.sources.catalog import FilePattern, build_catalog, list_files


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    for i in range(10):
        (d / f"doc_{i}.txt").write_text(f"document number {i} body text")
    for i in range(3):
        (d / f"image_{i}.png").write_bytes(b"\x89PNG" + bytes([i]))
    (d / "empty.txt").write_bytes(b"")  # dropped: zero-byte heuristic
    sub = d / "nested"
    sub.mkdir()
    (sub / "deep.txt").write_text("nested doc")
    return str(d)


def test_listing_glob_and_recursion(spark, doc_dir):
    df = list_files(spark, doc_dir, FilePattern(globs=["*.txt"], max_files=None))
    names = {r.file_name for r in df.collect()}
    assert "doc_0.txt" in names
    assert "deep.txt" in names  # recursive
    assert "image_0.png" not in names
    assert "empty.txt" not in names  # zero-byte dropped


def test_listing_multi_glob(spark, doc_dir):
    df = list_files(spark, doc_dir, FilePattern(globs=["*.txt", "*.png"], max_files=None))
    names = {r.file_name for r in df.collect()}
    assert "image_1.png" in names and "doc_1.txt" in names


def test_listing_order_and_limit(spark, doc_dir):
    fifo = list_files(spark, doc_dir, FilePattern(order="fifo", max_files=5)).collect()
    assert len(fifo) == 5
    times = [r.modificationTime for r in fifo]
    assert times == sorted(times)


def test_catalog_hash_and_numbering(spark, doc_dir):
    cat = build_catalog(
        list_files(spark, doc_dir, FilePattern(globs=["doc_*.txt"], max_files=None))
    )
    rows = {r.file_name: r for r in cat.collect()}
    expect = hashlib.sha256(b"document number 3 body text").hexdigest()
    assert rows["doc_3.txt"].file_hash == expect
    assert rows["doc_3.txt"].mime_type == "text/plain"
    numbers = sorted(r.file_number for r in rows.values())
    assert numbers == list(range(1, len(rows) + 1))


def test_catalog_mime_filter(spark, doc_dir):
    cat = build_catalog(
        list_files(spark, doc_dir, FilePattern(max_files=None)),
        allowed_mime=["image/png"],
    )
    assert {r.mime_type for r in cat.collect()} == {"image/png"}


def test_catalog_cap_keeps_one_subset(spark, tmp_path):
    """A listing with more files than max_files: the capped catalog is
    one subset of files, each row's hash taken from that row's own
    bytes, numbered 1..max_files without gaps or duplicates."""
    for i in range(80):
        (tmp_path / f"f_{i:02d}.txt").write_text(f"file {i} " + "x" * i)
    cap = 25
    rows = build_catalog(
        list_files(spark, str(tmp_path), FilePattern(globs=["*.txt"], max_files=cap))
    ).collect()
    assert len(rows) == cap
    assert len({r.file_path for r in rows}) == cap
    assert sorted(r.file_number for r in rows) == list(range(1, cap + 1))
    by_number = sorted(rows, key=lambda r: r.file_number)
    assert [r.file_path for r in by_number] == sorted(r.file_path for r in rows)
    for r in rows:
        with open(r.file_path.removeprefix("file:"), "rb") as fh:
            assert r.file_hash == hashlib.sha256(fh.read()).hexdigest()
