"""File-catalog source: the engine's driving "table".

The reference lists a source connector into a dict of path -> FileHash
(reference: backend/workflow_manager/endpoint_v2/source.py:164-244), with
glob patterns, recursion caps, FIFO/LIFO ordering by modified time
(source.py:292-411) and a max-files bound (endpoint_v2/constants.py:57).

Spark-first: `spark.read.format("binaryFile")` IS that listing —
distributed, with `pathGlobFilter`/`recursiveFileLookup` pushed into the
file index, `_metadata`-equivalent columns (path/modificationTime/length)
for free, and `orderBy(...).limit(n)` compiling to a global TakeOrdered
(top-k, no full sort) for the FIFO/LIFO cap.

Scale note: at 100 TB the catalog itself is millions of rows; everything
downstream joins on `file_hash`, so we hash the *content* lazily (only
rows that survive pattern + dedup filters ever read bytes).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.operators.dedup import dedup_listing
from unstract_spark.schemas import MAX_FILES_DEFAULT

# reference: endpoint_v2/constants.py:151-163 file-type pattern groups
PATTERN_GROUPS: dict[str, list[str]] = {
    "PDF_DOCUMENTS": ["*.pdf"],
    "TEXT_DOCUMENTS": ["*.txt", "*.doc", "*.docx"],
    "IMAGES": ["*.jpg", "*.jpeg", "*.png", "*.gif", "*.bmp", "*.tif", "*.tiff", "*.webp"],
    "ALL": ["*"],
}


@dataclass
class FilePattern:
    """Listing spec: glob(s) + ordering + bound."""

    globs: list[str] = field(default_factory=lambda: ["*"])
    recursive: bool = True
    max_files: int | None = MAX_FILES_DEFAULT
    order: str | None = None  # None | "fifo" | "lifo" (by modificationTime)


def _glob_to_like(glob: str) -> str:
    """fnmatch-style glob -> SQL rlike regex (case-insensitive match on name)."""
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in ".^$+{}[]()|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "(?i)^" + "".join(out) + "$"


def list_files(spark: SparkSession, root: str, pattern: FilePattern | None = None) -> DataFrame:
    """Distributed listing scan -> raw catalog.

    binaryFile gives (path, modificationTime, length, content). The glob
    is pushed into the file index via pathGlobFilter when there is a
    single glob; multi-glob falls back to an rlike filter on file_name
    (still pruned before content is touched, because Catalyst orders the
    cheap string predicate ahead of the content read).
    """
    pattern = pattern or FilePattern()
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(pattern.recursive).lower())
    )
    if len(pattern.globs) == 1 and pattern.globs[0] != "*":
        reader = reader.option("pathGlobFilter", pattern.globs[0])
    df = reader.load(root)

    df = df.withColumn("file_name", F.element_at(F.split(F.col("path"), "/"), -1))
    if len(pattern.globs) > 1:
        rx = "|".join(_glob_to_like(g) for g in pattern.globs)
        df = df.filter(F.col("file_name").rlike(rx))

    # directory-entry heuristics (reference: source.py:707-767): binaryFile
    # never returns dirs, but zero-byte entries are dropped the same way.
    df = df.filter(F.col("length") > 0)

    if pattern.max_files is not None:
        # The limit below gathers a capped listing into one partition,
        # so the scan's task count only sets how many tasks read it:
        # at most one per slot, in one wave. With the 4 MB
        # openCostInBytes, 2000 files of about 500 bytes otherwise
        # bin-pack into 63 scan tasks of 32 files. Only this scan is
        # capped; every other scan keeps maxPartitionBytes' splits.
        df = df.coalesce(spark.sparkContext.defaultParallelism)

    if pattern.order in ("fifo", "lifo"):
        # top-k by modified time, not a full sort
        # (reference collects <=40k then sorts; source.py:292-411)
        asc = pattern.order == "fifo"
        key = F.col("modificationTime").asc() if asc else F.col("modificationTime").desc()
        df = df.orderBy(key, F.col("path").asc())
    if pattern.max_files is not None:
        df = df.limit(pattern.max_files)
    return df


def api_upload_catalog(
    spark: SparkSession,
    uploads: list[tuple[str, bytes]],
    allowed_mime: list[str] | None = None,
) -> DataFrame:
    """S6: API multipart uploads -> catalog rows (staged in-memory).

    Mirrors add_input_file_to_api_storage (source.py:1190-1288):
    per-file MIME check, sha256, in-request duplicate drop. The payload
    frame is tiny (one API request); the same build_catalog path does
    hashing/dedup so API and connector sources share semantics.
    """
    from datetime import datetime, timezone

    rows = [
        (f"api://{name}", name, len(content), datetime.now(timezone.utc), content)
        for name, content in uploads
    ]
    listing = spark.createDataFrame(
        rows, "path string, file_name string, length long, modificationTime timestamp, content binary"
    ).filter(F.col("length") > 0)
    return build_catalog(listing, allowed_mime=allowed_mime)


def build_catalog(listing: DataFrame, allowed_mime: list[str] | None = None) -> DataFrame:
    """Raw listing -> canonical `files` catalog rows.

    Content hash (sha256, reference: source.py:938-954), extension-based
    MIME (the `magic` sniff of source.py:1003 needs libmagic; extension
    map is the deterministic fallback), per-listing dedup
    (reference: source.py:693-705) and 1-based file numbering
    (reference: source.py:933-934).
    """
    ext = F.lower(F.element_at(F.split(F.col("file_name"), "\\."), -1))
    mime = (
        F.when(ext == "pdf", "application/pdf")
        .when(ext.isin("txt", "text", "md"), "text/plain")
        .when(ext.isin("doc", "docx"), "application/msword")
        .when(ext.isin("jpg", "jpeg"), "image/jpeg")
        .when(ext == "png", "image/png")
        .when(ext == "json", "application/json")
        .when(ext == "csv", "text/csv")
        .otherwise("application/octet-stream")
    )
    df = dedup_listing(
        listing.select(
            F.col("path").alias("file_path"),
            "file_name",
            F.col("length").alias("file_size"),
            F.lit(False).alias("is_dir"),
            F.col("modificationTime").alias("modified_at"),
            mime.alias("mime_type"),
            F.sha2(F.col("content"), 256).alias("file_hash"),
            F.lit(None).cast("string").alias("provider_file_uuid"),
            F.col("content"),
        )
    )
    if allowed_mime:
        df = df.filter(F.col("mime_type").isin(allowed_mime))
    # Number the rows where they stand: one scan feeds the hash, the
    # content and the numbering. The global window needs one partition,
    # which a capped listing already is (list_files' limit gathers the
    # capped rows there, so the window adds a local sort and no
    # exchange). A path-only numbering branch joined back would plan a
    # second listing scan behind its own unordered limit, free to keep
    # a different subset of files than the content branch.
    w_order = F.row_number().over(Window.orderBy(F.col("file_path")))
    return df.withColumn("file_number", w_order.cast("int"))
