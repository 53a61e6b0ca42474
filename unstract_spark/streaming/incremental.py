"""§2.11 — incremental (cron/AvailableNow) pipelines.

The reference's pipelines are cron-fired re-listings with file-history
dedup — incremental file discovery with exactly-once-per-content
semantics and a bounded per-trigger batch
(reference: backend/scheduler/tasks.py:214-281 execute_pipeline_task_v2;
maxFiles endpoint_v2/constants.py:57).

Spark-first mapping:
- source: `readStream.format("binaryFile")` over the connector root
  with `maxFilesPerTrigger` (the per-trigger batch bound)
- exactly-once: the streaming checkpoint is the "seen files" ledger;
  the file-history table stays as the *content-level* result cache on
  top (a file re-uploaded under a new path is new to the checkpoint,
  but the history anti-join still skips re-processing its content)
- cron parity: Trigger.AvailableNow per fire — drains what's new, then
  stops; the scheduler is external (cron/Airflow), not a daemon
- sinks via foreachBatch: JDBC/parquet append + history MERGE run
  per micro-batch with the batch id for idempotent retries

Also here: the watermarked event-time aggregation the north-star
(training-data telemetry at 100 TB) needs — late data tolerated up to
the watermark, state bounded.

The fire discipline. foreachBatch is AT-LEAST-ONCE: a crash between a
fire's writes and the checkpoint commit replays the epoch. Every
pipeline that writes `batch_id=` partitions runs its fires through
`_drain_fires`, which makes that effectively exactly-once:
- the run base (`_run_base`) is the max `batch_id=` over the
  pipeline's roots plus one, pinned to the checkpoint, so a fresh
  checkpoint never overwrites an earlier run's partitions and a
  restart of the same checkpoint keeps its numbering;
- a batch with no rows is not a fire: nothing is pinned or written;
- a fire's partition id is `bid = run_base + epoch`, recorded as
  allocated (`_pin_bid`) before the fire's first write;
- every write overwrites the fire's own `batch_id={bid}` partition, so
  a replay rewrites what its crashed attempt left;
- reads of the pipeline's own stores exclude `bid`: snapshot stores
  read only the latest snapshot strictly below it, with the state's
  schema (`_read_prior_snapshot`), and prune superseded snapshots
  keeping that one (`_prune_superseded`).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class StaleCheckpointError(RuntimeError):
    """Resuming a checkpoint whose run-base lineage is OLDER than
    partitions on disk: a different run (fresh checkpoint, same
    out/store roots) committed batch_id partitions above everything
    this lineage ever allocated. Continuing would map this lineage's
    next epochs onto — and overwrite — that newer run's committed
    data. Resume the newest checkpoint for these roots, or point the
    stale checkpoint at fresh roots."""


def _run_base(
    *roots: str,
    below: int | None = None,
    base: int = 0,
    checkpoint_dir: str | None = None,
) -> int:
    """Per-run batch_id namespace base: max existing `batch_id=N`
    partition across the given roots, plus one — PINNED to the
    checkpoint's lifetime when `checkpoint_dir` is given.

    Epochs restart at 0 whenever a pipeline runs against a fresh
    checkpoint_dir; un-offset epoch partitions would then OVERWRITE an
    earlier run's committed batch_id=0..N — acked/committed data loss.
    Offsetting every partition write by this base makes each run's
    partitions disjoint from every earlier run's.

    The base must be STABLE across crash-restarts of the SAME
    checkpoint: epochs continue within a checkpoint lineage, and a
    replayed in-flight epoch must overwrite ITS OWN partition (the
    exactly-once half) — a recomputed base would strand the crashed
    attempt's partition and, worse, leave it visible to the replay's
    exclude-current-epoch store read (the replayed batch would see its
    own half-written keys as history). So the first run against a
    checkpoint writes the computed base to a marker file inside
    checkpoint_dir; every restart of that checkpoint reuses it. A
    fresh checkpoint has no marker and gets a fresh disjoint base.

    Pinning alone only guarantees disjointness at ALLOCATION time: if
    a STALE checkpoint is resumed after a newer run (fresh checkpoint,
    same roots) has committed partitions, the old base plus continuing
    epochs would land on — and overwrite — the newer run's committed
    batch_ids. So the marker also records the max bid this lineage has
    ALLOCATED (second field, updated by `_pin_bid` before any
    partition write); on marker reuse, any partition in the namespace
    with a HIGHER id was written by a different run, and the resume is
    refused with StaleCheckpointError instead of proceeding into
    acked-data loss. (Legacy single-field markers predate the ceiling
    and skip the check — unknowable, documented.)

    `base`/`below` bound the namespace scanned (and returned into), so
    out-of-band partitions — the queue consumer's _SWEEP_BASE sweep,
    the crawl pipeline's _FETCH_BASE fetch commits — stay invisible to
    each other's numbering."""

    def _scan_max(floor: int) -> tuple[int, list[str]]:
        """(max bid in [base, below), paths with bid > floor)."""
        mx, above = base - 1, []
        for root in roots:
            for v in _prior_bids(root, below):
                if v >= base:
                    mx = max(mx, v)
                    if v > floor:
                        above.append(os.path.join(root, f"batch_id={v}"))
        return mx, above

    marker = None
    if checkpoint_dir is not None:
        marker = os.path.join(checkpoint_dir, f"_graft_run_base_{base}")
        try:
            with open(marker) as fh:
                fields = fh.read().split()
            val = int(fields[0])
            if len(fields) > 1:
                _, foreign = _scan_max(int(fields[1]))
                if foreign:
                    raise StaleCheckpointError(
                        "stale checkpoint resume refused: partitions "
                        f"{sorted(foreign)} carry batch ids above this "
                        f"lineage's max allocation {fields[1]} — a newer "
                        "run committed them; continuing would overwrite "
                        "its data"
                    )
            return val
        except (FileNotFoundError, ValueError, IndexError):
            # IndexError: an empty marker (e.g. hand-truncated) reads
            # as no fields — treat like a malformed one and recompute
            pass
    val = _scan_max(base - 1)[0] + 1
    if marker is not None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{marker}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            # base + allocation ceiling (nothing allocated yet)
            fh.write(f"{val} {val - 1}")
        os.replace(tmp, marker)
    return val


def _pin_bid(checkpoint_dir: str | None, bid: int, base: int = 0) -> None:
    """Record `bid` as allocated by this checkpoint's lineage — called
    BEFORE the first write to its partition, so a crash mid-write
    still leaves the marker ceiling >= bid and the replay maps onto
    (and overwrites) its own half-written partition rather than
    tripping the stale-resume guard."""

    if checkpoint_dir is None:
        return
    marker = os.path.join(checkpoint_dir, f"_graft_run_base_{base}")
    try:
        with open(marker) as fh:
            fields = fh.read().split()
        val = int(fields[0])
        ceiling = int(fields[1]) if len(fields) > 1 else val - 1
    except (FileNotFoundError, ValueError, IndexError):
        return
    if bid <= ceiling:
        return
    tmp = f"{marker}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(f"{val} {bid}")
    os.replace(tmp, marker)


def _read_parquet_or_none(spark: SparkSession, path: str):
    """spark.read.parquet(path), with ONLY a missing path mapped to
    None ("first fire"). Any other analysis error — schema corruption,
    permissions surfaced as analysis — must raise: treating it as
    first-fire would silently skip cross-corpus state for the batch."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as ex:
        cls = ex.getCondition() or ""
        if "PATH_NOT_FOUND" not in cls and "Path does not exist" not in str(ex):
            raise
        return None


def _prior_bids(store_dir: str, bid: int | None) -> list[int]:
    """Sorted ids of the `batch_id=` partitions in `store_dir` strictly
    below `bid`, or all of them when `bid` is None ([] when the
    directory does not exist yet)."""
    try:
        names = os.listdir(store_dir)
    except FileNotFoundError:
        return []
    ids = (
        int(d.split("=", 1)[1])
        for d in names
        if d.startswith("batch_id=") and d.split("=", 1)[1].isdigit()
    )
    return sorted(v for v in ids if bid is None or v < bid)


def _read_prior_snapshot(
    spark: SparkSession, store_dir: str, bid: int, schema: str | T.StructType
) -> DataFrame:
    """Read ONLY the latest full-state snapshot strictly below `bid`,
    with the state's `schema` (DDL or StructType) — no parquet
    footer-inference job. On the first fire it is an empty frame of
    that schema.

    Snapshot-state stores rewrite the WHOLE state to batch_id={bid}
    every fire and prune superseded partitions KEEPING the latest
    prior (the crash-replay anchor). From the 3rd fire onward the
    directory therefore holds TWO prior snapshots at read time (the
    prune runs after the current fire's write) — reading the whole
    directory filtered only on batch_id != bid unions two snapshots
    and duplicates every state row (r12 ADVICE, verified: the feed
    hwm join fanned out and re-emitted, and the pattern snapshot held
    two rows per user from fire 3). Listing the partitions and
    reading just the max prior is both correct and cheaper (one
    partition scan, no filter). Crash replay stays sound: a replay of
    epoch N excludes its own half-written partition via `< bid` and
    anchors on N-1, exactly what the prune preserved. Partition
    columns nested below batch_id (e.g. the stats accumulator's
    column=) belong in `schema`; batch_id itself does not."""
    prior = _prior_bids(store_dir, bid)
    if not prior:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        os.path.join(store_dir, f"batch_id={prior[-1]}")
    )


def _prune_superseded(store_dir: str, bid: int) -> None:
    """Delete the superseded `batch_id=` snapshots below `bid`, KEEPING
    the latest one: a replay of `bid` excludes its own partition from
    the prior read, so the previous full-state snapshot must survive
    until the next fire commits. Call after the fire's own write."""
    for p in _prior_bids(store_dir, bid)[:-1]:
        shutil.rmtree(
            os.path.join(store_dir, f"batch_id={p}"), ignore_errors=True
        )


def _col_type(frame: DataFrame, col: str) -> str:
    """DDL type of `col` in `frame`, for state schemas that keep a
    caller's column type."""
    return frame.schema[col].dataType.simpleString()


def _parquet_stream(
    spark: SparkSession, source_dir: str, schema, max_files: int = 100
) -> DataFrame:
    """A parquet file stream over `source_dir` read with `schema`, at
    most `max_files` new files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files))
        .parquet(source_dir)
    )


def _drain(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Run `process(batch, epoch)` over every micro-batch available now
    (Trigger.AvailableNow) and return the terminated query."""
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _drain_fires(
    stream: DataFrame,
    checkpoint_dir: str,
    roots: tuple[str, ...],
    fire: Callable[[DataFrame, int], None],
    below: int | None = None,
) -> int:
    """One AvailableNow drain under the module's fire discipline:
    the run base over `roots` (ids below `below`) is pinned to the
    checkpoint; an empty batch is skipped — no fire counted, no bid
    pinned, nothing written; otherwise `bid = run_base + epoch` is
    pinned and `fire(batch, bid)` writes the `batch_id={bid}`
    partitions. Returns the number of fires."""
    run_base = _run_base(*roots, below=below, checkpoint_dir=checkpoint_dir)
    fires = 0

    def process(batch: DataFrame, epoch: int) -> None:
        nonlocal fires
        if batch.isEmpty():
            return
        fires += 1
        bid = run_base + int(epoch)
        _pin_bid(checkpoint_dir, bid)
        fire(batch, bid)

    _drain(stream, process, checkpoint_dir)
    return fires


# Out-of-band partition namespaces, disjoint from stream-fire ids and
# from each other: the queue consumer's post-drain sweep and the crawl
# pipeline's fetch commits.
_SWEEP_BASE = 1 << 40
_FETCH_BASE = 1 << 41


def incremental_file_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    max_files_per_trigger: int = 100,
    path_glob: str | None = None,
):
    """Build the incremental source and run one AvailableNow drain.

    batch_fn(batch_df, batch_id) is the per-micro-batch sink composite
    (transform -> write -> history merge). Returns the query handle
    after awaiting termination, so a cron fire is: call, await, exit.
    """
    # streaming sources require an explicit schema; binaryFile's is fixed
    schema = "path string, modificationTime timestamp, length long, content binary"
    reader = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("recursiveFileLookup", "true")
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return _drain(reader.load(source_dir), batch_fn, checkpoint_dir)


def content_dedup_stream(
    stream: DataFrame,
    hash_col: str = "file_hash",
    ts_col: str = "modificationTime",
    watermark_delay: str = "24 hours",
) -> DataFrame:
    """Stateful exactly-once-per-content dedup as a streaming operator.

    Streaming dedup keeps per-key state in the checkpoint: a duplicate
    arriving in a LATER micro-batch — or a later AvailableNow run of the
    same checkpoint — is dropped, which is the reference's file-history
    content semantics (F2) expressed as streaming state instead of a
    ledger anti-join. State is bounded via
    `dropDuplicatesWithinWatermark`: plain `dropDuplicates([hash])`
    would ignore the watermark (the event-time column is not in the
    subset) and grow state forever, whereas the WithinWatermark variant
    evicts keys older than the delay (the ledger remains the
    long-horizon dedup; this operator handles the hot window).
    """
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        [hash_col]
    )


def incremental_dedup_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    max_files_per_trigger: int = 100,
) -> None:
    """File stream -> content hash -> stateful dedup -> sinks.

    One AvailableNow drain per cron fire; the dedup state lives in the
    checkpoint so re-uploaded content (same bytes, any path) is dropped
    across fires.
    """
    schema = "path string, modificationTime timestamp, length long, content binary"
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(source_dir)
    )
    hashed = stream.withColumn("file_hash", F.sha2(F.col("content"), 256))
    _drain(content_dedup_stream(hashed), batch_fn, checkpoint_dir)


def windowed_event_aggregation(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling OR sliding window aggregation (streaming or
    batch). `slide` < window_duration makes it sliding (each event in
    duration/slide windows — the hotspot-detection shape gated by
    `events_hotspot_windows`); None/equal is tumbling.

    On a stream: state is dropped past the watermark, so memory is
    bounded by (windows in flight x groups) — sliding multiplies the
    in-flight window count by duration/slide, which the watermark still
    bounds. The same expression on a batch frame computes the identical
    result — used by the oracle test.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        if events.isStreaming
        else events
    ).groupBy(
        F.window(
            F.col(ts_col), window_duration, slide or window_duration
        ).alias("w"),
        *group_cols,
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        "n_events",
        "total_value",
    )


def session_window_aggregation(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Gap-based session windows (streaming or batch).

    The batch twin of this semantics is the registry's `w3_sessionize`
    (lag-diff + running session counter); on a stream Spark's native
    `session_window` maintains the open-session state per key and the
    watermark closes sessions whose gap has provably expired — state is
    bounded by open sessions per key, and late events inside the delay
    still extend/merge their session (the reference has no streaming,
    SURVEY §2.11; this is the north-star late-data path). The same
    expression on a batch frame computes the closed-session result
    used by the equivalence test.
    """
    src = (
        events.withWatermark(ts_col, watermark_delay)
        if events.isStreaming
        else events
    )
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("s"), *group_cols
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def streaming_index_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store,
    chunk_size: int = 512,
    chunk_overlap: int = 128,
    embed_factory=None,
    max_files_per_trigger: int = 100,
    path_glob: str | None = None,
) -> list[int]:
    """Streaming vector-index maintenance: each AvailableNow fire
    chunks+embeds the NEW documents and upserts them into a
    VectorStoreBackend.

    The reference indexes per file inside the tool run, keyed by the
    deterministic doc_id so re-runs skip (sdk1/index.py:223-375,
    460-516); here the file-stream checkpoint discovers new files and
    the doc_id probe makes the upsert idempotent — a retried
    micro-batch re-derives the same doc_ids and writes nothing twice
    (effective exactly-once without transactional sinks).

    Plan shape per batch: hash -> utf-8 decode -> chunk (JVM
    expressions) -> Arrow-batched embed -> doc_id derived FROM
    file_hash as a column expression, so no join is needed to carry
    identity through the chunk explosion. Returns rows-written per
    micro-batch (driver-side bookkeeping only).
    """
    from unstract_spark.ids import doc_id as doc_id_col
    from unstract_spark.operators.chunking import chunk_fixed
    from unstract_spark.operators.index_store import embed_chunks

    written: list[int] = []

    def index_batch(batch: DataFrame, _epoch: int) -> None:
        docs = batch.select(
            F.sha2(F.col("content"), 256).alias("file_hash"),
            F.decode(F.col("content"), "UTF-8").alias("text"),
        )
        chunks = chunk_fixed(
            docs,
            text_col="text",
            id_col="file_hash",
            chunk_size=chunk_size,
            chunk_overlap=chunk_overlap,
        )
        embedded = embed_chunks(chunks, embed_factory=embed_factory)
        full = embedded.select(
            doc_id_col(
                F.col("file_hash"),
                chunk_size=chunk_size,
                chunk_overlap=chunk_overlap,
            ).alias("doc_id"),
            "file_hash",
            "chunk_no",
            "chunk_text",
            "embedding",
        )
        written.append(store.upsert(full))

    incremental_file_pipeline(
        spark,
        source_dir,
        checkpoint_dir,
        index_batch,
        max_files_per_trigger=max_files_per_trigger,
        path_glob=path_glob,
    )
    return written


def streaming_similarity_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    index: DataFrame,
    dim: int,
    out_dir: str,
    k: int = 10,
    index_rows: int | None = None,
    exact_budget: float = 5e7,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
) -> list:
    """Streaming similarity_top_k: each AvailableNow fire runs the NEW
    query vectors through the cost-based ANN planner against a fixed
    index, appending (query_id, vec_id, score, rank) parquet results.

    The planner prices each micro-batch separately — a trickle of 5
    queries gets the exact brute-force plan, a 100k-query backfill
    batch crosses `exact_budget` and flips to LSH/IVF — which is the
    streaming payoff of having a cost model at all: strategy tracks the
    ACTUAL batch size instead of a config frozen at stream start. The
    index row count is computed once outside the loop (one metadata
    scan), not per fire. Results append per batch; the stream
    checkpoint guarantees each query file is planned exactly once, and
    a retried batch overwrites deterministically (same plan, same
    rows). Returns the TopkPlan per fired batch for observability.

    Source is a parquet directory in the embeddings shape
    (`vec_id`/`embedding` by default) — at scale this is the drop zone
    where upstream embedding jobs land new vectors.
    """
    from unstract_spark.operators.similarity import similarity_topk

    n = index_rows if index_rows is not None else index.count()
    plans: list = []

    def score_batch(batch: DataFrame, _epoch: int) -> None:
        queries = batch.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("query_vec"),
        )
        q_count = queries.count()
        if q_count == 0:
            return
        out, plan = similarity_topk(
            queries,
            index,
            dim,
            k=k,
            index_rows=n,
            n_queries=q_count,
            exact_budget=exact_budget,
            index_id="vec_id",
            index_vec="embedding",
        )
        out.write.mode("append").parquet(out_dir)
        plans.append(plan)

    schema = spark.read.parquet(source_dir).schema
    stream = _parquet_stream(spark, source_dir, schema, 1000)
    _drain(stream, score_batch, checkpoint_dir)
    return plans


def streaming_neardup_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> int:
    """Incremental MinHash near-dup over a GROWING corpus: each
    AvailableNow fire signatures only the new documents, probes them
    against the accumulated signature store via the banded LSH join,
    and appends (id_a, id_b, est_jaccard) pairs above `threshold`.

    The scale contract: signatures are computed once per document ever
    (the store is the materialized corpus state — at 100 TB it's a few
    per-doc longs, ~1/1000th of the text), and each fire's join is
    new-bands x all-bands restricted on the left (`left_ids`), so the
    corpus x corpus pair space is never regenerated. Within-batch pairs
    surface in the same probe (both sides new -> normalized to
    (least, greatest), emitted once).

    Exactly-once: the module's fire discipline (`_drain_fires`); a
    replay that died after a partial store write can't probe against
    its own half-written signatures.

    Source is a parquet directory in the documents shape
    (doc_id, text). Returns the number of fired batches.
    """
    from unstract_spark.operators import dedup

    def fire(docs: DataFrame, bid: int) -> None:
        # one materialization: feeds the store append AND both join
        # sides (localCheckpoint, not persist — the CacheManager-leak
        # lesson in SCALE.md)
        sigs_new = dedup.minhash_signatures(
            dedup.char_shingles(docs)
        ).localCheckpoint(eager=True)
        old = _read_parquet_or_none(spark, store_dir)
        if old is None:
            combined = sigs_new
        else:
            if "batch_id" in old.columns:
                # partitioned layout (this release): prune the current
                # epoch so a half-written replay can't probe itself
                old = old.filter(F.col("batch_id") != bid).drop("batch_id")
            # else: legacy flat-append store — use it whole (its rows
            # all predate this epoch by construction)
            combined = old.unionByName(sigs_new)
        new_ids = sigs_new.select("doc_id")
        pairs = dedup.lsh_candidate_pairs(
            combined, max_bucket=max_bucket, left_ids=new_ids
        )
        sims = dedup.minhash_similarity(combined, pairs).filter(
            F.col("est_jaccard") >= threshold
        )
        sims.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        sigs_new.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )

    stream = _parquet_stream(spark, source_dir, "doc_id long, text string")
    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_decontamination_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    bench: DataFrame,
    out_dir: str,
    n: int = 8,
) -> int:
    """Streaming train/eval decontamination: each AvailableNow fire
    checks only the NEW training documents for word n-gram overlap with
    the (fixed, tiny) benchmark set and appends
    (train_id, n_shared_grams, n_bench_docs) for contaminated docs.

    The benchmark gram table is computed ONCE outside the stream and
    localCheckpointed — eval suites are KBs against a 100 TB corpus, so
    it broadcasts into every fire's gram equi-join; the corpus is
    grammed exactly once per document (the stream checkpoint is the
    seen-files ledger). Batch twin: dedup.ngram_contamination — the
    union of fires equals the batch result on the union of sources.

    Returns the number of fired batches.
    """
    from unstract_spark.operators import dedup

    bench_grams = dedup.word_ngrams(bench, n).withColumnRenamed(
        "doc_id", "bench_id"
    ).localCheckpoint(eager=True)

    def fire(docs: DataFrame, bid: int) -> None:
        tg = dedup.word_ngrams(docs, n).withColumnRenamed("doc_id", "train_id")
        hits = (
            tg.join(F.broadcast(bench_grams), "gram")
            .groupBy("train_id")
            .agg(
                F.countDistinct("gram").alias("n_shared_grams"),
                F.countDistinct("bench_id").alias("n_bench_docs"),
            )
        )
        hits.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")

    stream = _parquet_stream(spark, source_dir, "doc_id long, text string")
    return _drain_fires(stream, checkpoint_dir, (out_dir,), fire)


def streaming_cluster_pipeline(
    spark: SparkSession,
    pairs_dir: str,
    checkpoint_dir: str,
    labels_dir: str,
    threshold: float = 0.5,
    keep_snapshots: int = 2,
) -> int:
    """Incremental duplicate-cluster maintenance over a GROWING pair
    stream (the downstream half of streaming_neardup_pipeline): each
    AvailableNow fire folds the NEW near-dup edges into the persistent
    (doc_id, cluster_id) label store without re-clustering the corpus.

    Incremental union-find, map-reduce style: new edge endpoints map to
    their CURRENT components (broadcast-join against the label store),
    the CONTRACTED graph — one node per touched component — is tiny
    regardless of corpus size, connected_components runs on that, and
    the resulting root mapping broadcasts back to relabel only the
    merged clusters. Per fire the full-corpus work is ONE broadcast
    join over the store; the iterative CC never sees corpus-sized data.
    Labels equal the batch dedup.connected_components over all pairs
    ever seen (min-id roots — proven by the union-of-fires pytest).

    Exactly-once: the module's fire discipline (`_drain_fires`) over
    full label snapshots. Returns fired batch count.
    """
    from unstract_spark.operators.dedup import connected_components

    def fire(edges: DataFrame, bid: int) -> None:
        edges = edges.distinct()
        labels = _read_prior_snapshot(
            spark, labels_dir, bid, "doc_id long, cluster_id long"
        ).localCheckpoint(eager=True)

        # endpoints -> current components (unknown node = its own id)
        la = labels.select(
            F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("_ca")
        )
        lb = labels.select(
            F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("_cb")
        )
        e = (
            edges.join(la, "id_a", "left")
            .join(lb, "id_b", "left")
            .select(
                F.coalesce("_ca", "id_a").alias("ca"),
                F.coalesce("_cb", "id_b").alias("cb"),
                "id_a",
                "id_b",
            )
            .localCheckpoint(eager=True)
        )

        # contracted graph: one node per touched component — tiny
        contracted = e.filter(F.col("ca") != F.col("cb")).select(
            F.col("ca").alias("id_a"), F.col("cb").alias("id_b")
        )
        if contracted.isEmpty():
            roots = spark.createDataFrame([], "node long, component long")
        else:
            roots = connected_components(contracted)
        roots = F.broadcast(
            roots.select(
                F.col("node").alias("_old"), F.col("component").alias("_new")
            )
        )

        # relabel merged clusters (broadcast map, one pass over store)
        relabeled = labels.join(
            roots, labels["cluster_id"] == roots["_old"], "left"
        ).select(
            "doc_id", F.coalesce("_new", "cluster_id").alias("cluster_id")
        )
        # admit new nodes at their (possibly remapped) component
        nodes = (
            e.select(F.col("id_a").alias("doc_id"), F.col("ca").alias("comp"))
            .unionByName(
                e.select(F.col("id_b").alias("doc_id"), F.col("cb").alias("comp"))
            )
            .distinct()
            .join(labels.select("doc_id"), "doc_id", "left_anti")
        )
        fresh = nodes.join(
            roots, nodes["comp"] == roots["_old"], "left"
        ).select("doc_id", F.coalesce("_new", "comp").alias("cluster_id"))

        updated = relabeled.unionByName(fresh)
        updated.write.mode("overwrite").parquet(
            f"{labels_dir}/batch_id={bid}"
        )
        # retention: each fire writes a full label snapshot (the store
        # is corpus-membership-sized), so without pruning a long-running
        # stream accumulates O(fires x corpus) storage. Keep the newest
        # `keep_snapshots` (>=2 so the previous snapshot survives until
        # the new one is fully committed) and drop the rest.
        for b in _prior_bids(labels_dir, None)[: -max(keep_snapshots, 2)]:
            shutil.rmtree(f"{labels_dir}/batch_id={b}", ignore_errors=True)

    # the edge filter rides on the stream, so a batch with no edge at
    # or above the threshold is an empty batch: no fire
    stream = _parquet_stream(
        spark, pairs_dir, "id_a long, id_b long, est_jaccard double", 1000
    ).filter(F.col("est_jaccard") >= threshold).select("id_a", "id_b")
    return _drain_fires(stream, checkpoint_dir, (labels_dir,), fire)


def streaming_rollup_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> int:
    """Incremental multi-resolution rollup maintenance: each
    AvailableNow fire reduces ONLY the new events to additive
    minute-level partials and lands them in the partial store; the
    minute/hour/day cascade is re-derived from the (aggregate-sized)
    store on demand via timeseries.cascade_from_partials. Decimal sums
    are exact and associative, so the union of fires equals the batch
    rollup_cascade over all events bit-for-bit (pytest-gated).

    Exactly-once: the module's fire discipline (`_drain_fires`). The
    store grows one partial-set per fire; folding it is cheap (it is
    bucket-sized, not event-sized) and a maintenance compaction can
    fold old partials into one without changing any sum. Returns
    fired batch count.
    """
    from unstract_spark.operators.timeseries import minute_partials

    def fire(batch: DataFrame, bid: int) -> None:
        part = minute_partials(batch, ts_col=ts_col, value_col=value_col)
        part.write.mode("overwrite").parquet(f"{store_dir}/batch_id={bid}")

    schema = spark.read.parquet(source_dir).schema
    stream = _parquet_stream(spark, source_dir, schema, 1000)
    return _drain_fires(stream, checkpoint_dir, (store_dir,), fire)


def read_streaming_rollups(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the partial store into the full (level, bucket_start,
    n_events, total_value) cascade — the read side of
    streaming_rollup_pipeline."""
    from unstract_spark.operators.timeseries import cascade_from_partials

    partials = spark.read.parquet(store_dir)
    if "batch_id" in partials.columns:
        partials = partials.drop("batch_id")
    return cascade_from_partials(partials)


def streaming_queue_consumer(
    spark: SparkSession,
    queue_path: str,
    ledger_path: str,
    checkpoint_dir: str,
    out_dir: str,
    queue_name: str,
    consumer_id: str,
    visibility_timeout_s: int = 300,
    max_messages_per_fire: int = 10_000,
) -> int:
    """S9 streaming twin — the HITL consume LOOP as an AvailableNow
    drain of the review queue (reference: the worker that dequeues
    QueueResult packets from review_queue_{org}_{workflow},
    endpoint_v2/queue_utils.py consume path; the batch claim/ack ledger
    in sinks/review_queue.py is the state it drives).

    Each fire claims up to `max_messages_per_fire` PENDING messages —
    unexpired, never DONE, not actively claimed — via the same
    claim_batch ledger protocol the batch consumer uses, writes them to
    `out_dir/batch_id=N`, then acks. The stream over the queue table is
    the arrival signal (new enqueued files trigger fires); the pending
    view is computed against the FULL queue state, so a message whose
    earlier claim lapsed un-acked (crashed consumer) RE-ENTERS pending
    and is redelivered by a later fire — SQS-style visibility-timeout
    recovery, driven by the ledger, not by stream replay.

    Delivery contract: AT-LEAST-ONCE per message, effectively-once in
    the normal path (DONE rows gate re-claims). The crash matrix:
    - die after claim, before output: the claim lapses; the next run
      redelivers — into a stream fire's partition if new files arrived,
      else into the POST-DRAIN SWEEP (stream fires only trigger on new
      queue files, so the sweep is what makes "run the consumer again
      after the visibility timeout" sufficient recovery with no new
      arrivals; this fire's replay writes nothing — claims are still
      active and the partition overwrite is skipped when the fire
      claims zero, so a committed partition is never blanked).
    - die after output, before ack: the claim lapses and the message is
      redelivered into a later partition — a duplicate across
      partitions, deduped downstream by the stable message_id (the
      at-least-once half of the contract).
    Claim batches stay driver-bounded (human-review-sized), exactly as
    the batch API documents. Returns the number of fires that claimed
    at least one message.
    """
    from unstract_spark.sinks.review_queue import ack_messages, claim_batch

    fires = 0

    # Stream-fire partitions take the pinned per-run base below the
    # sweep namespace (`_run_base`), so a fresh checkpoint never
    # overwrites an earlier run's acked partitions and a replayed epoch
    # rewrites its own. The fire is gated on its claims, not on the
    # batch, so this drain pins its own bids.
    run_base = _run_base(
        out_dir, below=_SWEEP_BASE, checkpoint_dir=checkpoint_dir
    )

    def claim() -> tuple[DataFrame, list]:
        claimed = claim_batch(
            spark,
            queue_path,
            ledger_path,
            queue_name,
            consumer_id,
            max_messages=max_messages_per_fire,
            visibility_timeout_s=visibility_timeout_s,
        )
        return claimed, [
            r.message_id for r in claimed.select("message_id").collect()
        ]

    def commit(claimed: DataFrame, ids: list, bid: int) -> None:
        claimed.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        ack_messages(spark, ledger_path, queue_name, ids, consumer_id)

    def process(batch: DataFrame, epoch: int) -> None:
        nonlocal fires
        claimed, ids = claim()
        if not ids:
            return
        fires += 1
        bid = run_base + int(epoch)
        _pin_bid(checkpoint_dir, bid)
        commit(claimed, ids, bid)

    schema = spark.read.parquet(queue_path).schema
    stream = _parquet_stream(spark, queue_path, schema, 1)
    _drain(stream, process, checkpoint_dir)

    # Post-drain sweep: stream fires only happen when NEW queue files
    # arrive, so without this a message whose claim lapsed after a
    # crash (claimed, never written) would stay pending until an
    # unrelated enqueue triggered a fire — "run the consumer again
    # after the visibility timeout" must recover it with or without
    # new arrivals. Sweep partitions live in a namespace disjoint from
    # stream epochs (_SWEEP_BASE offset) so a later run's epoch N can
    # never overwrite an earlier sweep's committed partition.
    nxt = _run_base(out_dir, base=_SWEEP_BASE)
    while True:
        claimed, ids = claim()
        if not ids:
            break
        fires += 1
        commit(claimed, ids, nxt)
        nxt += 1
    return fires


def read_consumed_messages(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all fires' claimed batches, message_id-deduped (the
    at-least-once -> effectively-once fold a downstream reader does)."""
    df = spark.read.parquet(out_dir)
    if "batch_id" in df.columns:
        df = df.drop("batch_id")
    return df.dropDuplicates(["message_id"])


def streaming_bloom_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    m: int = 8192,
    k: int = 4,
) -> int:
    """Incremental Bloom-filter history dedup: each AvailableNow fire
    probes the NEW documents' fingerprints against the accumulated bit
    store, emits (doc_id, maybe_seen) decisions, then appends the
    batch's own bits — the streaming twin of
    dedup.bloom_filter_bits/bloom_membership and the shape of Dolma's
    incremental paragraph dedup.

    Scale contract: state is <= m bit rows however large the history
    (the whole point of the Bloom primitive); the bit store is a
    metadata-pruned parquet read + broadcast per fire; no full-history
    rescan ever. Exactly-once: the module's fire discipline
    (`_drain_fires`); only PATH_NOT_FOUND means first-fire.

    Returns the number of fired batches.
    """
    from unstract_spark.operators import dedup

    def fire(docs: DataFrame, bid: int) -> None:
        fp = docs.select(
            "doc_id", F.md5("text").alias("fingerprint")
        ).localCheckpoint(eager=True)
        old_bits = _read_parquet_or_none(spark, store_dir)
        if old_bits is None:
            decisions = fp.select(
                "doc_id", F.lit(False).alias("maybe_seen")
            )
        else:
            old_bits = old_bits.filter(
                F.col("batch_id") != bid
            ).drop("batch_id").distinct()
            decisions = dedup.bloom_membership(fp, old_bits, m=m, k=k)
        decisions.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={bid}"
        )
        new_bits = dedup.bloom_filter_bits(fp, m=m, k=k)
        new_bits.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )

    stream = _parquet_stream(spark, source_dir, "doc_id long, text string")
    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_kmv_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    col: str = "text",
    k: int = 256,
    schema: str = "doc_id long, text string",
) -> int:
    """Incremental KMV distinct-count sketch: each AvailableNow fire
    hashes the NEW rows' non-null `col` (sketches.md5_hash60) and
    FOLDS them into the accumulated sketch with kmv_merge (union +
    re-min, the property that makes the family shippable from
    per-shard state), writes the merged k rows as this fire's store
    snapshot, and emits one cumulative estimate row (k, n_sketch,
    kth_hash, est_distinct via kmv_estimate) — the streaming twin of
    sk_kmv_distinct, proving mergeability ACROSS FIRES, not just
    within one query.

    The new rows are not pre-cut with kmv_sketch: the k smallest
    distinct hashes of (new hashes ∪ prior snapshot) are the same set
    either way (kmv_sketch's subset argument), and the fold is one
    distinct → orderBy → limit in the JVM — no Python worker per fire.

    Scale contract: state is <= k longs however much history has
    streamed (the sketch IS the state — cf. streaming_bloom_pipeline's
    m bits); each fire reads O(k) store rows, never re-scans history.
    The fire's shuffle carries at most the new rows' distinct 8-byte
    hashes (after map-side partial aggregation) plus the k prior
    ones: it scales with the fire's input, not with history.

    Exactly-once: the module's fire discipline (`_drain_fires`); each
    snapshot is the FULL merge through its fire. Stale un-pruned
    snapshots are harmless: an old k-min set folds into a newer one
    under union + re-min (every old member that still belongs to the
    global k-min is already in the newer snapshot).

    Returns the number of fired batches.
    """
    from unstract_spark.operators import sketches

    def fire(batch: DataFrame, bid: int) -> None:
        hashed = batch.where(F.col(col).isNotNull()).select(
            sketches.md5_hash60(F.col(col)).alias("h")
        )
        old = _read_prior_snapshot(spark, store_dir, bid, "h long")
        merged = sketches.kmv_merge(hashed, old, k=k)
        # No materialization barrier needed (r13): the fold's lineage
        # reads ONLY the new rows and the max-prior snapshot partition
        # (strictly < bid, _read_prior_snapshot), so overwriting
        # batch_id={bid} cannot invalidate its own input even on
        # replay. Writing directly saves one full pass per fire, and
        # the fold's one shuffle holds at most the new rows' distinct
        # hashes plus k prior ones. The estimate re-reads the
        # just-committed O(k) snapshot (schema on read, no
        # footer-inference job) instead of a cached copy.
        merged.write.mode("overwrite").parquet(f"{store_dir}/batch_id={bid}")
        snap = spark.read.schema("h long").parquet(
            f"{store_dir}/batch_id={bid}"
        )
        sketches.kmv_estimate(snap, k).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={bid}"
        )
        _prune_superseded(store_dir, bid)

    stream = _parquet_stream(spark, source_dir, schema)
    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_feed_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    schema: str = "feed_id string, xml string",
) -> int:
    """Incremental FEED POLLING — the discovery companion to the
    crawl pipeline: each AvailableNow fire parses newly-dropped
    RSS/Atom snapshots (webcorpus.parse_feed), normalizes their
    published dates to epoch seconds (feed_published_epoch — both
    RFC 822 dialects and both RFC 3339 dialects), and emits only the
    entries STRICTLY NEWER than the feed's persisted high-water mark.
    Real feeds re-serve their latest N entries on every poll, so
    overlap is the normal case — the per-feed hwm turns overlapping
    polls into exactly-once entry discovery without storing any
    per-entry state (state is ONE row per feed: the max epoch seen).

    Contract: feeds append — a poll's new entries carry epochs above
    everything the feed served before (the RSS/Atom publishing
    model). A back-dated entry (epoch <= hwm, never seen) is skipped;
    that is the standard feed-poll trade and the reason the hwm can
    stay O(feeds). Entries with an unparseable or absent date are
    SKIPPED (documented: without a date, never-seen cannot be
    established against an O(feeds) state — callers needing them
    route the feed through the crawl frontier's per-URL dedup
    instead).

    Exactly-once: the module's fire discipline (`_drain_fires`), with
    the hwm state as a snapshot store. Returns fired batch count."""
    from unstract_spark.operators import webcorpus

    stream = _parquet_stream(spark, source_dir, schema)
    state_ddl = f"feed_id {_col_type(stream, 'feed_id')}, hwm_epoch long"

    def fire(batch: DataFrame, bid: int) -> None:
        entries = webcorpus.feed_published_epoch(
            webcorpus.parse_feed(batch)
        ).filter(
            F.col("link").isNotNull()
            & F.col("published_epoch").isNotNull()
        ).select(
            "feed_id", "format", "link", "entry_id", "published_epoch"
        ).dropDuplicates(["feed_id", "link"])
        hwm = _read_prior_snapshot(spark, state_dir, bid, state_ddl)
        j = entries.join(hwm, "feed_id", "left")
        fresh = j.filter(
            F.col("hwm_epoch").isNull()
            | (F.col("published_epoch") > F.col("hwm_epoch"))
        ).select(
            "feed_id", "format", "link", "entry_id", "published_epoch"
        ).localCheckpoint(eager=True)
        fresh.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        new_state = (
            entries.select("feed_id", "published_epoch")
            .unionByName(
                hwm.select(
                    "feed_id",
                    F.col("hwm_epoch").alias("published_epoch"),
                )
            )
            .groupBy("feed_id")
            .agg(F.max("published_epoch").alias("hwm_epoch"))
            .localCheckpoint(eager=True)
        )
        new_state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={bid}"
        )
        _prune_superseded(state_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (out_dir, state_dir), fire)


def _pattern_end_extensible(pattern: str) -> bool:
    """True when a completed match of `pattern` could be EXTENDED by
    characters that arrive later — i.e. the pattern's final atom sits
    under a greedy (or possessive) quantifier with max > min, directly
    or through groups/alternation/fixed repeats.

    Why it matters for chunked CEP: a greedy quantifier at the match
    end only stops extending when the NEXT character blocks it — or
    when the chunk runs out. A match that ends exactly at a fire
    boundary ('aa' against 'a+') is therefore provisional: the batch
    scan of the union would have kept extending into the next fire's
    text, so counting it now diverges from the batch twin (2 short
    matches vs 1 long one). A failure mid-pattern is different — no
    match is counted, the whole text stays in the residual and is
    rescanned — so only the END of the pattern needs this check.

    Lazy (min) quantifiers at the end are safe: they stop at `min`
    copies regardless of what follows, so future text never changes a
    completed match. Conservative over BRANCH: any arm extensible →
    extensible, and ordered-alternation prefix commits ('ab|a', where
    a chunk boundary makes the scan fall through to the shorter later
    arm the batch scan would extend) are extensible too — a BRANCH
    passes only when all arms are fixed-and-equal width or all-literal
    with no later-arm-prefix-of-earlier-arm pair. Recursive through
    the last copy of fixed repeats (e.g. '(ab?){2}' ends in the inner
    'b?')."""
    try:
        from re import _constants as _c  # Python 3.11+
        from re import _parser as _p
    except ImportError:  # pragma: no cover - older stdlib layout
        import sre_constants as _c
        import sre_parse as _p

    def seq_extensible(seq) -> bool:
        items = list(seq)
        if not items:
            return False
        op, av = items[-1]
        if op is _c.MAX_REPEAT or op is getattr(
            _c, "POSSESSIVE_REPEAT", None
        ):
            lo, hi, body = av
            return True if hi != lo else seq_extensible(body)
        if op is _c.MIN_REPEAT:
            lo, hi, body = av
            # lazy: stops at `lo` copies; only the matched copies'
            # own tail can extend, and only when at least one matched
            return lo > 0 and seq_extensible(body)
        if op is _c.SUBPATTERN:
            return seq_extensible(av[-1])
        if op is getattr(_c, "ATOMIC_GROUP", None):
            # atomic groups never give back, but the group itself can
            # still grab MORE when later text allows a longer cut
            return seq_extensible(av)
        if op is _c.BRANCH:
            arms = av[1]
            if any(seq_extensible(alt) for alt in arms):
                return True
            # Prefix-alternation early-commit (r12 ADVICE): Python's
            # alternation is ORDERED — at one position the engine
            # commits to the first arm that matches. 'ab|a' against a
            # chunk ending in 'a': 'ab' fails on TRUNCATION, the scan
            # falls through and commits 'a'; the batch scan of the
            # union matches 'ab'. So a BRANCH at the pattern end is
            # extensible when a LATER arm can match a proper prefix
            # of an EARLIER arm's match ('a|ab' is safe — the engine
            # picks 'a' in batch too, by arm order). Proved safe two
            # ways: all arms fixed and equal width (no proper prefix
            # exists), or all arms pure literals with no
            # later-shorter-prefix-of-earlier-longer pair. Anything
            # else is conservatively extensible (rejected upstream
            # with the fix named).
            widths = [alt.getwidth() for alt in arms]
            if (
                all(w[0] == w[1] for w in widths)
                and len({w[0] for w in widths}) == 1
            ):
                return False
            lits = []
            for alt in arms:
                s = []
                for aop, aav in alt:
                    if aop is _c.LITERAL:
                        s.append(chr(aav))
                    else:
                        s = None
                        break
                lits.append("".join(s) if s is not None else None)
            if all(s is not None for s in lits):
                return any(
                    lits[j] != lits[i] and lits[i].startswith(lits[j])
                    for i in range(len(lits))
                    for j in range(i + 1, len(lits))
                )
            return True
        return False

    return seq_extensible(_p.parse(pattern))


def streaming_pattern_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    pattern: str,
    code_map: dict[str, str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    schema: str = (
        "user_id long, ts timestamp, event_id long, event_type string"
    ),
    max_tail: int | None = None,
) -> int:
    """Incremental CEP: maintain per-user non-overlapping pattern-match
    counts ACROSS FIRES — the streaming twin of
    timeseries.event_pattern_match. State per user is four counters
    plus the RESIDUAL suffix of the coded sequence after its last
    completed match; each fire appends the new events' codes to the
    residual, rescans with the same regex, and keeps the new residual.

    Why chunked scanning equals the batch scan of the union (the
    equality the twin test pins): the residual never contains a
    complete match (the previous scan ran to end-of-string), and for
    the future-blind pattern class this engine supports — literals,
    character classes, and quantifiers; no anchors, backreferences, or
    lookaround; AND a match end that future characters cannot extend
    (the final atom is not under a greedy/unbounded quantifier) — a
    scan position that fails can only fail on CONTENT (an excluded
    character blocks the path), never on truncation that later text
    could repair past an already-counted match. So matches of
    (residual + new) are exactly the batch matches not yet counted.

    The match-end condition is VALIDATED, not just documented: a
    pattern like 'a+', 'vc*', or 'ab?' would count a match abutting a
    fire boundary early/shorter than the batch scan of the union
    (fires 'aa','aa' against 'a+' give 2 matches where batch gives 1),
    so _pattern_end_extensible rejects it up front with the fix —
    anchor the end on a fixed atom, or use a lazy quantifier. The
    batch operator (timeseries.event_pattern_match) sees complete
    input and has no such restriction. `pattern` must also never
    match the empty string.

    Events must arrive in per-user (ts, id) order across fires (within
    a fire they are sorted; late cross-fire arrivals belong upstream
    in a watermark/ordering stage — the standing sessionizer caveat).

    State bound: counters are O(users); the residual is bounded by the
    gap between matches. For patterns whose matches an adversarial
    no-match stream can starve, `max_tail` truncates each residual to
    its last N codes — exact as long as no true match spans more than
    N events, the same windowed-relaxation every bounded-state CEP
    engine offers.

    Exactly-once: the module's fire discipline (`_drain_fires`), with
    the per-user state as a snapshot store. Returns fired batch count.
    """
    if "'" in pattern:
        raise ValueError("pattern must not contain single quotes")
    if _pattern_end_extensible(pattern):
        raise ValueError(
            "streaming_pattern_pipeline: the pattern's match end is"
            " extensible by future text (final atom under a"
            " greedy/unbounded quantifier, or an ordered alternation"
            " whose later arm is a prefix of an earlier one, e.g."
            " 'ab|a'), so a match abutting a fire boundary would be"
            " counted early/shorter than the batch scan — anchor the"
            " end on a fixed atom, use a lazy quantifier, or reorder"
            f" the alternation shortest-first: {pattern!r}"
        )
    stream = _parquet_stream(spark, source_dir, schema)
    # the state's key column keeps the source's user-id type
    state_ddl = (
        f"{user_col} {_col_type(stream, user_col)}, n_matches long,"
        " total_match_len long, seq_len long, first_match string,"
        " tail string"
    )

    def fire(batch: DataFrame, bid: int) -> None:
        code = None
        for etype, ch in code_map.items():
            br = F.when(F.col(type_col) == etype, F.lit(ch))
            code = br if code is None else code.when(
                F.col(type_col) == etype, F.lit(ch)
            )
        code = (code.otherwise(F.lit("x")) if code is not None
                else F.lit("x")).alias("_c")
        ns = (
            batch.select(
                F.col(user_col).alias("_u"),
                F.col(ts_col).alias("_ts"),
                F.col(id_col).alias("_id"),
                code,
            )
            .groupBy("_u")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_ts", "_id", "_c"))
                        ),
                        lambda x: x["_c"],
                    ),
                    "",
                ).alias("_new")
            )
        )
        old = _read_prior_snapshot(spark, store_dir, bid, state_ddl)
        j = ns.join(
            old, ns["_u"] == old[user_col], "full_outer"
        ).withColumn(
            "_combined",
            F.concat(
                F.coalesce(F.col("tail"), F.lit("")),
                F.coalesce(F.col("_new"), F.lit("")),
            ),
        ).withColumn(
            "_found",
            F.expr(f"regexp_extract_all(_combined, '{pattern}', 0)"),
        )
        state = j.select(
            F.coalesce(F.col("_u"), F.col(user_col)).alias(user_col),
            (
                F.coalesce(F.col("n_matches"), F.lit(0))
                + F.size("_found")
            ).cast("long").alias("n_matches"),
            (
                F.coalesce(F.col("total_match_len"), F.lit(0))
                + F.coalesce(
                    F.aggregate(
                        F.transform(F.col("_found"), F.length),
                        F.lit(0),
                        lambda acc, x: acc + x,
                    ),
                    F.lit(0),
                )
            ).cast("long").alias("total_match_len"),
            (
                F.coalesce(F.col("seq_len"), F.lit(0))
                + F.length(F.coalesce(F.col("_new"), F.lit("")))
            ).cast("long").alias("seq_len"),
            F.when(
                F.coalesce(F.col("first_match"), F.lit("")) != "",
                F.col("first_match"),
            )
            .when(
                F.size("_found") > 0, F.element_at(F.col("_found"), 1)
            )
            .otherwise(F.lit(""))
            .alias("first_match"),
            F.element_at(
                F.split(F.col("_combined"), pattern, -1), -1
            ).alias("tail"),
        )
        if max_tail is not None:
            state = state.withColumn(
                "tail", F.expr(f"right(tail, {int(max_tail)})")
            )
        # Direct write (r13): the state lineage reads only the
        # max-prior snapshot partition (< bid), never its own write
        # target, so no materialization barrier is needed — one full
        # pass per fire instead of two.
        state.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )
        _prune_superseded(store_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (store_dir,), fire)


def streaming_quantile_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    key_col: str = "doc_id",
    value_col: str = "value",
    k: int = 512,
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
    schema: str = "doc_id long, value double",
) -> int:
    """Incremental QUANTILE sketch: each AvailableNow fire draws the
    deterministic bottom-k-by-hash row sample of the NEW rows
    (sketches.kmv_row_sample), MERGES it with the accumulated sample
    (kmv_row_sample_merge — union + re-min over whole rows), writes
    the merged k rows as this fire's store snapshot, and emits one
    cumulative quantile row (k, n_sample, p25, p50, ...) — the
    streaming twin of sk_sample_quantiles, proving the row sample's
    mergeability ACROSS FIRES the way streaming_kmv_pipeline proves
    the distinct sketch's.

    Scale contract: state is <= k (hash, value) rows however much
    history has streamed; each fire reads O(k) store rows, never
    re-scans history. The merged sample after N fires is EXACTLY the
    sample a batch job would draw from the union of all fires (pytest
    pins this), so the emitted quantiles match the batch spelling
    bit-for-bit.

    Exactly-once: the module's fire discipline (`_drain_fires`), as
    for streaming_kmv_pipeline; full-row dedup inside the merge
    additionally makes a replayed fold a no-op. Returns the number of
    fired batches."""
    from unstract_spark.operators import sketches

    stream = _parquet_stream(spark, source_dir, schema)
    state_ddl = f"h long, {value_col} {_col_type(stream, value_col)}"

    def fire(batch: DataFrame, bid: int) -> None:
        bsmp = sketches.kmv_row_sample(batch, key_col, [value_col], k)
        old = _read_prior_snapshot(spark, store_dir, bid, state_ddl)
        merged = sketches.kmv_row_sample_merge(
            bsmp, old, cols=[value_col], k=k
        )
        # Direct write (r13): lineage reads only the max-prior
        # snapshot (< bid), never the write target; the quantile cut
        # re-reads the just-committed O(k) snapshot.
        merged.write.mode("overwrite").parquet(f"{store_dir}/batch_id={bid}")
        snap = spark.read.schema(state_ddl).parquet(
            f"{store_dir}/batch_id={bid}"
        )
        sketches.quantiles_of_sample(snap, value_col, k, qs).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={bid}")
        _prune_superseded(store_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_ohlc_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    level: str = "hour",
    schema: str = (
        "event_id long, ts timestamp, event_type string, value double"
    ),
) -> int:
    """Incremental OHLC candle maintenance: each AvailableNow fire
    computes the NEW rows' candle partials (timeseries.ohlc_partials),
    folds them into the accumulated per-(key, bucket) partial store
    (ohlc_merge_partials — open keeps the earlier (ts, id) side,
    close the later, high/low/count by max/min/sum), writes the
    merged store snapshot, and emits the full candle set
    (ohlc_from_partials) — the streaming twin of events_ohlc_bars,
    proving candle partials merge to exactly the batch answer across
    fires (pytest pins this row-for-row). The continuous-aggregate
    shape for the candle family, as streaming_rollup_pipeline is for
    sums.

    State is one partial row per live (key, bucket) — bounded by the
    bucket domain, never by row count. Exactly-once: the module's fire
    discipline (`_drain_fires`); the store read excludes the current
    epoch, so a replayed fold cannot double-count. Returns fired
    batches.
    """
    from unstract_spark.operators import timeseries

    def partials(events: DataFrame) -> DataFrame:
        return timeseries.ohlc_partials(
            events,
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            level=level,
        )

    stream = _parquet_stream(spark, source_dir, schema)
    # the partial columns keep the source's key/ts/id/value types
    state_schema = partials(stream).schema

    def fire(batch: DataFrame, bid: int) -> None:
        old = _read_prior_snapshot(spark, store_dir, bid, state_schema)
        merged = timeseries.ohlc_merge_partials(
            partials(batch).unionByName(old)
        )
        # Direct write (r13): lineage reads only the max-prior
        # snapshot; the bar projection re-reads the committed partials.
        merged.write.mode("overwrite").parquet(f"{store_dir}/batch_id={bid}")
        snap = spark.read.schema(state_schema).parquet(
            f"{store_dir}/batch_id={bid}"
        )
        timeseries.ohlc_from_partials(snap, key_col=key_col).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={bid}")
        _prune_superseded(store_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_scd2_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    key_col: str = "k",
    seq_col: str = "seq",
    ts_col: str = "ts",
    schema: str = "k long, seq long, ts timestamp, val string",
) -> int:
    """Incremental SCD TYPE 2 maintenance — the streaming twin of
    joins.scd2_build: the state is each key's OPEN version (plus its
    absolute version number); every fire re-runs the churn-sized
    version window over (open version ∪ new changes), CLOSES all but
    the per-key latest (their valid_to becomes the next change's ts)
    and emits them append-only, and keeps the latest as the new open
    version. Under in-order per-key `ts` delivery (the standing
    sessionizer caveat) closed ∪ open equals batch scd2_build of
    every change that ever arrived — validity bounds AND version
    numbers, which the twin test pins row for row.

    Exactly-once: the module's fire discipline (`_drain_fires`); the
    open versions are a snapshot store, the emitted closed versions
    are the dimension's content and never pruned. Returns fired batch
    count."""
    from unstract_spark.operators.joins import scd2_build

    stream = _parquet_stream(spark, source_dir, schema)
    payload = stream.columns
    state_schema = T.StructType(
        stream.schema.fields + [T.StructField("version", T.LongType())]
    )

    def fire(batch: DataFrame, bid: int) -> None:
        old = _read_prior_snapshot(spark, state_dir, bid, state_schema)
        b = batch.withColumn("_vbase", F.lit(1).cast("long")).unionByName(
            old.withColumnRenamed("version", "_vbase")
        )
        # _vbase rides along: the OPEN version carries its absolute
        # number; new rows carry 1. Per key the open version (if any)
        # is the earliest ts, so max(_vbase) is its number.
        built = scd2_build(b, key_col, seq_col, ts_col)
        wk = Window.partitionBy(key_col)
        m = built.withColumn(
            "_maxv", F.max("version").over(wk)
        ).withColumn("_base", F.max("_vbase").over(wk)).withColumn(
            "abs_version",
            (F.col("_base") + F.col("version") - 1).cast("long"),
        ).localCheckpoint(eager=True)
        closed = m.filter(F.col("version") < F.col("_maxv")).select(
            *payload,
            F.col("abs_version").alias("version"),
            "valid_from",
            "valid_to",
        )
        state = m.filter(F.col("version") == F.col("_maxv")).select(
            *payload, F.col("abs_version").alias("version")
        )
        closed.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={bid}"
        )
        state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={bid}"
        )
        _prune_superseded(state_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (out_dir, state_dir), fire)


def read_scd2_view(
    spark: SparkSession, state_dir: str, out_dir: str, ts_col: str = "ts"
) -> DataFrame:
    """Closed versions (all epochs) plus each key's open version
    (valid_to NULL), matching batch scd2_build's output shape.

    `ts_col` names the change-timestamp column (mirroring the
    pipeline's parameter — the open version's valid_from); positional
    inference would silently mislabel validity bounds for any schema
    that does not place ts third, so the column is named, and a schema
    that lacks it fails loudly here rather than mislabeling."""
    latest = max(_prior_bids(state_dir, None))
    st = spark.read.parquet(f"{state_dir}/batch_id={latest}")
    if ts_col not in st.columns:
        raise ValueError(
            f"read_scd2_view: ts_col {ts_col!r} not in state columns"
            f" {st.columns}"
        )
    open_v = st.withColumn(
        "valid_from", F.col(ts_col)
    ).withColumn("valid_to", F.lit(None).cast(st.schema[ts_col].dataType))
    closed = spark.read.parquet(out_dir).drop("batch_id")
    return closed.unionByName(open_v)


def streaming_triangle_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    schema: str = "src long, dst long",
) -> int:
    """Incremental TRIANGLE counting under edge insertions — the
    graph twin of the delta-join view: a new triangle contains 1, 2,
    or 3 edges from the current fire, and each class is enumerated
    exactly once —

    - one new edge (u,v): common neighbors via the OLD adjacency on
      both sides (the other two edges are old by construction);
    - two new edges: the unique wedge they form at their shared
      vertex, closed by an OLD edge;
    - three new edges: wedges at the (id-)smallest vertex only,
      closed inside the batch — counted once per triangle.

    Per-node participation deltas then fold into the accumulated
    counts by addition, so the stored counts after N fires equal
    batch graph.triangle_count of every edge that ever arrived (the
    twin test pins it per node, with a fire exercising every class).

    Batch edges are canonicalized (src < dst), deduped, and
    anti-joined against the accumulated edge set — re-inserted edges
    are no-ops. State: the edge set (append-per-epoch partitions) and
    the per-node count snapshot; exactly-once is the module's fire
    discipline (`_drain_fires`). All joins are node-keyed equi-joins.
    Returns fired batch count."""
    stream = _parquet_stream(spark, source_dir, schema)
    counts_ddl = f"node {_col_type(stream, 'src')}, n_triangles long"

    def fire(batch: DataFrame, bid: int) -> None:
        canon = batch.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst")).distinct()
        old = _read_parquet_or_none(spark, f"{state_dir}/edges")
        if old is not None:
            old = old.filter(F.col("batch_id") != bid).select(
                "src", "dst"
            ).localCheckpoint(eager=True)
        else:
            old = spark.createDataFrame([], "src long, dst long")
        de = canon.join(old, ["src", "dst"], "left_anti").localCheckpoint(
            eager=True
        )
        old_adj = old.unionByName(
            old.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        d_adj = de.unionByName(
            de.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        # class 1: (u,v) new; w adjacent to BOTH via old edges
        a1 = old_adj.select(
            F.col("src").alias("u"), F.col("dst").alias("w")
        )
        a2 = old_adj.select(
            F.col("src").alias("v"), F.col("dst").alias("w2")
        )
        t1 = (
            de.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .join(a1, "u")
            .join(a2.withColumnRenamed("w2", "w"), ["v", "w"])
            .select("u", F.col("v").alias("b"), F.col("w").alias("c"))
            .withColumnRenamed("u", "a")
        )
        # class 2: two new edges wedge at shared vertex a, old closing
        w1 = d_adj.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        w2 = d_adj.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        wedge2 = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
        t2 = wedge2.join(
            old.select(
                F.col("src").alias("b"), F.col("dst").alias("c")
            ),
            ["b", "c"],
        ).select("a", "b", "c")
        # class 3: all-new; wedge at the smallest vertex only
        wedge3 = w1.join(w2, "a").filter(
            (F.col("a") < F.col("b")) & (F.col("b") < F.col("c"))
        )
        t3 = wedge3.join(
            de.select(F.col("src").alias("b"), F.col("dst").alias("c")),
            ["b", "c"],
        ).select("a", "b", "c")
        tris = t1.unionByName(t2).unionByName(t3)
        delta = (
            tris.select(F.col("a").alias("node"))
            .unionAll(tris.select(F.col("b").alias("node")))
            .unionAll(tris.select(F.col("c").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        )
        oldc = _read_prior_snapshot(
            spark, out_dir, bid, counts_ddl
        ).withColumnRenamed("n_triangles", "_old")
        merged = delta.join(oldc, "node", "full_outer").select(
            "node",
            (
                F.coalesce(F.col("_d"), F.lit(0))
                + F.coalesce(F.col("_old"), F.lit(0))
            ).cast("long").alias("n_triangles"),
        )
        # Direct write (r13): lineage reads only the max-prior
        # cumulative snapshot (< bid), never the write target.
        merged.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={bid}"
        )
        de.write.mode("overwrite").parquet(
            f"{state_dir}/edges/batch_id={bid}"
        )
        _prune_superseded(out_dir, bid)

    return _drain_fires(
        stream, checkpoint_dir, (f"{state_dir}/edges", out_dir), fire
    )


def streaming_islands_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    key_col: str = "k",
    start_col: str = "s",
    end_col: str = "e",
    order_col: str = "id",
    schema: str = "k long, s long, e long, id long",
) -> int:
    """Incremental gaps-and-islands — the streaming twin of
    joins.merge_intervals: per key the state is ONE open island
    (start, max end, interval count, islands closed so far); each
    fire re-merges the batch's intervals together with the open
    island (fed back as a weighted synthetic interval, so counts
    carry), CLOSES every resulting island except the per-key last —
    under in-order-by-start delivery nothing in the future can touch
    them — and keeps the last as the new open island.

    In-order contract: across fires, every interval's start must be
    >= all starts already seen for its key (the standing sessionizer
    ordering caveat; route late data through a watermark upstream).
    Under it, closed ∪ open equals batch merge_intervals of
    everything that arrived — island numbers included (the state
    carries each key's closed-count offset), which the twin test
    pins row for row.

    Closed islands append per epoch (they are the result, never
    pruned); open islands are a snapshot store. Exactly-once: the
    module's fire discipline (`_drain_fires`). Returns fired count.
    """
    from unstract_spark.operators.joins import merge_intervals

    stream = _parquet_stream(spark, source_dir, schema)
    state_ddl = (
        f"{key_col} {_col_type(stream, key_col)},"
        f" open_start {_col_type(stream, start_col)},"
        f" open_end {_col_type(stream, end_col)},"
        " open_n long, closed_cnt long"
    )

    def fire(batch: DataFrame, bid: int) -> None:
        b = batch.select(
            key_col,
            start_col,
            end_col,
            F.col(order_col).alias("_ord"),
            F.lit(1).cast("long").alias("_w"),
        )
        old = _read_prior_snapshot(spark, state_dir, bid, state_ddl)
        base_cnt = old.select(key_col, F.col("closed_cnt").alias("_base"))
        b = b.unionByName(
            old.select(
                key_col,
                F.col("open_start").alias(start_col),
                F.col("open_end").alias(end_col),
                F.lit(-1).cast("long").alias("_ord"),
                F.col("open_n").alias("_w"),
            )
        )
        merged = merge_intervals(
            b, key_col, start_col, end_col, "_ord", weight_col="_w"
        )
        wmax = Window.partitionBy(key_col)
        m = merged.withColumn(
            "_last", F.max("island").over(wmax)
        ).join(base_cnt, key_col, "left").withColumn(
            "_base", F.coalesce(F.col("_base"), F.lit(0))
        ).localCheckpoint(eager=True)
        closed = m.filter(F.col("island") < F.col("_last")).select(
            key_col,
            (F.col("_base") + F.col("island")).cast("long").alias(
                "island_no"
            ),
            "island_start",
            "island_end",
            "n_intervals",
            "covered",
        )
        state = m.filter(F.col("island") == F.col("_last")).select(
            key_col,
            F.col("island_start").alias("open_start"),
            F.col("island_end").alias("open_end"),
            F.col("n_intervals").alias("open_n"),
            (F.col("_base") + F.col("_last") - 1).cast("long").alias(
                "closed_cnt"
            ),
        )
        closed.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={bid}"
        )
        state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={bid}"
        )
        _prune_superseded(state_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (out_dir, state_dir), fire)


def read_islands_view(
    spark: SparkSession, state_dir: str, out_dir: str
) -> DataFrame:
    """Closed islands (all epochs) plus each key's open island,
    numbered as batch merge_intervals would number them."""
    latest = max(_prior_bids(state_dir, None))
    st = spark.read.parquet(f"{state_dir}/batch_id={latest}")
    key = st.columns[0]
    open_isl = st.select(
        key,
        (F.col("closed_cnt") + 1).alias("island_no"),
        F.col("open_start").alias("island_start"),
        F.col("open_end").alias("island_end"),
        F.col("open_n").alias("n_intervals"),
        (F.col("open_end") - F.col("open_start")).alias("covered"),
    )
    closed = spark.read.parquet(out_dir).drop("batch_id")
    return closed.unionByName(open_isl)


def streaming_cms_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    schema: str = "doc_id long, text string",
) -> int:
    """Incremental COUNT-MIN sketch — the streaming twin of
    text_analysis.count_min_sketch, completing that family's
    batch/streaming pair: the CMS is LINEAR (cell-wise counter
    addition IS the merge, with no re-min step and no approximation
    at merge time), so per-fire matrices fold into the accumulated
    matrix by one groupBy(j, bucket) sum and the stored matrix after
    N fires equals the batch sketch of everything that streamed —
    EXACT matrix equality, which the twin test pins cell for cell.

    State is depth x width counters however much text has streamed;
    each fire shuffles at most the batch's occupied cells. Estimates
    come from the ordinary cms_lookup against the stored matrix.
    Exactly-once: the module's fire discipline (`_drain_fires`).
    Returns fired batch count."""
    from unstract_spark.operators.text_analysis import count_min_sketch

    def fire(batch: DataFrame, bid: int) -> None:
        delta = count_min_sketch(
            batch, text_col=text_col, depth=depth, width=width
        )
        old = _read_prior_snapshot(
            spark, store_dir, bid, "j int, bucket long, cnt long"
        )
        merged = (
            delta.unionByName(old)
            .groupBy("j", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        # Direct write (r13): single consumer, lineage reads only the
        # max-prior snapshot — no materialization barrier needed.
        merged.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )
        _prune_superseded(store_dir, bid)

    stream = _parquet_stream(spark, source_dir, schema)
    return _drain_fires(stream, checkpoint_dir, (store_dir,), fire)


def streaming_upsert_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    key_col: str = "k",
    seq_col: str = "seq",
    op_col: str = "op",
    schema: str = "k long, seq long, op string, val string",
) -> int:
    """Incremental keyed UPSERT view — the compacted-topic /
    continuously-MERGEd-table shape, the streaming twin of
    joins.changelog_apply: each fire folds its changelog batch into
    the per-key latest state by (seq, op) maximum, so the view after
    N fires equals the batch changelog_apply over every change that
    ever arrived — in ANY cross-fire delivery order, because the
    state keeps each key's winning `seq` and a late lower-seq change
    simply loses the comparison.

    Deletes are retained as TOMBSTONES (key, seq, op='D') rather than
    dropped: dropping them would let a late out-of-order update
    resurrect a deleted key. `read_upsert_view` filters them out;
    tombstone retirement (dropping tombstones older than the maximum
    possible delivery delay) is a retention policy for the caller.

    State is one row per live-or-tombstoned key. Exactly-once: the
    module's fire discipline (`_drain_fires`). Returns fired batch
    count."""
    stream = _parquet_stream(spark, source_dir, schema)

    def fire(batch: DataFrame, bid: int) -> None:
        old = _read_prior_snapshot(spark, store_dir, bid, stream.schema)
        merged = batch.unionByName(old)
        w = Window.partitionBy(key_col).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        state = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # Direct write (r13): single consumer, lineage reads only the
        # max-prior snapshot.
        state.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )
        _prune_superseded(store_dir, bid)

    return _drain_fires(stream, checkpoint_dir, (store_dir,), fire)


def read_upsert_view(
    spark: SparkSession, store_dir: str, op_col: str = "op"
) -> DataFrame:
    """The live rows of the latest upsert snapshot (tombstones
    filtered)."""
    latest = max(_prior_bids(store_dir, None))
    return spark.read.parquet(f"{store_dir}/batch_id={latest}").filter(
        F.col(op_col) != "D"
    )


def streaming_join_view_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    key_col: str = "k",
    schema: str = "side string, k long, val string",
) -> int:
    """Incremental VIEW MAINTENANCE of an inner equi-join — the delta
    rule every IVM system (materialized views, differential dataflow,
    DBSP) is built on, spelled in Spark micro-batches without the
    stream-stream watermark machinery: rows arrive tagged 'L'/'R' in
    one source, and each fire emits exactly the join rows the batch
    made newly true,

        delta = dL >< R_old  UNION ALL  L_old >< dR
                UNION ALL  dL >< dR,

    so every (l, r) pair appears in exactly one fire (classified by
    which epoch completed it) and the UNION of all emitted deltas
    equals the batch join of everything that ever arrived — the twin
    test pins that identity, arrivals interleaved both directions.

    State is the full accumulated L and R (join IVM state is O(data)
    by nature — honest; bound it upstream with retention filters when
    sides are unbounded). Each fire appends its new rows to the state;
    exactly-once is the module's fire discipline (`_drain_fires`), so
    crash replays reconstruct the same delta instead of
    double-counting. The emitted delta partitions are append-only BY
    DESIGN (they are the view's content — pruning them would delete
    the view). Returns fired batch count."""

    def fire(batch: DataFrame, bid: int) -> None:
        payload = [c for c in batch.columns if c != "side"]
        dl = batch.filter(F.col("side") == "L").select(*payload)
        dr = batch.filter(F.col("side") == "R").select(*payload)
        l_old = _read_parquet_or_none(spark, f"{state_dir}/L")
        r_old = _read_parquet_or_none(spark, f"{state_dir}/R")
        if l_old is not None:
            l_old = l_old.filter(F.col("batch_id") != bid).select(*payload)
        else:
            l_old = spark.createDataFrame([], dl.schema)
        if r_old is not None:
            r_old = r_old.filter(F.col("batch_id") != bid).select(*payload)
        else:
            r_old = spark.createDataFrame([], dr.schema)

        def _pair(left: DataFrame, right: DataFrame) -> DataFrame:
            lt = left.select(
                F.col(key_col).alias("_lk"),
                *[
                    F.col(c).alias(f"l_{c}")
                    for c in payload
                    if c != key_col
                ],
            )
            rt = right.select(
                F.col(key_col).alias("_rk"),
                *[
                    F.col(c).alias(f"r_{c}")
                    for c in payload
                    if c != key_col
                ],
            )
            return lt.join(rt, lt["_lk"] == rt["_rk"]).select(
                F.col("_lk").alias(key_col),
                *[f"l_{c}" for c in payload if c != key_col],
                *[f"r_{c}" for c in payload if c != key_col],
            )

        delta = (
            _pair(dl, r_old)
            .unionByName(_pair(l_old, dr))
            .unionByName(_pair(dl, dr))
        )
        # materialize: delta's lineage reads the state dirs whose
        # current partitions the writes below replace on replay
        delta = delta.localCheckpoint(eager=True)
        delta.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        dl.write.mode("overwrite").parquet(
            f"{state_dir}/L/batch_id={bid}"
        )
        dr.write.mode("overwrite").parquet(
            f"{state_dir}/R/batch_id={bid}"
        )

    stream = _parquet_stream(spark, source_dir, schema)
    roots = (out_dir, f"{state_dir}/L", f"{state_dir}/R")
    return _drain_fires(stream, checkpoint_dir, roots, fire)


def streaming_dq_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    checks,
    schema: str = "doc_id long, text string",
) -> int:
    """Incremental DATA-QUALITY monitoring: maintain the expectation
    suite's violation counters across fires — the streaming twin of
    profile.expectation_report for its DISTRIBUTIVE subset. `checks`
    is the same (name, violation_condition) list; per fire ONE wide
    CASE-sum aggregate prices every check over the new rows, and the
    per-check counters fold into the accumulated report by pure
    addition (counts and CASE sums are distributive — the twin test
    pins cross-fire == batch suite of the union).

    Uniqueness and referential checks are deliberately NOT offered
    here: neither is distributive over row batches (a duplicate can
    span fires; a dangling reference can heal when the dimension row
    arrives late) — the batch suite prices those, honestly.

    State: one row per check however much history streamed.
    Exactly-once: the module's fire discipline (`_drain_fires`).
    Returns fired batch count."""

    def fire(batch: DataFrame, bid: int) -> None:
        aggs = [F.count(F.lit(1)).alias("_n")]
        names = []
        for name, cond in checks:
            names.append(name)
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(
                    f"_v{len(names) - 1}"
                )
            )
        wide = batch.agg(*aggs)
        pairs = ", ".join(f"'{n}', _v{i}" for i, n in enumerate(names))
        delta = wide.selectExpr(
            f"stack({len(names)}, {pairs})"
            " AS (check_name, n_violations)",
            "_n AS n_checked",
        )
        old = _read_prior_snapshot(
            spark,
            store_dir,
            bid,
            "check_name string, n_checked long, n_violations long,"
            " status string",
        ).select(
            "check_name",
            F.col("n_checked").alias("_oc"),
            F.col("n_violations").alias("_ov"),
        )
        delta = delta.join(old, "check_name", "left").select(
            "check_name",
            (
                F.col("n_checked") + F.coalesce(F.col("_oc"), F.lit(0))
            ).cast("long").alias("n_checked"),
            (
                F.col("n_violations") + F.coalesce(F.col("_ov"), F.lit(0))
            ).cast("long").alias("n_violations"),
        )
        state = delta.withColumn(
            "status",
            F.when(F.col("n_violations") == 0, F.lit("pass")).otherwise(
                F.lit("fail")
            ),
        )
        # Direct write (r13): single consumer, lineage reads only the
        # max-prior snapshot.
        state.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )
        _prune_superseded(store_dir, bid)

    stream = _parquet_stream(spark, source_dir, schema)
    return _drain_fires(stream, checkpoint_dir, (store_dir,), fire)


def streaming_stats_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    acc_dir: str,
    stats_path: str,
    table: str,
    columns: list[str],
    k: int = 256,
    schema: str = "doc_id long, text string",
) -> int:
    """Incremental ANALYZE: keep a TableStatsStore FRESH as data
    streams in, never re-scanning history. Each fire sketches the new
    rows' columns (sketches.kmv_sketch), kmv_merges with the
    accumulated per-column sketch, adds the additive meta counters
    (n_rows, n_nonnull, rendered-length sum — decimal, exact), writes
    the cumulative accumulator snapshot, and PUBLISHES the result
    into the TableStatsStore layout — so stats_store.distinct_estimate
    / join_estimate / broadcast_advice answer from statistics that
    are exactly what a batch analyze() of everything-so-far would
    have produced (pytest pins this: merged sketch == sketch of the
    union by the mergeability law; counters add exactly).

    State per column is k hash longs + 3 counters however much
    history has streamed. Exactly-once: the accumulator follows the
    module's fire discipline (`_drain_fires`); the publish step is a
    pure function of the committed accumulator, so a crash between
    commit and publish republishes identically on replay. Returns
    fired batches."""
    from unstract_spark.operators import sketches

    # the column= path partition carries the column name on read
    acc_ddl = (
        "h long, n_rows long, n_nonnull long, len_sum decimal(18,6),"
        " column string"
    )

    def _publish(col: str, sk: DataFrame, meta_row) -> None:
        sdir = os.path.join(stats_path, "sketch", f"table={table}",
                             f"column={col}")
        mdir = os.path.join(stats_path, "meta", f"table={table}",
                             f"column={col}")
        sk.select("h").write.mode("overwrite").parquet(sdir)
        n_nonnull = meta_row["n_nonnull"]
        avg = (
            None
            if n_nonnull == 0
            else float(meta_row["len_sum"]) / float(n_nonnull)
        )
        spark.createDataFrame(
            [(
                meta_row["n_rows"], n_nonnull, meta_row["n_sketch"],
                meta_row["kth_hash"], k, avg,
            )],
            "n_rows long, n_nonnull long, n_sketch long, "
            "kth_hash long, k long, avg_len double",
        ).coalesce(1).write.mode("overwrite").parquet(mdir)

    def fire(batch: DataFrame, bid: int) -> None:
        old = _read_prior_snapshot(spark, acc_dir, bid, acc_ddl)
        for col in columns:
            c = F.col(col)
            bsk = sketches.kmv_sketch(
                batch.select(c.cast("string").alias("_s")), "_s", k
            )
            counts = batch.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(c).alias("n_nonnull"),
                F.coalesce(
                    F.sum(
                        F.length(c.cast("string")).cast("decimal(18,6)")
                    ),
                    F.lit(0).cast("decimal(18,6)"),
                ).alias("len_sum"),
            ).collect()[0]
            n_rows, n_nonnull = counts["n_rows"], counts["n_nonnull"]
            len_sum = counts["len_sum"]
            oc = old.filter(F.col("column") == col)
            prev = oc.agg(
                F.max("n_rows").alias("n_rows"),
                F.max("n_nonnull").alias("n_nonnull"),
                F.max("len_sum").alias("len_sum"),
            ).collect()[0]
            if prev["n_rows"] is not None:
                n_rows += prev["n_rows"]
                n_nonnull += prev["n_nonnull"]
                len_sum = len_sum + prev["len_sum"]
            merged = sketches.kmv_merge(
                bsk, oc.select("h").where(F.col("h").isNotNull()), k=k
            ).localCheckpoint(eager=True)
            est = merged.agg(
                F.count(F.lit(1)).alias("n_sketch"),
                F.max("h").alias("kth_hash"),
            ).collect()[0]
            # snap holds only data fields (column= is the path)
            snap = merged.select(
                "h",
                F.lit(n_rows).cast("long").alias("n_rows"),
                F.lit(n_nonnull).cast("long").alias("n_nonnull"),
                F.lit(len_sum).cast("decimal(18,6)").alias("len_sum"),
            )
            if est["n_sketch"] == 0:
                # an all-null column still accumulates its row
                # counters: carry them on one null-hash sentinel row
                # (excluded from future merges by the isNotNull filter)
                snap = spark.createDataFrame(
                    [(None, n_rows, n_nonnull, len_sum)],
                    "h long, n_rows long, "
                    "n_nonnull long, len_sum decimal(18,6)",
                )
            snap.write.mode("overwrite").parquet(
                f"{acc_dir}/batch_id={bid}/column={col}"
            )
            _publish(col, merged, {
                "n_rows": n_rows, "n_nonnull": n_nonnull,
                "len_sum": len_sum, "n_sketch": est["n_sketch"],
                "kth_hash": est["kth_hash"],
            })
        _prune_superseded(acc_dir, bid)

    stream = _parquet_stream(spark, source_dir, schema)
    return _drain_fires(stream, checkpoint_dir, (acc_dir,), fire)


def streaming_ledger_sink(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    table_path: str,
    schema: str = "doc_id long, text string",
) -> int:
    """Transactional streaming sink: every foreachBatch commits
    through the manifest ledger's append with
    idempotency_key=stream-<query id>-batch-<epoch> — the exactly-once
    bridge between the streaming family and the ACID log.  Against the
    batch_id-partition sinks the other pipelines use, the ledger sink
    buys: atomic batch VISIBILITY (a reader never sees a partial
    batch — the segment only exists once its manifest commits),
    replay no-ops via the committed key (at-least-once foreachBatch
    redelivery lands nothing twice, even when the replay races a
    concurrent writer), and a queryable table (snapshot isolation,
    time travel, compaction, vacuum) instead of raw directories.

    The key names the checkpoint's lineage as well as the epoch:
    epochs restart at 0 for every new checkpoint, so a second source
    or a rebuilt checkpoint writing into the same table must not find
    its batches "already committed". The query id Spark keeps in
    `<checkpoint>/metadata` is fixed for the checkpoint's lifetime, so
    a replayed epoch still maps onto its committed key.

    Returns the number of fired batches.
    """
    from unstract_spark.sinks.manifest import ManifestTable

    table = ManifestTable(spark, table_path)
    fires = 0

    def process(batch: DataFrame, epoch: int) -> None:
        nonlocal fires
        if batch.isEmpty():
            return
        fires += 1
        # written by the query's start, before its first batch
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            query_id = json.loads(fh.readline())["id"]
        table.append(
            batch, idempotency_key=f"stream-{query_id}-batch-{int(epoch)}"
        )

    _drain(_parquet_stream(spark, source_dir, schema), process, checkpoint_dir)
    return fires


def streaming_crawl_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    frontier_dir: str,
    out_dir: str,
    robots: DataFrame | None = None,
    agent: str = "trainingbot",
    max_files_per_trigger: int = 1,
    fetcher: Callable[[list[str]], list[tuple]] | None = None,
    seed_urls: DataFrame | None = None,
    max_fetch_per_run: int = 100,
    discovered_dir: str | None = None,
    max_per_domain: int | None = None,
    crawl_delay_sec: float = 0.0,
    clock: Callable[[], float] | None = None,
) -> int:
    """Incremental crawl ingestion — the streaming twin of the
    web-corpus family: each AvailableNow fire demuxes newly-arrived
    WARC files (webcorpus.warc_records), canonicalizes URLs
    (normalize_urls), drops URLs already in the accumulated FRONTIER
    store (the crawl's long-horizon dedup key), optionally applies the
    robots.txt policy gate (apply_robots), extracts main content from
    the HTML bodies (html_main_content) — WET `conversion` records
    carry pre-extracted text and bypass the extractor — writes
    accepted documents, and appends the batch's url keys to the
    frontier.

    Exactly-once: the module's fire discipline (`_drain_fires`) over
    the out and frontier roots; a replayed batch never sees its own
    frontier keys, and a fresh checkpoint_dir pointed at a populated
    frontier/out root continues the crawl.

    Scale contract: the frontier read is metadata-pruned parquet +
    one anti-join on url_norm per fire (never a full-history rescan of
    document CONTENT); WARC demux is blob-local Arrow batches; robots
    rules stay one broadcast array row per domain.

    Fetch seam (the providers.py injected-transport pattern): when
    `fetcher` and `seed_urls` (one `url` column — sitemap seeding is
    `parse_sitemap(...)​.select(loc AS url)`) are given, a POST-DRAIN
    step gives the frontier consumer semantics, mirroring the queue
    consumer's sweep: normalize the seeds, anti-join the frontier
    (already-crawled seeds drop), apply the robots gate, claim up to
    `max_fetch_per_run` (a driver-bounded batch, the claim_batch
    shape), call `fetcher(urls) -> [(url, http_status, body)]`, run
    status-200 bodies through the same HTML extraction, and commit to
    out + frontier under the disjoint _FETCH_BASE partition namespace.
    Each later run re-derives pending as seeds-minus-frontier, so the
    frontier DRAINS across runs and a crashed run's unfetched claim
    simply re-pends (at-least-once; duplicates fold on doc_key). No
    network code lives here — a real fetcher is injected by the
    operator of the crawl, exactly like the LLM/embedding transports.

    `discovered_dir` arms LINK EXPANSION — the full crawl loop: each
    fetch commit also extracts the fetched pages' anchor hrefs
    (webcorpus.extract_links, resolved absolute), appends them to the
    discovered store, and later runs derive pending from seeds UNION
    discovered — the crawl expands hop by hop, robots-gated and
    frontier-deduped like every other URL, with per-run work still
    bounded by max_fetch_per_run.

    Politeness (the robots gate alone is NOT politeness — at scale a
    url_norm-ordered claim hammers whichever domain sorts first):
    - `max_per_domain` caps the claim at k URLs per domain per fetch
      step, and the claim interleaves ROUND-ROBIN across domains
      (ordered by per-domain rank, then a per-step domain rotation
      hash(domain, fid), then url_norm) so one mega-domain's frontier
      backlog drains k-at-a-time while every other domain proceeds,
      and a budget that binds before the domain list is exhausted
      rotates across steps instead of starving the trailing domains —
      the claim stays deterministic for crash re-runs.
    - `crawl_delay_sec`, or any Crawl-delay directive in `robots`,
      arms a per-domain delay ledger (persisted at the sibling path
      `<frontier_dir>_domain_ledger`): each fetch step records
      (domain, ts) for its claim; a later claim skips domains fetched
      less than their delay ago. Each domain's delay is its robots
      Crawl-delay for `agent` (robots_crawl_delays group selection:
      agent-specific group, else '*'), falling back to the global
      crawl_delay_sec knob when the domain carries no directive.
      `clock` injects time for tests (defaults to time.time).
      The ledger write precedes the fetcher CALL itself, so a crash
      anywhere in the fetch/commit window leaves the just-contacted
      domains cooling (the replay waits out the delay) rather than
      re-hammering them; each write is a compacted snapshot (one
      max-ts row per still-cooling domain) and superseded partitions
      are pruned, keeping the ledger O(live domains) over a crawl's
      lifetime.

    Returns the number of non-empty fired batches (a fetch step that
    claimed at least one URL counts as one fire).
    """
    from unstract_spark.operators import webcorpus

    rules = webcorpus.robots_rules(robots).localCheckpoint(eager=True) if robots is not None else None
    # discovered_dir joins the namespace roots whenever link expansion
    # is armed: collision-freedom for discovered partitions must not
    # ride on the implicit "a discovered write always follows an out
    # write at the same fid" invariant — if out_dir were ever cleaned
    # or re-derived independently, a new run's fid could otherwise
    # silently overwrite a committed discovered partition and prune
    # the crawl tree.
    ns_roots = (out_dir, frontier_dir) + (
        (discovered_dir,) if discovered_dir is not None else ()
    )

    def fire(batch: DataFrame, bid: int) -> None:
        recs = webcorpus.warc_records(
            batch.select("path", "content"), payload_col="content"
        ).filter(F.col("rec_type").isin("response", "conversion"))
        urls = webcorpus.normalize_urls(recs, url_col="url").withColumn(
            "url_path", F.parse_url(F.col("url"), F.lit("PATH"))
        )
        # in-batch dedup first (a crawl drop can repeat a URL), then
        # frontier anti-join against every PRIOR epoch
        urls = urls.dropDuplicates(["url_norm"])
        seen = _read_parquet_or_none(spark, frontier_dir)
        if seen is not None:
            seen = seen.filter(F.col("batch_id") != bid).select("url_norm")
            urls = urls.join(seen, "url_norm", "left_anti")
        if rules is not None:
            urls = webcorpus.apply_robots(
                urls, rules, agent=agent, domain_col="domain", path_col="url_path"
            ).filter(F.col("allowed"))
        # WET `conversion` records carry ALREADY-EXTRACTED plain text:
        # they bypass the HTML extractor (n_kept/n_dropped are not
        # meaningful there -> 1/0 by convention)
        html_rows = urls.filter(F.col("rec_type") == "response")
        wet_rows = urls.filter(F.col("rec_type") == "conversion")
        docs = webcorpus.html_main_content(
            html_rows.select(F.col("url_norm"), F.col("body").alias("html")),
            html_col="html",
            id_col="url_norm",
        ).join(html_rows.select("url_norm", "domain"), "url_norm").unionByName(
            wet_rows.select(
                "url_norm",
                F.col("body").alias("main_text"),
                F.lit(1).cast("long").alias("n_kept"),
                F.lit(0).cast("long").alias("n_dropped"),
                "domain",
            )
        )
        accepted = docs.select(
            F.xxhash64("url_norm").alias("doc_key"),
            "url_norm",
            "domain",
            "main_text",
            "n_kept",
            "n_dropped",
        ).localCheckpoint(eager=True)
        accepted.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        accepted.select("url_norm").write.mode("overwrite").parquet(
            f"{frontier_dir}/batch_id={bid}"
        )

    schema = "path string, modificationTime timestamp, length long, content binary"
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(source_dir)
    )
    fires = _drain_fires(
        stream, checkpoint_dir, ns_roots, fire, below=_FETCH_BASE
    )

    # Post-drain fetch step: consume the frontier's PENDING side
    # (seeds not yet crawled) through the injected fetcher. Runs after
    # the stream drain — like the queue consumer's sweep — so it sees
    # the run's own commits in the frontier and never re-fetches what
    # a drop just ingested.
    if fetcher is not None and seed_urls is not None:
        raw_pending = seed_urls.select("url")
        if discovered_dir is not None:
            found = _read_parquet_or_none(spark, discovered_dir)
            if found is not None:
                raw_pending = raw_pending.unionByName(found.select("url"))
        pending = (
            webcorpus.normalize_urls(raw_pending, url_col="url")
            .withColumn("url_path", F.parse_url(F.col("url"), F.lit("PATH")))
            .dropDuplicates(["url_norm"])
        )
        seen = _read_parquet_or_none(spark, frontier_dir)
        if seen is not None:
            pending = pending.join(
                seen.select("url_norm"), "url_norm", "left_anti"
            )
        if rules is not None:
            pending = webcorpus.apply_robots(
                pending, rules, agent=agent,
                domain_col="domain", path_col="url_path",
            ).filter(F.col("allowed"))
        # politeness gate 1: domains fetched less than their delay ago
        # sit this step out (their URLs re-pend — the frontier only
        # learns CLAIMED urls, so nothing is lost, just deferred).
        # The per-domain delay comes from robots.txt Crawl-delay
        # directives (robots_crawl_delays — the de-facto extension
        # alongside RFC 9309, group-selected for `agent`); domains
        # without a directive fall back to the global crawl_delay_sec.
        import time as _time

        now = (clock or _time.time)()
        delays = None  # (domain, delay_sec) from robots Crawl-delay
        if robots is not None:
            d = webcorpus.robots_crawl_delays(
                robots, agent=agent
            ).localCheckpoint(eager=True)
            delays = d if d.count() > 0 else None
        polite = crawl_delay_sec > 0 or delays is not None
        # SIBLING of the frontier, not inside it: a crash between
        # the ledger commit and the frontier commit must not leave
        # the frontier root existing-but-empty (only hidden
        # children), which fails schema inference on the next read
        ledger_dir = f"{frontier_dir.rstrip('/')}_domain_ledger"
        live = None  # (domain, ts): still-cooling-relevant ledger rows
        if polite:
            ledger = _read_parquet_or_none(spark, ledger_dir)
            if ledger is not None:
                # entries older than now - delay(domain) can never gate
                # a future claim (ts only gets staler) — drop them
                # here; `live` doubles as this step's compaction
                # source, so the ledger stays O(still-cooling domains)
                cooled = ledger.groupBy("domain").agg(
                    F.max("ts").alias("ts")
                )
                if delays is not None:
                    cooled = cooled.join(
                        F.broadcast(delays), "domain", "left"
                    ).withColumn(
                        "_delay",
                        F.coalesce(
                            "delay_sec", F.lit(float(crawl_delay_sec))
                        ),
                    )
                else:
                    cooled = cooled.withColumn(
                        "_delay", F.lit(float(crawl_delay_sec))
                    )
                live = cooled.filter(
                    F.lit(float(now)) - F.col("ts") < F.col("_delay")
                ).select("domain", "ts")
                pending = pending.join(
                    live.select("domain"), "domain", "left_anti"
                )
        # the fetch partition id is derived BEFORE the claim: the
        # domain rotation below keys on it, and it is pure directory
        # state (max committed id + 1), so an exact re-run sees the
        # same fid and claims the same prefix
        fid = _run_base(*ns_roots, base=_FETCH_BASE)
        # politeness gate 2: at most max_per_domain URLs per domain per
        # step, claimed round-robin across domains (rank-major order).
        # The cross-domain order within each rank ROTATES by fetch step
        # (xxhash64(domain, fid)) — a fixed url_norm order would let
        # max_fetch_per_run starve the trailing domains DETERMINISTICALLY
        # whenever it binds before the domain list is exhausted (r10
        # verdict #4); the rotation shares the claim budget across
        # steps while staying deterministic for a same-fid crash re-run.
        order = [F.col("url_norm")]
        cols = ["url_norm"]
        if max_per_domain is not None:
            w = Window.partitionBy("domain").orderBy("url_norm")
            pending = pending.withColumn(
                "_rank", F.row_number().over(w)
            ).withColumn(
                "_rot", F.xxhash64(F.col("domain"), F.lit(int(fid)))
            ).filter(F.col("_rank") <= max_per_domain)
            order = [F.col("_rank"), F.col("_rot"), F.col("url_norm")]
            cols = ["url_norm", "_rank", "_rot"]
        # claim a driver-bounded batch (the claim_batch shape); stable
        # order so a re-run claims the same prefix
        claim = [
            r.url_norm
            for r in pending.select(*cols)
            .orderBy(*order)
            .limit(max_fetch_per_run)
            .collect()
        ]
        if claim:
            fires += 1
            # politeness ledger BEFORE the fetch (review r10): the
            # claim's domains start cooling at claim time, so a crash
            # anywhere in the fetch/commit window leaves them cooling
            # and the replay waits out the delay instead of
            # re-hammering the just-fetched hosts. The write is a
            # COMPACTED snapshot (still-cooling prior rows + this
            # claim's domains, one max-ts row per domain); older
            # ledger partitions are pruned after the frontier commit,
            # so the ledger stays O(live domains) instead of growing
            # one partition per fetch step forever.
            if polite:
                snap = webcorpus.normalize_urls(
                    spark.createDataFrame([(u,) for u in claim], "url string"),
                    url_col="url",
                ).select("domain").distinct().withColumn(
                    "ts", F.lit(float(now))
                )
                if live is not None:
                    snap = snap.unionByName(live).groupBy("domain").agg(
                        F.max("ts").alias("ts")
                    )
                # materialize BEFORE the overwrite: snap's lineage
                # lazily reads ledger_dir, and on crash replay the
                # target partition already exists and feeds the read —
                # a cluster committer that deletes the target before
                # the job would otherwise corrupt the very
                # crash-recovery path the ledger protects (r10
                # ADVICE). O(live domains), same convention as
                # `accepted` above.
                snap = snap.localCheckpoint(eager=True)
                snap.write.mode("overwrite").parquet(
                    f"{ledger_dir}/batch_id={fid}"
                )
            fetched = fetcher(claim)
            fdf = spark.createDataFrame(
                list(fetched), "url string, http_status int, body string"
            )
            ok = webcorpus.normalize_urls(
                fdf.filter(F.col("http_status") == 200), url_col="url"
            ).dropDuplicates(["url_norm"])
            docs = webcorpus.html_main_content(
                ok.select(F.col("url_norm"), F.col("body").alias("html")),
                html_col="html",
                id_col="url_norm",
            ).join(ok.select("url_norm", "domain"), "url_norm")
            accepted = docs.select(
                F.xxhash64("url_norm").alias("doc_key"),
                "url_norm",
                "domain",
                "main_text",
                "n_kept",
                "n_dropped",
            ).localCheckpoint(eager=True)
            accepted.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={fid}"
            )
            # Discovered links must commit BEFORE the frontier write:
            # the frontier entry is the claim-completion marker, and a
            # crash after it would otherwise permanently prune the
            # crawl tree (the fetched page never re-pends, so its
            # out-links would never be extracted again).
            if discovered_dir is not None:
                links = webcorpus.extract_links(
                    ok.select(
                        F.col("url_norm").alias("base_url"),
                        F.col("body").alias("html"),
                    ),
                    html_col="html",
                    base_url_col="base_url",
                )
                links.select(
                    F.col("dst_url").alias("url")
                ).distinct().write.mode("overwrite").parquet(
                    f"{discovered_dir}/batch_id={fid}"
                )
            # EVERY claimed url enters the frontier — including non-200
            # fetches — so dead links don't re-pend forever; a crash
            # between fetch and this commit re-pends the whole claim
            # (at-least-once; duplicates fold on doc_key)
            spark.createDataFrame(
                [(u,) for u in claim], "url_norm string"
            ).write.mode("overwrite").parquet(
                f"{frontier_dir}/batch_id={fid}"
            )
            # prune superseded ledger partitions (best-effort: the
            # fid snapshot carries every still-relevant row, and a
            # crash before this point just leaves extra partitions
            # whose rows fold through the groupBy-max read)
            if polite:
                for p in _prior_bids(ledger_dir, fid):
                    shutil.rmtree(
                        os.path.join(ledger_dir, f"batch_id={p}"),
                        ignore_errors=True,
                    )
    return fires


def streaming_paragraph_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    out_dir: str,
    delim: str = "\n\n",
    max_files_per_trigger: int = 100,
    hot_min: int | None = None,
) -> int:
    """Incremental paragraph-level dedup — the streaming twin of
    dedup.dedup_paragraphs and the shape of Dolma's incremental
    paragraph dedup: each AvailableNow fire splits newly-arrived
    documents into paragraphs, drops every paragraph whose hash is
    already in the accumulated store OR repeats within the fire,
    reassembles the survivors in order, and appends the fire's new
    paragraph hashes.

    Semantics note vs the batch operator: the batch pass removes ALL
    copies of a >= min_count paragraph (it sees the whole corpus at
    once); the incremental pass necessarily keeps the FIRST arrival
    (it was unique when it arrived) and drops repeats from then on —
    the standard batch-vs-streaming dedup asymmetry, same as
    content_dedup_stream vs the history ledger.

    Scale contract: the store holds one fixed-width xxhash64 row per
    distinct paragraph ever seen, read metadata-pruned and joined on
    the hash (never paragraph text). Exactly-once: the module's fire
    discipline (`_drain_fires`) over both roots.

    Skew fuse (`hot_min`), the streaming twin of dedup_paragraphs'
    batch fuse: the window spelling shuffles the fire's RAW paragraph
    rows by hash, so a mega-boilerplate paragraph inside ONE fire (a
    cookie banner on every page of a just-crawled site) concentrates
    its whole occurrence set in one window task — per-fire batch
    bounds cap the damage but don't remove it. With hot_min armed:
      0. exact duplicate rows collapse to one representative with a
         multiplicity (grouped by (doc_id, pos, para, phash) — keyed
         on the document, so a hot paragraph stays spread), and
         re-expand after flagging as dropped copies: the window
         twin's row_number keeps exactly one of an identical tie,
         so keep is decided once per distinct row,
      1. ONE groupBy(phash) computes count + min(doc_id,pos) — both
         combine map-side, so the reduce side sees one partial row
         per map task for the hot key, never its occurrence set,
      2. hashes with >= hot_min in-fire occurrences form a BROADCAST
         hot set; hot rows get keep (is-first && not-in-store)
         map-side via the broadcast join — never shuffled by hash;
         the store membership of the (few) hot hashes is resolved by
         a semi-join of the store AGAINST the broadcast hot set,
         collected (driver state bounded by |hot set|),
      3. only the de-skewed cold remainder flows through the hash
         shuffle (its per-hash row count is < hot_min by definition).
    Semantics identical to the window spelling — keep is first-in-fire
    occurrence and not already stored — so the same twin tests gate
    both paths.

    Returns the number of non-empty fired batches.
    """

    def fire(batch: DataFrame, bid: int) -> None:
        paras = batch.select(
            "doc_id",
            F.posexplode(
                F.split(F.col("text"), "\\Q" + delim + "\\E", -1)
            ).alias("pos", "para"),
        ).withColumn("phash", F.xxhash64("para"))
        seen = _read_parquet_or_none(spark, store_dir)
        if seen is not None:
            seen = seen.filter(F.col("batch_id") != bid).select("phash")
        # first occurrence WITHIN the fire survives; later in-fire
        # repeats and anything already in the store drop
        if hot_min is not None:
            # skew fuse (see docstring). Exact duplicate rows (the
            # same doc ingested twice in one fire) first COLLAPSE to
            # one representative with a multiplicity — the window
            # twin's row_number keeps exactly ONE of an identical
            # tie, so keep must be decided once per distinct row and
            # the extras re-expand as dropped copies (review r10).
            # The collapse shuffle keys on (doc_id, pos, ...), so a
            # hot paragraph stays spread across documents — the skew
            # property is untouched. The frame feeds three consumers
            # (count aggregate, hot branch, cold branch) —
            # materialize once (the batch fuse's measured 12.2->5.2 s
            # localCheckpoint lesson).
            rep = (
                paras.groupBy("doc_id", "pos", "para", "phash")
                .agg(F.count(F.lit(1)).alias("_dup"))
                .localCheckpoint(eager=True)
            )
            agg = rep.groupBy("phash").agg(
                F.sum("_dup").alias("_cnt"),
                F.min(F.struct("doc_id", "pos")).alias("_first"),
            )
            hot = agg.filter(F.col("_cnt") >= hot_min).select(
                "phash", "_first"
            )
            hot_rows = (
                rep.join(F.broadcast(hot), "phash")
                .withColumn(
                    "keep", F.struct("doc_id", "pos") == F.col("_first")
                )
                .drop("_first")
            )
            if seen is not None:
                # store membership for the few hot hashes: semi-join
                # the store against the BROADCAST hot set — driver
                # state bounded by |hot|, the store never shuffles
                # the hot occurrence rows
                hot_seen = [
                    r.phash
                    for r in seen.join(
                        F.broadcast(hot.select("phash")), "phash", "left_semi"
                    ).collect()
                ]
                if hot_seen:
                    hot_rows = hot_rows.withColumn(
                        "keep",
                        F.col("keep") & ~F.col("phash").isin(hot_seen),
                    )
            cold = (
                rep.join(F.broadcast(hot.select("phash")), "phash", "left_anti")
                .join(
                    agg.filter(F.col("_cnt") < hot_min).select(
                        "phash", "_first"
                    ),
                    "phash",
                )
                .withColumn(
                    "keep", F.struct("doc_id", "pos") == F.col("_first")
                )
                .drop("_first")
            )
            if seen is not None:
                cold = cold.join(seen, "phash", "left_anti").unionByName(
                    cold.join(seen, "phash", "left_semi").withColumn(
                        "keep", F.lit(False)
                    )
                )
            # re-expand multiplicity: the representative carries the
            # decided keep, every extra copy is a dropped row — the
            # window twin's exact multiset
            flagged = cold.unionByName(hot_rows).select(
                "doc_id",
                "pos",
                "para",
                "phash",
                F.explode(
                    F.concat(
                        F.array(F.col("keep")),
                        F.array_repeat(
                            F.lit(False), (F.col("_dup") - 1).cast("int")
                        ),
                    )
                ).alias("keep"),
            )
        else:
            w = Window.partitionBy("phash").orderBy("doc_id", "pos")
            flagged = paras.withColumn(
                "keep", F.row_number().over(w) == 1
            )
            if seen is not None:
                flagged = flagged.join(seen, "phash", "left_anti").unionByName(
                    # rows whose hash IS in the store: keep=false, but
                    # they must still flow into the reassembly as
                    # dropped rows
                    flagged.join(seen, "phash", "left_semi").withColumn(
                        "keep", F.lit(False)
                    )
                )
        cleaned = flagged.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("pos", "para")
                            ).otherwise(F.lit(None))
                        )
                    ),
                    lambda s: s["para"],
                ),
                delim,
            ).alias("cleaned_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed"),
        )
        # Direct write (r13): cleaned's lineage reads only the prior
        # hash snapshot; new_hashes re-derives from `flagged` exactly
        # as before (the checkpoint only double-materialized cleaned).
        cleaned.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        new_hashes = (
            flagged.filter(F.col("keep")).select("phash").distinct()
        )
        new_hashes.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={bid}"
        )

    stream = _parquet_stream(
        spark, source_dir, "doc_id long, text string", max_files_per_trigger
    )
    return _drain_fires(stream, checkpoint_dir, (out_dir, store_dir), fire)


def streaming_classifier_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    model_path: str,
    dim: int,
    threshold: float = 0.5,
    max_files_per_trigger: int = 100,
) -> int:
    """Incremental QUALITY-CLASSIFIER curation — the streaming twin of
    the batch featurize->score->keep loop (operators/linear_model.py):
    each AvailableNow fire hash-featurizes the newly-dropped documents
    (feature_hash_signed -> densify), scores them with the fitted
    model loaded from `model_path` (save_model artifact), and emits
    (doc_id, score, keep) to the fire's partition.

    The model is read ONCE per pipeline run and rides down as literal
    weights in the scoring expression — no join, no state dir: scoring
    is per-document, so exactly-once needs only the module's fire
    discipline (`_drain_fires`) for the output. Batch-equivalence
    contract gated in pytest: the union of fires equals scoring the
    whole corpus in one batch, because featurization and the model are
    both per-doc deterministic.

    Scale: the fire cost is one scan of the NEW files — featurize is
    the zero-shuffle mapInPandas path, densify shuffles doc-keyed rows
    of fixed width dim, scoring is a projection. Nothing grows with
    corpus age; this is the shape that rides a 100 TB backfill one
    file-batch at a time."""
    from unstract_spark.operators import linear_model as lm
    from unstract_spark.operators import text_analysis as ta

    weights, _meta = lm.load_model(model_path)
    if len(weights) != dim + 1:
        raise ValueError(
            f"model has {len(weights)} weights, expected dim+1={dim + 1}"
        )

    def fire(docs: DataFrame, bid: int) -> None:
        sparse = ta.feature_hash_signed(docs, n_buckets=dim)
        feats = lm.densify(sparse, dim)
        scored = lm.logistic_score(feats, weights).select(
            "doc_id",
            "score",
            (F.col("score") > F.lit(float(threshold))).alias("keep"),
        )
        # Direct write (r13): single consumer, no state read-back.
        scored.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")

    stream = _parquet_stream(
        spark, source_dir, "doc_id long, text string", max_files_per_trigger
    )
    return _drain_fires(stream, checkpoint_dir, (out_dir,), fire)


def streaming_drift_monitor(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    out_dir: str,
    n_buckets: int = 16,
    bucket_width: int = 64,
    max_files_per_trigger: int = 100,
) -> int:
    """Incremental DISTRIBUTION-DRIFT monitor — the streaming arm of
    agg_chisq_drift_by_source: each AvailableNow fire histograms the
    newly-dropped documents' lengths per source (fixed buckets:
    least(n_chars div bucket_width, n_buckets-1)), compares the
    fire's histogram against the ACCUMULATED baseline with the
    per-group two-sample chi-square (profile.chisq_drift), and emits
    (source, chisq_micro, fire_docs) — the alert feed an ingestion
    operator watches (a scraper change or encoding regression spikes
    a source's statistic the fire it lands).

    First fire has no baseline: every source emits NULL (documented —
    absence of history is not drift). State is the accumulated
    (source, bucket, count) histogram — a SNAPSHOT store (full
    rewrite per fire, prune keeping latest prior), read through
    _read_prior_snapshot so only the max prior partition loads (the
    r12 ADVICE duplicate-state lesson). State size is
    |sources| x n_buckets rows — O(1) in corpus age.

    Exactly-once: the module's fire discipline (`_drain_fires`).
    Batch equivalence gated in pytest: the final state equals the
    whole corpus's histogram, fires are disjoint.

    Scale: the fire cost is ONE map-side-combining aggregate over the
    new files; the chi-square runs on two histogram frames that never
    exceed sources x buckets rows."""
    from unstract_spark.operators import profile

    def fire(batch: DataFrame, bid: int) -> None:
        hb = (
            batch.select(
                "source",
                F.least(
                    F.expr(f"length(text) div {int(bucket_width)}"),
                    F.lit(int(n_buckets) - 1),
                ).alias("bucket"),
            )
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("o"))
            .localCheckpoint(eager=True)
        )
        old = _read_prior_snapshot(
            spark, state_dir, bid, "source string, bucket long, o long"
        )
        fire_tot = hb.groupBy("source").agg(
            F.sum("o").cast("long").alias("fire_docs")
        )
        if _prior_bids(state_dir, bid):
            drift = profile.chisq_drift(hb, old)
        else:  # first fire, told by the listing: no baseline, NULL
            drift = fire_tot.select(
                "source", F.lit(None).cast("long").alias("chisq_micro")
            )
        report = fire_tot.join(drift, "source", "left").select(
            "source", "chisq_micro", "fire_docs"
        ).localCheckpoint(eager=True)
        report.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")
        new_state = (
            hb.unionByName(old)
            .groupBy("source", "bucket")
            .agg(F.sum("o").cast("long").alias("o"))
            .localCheckpoint(eager=True)
        )
        new_state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={bid}"
        )
        _prune_superseded(state_dir, bid)

    stream = _parquet_stream(
        spark,
        source_dir,
        "doc_id long, text string, source string",
        max_files_per_trigger,
    )
    return _drain_fires(stream, checkpoint_dir, (out_dir, state_dir), fire)
