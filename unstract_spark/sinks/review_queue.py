"""D4 — human-in-the-loop review-queue sink + F6/F7 routing predicates.

Reference: percentage sampling picks files for manual review
(plugins/workflow_v2/utils.py:28-43 `_mrq_files`), rule predicates over
the extraction result decide routing (destination.py:172-260), and
QueueResult rows (with base64 content and a 90-day TTL) land in
review_queue_{org}_{workflow} (destination.py:853-1115).

Spark-first: routing is a boolean column (deterministic hash-sample OR
rule predicate), the queue is an append table with `expires_at`;
consumers filter unexpired rows; a cleanup job drops expired ones.

The queue and its claim ledger are sinks/manifest.py tables: enqueues
and acks append a segment, while the TTL sweep and a claim commit at
the version they read, so a commit that lands in between makes them
re-read instead of overwriting it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unstract_spark.schemas import DEFAULT_HITL_TTL_SECONDS, REVIEW_QUEUE
from unstract_spark.sinks.manifest import ManifestTable

CLAIMS_SCHEMA = (
    "queue_name string, message_id string, consumer_id string, state string,"
    " ts timestamp"
)


def sample_predicate(key: Column, pct: float) -> Column:
    """Deterministic ~pct% sample by key hash (seeded, replayable).

    The reference uses random.sample with a floor of 1; a hash-mod
    sample keeps retries/replays routing the same files. pct>=100
    routes everything, pct<=0 nothing.
    """
    if pct <= 0:
        return F.lit(False)
    if pct >= 100:
        return F.lit(True)
    bucket = F.pmod(F.abs(F.hash(key)), F.lit(10_000))
    return bucket < int(pct * 100)


def rule_predicate(rules: list[tuple[str, str]]) -> Column:
    """F7: configured rules -> one boolean Column.

    Each rule is (combinator, sql_expr) with combinator AND/OR applied
    left-to-right, like the reference's rule engine over result fields.
    """
    if not rules:
        return F.lit(False)
    acc: Column | None = None
    for comb, expr in rules:
        c = F.expr(expr)
        if acc is None:
            acc = c
        elif comb.upper() == "AND":
            acc = acc & c
        else:
            acc = acc | c
    return acc


def route_to_review(
    results: DataFrame,
    queue_name: str,
    pct: float = 0.0,
    rules: list[tuple[str, str]] | None = None,
    sample_key: str = "file_hash",
    ttl_seconds: int = DEFAULT_HITL_TTL_SECONDS,
) -> DataFrame:
    """Select rows needing review and shape them as queue entries."""
    pred = sample_predicate(F.col(sample_key), pct) | rule_predicate(rules or [])
    routed = results.filter(pred)
    return routed.select(
        F.lit(queue_name).alias("queue_name"),
        F.col("file_name").alias("file") if "file_name" in results.columns
        else F.col(sample_key).alias("file"),
        F.coalesce(
            F.col("status") if "status" in results.columns else F.lit(None), F.lit("success")
        ).alias("status"),
        F.to_json(F.struct(*[c for c in results.columns])).alias("result"),
        (
            F.base64(F.col("content"))
            if "content" in results.columns
            else F.lit(None).cast("string")
        ).alias("file_content_b64"),
        F.lit(None).cast("string").alias("whisper_hash"),
        (
            F.col("extracted_text")
            if "extracted_text" in results.columns
            else F.lit(None).cast("string")
        ).alias("extracted_text"),
        F.lit(None).cast("string").alias("file_execution_id"),
        F.lit(None).cast("string").alias("execution_id"),
        F.current_timestamp().alias("enqueued_at"),
        F.lit(ttl_seconds).cast("long").alias("ttl_seconds"),
    )


def write_queue(queue_rows: DataFrame, path: str) -> None:
    """Append to the review queue. A stable message_id
    (content-derived, so replays re-produce the same id and dedup
    downstream) is attached if absent."""
    if "message_id" not in queue_rows.columns:
        queue_rows = queue_rows.withColumn(
            "message_id",
            F.sha2(F.concat_ws("\x01", "queue_name", "file", "result"), 256),
        )
    queue = ManifestTable(queue_rows.sparkSession, path)
    queue.append(queue_rows)
    queue.fold(REVIEW_QUEUE)


def read_queue(spark, path: str) -> DataFrame:
    """Every committed queue row, expired ones included."""
    return ManifestTable(spark, path).snapshot(REVIEW_QUEUE)[1]


def _unexpired() -> Column:
    expiry = F.col("enqueued_at") + F.make_dt_interval(secs=F.col("ttl_seconds"))
    return expiry > F.current_timestamp()


def read_unexpired(spark, path: str) -> DataFrame:
    """Consumer view: TTL filter (expiry = enqueue + ttl)."""
    return read_queue(spark, path).filter(_unexpired())


def sweep_expired(spark, path: str) -> int:
    """The cleanup job the consumer filter implies: physically drop
    expired rows from the queue store (reference: the 90-day TTL on
    QueueResult packets, destination.py:853-1115 — Redis expires them
    server-side; a parquet queue needs a sweeper). Rewrites the queue
    to its unexpired rows, committed at the version the sweep read: an
    enqueue that commits in between makes the commit conflict, and the
    sweep re-reads instead of dropping the new row. Readers mid-sweep
    see the old or the new snapshot, never a partial one. Run it from
    the cron scheduler like compaction. Returns the number of rows
    dropped.

    The rewrite costs one scan of the queue — correct for a review
    queue (human-scale)."""
    queue = ManifestTable(spark, path)

    def attempt() -> int:
        v, rows = queue.snapshot(REVIEW_QUEUE)
        live = rows.filter(_unexpired())
        dropped = rows.count() - live.count()
        if dropped:
            queue.commit_at(v, live, replace=True)
        return dropped

    dropped = queue.optimistic(attempt)
    queue.vacuum()
    return dropped


# ---- S9/D4 consume side: dequeue / ack with a consumption ledger ----
#
# The reference's HITL queue is a Redis list (connectors/queues/
# unstract_queue.py:69-90 enqueue/dequeue/peek; queue_utils.py routes
# QueueResult packets to review_queue_{org}_{workflow}). A distributed
# engine can't pop from a list, so consumption is modeled the way
# queues are built on object storage: the queue stays append-only and
# a CLAIMED/DONE *ledger* records consumption. Dequeue = FIFO over
# (unexpired ∧ un-acked ∧ not-actively-claimed) via two anti-joins on
# the uniform message_id key; a claim whose visibility timeout lapsed
# without an ack re-enters the pending view automatically (crash
# recovery, SQS-style). Claim batches are driver-bounded (a human
# review batch, not a data-scale set).


def _read_ledger(spark, ledger_path: str, queue_name: str) -> DataFrame:
    ledger = ManifestTable(spark, ledger_path).snapshot(CLAIMS_SCHEMA)[1]
    return ledger.filter(F.col("queue_name") == queue_name)


def pending_messages(
    spark,
    queue_path: str,
    ledger_path: str,
    queue_name: str,
    visibility_timeout_s: int = 300,
    max_deliveries: int | None = None,
) -> DataFrame:
    """Messages a consumer may claim: unexpired, never acked, and not
    claimed within the visibility window. With `max_deliveries`,
    messages whose claims already lapsed un-acked that many times are
    excluded (poison — see dead_letter_messages)."""
    ledger = _read_ledger(spark, ledger_path, queue_name)
    return _pending(
        spark, queue_path, ledger, queue_name, visibility_timeout_s, max_deliveries
    )


def _pending(
    spark,
    queue_path: str,
    ledger: DataFrame,
    queue_name: str,
    visibility_timeout_s: int,
    max_deliveries: int | None = None,
) -> DataFrame:
    """pending_messages over one read of the claim ledger."""
    msgs = read_unexpired(spark, queue_path).filter(F.col("queue_name") == queue_name)
    done = ledger.filter(F.col("state") == "DONE").select("message_id")
    active = (
        ledger.filter(
            (F.col("state") == "CLAIMED")
            & (F.col("ts") > F.current_timestamp() - F.make_dt_interval(secs=F.lit(visibility_timeout_s)))
        )
        .join(done, "message_id", "left_anti")
        .select("message_id")
    )
    out = msgs.join(done, "message_id", "left_anti").join(
        active, "message_id", "left_anti"
    )
    if max_deliveries is not None:
        poison = _lapsed_claim_counts(ledger, visibility_timeout_s).filter(
            F.col("n_failed_deliveries") >= max_deliveries
        ).select("message_id")
        out = out.join(poison, "message_id", "left_anti")
    return out


def claim_batch(
    spark,
    queue_path: str,
    ledger_path: str,
    queue_name: str,
    consumer_id: str,
    max_messages: int = 10,
    visibility_timeout_s: int = 300,
) -> DataFrame:
    """Dequeue: claim the oldest pending messages for this consumer.

    FIFO order (enqueued_at, message_id tie-break), TakeOrdered-limited
    to the batch size, recorded as CLAIMED ledger rows. Returns the
    claimed messages.

    Multi-consumer safety: the CLAIMED segment commits at the claim
    ledger version the pending view was read at. A claim or ack that
    commits in between makes the commit conflict, and the batch is
    recomputed from the fresh ledger, so two claimers never both claim
    a message (SQS-style conditional claim).
    """
    ledger = ManifestTable(spark, ledger_path)

    def attempt() -> DataFrame:
        v, rows = ledger.snapshot(CLAIMS_SCHEMA)
        # eager pin: the caller reads the batch after its claims are
        # committed, and current_timestamp() moves the visibility
        # window, so the batch must not be re-planned later
        batch = (
            _pending(
                spark,
                queue_path,
                rows.filter(F.col("queue_name") == queue_name),
                queue_name,
                visibility_timeout_s,
            )
            .orderBy(F.col("enqueued_at").asc(), F.col("message_id").asc())
            .limit(max_messages)
            .localCheckpoint(eager=True)
        )
        if not batch.isEmpty():
            claims = batch.select(
                F.lit(queue_name).alias("queue_name"),
                "message_id",
                F.lit(consumer_id).alias("consumer_id"),
                F.lit("CLAIMED").alias("state"),
                F.current_timestamp().alias("ts"),
            )
            ledger.commit_at(v, claims, replace=False)
        return batch

    batch = ledger.optimistic(attempt)
    ledger.fold(CLAIMS_SCHEMA)
    return batch


def ack_messages(
    spark,
    ledger_path: str,
    queue_name: str,
    message_ids: list[str],
    consumer_id: str,
) -> None:
    """Ack: DONE ledger rows make the messages permanently consumed."""
    rows = [(queue_name, m, consumer_id, "DONE") for m in message_ids]
    df = spark.createDataFrame(
        rows, "queue_name string, message_id string, consumer_id string, state string"
    ).withColumn("ts", F.current_timestamp())
    ledger = ManifestTable(spark, ledger_path)
    ledger.append(df)
    ledger.fold(CLAIMS_SCHEMA)


def _lapsed_claim_counts(ledger: DataFrame, visibility_timeout_s: int) -> DataFrame:
    """Per-message count of claims that LAPSED un-acked (delivery
    attempts that died) — the redrive counter."""
    done = ledger.filter(F.col("state") == "DONE").select("message_id")
    lapsed = ledger.filter(
        (F.col("state") == "CLAIMED")
        & (
            F.col("ts")
            <= F.current_timestamp()
            - F.make_dt_interval(secs=F.lit(visibility_timeout_s))
        )
    ).join(done, "message_id", "left_anti")
    return lapsed.groupBy("message_id").agg(
        F.count(F.lit(1)).alias("n_failed_deliveries")
    )


def dead_letter_messages(
    spark,
    queue_path: str,
    ledger_path: str,
    queue_name: str,
    visibility_timeout_s: int = 300,
    max_deliveries: int = 3,
) -> DataFrame:
    """SQS-style redrive policy: messages whose claims lapsed un-acked
    `max_deliveries` times are POISON — endlessly redelivering them
    wedges consumers on the same crashing payload. This view (queue
    rows + their failure count) is what an operator drains to a
    dead-letter store; consumers exclude exactly this set via
    pending_messages(..., max_deliveries=...)."""
    msgs = read_unexpired(spark, queue_path).filter(
        F.col("queue_name") == queue_name
    )
    counts = _lapsed_claim_counts(
        _read_ledger(spark, ledger_path, queue_name), visibility_timeout_s
    ).filter(F.col("n_failed_deliveries") >= max_deliveries)
    return msgs.join(counts, "message_id")
