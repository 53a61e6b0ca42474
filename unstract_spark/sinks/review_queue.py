"""D4 — human-in-the-loop review-queue sink + F6/F7 routing predicates.

Reference: percentage sampling picks files for manual review
(plugins/workflow_v2/utils.py:28-43 `_mrq_files`), rule predicates over
the extraction result decide routing (destination.py:172-260), and
QueueResult rows (with base64 content and a 90-day TTL) land in
review_queue_{org}_{workflow} (destination.py:853-1115).

Spark-first: routing is a boolean column (deterministic hash-sample OR
rule predicate), the queue is an append table with `expires_at`;
consumers filter unexpired rows; a cleanup job drops expired ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unstract_spark.schemas import DEFAULT_HITL_TTL_SECONDS
from unstract_spark.sinks.ledger_lock import LedgerLock, swap_commit


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
    """Append to the review table, partitioned by queue for consumer
    pruning (a consumer reads only its queue's partition). A stable
    message_id (content-derived, so replays re-produce the same id and
    dedup downstream) is attached if absent."""
    if "message_id" not in queue_rows.columns:
        queue_rows = queue_rows.withColumn(
            "message_id",
            F.sha2(F.concat_ws("\x01", "queue_name", "file", "result"), 256),
        )
    queue_rows.write.mode("append").partitionBy("queue_name").parquet(path)


def read_unexpired(spark, path: str) -> DataFrame:
    """Consumer view: TTL filter (expiry = enqueue + ttl)."""
    df = spark.read.parquet(path)
    expiry = F.col("enqueued_at") + F.make_dt_interval(secs=F.col("ttl_seconds"))
    return df.filter(expiry > F.current_timestamp())


def sweep_expired(spark, path: str) -> int:
    """The cleanup job the consumer filter implies: physically drop
    expired rows from the queue store (reference: the 90-day TTL on
    QueueResult packets, destination.py:853-1115 — Redis expires them
    server-side; a parquet queue needs a sweeper). Rewrites the store
    to unexpired rows via staging + rename under the ledger lock (the
    history-store swap pattern), so readers mid-sweep see either the
    old or the new store, never a partial one. Run it from the cron
    scheduler like compaction. Returns the number of rows dropped.

    The rewrite costs one scan of the queue — correct for a review
    queue (human-scale, partitioned by queue_name); at a larger scale
    the same call works per-partition by pointing `path` at one
    queue's subdirectory."""
    with LedgerLock(path):
        df = spark.read.parquet(path)
        expiry = F.col("enqueued_at") + F.make_dt_interval(
            secs=F.col("ttl_seconds")
        )
        live = df.filter(expiry > F.current_timestamp())
        n_total = df.count()
        n_live = live.count()
        if n_live == n_total:
            return 0
        if n_live == 0:
            # a partitioned write of zero rows emits no part files, so
            # the swapped-in store would be unreadable (no schema to
            # infer) and a flat schema-only file would conflict with
            # the partitioned layout of later appends. Keep the fully-
            # expired store as-is — consumers already filter, and the
            # next sweep after new live rows arrive drops these files.
            return 0
        swap_commit(path, live.write.partitionBy("queue_name"))
        return n_total - n_live


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
# review batch, not a data-scale set); the scans stay partition-pruned
# by queue_name.


def _read_ledger(spark, ledger_path: str, queue_name: str) -> DataFrame:
    try:
        ledger = spark.read.parquet(ledger_path)
    except Exception:  # noqa: BLE001 — no consumption yet
        return spark.createDataFrame(
            [], "queue_name string, message_id string, consumer_id string,"
            " state string, ts timestamp",
        )
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
    msgs = read_unexpired(spark, queue_path).filter(F.col("queue_name") == queue_name)
    ledger = _read_ledger(spark, ledger_path, queue_name)
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
        poison = _lapsed_claim_counts(
            spark, ledger_path, queue_name, visibility_timeout_s
        ).filter(F.col("n_failed_deliveries") >= max_deliveries).select("message_id")
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

    Multi-consumer safety (two layers):
    1. LedgerLock serializes the pending-read + claim-append cycle, so
       two claimers cannot both see a message as unclaimed (and two
       concurrent appends cannot collide in the parquet committer's
       shared _temporary dir).
    2. After the append, the ledger is re-read and the batch is
       filtered to messages whose WINNING claim (earliest ts,
       consumer_id tie-break) belongs to this consumer — so even a
       broken/stale lock degrades to losing a claim race, never to a
       double-claim (SQS-style conditional-claim semantics).
    """
    with LedgerLock(ledger_path):
        # eager pin: the claims append below changes the ledger this plan
        # reads, so the batch must be materialized BEFORE the write or a
        # later collect() re-plans against its own claims and sees nothing
        batch = (
            pending_messages(spark, queue_path, ledger_path, queue_name, visibility_timeout_s)
            .orderBy(F.col("enqueued_at").asc(), F.col("message_id").asc())
            .limit(max_messages)
            .localCheckpoint(eager=True)
        )
        claims = batch.select(
            F.lit(queue_name).alias("queue_name"),
            "message_id",
            F.lit(consumer_id).alias("consumer_id"),
            F.lit("CLAIMED").alias("state"),
            F.current_timestamp().alias("ts"),
        )
        claims.write.mode("append").partitionBy("queue_name").parquet(ledger_path)
    # claim-conflict re-read (outside the lock: reads don't mutate)
    won = _winning_claims(spark, ledger_path, queue_name, visibility_timeout_s)
    return batch.join(
        won.filter(F.col("consumer_id") == consumer_id).select("message_id"),
        "message_id",
        "left_semi",
    ).localCheckpoint(eager=True)


def _winning_claims(
    spark, ledger_path: str, queue_name: str, visibility_timeout_s: int
) -> DataFrame:
    """One row per actively-claimed message: the earliest live claim
    wins (ts, consumer_id total order)."""
    ledger = _read_ledger(spark, ledger_path, queue_name)
    live = ledger.filter(
        (F.col("state") == "CLAIMED")
        & (
            F.col("ts")
            > F.current_timestamp()
            - F.make_dt_interval(secs=F.lit(visibility_timeout_s))
        )
    )
    w = Window.partitionBy("message_id").orderBy(
        F.col("ts").asc(), F.col("consumer_id").asc()
    )
    return (
        live.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("message_id", "consumer_id")
    )


def ack_messages(
    spark,
    ledger_path: str,
    queue_name: str,
    message_ids: list[str],
    consumer_id: str,
) -> None:
    """Ack: DONE ledger rows make the messages permanently consumed.
    Appends serialize under the ledger lock (shared parquet-committer
    staging dir; see claim_batch)."""
    rows = [(queue_name, m, consumer_id, "DONE") for m in message_ids]
    df = spark.createDataFrame(
        rows, "queue_name string, message_id string, consumer_id string, state string"
    ).withColumn("ts", F.current_timestamp())
    with LedgerLock(ledger_path):
        df.write.mode("append").partitionBy("queue_name").parquet(ledger_path)


def _lapsed_claim_counts(
    spark, ledger_path: str, queue_name: str, visibility_timeout_s: int
) -> DataFrame:
    """Per-message count of claims that LAPSED un-acked (delivery
    attempts that died) — the redrive counter."""
    ledger = _read_ledger(spark, ledger_path, queue_name)
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
        spark, ledger_path, queue_name, visibility_timeout_s
    ).filter(F.col("n_failed_deliveries") >= max_deliveries)
    return msgs.join(counts, "message_id")
