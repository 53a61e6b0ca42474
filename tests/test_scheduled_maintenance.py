"""§3.2's operational story as ONE test: an incremental ingest
pipeline plus the four maintenance jobs — landing-zone compaction,
review-queue TTL sweep, notification-outbox drain, and stats
re-ANALYZE — registered as cron pipelines on ONE Scheduler and driven
by run_due() over a growing corpus (r12 verdict item #6).

Reference shape: the platform's scheduler fires workflow pipelines and
housekeeping tasks from the same beat loop (scheduler/tasks.py:276-281
per-task isolation; the 90-day QueueResult TTL of
destination.py:853-1115; workers/notification/tasks.py:29-103 delivery
retries). Spark-first: every job is a driver-side closure over
DataFrame plans; the ingest ledger (streaming checkpoint) keeps fires
disjoint, so maintenance never double-processes."""

from datetime import datetime

from pyspark.sql import functions as F

from unstract_spark.operators.export import compact_small_files
from unstract_spark.operators.stats_store import TableStatsStore
from unstract_spark.sinks.notify import (
    append_outbox,
    drain_outbox,
    enqueue_notifications,
    read_outbox,
)
from unstract_spark.sinks.review_queue import (
    read_queue,
    read_unexpired,
    route_to_review,
    sweep_expired,
    write_queue,
)
from unstract_spark.streaming.incremental import incremental_file_pipeline
from unstract_spark.streaming.scheduler import Scheduler


def test_scheduled_maintenance_end_to_end(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    landing = str(tmp_path / "landing")
    compacted = str(tmp_path / "compacted")
    queue_path = str(tmp_path / "queue")
    outbox = str(tmp_path / "outbox")
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")

    for i in range(3):
        (src / f"f{i}.txt").write_text(f"document body {i}")

    ingested_paths: list[str] = []
    ingested_batches: list[int] = []

    def ingest_batch(df, batch_id):
        rows = df.select(
            "path",
            F.sha2(F.col("content"), 256).alias("file_hash"),
            F.col("length"),
        )
        rows.write.mode("append").parquet(landing)
        append_outbox(
            enqueue_notifications(
                rows, "https://example.test/hook", f"exec-{batch_id}"
            ),
            outbox,
        )
        collected = rows.collect()
        ingested_batches.append(batch_id)
        ingested_paths.extend(r.path for r in collected)

    def fire_ingest():
        # one micro-batch per file so every fire appends several small
        # files — the landing-zone pathology compaction exists for
        incremental_file_pipeline(
            spark, str(src), ckpt, ingest_batch, max_files_per_trigger=1
        )

    def fire_compaction():
        compact_small_files(
            spark, landing, compacted, target_file_bytes=1 << 30
        )

    swept: list[int] = []

    def fire_queue_sweep():
        swept.append(sweep_expired(spark, queue_path))

    delivered: list[tuple[str, str]] = []

    def transport(url: str, body: str) -> bool:
        delivered.append((url, body))
        return True

    drains: list[dict] = []

    def fire_outbox_drain():
        drains.append(drain_outbox(spark, outbox, transport))

    stats = TableStatsStore(spark, stats_dir)
    analyzed_rows: list[int] = []

    def fire_reanalyze():
        ledger = spark.read.parquet(landing)
        stats.analyze(ledger, "landing", ["file_hash"])
        analyzed_rows.append(int(stats._meta("landing", "file_hash").n_rows))

    sched = Scheduler()
    sched.add("ingest", "* * * * *", fire_ingest)
    sched.add("compaction", "* * * * *", fire_compaction)
    sched.add("queue-ttl-sweep", "* * * * *", fire_queue_sweep)
    sched.add("outbox-drain", "* * * * *", fire_outbox_drain)
    sched.add("stats-reanalyze", "* * * * *", fire_reanalyze)

    # seed the review queue: 2 already-expired rows + 1 live one
    docs = spark.createDataFrame(
        [("a", "h1"), ("b", "h2")], ["file_name", "file_hash"]
    )
    write_queue(
        route_to_review(docs, "q1", pct=100.0, ttl_seconds=0), queue_path
    )
    live = spark.createDataFrame([("c", "h3")], ["file_name", "file_hash"])
    write_queue(
        route_to_review(live, "q1", pct=100.0, ttl_seconds=86400), queue_path
    )

    # ---- fire 1 ----
    fired = sched.run_due(datetime(2026, 8, 16, 9, 0))
    assert sorted(fired) == [
        "compaction",
        "ingest",
        "outbox-drain",
        "queue-ttl-sweep",
        "stats-reanalyze",
    ]
    # dict order = registration order, so ingest ran before maintenance
    assert len(ingested_paths) == 3
    assert spark.read.parquet(compacted).count() == 3
    assert swept == [2]  # the two ttl=0 rows physically dropped
    assert read_queue(spark, queue_path).count() == 1
    assert read_unexpired(spark, queue_path).count() == 1
    # one outbox row per ingest micro-batch (3 files @ 1/trigger), all
    # delivered in the same fire
    assert drains[-1] == {"sent": 3, "failed": 0, "pending": 0}
    assert len(delivered) == 3
    assert analyzed_rows == [3]

    # ---- corpus grows between fires ----
    for i in range(3, 5):
        (src / f"f{i}.txt").write_text(f"document body {i}")
    write_queue(
        route_to_review(
            spark.createDataFrame([("d", "h4")], ["file_name", "file_hash"]),
            "q1",
            pct=100.0,
            ttl_seconds=0,
        ),
        queue_path,
    )

    # ---- fire 2 ----
    fired = sched.run_due(datetime(2026, 8, 16, 9, 1))
    assert len(fired) == 5
    # the ingest ledger keeps fires disjoint: f0-f2 NOT re-processed
    assert len(ingested_paths) == 5
    assert len(set(ingested_paths)) == 5
    assert len(set(ingested_batches)) == len(ingested_batches)
    # compaction snapshot reflects the grown landing zone
    assert spark.read.parquet(compacted).count() == 5
    # the sweep dropped exactly the newly-expired row, kept the live one
    assert swept == [2, 1]
    assert read_queue(spark, queue_path).count() == 1
    # outbox: 2 new notifications delivered, none re-delivered
    assert drains[-1] == {"sent": 2, "failed": 0, "pending": 0}
    assert len(delivered) == 5
    assert {
        r.status
        for r in read_outbox(spark, outbox)
        .groupBy("notification_id")
        .agg(F.max("status").alias("status"))
        .collect()
    } == {"SENT"}
    # stats re-ANALYZE tracked the growth
    assert analyzed_rows == [3, 5]
    # scheduler bookkeeping: every pipeline fired twice, no failures
    for s in sched.schedules.values():
        assert s.fires == 2 and s.failures == 0 and s.status == "SUCCESS"
