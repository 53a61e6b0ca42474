"""D6 — webhook/notification sink via an outbox table.

Reference: execution-complete payloads POSTed to webhook/Slack
providers with retries (workers/notification/tasks.py:29-103; enqueue
workers/callback/tasks.py:576-644).

Spark-first: executors never make user-facing HTTP calls mid-job.
Completions append to an *outbox* table (exactly-once rows, written
with the job); a small driver-side notifier drains the outbox with
bounded retries and marks rows sent. HTTP is stubbed behind a
transport callable — tests inject one; production wires requests/
urllib. This split keeps delivery at-least-once with dedup on
notification_id rather than losing sends to task retries.

The outbox is a sinks/manifest.py table: append_outbox appends a
segment, and a drain commits its status rewrite as a ManifestTable
merge, which re-applies the drain's updates to the fresh snapshot when
an append lands mid-drain.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstract_spark.sinks.manifest import ManifestTable

OUTBOX_SCHEMA = (
    "notification_id string, execution_id string, url string, payload string,"
    " status string, attempts int, created_at timestamp, provider string"
)

# ---------------------------------------------------------------------------
# Slack mrkdwn rendering (the D6 provider-specific payload shape).
#
# Reference semantics:
#   workers/notification/providers/slack_webhook.py:36-53 (shape-based
#   dispatch: an already-rendered {"text": mrkdwn} body passes through;
#   a flat per-event dict is wrapped in a single-event envelope and
#   rendered), and
#   unstract/core/notification_clubbed_renderer.py (envelope summary
#   counts, per-event mrkdwn line, display cap + overflow footer,
#   single-event legacy field spread).
#
# These are pure functions over notification dicts — rendering happens
# at drain time on the driver (the reference renders worker-side at
# send time), never inside a Spark task.
# ---------------------------------------------------------------------------

_SLACK_MAX_EVENTS = 25  # inline display cap before the "... and K more" footer
_MAX_BATCH = 500  # hard envelope cap; the rest roll to the next flush
_SEP = " · "
_MISSING = "—"
_DIVIDER = "———"
_OK = ":white_check_mark:"
_FAIL = ":x:"
# pre-clubbing flat top-level keys, spread back onto single-event
# envelopes for receivers written against the legacy wire shape
_LEGACY_KEYS = (
    "type", "pipeline_id", "pipeline_name", "status", "execution_id",
    "error_message", "timestamp", "additional_data",
)


def _event_failed(event: dict) -> bool:
    """Failure verdict: prefer the dispatch site's explicit
    `is_failure` flag; otherwise terminal status (ERROR/STOPPED) or any
    errored file (partial successes land COMPLETED with
    failed_files>0 — status alone misses them; reference
    core/data_models.py:641-653)."""
    flag = event.get("is_failure")
    if flag is not None:
        return bool(flag)
    counts = event.get("additional_data") or {}
    return (
        event.get("status") in ("ERROR", "STOPPED")
        or (counts.get("failed_files") or 0) > 0
    )


def _humanize_ts(iso) -> str:
    """ISO timestamp → '2026 May 11 05:03:34 PM' (day unpadded via
    dt.day — '%-d' is a glibc extension); falsy/unparseable input
    renders the missing placeholder instead of raising mid-flush."""
    import datetime as _dt

    if not iso:
        return _MISSING
    try:
        t = _dt.datetime.fromisoformat(iso)
    except (TypeError, ValueError):
        return _MISSING
    return f"{t.strftime('%Y %b')} {t.day} {t.strftime('%I:%M:%S %p')}"


def _event_line(event: dict) -> str:
    """One event as one mrkdwn line: middle-dot separated fields, a
    file-count column only when totals exist, a trailing italic
    error message (whitespace-collapsed so tracebacks stay on one
    line) only on failure."""
    parts = [
        event.get("timestamp") or _MISSING,
        f"*{event.get('execution_id') or _MISSING}*",
        event.get("type") or _MISSING,
        event.get("pipeline_name") or _MISSING,
        event.get("status") or _MISSING,
    ]
    counts = event.get("additional_data") or {}
    total = counts.get("total_files")
    if total is not None:
        if _event_failed(event):
            parts.append(f"{_FAIL} {counts.get('failed_files', 0)}/{total} files")
        else:
            parts.append(
                f"{_OK} {counts.get('successful_files', 0)}/{total} files"
            )
    err = event.get("error_message")
    if err:
        parts.append(f"_{' '.join(str(err).split())}_")
    return _SEP.join(parts)


def build_envelope(payloads: list) -> dict:
    """The canonical clubbed envelope: {summary: {total, succeeded,
    failed}, events: [...]}; a single-event batch also spreads the
    legacy flat keys top-level (both pre-clubbing wire shapes)."""
    capped = payloads[:_MAX_BATCH]
    failed = sum(1 for p in capped if _event_failed(p))
    events = []
    for p in capped:
        e = {
            "type": p.get("type") or "",
            "pipeline_name": p.get("pipeline_name") or "",
            "status": p.get("status") or "",
            "execution_id": p.get("execution_id") or "",
            "timestamp": _humanize_ts(p.get("timestamp")),
            "additional_data": p.get("additional_data") or {},
        }
        if p.get("error_message"):
            e["error_message"] = p["error_message"]
        if p.get("is_failure") is not None:
            e["is_failure"] = p["is_failure"]
        events.append(e)
    envelope = {
        "summary": {
            "total": len(capped),
            "succeeded": len(capped) - failed,
            "failed": failed,
        },
        "events": events,
    }
    if len(capped) == 1:
        for k in _LEGACY_KEYS:
            if capped[0].get(k) is not None:
                envelope[k] = capped[0][k]
    return envelope


def render_slack_text(envelope: dict) -> str:
    """Envelope → mrkdwn body: summary header, divider, capped event
    lines, '_… and K more_' overflow footer."""
    s = envelope["summary"]
    events = envelope["events"]
    noun = "execution" if s["total"] == 1 else "executions"
    lines = [
        f"*{s['total']} {noun}* "
        f"({_OK} {s['succeeded']} succeeded  {_FAIL} {s['failed']} failed)",
        _DIVIDER,
    ]
    lines.extend(_event_line(e) for e in events[:_SLACK_MAX_EVENTS])
    overflow = len(events) - _SLACK_MAX_EVENTS
    if overflow > 0:
        lines.append(_DIVIDER)
        lines.append(f"_… and {overflow} more executions_")
    return "\n".join(lines)


def format_slack_payload(payload: dict) -> dict:
    """Slack's expected {"text": mrkdwn} structure
    (slack_webhook.py:36-53): an already-rendered body passes through
    unchanged; a flat per-event dict wraps into a single-event
    envelope and renders."""
    if "text" in payload and "events" not in payload:
        return {"text": payload["text"]}
    return {"text": render_slack_text(build_envelope([payload]))}


def enqueue_notifications(
    results: DataFrame, url: str, execution_id: str, provider: str = "webhook"
) -> DataFrame:
    """Shape completion rows as outbox entries (one per execution here;
    per-file granularity is a groupBy away). `provider` selects the
    drain-time payload renderer ("slack" → {"text": mrkdwn}); generic
    webhooks post the stored JSON as-is."""
    agg = results.groupBy().agg(
        F.count(F.lit(1)).alias("n_files"),
    )
    return agg.select(
        F.expr("uuid()").alias("notification_id"),
        F.lit(execution_id).alias("execution_id"),
        F.lit(url).alias("url"),
        F.to_json(F.struct(F.lit(execution_id).alias("execution_id"), "n_files")).alias(
            "payload"
        ),
        F.lit("PENDING").alias("status"),
        F.lit(0).alias("attempts"),
        F.current_timestamp().alias("created_at"),
        F.lit(provider).alias("provider"),
    )


def append_outbox(rows: DataFrame, path: str) -> None:
    outbox = ManifestTable(rows.sparkSession, path)
    outbox.append(rows)
    outbox.fold(OUTBOX_SCHEMA)


def read_outbox(spark: SparkSession, path: str) -> DataFrame:
    """Every committed outbox row, with its latest status."""
    return ManifestTable(spark, path).snapshot(OUTBOX_SCHEMA)[1]


def drain_outbox(
    spark: SparkSession,
    path: str,
    transport: Callable[[str, str], bool],
    max_retries: int = 5,
    backoff_s: float = 0.05,
    max_attempts: int = 15,
) -> dict[str, int]:
    """Driver-side delivery loop: POST pending rows, mark
    SENT / PENDING / FAILED with persistent attempt accounting.

    The outbox is small (one row per execution), so collecting it to
    the driver is correct — delivery is inherently serial per endpoint
    and needs retry state.

    Every transport call counts as one attempt and the count PERSISTS
    across drains (reference: workers/notification/tasks.py:29-103 —
    Celery task retries with max_retries then gives up). A drain gives
    each pending row up to `max_retries` calls with exponential
    backoff; rows still failing stay PENDING with their incremented
    `attempts`, and once lifetime attempts reach `max_attempts` the row
    flips to terminal FAILED — it is never re-delivered. Returns
    {"sent", "failed", "pending"} counters for this drain.
    """
    pending = read_outbox(spark, path).filter(F.col("status") == "PENDING").collect()
    sent = failed = still_pending = 0
    updates: dict[str, tuple[str, int]] = {}  # id -> (status, attempts)
    import json as _json

    for row in pending:
        attempts = row.attempts or 0
        body = row.payload
        if (row.provider or "").lower() == "slack":
            # provider-specific rendering at send time, like the
            # reference's worker-side SlackWebhook.prepare_data —
            # unparseable stored JSON posts as-is (the raw channel)
            try:
                body = _json.dumps(format_slack_payload(_json.loads(body)))
            except (TypeError, ValueError):
                body = row.payload
        ok = False
        calls = 0
        while calls < max_retries and attempts + calls < max_attempts:
            try:
                ok = bool(transport(row.url, body))
            except Exception:  # noqa: BLE001 — transport errors retry
                ok = False
            calls += 1
            if ok:
                break
            time.sleep(backoff_s * (3 ** (calls - 1)))
        new_attempts = attempts + calls
        if ok:
            status = "SENT"
            sent += 1
        elif new_attempts >= max_attempts:
            status = "FAILED"  # terminal: no re-delivery on later drains
            failed += 1
        else:
            status = "PENDING"
            still_pending += 1
        updates[row.notification_id] = (status, new_attempts)
    if updates:
        rows = [(k, v[0], v[1]) for k, v in updates.items()]
        upd = spark.createDataFrame(
            rows, "notification_id string, _new_status string, _new_attempts int"
        )

        def apply(current: DataFrame, upd: DataFrame) -> DataFrame:
            return current.join(F.broadcast(upd), "notification_id", "left").select(
                "notification_id",
                "execution_id",
                "url",
                "payload",
                F.coalesce("_new_status", "status").alias("status"),
                F.coalesce("_new_attempts", "attempts").alias("attempts"),
                "created_at",
                "provider",
            )

        ManifestTable(spark, path).merge(upd, apply, OUTBOX_SCHEMA)
    return {"sent": sent, "failed": failed, "pending": still_pending}
