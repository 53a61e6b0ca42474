"""Sinks (dynamic DDL, history ledger, review queue) + streaming +
fusion planner + end-to-end pipeline."""

import json

import pytest
from pyspark.sql import functions as F

from unstract_spark.plans.fusion import plan_prompt_stages, substitute_variables
from unstract_spark.plans.pipeline import ExtractionJob, run_extraction
from unstract_spark.sinks.history import FileHistoryStore
from unstract_spark.sinks.jdbc import DIALECTS, build_table_spec, prepare_rows
from unstract_spark.sinks.review_queue import route_to_review, sample_predicate
from unstract_spark.streaming.incremental import (
    incremental_file_pipeline,
    windowed_event_aggregation,
)


# ---------- dynamic DDL (dialect matrix, mirrors reference suites) ----------


@pytest.fixture(scope="module")
def result_df(spark):
    return spark.createDataFrame(
        [("/a.txt", "inv-1", 12.5, True)],
        "file_path string, invoice_no string, total double, approved boolean",
    )


@pytest.mark.parametrize("dialect", DIALECTS)
def test_create_table_all_dialects(result_df, dialect):
    spec = build_table_spec(result_df, "out_table", dialect, mode="split")
    ddl = spec.create_table_sql()
    assert ddl.startswith("CREATE TABLE ")
    # IF NOT EXISTS only where the dialect's DDL actually accepts it
    if dialect in ("mssql", "oracle", "derby"):
        assert "IF NOT EXISTS" not in ddl
    else:
        assert "CREATE TABLE IF NOT EXISTS" in ddl
    assert {n for n, _ in spec.columns} >= {"id", "created_at", "status", "invoice_no", "total"}


def test_postgres_types(result_df):
    spec = build_table_spec(result_df, "t", "postgresql")
    types = dict(spec.columns)
    assert types["total"] == "DOUBLE PRECISION"
    assert types["approved"] == "BOOLEAN"
    assert types["metadata"] == "TEXT"


def test_single_json_mode_has_v2_twin(result_df):
    spec = build_table_spec(result_df, "t", "snowflake", mode="single_json")
    types = dict(spec.columns)
    assert types["data"] == "VARIANT" and types["data_v2"] == "VARIANT"


def test_migration_emits_only_missing(result_df):
    spec = build_table_spec(result_df, "t", "mysql")
    stmts = spec.migration_sql(existing_cols={"id", "invoice_no"})
    assert all("ADD COLUMN" in s for s in stmts)
    assert not any("`invoice_no`" in s for s in stmts)


def test_unsafe_identifier_rejected(result_df):
    bad = result_df.withColumnRenamed("total", "tot;drop")
    with pytest.raises(ValueError, match="unsafe"):
        build_table_spec(bad, "t", "postgresql").create_table_sql()


def test_prepare_rows_single_json(result_df):
    rows = prepare_rows(result_df, mode="single_json").collect()
    payload = json.loads(rows[0].data)
    assert payload["invoice_no"] == "inv-1"
    assert rows[0].status == "COMPLETED"


def test_prepare_rows_single_json_preserves_error_rows(spark):
    """Caller-supplied status/error_message must survive single_json
    folding — ERROR rows were previously rewritten COMPLETED."""
    df = spark.createDataFrame(
        [("/a.txt", "inv-1", "SUCCESSISH", None), ("/b.txt", None, "ERROR", "decode failed")],
        "file_path string, invoice_no string, status string, error_message string",
    )
    rows = {r.error_message: r for r in prepare_rows(df, mode="single_json").collect()}
    bad = rows["decode failed"]
    assert bad.status == "ERROR"
    payload = json.loads(bad.data)
    assert "status" not in payload  # permanent cols stay out of the JSON doc
    good = rows[None]
    assert good.status == "SUCCESSISH"


def test_write_jdbc_derby_round_trip(spark, tmp_path):
    """Real JDBC write+readback through embedded Derby (jars ship in
    $SPARK_HOME/jars): our DDL creates the table, df.write.jdbc appends,
    spark.read.jdbc reads it back with permanent columns landed."""
    from unstract_spark.sinks.jdbc import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [("/a.txt", "inv-1", 12.5, True), ("/b.txt", "inv-2", 99.0, False)],
        "file_path string, invoice_no string, total double, approved boolean",
    )
    spec = write_jdbc(df, url, "results", "derby", properties=props, num_partitions=2)
    assert ("invoice_no", "CLOB") in spec.columns
    back = spark.read.jdbc(url, '"results"', properties=props)
    rows = {r.invoice_no: r for r in back.collect()}
    assert set(rows) == {"inv-1", "inv-2"}
    assert rows["inv-1"].total == 12.5 and rows["inv-1"].approved is True
    assert rows["inv-1"].status == "COMPLETED" and rows["inv-1"].id is not None
    # idempotent table creation: second append lands 2 more rows
    write_jdbc(df, url, "results", "derby", properties=props, num_partitions=1)
    assert spark.read.jdbc(url, '"results"', properties=props).count() == 4


# ---------- history ledger ----------


def test_history_merge_upsert(spark, tmp_path):
    store = FileHistoryStore(spark, str(tmp_path / "hist"))
    mk = lambda status, result: spark.createDataFrame(
        [("k1", None, "/a", "wf", status, result, None, 1)],
        "cache_key string, provider_file_uuid string, file_path string, workflow_id string,"
        "status string, result string, metadata string, execution_count int",
    )
    store.merge(mk("ERROR", None))
    assert store.read().count() == 1
    store.merge(mk("COMPLETED", '{"x":1}'))
    rows = store.read().collect()
    assert len(rows) == 1 and rows[0].status == "COMPLETED"  # newest wins
    files = spark.createDataFrame([("k1", "/a"), ("k2", "/b")], "file_hash string, file_path string")
    assert store.dedup_catalog(files).collect()[0].file_hash == "k2"
    assert store.replay_results(files).collect()[0].result == '{"x":1}'


# ---------- review queue ----------


def test_review_sampling_deterministic(spark):
    df = spark.createDataFrame([(f"h{i}",) for i in range(1000)], "file_hash string")
    n1 = df.filter(sample_predicate(F.col("file_hash"), 10.0)).count()
    n2 = df.filter(sample_predicate(F.col("file_hash"), 10.0)).count()
    assert n1 == n2  # replayable
    assert 50 <= n1 <= 200  # ~10%


def test_review_routing_rules_and_ttl(spark, tmp_path):
    results = spark.createDataFrame(
        [("h1", "f1.txt", 5.0), ("h2", "f2.txt", 500.0)],
        "file_hash string, file_name string, total double",
    )
    q = route_to_review(
        results, "review_queue_org_wf", pct=0.0, rules=[("OR", "total > 100")]
    )
    rows = q.collect()
    assert len(rows) == 1 and rows[0].file == "f2.txt"
    assert rows[0].ttl_seconds == 90 * 24 * 3600


def test_queue_claim_ack_lifecycle(spark, tmp_path):
    """S9/D4 consume parity: FIFO claim, ack permanence, and visibility
    timeout re-delivery over the append-only queue + ledger."""
    from unstract_spark.sinks.review_queue import (
        ack_messages,
        claim_batch,
        pending_messages,
        write_queue,
    )

    qp, lp = str(tmp_path / "queue"), str(tmp_path / "ledger")
    results = spark.createDataFrame(
        [(f"f{i}.txt", f"h{i}", 200.0) for i in range(5)],
        "file_name string, file_hash string, total double",
    )
    rows = route_to_review(results, "q1", rules=[("OR", "total > 100")])
    # stagger enqueue times (from the file's digit) so FIFO is observable
    seq = F.regexp_extract("file", r"f(\d+)", 1).cast("int")
    rows = rows.withColumn(
        "enqueued_at", F.col("enqueued_at") - F.make_dt_interval(secs=F.lit(300) - seq)
    )
    write_queue(rows, qp)

    assert pending_messages(spark, qp, lp, "q1").count() == 5

    first = claim_batch(spark, qp, lp, "q1", consumer_id="c1", max_messages=2)
    claimed = sorted(r.file for r in first.collect())
    assert claimed == ["f0.txt", "f1.txt"]  # oldest two (FIFO)
    # claimed messages leave the pending view while the claim is live
    assert pending_messages(spark, qp, lp, "q1").count() == 3

    ack_messages(spark, lp, "q1", [r.message_id for r in first.collect()][:1], "c1")
    # acked: gone forever; unacked claim: hidden until timeout lapses
    assert pending_messages(spark, qp, lp, "q1").count() == 3
    redelivered = pending_messages(spark, qp, lp, "q1", visibility_timeout_s=0)
    files = {r.file for r in redelivered.collect()}
    assert len(files) == 4 and ("f0.txt" in files) != ("f1.txt" in files)

    # a second claim never re-delivers acked or actively-claimed rows
    second = claim_batch(spark, qp, lp, "q1", consumer_id="c1", max_messages=10)
    assert sorted(r.file for r in second.collect()) == ["f2.txt", "f3.txt", "f4.txt"]


# ---------- fusion planner ----------


def test_prompt_stage_planning_respects_deps():
    specs = [
        {"prompt_key": "a", "prompt": "find a", "chunk_size": 0},
        {"prompt_key": "b", "prompt": "given {{a}} find b", "chunk_size": 0},
        {"prompt_key": "c", "prompt": "find c", "chunk_size": 0},
        {"prompt_key": "d", "prompt": "needs {{b}} and {{c}}", "chunk_size": 512},
    ]
    plan = plan_prompt_stages(specs)
    assert plan.stages[0] == [["a", "c"]]  # independent, same config -> fused
    assert plan.stages[1] == [["b"]]
    assert plan.stages[2] == [["d"]]


def test_prompt_cycle_detected():
    specs = [
        {"prompt_key": "a", "prompt": "uses {{b}}"},
        {"prompt_key": "b", "prompt": "uses {{a}}"},
    ]
    with pytest.raises(ValueError, match="cyclic"):
        plan_prompt_stages(specs)


def test_variable_substitution():
    assert substitute_variables("x={{a}} y={{missing}}", {"a": "1"}) == "x=1 y={{missing}}"


# ---------- streaming ----------


def test_windowed_aggregation_batch_equivalence(spark, sf_dir):
    from unstract_spark.queries import _t

    events = _t(spark, sf_dir, "events")
    agg = windowed_event_aggregation(events, "1 hour").collect()
    assert len(agg) > 10
    one = agg[0]
    assert (one.window_end - one.window_start).total_seconds() == 3600


def test_content_dedup_stream_across_runs(spark, tmp_path):
    """Stateful content dedup: same bytes under a new path in a LATER
    drain are dropped (checkpoint state survives across fires)."""
    from unstract_spark.streaming.incremental import incremental_dedup_pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("same content")
    (src / "b.txt").write_text("same content")  # dup within first drain
    (src / "c.txt").write_text("unique content")
    out: list[str] = []

    def sink(df, _bid):
        out.extend(r.path.rsplit("/", 1)[-1] for r in df.select("path").collect())

    ckpt = str(tmp_path / "ck")
    incremental_dedup_pipeline(spark, str(src), ckpt, sink)
    assert len(out) == 2  # one of a/b + c

    # second fire: re-uploaded content under a new name -> dropped
    (src / "d.txt").write_text("same content")
    (src / "e.txt").write_text("brand new content")
    out.clear()
    incremental_dedup_pipeline(spark, str(src), ckpt, sink)
    assert out == ["e.txt"]  # d.txt deduped by state, only new content passes


def test_stateful_progress_rollup_across_fires(spark, tmp_path):
    """applyInPandasWithState custom operator: per-execution progress
    accumulates in checkpoint state across AvailableNow fires; done
    flips only when every file reaches a terminal status."""
    from unstract_spark.streaming.stateful import run_progress_drain

    src, ckpt = tmp_path / "events", str(tmp_path / "ck")
    out: list = []

    def sink(df, _bid):
        out.extend(df.collect())

    schema = "execution_id string, file_hash string, status string, total_files long"
    # fire 1: execution e1 has 2/3 files terminal
    spark.createDataFrame(
        [("e1", "h1", "SUCCESS", 3), ("e1", "h2", "ERROR", 3)], schema
    ).write.mode("append").parquet(str(src))
    run_progress_drain(spark, str(src), ckpt, sink)
    assert len(out) == 1
    r = out[0]
    assert (r.files_seen, r.completed, r.error, r.done) == (2, 1, 1, False)

    # fire 2: last e1 file arrives (state remembered 2 prior) + new e2
    out.clear()
    spark.createDataFrame(
        [("e1", "h3", "SUCCESS", 3), ("e2", "h4", "SUCCESS", 2)], schema
    ).write.mode("append").parquet(str(src))
    run_progress_drain(spark, str(src), ckpt, sink)
    rows = {r.execution_id: r for r in out}
    assert rows["e1"].done and rows["e1"].completed == 2 and rows["e1"].files_seen == 3
    assert not rows["e2"].done and rows["e2"].total_files == 2


def test_stateful_progress_dedups_retried_terminal_events(spark, tmp_path):
    """A retried/duplicated terminal event for the same file_hash must
    not double-count completed/error or flip done early; null
    total_files rows must not crash the rollup."""
    from unstract_spark.streaming.stateful import run_progress_drain

    src, ckpt = tmp_path / "events", str(tmp_path / "ck")
    out: list = []

    def sink(df, _bid):
        out.extend(df.collect())

    schema = "execution_id string, file_hash string, status string, total_files long"
    # h1's SUCCESS is delivered twice (Celery-style retry); one row has
    # a null total_files (enqueuer hadn't stamped it yet).
    spark.createDataFrame(
        [
            ("e1", "h1", "SUCCESS", 3),
            ("e1", "h1", "SUCCESS", 3),  # duplicate terminal event
            ("e1", "h2", "ERROR", None),
        ],
        schema,
    ).write.mode("append").parquet(str(src))
    run_progress_drain(spark, str(src), ckpt, sink)
    assert len(out) == 1
    r = out[0]
    assert (r.files_seen, r.completed, r.error, r.total_files, r.done) == (
        2,
        1,
        1,
        3,
        False,
    )

    # the duplicate re-delivered in a LATER fire is also ignored
    out.clear()
    spark.createDataFrame(
        [("e1", "h2", "ERROR", 3), ("e1", "h3", "SUCCESS", 3)], schema
    ).write.mode("append").parquet(str(src))
    run_progress_drain(spark, str(src), ckpt, sink)
    (r,) = out
    assert (r.completed, r.error, r.done) == (2, 1, True)


def test_stateful_state_is_compact_prefixes():
    """State contract: the per-file set members are 8-byte longs, not
    64-hex strings (~16 bytes/file total state instead of ~128), and
    the prefix map is deterministic and collision-free at test scale."""
    from unstract_spark.streaming.stateful import STATE_SCHEMA, _hash_prefix

    assert "array<long>" in STATE_SCHEMA
    assert "array<string>" not in STATE_SCHEMA
    prefixes = {_hash_prefix(f"h{i}") for i in range(10_000)}
    assert len(prefixes) == 10_000  # no collisions across 10k files
    assert _hash_prefix("h1") == _hash_prefix("h1")  # stable across calls
    assert all(-(2**63) <= p < 2**63 for p in prefixes)  # fits long


def test_sweep_stale_state_flags_silent_executions(spark, tmp_path):
    """Eager age-out (ADVICE r3): the batch sweep over emitted rollups
    flags executions that went permanently silent — the escape hatch
    for NoTimeout keys that never receive another event."""
    from unstract_spark.streaming.stateful import run_progress_drain, sweep_stale_state

    src, ckpt = tmp_path / "events", str(tmp_path / "ck")
    out: list = []

    def sink(df, _bid):
        out.extend(df.collect())

    schema = "execution_id string, file_hash string, status string, total_files long"
    spark.createDataFrame(
        [("e1", "h1", "SUCCESS", 3), ("e2", "h9", "SUCCESS", 1)], schema
    ).write.mode("append").parquet(str(src))
    run_progress_drain(spark, str(src), ckpt, sink)
    rollups = spark.createDataFrame(out)
    emitted = {r.execution_id: r for r in out}
    assert emitted["e2"].done  # e2 finished; e1 (1/3) did not
    # clock pinned 2h later: only the unfinished, silent e1 is flagged
    now = emitted["e1"].updated_at_ms + 7200 * 1000
    stale = sweep_stale_state(rollups, timeout_s=3600, now_ms=now).collect()
    assert [(r.execution_id, r.timed_out) for r in stale] == [("e1", True)]
    # nothing is stale within the window
    assert sweep_stale_state(rollups, timeout_s=7201, now_ms=now).count() == 0


def test_incremental_pipeline_exactly_once(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_text(f"content {i}")
    seen: list[int] = []
    out: list[str] = []

    def batch_fn(df, batch_id):
        seen.append(batch_id)
        out.extend(r.path for r in df.select("path").collect())

    ckpt = str(tmp_path / "ckpt")
    incremental_file_pipeline(spark, str(src), ckpt, batch_fn, max_files_per_trigger=2)
    assert len(out) == 3  # all drained (possibly over 2 micro-batches)

    # second cron fire: only the new file
    (src / "f3.txt").write_text("content 3")
    out.clear()
    incremental_file_pipeline(spark, str(src), ckpt, batch_fn, max_files_per_trigger=2)
    assert len(out) == 1 and out[0].endswith("f3.txt")


# ---------- end-to-end extraction pipeline ----------


def test_run_extraction_end_to_end(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(5):
        (src / f"d{i}.txt").write_text(f"invoice body {i} total 10{i} dollars")
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist"),
        prompt_specs=[
            {"prompt_key": "invoice_no", "prompt": "get invoice", "enforce_type": "text"},
            {"prompt_key": "total", "prompt": "get total for {{invoice_no}}", "enforce_type": "number"},
        ],
    )
    out = run_extraction(spark, job)
    results = out["results"].collect()
    assert len(results) == 5
    assert set(out["results"].columns) >= {"file_path", "invoice_no", "total"}
    assert out["usage"].count() == 5
    assert out["skipped"].count() == 0

    # re-run: everything served from history, nothing re-processed
    out2 = run_extraction(spark, job)
    assert out2["results"].count() == 0
    assert out2["skipped"].count() == 5
    replayed = json.loads(out2["skipped"].collect()[0].result)
    assert "invoice_no" in replayed


def test_run_extraction_isolates_bad_files(spark, tmp_path):
    """Per-file error isolation (hard-part 5): an undecodable file
    becomes an ERROR row and is retried next run, never a job failure."""
    src = tmp_path / "docs"
    src.mkdir()
    (src / "good.txt").write_text("valid invoice text")
    (src / "bad.txt").write_bytes(bytes([0xFF, 0xFE, 0x00, 0x41]))
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist"),
        prompt_specs=[{"prompt_key": "f1", "prompt": "x", "enforce_type": "text"}],
    )
    out = run_extraction(spark, job)
    rows = {r.file_name: r for r in out["results"].collect()}
    assert rows["good.txt"].status == "SUCCESS" and rows["good.txt"].error_message is None
    assert rows["bad.txt"].status == "ERROR"
    assert "invalid utf-8" in rows["bad.txt"].error_message
    assert rows["bad.txt"].f1 is None
    # ERROR rows are NOT deduped by history: the bad file retries
    out2 = run_extraction(spark, job)
    names2 = {r.file_name for r in out2["results"].collect()}
    assert names2 == {"bad.txt"}


def test_run_extraction_replay_survives_ledger_swap(spark, tmp_path):
    """The second run's `skipped` is read only after run_extraction
    returns, by which time its merge has swapped in a new ledger
    directory and deleted the old one. It still replays exactly the
    first run's COMPLETED files with their cached results, and the
    invalid-UTF-8 file is retried as ERROR instead of replayed."""
    import os

    src = tmp_path / "docs"
    src.mkdir()
    for i in range(4):
        (src / f"d{i}.txt").write_text(f"receipt {i} amount {i}0")
    (src / "bad.txt").write_bytes(bytes([0xFF, 0xFE, 0x00, 0x41]))
    hist = tmp_path / "hist"
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(hist),
        prompt_specs=[
            {"prompt_key": "receipt", "prompt": "id", "enforce_type": "text"},
            {"prompt_key": "amount", "prompt": "sum", "enforce_type": "number"},
        ],
    )
    first = run_extraction(spark, job)["results"].collect()
    want = {
        r.file_path: {k: r[k] for k in ("receipt", "amount") if r[k] is not None}
        for r in first
        if r.status == "SUCCESS"
    }
    assert len(want) == 4

    def parts():
        return {f for f in os.listdir(hist) if f.startswith("part-")}

    ledger_parts = parts()
    out2 = run_extraction(spark, job)
    # the merge replaced the ledger directory and removed the old one
    assert ledger_parts and parts().isdisjoint(ledger_parts)
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("hist.")] == []

    got = {r.file_path: json.loads(r.result) for r in out2["skipped"].collect()}
    assert got == want
    retried = [(r.file_name, r.status) for r in out2["results"].collect()]
    assert retried == [("bad.txt", "ERROR")]


def test_streaming_index_maintenance(spark, tmp_path):
    """Two AvailableNow fires maintain the vector index incrementally:
    new docs are chunked/embedded/upserted, re-uploaded content derives
    the same doc_id and is probe-skipped, and doc-scoped top-k works
    across fires."""
    from unstract_spark.ids import doc_id as doc_id_col
    from unstract_spark.mock import mock_embed_texts
    from unstract_spark.operators.index_store import VectorIndexStore
    from unstract_spark.streaming.incremental import streaming_index_pipeline

    src = tmp_path / "docs"
    src.mkdir()
    store = VectorIndexStore(spark, str(tmp_path / "vidx"))

    (src / "a.txt").write_text("alpha document body " * 40)
    w1 = streaming_index_pipeline(
        spark, str(src), str(tmp_path / "ckpt"), store,
        chunk_size=200, chunk_overlap=0,
    )
    n_after_1 = store.read_chunks().count()
    assert w1 == [n_after_1] and n_after_1 > 1  # multi-chunk doc indexed

    (src / "b.txt").write_text("beta payload text " * 40)
    (src / "a_again.txt").write_text("alpha document body " * 40)  # same bytes
    w2 = streaming_index_pipeline(
        spark, str(src), str(tmp_path / "ckpt"), store,
        chunk_size=200, chunk_overlap=0,
    )
    chunks = store.read_chunks()
    assert chunks.select("doc_id").distinct().count() == 2  # a_again skipped
    assert sum(w2) == chunks.count() - n_after_1

    # retrieval across fires: the indexed chunks answer doc-scoped top-k
    did = (
        spark.createDataFrame([("x",)], "x string")
        .select(
            doc_id_col(
                F.sha2(F.lit(("beta payload text " * 40).encode("utf-8")), 256),
                chunk_size=200,
                chunk_overlap=0,
            ).alias("d")
        )
        .collect()[0]["d"]
    )
    qv = mock_embed_texts(["beta payload text"])[0].tolist()
    hits = store.query_topk(did, qv, k=3).collect()
    assert hits and all(h.doc_id == did for h in hits)
    assert all("beta" in h.chunk_text for h in hits)


def test_session_window_batch_semantics(spark):
    """Gap-based sessions: events within `gap` merge, a larger gap
    starts a new session; session end = last event + gap."""
    from datetime import datetime

    from unstract_spark.streaming.incremental import session_window_aggregation

    t0 = datetime(2026, 8, 13, 10, 0, 0)
    rows = [
        ("u1", t0, 1.0),
        ("u1", datetime(2026, 8, 13, 10, 10), 2.0),   # same session (<30m)
        ("u1", datetime(2026, 8, 13, 11, 30), 4.0),   # new session (80m gap)
        ("u2", datetime(2026, 8, 13, 10, 5), 8.0),
    ]
    events = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    out = session_window_aggregation(events, gap="30 minutes").collect()
    by_key = {(r.user_id, r.session_start): r for r in out}
    assert len(out) == 3
    s1 = by_key[("u1", t0)]
    assert s1.n_events == 2 and s1.total_value == 3.0
    assert s1.session_end == datetime(2026, 8, 13, 10, 40)  # last event + gap
    s2 = by_key[("u1", datetime(2026, 8, 13, 11, 30))]
    assert s2.n_events == 1 and s2.total_value == 4.0


def test_session_window_streaming_with_watermark(spark, tmp_path):
    """On a real stream, sessions emit in append mode once the
    watermark passes their gap: batch 1 carries the session, batch 2's
    later event advances the watermark and finalizes it. A late event
    inside the delay would still merge — state stays open until the
    watermark proves the gap."""
    import json as _json

    from unstract_spark.streaming.incremental import session_window_aggregation

    src = tmp_path / "events"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    write_file("b1.json", [
        {"user_id": "u1", "ts": "2026-08-13T10:00:00", "value": 1.0},
        {"user_id": "u1", "ts": "2026-08-13T10:10:00", "value": 2.0},
    ])
    write_file("b2.json", [
        {"user_id": "u9", "ts": "2026-08-13T18:00:00", "value": 0.5},
    ])

    stream = (
        spark.readStream.schema("user_id string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    agg = session_window_aggregation(stream, gap="30 minutes", watermark_delay="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, str(r.session_start)): r
        for r in spark.sql("select * from sessions_out").collect()
    }
    # u1's session finalized by the watermark jump; u9's is still open
    assert ("u1", "2026-08-13 10:00:00") in got
    assert got[("u1", "2026-08-13 10:00:00")].n_events == 2
    assert not any(k[0] == "u9" for k in got)


def test_streaming_similarity_two_fires_match_batch_planner(spark, tmp_path, sf_dir):
    """Two AvailableNow fires of the streaming similarity pipeline
    produce exactly the rows the batch planner produces on the union of
    both query sets, and each fire records the plan it ran."""
    from unstract_spark.operators.similarity import similarity_topk
    from unstract_spark.streaming.incremental import streaming_similarity_pipeline

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(220)
    index = emb.selectExpr("vec_id", "embedding")
    q1 = emb.limit(3).selectExpr("vec_id + 100000 as vec_id", "embedding")
    q2 = (
        emb.orderBy("vec_id").limit(5).offset(3)
        .selectExpr("vec_id + 200000 as vec_id", "embedding")
    )
    src = str(tmp_path / "query_drop")
    out = str(tmp_path / "topk_out")
    ckpt = str(tmp_path / "ckpt")

    q1.write.mode("append").parquet(src)
    plans = streaming_similarity_pipeline(
        spark, src, ckpt, index, dim=64, out_dir=out, k=4, index_rows=220
    )
    assert len(plans) == 1

    q2.write.mode("append").parquet(src)
    plans2 = streaming_similarity_pipeline(
        spark, src, ckpt, index, dim=64, out_dir=out, k=4, index_rows=220
    )
    assert len(plans2) == 1  # only the NEW files fired

    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch_queries = q1.unionByName(q2).selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    expected_df, plan = similarity_topk(
        batch_queries, index, dim=64, k=4, index_rows=220, n_queries=8,
        index_id="vec_id", index_vec="embedding",
    )
    assert sorted(map(tuple, expected_df.collect())) == streamed
    # small batches price under the exact budget -> brute force everywhere
    assert plan.strategy == "brute_force"
    assert [p.strategy for p in plans + plans2] == ["brute_force", "brute_force"]


def test_streaming_similarity_planner_flips_per_batch(spark, tmp_path, sf_dir):
    """The planner prices each micro-batch: with a tiny exact budget
    the same stream flips to an approximate strategy."""
    from unstract_spark.streaming.incremental import streaming_similarity_pipeline

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(150)
    index = emb.selectExpr("vec_id", "embedding")
    queries = emb.limit(4).selectExpr("vec_id + 999 as vec_id", "embedding")
    src = str(tmp_path / "q")
    queries.write.mode("append").parquet(src)
    plans = streaming_similarity_pipeline(
        spark, src, str(tmp_path / "c"), index, dim=64,
        out_dir=str(tmp_path / "o"), k=3, index_rows=150, exact_budget=10.0,
    )
    assert [p.strategy for p in plans] != ["brute_force"]
    assert plans[0].strategy in ("lsh", "ivf")
    assert spark.read.parquet(str(tmp_path / "o")).count() > 0


def test_streaming_queue_consumer_union_equals_batch_and_redelivers(
    spark, tmp_path
):
    """S9 streaming twin: an AvailableNow drain of the review queue
    consumes exactly what batch claim-until-empty consumes (union of
    fire partitions == batch set), a lapsed foreign claim is
    REDELIVERED into a later fire, and an actively-claimed message is
    left alone."""
    import pyspark.sql.functions as F

    from unstract_spark.sinks.review_queue import (
        ack_messages,
        claim_batch,
        pending_messages,
        write_queue,
    )
    from unstract_spark.streaming.incremental import (
        read_consumed_messages,
        streaming_queue_consumer,
    )

    qp, lp = str(tmp_path / "queue"), str(tmp_path / "ledger")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def enqueue(tags):
        results = spark.createDataFrame(
            [(f"{t}.txt", f"h-{t}", 200.0) for t in tags],
            "file_name string, file_hash string, total double",
        ).coalesce(1)
        write_queue(route_to_review(results, "q1", pct=100.0), qp)

    # three separate enqueue batches -> three file-triggered fires
    enqueue(["a0", "a1", "a2"])
    enqueue(["b0", "b1", "b2"])
    enqueue(["c0", "c1"])

    fires = streaming_queue_consumer(
        spark, qp, lp, ckpt, out, "q1", "sc1", max_messages_per_fire=4
    )
    assert fires >= 2  # the drain took multiple claiming fires
    streamed = {r.message_id for r in read_consumed_messages(spark, out).collect()}

    # batch twin on a FRESH ledger: claim-until-empty over the same queue
    blp = str(tmp_path / "bl")
    batch_ids: set[str] = set()
    while True:
        got = claim_batch(spark, qp, blp, "q1", "bc", max_messages=4)
        ids = [r.message_id for r in got.collect()]
        if not ids:
            break
        ack_messages(spark, blp, "q1", ids, "bc")
        batch_ids.update(ids)
    assert streamed == batch_ids and len(streamed) == 8

    # --- redelivery: 3 new messages; a crashed consumer's STALE claim
    # on one must redeliver, a live foreign claim on another must not.
    enqueue(["d0", "d1", "d2"])
    new_ids = sorted(
        r.message_id
        for r in pending_messages(spark, qp, lp, "q1").collect()
    )
    stale_id, live_id, free_id = new_ids[0], new_ids[1], new_ids[2]
    ghost = spark.createDataFrame(
        [("q1", stale_id, "ghost", "CLAIMED"), ("q1", live_id, "ghost2", "CLAIMED")],
        "queue_name string, message_id string, consumer_id string, state string",
    ).withColumn(
        "ts",
        F.when(
            F.col("message_id") == stale_id,
            F.current_timestamp() - F.make_dt_interval(hours=F.lit(1)),
        ).otherwise(F.current_timestamp()),
    )
    ghost.write.mode("append").partitionBy("queue_name").parquet(lp)

    fires2 = streaming_queue_consumer(
        spark, qp, lp, ckpt, out, "q1", "sc1", max_messages_per_fire=4
    )
    assert fires2 >= 1
    consumed = {r.message_id for r in read_consumed_messages(spark, out).collect()}
    assert stale_id in consumed  # lapsed claim redelivered
    assert free_id in consumed
    assert live_id not in consumed  # active claim respected
    assert consumed == streamed | {stale_id, free_id}

def test_streaming_queue_consumer_fresh_checkpoint_keeps_prior_runs(
    spark, tmp_path
):
    """The r7-advice gap: a rerun against the same out_dir with a
    FRESH checkpoint_dir restarts epochs at 0 — without per-run
    partition namespacing, the new run's batch_id=0 overwrites the
    first run's committed partition, silently losing messages that
    were already acked (hence never redelivered)."""
    from unstract_spark.streaming.incremental import (
        read_consumed_messages,
        streaming_queue_consumer,
    )
    from unstract_spark.sinks.review_queue import write_queue

    qp, lp = str(tmp_path / "queue"), str(tmp_path / "ledger")
    out = str(tmp_path / "out")

    def enqueue(tags):
        results = spark.createDataFrame(
            [(f"{t}.txt", f"h-{t}", 200.0) for t in tags],
            "file_name string, file_hash string, total double",
        ).coalesce(1)
        write_queue(route_to_review(results, "q1", pct=100.0), qp)

    enqueue(["a0", "a1"])
    assert (
        streaming_queue_consumer(
            spark, qp, lp, str(tmp_path / "ckpt1"), out, "q1", "sc1"
        )
        >= 1
    )
    first = {
        r.message_id for r in read_consumed_messages(spark, out).collect()
    }
    assert len(first) == 2

    enqueue(["b0", "b1"])
    # fresh checkpoint: epochs restart at 0
    assert (
        streaming_queue_consumer(
            spark, qp, lp, str(tmp_path / "ckpt2"), out, "q1", "sc1"
        )
        >= 1
    )
    consumed = {
        r.message_id for r in read_consumed_messages(spark, out).collect()
    }
    assert first <= consumed and len(consumed) == 4  # nothing clobbered


def test_streaming_queue_consumer_sweep_recovers_without_new_arrivals(
    spark, tmp_path
):
    """The strand shape the stream alone cannot recover (review
    finding r7): a message's claim is ACTIVE when the consumer's fire
    passes over its queue file, so the checkpoint advances past the
    file with the message undelivered; the claim then lapses with NO
    further enqueues — a later run has zero stream fires, and only the
    post-drain sweep can claim, deliver, and ack it."""
    import time as _time

    import pyspark.sql.functions as F

    from unstract_spark.sinks.review_queue import pending_messages, write_queue
    from unstract_spark.streaming.incremental import (
        read_consumed_messages,
        streaming_queue_consumer,
    )

    qp, lp = str(tmp_path / "queue"), str(tmp_path / "ledger")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def enqueue(tag):
        rows = spark.createDataFrame(
            [(f"{tag}.txt", f"h-{tag}", 200.0)],
            "file_name string, file_hash string, total double",
        ).coalesce(1)
        write_queue(route_to_review(rows, "q1", pct=100.0), qp)

    enqueue("a")
    assert streaming_queue_consumer(spark, qp, lp, ckpt, out, "q1", "sc1") == 1

    # new message; another consumer claims it and "crashes" (no ack)
    enqueue("b")
    b_id = [r.message_id for r in pending_messages(spark, qp, lp, "q1").collect()]
    assert len(b_id) == 1
    ghost = spark.createDataFrame(
        [("q1", b_id[0], "ghost", "CLAIMED")],
        "queue_name string, message_id string, consumer_id string, state string",
    ).withColumn("ts", F.current_timestamp())
    ghost.write.mode("append").partitionBy("queue_name").parquet(lp)

    # the fire sees b's file (new to the checkpoint) but the claim is
    # ACTIVE -> nothing claimable; checkpoint still advances past it
    assert (
        streaming_queue_consumer(
            spark, qp, lp, ckpt, out, "q1", "sc1", visibility_timeout_s=3600
        )
        == 0
    )
    assert b_id[0] not in {
        r.message_id for r in read_consumed_messages(spark, out).collect()
    }

    # ghost's claim lapses; NO new enqueues. A run now has zero stream
    # fires — the sweep must deliver b (fires returns 1 for the sweep).
    _time.sleep(5.5)
    assert (
        streaming_queue_consumer(
            spark, qp, lp, ckpt, out, "q1", "sc1", visibility_timeout_s=5
        )
        == 1
    )
    consumed = {r.message_id for r in read_consumed_messages(spark, out).collect()}
    assert b_id[0] in consumed
    # sweep partition lives in the disjoint namespace
    import os

    sweeps = [
        d for d in os.listdir(out)
        if d.startswith("batch_id=") and int(d.split("=")[1]) >= (1 << 40)
    ]
    assert len(sweeps) == 1


def test_dead_letter_redrive_policy(spark, tmp_path):
    """SQS-style redrive: a message whose claims lapsed un-acked
    max_deliveries times surfaces in the dead-letter view and is
    excluded from pending under the same policy; healthy and acked
    messages never appear there."""
    import pyspark.sql.functions as F

    from unstract_spark.sinks.review_queue import (
        ack_messages,
        dead_letter_messages,
        pending_messages,
        write_queue,
    )

    qp, lp = str(tmp_path / "queue"), str(tmp_path / "ledger")
    results = spark.createDataFrame(
        [("p.txt", "h-p", 200.0), ("ok.txt", "h-ok", 200.0)],
        "file_name string, file_hash string, total double",
    )
    write_queue(route_to_review(results, "q1", pct=100.0), qp)
    ids = {r.file: r.message_id
           for r in pending_messages(spark, qp, lp, "q1").collect()}
    poison, healthy = ids["p.txt"], ids["ok.txt"]

    # healthy message consumed normally (acked; poison never claimed
    # by a live consumer — only by the crashed ghosts below)
    ack_messages(spark, lp, "q1", [healthy], "c1")

    # poison message: 3 crashed delivery attempts (stale claims)
    ghost = spark.createDataFrame(
        [("q1", poison, f"crash{i}", "CLAIMED") for i in range(3)],
        "queue_name string, message_id string, consumer_id string, state string",
    ).withColumn(
        "ts", F.current_timestamp() - F.make_dt_interval(hours=F.lit(1))
    )
    ghost.write.mode("append").partitionBy("queue_name").parquet(lp)

    dlq = {r.message_id for r in dead_letter_messages(
        spark, qp, lp, "q1", max_deliveries=3).collect()}
    assert dlq == {poison}
    # redrive-aware pending excludes it; plain pending still offers it
    aware = {r.message_id for r in pending_messages(
        spark, qp, lp, "q1", max_deliveries=3).collect()}
    assert poison not in aware
    plain = {r.message_id for r in pending_messages(spark, qp, lp, "q1").collect()}
    assert poison in plain
    # under the threshold it is NOT dead-lettered
    assert dead_letter_messages(
        spark, qp, lp, "q1", max_deliveries=4).count() == 0
    # acked messages never reach the DLQ regardless of old claims
    assert healthy not in dlq


def test_sliding_window_stream_equals_batch(spark, tmp_path, sf_dir):
    """The sliding-window hotspot shape on a real STREAM: an
    AvailableNow drain with complete-mode foreachBatch over the events
    slice must produce exactly the batch expression's rows (same
    epoch-anchored window alignment the events_hotspot_windows oracle
    gates)."""
    from unstract_spark.queries import _t
    from unstract_spark.streaming.incremental import (
        windowed_event_aggregation,
    )

    import pyspark.sql.functions as F

    # watermarks need TIMESTAMP (LTZ); the test slice converts the
    # engine's NTZ event time once at the source
    events = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .limit(2000)
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "src")
    events.write.mode("overwrite").parquet(src)

    batch = {
        (r.window_start, r.window_end, r.event_type, r.n_events, r.total_value)
        for r in windowed_event_aggregation(
            spark.read.parquet(src), "1 hour", slide="15 minutes"
        ).collect()
    }
    assert batch and len({w for w, *_ in batch}) > 4

    got: set = set()
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    agg = windowed_event_aggregation(stream, "1 hour", slide="15 minutes")

    def sink(df, _epoch):
        got.clear()  # complete mode re-emits the full result each fire
        got.update(
            (r.window_start, r.window_end, r.event_type, r.n_events,
             r.total_value)
            for r in df.collect()
        )

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == batch


def _hist_rows(spark, rows):
    from unstract_spark.schemas import FILE_HISTORY

    return spark.createDataFrame(rows, FILE_HISTORY)


def test_history_joins_consult_stats_store(spark, tmp_path):
    """The priced join planner IS the engine's planner now (r11
    verdict #1): a FileHistoryStore configured with a TableStatsStore
    ANALYZEs the ledger on merge, and the production F2 anti-join /
    replay join flip to the stats-chosen shape — hot-key split around
    a dominating content hash (the boilerplate-document-uploaded-a-
    million-times case), broadcast when the ledger's size bound fits —
    with the row multiset identical to the default plan in both."""
    from unstract_spark.operators.stats_store import TableStatsStore
    from unstract_spark.sinks.history import FileHistoryStore

    # ledger: one content hash carries 40% of rows + a flat tail
    rows = [
        ("hot", None, f"/p/{i}", "wf", "COMPLETED", "{}", None, 1)
        for i in range(400)
    ] + [
        (f"k{i}", None, f"/q/{i}", "wf", "COMPLETED", "{}", None, 1)
        for i in range(600)
    ]
    updates = _hist_rows(spark, rows)

    plain = FileHistoryStore(spark, str(tmp_path / "h1"))
    plain.merge(updates)
    salted = FileHistoryStore(
        spark,
        str(tmp_path / "h2"),
        stats=TableStatsStore(spark, str(tmp_path / "st2")),
        broadcast_threshold_bytes=10,  # force past the broadcast rung
    )
    salted.merge(updates)  # analyze-on-write runs here
    assert salted.stats.has_stats("file_history", "cache_key")
    assert salted.stats.top_share_ppm("file_history", "cache_key") == 400_000

    # catalog: hot hits (dropped), hot same hash NEW path (kept),
    # flat hits and misses, and a NULL-hash row (kept — no match)
    catalog = spark.createDataFrame(
        [("hot", f"/p/{i}") for i in range(100)]          # replayed
        + [("hot", f"/new/{i}") for i in range(50)]       # fresh
        + [("k1", "/q/1"), ("k2", "/q/2")]                # replayed
        + [("miss", "/m/1"), (None, "/m/2")],             # fresh
        "file_hash string, file_path string",
    )

    d_plain = plain.dedup_catalog(catalog)
    d_salted = salted.dedup_catalog(catalog)
    plan_salted = d_salted._jdf.queryExecution().executedPlan().toString()
    plan_plain = d_plain._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan_salted and "BroadcastHashJoin" in plan_salted
    assert "Union" not in plan_plain
    expect = sorted((r.file_hash, r.file_path) for r in d_plain.collect()
                    if r.file_hash is not None)
    got = sorted((r.file_hash, r.file_path) for r in d_salted.collect()
                 if r.file_hash is not None)
    assert got == expect and len(got) == 51  # 50 new-path hot + miss
    # the NULL-hash row rides the cold branch and is kept by both
    assert d_plain.filter(F.col("file_hash").isNull()).count() == 1
    assert d_salted.filter(F.col("file_hash").isNull()).count() == 1

    r_plain = plain.replay_results(catalog)
    r_salted = salted.replay_results(catalog)
    assert "Union" in (
        r_salted._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted((r.file_hash, r.file_path) for r in r_salted.collect()) \
        == sorted((r.file_hash, r.file_path) for r in r_plain.collect())

    # default thresholds: the ledger fits 64 MB -> broadcast_known,
    # single broadcast join, no Union
    bc = FileHistoryStore(
        spark,
        str(tmp_path / "h3"),
        stats=TableStatsStore(spark, str(tmp_path / "st3")),
    )
    bc.merge(updates)
    d_bc = bc.dedup_catalog(catalog)
    p_bc = d_bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_bc and "Union" not in p_bc
    assert sorted(
        (r.file_hash, r.file_path)
        for r in d_bc.collect() if r.file_hash is not None
    ) == expect


def test_fat_payload_hot_branch_never_broadcasts(spark, tmp_path):
    """r12 verdict #2: the shuffle_salted hot branch used to broadcast
    the FULL hot ledger rows — result/metadata payloads included — an
    OOM at exactly the scale the planner exists for. Now every
    broadcast is re-priced against the consumer's actual projection
    from the SAME stored stats (heavy-key counts × per-column
    avg_len): the replay (inner) join on a fat-payload skewed ledger
    must take the salt-replicate branch (no broadcast anywhere), while
    the anti path's key-only projection keeps its distinct-key
    broadcast. Row multisets identical to the default plan in both."""
    from unstract_spark.operators.stats_store import TableStatsStore
    from unstract_spark.sinks.history import FileHistoryStore

    fat = "x" * 2000
    rows = [
        ("hot", None, f"/p/{i}", "wf", "COMPLETED", fat, None, 1)
        for i in range(400)
    ] + [
        (f"k{i}", None, f"/q/{i}", "wf", "COMPLETED", fat, None, 1)
        for i in range(600)
    ]
    updates = _hist_rows(spark, rows)
    plain = FileHistoryStore(spark, str(tmp_path / "h1"))
    plain.merge(updates)
    priced = FileHistoryStore(
        spark,
        str(tmp_path / "h2"),
        stats=TableStatsStore(spark, str(tmp_path / "st")),
        broadcast_threshold_bytes=50_000,
    )
    priced.merge(updates)
    # analyze-on-write covered the payload columns with real widths
    assert priced.stats._meta("file_history", "result").avg_len > 1000
    assert priced.stats.top_share_ppm("file_history", "cache_key") \
        == 400_000

    catalog = spark.createDataFrame(
        [("hot", f"/p/{i}") for i in range(100)]
        + [("hot", f"/new/{i}") for i in range(50)]
        + [("k1", "/q/1"), ("miss", "/m/1")],
        "file_hash string, file_path string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        r_priced = priced.replay_results(catalog)
        p = r_priced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p  # fat hot rows NEVER broadcast
        assert "Union" in p                  # skew split still applied
        r_plain = plain.replay_results(catalog)
        assert sorted(
            (r.file_hash, r.file_path, r.result)
            for r in r_priced.collect()
        ) == sorted(
            (r.file_hash, r.file_path, r.result)
            for r in r_plain.collect()
        )
        assert r_priced.count() == 101  # 100 hot replays + k1

        # anti path projects keys only: the SAME ledger re-prices as
        # broadcastable (1000 rows x ~9 key bytes fits 50 KB) — one
        # broadcast join, no skew split needed at all
        d = priced.dedup_catalog(catalog)
        pd_ = d._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in pd_ and "Union" not in pd_
        assert sorted(
            (r.file_hash, r.file_path) for r in d.collect()
        ) == sorted(
            (r.file_hash, r.file_path)
            for r in plain.dedup_catalog(catalog).collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salt_replicate_left_join_multiset(spark, tmp_path):
    """The salt-replicate branch must be row-multiset identical to the
    plain join for `left` outer too: hot rows with multiple matches
    keep every match exactly once, hot rows with NO match NULL-extend
    exactly once (one salt per left row), and cold/NULL keys ride the
    cold branch untouched."""
    from unstract_spark.operators.stats_store import TableStatsStore

    store = TableStatsStore(spark, str(tmp_path / "st"))
    dim = spark.createDataFrame(
        [("hot", f"payload-{i}") for i in range(200)]
        + [(f"k{i}", f"p-{i}") for i in range(100)],
        "k string, payload string",
    )
    store.analyze(dim, "dim", ["k", "payload"])
    plan = store.plan_against_unknown(
        "dim", "k", broadcast_threshold_bytes=100
    )
    assert plan["strategy"] == "shuffle_salted"

    left = spark.createDataFrame(
        [("hot", 1), ("hot", 2), ("k3", 3), ("nope", 4), (None, 5)],
        "k string, v int",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = store.apply_using_join(left, dim, ["k"], plan, "left")
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p  # hot bytes over threshold
        keyf = lambda t: (t[0] or "", t[1], t[2] or "")  # noqa: E731
        got = sorted(
            ((r.k, r.v, r.payload) for r in j.collect()), key=keyf
        )
        expect = sorted(
            (
                (r.k, r.v, r.payload)
                for r in left.join(dim, ["k"], "left").collect()
            ),
            key=keyf,
        )
        assert got == expect
        assert sum(1 for k, _, _ in got if k == "hot") == 400
        assert ("nope", 4, None) in got and (None, 5, None) in got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_run_extraction_with_stats_path(spark, tmp_path):
    """stats_path on ExtractionJob wires the planner end to end: the
    first run ANALYZEs the ledger it writes, the second run's history
    joins are stats-priced and replay identically."""
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(4):
        (src / f"d{i}.txt").write_text(f"contract body {i}")
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "hist"),
        stats_path=str(tmp_path / "stats"),
        prompt_specs=[
            {"prompt_key": "party", "prompt": "who", "enforce_type": "text"}
        ],
    )
    out = run_extraction(spark, job)
    assert out["results"].count() == 4
    import os as _os

    assert _os.path.isdir(
        str(tmp_path / "stats" / "meta" / "table=file_history")
    )
    out2 = run_extraction(spark, job)
    assert out2["results"].count() == 0
    assert out2["skipped"].count() == 4
