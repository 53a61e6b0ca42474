"""Index store (T5/T6), enrichment ops (T11-T18), extended retrievers
(R4/R5/R7), notification outbox (D6), cloud source config (S8)."""

import pytest
from pyspark.sql import functions as F

from unstract_spark.operators.enrich import (
    attach_highlights,
    challenge_mock,
    repair_json,
    repair_json_column,
)
from unstract_spark.operators.index_store import VectorIndexStore, embed_chunks
from unstract_spark.operators.retrieval import recursive_retrieve, router_retrieve
from unstract_spark.sinks.notify import (
    append_outbox,
    drain_outbox,
    enqueue_notifications,
    read_outbox,
)
from unstract_spark.sources.cloud import configure_connector, sync_to_staging


# ---------- vector index store ----------


@pytest.fixture()
def chunk_rows(spark):
    rows = [
        ("docA", "h1", i, f"chunk text {i} about spark engines") for i in range(4)
    ] + [("docB", "h2", i, f"other content {i} entirely") for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id string, file_hash string, chunk_no int, chunk_text string"
    )
    return embed_chunks(df)


def test_index_upsert_idempotent(spark, tmp_path, chunk_rows):
    store = VectorIndexStore(spark, str(tmp_path / "idx"))
    assert store.upsert(chunk_rows) == 7
    assert store.upsert(chunk_rows) == 0  # probe-before-write: no rewrite
    assert store.read().count() == 7


def test_index_reindex_replaces(spark, tmp_path, chunk_rows):
    store = VectorIndexStore(spark, str(tmp_path / "idx"))
    store.upsert(chunk_rows)
    reduced = chunk_rows.filter(F.col("doc_id") == "docA").limit(2)
    store.upsert(reduced, reindex=True)
    counts = {r.doc_id: r.n for r in
              store.read().groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {"docA": 2, "docB": 3}  # delete-then-add for docA only


def test_index_query_scoped_topk(spark, tmp_path, chunk_rows):
    from unstract_spark.mock import mock_embed_texts

    store = VectorIndexStore(spark, str(tmp_path / "idx"))
    store.upsert(chunk_rows)
    qv = mock_embed_texts(["chunk text 2 about spark engines"])[0].tolist()
    hits = store.query_topk("docA", qv, k=2).collect()
    assert len(hits) == 2
    assert hits[0].chunk_no == 2  # identical text -> cosine 1.0 wins
    assert all(h.doc_id == "docA" for h in hits)


# ---------- enrichment ----------


def test_classify_escapes_regex_metachars(spark):
    from unstract_spark.operators.enrich import classify_by_keywords

    df = spark.createDataFrame(
        [
            ("d1", "we ship c++ services and a.b modules"),
            ("d2", "we ship cpp services and axb modules"),
            ("d3", "plain prose about an invoice"),
        ],
        "doc_id string, text string",
    )
    out = {
        r.doc_id: r
        for r in classify_by_keywords(
            df, {"systems": ["c++", "a.b"], "finance": ["invoice"]}
        ).collect()
    }
    # metachars are literals: 'a.b' must NOT match 'axb', 'c++' must not throw
    assert out["d1"].classification == "systems"
    assert out["d1"].score_systems == 2
    assert out["d2"].score_systems == 0
    assert out["d3"].classification == "finance"


def test_challenge_and_highlights(spark):
    df = spark.createDataFrame(
        [("the total is 42", "Line one.\nLine two: the total is 42 here.")],
        "answer_raw string, context_text string",
    )
    out = attach_highlights(challenge_mock(df)).collect()[0]
    assert out.challenge_agrees in (True, False)
    assert 0.0 <= out.challenge_confidence <= 1.0
    assert out.highlight.found_in_context
    assert out.highlight.line_no == 2


@pytest.mark.parametrize(
    "raw,expect",
    [
        ('{"a": 1}', '{"a": 1}'),
        ('```json\n{"a": 1}\n```', '{"a": 1}'),
        ('prefix noise {"a": [1, 2', '{"a": [1, 2]}'),
        ('{"a": "unclosed', '{"a": "unclosed"}'),
        ("NA", None),
        ("no json at all", "{}"),
        ('"bare string"', "{}"),
    ],
)
def test_repair_json_cases(raw, expect):
    import json

    got = repair_json(raw)
    assert got == expect or (expect not in (None, "{}") and json.loads(got) == json.loads(expect))


def test_repair_json_column(spark):
    df = spark.createDataFrame([('{"k": 1',), ("NA",)], "raw string")
    vals = [r.fixed for r in repair_json_column(df, "raw", "fixed").collect()]
    assert vals == ['{"k": 1}', None]


# ---------- extended retrievers ----------


def test_router_dispatch(spark):
    from unstract_spark.mock import mock_embed_texts

    docs = spark.createDataFrame(
        [(i, f"document about topic {i} spark") for i in range(6)],
        "vec_id long, text string",
    )
    emb = mock_embed_texts([f"document about topic {i} spark" for i in range(6)])
    index = spark.createDataFrame(
        [(i, emb[i].tolist()) for i in range(6)], "vec_id long, embedding array<float>"
    )
    qv = mock_embed_texts(["document about topic 3 spark"])[0].tolist()
    queries = spark.createDataFrame(
        [(1, "spark", qv), (2, "a much longer natural language question", qv)],
        "query_id long, query_text string, query_vec array<float>",
    )
    out = router_retrieve(queries, index, docs=docs, k=3)
    strategies = {r.query_id: r.strategy for r in out.collect()}
    assert strategies[1] == "keyword" and strategies[2] == "vector"


def test_recursive_retrieve_follows_links(spark):
    from unstract_spark.mock import mock_embed_texts

    emb = mock_embed_texts(["seed text", "two", "three", "four"])
    index = spark.createDataFrame(
        [(i, emb[i].tolist()) for i in range(4)], "vec_id long, embedding array<float>"
    )
    links = spark.createDataFrame([(0, 2), (2, 3)], "src_id long, dst_id long")
    q = spark.createDataFrame(
        [(1, mock_embed_texts(["seed text"])[0].tolist())],
        "query_id long, query_vec array<float>",
    )
    got = {r.vec_id for r in recursive_retrieve(q, index, links, hops=2, k=1).collect()}
    assert got == {0, 2, 3}  # seed (exact match) + 2 hops of links


# ---------- T15 webhook postprocess + D3 API results ----------


def test_webhook_postprocess_and_isolation(spark):
    from unstract_spark.operators.enrich import webhook_postprocess

    df = spark.createDataFrame(
        [("f1", "inv-1"), ("f2", "inv-2")], "file string, invoice_no string"
    )

    def transport(url, payload):
        import json as j

        data = j.loads(payload)
        if data["file"] == "f2":
            raise ConnectionError("refused")
        return j.dumps({"enriched": data["invoice_no"].upper()})

    out = {r.file: r for r in webhook_postprocess(df, "https://h/x", transport).collect()}
    assert '"INV-1"' in out["f1"].postprocessed
    assert out["f1"].postprocess_status == "SUCCESS"
    assert out["f2"].postprocess_status.startswith("ERROR")
    assert "inv-2" in out["f2"].postprocessed  # original payload kept


def test_api_results_shape(spark, tmp_path):
    from unstract_spark.plans.pipeline import ExtractionJob, api_results, run_extraction

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("text one")
    job = ExtractionJob(
        source_dir=str(src),
        history_path=str(tmp_path / "h"),
        prompt_specs=[{"prompt_key": "f1", "prompt": "x", "enforce_type": "text"}],
    )
    out = run_extraction(spark, job)
    payload = api_results(out["results"], out["skipped"])
    assert payload[0]["file"] == "a.txt"
    assert payload[0]["status"] == "SUCCESS"
    assert "f1" in payload[0]["result"]
    # replay run: cache hits flagged
    out2 = run_extraction(spark, job)
    payload2 = api_results(out2["results"], out2["skipped"])
    assert payload2[0]["metadata"] == {"cache_hit": True}
    # the per-request cap guards the driver against bulk misuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="capped at 0 files"):
        api_results(out["results"], out["skipped"], max_files=0)


# ---------- notification outbox ----------


def test_outbox_drain_retries_and_marks_sent(spark, tmp_path):
    results = spark.createDataFrame([("a",), ("b",)], "file string")
    rows = enqueue_notifications(results, "https://hooks.example/x", "exec-1")
    path = str(tmp_path / "outbox")
    append_outbox(rows, path)
    calls = []

    def flaky_transport(url, payload):
        calls.append(url)
        if len(calls) == 1:
            raise ConnectionError("transient")
        return True

    stats = drain_outbox(spark, path, flaky_transport, backoff_s=0.001)
    assert stats == {"sent": 1, "failed": 0, "pending": 0}
    assert len(calls) == 2  # one retry
    rows = read_outbox(spark, path).collect()
    assert [r.status for r in rows] == ["SENT"]
    assert rows[0].attempts == 2  # attempt accounting persisted


def test_outbox_attempts_accumulate_to_terminal_failed(spark, tmp_path):
    """A permanently-failing endpoint reaches terminal FAILED in a
    bounded number of drains (reference notification/tasks.py:29-103:
    retries with backoff, then give up — no infinite re-delivery)."""
    results = spark.createDataFrame([("a",)], "file string")
    rows = enqueue_notifications(results, "https://hooks.example/dead", "exec-2")
    path = str(tmp_path / "outbox2")
    append_outbox(rows, path)
    calls = []

    def dead_transport(url, payload):
        calls.append(url)
        raise ConnectionError("refused")

    # drain 1: 3 calls used, row stays PENDING with attempts=3
    stats = drain_outbox(
        spark, path, dead_transport, max_retries=3, backoff_s=0.001, max_attempts=5
    )
    assert stats == {"sent": 0, "failed": 0, "pending": 1}
    row = read_outbox(spark, path).collect()[0]
    assert (row.status, row.attempts) == ("PENDING", 3)
    # drain 2: only 2 more calls allowed before the lifetime cap -> FAILED
    stats = drain_outbox(
        spark, path, dead_transport, max_retries=3, backoff_s=0.001, max_attempts=5
    )
    assert stats == {"sent": 0, "failed": 1, "pending": 0}
    row = read_outbox(spark, path).collect()[0]
    assert (row.status, row.attempts) == ("FAILED", 5)
    assert len(calls) == 5  # lifetime cap respected, not 6
    # drain 3: terminal FAILED is never re-delivered
    stats = drain_outbox(
        spark, path, dead_transport, max_retries=3, backoff_s=0.001, max_attempts=5
    )
    assert stats == {"sent": 0, "failed": 0, "pending": 0}
    assert len(calls) == 5


def test_slack_renderer_matches_reference_shapes(spark):
    """D6 Slack provider parity (r12 verdict missing #4): the rendered
    mrkdwn body and the clubbed envelope match the reference's
    receiver-visible shapes (slack_webhook.py:36-53 +
    notification_clubbed_renderer.py) for the same event dicts —
    summary counts via the failure predicate, single-event legacy key
    spread, humanized timestamps, the 25-event display cap with the
    overflow footer, and {"text": ...} passthrough."""
    from unstract_spark.sinks.notify import (
        build_envelope,
        format_slack_payload,
        render_slack_text,
    )

    def ev(status="COMPLETED", failed=0, total=3, **over):
        p = {
            "type": "API",
            "pipeline_id": "pipe-1",
            "pipeline_name": "demo",
            "status": status,
            "execution_id": "exec-1",
            "error_message": None,
            "timestamp": "2026-05-11T11:38:31",
            "additional_data": {
                "total_files": total,
                "successful_files": total - failed,
                "failed_files": failed,
            },
        }
        p.update(over)
        return p

    # summary counts: terminal status, partial failure, clean success
    env = build_envelope([
        ev(status="ERROR", failed=0, total=0),
        ev(status="COMPLETED", failed=2, total=5),
        ev(status="COMPLETED", failed=0, total=5),
    ])
    assert env["summary"] == {"total": 3, "succeeded": 1, "failed": 2}
    assert set(env) == {"summary", "events"}  # multi-event: envelope only

    # single event: legacy flat keys spread, timestamp humanized in
    # events[] but raw top-level
    env1 = build_envelope([ev(status="ERROR", failed=1, total=2,
                              error_message="boom")])
    assert env1["status"] == "ERROR" and env1["error_message"] == "boom"
    assert env1["timestamp"] == "2026-05-11T11:38:31"
    assert env1["events"][0]["timestamp"] == "2026 May 11 11:38:31 AM"

    # explicit is_failure verdict beats an unclassifiable status
    envf = build_envelope([ev(status="FAILURE", failed=0, total=0,
                              is_failure=True)])
    assert envf["summary"] == {"total": 1, "succeeded": 0, "failed": 1}
    textf = render_slack_text(envf)
    assert "1 failed" in textf and ":x: 0/0 files" in textf

    # mrkdwn body: singular header, 6 middle-dot fields on success,
    # italic collapsed error on failure, no files column without totals
    text = render_slack_text(build_envelope([ev()]))
    assert "*1 execution*" in text
    assert len(text.split("\n")[-1].split(" · ")) == 6
    terr = render_slack_text(build_envelope(
        [ev(status="ERROR", failed=1, total=2,
            error_message="line1\nline2\n  line3")]
    ))
    assert "_line1 line2 line3_" in terr.split("\n")[-1]
    tnof = render_slack_text(build_envelope([ev(additional_data={})]))
    assert "files" not in tnof

    # overflow footer: 26 events, 25 shown
    tover = render_slack_text(build_envelope(
        [ev(execution_id=f"e{i}") for i in range(26)]
    ))
    assert "and 1 more executions" in tover

    # provider entry: rendered bodies pass through, flat dicts wrap
    assert format_slack_payload({"text": "already"}) == {"text": "already"}
    wrapped = format_slack_payload(ev())
    assert set(wrapped) == {"text"} and "*1 execution*" in wrapped["text"]


def test_outbox_drain_renders_slack_provider_rows(spark, tmp_path):
    """The outbox drain renders by provider column: a slack row posts
    Slack's {"text": mrkdwn} structure while a generic webhook row
    posts the stored JSON unchanged."""
    import json

    results = spark.createDataFrame([("a",), ("b",)], "file string")
    path = str(tmp_path / "outbox_slack")
    append_outbox(
        enqueue_notifications(
            results, "https://hooks.slack.example/T/B", "exec-9",
            provider="slack",
        ),
        path,
    )
    append_outbox(
        enqueue_notifications(results, "https://hooks.example/x", "exec-9"),
        path,
    )
    posted = {}

    def transport(url, payload):
        posted[url] = payload
        return True

    stats = drain_outbox(spark, path, transport, backoff_s=0.001)
    assert stats == {"sent": 2, "failed": 0, "pending": 0}
    slack_body = json.loads(posted["https://hooks.slack.example/T/B"])
    assert set(slack_body) == {"text"}
    assert "*1 execution*" in slack_body["text"]
    assert "exec-9" in slack_body["text"]
    raw_body = json.loads(posted["https://hooks.example/x"])
    assert raw_body["execution_id"] == "exec-9"  # untouched JSON
    assert "text" not in raw_body
    # provider column survives the rewrite
    provs = {r.provider for r in read_outbox(spark, path).collect()}
    assert provs == {"slack", "webhook"}


# ---------- cloud source config ----------


def test_configure_s3a_sets_hadoop_conf(spark):
    configure_connector(
        spark, "s3a", {"access_key": "AK", "secret_key": "SK", "endpoint": "minio:9000"}
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AK"
    assert hconf.get("fs.s3a.endpoint") == "minio:9000"


def test_configure_unknown_scheme_rejected(spark):
    with pytest.raises(ValueError, match="no hadoop mapping"):
        configure_connector(spark, "gdrive", {})


def test_sync_to_staging_with_injected_fs(tmp_path):
    class FakeFS:
        def get(self, src, dst):
            with open(dst, "w") as f:
                f.write(f"synced:{src}")

    staged = sync_to_staging(FakeFS(), ["folder/a.txt", "b.txt"], str(tmp_path / "st"))
    assert len(staged) == 2
    assert open(staged[0]).read() == "synced:folder/a.txt"


def test_sync_requires_fs():
    with pytest.raises(NotImplementedError, match="fsspec"):
        sync_to_staging(None, ["x"], "/tmp/nope")


def test_fsspec_conf_long_tail_providers():
    from unstract_spark.sources.cloud import fsspec_connector_conf

    proto, kw = fsspec_connector_conf(
        "gdrive",
        {"access_token": "at", "refresh_token": "rt", "token_expiry": "2026-01-01"},
    )
    assert proto == "gdrive" and kw["refresh_token"] == "rt"
    proto, kw = fsspec_connector_conf("dropbox", {"token": "tk"})
    assert proto == "dropbox" and kw["token"] == "tk"
    proto, kw = fsspec_connector_conf(
        "sharepoint",
        {"site_url": "https://x.sharepoint.com/", "client_id": "c", "client_secret": "s"},
    )
    assert kw["base_url"] == "https://x.sharepoint.com"  # trailing / stripped
    # missing required settings fail like the reference constructors
    with pytest.raises(KeyError):
        fsspec_connector_conf("box", {})
    with pytest.raises(ValueError, match="unknown long-tail"):
        fsspec_connector_conf("smb", {})


def test_sync_distributed_isolates_failures(spark, tmp_path):
    from unstract_spark.sources.cloud import sync_to_staging_distributed

    staging = str(tmp_path / "staged")

    def fs_factory():
        class FakeFS:
            def get(self, src, dst):
                if "bad" in src:
                    raise IOError("remote read failed")
                with open(dst, "w") as f:
                    f.write(f"synced:{src}")

        return FakeFS()

    out = {
        r.remote_path: r
        for r in sync_to_staging_distributed(
            spark, fs_factory, ["dir/a.txt", "bad/x.bin", "b.txt"], staging
        ).collect()
    }
    assert out["dir/a.txt"].status == "SUCCESS"
    assert open(out["dir/a.txt"].staged_path).read() == "synced:dir/a.txt"
    assert out["bad/x.bin"].status == "ERROR"
    assert "remote read failed" in out["bad/x.bin"].error_message
    assert out["b.txt"].status == "SUCCESS"
