"""Multi-writer safety for the parquet-swap ledgers: concurrent
history merges / index upserts keep every writer's rows, concurrent
queue claimers never double-claim, and the lock itself breaks stale
holders and times out politely.

Threads share the driver-side Spark session (Spark job submission is
thread-safe); the point is interleaving the read-modify-swap cycles
that previously lost rows.
"""

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from unstract_spark.operators.index_store import VectorIndexStore, embed_chunks
from unstract_spark.sinks.history import FileHistoryStore
from unstract_spark.sinks.ledger_lock import LedgerLock
from unstract_spark.sinks.review_queue import (
    ack_messages,
    claim_batch,
    route_to_review,
    write_queue,
)


def _hist_rows(spark, writer: str, n: int):
    rows = [
        (f"hash-{writer}-{i}", "wf1", f"/f/{writer}/{i}.pdf", "COMPLETED",
         f'{{"v": "{writer}{i}"}}', None, 1)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "cache_key string, workflow_id string, file_path string, status string,"
        " result string, metadata string, execution_count int",
    )


def test_concurrent_history_merges_lose_nothing(spark, tmp_path):
    store = FileHistoryStore(spark, str(tmp_path / "hist"))

    def writer(tag: str):
        for i in range(3):
            store.merge(_hist_rows(spark, f"{tag}{i}", 4))

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(writer, t) for t in ("a", "b")]
        for f in futs:
            f.result()
    # 2 writers x 3 merges x 4 distinct keys: nothing dropped
    assert store.read().count() == 24


def test_concurrent_index_upserts_lose_nothing(spark, tmp_path):
    store = VectorIndexStore(spark, str(tmp_path / "idx"))

    def writer(tag: str):
        for i in range(2):
            rows = [(f"doc-{tag}-{i}", f"h-{tag}", j, f"text {tag} {i} {j}")
                    for j in range(3)]
            df = spark.createDataFrame(
                rows, "doc_id string, file_hash string, chunk_no int, chunk_text string"
            )
            store.upsert(embed_chunks(df))

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(writer, t) for t in ("a", "b")]
        for f in futs:
            f.result()
    assert store.read().count() == 12  # 2 writers x 2 docs x 3 chunks
    assert store.existing_doc_ids().count() == 4


def test_concurrent_claimers_never_double_claim(spark, tmp_path):
    qpath, lpath = str(tmp_path / "q"), str(tmp_path / "ledger")
    results = spark.createDataFrame(
        [(f"h{i}", f"f{i}.pdf", "ok") for i in range(12)],
        "file_hash string, file_name string, status string",
    )
    write_queue(route_to_review(results, "q1", pct=100.0), qpath)

    claimed: dict[str, list[str]] = {}

    def claimer(cid: str):
        got = claim_batch(spark, qpath, lpath, "q1", cid, max_messages=8)
        claimed[cid] = [r.message_id for r in got.collect()]

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(claimer, c) for c in ("c1", "c2")]
        for f in futs:
            f.result()
    a, b = set(claimed["c1"]), set(claimed["c2"])
    assert not (a & b), f"double-claimed: {a & b}"
    assert len(a | b) <= 12
    assert len(a) + len(b) >= 8  # progress: at least one full batch granted
    # acks from both consumers interleave safely too
    with ThreadPoolExecutor(2) as pool:
        for cid, ids in claimed.items():
            pool.submit(ack_messages, spark, lpath, "q1", ids, cid).result()
    rest = claim_batch(spark, qpath, lpath, "q1", "c3", max_messages=20)
    assert rest.count() == 12 - len(a | b)  # acked messages never re-claimed


def test_ledger_lock_times_out_and_breaks_stale(tmp_path):
    target = str(tmp_path / "ledger")
    with LedgerLock(target):
        with pytest.raises(TimeoutError, match="held for more than"):
            with LedgerLock(target, timeout_s=0.3, poll_s=0.02):
                pass
    # stale lock (old mtime) is broken instead of blocking forever
    lock_file = f"{target}.lock"
    with open(lock_file, "w") as f:
        f.write("dead-writer")
    old = time.time() - 10_000
    os.utime(lock_file, (old, old))
    t0 = time.monotonic()
    with LedgerLock(target, timeout_s=5.0, stale_s=600.0):
        assert time.monotonic() - t0 < 2.0
    assert not os.path.exists(lock_file)  # released on exit


# --- manifest (lock-free transactional) backend ----------------------


def test_concurrent_history_merges_manifest_backend(spark, tmp_path):
    """Same row-preservation property as the swap backend, with NO
    LedgerLock anywhere on the path: writers race on the put-if-absent
    manifest commit and retry from the fresh snapshot."""
    store = FileHistoryStore(spark, str(tmp_path / "hist"), backend="manifest")

    def writer(tag: str):
        for i in range(3):
            store.merge(_hist_rows(spark, f"{tag}{i}", 4))

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(writer, t) for t in ("a", "b")]
        for f in futs:
            f.result()
    assert store.read().count() == 24
    # and no lock file was ever created
    assert not os.path.exists(str(tmp_path / "hist") + ".lock")


def test_concurrent_index_upserts_manifest_backend(spark, tmp_path):
    store = VectorIndexStore(spark, str(tmp_path / "idx"), backend="manifest")

    def writer(tag: str):
        for i in range(2):
            rows = [(f"doc-{tag}-{i}", f"h-{tag}", j, f"text {tag} {i} {j}")
                    for j in range(3)]
            df = spark.createDataFrame(
                rows, "doc_id string, file_hash string, chunk_no int, chunk_text string"
            )
            store.upsert(embed_chunks(df))

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(writer, t) for t in ("a", "b")]
        for f in futs:
            f.result()
    assert store.read().count() == 12
    assert store.existing_doc_ids().count() == 4
    assert not os.path.exists(str(tmp_path / "idx") + ".lock")


def test_manifest_upsert_newest_wins_and_idempotent(spark, tmp_path):
    store = FileHistoryStore(spark, str(tmp_path / "h"), backend="manifest")
    store.merge(_hist_rows(spark, "w", 2))
    # re-merge same keys with new payloads: upsert, not append
    updated = _hist_rows(spark, "w", 2).withColumn("status", F.lit("ERROR"))
    store.merge(updated)
    rows = store.read().collect()
    assert len(rows) == 2
    assert all(r.status == "ERROR" for r in rows)


def test_manifest_crash_orphan_is_invisible_then_vacuumed(spark, tmp_path):
    from unstract_spark.sinks.manifest import ManifestTable

    store = FileHistoryStore(spark, str(tmp_path / "h"), backend="manifest")
    store.merge(_hist_rows(spark, "a", 3))
    t = ManifestTable(spark, str(tmp_path / "h"))
    # a writer that died after writing its segment, before committing
    orphan = t.write_segment(_hist_rows(spark, "dead", 5))
    assert store.read().count() == 3  # orphan never visible
    os.utime(os.path.join(t.data_dir, orphan), (1, 1))  # age it out
    assert t.vacuum(min_age_s=60) == 1
    assert store.read().count() == 3


def test_manifest_commit_conflict_detected(spark, tmp_path):
    import pytest as _pytest

    from unstract_spark.sinks.manifest import CommitConflict, ManifestTable

    t = ManifestTable(spark, str(tmp_path / "h"))
    s1 = t.write_segment(_hist_rows(spark, "a", 1))
    s2 = t.write_segment(_hist_rows(spark, "b", 1))
    t.try_commit(-1, [s1])
    with _pytest.raises(CommitConflict):
        t.try_commit(-1, [s2])  # same base version: loser must retry
    assert t.version() == 0


def test_manifest_merge_is_append_only_and_compacts(spark, tmp_path):
    """History merges on the manifest backend append O(updates)
    segments (no table rewrite); reads resolve newest-wins across
    segments; compact() folds them to one preserving the resolved
    view."""
    from unstract_spark.sinks.manifest import ManifestTable

    path = str(tmp_path / "h")
    store = FileHistoryStore(spark, path, backend="manifest")
    store.merge(_hist_rows(spark, "a", 3))
    store.merge(_hist_rows(spark, "b", 2))
    updated = _hist_rows(spark, "a", 1).withColumn("status", F.lit("ERROR"))
    store.merge(updated)  # supersedes one 'a' key

    t = ManifestTable(spark, path)
    assert len(t.segments(t.version())) == 3  # appends, not rewrites
    rows = {r.cache_key: r.status for r in store.read().collect()}
    assert len(rows) == 5
    assert rows["hash-a-0"] == "ERROR"  # newest segment wins

    assert store.compact()
    assert len(t.segments(t.version())) == 1
    rows2 = {r.cache_key: r.status for r in store.read().collect()}
    assert rows2 == rows  # resolved view unchanged
    # superseded segments are orphans now; age them out and vacuum
    for seg in os.listdir(t.data_dir):
        os.utime(os.path.join(t.data_dir, seg), (1, 1))
    keep = set(t.segments(t.version()))
    removed = t.vacuum(min_age_s=1)
    assert removed == 3 and set(os.listdir(t.data_dir)) == keep


def test_manifest_compact_refuses_stale_base(spark, tmp_path):
    """compact() commits at the base version its resolved view was
    computed from — a concurrent append in between makes it return
    False (and lose nothing) instead of silently erasing the append."""
    from unstract_spark.sinks.manifest import ManifestTable

    path = str(tmp_path / "h")
    store = FileHistoryStore(spark, path, backend="manifest")
    store.merge(_hist_rows(spark, "a", 3))
    t = ManifestTable(spark, path)
    base = t.version()
    resolved = store.read()  # view computed at version `base`
    store.merge(_hist_rows(spark, "b", 2))  # concurrent append wins a version
    assert t.compact(resolved, base_version=base) is False
    assert store.read().count() == 5  # nothing lost
    assert store.compact()  # retried against the fresh snapshot
    assert store.read().count() == 5


def test_manifest_commit_is_atomic_with_content(spark, tmp_path):
    """No moment exists where a manifest file is visible without its
    payload: version N is readable the instant it exists."""
    import json as _json

    from unstract_spark.sinks.manifest import ManifestTable

    path = str(tmp_path / "h")
    store = FileHistoryStore(spark, path, backend="manifest")
    store.merge(_hist_rows(spark, "a", 2))
    t = ManifestTable(spark, path)
    mf = t._manifest_path(t.version())
    with open(mf) as f:
        payload = _json.load(f)  # parses — never empty/partial
    assert payload["segments"]
    # no temp files left behind
    assert not [n for n in os.listdir(t.manifest_dir) if n.startswith(".tmp-")]


def test_manifest_vacuum_retention_measures_since_supersession(spark, tmp_path):
    """Segments hours old at the moment a commit supersedes them must
    still get the FULL min_age_s retention window (commit stamps their
    mtime with the supersession time): a reader holding a pre-compact
    snapshot is protected no matter how long ago the segment was
    written. After the window they vacuum normally."""
    from unstract_spark.sinks.manifest import ManifestTable

    path = str(tmp_path / "h")
    store = FileHistoryStore(spark, path, backend="manifest")
    store.merge(_hist_rows(spark, "a", 3))
    store.merge(_hist_rows(spark, "b", 2))
    t = ManifestTable(spark, path)
    # age the live segments: written "hours ago"
    for seg in os.listdir(t.data_dir):
        os.utime(os.path.join(t.data_dir, seg), (1, 1))
    assert store.compact()  # supersedes both old segments + auto-vacuums
    # immediately after compaction the superseded segments must survive
    assert t.vacuum(min_age_s=60) == 0
    assert len(os.listdir(t.data_dir)) == 3  # 2 superseded + 1 compacted
    assert store.read().count() == 5
    # once the retention window has truly elapsed since supersession
    keep = set(t.segments(t.version()))
    for seg in set(os.listdir(t.data_dir)) - keep:
        os.utime(os.path.join(t.data_dir, seg), (1, 1))
    assert t.vacuum(min_age_s=60) == 2
    assert set(os.listdir(t.data_dir)) == keep


# -- pluggable commit backend: object-store conditional PUT ------------


def test_object_store_put_if_absent_semantics():
    """The fake models exactly what S3 If-None-Match:* / GCS
    ifGenerationMatch=0 guarantee: first PUT wins with its payload
    atomic, second PUT on the same key is rejected with nothing
    changed."""
    from unstract_spark.sinks.manifest import FakeObjectStoreBackend

    b = FakeObjectStoreBackend()
    assert b.put_if_absent("v000.json", b"one") is True
    assert b.put_if_absent("v000.json", b"two") is False
    assert b.read_manifest("v000.json") == b"one"
    assert b.list_manifests() == ["v000.json"]


def test_manifest_on_object_store_concurrent_merges_lose_nothing(
    spark, tmp_path
):
    """The multiwriter guarantee holds with the commit log on the
    object-store backend: every writer's rows survive concurrent
    lock-free merges, versions advance one per commit, and losers
    retried (version count >= commit count proves each commit burned a
    distinct conditional PUT)."""
    from unstract_spark.sinks.manifest import FakeObjectStoreBackend

    bucket = FakeObjectStoreBackend()
    store = FileHistoryStore(spark, str(tmp_path / "h"), backend=bucket)

    def writer(tag: str):
        for i in range(3):
            store.merge(_hist_rows(spark, f"{tag}{i}", 4))

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(writer, t) for t in ("a", "b")]
        for f in futs:
            f.result()
    assert store.read().count() == 24
    from unstract_spark.sinks.manifest import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "h"), commit_backend=bucket)
    assert t.version() == 5  # 6 commits -> v0..v5, no gaps, no POSIX log
    assert not os.path.exists(os.path.join(str(tmp_path / "h"), "_manifests"))


def test_manifest_on_object_store_crash_orphan_invisible(spark, tmp_path):
    """Crash safety is backend-independent: a segment written but never
    manifested through the bucket is invisible to readers and
    vacuumable."""
    from unstract_spark.sinks.manifest import (
        FakeObjectStoreBackend,
        ManifestTable,
    )

    bucket = FakeObjectStoreBackend()
    path = str(tmp_path / "h")
    store = FileHistoryStore(spark, path, backend=bucket)
    store.merge(_hist_rows(spark, "a", 3))
    t = ManifestTable(spark, path, commit_backend=bucket)
    orphan = t.write_segment(_hist_rows(spark, "dead", 5))
    assert store.read().count() == 3
    os.utime(os.path.join(t.data_dir, orphan), (1, 1))
    assert t.vacuum(min_age_s=60) == 1
    assert store.read().count() == 3


# -- HTTP object-store binding: conditional PUT over a real wire hop ---


def _start_bucket_server():
    """In-process S3-shaped bucket: GET /?list=prefix, GET /key,
    PUT /key honoring If-None-Match:* with 412 on conflict. The
    handler holds the store's lock only around the check-and-set,
    modeling the per-request atomicity the real service guarantees."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            srv = self.server
            if self.path.startswith("/?list="):
                prefix = self.path[len("/?list="):]
                with srv.lock:
                    keys = sorted(k for k in srv.objects if k.startswith(prefix))
                body = "\n".join(keys).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            key = self.path.lstrip("/")
            with srv.lock:
                data = srv.objects.get(key)
            if data is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_PUT(self):
            srv = self.server
            key = self.path.lstrip("/")
            n = int(self.headers.get("Content-Length", 0))
            payload = self.rfile.read(n)
            cond = self.headers.get("If-None-Match") == "*"
            with srv.lock:
                if cond and key in srv.objects:
                    self.send_response(412)
                    self.end_headers()
                    return
                srv.objects[key] = payload
            self.send_response(200)
            self.end_headers()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    srv.objects = {}
    srv.lock = __import__("threading").Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_object_store_put_if_absent_semantics():
    from unstract_spark.sinks.manifest import HttpObjectStoreBackend

    srv, url = _start_bucket_server()
    try:
        b = HttpObjectStoreBackend(url)
        assert b.put_if_absent("v000.json", b"one") is True
        assert b.put_if_absent("v000.json", b"two") is False
        assert b.read_manifest("v000.json") == b"one"
        assert b.list_manifests() == ["v000.json"]
    finally:
        srv.shutdown()


def test_manifest_over_http_concurrent_merges_lose_nothing(spark, tmp_path):
    """The full multiwriter guarantee with the commit log behind an
    actual HTTP hop: no shared memory between writers and the bucket,
    losers see 412 and retry from the fresh snapshot, every row
    survives."""
    from unstract_spark.sinks.manifest import (
        HttpObjectStoreBackend,
        ManifestTable,
    )

    srv, url = _start_bucket_server()
    try:
        bucket = HttpObjectStoreBackend(url)
        store = FileHistoryStore(spark, str(tmp_path / "h"), backend=bucket)

        def writer(tag: str):
            for i in range(3):
                store.merge(_hist_rows(spark, f"{tag}{i}", 4))

        with ThreadPoolExecutor(2) as pool:
            futs = [pool.submit(writer, t) for t in ("a", "b")]
            for f in futs:
                f.result()
        assert store.read().count() == 24
        t = ManifestTable(spark, str(tmp_path / "h"), commit_backend=bucket)
        assert t.version() == 5
        assert not os.path.exists(
            os.path.join(str(tmp_path / "h"), "_manifests")
        )
    finally:
        srv.shutdown()


def test_manifest_append_schema_evolution(spark, tmp_path):
    """A widened append (new column) must survive the multi-segment
    snapshot read: old rows surface with NULL in the new column, new
    rows carry their values — the Delta-style additive evolution the
    mergeSchema reader guarantees (without it the reader takes one
    file's footer and silently drops the addition)."""
    from unstract_spark.sinks.manifest import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "h"))
    s1 = "id long, val string"
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], s1))
    s2 = "id long, val string, score double"
    t.append(spark.createDataFrame([(3, "c", 0.5)], s2))

    v, snap = t.snapshot_with_seq(s2)
    rows = {r.id: r for r in snap.collect()}
    assert set(rows) == {1, 2, 3}
    assert "score" in snap.columns
    assert rows[1].score is None and rows[2].score is None
    assert rows[3].score == 0.5
    # precedence column still derived per segment
    assert rows[3]._seq > rows[1]._seq


def test_manifest_time_travel(spark, tmp_path):
    """snapshot(as_of=v) reproduces any historical committed state —
    segments are immutable, so old manifests stay readable until
    vacuum retires their segments (the Delta versionAsOf contract)."""
    import pytest

    from unstract_spark.sinks.manifest import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "h"))
    s = "id long, val string"

    def newest_wins(cur, upd):
        return upd.unionByName(cur.join(upd, "id", "left_anti"))

    t.merge(spark.createDataFrame([(1, "a")], s), newest_wins, s)
    t.merge(spark.createDataFrame([(1, "A"), (2, "b")], s), newest_wins, s)
    t.merge(spark.createDataFrame([(3, "c")], s), newest_wins, s)

    assert t.version() == 2
    _, v0 = t.snapshot(s, as_of=0)
    assert {(r.id, r.val) for r in v0.collect()} == {(1, "a")}
    _, v1 = t.snapshot(s, as_of=1)
    assert {(r.id, r.val) for r in v1.collect()} == {(1, "A"), (2, "b")}
    _, latest = t.snapshot(s)
    assert latest.count() == 3
    with pytest.raises(ValueError):
        t.snapshot(s, as_of=99)


def test_manifest_append_idempotency_key(spark, tmp_path):
    """Replayed appends with the same idempotency key land exactly
    once; distinct keys append normally; keys survive in the manifest
    log for later replays to discover."""
    from unstract_spark.sinks.manifest import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "h"))
    s = "id long, val string"
    df = spark.createDataFrame([(1, "a"), (2, "b")], s)
    t.append(df, idempotency_key="batch-0")
    t.append(df, idempotency_key="batch-0")  # replay: no-op
    _, snap = t.snapshot(s)
    assert snap.count() == 2
    t.append(spark.createDataFrame([(3, "c")], s), idempotency_key="batch-1")
    _, snap = t.snapshot(s)
    assert snap.count() == 3
    assert t.committed_keys() == {"batch-0", "batch-1"}
    # un-keyed appends still work and carry no key
    t.append(spark.createDataFrame([(4, "d")], s))
    assert t.committed_keys() == {"batch-0", "batch-1"}


def test_manifest_append_same_key_race_loser_rechecks(spark, tmp_path):
    """The r7-advice race: two concurrent attempts of the SAME
    idempotency key both pass the entry committed_keys() check; the
    winner commits; if the loser then reads version() it targets the
    winner's successor version and — without the in-loop recheck —
    commits the batch a second time with no CommitConflict. Simulate
    the loser's stale entry check by patching committed_keys to come
    back empty exactly once; the in-loop recheck (which runs after
    version()) must see the winner's key and no-op."""
    from unstract_spark.sinks.manifest import ManifestTable

    path = str(tmp_path / "race")
    s = "id long, val string"
    df = spark.createDataFrame([(1, "a"), (2, "b")], s)

    winner = ManifestTable(spark, path)
    winner.append(df, idempotency_key="batch-0")

    loser = ManifestTable(spark, path)
    real = loser.committed_keys
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return set() if calls["n"] == 1 else real()

    loser.committed_keys = stale_once
    loser.append(df, idempotency_key="batch-0")
    assert calls["n"] >= 2  # the in-loop recheck actually ran
    _, snap = ManifestTable(spark, path).snapshot(s)
    assert snap.count() == 2  # not doubled


def test_streaming_ledger_sink_exactly_once(spark, tmp_path):
    """The streaming-to-ledger bridge: union of fires == source rows,
    snapshot visibility is ACID (version count == fired batches), and
    re-running a drained stream fires nothing."""
    from unstract_spark.sinks.manifest import ManifestTable
    from unstract_spark.streaming.incremental import streaming_ledger_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    s = "doc_id long, text string"
    spark.createDataFrame([(1, "a"), (2, "b")], s).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    n1 = streaming_ledger_sink(spark, src, str(tmp_path / "ck"),
                               str(tmp_path / "tbl"))
    assert n1 == 1
    spark.createDataFrame([(3, "c")], s).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    n2 = streaming_ledger_sink(spark, src, str(tmp_path / "ck"),
                               str(tmp_path / "tbl"))
    assert n2 == 1
    t = ManifestTable(spark, str(tmp_path / "tbl"))
    _, snap = t.snapshot(s)
    assert {r.doc_id for r in snap.collect()} == {1, 2, 3}
    assert t.version() == 1  # two commits: v0, v1
    assert len(t.committed_keys()) == 2
    # drained source: no fire, no version movement
    n3 = streaming_ledger_sink(spark, src, str(tmp_path / "ck"),
                               str(tmp_path / "tbl"))
    assert n3 == 0 and t.version() == 1


def test_streaming_ledger_sink_two_checkpoints_one_table(spark, tmp_path):
    """Epochs restart at 0 for every checkpoint, so two lineages (a
    second source, or a rebuilt checkpoint) writing into one table must
    not collide on their idempotency keys: every row of both lands, and
    a drained rerun of either checkpoint commits nothing more."""
    from unstract_spark.sinks.manifest import ManifestTable
    from unstract_spark.streaming.incremental import streaming_ledger_sink

    s = "doc_id long, text string"
    tbl = str(tmp_path / "tbl")
    drops = {"1": [(1, "a"), (2, "b")], "2": [(3, "c"), (4, "d")]}
    for name, rows in drops.items():
        src, ck = str(tmp_path / f"src{name}"), str(tmp_path / f"ck{name}")
        spark.createDataFrame(rows, s).coalesce(1).write.parquet(src)
        assert streaming_ledger_sink(spark, src, ck, tbl) == 1
    t = ManifestTable(spark, tbl)
    _, snap = t.snapshot(s)
    assert sorted(r.doc_id for r in snap.collect()) == [1, 2, 3, 4]
    assert len(t.committed_keys()) == 2
    assert streaming_ledger_sink(
        spark, str(tmp_path / "src1"), str(tmp_path / "ck1"), tbl
    ) == 0
    assert t.version() == 1
