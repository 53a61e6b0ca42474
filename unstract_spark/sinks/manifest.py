"""Optimistic-concurrency parquet table: the one commit protocol of
every ledger (file history, vector index, review queue and its claim
ledger, notification outbox).

This module implements the protocol Delta Lake builds its ACID on
(public design: the Delta transaction-log paper, Armbrust et al., VLDB
2020): an append-only log of immutable manifest files, where commit
N+1 is a PUT-IF-ABSENT of `_manifests/v{N+1}.json`.

Layout of a ledger at `path`:
- `_manifests/v<N>.json`: the log; version N lists its segments.
- `data/seg=<id>/`: immutable parquet segments. A plain parquet read
  of `path` sees every physical segment (superseded and orphaned ones
  too) with an extra `seg` column; read a ledger through its store.

- **Snapshot isolation for readers**: a snapshot is the segment list
  inside the highest manifest, read with the ledger's schema; segments
  are immutable, so an open lineage is never invalidated by a later
  commit.
- **Lock-free writers**: a writer reads snapshot V, writes its result
  as a NEW segment, then tries to create manifest V+1 with
  put-if-absent (POSIX: temp write + `os.link`; object stores expose
  the same primitive: S3 conditional PUT, GCS if-generation-match,
  ABFS ETag). Losing the race costs a retry from the fresh snapshot,
  so no writer bases a commit on a stale snapshot without noticing
  and no rows are lost.
- **Crash safety**: a writer that dies after writing its segment but
  before the manifest leaves an orphan that no reader ever loads
  (only manifested segments exist) and vacuum() reclaims; a writer
  that dies after the commit has committed; a writer that dies
  holding nothing blocks nobody.

Write modes over the same commit primitive:
- merge(): full rewrite into one segment (needed when the merge
  semantics include deletion, e.g. the vector index's reindex).
- append(): LSM-style O(updates) commit of just the new segment;
  readers resolve precedence by segment order (snapshot_with_seq) and
  fold() compacts the list back to one segment once it is longer than
  FOLD_SEGMENTS.
- commit_at() the version the caller read, retried by optimistic():
  the read-modify-write the review queue's sweep and claims use.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
# fold() compacts an appended ledger once its snapshot has more
# segments than this: each segment is one path of every snapshot scan,
# and above 32 paths Spark lists them in a job of its own
FOLD_SEGMENTS = 8


class CommitConflict(Exception):
    """Another writer committed this version first (retryable)."""


class CommitBackend:
    """Storage seam for the manifest LOG — the tiny JSON files whose
    creation IS the transaction. Segments (bulk parquet) stay on
    whatever shared storage Spark reads/writes; only the commit
    protocol's three primitives are abstracted, because put-if-absent
    is the one operation whose atomicity the ACID story rests on.

    Contract for put_if_absent: atomically create `name` with
    `payload`, fully visible the instant the key exists; return False
    (no partial state) if the key already exists. Real object-store
    bindings are one subclass each: S3 `PutObject` with
    `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS ETag `*`
    precondition.
    """

    def list_manifests(self) -> list[str]:
        raise NotImplementedError

    def read_manifest(self, name: str) -> bytes:
        raise NotImplementedError

    def put_if_absent(self, name: str, payload: bytes) -> bool:
        raise NotImplementedError


class PosixLinkBackend(CommitBackend):
    """Default: manifests as files, put-if-absent as temp-write +
    os.link (atomic create WITH durable payload — a bare
    O_CREAT|O_EXCL then write would expose an empty manifest to a
    crash). Honest on any POSIX filesystem, including NFS."""

    def __init__(self, manifest_dir: str):
        self.manifest_dir = manifest_dir

    def list_manifests(self) -> list[str]:
        try:
            return os.listdir(self.manifest_dir)
        except FileNotFoundError:
            return []

    def read_manifest(self, name: str) -> bytes:
        with open(os.path.join(self.manifest_dir, name), "rb") as f:
            return f.read()

    def put_if_absent(self, name: str, payload: bytes) -> bool:
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(self.manifest_dir, name))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True


class HttpObjectStoreBackend(CommitBackend):
    """S3-wire-shaped client binding: list/read via GET, commit via
    PUT with `If-None-Match: *` — True on 2xx, False on HTTP 412
    Precondition Failed, which is byte-for-byte S3's conditional-PUT
    contract (GCS speaks `x-goog-if-generation-match: 0`, same shape).
    Exists so the commit protocol is exercised over a REAL network hop
    with no shared memory between writer and store (an in-process
    bucket models atomicity; this binding proves the client side issues
    the right request and interprets the right status)."""

    def __init__(self, endpoint: str, prefix: str = "manifests/"):
        self.endpoint = endpoint.rstrip("/")
        self.prefix = prefix

    def _url(self, name: str) -> str:
        return f"{self.endpoint}/{self.prefix}{name}"

    def list_manifests(self) -> list[str]:
        import urllib.request

        with urllib.request.urlopen(
            f"{self.endpoint}/?list={self.prefix}"
        ) as r:
            body = r.read().decode()
        return [
            k[len(self.prefix):] for k in body.splitlines() if k.strip()
        ]

    def read_manifest(self, name: str) -> bytes:
        import urllib.request

        with urllib.request.urlopen(self._url(name)) as r:
            return r.read()

    def put_if_absent(self, name: str, payload: bytes) -> bool:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self._url(name),
            data=payload,
            method="PUT",
            headers={"If-None-Match": "*"},
        )
        try:
            with urllib.request.urlopen(req):
                return True
        except urllib.error.HTTPError as e:
            if e.code == 412:
                return False
            raise


class ManifestTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        commit_backend: CommitBackend | None = None,
    ):
        self.spark = spark
        self.path = path
        self.manifest_dir = os.path.join(path, _MANIFEST_DIR)
        self.data_dir = os.path.join(path, _DATA_DIR)
        self.backend = commit_backend or PosixLinkBackend(self.manifest_dir)

    # -- log ----------------------------------------------------------

    def version(self) -> int:
        """Highest committed version; -1 for an empty/absent table."""
        best = -1
        for n in self.backend.list_manifests():
            if n.startswith("v") and n.endswith(".json"):
                try:
                    best = max(best, int(n[1:-5]))
                except ValueError:
                    continue
        return best

    def _manifest_name(self, version: int) -> str:
        return f"v{version:012d}.json"

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, self._manifest_name(version))

    def segments(self, version: int) -> list[str]:
        if version < 0:
            return []
        return json.loads(self.backend.read_manifest(self._manifest_name(version)))[
            "segments"
        ]

    # -- snapshot -----------------------------------------------------

    def snapshot(self, schema, as_of: int | None = None) -> tuple[int, DataFrame]:
        """(version, DataFrame) of the committed state. Segments are
        immutable, so the frame stays valid across later commits.

        `as_of` reads a HISTORICAL version (time travel, Delta's
        `versionAsOf`): any version whose manifest still exists is
        readable because segments are never mutated — only vacuum()
        of superseded segments retires old reads, which is the same
        retention contract Delta has."""
        v = self.version() if as_of is None else as_of
        if as_of is not None and as_of > self.version():
            raise ValueError(
                f"as_of={as_of} is beyond latest version {self.version()}"
            )
        return v, self._read(self.segments(v), schema)

    def _read(self, segs: list[str], schema) -> DataFrame:
        """The segments read with the ledger's `schema` (no footer
        inference; a segment written before an additive schema change
        reads NULL in the new column)."""
        if not segs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.data_dir, s) for s in segs]
        )

    # -- write path ---------------------------------------------------

    def write_segment(self, df: DataFrame) -> str:
        """Materialize a frame as an immutable segment; returns its
        relative name. Not visible to readers until manifested."""
        name = f"seg={uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(os.path.join(self.data_dir, name))
        return name

    def committed_keys(self) -> set:
        """Idempotency keys carried by every committed manifest — the
        exactly-once primitive for streaming writers (each foreachBatch
        commit carries its batch id; a replay sees its key and skips).
        Manifests are tiny JSON, but no step prunes the log, so this
        scan reads one manifest per commit ever made."""
        keys = set()
        for name in self.backend.list_manifests():
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                doc = json.loads(self.backend.read_manifest(name))
            except (OSError, ValueError, KeyError):
                continue
            k = doc.get("idempotency_key")
            if k is not None:
                keys.add(k)
        return keys

    def try_commit(
        self,
        base_version: int,
        segments: list[str],
        idempotency_key: str | None = None,
    ) -> None:
        """Commit `segments` as version base+1, or raise CommitConflict
        if another writer got there first.

        The commit point is ONE put-if-absent on the backend — payload
        atomically visible with the key, so no reader or crash can ever
        observe an empty/partial manifest and a lost race never wedges
        the version number."""
        target = base_version + 1
        doc = {"version": target, "segments": segments, "ts": time.time()}
        if idempotency_key is not None:
            doc["idempotency_key"] = idempotency_key
        payload = json.dumps(doc).encode()
        if not self.backend.put_if_absent(self._manifest_name(target), payload):
            raise CommitConflict(
                f"version {target} already committed at {self.path}"
            )
        # Stamp supersession time: segments the previous version
        # referenced but this one dropped become vacuum-eligible NOW,
        # not at their (possibly hours-old) write time — touching them
        # makes vacuum's mtime-based retention measure time since
        # DEREFERENCE, so a reader holding a pre-commit snapshot gets
        # the full min_age_s window (Delta's VACUUM retention
        # semantics). Crash orphans were never referenced; their write
        # mtime is already their dereference time.
        if base_version >= 0:
            now = time.time()
            for seg in set(self.segments(base_version)) - set(segments):
                try:
                    os.utime(os.path.join(self.data_dir, seg), (now, now))
                except OSError:
                    pass

    def commit_at(self, version: int, df: DataFrame, replace: bool) -> None:
        """Write `df` as a segment and commit it as version+1: the
        whole table (`replace`) or one more segment on top of
        `version`'s. `version` MUST be the one the caller read `df`'s
        inputs at; raises CommitConflict when another writer committed
        since (the segment is left an orphan for vacuum())."""
        seg = self.write_segment(df)
        self.try_commit(version, [seg] if replace else self.segments(version) + [seg])

    def optimistic(self, attempt, max_retries: int = 20):
        """Run `attempt()` (read a snapshot, commit_at its version)
        until it commits without a CommitConflict; returns its result.
        Each retry re-reads, so concurrent writers compose instead of
        overwriting."""
        for _ in range(max_retries):
            try:
                return attempt()
            except CommitConflict:
                continue
        raise TimeoutError(
            f"ledger commit at {self.path} lost the commit race "
            f"{max_retries} times — writer storm or clock trouble"
        )

    def merge(self, updates: DataFrame, merge_fn, schema, max_retries: int = 20) -> None:
        """Transactional read-merge-rewrite with optimistic retry.

        `merge_fn(current, updates) -> merged` supplies the MERGE
        semantics (newest-wins dedup, anti-join insert-only, ...);
        it is re-evaluated against the fresh snapshot after a lost
        race. The superseded segments are vacuumed once past their
        retention window.
        """

        def attempt():
            v, current = self.snapshot(schema)
            self.commit_at(v, merge_fn(current, updates), replace=True)

        self.optimistic(attempt, max_retries)
        self.vacuum()

    def snapshot_with_seq(self, schema) -> tuple[int, DataFrame]:
        """Like snapshot(), plus a `_seq` column carrying each row's
        segment commit order (0 = oldest) — the precedence key for
        newest-wins dedup-on-read."""
        v = self.version()
        segs = self.segments(v)
        return v, self._with_seq(self._read(segs, schema), segs)

    @staticmethod
    def _with_seq(df: DataFrame, segs: list[str]) -> DataFrame:
        """`_seq` derived from the file path via input_file_name + a
        literal map (segment count is bounded by fold()), so the whole
        snapshot stays ONE multi-path scan."""
        if not segs:
            return df.withColumn("_seq", F.lit(0))
        seg_of_row = F.element_at(F.split(F.input_file_name(), "/"), -2)
        mapping = F.create_map(
            *[F.lit(x) for i, s in enumerate(segs) for x in (s, i)]
        )
        return df.withColumn("_seq", mapping[seg_of_row].cast("int"))

    def append(
        self,
        updates: DataFrame,
        max_retries: int = 20,
        idempotency_key: str | None = None,
    ) -> None:
        """LSM-style transactional append: write `updates` as ONE new
        segment and commit [existing segments..., new segment].

        This is the O(updates) write path — merge-by-rewrite costs
        O(table) per commit, which at a 100 TB ledger is absurd for a
        200-row batch. Readers resolve upserts with newest-wins
        dedup-on-read keyed by `_seq` (snapshot_with_seq); fold()
        amortizes the read-side window back down. A lost commit race
        is retried WITHOUT rewriting the segment — only the fresh
        segment list is re-read (contrast merge(), which must re-run
        its merge function against the new snapshot).

        `idempotency_key` makes the append EXACTLY-ONCE under replay
        (the foreachBatch contract): if a manifest already carries the
        key, the append is a no-op — the at-least-once redelivery of a
        committed batch lands nothing twice.
        """
        if idempotency_key is not None and (
            idempotency_key in self.committed_keys()
        ):
            return
        seg = self.write_segment(updates)
        for _ in range(max_retries):
            v = self.version()
            # Re-check the key AFTER reading the version: a concurrent
            # attempt of the same key that committed before the
            # version() read is visible here (keys grow monotonically),
            # and one landing after it necessarily bumps the version,
            # so try_commit(v) raises CommitConflict and the
            # conflict-path recheck below returns safely.  Without this
            # read the loser could target the winner's successor
            # version, commit cleanly, and double-append the batch.
            if idempotency_key is not None and (
                idempotency_key in self.committed_keys()
            ):
                return
            try:
                self.try_commit(
                    v, self.segments(v) + [seg],
                    idempotency_key=idempotency_key,
                )
            except CommitConflict:
                if idempotency_key is not None and (
                    idempotency_key in self.committed_keys()
                ):
                    # the race loser discovers its OWN batch already
                    # landed (another attempt of the same replayed
                    # batch won) — appending again would duplicate
                    return
                continue
            return
        raise TimeoutError(
            f"ledger append at {self.path} lost the commit race "
            f"{max_retries} times — writer storm or clock trouble"
        )

    def compact(self, resolved: DataFrame, base_version: int) -> bool:
        """Fold the segment list down to one: write `resolved` (the
        caller's deduped view of the snapshot it read at
        `base_version`) as a single segment and commit it as
        base_version+1. `base_version` MUST be the version the
        resolved view was computed from — re-reading version() here
        would silently discard any append committed while the view was
        being built (a lost update with no error). Returns False if a
        concurrent writer committed first (compaction is maintenance —
        callers just try again later rather than retrying in a loop)."""
        try:
            self.commit_at(base_version, resolved, replace=True)
        except CommitConflict:
            return False
        return True

    def fold(self, schema, resolve=None, over: int | None = None) -> bool:
        """Compact the snapshot into one segment once it has more than
        `over` (default FOLD_SEGMENTS) segments, then vacuum. `resolve(snapshot_with_seq frame)`
        gives the rows to keep (an upsert ledger's newest row per key);
        without it every row is kept. Returns False when a concurrent
        commit won the version: nothing is lost, and the next fold
        tries again."""
        v = self.version()
        segs = self.segments(v)
        if len(segs) <= (FOLD_SEGMENTS if over is None else over):
            return True
        df = self._read(segs, schema)
        if not self.compact(resolve(self._with_seq(df, segs)) if resolve else df, v):
            return False
        self.vacuum()
        return True

    # -- maintenance --------------------------------------------------

    def vacuum(self, min_age_s: float = 600.0) -> int:
        """Delete orphan segments (written but never manifested, or
        superseded by later full-rewrite commits). `min_age_s` is the
        retention window protecting concurrent readers whose open
        lineage still references a superseded segment (Delta's VACUUM
        retention, same reasoning). Returns dirs removed."""
        import shutil

        keep = set(self.segments(self.version()))
        removed = 0
        now = time.time()
        try:
            names = os.listdir(self.data_dir)
        except FileNotFoundError:
            return 0
        for n in names:
            p = os.path.join(self.data_dir, n)
            try:
                young = now - os.stat(p).st_mtime < min_age_s
            except OSError:
                continue
            if n not in keep and not young:
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed
