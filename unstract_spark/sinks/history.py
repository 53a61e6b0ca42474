"""File-history ledger — the dedup/result-cache table (F2 write side).

Reference: FileHistory rows keyed by content hash + path, status-gated
replay of cached results (workflow_v2/models/file_history.py:14-54;
replay destination.py:593-612).

Two storage backends behind one upsert-only API (the contract is a
Delta `MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` keyed on
(cache_key, workflow_id, file_path)):

- `backend="swap"` (default): plain parquet + atomic directory swap,
  writers serialized by LedgerLock — single-node/NFS honest.
- `backend="manifest"`: the transactional log of sinks/manifest.py —
  lock-FREE optimistic commits (put-if-absent manifest files, Delta's
  own protocol), snapshot-isolated readers, crash-orphans invisible.
  This is the cluster story; LedgerLock is not used on this path.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.schemas import FILE_HISTORY
from unstract_spark.sinks.ledger_lock import LedgerLock
from unstract_spark.sinks.manifest import ManifestTable

MERGE_KEYS = ["cache_key", "workflow_id", "file_path"]
# ledger columns a replayed catalog row carries (destination.py:593-612)
REPLAY_COLUMNS = ("result", "metadata")


def _merge_newest_wins(current: DataFrame, updates: DataFrame) -> DataFrame:
    """MERGE semantics shared by both backends: union + per-key window
    dedup, updates outranking the current snapshot."""
    cur = current.withColumn("_ts", F.lit(0.0))
    upd = updates.withColumn("_ts", F.lit(1.0))
    merged = cur.unionByName(upd, allowMissingColumns=True)
    w = Window.partitionBy(*MERGE_KEYS).orderBy(F.col("_ts").desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ts")
    )


def _newest_per_key(segments: DataFrame) -> DataFrame:
    """Manifest dedup-on-read: the newest segment's row per merge key."""
    w = Window.partitionBy(*MERGE_KEYS).orderBy(F.col("_seq").desc())
    return (
        segments.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )


STATS_TABLE = "file_history"
STATS_COLUMN = "cache_key"


class FileHistoryStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        backend="swap",
        stats=None,
        broadcast_threshold_bytes: int = 64 << 20,
        skew_threshold_ppm: int = 100_000,
    ):
        """`backend`: "swap", "manifest" (POSIX put-if-absent), or a
        `manifest.CommitBackend` instance (manifest protocol over a
        pluggable commit log — e.g. an object store's conditional
        PUT).

        `stats`: an optional `stats_store.TableStatsStore`. When set,
        merge() re-ANALYZEs the ledger's key column after each commit
        (the write side pays the scan so every read-side plan is
        free), and join_completed() consults the persisted stats to
        pick broadcast / hot-key-split / shuffle
        (stats_store.plan_against_unknown — the catalog side is a
        per-run frame with no stats, so only the ledger side is
        priced). Without stats — or before the first analyzed merge —
        the join takes Spark's default plan, unchanged."""
        from unstract_spark.sinks.manifest import CommitBackend

        self.spark = spark
        self.path = path
        self.stats = stats
        self._bc_bytes = broadcast_threshold_bytes
        self._skew_ppm = skew_threshold_ppm
        if isinstance(backend, CommitBackend):
            self._manifest = ManifestTable(spark, path, commit_backend=backend)
        elif backend == "manifest":
            self._manifest = ManifestTable(spark, path)
        elif backend == "swap":
            self._manifest = None
        else:
            raise ValueError(f"unknown ledger backend {backend!r}")

    def _scan(self) -> DataFrame:
        """The ledger as a lazy frame. Swap backend: a parquet scan
        with FILE_HISTORY as its read schema (no footer-inference job);
        it lists the directory now and reads it when consumed, so it
        must be consumed (or staged) before a merge() swaps the
        directory. Manifest backend: the snapshot, whose segments are
        immutable, with upserts resolved by newest-wins dedup-on-read
        over the segment commit order (the LSM read path; compact()
        folds the window cost back down)."""
        if self._manifest is not None:
            _, df = self._manifest.snapshot_with_seq(FILE_HISTORY)
            return _newest_per_key(df)
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], FILE_HISTORY)
        return self.spark.read.schema(FILE_HISTORY).parquet(self.path)

    def read(self) -> DataFrame:
        """Snapshot read that outlives later merges. Swap backend: the
        schema-on-read scan, pinned by localCheckpoint so a subsequent
        merge()'s directory swap can't invalidate open lineages.
        Manifest backend: the snapshot is stable with no
        materialization."""
        if self._manifest is not None or not os.path.exists(self.path):
            return self._scan()
        return self._scan().localCheckpoint(eager=True)

    def merge(self, updates: DataFrame) -> None:
        """Upsert: newest row per merge key wins.

        Swap backend: read-modify-swap under LedgerLock (two unlocked
        writers would base on the same snapshot and drop each other's
        rows) — O(table) per merge. Manifest backend: lock-free
        transactional APPEND of just the update segment — O(updates)
        per merge, the only write cost a 100 TB ledger can afford for
        a 200-row batch; precedence is resolved at read time. A batch
        with internal duplicate keys keeps an arbitrary one — the same
        contract the swap path's single-timestamp window gives.

        The swap path's scan of the current ledger is lazy: the
        staging write consumes it before the directory swap, so no pin
        is needed.
        """
        if self._manifest is not None:
            self._manifest.append(updates)
            self._analyze()
            return
        with LedgerLock(self.path):
            deduped = _merge_newest_wins(self._scan(), updates)
            staging = f"{self.path}.staging-{int(time.time() * 1000)}"
            deduped.write.mode("overwrite").parquet(staging)
            old = f"{self.path}.old-{int(time.time() * 1000)}"
            if os.path.exists(self.path):
                os.rename(self.path, old)
            os.rename(staging, self.path)
            if os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)
        self._analyze()

    def _analyze(self) -> None:
        """ANALYZE-on-write: refresh the ledger's persisted stats so
        the NEXT run's joins are priced from disk with zero read-side
        scans. A pass per analyzed column over the just-committed
        table — the offline cost the stats store's contract budgets
        for. The payload columns (file_path/result/metadata) are
        analyzed alongside the key so the replay join's execution
        repricing (stats_store.apply_using_join, r12 verdict #2) sees
        REAL widths for the rows it would broadcast — a ledger with
        8-byte hashes and 100 KB results must price broadcasts by the
        results, not the hashes."""
        if self.stats is not None:
            self.stats.analyze(
                self.read(),
                STATS_TABLE,
                [STATS_COLUMN, "file_path", "result", "metadata"],
            )

    def _join_plan(self):
        """The priced plan for joining the ledger's key side, or None
        when no stats are configured/persisted yet (default plan)."""
        if self.stats is None or not self.stats.has_stats(
            STATS_TABLE, STATS_COLUMN
        ):
            return None
        return self.stats.plan_against_unknown(
            STATS_TABLE,
            STATS_COLUMN,
            broadcast_threshold_bytes=self._bc_bytes,
            skew_threshold_ppm=self._skew_ppm,
        )

    def compact(self) -> bool:
        """Manifest backend maintenance: fold all segments into one
        (the resolved newest-wins view), bounding the read window and
        vacuum-able garbage. No-op on the swap backend (always one
        'segment'). Returns True if the compaction committed; False
        means a concurrent append won the version — the appended rows
        are preserved and compaction should simply be retried later.

        The vacuum after a successful commit is safe for concurrent
        readers regardless of segment age: try_commit stamps superseded
        segments with the supersession time, so min_age_s measures time
        since DEREFERENCE, not since the segment was written."""
        if self._manifest is None:
            return True
        v, df = self._manifest.snapshot_with_seq(FILE_HISTORY)
        ok = self._manifest.compact(_newest_per_key(df), base_version=v)
        if ok:
            self._manifest.vacuum()
        return ok

    def completed(self) -> DataFrame:
        """Rows eligible for dedup/replay (status gate, file_history.py:21)."""
        return self.read().filter(F.col("status") == "COMPLETED")

    def join_completed(
        self, files: DataFrame, payload: tuple[str, ...] = ()
    ) -> DataFrame:
        """F2 dedup and replay as ONE join: `files` LEFT JOIN the
        COMPLETED ledger rows on (file_hash, file_path), carrying the
        ledger's `payload` columns and its `cache_key`. cache_key is a
        non-null ledger column equal to the matched hash, so it is
        non-null exactly on the rows that hit history; misses() and
        hits() split the join on it. With a configured stats store the
        join shape is the stats-priced one (broadcast the ledger when
        its persisted size bound fits the projection; split around its
        stored hot keys when a content hash dominates — e.g. one
        boilerplate document uploaded a million times; plain shuffle
        otherwise); the row multiset is identical either way.

        The ledger side is a lazy scan (see _scan): stage the join
        before merging into the same swap-backend ledger."""
        hist = self._scan().filter(F.col("status") == "COMPLETED").select(
            F.col("cache_key").alias("file_hash"), "file_path", "cache_key", *payload
        )
        on = ["file_hash", "file_path"]
        plan = self._join_plan()
        if plan is not None:
            return self.stats.apply_using_join(
                files, hist, on, plan, "left",
                column_aliases={"file_hash": STATS_COLUMN},
            )
        return files.join(hist, on, "left")

    @staticmethod
    def misses(joined: DataFrame, columns: list[str]) -> DataFrame:
        """Rows of a join_completed() frame with no COMPLETED history,
        projected back to the catalog's `columns` (the left_anti
        rows)."""
        return joined.filter(F.col("cache_key").isNull()).select(*columns)

    @staticmethod
    def hits(joined: DataFrame) -> DataFrame:
        """Rows of a join_completed() frame served from history, one
        per matching ledger row (the inner-join rows)."""
        return joined.filter(F.col("cache_key").isNotNull()).drop("cache_key")

    def dedup_catalog(self, files: DataFrame) -> DataFrame:
        """F2: catalog rows not already COMPLETED (a left_anti)."""
        return self.misses(self.join_completed(files), files.columns)

    def replay_results(self, files: DataFrame) -> DataFrame:
        """Cached results for catalog rows that hit history (the replay
        path, destination.py:593-612): the inner-join rows with the
        ledger's result and metadata."""
        return self.hits(self.join_completed(files, REPLAY_COLUMNS))
