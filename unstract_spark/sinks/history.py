"""File-history ledger — the dedup/result-cache table (F2 write side).

Reference: FileHistory rows keyed by content hash + path, status-gated
replay of cached results (workflow_v2/models/file_history.py:14-54;
replay destination.py:593-612).

The ledger is a sinks/manifest.py table with upsert semantics (the
contract is a Delta `MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED
INSERT` keyed on (cache_key, workflow_id, file_path)): merge() appends
the update rows as one segment, readers keep the newest segment's row
per key, and the segment list is folded back to one segment once it is
longer than `manifest.FOLD_SEGMENTS`. Commits are lock-free
(put-if-absent manifests), readers are snapshot-isolated, and a
crashed writer's segment is never visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.schemas import FILE_HISTORY
from unstract_spark.sinks.manifest import CommitBackend, ManifestTable

MERGE_KEYS = ["cache_key", "workflow_id", "file_path"]
# ledger columns a replayed catalog row carries (destination.py:593-612)
REPLAY_COLUMNS = ("result", "metadata")


def _newest_per_key(segments: DataFrame) -> DataFrame:
    """Dedup-on-read: the newest segment's row per merge key (a batch
    with internal duplicate keys keeps an arbitrary one)."""
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
        commit_backend: CommitBackend | None = None,
        stats=None,
        broadcast_threshold_bytes: int = 64 << 20,
        skew_threshold_ppm: int = 100_000,
    ):
        """`commit_backend`: where the manifest log commits (default:
        POSIX put-if-absent next to the segments; a
        `manifest.CommitBackend` puts it behind, e.g., an object
        store's conditional PUT).

        `stats`: an optional `stats_store.TableStatsStore`. When set,
        merge() re-ANALYZEs the ledger's key column after each commit
        (the write side pays the scan so every read-side plan is
        free), and join_completed() consults the persisted stats to
        pick broadcast / hot-key-split / shuffle
        (stats_store.plan_against_unknown — the catalog side is a
        per-run frame with no stats, so only the ledger side is
        priced). Without stats — or before the first analyzed merge —
        the join takes Spark's default plan, unchanged."""
        self.spark = spark
        self.path = path
        self.stats = stats
        self._bc_bytes = broadcast_threshold_bytes
        self._skew_ppm = skew_threshold_ppm
        self._manifest = ManifestTable(spark, path, commit_backend)

    def read(self) -> DataFrame:
        """The ledger at its latest version, upserts resolved. Segments
        are immutable, so the frame stays valid across later merges."""
        _, df = self._manifest.snapshot_with_seq(FILE_HISTORY)
        return _newest_per_key(df)

    def merge(self, updates: DataFrame) -> None:
        """Upsert: newest row per merge key wins. A lock-free append of
        just the update segment (O(updates) per merge), then a fold
        once the segment list has grown past FOLD_SEGMENTS."""
        self._manifest.append(updates)
        self._manifest.fold(FILE_HISTORY, _newest_per_key)
        self._analyze()

    def _analyze(self) -> None:
        """ANALYZE-on-write: refresh the ledger's persisted stats so
        the NEXT run's joins are priced from disk with zero read-side
        scans. One grouped pass over the just-committed table for all
        analyzed columns — the offline cost the stats store's contract
        budgets for. The payload columns (file_path/result/metadata) are
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
        """Fold all segments into one (the resolved newest-wins view)
        and vacuum. Returns True if the compaction committed (or there
        was nothing to fold); False means a concurrent append won the
        version — the appended rows are preserved and compaction
        should simply be retried later."""
        return self._manifest.fold(FILE_HISTORY, _newest_per_key, over=1)

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
        otherwise); the row multiset is identical either way."""
        hist = self.read().filter(F.col("status") == "COMPLETED").select(
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
