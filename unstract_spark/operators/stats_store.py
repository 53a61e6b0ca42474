"""Persisted TABLE STATISTICS store — the ANALYZE TABLE side of the
sketch family.

A planner choosing broadcast-vs-shuffle-vs-salt needs row counts and
key cardinalities BEFORE running the query; recomputing them per query
wastes the very scans the statistics exist to avoid. This store
persists, per (table, column): the row/non-null counts and the KMV
distinct-count sketch (operators/sketches.py — k longs, mergeable,
deterministic), and answers planning questions from disk:

- distinct_estimate(table, column) — the KMV estimator over the
  stored sketch (exact when the column had < k distinct values).
- join_estimate(tA, cA, tB, cB) — the textbook containment estimate
  |A ⋈ B| ≈ nA·nB / max(ndvA, ndvB) (Selinger '79's formula, still
  what cost-based optimizers default to), computed from stored stats
  only — no data scan at planning time. When the two key sets overlap
  the stored SKETCHES can refine the ndv denominators via kmv_overlap,
  but the store deliberately keeps the no-scan formula: its inputs
  are auditable numbers a DBA can read.
- broadcast_advice(table, threshold_bytes) — n_rows·avg_row_bytes vs
  the autoBroadcastJoinThreshold-style knob.

Layout: <path>/{sketch,meta,heavy}/table=<t>/column=<c>/*.parquet —
the h rows; one (n_rows, n_nonnull, n_sketch, kth_hash, k, avg_len)
row; the top keys. `_write` is the one writer (partitionBy column,
dynamic overwrite: re-analyzing some columns keeps the others).
analyze() and streaming_stats_pipeline compute every column in one
grouped pass over the (column, value) unpivot and both write through
`publish`. ANALYZE is offline work: the scan it spends is the one
every future planning decision saves.

Reference anchor: the reference platform has no optimizer surface (its
joins are fixed-shape file-pipeline anti-joins); this is part of the
beyond-reference scale toolkit, alongside kmv_join_size (which scans
data for a sharper sampled-key estimate when a scan is affordable).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from unstract_spark.operators import sketches
from unstract_spark.schemas import quote_ident


def column_values(df: DataFrame, columns: list[str]) -> DataFrame:
    """(column, v): each of `columns` unpivoted into one string column,
    one row per input row and column (NULLs kept)."""
    as_str = df.select(
        *[F.col(quote_ident(c)).cast("string").alias(c) for c in columns]
    )
    return as_str.unpivot(
        [], [F.col(quote_ident(c)) for c in columns], "column", "v"
    )


def column_counters(values: DataFrame) -> DataFrame:
    """(column, n_rows, n_nonnull, len_sum) of `column_values` rows in
    one aggregate. len_sum, the summed rendered length, is decimal:
    counters of disjoint batches add up exactly to their union's."""
    length = F.coalesce(F.length("v"), F.lit(0)).cast("decimal(18,6)")
    return values.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.sum(length).alias("len_sum"),
    )


class TableStatsStore:
    """Parquet-backed per-(table, column) statistics with KMV
    distinct sketches. All numbers deterministic (md5-driven), so two
    analyze() runs of the same data produce byte-identical stats."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, kind: str, table: str, column: str) -> str:
        # column= escaped as Spark's partition writer escapes it
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog
        column = utils.ExternalCatalogUtils.escapePathName(column)
        return os.path.join(
            self.path, kind, f"table={table}", f"column={column}"
        )

    def _write(
        self, kind: str, table: str, columns: list[str], frame: DataFrame
    ) -> None:
        """Replace the `kind` rows of `columns` with `frame`'s, partitioned
        by its `column` field; other columns keep theirs. A column with no
        rows (all NULL) writes no partition, so its directory is cleared
        first and left empty."""
        for c in columns:
            shutil.rmtree(self._dir(kind, table, c), ignore_errors=True)
        frame.write.partitionBy("column").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(os.path.join(self.path, kind, f"table={table}"))
        for c in columns:
            os.makedirs(self._dir(kind, table, c), exist_ok=True)

    def publish(
        self, table: str, columns: list[str], k: int, acc: DataFrame
    ) -> None:
        """Write the sketch and meta rows of `columns` from `acc`
        (column, h, n_rows, n_nonnull, len_sum): each column's k-min
        hashes carrying its counters, one NULL-h row for an all-NULL
        column. At most k rows per column: meta aggregates unshuffled."""
        self._write(
            "sketch", table, columns,
            acc.where(F.col("h").isNotNull()).select("h", "column"),
        )
        meta = acc.coalesce(1).groupBy("column").agg(
            F.max("n_rows").alias("n_rows"),
            F.max("n_nonnull").alias("n_nonnull"),
            F.count("h").alias("n_sketch"),
            F.max("h").alias("kth_hash"),
            F.lit(k).cast("long").alias("k"),
            F.try_divide(
                F.max("len_sum").cast("double"), F.max("n_nonnull")
            ).alias("avg_len"),
        )
        self._write("meta", table, columns, meta)

    def analyze(
        self,
        df: DataFrame,
        table: str,
        columns: list[str],
        k: int = 256,
        heavy_n: int = 8,
    ) -> None:
        """Compute and persist stats for `columns` in one grouped pass.

        Alongside the sketch and meta row, the top `heavy_n` keys by
        exact count (ties by key string — deterministic) land under
        heavy/: the skew side of planning. A key's count over the
        total is the 'will this shuffle partition melt?' number, and
        it must come from statistics, not from running the query the
        plan is for."""
        columns = list(dict.fromkeys(columns))
        values = column_values(df, columns)
        by_key = Window.partitionBy("column").orderBy(F.desc("cnt"), "key")
        heavy = (
            values.groupBy("column", F.col("v").alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("key").isNotNull())
            .withColumn("_rn", F.row_number().over(by_key))
            .where(F.col("_rn") <= heavy_n)
            .drop("_rn")
        )
        self._write("heavy", table, columns, heavy)
        sk = sketches.kmv_sketch_by_group(values, "column", "v", k)
        # at most k rows per column, cached: publish's two writes share
        # one scan and one sketch
        acc = column_counters(values).join(sk, "column", "left").cache()
        try:
            self.publish(table, columns, k, acc)
        finally:
            acc.unpersist()

    def _meta(self, table: str, column: str):
        rows = self.spark.read.parquet(
            self._dir("meta", table, column)
        ).collect()
        if len(rows) != 1:
            raise ValueError(
                f"stats for {table}.{column}: expected 1 meta row, "
                f"got {len(rows)} — re-run analyze()"
            )
        return rows[0]

    def distinct_estimate(self, table: str, column: str) -> float:
        """NDV from the stored sketch (exact below k)."""
        m = self._meta(table, column)
        if m.n_sketch < m.k:
            return float(m.n_sketch)
        return float(m.k - 1) * sketches.KMV_M / float(m.kth_hash)

    def join_estimate(
        self, table_a: str, col_a: str, table_b: str, col_b: str
    ) -> float:
        """Containment join-size estimate nA·nB / max(ndvA, ndvB) from
        stored stats only (no scan). Upper-bounds the truth when the
        key sets only partially overlap; kmv_join_size is the
        data-scanning refinement when a scan is affordable."""
        ma, mb = self._meta(table_a, col_a), self._meta(table_b, col_b)
        ndv = max(
            self.distinct_estimate(table_a, col_a),
            self.distinct_estimate(table_b, col_b),
        )
        if ndv == 0:
            return 0.0
        return float(ma.n_nonnull) * float(mb.n_nonnull) / ndv

    def join_estimate_refined(
        self, table_a: str, col_a: str, table_b: str, col_b: str
    ) -> float:
        """Overlap-REFINED join-size estimate from the two STORED
        sketches (still no data scan — only the 2k persisted hash
        rows are read): nA·nB·Î / (ndvA·ndvB), where Î is the
        intersection cardinality estimated by the theta-sketch
        overlap of the stored sketches. Under uniform per-key counts
        this is exact in expectation; it repairs the containment
        formula's blind spot — partially overlapping key domains —
        which join_estimate deliberately ignores (its inputs stay
        DBA-readable scalars)."""
        ma, mb = self._meta(table_a, col_a), self._meta(table_b, col_b)
        if ma.k != mb.k:
            raise ValueError(
                f"sketches built with different k ({ma.k} vs {mb.k}) "
                "cannot merge — re-analyze one side"
            )
        ndv_a = self.distinct_estimate(table_a, col_a)
        ndv_b = self.distinct_estimate(table_b, col_b)
        if ndv_a == 0 or ndv_b == 0:
            return 0.0
        sa = self.spark.read.parquet(self._dir("sketch", table_a, col_a))
        sb = self.spark.read.parquet(self._dir("sketch", table_b, col_b))
        st = sketches.overlap_stats_from_sketches(sa, sb, int(ma.k)).collect()[
            0
        ]
        if st.n_merged == 0:
            return 0.0
        if st.n_merged < ma.k:
            est_union = float(st.n_merged)
        else:
            est_union = (
                float(ma.k - 1) * sketches.KMV_M / float(st.kth_hash)
            )
        est_i = float(st.n_both) / float(st.n_merged) * est_union
        return (
            float(ma.n_nonnull) * float(mb.n_nonnull) * est_i
            / (ndv_a * ndv_b)
        )

    def broadcast_advice(
        self, table: str, column: str, threshold_bytes: int = 64 << 20
    ) -> bool:
        """True when the analyzed column's table plausibly fits under
        the broadcast threshold (n_rows · mean rendered length of this
        column is a LOWER bound on row bytes — a True here still
        means 'check the full row width', a False is decisive)."""
        m = self._meta(table, column)
        if m.avg_len is None:
            return True
        return float(m.n_rows) * float(m.avg_len) <= threshold_bytes

    def heavy_keys(self, table: str, column: str) -> list:
        """The persisted top keys, (key, cnt) by cnt desc / key asc.
        [] when the column has no heavy/ directory: skew unknown. The
        stream publishes sketch and meta rows only (exact top-k counts
        do not merge across fires), so plans over a stream-published
        column price it without skew data."""
        path = self._dir("heavy", table, column)
        if not os.path.isdir(path):
            return []
        rows = self.spark.read.schema("key string, cnt long").parquet(
            path
        ).collect()
        return sorted(rows, key=lambda r: (-r.cnt, r.key))

    def top_share_ppm(self, table: str, column: str) -> int:
        """Exact parts-per-million share of the hottest key — integer
        arithmetic end to end (cnt·1e6 // n_nonnull), so the number a
        plan decision hinges on is bit-stable across engines."""
        hk = self.heavy_keys(table, column)
        if not hk:
            return 0
        m = self._meta(table, column)
        if m.n_nonnull == 0:
            return 0
        return int(hk[0].cnt) * 1_000_000 // int(m.n_nonnull)

    def join_plan(
        self,
        table_a: str,
        col_a: str,
        table_b: str,
        col_b: str,
        broadcast_threshold_bytes: int = 64 << 20,
        skew_threshold_ppm: int = 100_000,
        parallelism: int = 32,
    ) -> dict:
        """The automatic broadcast-vs-shuffle-vs-salt decision, priced
        ENTIRELY from persisted statistics (no data scan):

        - if either side's size lower bound (n_rows · avg rendered key
          length) fits the broadcast threshold, broadcast the SMALLER
          side (ties to a) — a broadcast join has no shuffle, so skew
          is moot;
        - else if either side's hottest key exceeds
          `skew_threshold_ppm`, plan a hot-key split join
          ('shuffle_salted'): the stored heavy keys route their rows
          around the hash shuffle (apply_join);
        - else a plain shuffle join.

        salt_advice prices how many partition-equivalents the hottest
        key occupies at `parallelism`-way hashing — integer ceil
        (share_ppm·P + 999999) // 1e6, clamped to [2, P] — the split
        factor a salting implementation would need. Reported for every
        plan so the arithmetic is auditable even when not salting.
        """
        ma, mb = self._meta(table_a, col_a), self._meta(table_b, col_b)
        # avg_len is None when the analyzed column had zero non-null
        # values — the size lower bound is then UNKNOWN, not zero. A
        # zero here would make min(bytes_a, bytes_b) pass the broadcast
        # gate and hint a side whose true width could be huge, so an
        # unknown side prices as +inf (never broadcast on ignorance;
        # fall through to the skew/shuffle branches instead).
        bytes_a = (
            float("inf") if ma.avg_len is None
            else float(ma.n_rows) * float(ma.avg_len)
        )
        bytes_b = (
            float("inf") if mb.avg_len is None
            else float(mb.n_rows) * float(mb.avg_len)
        )
        share_a = self.top_share_ppm(table_a, col_a)
        share_b = self.top_share_ppm(table_b, col_b)
        max_share = max(share_a, share_b)
        if min(bytes_a, bytes_b) <= broadcast_threshold_bytes:
            strategy = (
                "broadcast_a" if bytes_a <= bytes_b else "broadcast_b"
            )
        elif max_share >= skew_threshold_ppm:
            strategy = "shuffle_salted"
        else:
            strategy = "shuffle"
        salt = (max_share * parallelism + 999_999) // 1_000_000
        salt = max(2, min(parallelism, salt))
        return {
            "strategy": strategy,
            "bytes_a": bytes_a,
            "bytes_b": bytes_b,
            "share_ppm_a": share_a,
            "share_ppm_b": share_b,
            "salt_advice": int(salt),
            "est_rows": self.join_estimate_refined(
                table_a, col_a, table_b, col_b
            ),
        }

    def row_bytes_estimate(
        self,
        table: str,
        columns: list[str],
        default_col_bytes: float = 256.0,
        aliases: dict | None = None,
    ) -> float:
        """Conservative per-row byte width of `columns`, from the
        stored per-column avg_len (r12 verdict #2). A join CONSUMER's
        projection may carry payload columns the join-KEY stats never
        priced — the history replay join drags `result`/`metadata`
        JSON along — and broadcasting hot-branch rows priced by key
        width alone is a driver/executor OOM at exactly the scale the
        planner exists for. A column never analyzed prices at
        `default_col_bytes`: unknown width must push AWAY from
        broadcast, never toward it (the avg_len=None → +inf lesson,
        applied per column with a finite but generous default so one
        unanalyzed short column doesn't force +inf on an otherwise
        fully-priced row). `aliases` maps a consumer column name back
        to the analyzed name when the projection renamed it (the
        history ledger's cache_key travels as file_hash)."""
        total = 0.0
        for c in columns:
            if aliases is not None:
                c = aliases.get(c, c)
            if self.has_stats(table, c):
                m = self._meta(table, c)
                total += (
                    float(m.avg_len)
                    if m.avg_len is not None
                    else default_col_bytes
                )
            else:
                total += default_col_bytes
        return total

    def has_stats(self, table: str, column: str) -> bool:
        """True when analyze() has persisted a meta row for the pair —
        the engine's plans consult stats opportunistically (a ledger
        joined before its first ANALYZE takes the default plan)."""
        return os.path.isdir(self._dir("meta", table, column))

    def plan_against_unknown(
        self,
        table: str,
        column: str,
        broadcast_threshold_bytes: int = 64 << 20,
        skew_threshold_ppm: int = 100_000,
        parallelism: int = 32,
    ) -> dict:
        """Price a join where only ONE side has been analyzed — the
        engine's own production shape: a persisted ledger (history /
        usage / lookup table, analyzed on write) joined against a
        per-run frame that has no stats and never will (it exists for
        milliseconds). The unknown side is NEVER broadcast (its size
        is unbounded by assumption); the decision ladder is:

        - the analyzed side's size lower bound fits the threshold →
          'broadcast_known' (broadcast the ledger — the classic dim
          side of the reference's history anti-join);
        - else its hottest key exceeds `skew_threshold_ppm` → split
          the join around the STORED hot keys ('shuffle_salted', see
          apply_using_join);
        - else plain shuffle.
        """
        m = self._meta(table, column)
        bytes_t = (
            float("inf") if m.avg_len is None
            else float(m.n_rows) * float(m.avg_len)
        )
        share = self.top_share_ppm(table, column)
        if bytes_t <= broadcast_threshold_bytes:
            strategy = "broadcast_known"
        elif share >= skew_threshold_ppm:
            strategy = "shuffle_salted"
        else:
            strategy = "shuffle"
        salt = (share * parallelism + 999_999) // 1_000_000
        return {
            "strategy": strategy,
            "bytes_known": bytes_t,
            "share_ppm": share,
            "salt_advice": int(max(2, min(parallelism, salt))),
            "table": table,
            "column": column,
            "skew_threshold_ppm": skew_threshold_ppm,
            "broadcast_threshold_bytes": int(broadcast_threshold_bytes),
        }

    def apply_using_join(
        self,
        left: DataFrame,
        right: DataFrame,
        on: list[str],
        plan: dict,
        how: str = "inner",
        column_aliases: dict | None = None,
    ) -> DataFrame:
        """Execute a USING-columns join (`inner`/`left_semi`/
        `left_anti`) the way a plan_against_unknown() plan priced it,
        with `right` the analyzed side. `column_aliases` maps renamed
        right-projection columns back to their analyzed names for the
        width repricing below.

        broadcast_known hints the right side. shuffle_salted splits
        the LEFT rows on the stored hot values of on[0] (which must be
        the analyzed join column): hot-keyed left rows meet the
        hot-keyed right rows in a broadcast join — a hot key's rows
        never ride the hash shuffle — while the cold remainder takes
        the normal shuffle join. The split is a partition of the left
        rows by a predicate on the join column, and every right row
        that could match a branch's left rows carries the same column
        value, so it lands in that branch's right filter: the union is
        the same row multiset as the plain join for every supported
        join type — each left row lands in exactly one branch with all
        its matches, so `left` outer NULL-extension is also branch-
        local (NULL-keyed left rows ride the cold branch, where the
        equality join gives them the standard no-match semantics).

        Execution repricing (r12 verdict #2): the PLAN prices the KEY
        side; every broadcast this executor emits is re-priced against
        the CONSUMER'S actual projection — rows-to-broadcast ×
        row_bytes_estimate(right.columns) — because the same ledger
        joins with a 2-column key projection on the anti path and a
        fat result/metadata payload on the replay path. left_semi/
        left_anti reduce to distinct key tuples before broadcasting
        (width = the analyzed key columns, always priced). For inner/
        left the hot branch broadcasts only when the priced hot bytes
        (stored heavy-key counts × row width) fit the threshold;
        otherwise it SALT-REPLICATES: left hot rows get a row-hash
        salt, right hot rows replicate across the salt domain, and the
        join runs on (key, salt) — the skew still spreads over
        salt_advice tasks without the full hot payload ever landing on
        one executor or the driver. broadcast_known degrades the same
        way when the projection outweighs the key-side bound (falls to
        the stored-share skew ladder)."""
        if how not in ("inner", "left", "left_semi", "left_anti"):
            raise ValueError(f"unsupported join type {how!r}")
        strategy = plan["strategy"]
        bc_bytes = float(plan.get("broadcast_threshold_bytes", 64 << 20))
        table, column = plan.get("table"), plan.get("column")
        width = (
            self.row_bytes_estimate(
                table, right.columns, aliases=column_aliases
            )
            if table is not None
            else None
        )
        if strategy == "broadcast_known":
            if width is not None:
                m = self._meta(table, column)
                if float(m.n_rows) * width > bc_bytes:
                    share = plan.get("share_ppm", 0)
                    strategy = (
                        "shuffle_salted"
                        if share
                        >= plan.get("skew_threshold_ppm", 100_000)
                        else "shuffle"
                    )
            if strategy == "broadcast_known":
                return left.join(F.broadcast(right), on, how)
        if strategy == "shuffle_salted":
            m = self._meta(plan["table"], plan["column"])
            heavy = [
                (r.key, int(r.cnt))
                for r in self.heavy_keys(plan["table"], plan["column"])
                if m.n_nonnull > 0
                and int(r.cnt) * 1_000_000 // int(m.n_nonnull)
                >= plan.get("skew_threshold_ppm", 100_000)
            ]
            hot = sorted(k for k, _ in heavy)
            key = F.col(on[0]).cast("string")
            l_hot = left.filter(key.isin(hot))
            l_cold = left.filter(key.isNull() | ~key.isin(hot))
            r_hot = right.filter(key.isin(hot))
            r_cold = right.filter(key.isNull() | ~key.isin(hot))
            cold = l_cold.join(r_cold, on, how)
            if how in ("left_semi", "left_anti"):
                # membership tests depend only on the SET of right key
                # tuples — dedup before broadcasting, so a hot ledger
                # key with a million rows broadcasts one tuple
                r_hot = r_hot.select(*on).distinct()
                return cold.unionByName(
                    l_hot.join(F.broadcast(r_hot), on, how)
                )
            hot_rows = sum(c for _, c in heavy)
            hot_bytes = (
                float("inf") if width is None else hot_rows * width
            )
            if hot_bytes <= bc_bytes:
                return cold.unionByName(
                    l_hot.join(F.broadcast(r_hot), on, how)
                )
            # fat hot branch: salt-replicate instead of broadcast
            n_salt = int(plan.get("salt_advice", 8))
            l_hot = l_hot.withColumn(
                "_graft_salt",
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in left.columns]),
                    F.lit(n_salt),
                ).cast("int"),
            )
            r_hot = r_hot.withColumn(
                "_graft_salt",
                F.explode(
                    F.array(
                        *[F.lit(i).cast("int") for i in range(n_salt)]
                    )
                ),
            )
            return cold.unionByName(
                l_hot.join(r_hot, on + ["_graft_salt"], how).drop(
                    "_graft_salt"
                )
            )
        return left.join(right, on, how)

    def apply_join(
        self,
        left: DataFrame,
        right: DataFrame,
        left_on: str,
        right_on: str,
        plan: dict,
        table_a: str | None = None,
        col_a: str | None = None,
        table_b: str | None = None,
        col_b: str | None = None,
        skew_threshold_ppm: int = 100_000,
    ) -> DataFrame:
        """Execute an inner equi-join the way `plan` priced it.

        broadcast_a/b hint the planned side. shuffle_salted splits on
        the STORED heavy keys (share >= threshold): hot rows of both
        sides meet in a broadcast join keyed only by the handful of
        hot keys — they never ride the hash shuffle — while the cold
        remainder takes the normal shuffle join; the union is the same
        row multiset as the plain join (the skew-fuse shape the dedup
        family uses, driven from persisted statistics instead of a
        per-query probe)."""
        strategy = plan["strategy"]
        if strategy == "broadcast_a":
            return F.broadcast(left).join(
                right, left[left_on] == right[right_on]
            )
        if strategy == "broadcast_b":
            return left.join(
                F.broadcast(right), left[left_on] == right[right_on]
            )
        if strategy == "shuffle_salted":
            if None in (table_a, col_a, table_b, col_b):
                raise ValueError(
                    "shuffle_salted needs the analyzed (table, column)"
                    " pairs to read the stored heavy keys"
                )
            hot: set[str] = set()
            for t, c in ((table_a, col_a), (table_b, col_b)):
                m = self._meta(t, c)
                for r in self.heavy_keys(t, c):
                    if (
                        m.n_nonnull > 0
                        and int(r.cnt) * 1_000_000 // int(m.n_nonnull)
                        >= skew_threshold_ppm
                    ):
                        hot.add(r.key)
            hot_list = sorted(hot)
            lk = left[left_on].cast("string")
            rk = right[right_on].cast("string")
            l_cold = left.filter(~lk.isin(hot_list))
            r_cold = right.filter(~rk.isin(hot_list))
            l_hot = left.filter(lk.isin(hot_list))
            r_hot = right.filter(rk.isin(hot_list))
            # broadcast the LESS-skewed side's hot rows (fewer of them)
            if plan["share_ppm_a"] >= plan["share_ppm_b"]:
                hot_join = l_hot.join(
                    F.broadcast(r_hot), l_hot[left_on] == r_hot[right_on]
                )
            else:
                hot_join = F.broadcast(l_hot).join(
                    r_hot, l_hot[left_on] == r_hot[right_on]
                )
            cold_join = l_cold.join(
                r_cold, l_cold[left_on] == r_cold[right_on]
            )
            # positional union: both branches are (left cols ++ right
            # cols); unionByName would trip on the duplicate key name
            return cold_join.union(hot_join)
        return left.join(right, left[left_on] == right[right_on])
