"""Distinct-count and set-overlap SKETCHES with exact oracles.

KMV (k-minimum-values) sketches: keep the k smallest hash values of a
column; the k-th smallest order statistic estimates the distinct count
(Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream"; the same estimator family ships as the DataSketches theta
sketch). Unlike HLL — whose register layout has no cross-engine twin —
a KMV sketch is a pure ORDER BY hash LIMIT k, so every number it
produces is deterministic and value-hash-gatable against a SQL oracle.

Cross-engine hash: the sketch hash is the first 15 hex chars of
md5(value) read as a base-16 integer — 60 bits, positive BIGINT in
both engines:
  Spark:  CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
  DuckDB: CAST(('0x' || substr(md5(x), 1, 15)) AS UBIGINT)
(xxhash64 would be cheaper but has no DuckDB twin; md5 keeps the gate.)

Estimator: with d distinct values hashed uniformly into [0, M),
M = 16^15 = 2^60, the k-th smallest distinct hash h_k satisfies
E[h_k] ≈ k·M/(d+1), so  est = (k-1)·M / h_k  (the unbiased KMV form).
When the corpus has FEWER than k distinct values the sketch holds all
of them and the count is exact — the estimator switches off.
Determinism: (k-1)·M is exact in double (k ≤ 2^52/M never binds for
real k; 255·2^60 is exactly representable), h_k→double is one IEEE
round, the division one IEEE op — bit-identical across engines.

Scale contract (the reason to sketch at all): a sketch is k longs of
state, mergeable by union+re-min — per-shard sketches combine without
re-scanning. The Spark spelling pre-filters candidates per Arrow batch
(each batch contributes at most its k smallest distinct hashes — any
global top-k member is also a batch top-k member), so the final
distinct+TakeOrdered runs over ≤ batches·k rows, never the full
distinct key set. An EXACT count-distinct shuffles every distinct key;
the sketch ships k·8 bytes per input split.

Reference anchor: the reference has no sketching surface (its usage
aggregation is exact, usage_v2/models.py); this family is part of the
beyond-reference training-data toolkit, alongside dedup and ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# hash space: 15 hex chars = 60 bits
KMV_M = float(1 << 60)


def md5_hash60(col):
    """60-bit cross-engine hash (see module docstring).
    SQL twin (DuckDB): CAST(('0x' || substr(md5(x),1,15)) AS UBIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """The k smallest distinct 60-bit hashes of `col` — one `h` row
    each (fewer when the column has < k distinct values).

    Per-Arrow-batch candidate pre-filter keeps the global merge at
    ≤ batches·k rows (correct because the global k-min distinct set is
    a subset of the union of per-batch k-min distinct sets); the tail
    is one distinct + TakeOrderedAndProject over that candidate set.
    """
    hashed = df.where(F.col(col).isNotNull()).select(
        md5_hash60(F.col(col)).alias("h")
    )

    def batch_topk(batches):
        import numpy as np

        for pdf in batches:
            # np.unique returns sorted ascending — the k-min prefix
            # needs no second sort
            hs = np.unique(pdf["h"].to_numpy())
            yield pdf.iloc[:0] if hs.size == 0 else type(pdf)(
                {"h": hs[:k]}
            )

    candidates = hashed.mapInPandas(batch_topk, "h long")
    return candidates.distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """One-row distinct-count estimate from an ALREADY-BUILT sketch
    (its `h` rows): (k, n_sketch, kth_hash, est_distinct). n_sketch
    < k means the sketch saw every distinct value and the estimate IS
    the count. `k` must be the k the sketch was built with (see
    kmv_merge). The sketch holds at most k rows, so the aggregate runs
    over one partition: no Exchange, one job."""
    return sketch.coalesce(1).agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("kth_hash"),
    ).select("k", "n_sketch", "kth_hash", _est_col(k))


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One-row distinct-count estimate of `col`: sketch + estimate."""
    return kmv_estimate(kmv_sketch(df, col, k), k)


def _est_col(k: int):
    """The KMV estimator as a Column over (n_sketch, kth_hash) —
    shared by the global and per-group estimate spellings."""
    return (
        F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(KMV_M) / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct")
    )


def kmv_sketch_by_group(
    df: DataFrame, group_col: str, col: str, k: int = 256
) -> DataFrame:
    """One KMV sketch PER GROUP: (group, h) rows, the k smallest
    distinct hashes of `col` within each group (fewer when a group
    has < k distinct values) — the GROUP BY twin of kmv_sketch, for
    per-segment distinct counts without shuffling every distinct
    (group, key) pair.

    Scale shape: the same per-Arrow-batch prefilter as kmv_sketch,
    per group (each batch contributes at most its k smallest distinct
    hashes per group — any global per-group k-min member is also a
    batch per-group k-min member), so the shuffle carries
    <= batches*groups*k rows; the tail is one distinct + per-group
    row_number cut."""
    gtype = df.schema[group_col].dataType.simpleString()
    hashed = df.where(F.col(col).isNotNull()).select(
        F.col(group_col).alias("g"), md5_hash60(F.col(col)).alias("h")
    )

    def batch_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            # sort by h only (no group-key comparison — object columns
            # may hold None) and take the first k rows per group;
            # dropna=False keeps a null GROUP as its own group, the
            # same semantics as Spark's groupBy/Window on null keys
            d = pdf.drop_duplicates(["g", "h"]).sort_values("h")
            yield d.groupby("g", sort=False, dropna=False).head(k)

    cand = hashed.mapInPandas(batch_topk, f"g {gtype}, h long")
    return kmv_merge_by_group(cand, group_col="g", k=k).select(
        F.col("g").alias(group_col), "h"
    )


def kmv_merge_by_group(*sketches: DataFrame, group_col: str, k: int):
    """kmv_merge per group: the k smallest distinct `h` of each
    `group_col` value across the (group, h) inputs — one distinct and
    one row_number window per group, in the JVM."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        out.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(group_col, "h")
    )


def kmv_distinct_by_group(
    df: DataFrame, group_col: str, col: str, k: int = 256
) -> DataFrame:
    """Per-group distinct-count estimates: one row per group with
    (k, n_sketch, kth_hash, est_distinct) — exact for groups holding
    fewer than k distinct values, the (k-1)*M/h_k estimator above."""
    sk = kmv_sketch_by_group(df, group_col, col, k)
    return sk.groupBy(group_col).agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("kth_hash"),
    ).select(group_col, "k", "n_sketch", "kth_hash", _est_col(k))


def kmv_row_sample(
    df: DataFrame, key_col: str, cols: list[str], k: int = 512
) -> DataFrame:
    """Deterministic uniform ROW sample: the k rows whose 60-bit hash
    of `key_col` is smallest, carrying `cols` — a bottom-k sample.
    With a unique key the hash is a uniform random permutation fixed
    by the data itself, so the sample is (a) uniform, (b) rerunnable
    bit-identically, (c) MERGEABLE by union + re-min (per-shard
    bottom-k samples combine without re-scanning — the same property
    as the distinct-count sketch, here keeping whole rows), and
    (d) exactly reproducible by a SQL oracle (ORDER BY hash LIMIT k).
    Rows are NOT dedupped: a non-unique key over-weights its
    duplicates — pass a unique row key.

    Unlike kmv_sketch there is no distinct, so `orderBy().limit(k)`
    alone compiles to TakeOrderedAndProject — a bounded per-partition
    top-k heap merged on the driver, entirely JVM-side (a pandas
    per-batch prefilter was measured 1.3-2x SLOWER here: it only pays
    when it bounds a downstream distinct's shuffle, which the sketch
    has and the row sample does not).

    The key is cast to string before hashing (md5 takes
    string/binary) — a no-op for string keys, and the SQL twin is
    CAST(key AS VARCHAR) (integer-to-string renders identically in
    both engines)."""
    hashed = df.where(F.col(key_col).isNotNull()).select(
        md5_hash60(F.col(key_col).cast("string")).alias("h"), *cols
    )
    order = ["h", *cols]  # full tie-break: an h collision (~2^-60)
    # at the k boundary must not make the sample engine-dependent
    return hashed.orderBy(*order).limit(k)


def kmv_row_sample_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Deterministic uniform ROW sample PER GROUP: for each group, the
    k rows whose 60-bit key hash is smallest, carrying `cols` — the
    stratified twin of kmv_row_sample (per-language eval subsets,
    per-source spot-check slates), with the same properties: uniform
    under a unique key, rerunnable bit-identically, mergeable by
    union + re-min per group, SQL-twin-exact (per-group row_number
    over the hash). Output: (group, h, *cols).

    Scale shape: the kmv_sketch_by_group prefilter — each Arrow batch
    contributes at most its k smallest rows per group (any global
    per-group bottom-k member is also a batch per-group bottom-k
    member), so the shuffle carries <= batches*groups*k rows; the
    tail is one per-group row_number cut. Batch pruning orders by the
    hash alone (an md5 collision between different keys could in
    principle prune a tied row the full (h, cols) order would keep —
    the same collision-free-md5 assumption every fingerprint family
    in this engine already makes)."""
    if bad := [c for c in cols if c in ("g", "h")]:
        raise ValueError(
            f"payload columns {bad} collide with the sampler's internal "
            "g/h aliases — rename them first"
        )
    gtype = df.schema[group_col].dataType.simpleString()
    coltypes = {c: df.schema[c].dataType.simpleString() for c in cols}
    hashed = df.where(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        md5_hash60(F.col(key_col).cast("string")).alias("h"),
        *cols,
    )

    def batch_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            d = pdf.sort_values("h", kind="mergesort")
            yield d.groupby("g", sort=False, dropna=False).head(k)

    schema = ", ".join(
        [f"g {gtype}", "h long"] + [f"{c} {t}" for c, t in coltypes.items()]
    )
    cand = hashed.mapInPandas(batch_topk, schema)
    w = Window.partitionBy("g").orderBy("h", *cols)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(F.col("g").alias(group_col), "h", *cols)
    )


def sample_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 512,
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Mergeable approximate quantiles from a deterministic bottom-k
    row sample: one row (k, n_sample, p25, p50, ...) — the
    cross-engine-gatable stand-in for t-digest/KLL (whose register
    layouts have no SQL twin; this sketch's state is k plain rows and
    every output is deterministic). Sample error is the usual
    order-statistic bound ~1/sqrt(k) per quantile. n_sample < k means
    the sample IS the dataset and the quantiles are exact. At 100 TB:
    k rows of state per split, union + re-min to combine — the same
    shipping shape as the distinct-count sketch."""
    smp = kmv_row_sample(df, key_col, [value_col], k)
    return quantiles_of_sample(smp, value_col, k, qs)


def quantiles_of_sample(
    smp: DataFrame,
    value_col: str,
    k: int,
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """The quantile aggregate over an ALREADY-BUILT bottom-k row
    sample (its (h, value) rows) — factored out so the streaming
    pipeline can estimate from a cross-fire MERGED sample without
    re-sampling."""
    aggs = [
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_sample"),
    ] + [
        F.round(
            F.expr(f"percentile({value_col}, {q})"), 6
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return smp.agg(*aggs)


def kmv_row_sample_merge(
    *samples: DataFrame, cols: list[str], k: int
) -> DataFrame:
    """Union bottom-k ROW samples into one: the k smallest rows by
    (h, *cols) across all inputs — the row-sample twin of kmv_merge
    (per-shard / per-fire samples combine without re-scanning).
    Full-row dedup makes the merge IDEMPOTENT: re-folding a sample
    that is already contained in another (a replayed fire) changes
    nothing. Under the unique-key contract duplicate rows only arise
    from such overlaps, so dedup never drops a legitimate member.
    `k` and `cols` must match what the samples were built with (the
    kmv_merge k-contract, r10 ADVICE)."""
    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    order = ["h", *cols]
    return out.dropDuplicates(order).orderBy(*order).limit(k)


def range_split_plan(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_splits: int = 8,
    k: int = 512,
) -> DataFrame:
    """Range-partition BOUNDARY PLANNING from the deterministic
    bottom-k row sample: pick n_splits-1 split boundaries at the
    sample's equi-depth quantile positions, assign every row to its
    split, and report per-split (n_rows, min/max value) — what
    repartitionByRange's reservoir sampling does internally, but
    deterministic (rerunnable bit-identically, auditable against a
    SQL twin) and with the balance check included. The planning
    statistic for choosing range boundaries BEFORE a 100 TB sort or
    range join.

    Mechanics: boundaries are the sample values at ranks
    floor(i·n/P), i = 1..P-1 (ties ordered by (value, hash) — total);
    a row's split is the count of boundaries strictly below its value
    (ties go left, so equal keys never straddle splits). The sample is
    <= k rows, so its rank window sits above a GlobalLimit (the
    sanctioned bounded-window idiom) and the boundary array broadcasts
    to the assignment scan — the full data is read ONCE and never
    shuffled by the key; only the <= P-row report aggregates.

    Output: (split_id, n_rows, min_val, max_val) — min/max pass
    through raw, so the plan hash-gates exactly. Duplicate boundary
    values yield empty middle splits (absent rows), identically in
    the twin."""
    smp = kmv_row_sample(df, key_col, [value_col], k)
    # rank AND size from ONE window pass over the <= k sample rows so
    # the sample's lineage (a full scan + hash) executes exactly once
    # for the boundary derivation — a separate count() job would
    # re-execute it (measured ~3x the query cost at the 10x rung)
    w = Window.orderBy(value_col, "h")
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = smp.select(
        F.col(value_col).alias("_bv"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wfull).alias("_n"),
    )
    picks = ranked.join(
        F.broadcast(df.sparkSession.range(1, n_splits)),
        F.col("_rn") == F.expr(f"id * _n div {int(n_splits)}"),
    )
    bounds = picks.agg(F.array_sort(F.collect_list("_bv")).alias("_bnds"))
    v = F.col(value_col)
    split = F.aggregate(
        F.col("_bnds"),
        F.lit(0),
        lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
    )
    assigned = (
        df.where(v.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(split.alias("split_id"), v.alias("_v"))
    )
    return assigned.groupBy("split_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_v").alias("min_val"),
        F.max("_v").alias("max_val"),
    )


def sample_quantiles_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int = 512,
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Per-GROUP mergeable approximate quantiles: sample_quantiles
    composed over the stratified bottom-k row sample — one row per
    group (group, k, n_sample, p25, ...), exact when a group holds
    fewer than k rows. k rows of state PER GROUP, per-group
    mergeable — per-segment latency/length/quality percentiles at
    sketch cost instead of a full per-group sort."""
    smp = kmv_row_sample_by_group(df, group_col, key_col, [value_col], k)
    aggs = [
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_sample"),
    ] + [
        F.round(
            F.expr(f"percentile({value_col}, {q})"), 6
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return smp.groupBy(group_col).agg(*aggs)


def kmv_merge(*sketches: DataFrame, k: int) -> DataFrame:
    """Union sketches into one: k smallest of the combined hash sets.
    This is the mergeability property that makes KMV shippable from
    1000 executors: per-shard sketches union without re-scanning.

    `k` is keyword-REQUIRED and must equal the k the input sketches
    were built with: a sketch DataFrame is just its `h` rows and does
    not carry k, and merging k=128 sketches at a larger k would emit
    up to that larger row count — not a valid k-min sketch for either
    k, silently skewing any downstream estimator (r10 ADVICE)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h").limit(k)


def _materialize_sketch(sketch: DataFrame) -> DataFrame:
    """Execute a ≤k-row sketch ONCE and pin the result for reuse.

    localCheckpoint, deliberately: a bounded driver collect +
    LocalRelation rebuild was A/B'd in the r13 optimization round
    (OPTIMIZATION_r13.md, interleaved same-session pairs) and
    measured SLOWER — kmv_overlap 3.0 -> 6.0 s median, join_size at
    parity-to-worse — because the sketch lineage is mapInPandas-
    dominated (the RDD path's codegen loss is marginal) while the
    collect pays two serialized driver round-trips per call. Keep the
    checkpoint unless a future profile on a real cluster says
    otherwise."""
    return sketch.localCheckpoint(eager=True)


def _overlap_stats(
    dfa: DataFrame, col_a: str, dfb: DataFrame, col_b: str, k: int
) -> DataFrame:
    """One-row membership stats over the merged sketch of two inputs:
    (n_merged, kth_hash, n_both, n_a_only, n_b_only) — the shared
    front end of kmv_overlap and kmv_difference. Membership flags via
    two tiny joins, then ONE aggregate computes every scalar — no
    per-scalar jobs, no crossJoin stitching."""
    sa = _materialize_sketch(kmv_sketch(dfa, col_a, k))
    sb = _materialize_sketch(kmv_sketch(dfb, col_b, k))
    return overlap_stats_from_sketches(sa, sb, k)


def overlap_stats_from_sketches(
    sa: DataFrame, sb: DataFrame, k: int
) -> DataFrame:
    """The same one-row membership stats computed from two
    ALREADY-BUILT (and materialized/persisted) sketches — the entry
    point for stored-sketch consumers like TableStatsStore, which
    estimate set overlap between analyzed columns without touching
    the data. `k` must be the k both sketches were built with (the
    kmv_merge contract)."""
    merged = kmv_merge(sa, sb, k=k)
    flagged = merged.join(
        sa.withColumn("_a", F.lit(1)), "h", "left"
    ).join(sb.withColumn("_b", F.lit(1)), "h", "left")
    in_a, in_b = F.col("_a").isNotNull(), F.col("_b").isNotNull()
    return flagged.agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.max("h").alias("kth_hash"),
        F.sum(F.when(in_a & in_b, 1).otherwise(0)).alias("n_both"),
        F.sum(F.when(in_a & ~in_b, 1).otherwise(0)).alias("n_a_only"),
        F.sum(F.when(in_b & ~in_a, 1).otherwise(0)).alias("n_b_only"),
    )


def kmv_overlap(
    dfa: DataFrame, col_a: str, dfb: DataFrame, col_b: str, k: int = 256
) -> DataFrame:
    """Theta-sketch-style set overlap from two KMV sketches: one row
    (est_union, est_jaccard, est_intersection).

    The merged (union) sketch is a uniform k-sample of the union's
    distinct values; the fraction of its members present in BOTH input
    sketches estimates the Jaccard similarity, and jaccard·union
    estimates the intersection size (the standard theta-sketch
    a-priori estimator). All counts are exact integers; the two
    closing multiplications are single IEEE ops — gate-stable."""
    stats = _overlap_stats(dfa, col_a, dfb, col_b, k)
    est_union = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_M) / F.col("kth_hash").cast("double")
    )
    # empty inputs: n_merged = 0 — pin the ratios to 0.0 on BOTH
    # engines (a raw 0/0 is NULL in Spark but NaN-or-NULL in other
    # engines depending on IEEE settings; the gate needs one answer)
    jac = F.when(F.col("n_merged") == 0, F.lit(0.0)).otherwise(
        F.col("n_both").cast("double") / F.col("n_merged").cast("double")
    )
    return stats.select(
        est_union.alias("est_union"),
        jac.alias("est_jaccard"),
        (jac * est_union).alias("est_intersection"),
    )


def kmv_join_size(
    dfa: DataFrame,
    key_a: str,
    dfb: DataFrame,
    key_b: str,
    k: int = 256,
) -> DataFrame:
    """Equi-join OUTPUT-CARDINALITY estimate |A ⋈ B| from key sketches
    plus sampled-key row counts — the theta-sketch join estimator
    (DataSketches' "join cardinality" use case; the statistic AQE-style
    planners need to pick broadcast vs shuffle vs salting BEFORE paying
    for the shuffle).

    The merged k-min sketch of the two key sets is a uniform k-sample
    of the union's distinct keys; for a sampled key x the join emits
    c_a(x)·c_b(x) rows, so  sum_prod / n_merged · est_union  estimates
    the join size (the same a-priori scaling as kmv_overlap). When the
    merged sketch holds the WHOLE union (n_merged < k) sum_prod IS the
    exact join cardinality and the estimator switches off.

    Scale shape — the reason this beats counting: per-key counts are
    computed ONLY for the ≤ k sampled keys, via a broadcast semi-join
    of each input against the k-row merged sketch followed by a
    groupBy over ≤ k keys. Neither input is ever shuffled by key; the
    state is 3k longs. An exact join-size count pays the full join
    shuffle — the thing the estimate exists to avoid.

    One row: (k, n_merged, kth_hash, sum_prod, est_union_keys,
    est_join_rows). Determinism: integer counts, and the closing
    arithmetic is the module's standard single-IEEE-op chain —
    gate-stable (do not re-associate)."""
    ha = dfa.where(F.col(key_a).isNotNull()).select(
        md5_hash60(F.col(key_a)).alias("h")
    )
    hb = dfb.where(F.col(key_b).isNotNull()).select(
        md5_hash60(F.col(key_b)).alias("h")
    )
    # self-pair fast path (r14 optimization round, guide §1.2 "don't
    # compute things you throw away"): estimating a relation's join
    # with ITSELF on the same key (the M:N self-pair a planner prices
    # before salting) would otherwise build the identical sketch twice
    # and run the identical count scan twice. kmv_merge(s, s) == s
    # (union + distinct + re-min of a set with itself) and c_b == c_a
    # row for row, so sketch and counts are computed once and c_b is
    # aliased from c_a. Same rows out, half the input passes.
    self_pair = dfa is dfb and key_a == key_b

    # each side's sketch feeds ONLY the merge (no materialization of
    # its own — nothing re-reads them); the merged sketch is consumed
    # three times (two count joins + the final left joins), so it
    # alone is materialized — pinned via localCheckpoint (see
    # _materialize_sketch; the bounded-driver-collect variant was
    # A/B'd in r13 and measured 2x slower, so it was rejected)
    if self_pair:
        merged = _materialize_sketch(kmv_sketch(dfa, key_a, k))
    else:
        merged = _materialize_sketch(
            kmv_merge(kmv_sketch(dfa, key_a, k), kmv_sketch(dfb, key_b, k), k=k)
        )

    def counts(hashed: DataFrame, alias: str) -> DataFrame:
        return (
            hashed.join(F.broadcast(merged), "h")
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    # counts() emits ≤ k rows (groupBy over the broadcast-semi-joined
    # sample keys) — pin BuildRight broadcasts so the closing left
    # joins never plan as SortMergeJoin (the pre-AQE size estimate of
    # a post-join aggregate is the full scan's, r13 plan audit)
    if self_pair:
        joined = merged.join(
            F.broadcast(counts(ha, "c_a")), "h", "left"
        ).withColumn("c_b", F.col("c_a"))
    else:
        joined = merged.join(F.broadcast(counts(ha, "c_a")), "h", "left").join(
            F.broadcast(counts(hb, "c_b")), "h", "left"
        )
    stats = joined.agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.max("h").alias("kth_hash"),
        F.sum(
            F.coalesce(F.col("c_a"), F.lit(0))
            * F.coalesce(F.col("c_b"), F.lit(0))
        ).alias("sum_prod"),
    )
    est_union = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_M) / F.col("kth_hash").cast("double")
    )
    est_join = (
        F.when(F.col("n_merged") == 0, F.lit(0.0))
        .when(F.col("n_merged") < k, F.col("sum_prod").cast("double"))
        .otherwise(
            F.col("sum_prod").cast("double")
            / F.col("n_merged").cast("double")
            * est_union
        )
    )
    return stats.select(
        F.lit(k).cast("long").alias("k"),
        "n_merged",
        "kth_hash",
        "sum_prod",
        est_union.alias("est_union_keys"),
        est_join.alias("est_join_rows"),
    )


def kmv_difference(
    dfa: DataFrame, col_a: str, dfb: DataFrame, col_b: str, k: int = 256
) -> DataFrame:
    """Theta-sketch-style set DIFFERENCE estimates from two KMV
    sketches: one row (est_union, est_a_not_b, est_b_not_a) — the
    "how much of A is new relative to B" question (fresh tokens since
    the last crawl snapshot, unseen keys vs a history). The merged
    sketch is a uniform k-sample of the union; the fraction of its
    members in exactly one input sketch estimates each one-sided
    difference, scaled by the union estimate — same a-priori
    estimator family as kmv_overlap, same 0/0 pin to 0.0."""
    stats = _overlap_stats(dfa, col_a, dfb, col_b, k)
    est_union = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_M) / F.col("kth_hash").cast("double")
    )

    def frac(col):
        return F.when(F.col("n_merged") == 0, F.lit(0.0)).otherwise(
            F.col(col).cast("double") / F.col("n_merged").cast("double")
        )

    return stats.select(
        est_union.alias("est_union"),
        (frac("n_a_only") * est_union).alias("est_a_not_b"),
        (frac("n_b_only") * est_union).alias("est_b_not_a"),
    )
