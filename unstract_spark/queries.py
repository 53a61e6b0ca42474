"""Query registry — every implemented operator as (Spark callable, oracle SQL).

This is the correctness surface the driver exercises: each entry's Spark
DataFrame must hash-match the DuckDB result of its oracle SQL on the
same parquet tables. Column names are aliased identically on both sides;
floating aggregates are rounded on both sides; every ranking breaks ties
on a unique id so row sets are deterministic.

Registry key -> SURVEY.md §2 operator ids noted per entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.mock import mock_answer_raw, mock_answer_raw_sql
from unstract_spark.operators import (
    chunking,
    dedup,
    export,
    partsupp,
    retrieval,
    similarity,
    text_analysis,
)
from unstract_spark.operators.ranks import range_prefix

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn):
        if name in _REGISTRY:
            # a silent overwrite once dropped a gated row from the
            # registry (r13: a new registration reused an r11 name and
            # shadowed it, 286 -> 285) — fail loudly at import instead
            raise ValueError(f"duplicate registry name {name!r}")
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which the Spark reader
        # rejects; read nanos as long and convert (integer `div` — a
        # double division would lose precision above 2^53).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fixture_parquet(spark: SparkSession, sf_dir: str, name: str, build):
    """Pre-materialized deterministic binary fixture (r8 verdict #4).

    The multimodal/web gates need binary containers (PNG/JPEG/WAV/AVI/
    WARC) derived from the text tables; encoding them in Python INSIDE
    the gated plan made BENCH measure the fixture encoder instead of
    the decode product path under test (mm_jpeg_features 1.66 s -> 4.87 s
    when progressive-JPEG encode landed). `build()` (the deterministic
    mapInPandas encoder) runs ONCE per (query, sf dir) into a cached
    parquet under the system temp dir; every later call reads the
    parquet. Content is a pure function of (sf tables, encoder code),
    so the cache key fingerprints BOTH: size+mtime of the source
    documents table (a regenerated sf dir gets a fresh cache instead
    of stale hashes) and size+mtime of every module the encoders live
    in, queries.py included (editing an encode body invalidates every
    fixture instead of silently serving bytes from deleted code). The
    full sf path is hashed into the key too, so same-basename dirs
    (two buckets' sf0.01) never share a cache. Concurrent builders
    write pid-suffixed temps and atomically rename (losers discard).
    The read is repartitioned so the downstream Python decode stage
    keeps its cores even when the small cache file reads as one split
    (the char_shingles local-mode caveat, SCALE.md)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from unstract_spark.operators import (
        miniavi,
        minigif,
        minijpeg,
        multimodal,
        webcorpus,
    )

    base = os.path.join(tempfile.gettempdir(), "spark_graft_fixtures")
    parts = [os.path.abspath(sf_dir)]
    for p in [os.path.join(sf_dir, "documents.parquet"), __file__] + [
        m.__file__ for m in (multimodal, minijpeg, minigif, miniavi, webcorpus)
    ]:
        try:
            st = os.stat(p)
            parts.append(f"{st.st_size}_{st.st_mtime_ns}")
        except OSError:  # directory-style parquet or remote path
            parts.append("0")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
    key = f"{name}__{os.path.basename(os.path.normpath(sf_dir))}__{fp}"
    path = os.path.join(base, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(base, exist_ok=True)
        # A crashed/interrupted build leaves its .tmp<pid> sibling
        # behind forever (only the losing racer cleans its OWN tmp) —
        # sweep orphans whose builder pid is dead before building;
        # live-pid tmps belong to a concurrent racer and stay.
        for entry in os.listdir(base):
            stale, _, pid = entry.rpartition(".tmp")
            if stale and pid.isdigit() and int(pid) != os.getpid():
                try:
                    os.kill(int(pid), 0)
                except ProcessLookupError:
                    shutil.rmtree(
                        os.path.join(base, entry), ignore_errors=True
                    )
                except OSError:  # EPERM etc: pid alive, not ours
                    pass
        tmp = f"{path}.tmp{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # lost the build race — keep the winner's
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path).repartition(
        spark.sparkContext.defaultParallelism
    )


def _dsum(col, scale: int = 2):
    """Order-independent rounded sum of doubles.

    Double summation is order-sensitive in the last bits, and Spark's
    partial aggregation order differs from any other engine's — so a
    plain round(sum(x), 2) can flip at a rounding boundary. Summing in
    the exact decimal domain (cast each addend to DECIMAL(18,6)) makes
    the total independent of addition order; the final cast back to
    double is then identical everywhere.
    SQL twin: CAST(round(sum(CAST(x AS DECIMAL(18,6))), s) AS DOUBLE).
    """
    return F.round(F.sum(col.cast("decimal(18,6)")), scale).cast("double")


def _davg(col, scale: int = 4):
    """Order-independent rounded mean (decimal sum / count, in double).
    SQL twin: round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*), s)."""
    return F.round(
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), scale
    )


# Driver-gate rotation: the external correctness harness verifies the
# FIRST 50 registry entries in iteration order each round, so iteration
# order IS the verification schedule. It is derived MECHANICALLY (the
# r6 ADVICE: no hand-picked slates) from the driver's own recorded
# results:
#   1. queries whose implementation or oracle CHANGED this round
#      (_CHANGED_THIS_ROUND — the one per-round manual input, since the
#      git diff is not visible at import time),
#   2. then ascending count of green driver rows across every
#      CORRECTNESS_r*.json in the repo root — never-checked and
#      stale-red rows have count 0 and land at the front; long-green
#      veterans sink to the back (they stay covered by the full-registry
#      tools/check_correctness.py sweep each round),
#   3. ties broken by registration order (stable, deterministic).
# A new registration has no driver record, so it auto-rotates into the
# window with no list to maintain.

# Per-round manual input: queries whose semantics changed this round.
_CHANGED_THIS_ROUND = [
    # day gaps from zone-free epoch micros (the session zone used to
    # shift gaps that span a daylight-saving change); re-gate.
    "j15_purchase_intervals",
]


def _driver_green_record() -> tuple[dict[str, int], dict[str, int]]:
    """(last green round, green-row count) per query across every
    recorded CORRECTNESS_r*.json."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    counts: dict[str, int] = {}
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rec.items():
            if isinstance(row, dict) and all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            ):
                counts[name] = counts.get(name, 0) + 1
                last[name] = max(last.get(name, 0), rnd)
    return last, counts


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    # r13 (r12 verdict #5): rank by LAST green round, not green count —
    # a row green five times in r1-r5 is STALER than one green once in
    # r12, and count-ranking let 51 rows sit un-resampled since r5/r6.
    # Stalest-first gives every row a re-sample at least every
    # ceil(registry/50) rounds in steady state; never-green rows keep
    # last=0 and stay at the front. Count breaks ties (fewest greens
    # first), then registration order.
    last, counts = _driver_green_record()
    reg_pos = {n: i for i, n in enumerate(_REGISTRY)}
    changed = {n: i for i, n in enumerate(_CHANGED_THIS_ROUND)}

    def key(n: str):
        return (
            0 if n in changed else 1,
            changed.get(n, 0),
            last.get(n, 0),
            counts.get(n, 0),
            reg_pos[n],
        )

    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=key)}


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _ordered().items() if v[1] is not None}


# =====================================================================
# Aggregations (A1/A2/A4) — pricing summary, the flagship scan+agg
# =====================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
               AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
               AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
               AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter (pushed down) -> partial+final agg.

    The canonical usage-ledger aggregation shape (A1,
    reference: usage_v2/helper.py:55-103) at lineitem scale.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "a2_status_rollup",
    """
    SELECT o_orderstatus,
           count(*)                                                   AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                                                                      AS total_price,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
                                                                      AS n_urgent
    FROM orders GROUP BY o_orderstatus
    """,
)
def a2_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 batch-status rollup shape (callback/tasks.py:255-360): counts +
    conditional counts + sums per group."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias("n_urgent"),
    )


@register(
    "a3_distinct_params",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a3_distinct_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 distinct-param-set dedup (seen_params, legacy_executor.py:902-978)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "a5_cube_usage_report",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
    """,
)
def a5_cube_usage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-reporting cube (SURVEY §2.5: grouping sets free in Spark)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "pivot_priority_by_status",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with plan-time columns (T9 result pivot; §1.3 — runtime-valued
    .pivot() is avoided so the schema is static)."""
    o = _t(spark, sf_dir, "orders")
    cases = {
        "p_urgent": "1-URGENT",
        "p_high": "2-HIGH",
        "p_medium": "3-MEDIUM",
        "p_notspec": "4-NOT SPECIFIED",
        "p_low": "5-LOW",
    }
    return o.groupBy("o_orderstatus").agg(
        *[
            F.sum(F.when(F.col("o_orderpriority") == v, 1).otherwise(0)).alias(k)
            for k, v in cases.items()
        ]
    )


# =====================================================================
# Scans / sorts / limits (S2/S3, §2.8)
# =====================================================================


@register(
    "s3_ordered_scan_topk",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events ORDER BY ts ASC, event_id ASC LIMIT 100
    """,
)
def s3_ordered_scan_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 FIFO ordered scan + cap -> global top-k (TakeOrdered, no full
    sort; reference collects 40k then sorts, source.py:292-411)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
    )


@register(
    "s2_pattern_filter",
    """
    SELECT doc_id, source, lang FROM documents
    WHERE regexp_matches(source, '^src1[0-9]$') AND lang = 'en'
    """,
)
def s2_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 glob/pattern filter pushed at the scan (fnmatch -> rlike)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "source", "lang").filter(
        F.col("source").rlike("^src1[0-9]$") & (F.col("lang") == "en")
    )


@register(
    "f6_deterministic_sample",
    "SELECT doc_id, lang, source FROM documents WHERE doc_id % 20 = 0",
)
def f6_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 manual-review sampling, made deterministic (id-hash modulo
    instead of random.sample — reference plugins/utils.py:28-43)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", "source").filter(F.col("doc_id") % 20 == 0)


# =====================================================================
# Joins (J1/J2 anti, semi, J3 cross, J5 left, J6 broadcast)
# =====================================================================


@register(
    "j1_history_antijoin",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def j1_history_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F2 file-history dedup shape: left_anti (orders with no
    lineitems stands in for catalog-with-no-history; source.py:806-868)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.join(l, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "j2_semi_join",
    """
    SELECT p_partkey, p_brand FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """,
)
def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (inverse of the anti-join dedup; SURVEY §2.6)."""
    p = _t(spark, sf_dir, "part")
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return p.join(l, "p_partkey", "left_semi").select("p_partkey", "p_brand")


@register(
    "j3_cross_prompt_assembly",
    """
    SELECT r_name, o_orderpriority,
           'Extract fields for region ' || r_name || ' at priority ' || o_orderpriority
               AS prompt
    FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
    """,
)
def j3_cross_prompt_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 prompt-spec x document cross join + T8 prompt assembly
    (docs.crossJoin(broadcast(prompts)); answer_prompt.py:107-219)."""
    r = _t(spark, sf_dir, "region")
    pr = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(F.broadcast(pr)).select(
        "r_name",
        "o_orderpriority",
        F.concat(
            F.lit("Extract fields for region "),
            F.col("r_name"),
            F.lit(" at priority "),
            F.col("o_orderpriority"),
        ).alias("prompt"),
    )


@register(
    "j5_left_join_usage",
    """
    SELECT o.o_orderkey, o.o_orderstatus, r.revenue
    FROM orders o LEFT JOIN (
        SELECT l_orderkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_orderkey
    ) r ON o.o_orderkey = r.l_orderkey
    """,
)
def j5_left_join_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 result <- usage-metadata left join (destination.py:679-701):
    aggregate the fact side first, then join — the shuffle is on the
    pre-aggregated (smaller) side."""
    o = _t(spark, sf_dir, "orders")
    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    return o.join(rev, "o_orderkey", "left").select("o_orderkey", "o_orderstatus", "revenue")


@register(
    "j6_broadcast_lookup",
    """
    SELECT p.p_brand,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j6_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 lookup-enrichment broadcast hash join (lookup_enrichment.py):
    dimension explicitly broadcast — no shuffle of the fact table."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "j7_asof_join",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type, value,
               epoch_ns(ts) // 1000 AS u
        FROM events
    ),
    snaps AS (
        SELECT user_id, u, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, u
                                         ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type IN ('signup', 'view')
        ) WHERE rn = 1
    ),
    purch AS (SELECT event_id, user_id, u, value FROM e
              WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.u AS ts_us, p.value,
           s.event_id AS snap_event_id, s.value AS snap_value
    FROM purch p
    LEFT JOIN snaps s ON s.user_id = p.user_id AND s.u = (
        SELECT max(s2.u) FROM snaps s2
        WHERE s2.user_id = p.user_id AND s2.u <= p.u)
    """,
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward inclusive): each purchase event matched to
    the user's most recent signup/view snapshot at or before it. The
    Spark side is the union+window merge-as-of (one shuffle on the
    key, no per-event fan-out — joins.asof_join); the oracle is the
    classic correlated arg-max spelling. Timestamps compare as epoch
    MICROS on both engines (epoch_ns // 1000 == the nanosAsLong
    `ts div 1000` conversion), so nanosecond precision can't skew the
    inclusive boundary; snapshots pre-dedup per (user, ts) by max
    event_id so ties are deterministic."""
    from unstract_spark.operators.joins import asof_join

    e0 = _t(spark, sf_dir, "events")
    # ts arrives as TIMESTAMP (micros, via the nanosAsLong conversion)
    # or TIMESTAMP_NTZ (native read) depending on session state; both
    # convert to the same tz-free micros long the oracle computes
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    else:
        u = F.unix_micros(F.col("ts"))
    e = e0.select("event_id", "user_id", "event_type", "value", u.alias("u"))
    w = Window.partitionBy("user_id", "u").orderBy(F.col("event_id").desc())
    snaps = (
        e.filter(F.col("event_type").isin("signup", "view"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "u", "event_id", "value")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "u", "value"
    )
    out = asof_join(
        purch, snaps, key="user_id", left_ts="u", right_ts="u",
        payload=["event_id", "value"],
    )
    return out.select(
        "event_id", "user_id", F.col("u").alias("ts_us"), "value",
        F.col("event_id_matched").alias("snap_event_id"),
        F.col("value_matched").alias("snap_value"),
    )


@register(
    "j7_asof_join_chunked",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type, value,
               epoch_ns(ts) // 1000 AS u
        FROM events
    ),
    snaps AS (
        SELECT user_id, u, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, u
                                         ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type IN ('signup', 'view')
        ) WHERE rn = 1
    ),
    purch AS (SELECT event_id, user_id, u, value FROM e
              WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.u AS ts_us, p.value,
           s.event_id AS snap_event_id, s.value AS snap_value
    FROM purch p
    LEFT JOIN snaps s ON s.user_id = p.user_id AND s.u = (
        SELECT max(s2.u) FROM snaps s2
        WHERE s2.user_id = p.user_id AND s2.u <= p.u)
    """,
)
def j7_asof_join_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe as-of join: identical semantics (and oracle) to
    j7_asof_join, executed by the range-chunked plan — windows run per
    (user, one-hour ts bucket) seeded by a per-bucket boundary pass, so
    one hot user's history can never serialize into a single task
    (joins._asof_chunked). The hash gate proves the chunked plan equals
    the correlated arg-max oracle for any bucket width."""
    from unstract_spark.operators.joins import asof_join

    e0 = _t(spark, sf_dir, "events")
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    else:
        u = F.unix_micros(F.col("ts"))
    e = e0.select("event_id", "user_id", "event_type", "value", u.alias("u"))
    w = Window.partitionBy("user_id", "u").orderBy(F.col("event_id").desc())
    snaps = (
        e.filter(F.col("event_type").isin("signup", "view"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "u", "event_id", "value")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "u", "value"
    )
    out = asof_join(
        purch, snaps, key="user_id", left_ts="u", right_ts="u",
        payload=["event_id", "value"], ts_bucket=3_600e6,  # 1h of micros
    )
    return out.select(
        "event_id", "user_id", F.col("u").alias("ts_us"), "value",
        F.col("event_id_matched").alias("snap_event_id"),
        F.col("value_matched").alias("snap_value"),
    )


@register(
    "j7_asof_tolerance",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type, value,
               epoch_ns(ts) // 1000 AS u
        FROM events
    ),
    snaps AS (
        SELECT user_id, u, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, u
                                         ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type IN ('signup', 'view')
        ) WHERE rn = 1
    ),
    purch AS (SELECT event_id, user_id, u, value FROM e
              WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.u AS ts_us, p.value,
           s.event_id AS snap_event_id, s.value AS snap_value
    FROM purch p
    LEFT JOIN snaps s ON s.user_id = p.user_id AND s.u = (
        SELECT max(s2.u) FROM snaps s2
        WHERE s2.user_id = p.user_id AND s2.u <= p.u
          AND s2.u >= p.u - 3600000000)
    """,
)
def j7_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match-distance budget (pandas merge_asof
    `tolerance`): snapshots older than one hour are no match at all.
    Same union+window plan as j7 with a null-out mask on the carried
    timestamp; the oracle bounds the correlated arg-max the same way."""
    from unstract_spark.operators.joins import asof_join

    e0 = _t(spark, sf_dir, "events")
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    else:
        u = F.unix_micros(F.col("ts"))
    e = e0.select("event_id", "user_id", "event_type", "value", u.alias("u"))
    w = Window.partitionBy("user_id", "u").orderBy(F.col("event_id").desc())
    snaps = (
        e.filter(F.col("event_type").isin("signup", "view"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "u", "event_id", "value")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "u", "value"
    )
    out = asof_join(
        purch, snaps, key="user_id", left_ts="u", right_ts="u",
        payload=["event_id", "value"], tolerance=3_600e6,
    )
    return out.select(
        "event_id", "user_id", F.col("u").alias("ts_us"), "value",
        F.col("event_id_matched").alias("snap_event_id"),
        F.col("value_matched").alias("snap_value"),
    )


@register(
    "j9_interval_overlap",
    """
    WITH l AS (SELECT event_id AS l_id, value AS l_lo, value + 10 AS l_hi
               FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0),
    r AS (SELECT event_id AS r_id, value AS r_lo, value + 10 AS r_hi
          FROM events WHERE event_type = 'view' AND event_id % 70 = 0)
    SELECT l_id, r_id,
           least(l_hi, r_hi) - greatest(l_lo, r_lo) AS overlap
    FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
    """,
)
def j9_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval overlap join with overlap length — the
    time-weighted attribution primitive (joins.interval_overlap_join):
    both sides bin-bucketed, equi-join on bin, a pair kept only in the
    FIRST bin of its overlap (exactly-once, no distinct). The oracle
    is the plain theta spelling DuckDB affords at oracle scale; the
    Spark plan never builds the cartesian space."""
    from unstract_spark.operators.joins import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    left = e.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 50 == 0)
    ).select(
        F.col("event_id").alias("l_id"),
        F.col("value").alias("l_lo"),
        (F.col("value") + 10).alias("l_hi"),
    )
    right = e.filter(
        (F.col("event_type") == "view") & (F.col("event_id") % 70 == 0)
    ).select(
        F.col("event_id").alias("r_id"),
        F.col("value").alias("r_lo"),
        (F.col("value") + 10).alias("r_hi"),
    )
    return interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=10.0
    ).select("l_id", "r_id", "overlap")


@register(
    "j10_temporal_join",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'signup'
    ),
    v AS (
        SELECT user_id, ts AS version_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS version_to,
               event_id AS version_id, value AS profile_score
        FROM s WHERE rn = 1
    ),
    f AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts, f.value,
           v.version_from, v.version_to, v.version_id, v.profile_score
    FROM f LEFT JOIN v
      ON f.user_id = v.user_id AND f.ts >= v.version_from
     AND (v.version_to IS NULL OR f.ts < v.version_to)
    """,
)
def j10_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 point-in-time join (joins.scd2_join): every purchase
    event picks the profile version (signup event) active at its
    timestamp — valid_to derived as the user's next signup (half-open
    intervals partition time, so each fact matches exactly one version;
    purchases before the first signup keep NULLs). Versions are
    pre-deduped to one per (user, instant) so the lead() window is
    deterministic. One window over the SMALL versions side + one
    equi-join on user_id with the validity range as a join predicate —
    the dimension-churn-bounded plan, no window over facts."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").asc())
    versions = (
        e.filter(F.col("event_type") == "signup")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("vfrom"),
            F.col("event_id").alias("version_id"),
            F.col("value").alias("profile_score"),
        )
    )
    from unstract_spark.operators import joins

    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return joins.scd2_join(
        facts,
        versions,
        key_col="user_id",
        fact_ts="ts",
        valid_from="vfrom",
        version_cols=("version_id", "profile_score"),
    )


_BANDS = [(b, float(b * 40), float(b * 40 + 79)) for b in range(10)]


@register(
    "j8_range_join",
    f"""
    WITH bands(band_id, lo, hi) AS (VALUES
        {", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)}
    )
    SELECT e.event_id, b.band_id, e.value
    FROM events e JOIN bands b ON e.value BETWEEN b.lo AND b.hi
    """,
)
def j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events banded into overlapping value
    intervals. The Spark side is the bin-bucketed equi-join
    (joins.range_join — intervals explode to fixed-width bins, the
    probe row computes ONE bin, exact BETWEEN re-check after the
    equi-join); the oracle is the plain theta-join spelling DuckDB can
    afford at oracle scale."""
    from unstract_spark.operators.joins import range_join

    e = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(_BANDS, "band_id int, lo double, hi double")
    return range_join(e, bands, "value", "lo", "hi", bin_width=40.0).select(
        "event_id", "band_id", "value"
    )


# =====================================================================
# Set ops (§2.9) + error-union sink shape (D5)
# =====================================================================


@register(
    "set_except_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)  # EXCEPT (distinct) semantics


@register(
    "set_intersect_nations",
    "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier",
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "d5_error_union",
    """
    SELECT o_orderkey, 'COMPLETED' AS status, NULL AS error_message
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, 'ERROR' AS status, 'processing failed' AS error_message
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def d5_error_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 success/error row union (destination.py:296-309): failures are
    rows with a status column, never job failures."""
    o = _t(spark, sf_dir, "orders")
    ok = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        F.lit("COMPLETED").alias("status"),
        F.lit(None).cast("string").alias("error_message"),
    )
    err = o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey",
        F.lit("ERROR").alias("status"),
        F.lit("processing failed").alias("error_message"),
    )
    return ok.unionByName(err)


# =====================================================================
# Windows / top-k per group (§2.8, J4 ranking shape) + sessionization
# =====================================================================


@register(
    "w1_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k — the retrieval ranking shape (J4: row_number over
    partition, sdk1/index.py:65-131) on relational data."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


@register(
    "w2_running_sum",
    """
    SELECT event_id, user_id, ts,
           CAST(round(sum(CAST(value AS DECIMAL(18,6)))
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS DOUBLE) AS running_value
    FROM events WHERE user_id < 50
    """,
)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (usage accumulation over time)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 4)
        .cast("double")
        .alias("running_value"),
    )


@register(
    "w3_sessionize",
    """
    WITH gaps AS (
        -- exact microsecond arithmetic: date_diff('second') counts
        -- boundary crossings, which disagrees with Spark's timestampdiff
        SELECT user_id, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 0
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                    ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def w3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold — the batch twin of the
    streaming session-window operator (§2.11 north-star)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id", "event_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    ).select(
        "user_id",
        "event_id",
        F.when(F.col("prev_ts").isNull(), 0)
        # direct interval comparison: exact-microsecond, works for both
        # TIMESTAMP and TIMESTAMP_NTZ, and independent of the session
        # timezone (an epoch-diff via cast would shift by the DST delta
        # for gaps straddling a transition under a non-fixed-offset tz)
        .when(
            F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTES"),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return gaps.groupBy("user_id").agg(
        (F.sum("new_session") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "w4_lag_lead",
    """
    SELECT event_id, user_id, event_type,
           lag(event_type)  OVER w AS prev_type,
           lead(event_type) OVER w AS next_type
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w4_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# =====================================================================
# Streaming-analog event aggregations (§2.11) + JSON props (T17 shape)
# =====================================================================


@register(
    "events_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window as batch groupBy(date_trunc) — the
    exact shape `groupBy(window('ts','1 hour'))` takes in the streaming
    path (streaming/incremental.py)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
        _davg(F.col("value")).alias("avg_value"),
    )


@register(
    "events_hotspot_windows",
    """
    WITH x AS (
        SELECT event_type, value,
               epoch_us(ts) // 900000000 * 900000000
                   - CAST(u.k AS BIGINT) * 900000000 AS start_us
        FROM events, unnest([0, 1, 2, 3]) AS u(k)
    ),
    c AS (
        SELECT event_type, start_us, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM x GROUP BY 1, 2
    )
    SELECT event_type, make_timestamp(start_us) AS window_start,
           make_timestamp(start_us + 3600000000) AS window_end,
           n_events, total_value, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY n_events DESC, start_us ASC) AS INT) AS rank
        FROM c
    ) WHERE rank <= 5
    """,
)
def events_hotspot_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window hotspot detection: per event type, the 5 busiest
    1-hour windows sliding every 15 minutes (Spark's native sliding
    `window()` — each event lands in exactly 4 windows). The oracle
    derives the same 4 window starts per event from epoch microseconds
    (floor to the 15-min grid, back-shift k slides), so the window
    ALIGNMENT (epoch-anchored, half-open) is gated, not just counts.
    Grouped top-k: per-type window rank, no global sort; decimal-domain
    value sums. The streaming twin is the same expression with a
    watermark (windowed_event_aggregation)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
    )
    flat = counts.select(
        "event_type",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("window_start").asc()
    )
    return (
        flat.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@register(
    "events_retention_cohorts",
    """
    WITH s AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS cohort_day
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    a AS (SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
          FROM events),
    r AS (
        SELECT s.cohort_day,
               (epoch_us(a.day) - epoch_us(s.cohort_day)) // 86400000000
                   AS offset_days
        FROM a JOIN s USING (user_id) WHERE a.day >= s.cohort_day
    )
    SELECT cohort_day, CAST(offset_days AS BIGINT) AS offset_days,
           count(*) AS n_active_users
    FROM r GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users cohorted by first-signup day,
    activity bucketed by whole days since cohort (epoch-microsecond
    integer division — date_diff counts boundary crossings differently
    across engines, so day offsets must come from epoch arithmetic on
    already-truncated days). (user, day) is made distinct first, so
    count(*) per (cohort, offset) IS distinct active users — no
    count_distinct expand needed. Pre-signup activity is excluded."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("day", "ts")).alias("cohort_day"))
    )
    a = e.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    r = (
        a.join(s, "user_id")
        .filter(F.col("day") >= F.col("cohort_day"))
        .select(
            "cohort_day",
            F.expr(
                "(unix_micros(day) - unix_micros(cohort_day)) DIV 86400000000"
            ).alias("offset_days"),
        )
    )
    return r.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "events_funnel",
    """
    WITH su AS (SELECT user_id, min(ts) AS signup_ts
                FROM events WHERE event_type = 'signup' GROUP BY 1),
    v AS (SELECT e.user_id, min(e.ts) AS view_ts
          FROM events e JOIN su USING (user_id)
          WHERE e.event_type = 'view' AND e.ts >= su.signup_ts GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= v.view_ts GROUP BY 1)
    SELECT '1_signup' AS stage, count(*) AS n_users FROM su
    UNION ALL SELECT '2_view', count(*) FROM v
    UNION ALL SELECT '3_purchase', count(*) FROM p
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup -> first view AFTER signup -> first
    purchase AFTER that view (ORDER is the semantics — a purchase
    before the qualifying view does not convert; each stage anchors on
    the previous stage's min timestamp, the standard funnel
    definition). Three stage-chained aggregate+join steps, each a
    shuffle on user_id only."""
    e = _t(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    one = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_users")
    ).select(F.lit(name).alias("stage"), "n_users")
    return (
        one(su, "1_signup")
        .unionByName(one(v, "2_view"))
        .unionByName(one(p, "3_purchase"))
    )


@register(
    "events_rollup_cascade",
    """
    SELECT 'minute' AS level, date_trunc('minute', ts) AS bucket_start,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'hour', date_trunc('hour', ts), count(*),
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', date_trunc('day', ts), count(*),
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
    FROM events GROUP BY 2
    """,
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute/hour/day rollups where each coarser level aggregates
    FROM the level below (timeseries.rollup_cascade) — raw events
    scanned exactly once, vs the oracle's three direct scans. Decimal
    sums are exact and associative, so the cascade must hash-match the
    direct computation — that equality IS the gate."""
    from unstract_spark.operators.timeseries import rollup_cascade

    return rollup_cascade(_t(spark, sf_dir, "events"))


@register(
    "events_anomalies",
    """
    WITH stats AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                   AS mean,
               CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE)
                   / count(*) AS msq
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mean)
                 / sqrt(greatest(s.msq - s.mean * s.mean, 1e-12)), 6) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs(e.value - s.mean)
          > 3 * sqrt(greatest(s.msq - s.mean * s.mean, 1e-12))
    """,
)
def events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type outlier detection: events more than 3 population-sigmas
    from their type's mean, with the z-score. Moments come from EXACT
    decimal sums (the mm-stats pattern) so mean/std — and therefore the
    boundary comparisons — are bit-identical cross-engine; the per-type
    stats table is broadcast back against the scan (grouped
    standardization without a second corpus shuffle)."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean"),
        (
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("msq"),
    )
    std = F.sqrt(F.greatest(F.col("msq") - F.col("mean") * F.col("mean"), F.lit(1e-12)))
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mean")) > 3 * std)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - F.col("mean")) / std, 6).alias("z"),
        )
    )


@register(
    "events_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + agg (T17/JSON handling — from_json/
    get_json_object instead of a repair UDF for well-formed input)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# =====================================================================
# Scalar-function surface (§2.10)
# =====================================================================


@register(
    "scalar_functions",
    """
    SELECT doc_id,
           sha256(text)                       AS sha_text,
           to_base64(substr(text, 1, 12)::BLOB) AS b64_prefix,
           upper(source)                      AS source_upper,
           length(text)                       AS text_len,
           concat_ws('|', lang, source)       AS lang_source
    FROM documents
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha2/base64/concat_ws/upper/length — the reference's scalar surface
    (source.py:938-954 sha256, destination.py:1090-1092 base64, ...)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("sha_text"),
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("b64_prefix"),
        F.upper("source").alias("source_upper"),
        F.length("text").alias("text_len"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
    )


# =====================================================================
# Document pipeline: mock-LLM extraction (J3+T7+T9+F5+§1.2 coercion)
# =====================================================================

_EXTRACT_SQL = f"""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
    raw AS (
        SELECT doc_id,
               {mock_answer_raw_sql("'invoice_no'", "fingerprint")} AS invoice_raw,
               {mock_answer_raw_sql("'total'", "fingerprint")}      AS total_raw
        FROM fp
    )
    SELECT doc_id,
           CASE WHEN lower(trim(invoice_raw)) = 'na' THEN NULL ELSE invoice_raw END
               AS invoice_no,
           CASE WHEN lower(trim(total_raw)) = 'na' THEN NULL
                WHEN regexp_extract(total_raw, '(-?\\d+(?:\\.\\d+)?)', 1) = '' THEN NULL
                ELSE CAST(regexp_extract(total_raw, '(-?\\d+(?:\\.\\d+)?)', 1) AS DOUBLE)
           END AS total
    FROM raw
"""


def _table_record_sql() -> str:
    from unstract_spark.mock import mock_record_answer_sql, mock_table_answer_sql

    return f"""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
    raw AS (
        SELECT doc_id,
               {mock_table_answer_sql("fingerprint")} AS table_raw,
               {mock_record_answer_sql("fingerprint")} AS record_raw
        FROM fp
    ),
    coerced AS (
        SELECT doc_id,
               CASE WHEN lower(trim(table_raw)) = 'na' THEN NULL ELSE table_raw END
                   AS table_json,
               CASE WHEN lower(trim(record_raw)) = 'na' THEN NULL ELSE record_raw END
                   AS record_json
        FROM raw
    )
    SELECT doc_id, table_json,
           json_array_length(table_json) AS table_rows,
           record_json,
           CASE WHEN table_json IS NULL OR record_json IS NULL
                THEN 'ERROR' ELSE 'SUCCESS' END AS status
    FROM coerced
    """


@register("t_table_record_extract", _table_record_sql())
def t_table_record_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE/RECORD enforce types (§1.2): whole-doc delegation to the
    table executor (mock), structural JSON validation, per-row failure
    isolation. Output columns are scalar JSON strings — gate-safe."""
    from unstract_spark.operators.prompts import extract_table_mock

    return extract_table_mock(_t(spark, sf_dir, "documents"))


@register("t9_extract_structured", _EXTRACT_SQL)
def t9_extract_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 per-field extraction, end-to-end with the deterministic mock
    LLM: fingerprint -> answer -> NA sanitize (F5) -> type coercion
    (§1.2) -> one column per prompt_key."""
    from unstract_spark.operators.prompts import extract_structured_mock

    specs = [
        {"prompt_key": "invoice_no", "enforce_type": "text"},
        {"prompt_key": "total", "enforce_type": "number"},
    ]
    return extract_structured_mock(_t(spark, sf_dir, "documents"), specs)


@register(
    "t9_extract_long",
    f"""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
    specs AS (SELECT unnest(['invoice_no', 'total', 'vendor']) AS prompt_key)
    SELECT doc_id, prompt_key,
           {mock_answer_raw_sql("prompt_key", "fingerprint")} AS answer_raw,
           CASE WHEN lower(trim({mock_answer_raw_sql("prompt_key", "fingerprint")})) = 'na'
                THEN NULL ELSE {mock_answer_raw_sql("prompt_key", "fingerprint")} END
               AS answer_text
    FROM fp CROSS JOIN specs
    """,
)
def t9_extract_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 cross join in long format: (doc x prompt) result rows."""
    from unstract_spark.operators.prompts import extract_long_format_mock

    d = _t(spark, sf_dir, "documents")
    specs = d.sparkSession.createDataFrame(
        [(k, "text") for k in ["invoice_no", "total", "vendor"]],
        "prompt_key string, enforce_type string",
    )
    return extract_long_format_mock(d, specs)


# =====================================================================
# T3 chunking
# =====================================================================


@register(
    "t3_chunking",
    """
    WITH d AS (SELECT doc_id, text, length(text) AS l FROM documents),
    n AS (SELECT doc_id, text,
                 greatest(1, CAST(ceil((l - 50) / 150.0) AS INT)) AS n_chunks
          FROM d)
    SELECT doc_id, CAST(i AS INT) AS chunk_no,
           substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
    FROM n, unnest(range(0, n_chunks)) AS u(i)
    """,
)
def t3_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 fixed-size chunking (chunk 200, overlap 50) — sequence +
    posexplode + substring, all codegen."""
    d = _t(spark, sf_dir, "documents")
    return chunking.chunk_fixed(d, chunk_size=200, chunk_overlap=50)


# =====================================================================
# Text analysis (training-data ops)
# =====================================================================


def _marker_sql(col: str, words: list[str]) -> str:
    rx = "\\b(" + "|".join(words) + ")\\b"
    return f"len(regexp_extract_all(lower({col}), '{rx}'))"


@register(
    "ta_lang_id",
    f"""
    WITH hits AS (
        SELECT doc_id,
               {_marker_sql("text", text_analysis.LANG_MARKERS["de"])} AS hits_de,
               {_marker_sql("text", text_analysis.LANG_MARKERS["en"])} AS hits_en,
               {_marker_sql("text", text_analysis.LANG_MARKERS["es"])} AS hits_es,
               {_marker_sql("text", text_analysis.LANG_MARKERS["fr"])} AS hits_fr
        FROM documents
    )
    SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM hits
    """,
)
def ta_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword argmax) — pure codegen, no shuffle."""
    return text_analysis.lang_id(_t(spark, sf_dir, "documents"))


@register(
    "ta_token_counts",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe
    FROM documents
    """,
)
def ta_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (token budgeting surface)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_analysis.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        text_analysis.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
    )


@register(
    "ta_quality_score",
    f"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit,
               {_marker_sql("text", text_analysis.LANG_MARKERS["en"])} AS n_stop
        FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens,
           round(n_chars_m / greatest(n_tokens, 1), 4)            AS mean_word_len,
           round(n_punct / greatest(n_chars_m, 1), 4)             AS punct_ratio,
           round(n_digit / greatest(n_chars_m, 1), 4)             AS digit_ratio,
           round(n_stop / greatest(n_tokens, 1), 4)               AS stop_ratio,
           (CASE WHEN n_chars_m BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN n_chars_m / greatest(n_tokens, 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
            + CASE WHEN n_punct / greatest(n_chars_m, 1) <= 0.2 THEN 1.0 ELSE 0.0 END
            + CASE WHEN n_digit / greatest(n_chars_m, 1) <= 0.3 THEN 1.0 ELSE 0.0 END) / 4.0
               AS quality_score
    FROM feats
    """,
)
def ta_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus quality features + composite score."""
    return text_analysis.quality_features(_t(spark, sf_dir, "documents"))


@register(
    "ta_fingerprints",
    """
    WITH norm AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')) AS n
        FROM documents
    )
    SELECT doc_id, sha256(text) AS sha_exact, md5(n) AS md5_norm,
           md5(substr(n, 1, 64)) AS prefix_hash
    FROM norm
    """,
)
def ta_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact/normalized/prefix fingerprints for dedup keying."""
    return text_analysis.fingerprints(_t(spark, sf_dir, "documents"))


_GOPHER_STOP_SQL = " + ".join(
    f"CASE WHEN regexp_matches(text, '\\b{w}\\b') THEN 1 ELSE 0 END"
    for w in text_analysis.GOPHER_STOPWORDS
)


@register(
    "ta_gopher_quality",
    rf"""
    WITH f AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
               length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars,
               len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
               string_split(text, chr(10)) AS ls,
               regexp_split_to_array(trim(text), '\s+') AS ws,
               CAST({_GOPHER_STOP_SQL} AS BIGINT) AS n_stop
        FROM documents
    ),
    g AS (
        SELECT doc_id, n_words, n_stop,
               n_word_chars / greatest(n_words, 1) AS mean_wlen,
               n_symbols / greatest(n_words, 1) AS sym_ratio,
               len(list_filter(ls, x -> regexp_matches(x, '^\s*([-*•])')))
                   / greatest(len(ls), 1) AS bullet_ratio,
               len(list_filter(ls, x -> regexp_matches(x, '\.\.\.\s*$')))
                   / greatest(len(ls), 1) AS ellipsis_ratio,
               len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                   / greatest(n_words, 1) AS alpha_ratio
        FROM f
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(mean_wlen, 6) AS mean_word_len,
           round(sym_ratio, 6) AS symbol_ratio,
           round(bullet_ratio, 6) AS bullet_ratio,
           round(ellipsis_ratio, 6) AS ellipsis_ratio,
           round(alpha_ratio, 6) AS alpha_word_ratio,
           n_stop AS n_stopwords,
           CASE WHEN n_words BETWEEN 10 AND 100000
                 AND mean_wlen BETWEEN 3.0 AND 10.0
                 AND sym_ratio <= 0.1
                 AND bullet_ratio <= 0.9
                 AND ellipsis_ratio <= 0.3
                 AND alpha_ratio >= 0.8
                 AND n_stop >= 2
                THEN 1 ELSE 0 END AS gopher_pass
    FROM g
    """,
)
def ta_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher quality rules (Rae et al. 2021) — raw features
    plus verdict, min_words relaxed to 10 for this corpus's short
    synthetic docs. Pure codegen projection; scan-speed at 100 TB."""
    return text_analysis.gopher_quality(
        _t(spark, sf_dir, "documents"), min_words=10
    )


@register(
    "ta_repetition",
    r"""
    WITH base AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS ws,
               string_split(text, chr(10)) AS ls,
               length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars
        FROM documents
    ),
    words AS (
        SELECT doc_id, n_word_chars, w
        FROM base, unnest(ws) AS t(w) WHERE w <> ''
    ),
    wcounts AS (
        SELECT doc_id, n_word_chars, w, count(*) AS c
        FROM words GROUP BY ALL
    ),
    wagg AS (
        SELECT doc_id, n_word_chars,
               CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct
        FROM wcounts GROUP BY 1, 2
    ),
    wtop AS (
        SELECT doc_id, cov AS w_cov FROM (
            SELECT doc_id, length(w) * c AS cov,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY c DESC, length(w) * c DESC, w DESC) AS rn
            FROM wcounts
        ) WHERE rn = 1
    ),
    bigrams AS (
        SELECT doc_id,
               length(array_to_string(ws, ' ')) AS n_chars,
               ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS g
        FROM base, unnest(range(1, len(ws))) AS u(i)
        WHERE len(ws) >= 2
    ),
    bcounts AS (
        SELECT doc_id, n_chars, g, count(*) AS c FROM bigrams GROUP BY ALL
    ),
    btop AS (
        SELECT doc_id, n_chars, cov AS b_cov FROM (
            SELECT doc_id, n_chars, length(g) * c AS cov,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY c DESC, length(g) * c DESC, g DESC) AS rn
            FROM bcounts
        ) WHERE rn = 1
    ),
    lstats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
               count(*) AS n_distinct_lines
        FROM (SELECT doc_id, l, count(*) AS c
              FROM base, unnest(ls) AS t(l) WHERE l <> '' GROUP BY ALL)
        GROUP BY doc_id
    )
    SELECT w.doc_id, w.n_words,
           round(wtop.w_cov / greatest(w.n_word_chars, 1), 6) AS top_word_char_frac,
           round(coalesce(btop.b_cov, 0)
                 / greatest(coalesce(btop.n_chars, 0), 1), 6) AS top_bigram_char_frac,
           round((w.n_words - w.n_distinct) / greatest(w.n_words, 1), 6) AS dup_word_frac,
           round(coalesce((lstats.n_lines - lstats.n_distinct_lines)
                 / greatest(lstats.n_lines, 1), 0.0), 6) AS dup_line_frac
    FROM wagg w
    JOIN wtop USING (doc_id)
    LEFT JOIN btop USING (doc_id)
    LEFT JOIN lstats USING (doc_id)
    """,
)
def ta_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: top word / top bigram character
    coverage + duplicate word/line occurrence fractions. One shuffle
    per gram granularity; deterministic (count, coverage, gram)
    arg-max tie-breaks reproduced by the oracle's window."""
    return text_analysis.repetition_features(_t(spark, sf_dir, "documents"))


_PII_AUG_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || ' tel +1 555 010 0' "
    "|| CAST(doc_id % 10 AS VARCHAR) || '.'"
)


@register(
    "ta_pii_redact",
    rf"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
    ),
    r1 AS (
        SELECT doc_id, text,
               regexp_replace(text, '{text_analysis.PII_EMAIL}', '[EMAIL]', 'g') AS t1
        FROM aug
    ),
    r2 AS (
        SELECT doc_id, text, t1,
               regexp_replace(t1, '{text_analysis.PII_IPV4}', '[IP]', 'g') AS t2
        FROM r1
    ),
    r3 AS (
        SELECT doc_id, text, t1, t2,
               regexp_replace(t2, '{text_analysis.PII_PHONE}', '[PHONE]', 'g') AS t3
        FROM r2
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text_analysis.PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{text_analysis.PII_IPV4}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '{text_analysis.PII_PHONE}')) AS BIGINT) AS n_phones,
           t3 AS redacted, md5(t3) AS redacted_md5
    FROM r3
    """,
)
def ta_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate with synthesized PII: every doc gets a
    deterministic email + IPv4 + phone appended (same construction in
    the oracle), so the replacement chain actually fires on every row
    and regex-dialect drift between engines fails the hash, not just
    the counts. Fixed order email -> ip -> phone both sides."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel +1 555 010 0"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("."),
        ).alias("text"),
    )
    return text_analysis.pii_redact(d)


@register(
    "dd_contamination",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
        FROM w, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3
    )
    SELECT t.doc_id AS train_id,
           CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM (SELECT * FROM grams WHERE doc_id % 97 <> 0) t
    JOIN (SELECT doc_id, gram FROM grams WHERE doc_id % 97 = 0) b USING (gram)
    GROUP BY t.doc_id
    """,
)
def dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (GPT-3 App. C methodology): word
    n-gram overlap between the training split (doc_id % 97 != 0) and
    the held-out split (% 97 == 0), n=3 for this short-doc corpus
    (production default 8). Gram-keyed equi-join with the tiny bench
    side broadcast — never all-pairs."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_contamination(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        n=3,
    ).select(
        F.col("train_id"), F.col("n_shared_grams"), F.col("n_bench_docs")
    )


@register(
    "ta_length_trim",
    """
    WITH bounds AS (
        SELECT quantile_cont(n_chars, 0.05) AS lo,
               quantile_cont(n_chars, 0.95) AS hi
        FROM documents
    )
    SELECT d.doc_id, d.n_chars,
           round(b.lo, 6) AS p05, round(b.hi, 6) AS p95
    FROM documents d CROSS JOIN bounds b
    WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    """,
)
def ta_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-trimmed corpus filter (drop the length tails — the
    standard outlier scrub before training): keep docs inside the
    exact interpolated [p5, p95] of n_chars. The scalar-subquery
    shape: one tiny percentile aggregate broadcast against the scan
    (never a sort of the corpus — Spark's `percentile` is a
    fixed-size aggregate buffer). Spark `percentile()` and DuckDB
    `quantile_cont` share the rank = p*(n-1) linear-interpolation
    definition over identical integer inputs, so the bounds — and the
    boundary comparisons — are bit-identical."""
    d = _t(spark, sf_dir, "documents")
    bounds = d.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        d.select("doc_id", "n_chars")
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select(
            "doc_id",
            "n_chars",
            F.round("lo", 6).alias("p05"),
            F.round("hi", 6).alias("p95"),
        )
    )


@register(
    "ta_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(
               lower(text || chr(7) || '  MIXED' || chr(9) || chr(8203)
                     || 'Case' || chr(133) || chr(13)),
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g'),
               '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
               '', 'g'),
               '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def ta_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization (text_analysis.normalize_text):
    lowercase, control-char and zero-width strip, whitespace squash,
    trim — one codegen projection. Control/zero-width characters are
    SYNTHESIZED into every row on both engines (the PII-gate trick),
    so the strip rules demonstrably fire under the hash rather than
    no-op on the ASCII corpus."""
    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit("\x07  MIXED\t\u200bCase\x85\r"),
    )
    return d.select(
        "doc_id", text_analysis.normalize_text(dirty).alias("norm_text")
    )


@register(
    "ta_trending_terms",
    r"""
    WITH w AS (
        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    counts AS (
        SELECT source, word, count(*) AS n
        FROM w WHERE word <> '' AND length(word) >= 4
        GROUP BY 1, 2
    )
    SELECT source, word, n, rank FROM (
        SELECT source, word, n,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n DESC, word ASC) AS INT) AS rank
        FROM counts
    ) WHERE rank <= 3
    """,
)
def ta_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trending terms: top-3 words (len>=4) by count within
    each source — the grouped-top-k analytic (per-group window rank,
    word tie-break; no global sort, each group ranks only its own
    vocabulary slice)."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
        )
        .filter((F.col("word") != "") & (F.length("word") >= 4))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "word", "n", "rank")
    )


@register(
    "dd_suffix_arrays",
    """
    SELECT doc_id, CAST(u.i AS INT) AS pos,
           CAST(row_number() OVER (
               PARTITION BY doc_id
               ORDER BY substr(substr(text, 1, 128), CAST(u.i AS INT))
           ) AS INT) AS sa_rank
    FROM documents, unnest(range(1, least(length(text), 128) + 1)) AS u(i)
    WHERE length(text) > 0
    """,
)
def dd_suffix_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed suffix-array construction (dedup.suffix_array):
    prefix doubling over the first 128 chars of each document — 7
    rounds of join + per-doc dense_rank. The oracle sorts the actual
    suffix STRINGS per doc; rank equality proves the doubling rounds,
    the end-of-string sentinel, and the pair ordering are all exactly
    lexicographic."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.suffix_array(d, max_len=128)
    return out.select("doc_id", F.col("pos").cast("int"), F.col("sa_rank").cast("int"))


@register(
    "dd_duplicated_spans",
    """
    WITH t AS (
        SELECT doc_id, substr(text, 1, 128) AS t
        FROM documents WHERE length(text) > 0
    ),
    suf AS (
        SELECT doc_id, t, CAST(u.i AS INT) AS pos
        FROM t, unnest(range(1, length(t) + 1)) AS u(i)
    ),
    ord AS (
        SELECT doc_id, t, pos,
               lead(pos) OVER (PARTITION BY doc_id
                               ORDER BY substr(t, pos)) AS next_pos
        FROM suf
    )
    SELECT doc_id,
           count(*) AS n_adj_pairs,
           CAST(sum(CASE WHEN length(t) - pos + 1 >= 8
                          AND length(t) - next_pos + 1 >= 8
                          AND substr(t, pos, 8) = substr(t, next_pos, 8)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup8,
           CAST(sum(CASE WHEN length(t) - pos + 1 >= 16
                          AND length(t) - next_pos + 1 >= 16
                          AND substr(t, pos, 16) = substr(t, next_pos, 16)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup16,
           CAST(sum(CASE WHEN length(t) - pos + 1 >= 32
                          AND length(t) - next_pos + 1 >= 32
                          AND substr(t, pos, 32) = substr(t, next_pos, 32)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup32
    FROM ord WHERE next_pos IS NOT NULL
    GROUP BY doc_id
    """,
)
def dd_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection on the suffix array — the read-out
    that makes dd_suffix_arrays an exact substring-dedup tool (Lee et
    al. 2022 find duplicated spans as rank-ADJACENT suffixes sharing a
    long prefix; adjacency in suffix order is where the maximal common
    prefixes live). Per doc: adjacent-rank pairs whose suffixes share
    an 8/16/32-char prefix, counted with end-of-text guards so a short
    equal tail never fakes a long span. The Spark side pairs rank r
    with r+1 from the PREFIX-DOUBLED ranks; the oracle pairs them with
    lead() over actual sorted suffix strings — rank-order equality is
    re-gated as a by-product."""
    d = _t(spark, sf_dir, "documents")
    sa = dedup.suffix_array(d, max_len=128)
    t = d.filter(F.length("text") > 0).select(
        "doc_id", F.substring("text", 1, 128).alias("t")
    )
    nxt = sa.select(
        "doc_id",
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("pos").alias("next_pos"),
    )
    pairs = (
        sa.join(nxt, ["doc_id", "sa_rank"])
        .join(t, "doc_id")
        .select("doc_id", "t", "pos", "next_pos")
    )

    def dup(k: int):
        tl = F.length("t")
        return F.sum(
            F.when(
                (tl - F.col("pos") + 1 >= k)
                & (tl - F.col("next_pos") + 1 >= k)
                & (
                    F.expr(f"substr(t, pos, {k})")
                    == F.expr(f"substr(t, next_pos, {k})")
                ),
                1,
            ).otherwise(0)
        ).cast("long")

    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_adj_pairs"),
        dup(8).alias("n_dup8"),
        dup(16).alias("n_dup16"),
        dup(32).alias("n_dup32"),
    )


@register(
    "ta_simpson_diversity",
    r"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ),
    c AS (
        SELECT doc_id, w, count(*) AS c FROM w WHERE w <> '' GROUP BY 1, 2
    ),
    per AS (
        SELECT doc_id, sum(c) AS n_tokens, count(*) AS vocab,
               sum(c * (c - 1)) AS rep_pairs
        FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(p.vocab, 0) AS vocab,
           CASE WHEN coalesce(p.n_tokens, 0) >= 2
                THEN round(p.rep_pairs / (p.n_tokens * (p.n_tokens - 1)), 6)
                ELSE 0.0 END AS simpson_index
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def ta_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Simpson diversity index (Hunter–Gaston form) over
    whitespace tokens — integer-domain repetitiveness scoring
    (text_analysis.simpson_diversity)."""
    return text_analysis.simpson_diversity(_t(spark, sf_dir, "documents"))


@register(
    "ta_zipf_fit",
    r"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ),
    counts AS (SELECT w, count(*) AS n FROM w WHERE w <> '' GROUP BY w),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY n DESC, w ASC) AS INT) AS rank,
               n
        FROM counts ORDER BY n DESC, w ASC LIMIT 200
    ),
    vals AS (
        SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
               CAST(round(ln(CAST(n AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
        FROM ranked
    ),
    s AS (
        SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM vals
    )
    SELECT m AS n_terms,
           round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE), 6)
               AS zipf_intercept
    FROM s
    """,
)
def ta_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf-law fit: LS slope of ln(freq) on ln(rank) over the
    top-200 terms, exact-decimal regression sums
    (text_analysis.zipf_fit)."""
    return text_analysis.zipf_fit(_t(spark, sf_dir, "documents"))


_STOP_RATIO_SQL = f"""
               CAST(round(
                   {_marker_sql("text", text_analysis.LANG_MARKERS["en"])}
                   / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                                   ELSE len(regexp_split_to_array(trim(text),
                                                                  '\\s+'))
                              END, 1), 9) AS DECIMAL(12,9))
"""


@register(
    "ta_stopword_profile",
    f"""
    WITH f AS (
        SELECT lang, {_STOP_RATIO_SQL} AS r
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           round(CAST(sum(r) AS DOUBLE) / count(*), 6) AS mean_stop_ratio,
           round(CAST(sum(CASE WHEN r > 0.05 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_above_threshold
    FROM f GROUP BY lang
    """,
)
def ta_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stopword-density profile (mean ratio + fraction
    above threshold), decimal-domain means
    (text_analysis.stopword_profile)."""
    return text_analysis.stopword_profile(_t(spark, sf_dir, "documents"))


@register(
    "dd_intra_overlap",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
        FROM w, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3
    ),
    nd AS (SELECT gram, count(*) AS m FROM grams GROUP BY gram),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_grams
        FROM grams JOIN nd USING (gram)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           coalesce(p.n_shared_grams, 0) AS n_shared_grams,
           CASE WHEN coalesce(p.n_grams, 0) > 0
                THEN p.n_shared_grams / p.n_grams ELSE 0.0 END
               AS share_fraction
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def dd_intra_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span statistics within the corpus (the windowed-
    fingerprint approximation of suffix-based substring dedup, Lee et
    al. 2021): per doc, how many of its distinct word n-grams appear
    anywhere else — share_fraction is the boilerplate scrub signal.
    n=3 for this short-doc corpus (production default 8). Spark side:
    dedup.intra_corpus_overlap — gram-multiplicity groupBy (map-side
    combine absorbs hot boilerplate grams) + gram equi-join + per-doc
    rollup."""
    d = _t(spark, sf_dir, "documents")
    return dedup.intra_corpus_overlap(d, n=3)


@register(
    "bpe_pair_counts",
    r"""
    WITH words AS (
        SELECT word, count(*) AS freq
        FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        WHERE word <> '' GROUP BY word
    )
    SELECT substr(word, CAST(i AS INT), 1) AS a,
           CASE WHEN i < length(word) THEN substr(word, CAST(i + 1 AS INT), 1)
                ELSE '</w>' END AS b,
           CAST(sum(freq) AS BIGINT) AS freq
    FROM words, unnest(range(1, length(word) + 1)) AS u(i)
    GROUP BY 1, 2
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training statistic, the distributed part: adjacent-symbol
    pair frequencies over the distinct-word table (symbols = chars +
    trailing </w>). This is the aggregation each merge iteration
    maximizes over — gated here end to end (whitespace split + word
    groupBy + pair explode), all JVM-side."""
    from unstract_spark.operators import bpe

    w = bpe.word_frequencies(_t(spark, sf_dir, "documents"))
    return bpe.pair_frequencies(w)


@register(
    "bpe_byte_pair_counts",
    r"""
    WITH words AS (
        SELECT word, count(*) AS freq
        FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    h AS (SELECT hex(encode(word)) AS hx, length(hex(encode(word))) / 2 AS n,
                 freq
          FROM words)
    SELECT substr(hx, CAST(i * 2 - 1 AS INT), 2) AS a,
           CASE WHEN i < n THEN substr(hx, CAST(i * 2 + 1 AS INT), 2)
                ELSE '</w>' END AS b,
           CAST(sum(freq) AS BIGINT) AS freq
    FROM h, unnest(range(1, CAST(n AS BIGINT) + 1)) AS u(i)
    GROUP BY 1, 2
    """,
)
def bpe_byte_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE training statistic: adjacent UTF-8 byte-pair
    frequencies over the distinct-word table, symbols as 2-hex-char
    relabels (bpe.pair_frequencies_bytes — all JVM-side: encode + hex
    + substr). This is the aggregation each byte-level merge iteration
    maximizes; together with bpe_byte_token_counts it gates the byte
    trainer end to end."""
    from unstract_spark.operators import bpe

    w = bpe.word_frequencies(_t(spark, sf_dir, "documents"))
    return bpe.pair_frequencies_bytes(w)


def _bpe_rewrite_sql(col: str, merges, label) -> str:
    """Nested delimiter-wrapped replace() applying a fixed merge list
    in rank order. Each symbol is wrapped chr(31)<label>chr(31), so a
    pair match can never span a symbol boundary and adjacent
    occurrences don't share a delimiter (left-to-right non-overlapping
    replace then equals the greedy lowest-rank encoder for a
    well-formed merge list)."""
    D = "chr(31)"
    expr = col
    for a, b in merges:
        la, lb = label(a), label(b)
        expr = (
            f"replace({expr}, {D}||'{la}'||{D}||{D}||'{lb}'||{D}, "
            f"{D}||'{la}{lb}'||{D})"
        )
    return expr


def _bpe_count_sql(sym_expr: str, rewrite) -> str:
    """Shared shell of the two BPE encode oracles: words -> wrapped
    symbol strings -> rank-order rewriting -> per-doc token/word counts
    (empty docs kept at 0 via the LEFT JOIN)."""
    return rf"""
    WITH w AS (
        SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
            FROM documents)
        WHERE word <> ''
    ),
    sym AS (SELECT doc_id, {sym_expr} AS s FROM w),
    enc AS (SELECT doc_id, {rewrite} AS s FROM sym),
    agg AS (
        SELECT doc_id,
               CAST(sum((length(s) - length(replace(s, chr(31), ''))) / 2)
                    AS BIGINT) AS n_tokens,
               count(*) AS n_words
        FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_tokens, 0) AS n_tokens,
           coalesce(a.n_words, 0) AS n_words
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


_BPE_CHAR_SYM_SQL = (
    "array_to_string(list_transform(range(1, length(word) + 1), "
    "i -> chr(31) || substr(word, CAST(i AS INT), 1) || chr(31)), '') "
    "|| chr(31) || '</w>' || chr(31)"
)

# byte-level: the word's UTF-8 bytes as 2-hex-char symbols — a pure
# relabeling of the engine's GPT-2-style byte alphabet (token COUNTS
# are alphabet-invariant, so the hex twin gates the byte mechanics)
_BPE_BYTE_SYM_SQL = (
    "array_to_string(list_transform(range(1, length(hex(word)) + 1, 2), "
    "i -> chr(31) || substr(hex(word), CAST(i AS INT), 2) || chr(31)), '') "
    "|| chr(31) || '</w>' || chr(31)"
)


def _bpe_label_char(s):
    return s


def _bpe_label_byte(s):
    from unstract_spark.operators.bpe import END

    return s if s == END else s.hex().upper()


def _bpe_fixed_oracles():
    from unstract_spark.operators.bpe import FIXED_BYTE_MERGES, FIXED_MERGES

    char_sql = _bpe_count_sql(
        _BPE_CHAR_SYM_SQL, _bpe_rewrite_sql("s", FIXED_MERGES, _bpe_label_char)
    )
    byte_sql = _bpe_count_sql(
        _BPE_BYTE_SYM_SQL, _bpe_rewrite_sql("s", FIXED_BYTE_MERGES, _bpe_label_byte)
    )
    return char_sql, byte_sql


_BPE_CHAR_SQL, _BPE_BYTE_SQL = _bpe_fixed_oracles()


@register("bpe_token_counts", _BPE_CHAR_SQL)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE encode under a FIXED well-formed merge list
    (bpe.FIXED_MERGES — 24 merges incl. rank-ordered chains): per-doc
    token/word counts from the broadcast-ranks mapInPandas encoder.
    Fixing the merges makes encoding pure string rewriting, so the
    DuckDB twin reproduces it exactly (nested delimiter-wrapped
    replace in rank order) and the gate is a full value-hash match —
    this was the registry's one rows-only row through r5. The
    corpus-trained path stays covered by bpe_pair_counts (the
    distributed statistic, hash-gated) + the pytest trainer oracle."""
    from unstract_spark.operators import bpe

    d = _t(spark, sf_dir, "documents")
    out = bpe.bpe_encode(d, bpe.FIXED_MERGES)
    return out.select("doc_id", "n_tokens", "n_words")


@register("bpe_byte_token_counts", _BPE_BYTE_SQL)
def bpe_byte_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE encode (GPT-2 relabeled UTF-8 alphabet) under
    bpe.FIXED_BYTE_MERGES. The oracle rewrites each word's hex byte
    pairs with the same merges in hex labels — token counts are
    alphabet-invariant, so the hash match proves the byte-splitting,
    rank ordering and merge mechanics; lossless non-ASCII round-trips
    are property-tested in tests/test_bpe.py."""
    from unstract_spark.operators import bpe

    d = _t(spark, sf_dir, "documents")
    merges = bpe.byte_merges_to_symbols(bpe.FIXED_BYTE_MERGES)
    out = bpe.bpe_encode(d, merges, byte_level=True)
    return out.select("doc_id", "n_tokens", "n_words")


# =====================================================================
# Dedup suite (training-data ops): exact, MinHash, SimHash, Jaccard,
# embedding near-dup
# =====================================================================


@register(
    "dd_exact_groups",
    """
    SELECT sha256(text) AS content_sha, min(doc_id) AS keeper_id, count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dd_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy, keeper = min id."""
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


_SHINGLE_SQL = """
        SELECT doc_id,
               substr(t, CAST(i * 8 + 1 AS INT), 8) AS shingle
        FROM (SELECT doc_id, lower(text) AS t,
                     greatest(1, CAST(floor((length(text) - 8) / 8.0) AS INT) + 1) AS n_sh
              FROM documents),
             unnest(range(0, n_sh)) AS u(i)
"""

_MINHASH_SQL = "SELECT doc_id, " + ", ".join(
    f"min(('0x' || substr(md5('seed{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8))::BIGINT)"
    f" AS mh_{i}"
    for i in range(8)
) + f" FROM ({_SHINGLE_SQL}) GROUP BY doc_id"


@register("dd_minhash_signatures", _MINHASH_SQL)
def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes) over strided char-8 shingles."""
    sh = dedup.char_shingles(_t(spark, sf_dir, "documents"))
    return dedup.minhash_signatures(sh)


_BAND_KEY = "md5(CAST(mh_{a} AS VARCHAR) || '|' || CAST(mh_{b} AS VARCHAR))"


@register(
    "dd_minhash_neardup",
    f"""
    WITH sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """,
)
def dd_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup: band bucket-join candidates + signature
    similarity. The 100 TB path: candidates via equi-join on band keys.

    Signatures are materialized once: the frame feeds four join inputs
    (both band sides + both similarity sides), and without it Spark
    re-runs the shingle explode + groupBy for each — 4x the dominant
    cost. localCheckpoint, NOT persist: a persist here registers the
    plan with the CacheManager and is never unpersisted (the contract
    returns a lazy frame, so there is no post-action hook), and every
    LATER query in the session then pays canonicalized-plan comparison
    against the leaked entry on each analysis — measured 3-8x slowdowns
    on large-plan queries (the LSH near-dup went 2.5s -> 20s once a few
    cache entries accumulated). Checkpoint blocks are reclaimed by the
    ContextCleaner when the frame is dropped. At cluster scale this is
    a checkpoint/exchange-reuse, same idea."""
    sh = dedup.char_shingles(_t(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    return dedup.minhash_similarity(sigs, pairs)


@register(
    "events_forecast_backtest",
    """
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                 AS day,
                      CAST(sum(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'
               GROUP BY 1),
    e AS (SELECT a.day, a.cents AS actual_cents,
                 p.cents AS forecast_cents,
                 abs(a.cents - p.cents) AS abs_err
          FROM d a JOIN d p
            ON p.day + INTERVAL 7 DAY = a.day),
    mac AS (SELECT CAST(sum(abs_err) AS DOUBLE) / count(*) AS mae
            FROM e)
    SELECT day, actual_cents, forecast_cents,
           CAST(abs_err AS BIGINT) AS abs_err, mac.mae
    FROM e CROSS JOIN mac
    """,
)
def events_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive FORECAST BACKTEST — the baseline every
    forecasting system must beat, and the backtest loop that proves
    it: daily purchase revenue in exact cents, forecast(d) =
    actual(d-7) spelled as a SELF-JOIN on day = day - 7 over the
    daily aggregate (no single-series window anywhere — the join
    shape scales to any number of series by adding the series key),
    integer absolute errors, MAE one division. Per-day error rows and
    the MAE both hash-gate."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    past = d.select(
        (F.col("day") + F.expr("INTERVAL 7 DAY")).alias("day"),
        F.col("cents").alias("forecast"),
    )
    er = d.join(past, "day").select(
        "day",
        F.col("cents").alias("actual_cents"),
        F.col("forecast").alias("forecast_cents"),
        F.abs(F.col("cents") - F.col("forecast")).cast("long").alias(
            "abs_err"
        ),
    )
    mac = er.agg(
        (F.sum("abs_err").cast("double") / F.count(F.lit(1))).alias(
            "mae"
        )
    )
    return er.crossJoin(F.broadcast(mac)).select(
        "day", "actual_cents", "forecast_cents", "abs_err", "mae"
    )


_MH_EST_SQL = """
    (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0)
"""


@register(
    "dd_minhash_calibration",
    f"""
    WITH sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)}))
               AS b(band_no, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT p.id_a, p.id_b, {_MH_EST_SQL} AS est_jaccard
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLE_SQL})),
    cn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    i AS (SELECT p.id_a, p.id_b, count(*) AS inter
          FROM pairs p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b
                   AND b.shingle = a.shingle
          GROUP BY 1, 2),
    x AS (SELECT e.id_a, e.id_b, e.est_jaccard,
                 CAST(coalesce(i.inter, 0) AS DOUBLE)
                 / (ca.n + cb.n - coalesce(i.inter, 0))
                   AS exact_jaccard
          FROM est e
          JOIN cn ca ON ca.doc_id = e.id_a
          JOIN cn cb ON cb.doc_id = e.id_b
          LEFT JOIN i ON i.id_a = e.id_a AND i.id_b = e.id_b),
    mac AS (SELECT round(CAST(sum(CAST(abs(est_jaccard
                                           - exact_jaccard)
                        AS DECIMAL(28,12))) AS DOUBLE)
                        / count(*), 6) AS mae
            FROM x)
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           round(est_jaccard - exact_jaccard, 6) AS err, mac.mae
    FROM x CROSS JOIN mac
    """,
)
def dd_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash ESTIMATOR'S CALIBRATION as a gated query (the
    dedup twin of sim_recall_eval): for every LSH candidate pair,
    the 8-hash Jaccard estimate against the EXACT distinct-shingle
    Jaccard (intersection via one shingle equi-join, union by
    inclusion-exclusion), the signed per-pair error, and the
    macro MAE in the decimal domain — the error bar a threshold
    choice rests on, value-hash-certified."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.char_shingles(d).localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs).localCheckpoint(
        eager=True
    )
    est = dedup.minhash_similarity(sigs, pairs)
    shd = sh.select("doc_id", "shingle").distinct().localCheckpoint(
        eager=True
    )
    cn = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shd.select(
        F.col("doc_id").alias("id_a"), F.col("shingle").alias("_s")
    )
    b = shd.select(
        F.col("doc_id").alias("id_b"), F.col("shingle").alias("_s")
    )
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "_s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    x = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(
            cn.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("na")),
            "id_a",
        )
        .join(
            cn.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            (
                F.coalesce("inter", F.lit(0)).cast("double")
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce("inter", F.lit(0))
                )
            ).alias("exact_jaccard"),
        )
    )
    mac = x.agg(
        F.round(
            F.sum(
                F.abs(
                    F.col("est_jaccard") - F.col("exact_jaccard")
                ).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mae")
    )
    return x.crossJoin(F.broadcast(mac)).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "exact_jaccard",
        F.round(
            F.col("est_jaccard") - F.col("exact_jaccard"), 6
        ).alias("err"),
        "mae",
    )


def _minhash_auto_sql(threshold: float = 0.7, num_hashes: int = 8) -> str:
    """SQL twin of the auto-banded MinHash pipeline: the banding comes
    from the same auto_band_params computation the operator runs, its
    band keys generated for whatever (r, b) that yields."""
    r, b = dedup.auto_band_params(num_hashes, threshold)
    rows = []
    for band in range(b):
        key = " || '|' || ".join(
            f"CAST(mh_{band * r + j} AS VARCHAR)" for j in range(r)
        )
        rows.append(f"({band}, md5({key}))")
    sim = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, bb.band_no, bb.band_key
        FROM sigs, LATERAL (VALUES {", ".join(rows)}) AS bb(band_no, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b, (({sim}) / {num_hashes}.0) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """


@register("dd_minhash_auto", _minhash_auto_sql())
def dd_minhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup through THRESHOLD-MATCHED banding
    (dedup.auto_band_params — the MMDS S-curve rule: pick (r, b) with
    the 50%-collision point (1/b)^(1/r) nearest the dedup policy's
    Jaccard bar). Frozen banding is the MinHash twin of the frozen-LSH
    scale trap: a (2, 4) banding tuned for ~0.5 floods candidates when
    the policy asks for 0.7+ — at a 0.7 target the auto rule picks
    (4, 2), whose buckets only collide on 4-hash agreement. The oracle
    generates its band keys from the SAME computation, so the gated
    candidate set certifies the banding choice end to end (same
    discipline as dd_embedding_neardup_auto)."""
    sh = dedup.char_shingles(_t(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    r, _b = dedup.auto_band_params(8, 0.7)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=8, band_size=r)
    return dedup.minhash_similarity(sigs, pairs)


_SKEW_CORPUS_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT 1000000 + u.i AS doc_id,
               d.text || ' copy ' || CAST(u.i AS VARCHAR) AS text
        FROM (SELECT text FROM documents WHERE doc_id = 0) d,
             unnest(range(1, 241)) AS u(i)
"""

_MINHASH_SKEW_SQL = _MINHASH_SQL.replace("FROM documents", "FROM skew_corpus")


@register(
    "dd_minhash_skew",
    f"""
    WITH skew_corpus AS ({_SKEW_CORPUS_SQL}),
    sigs AS ({_MINHASH_SKEW_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    cool AS (
        SELECT band_no, band_key FROM bands
        GROUP BY band_no, band_key HAVING count(*) <= 64
    ),
    cbands AS (
        SELECT bands.* FROM bands JOIN cool USING (band_no, band_key)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM cbands a JOIN cbands b
          ON a.band_no = b.band_no AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
            + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """,
)
def dd_minhash_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup over a DELIBERATELY skewed corpus with the
    `max_bucket` hot-band fuse active — the guard's semantics under the
    driver's hash gate, not just pytest.

    The corpus is documents + 240 near-copies of doc 0 (template flood:
    one boilerplate document near-duplicating hundreds — the real-world
    shape that makes a band bucket corpus-sized and its self-join
    quadratic). With max_bucket=64, buckets the flood saturates are
    DROPPED before the self-join; the oracle reproduces the exact
    capped candidate set (count per band bucket -> HAVING <= 64 ->
    pair join), so a drift in the cap's placement (before vs after the
    join) or its boundary (< vs <=) fails the hash. At 100 TB the cap
    is what bounds the worst band's pair fan-out; template clusters it
    drops are exact/near-exact groups that exact_dedup_groups handles
    upstream at hash-groupBy cost."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    variants = (
        d.filter(F.col("doc_id") == 0)
        .select("text", F.explode(F.sequence(F.lit(1), F.lit(240))).alias("i"))
        .select(
            (F.lit(1000000) + F.col("i")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" copy "), F.col("i").cast("string")
            ).alias("text"),
        )
    )
    corpus = base.unionByName(variants)
    sh = dedup.char_shingles(corpus)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs, max_bucket=64)
    return dedup.minhash_similarity(sigs, pairs)


@register(
    "dd_cluster_histogram",
    f"""
    WITH RECURSIVE sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    simpairs AS (
        SELECT p.id_a, p.id_b,
               (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est
        FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_no = b.band_no AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id) p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM simpairs WHERE est >= 0.5
        UNION
        SELECT id_b, id_a FROM simpairs WHERE est >= 0.5
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM labels GROUP BY cluster_id)
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def dd_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup-rate report a
    curation run publishes (how many docs sit in 2-, 3-, n-member
    clusters, how many are unique). Pure derivation of the gated
    cluster labels: one aggregate over cluster sizes."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.char_shingles(d)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    sims = dedup.minhash_similarity(sigs, pairs)
    clusters = dedup.duplicate_clusters(d, sims, threshold=0.5)
    return (
        clusters.select("cluster_id", "cluster_size")
        .distinct()
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
    )


@register(
    "dd_duplicate_clusters",
    f"""
    WITH RECURSIVE sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    simpairs AS (
        SELECT p.id_a, p.id_b,
               (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est
        FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_no = b.band_no AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id) p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM simpairs WHERE est >= 0.5
        UNION
        SELECT id_b, id_a FROM simpairs WHERE est >= 0.5
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_keeper
    FROM labels
    """,
)
def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate CLUSTERS over the MinHash-LSH pairs — the
    keep-one-per-cluster step every production dedup pipeline runs
    after pairwise near-dup. Spark side: alternating large-star/
    small-star connected components (O(log n) rounds of groupBy-min +
    equi-join, no neighbor lists — dedup.connected_components); the
    oracle computes the same clusters by recursive-CTE transitive
    closure, affordable at oracle scale. est_jaccard is an exact
    multiple of 1/8, so the 0.5 threshold can't straddle a rounding
    boundary across engines."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.char_shingles(d)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    sims = dedup.minhash_similarity(sigs, pairs)
    return dedup.duplicate_clusters(d, sims, threshold=0.5)


@register(
    "ex_dedup_provenance",
    f"""
    WITH RECURSIVE ek AS (
        SELECT doc_id, sha256(text) AS sha FROM documents
    ),
    eg AS (SELECT sha, min(doc_id) AS keeper FROM ek GROUP BY sha),
    exact_tag AS (SELECT ek.doc_id, eg.keeper FROM ek JOIN eg USING (sha)),
    keepers AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN exact_tag t ON t.doc_id = d.doc_id AND t.doc_id = t.keeper
    ),
    sigs AS ({_MINHASH_SQL.replace("FROM documents", "FROM keepers")}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    simpairs AS (
        SELECT p.id_a, p.id_b,
               (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est
        FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_no = b.band_no AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id) p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM simpairs WHERE est >= 0.5
        UNION
        SELECT id_b, id_a FROM simpairs WHERE est >= 0.5
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM keepers
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT doc_id, 'drop_exact' AS action, keeper AS keeper_id
    FROM exact_tag WHERE doc_id <> keeper
    UNION ALL
    SELECT doc_id,
           CASE WHEN doc_id = cluster_id THEN 'keep'
                ELSE 'drop_neardup' END AS action,
           cluster_id AS keeper_id
    FROM labels
    """,
)
def ex_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup PROVENANCE report — per document: kept or dropped, why,
    and which document superseded it. The audit table a curation
    pipeline must ship with the corpus (every removal traceable to its
    keeper): layer 1 exact sha-dedup (drop_exact -> group min-id
    keeper), layer 2 MinHash-LSH + connected-components near-dup over
    the exact survivors (drop_neardup -> cluster min-id keeper), else
    keep. Both layers reuse the gated operators (exact_dedup shape,
    dedup.duplicate_clusters); the oracle rebuilds both layers
    including the recursive transitive closure."""
    d = _t(spark, sf_dir, "documents")
    sha = d.select("doc_id", F.sha2("text", 256).alias("sha"))
    eg = sha.groupBy("sha").agg(F.min("doc_id").alias("keeper"))
    tagged = sha.join(eg, "sha").select("doc_id", "keeper")
    exact_drops = tagged.filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id",
        F.lit("drop_exact").alias("action"),
        F.col("keeper").alias("keeper_id"),
    )
    keepers = d.join(
        tagged.filter(F.col("doc_id") == F.col("keeper")).select("doc_id"),
        "doc_id",
        "semi",
    )
    sh = dedup.char_shingles(keepers)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    sims = dedup.minhash_similarity(sigs, pairs)
    clusters = dedup.duplicate_clusters(keepers, sims, threshold=0.5)
    near = clusters.select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("cluster_id"), "keep")
        .otherwise("drop_neardup")
        .alias("action"),
        F.col("cluster_id").alias("keeper_id"),
    )
    return exact_drops.unionByName(near)


@register(
    "ta_unigram_logprob",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    wc AS (SELECT word, CAST(sum(tf) AS BIGINT) AS wc FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
    model AS (SELECT word, wc / total AS p FROM wc CROSS JOIN tot),
    scored AS (
        SELECT t.doc_id,
               CAST(sum(t.tf) AS BIGINT) AS n_words,
               round(CAST(sum(CAST(t.tf * ln(m.p) AS DECIMAL(28,10)))
                          AS DOUBLE) / CAST(sum(t.tf) AS BIGINT), 6)
                   AS avg_logprob
        FROM tf t JOIN model m USING (word)
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_words, 0) AS n_words,
           s.avg_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def ta_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document — the CCNet-style
    fluency score (text_analysis.unigram_logprob): corpus-trained
    unigram model, word-keyed model join, decimal-domain weighted
    mean. NULL for empty docs."""
    d = _t(spark, sf_dir, "documents")
    return text_analysis.unigram_logprob(d)


_BM25_TERMS = ("merge", "shuffle", "vector", "window")
_BM25_K1, _BM25_B = 1.25, 0.75  # exact binary fractions (see operator)


@register(
    "sim_bm25_topk",
    rf"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT sum(tf) FROM tf) AS total_words),
    qtf AS (SELECT * FROM tf
            WHERE word IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})),
    dft AS (SELECT word, count(*) AS df FROM qtf GROUP BY 1),
    agg AS (
        SELECT q.doc_id,
               CAST(round(sum(CAST(
                   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (q.tf * ({_BM25_K1} + 1))
                   / (q.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * l.dl / (s.total_words / s.n_docs)))
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        FROM qtf q JOIN dft d USING (word) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        GROUP BY q.doc_id
    )
    SELECT doc_id, bm25, rank FROM (
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
                   AS rank
        FROM agg
    ) WHERE rank <= 10
    """,
)
def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed multi-term query over the
    documents corpus (retrieval.bm25_retrieve — inverted-index tf,
    length normalization, idf; exact-binary k1/b so the oracle's
    doubles match bit-for-bit; decimal-domain score sum, rounded
    ranking with id tie-break)."""
    from unstract_spark.operators.retrieval import bm25_retrieve

    d = _t(spark, sf_dir, "documents")
    return bm25_retrieve(
        d, list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", "bm25", "rank")


_BM25_BATCH = (
    (1, ("merge", "window")),
    (2, ("vector", "customer", "query")),
    (3, ("scan", "sort")),
)


@register(
    "sim_bm25_batch",
    rf"""
    WITH q(query_id, word) AS (
        SELECT query_id, unnest(terms) FROM (VALUES
            {", ".join(f"({qid}, {list(ts)!r}::VARCHAR[])" for qid, ts in _BM25_BATCH)}
        ) AS v(query_id, terms)
    ),
    w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT sum(tf) FROM tf) AS total_words),
    qtf AS (SELECT * FROM tf WHERE word IN (SELECT DISTINCT word FROM q)),
    dft AS (SELECT word, count(*) AS df FROM qtf GROUP BY 1),
    agg AS (
        SELECT q.query_id, t.doc_id,
               CAST(round(sum(CAST(
                   ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * ({_BM25_K1} + 1))
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * l.dl / (s.total_words / s.n_docs)))
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS bm25
        FROM q JOIN qtf t USING (word) JOIN dft d USING (word)
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, t.doc_id
    )
    SELECT query_id, doc_id, bm25, rank FROM (
        SELECT query_id, doc_id, bm25,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
        FROM agg
    ) WHERE rank <= 5
    """,
)
def sim_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25: three fixed multi-term queries ranked in ONE pass —
    the index/doc-length tables built once and shared, the union of
    query terms broadcast to slice the index, per-query window ranking
    (retrieval.bm25_retrieve_batch). Same exact-binary constants and
    decimal aggregation as sim_bm25_topk."""
    from unstract_spark.operators.retrieval import bm25_retrieve_batch

    d = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, list(ts)) for qid, ts in _BM25_BATCH],
        "query_id int, terms array<string>",
    )
    return bm25_retrieve_batch(d, q, k=5, k1=_BM25_K1, b=_BM25_B)


@register(
    "ex_curation_e2e",
    f"""
    WITH RECURSIVE sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    simpairs AS (
        SELECT p.id_a, p.id_b,
               (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est
        FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_no = b.band_no AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id) p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM simpairs WHERE est >= 0.5
        UNION
        SELECT id_b, id_a FROM simpairs WHERE est >= 0.5
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    keepers AS (SELECT src AS doc_id FROM reach
                GROUP BY src HAVING src = min(dst)),
    w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS gram
        FROM w, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3
    ),
    contaminated AS (
        SELECT t.doc_id
        FROM (SELECT * FROM grams WHERE doc_id % 97 <> 0) t
        JOIN (SELECT doc_id, gram FROM grams WHERE doc_id % 97 = 0) b
          USING (gram)
        GROUP BY t.doc_id HAVING count(DISTINCT t.gram) >= 2
    ),
    kept AS (
        SELECT d.doc_id, d.source
        FROM documents d
        JOIN keepers k USING (doc_id)
        WHERE d.doc_id % 97 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    h AS (
        SELECT doc_id, source,
               CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM kept
    )
    SELECT doc_id, source, CAST(hv % 4 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 4
                                   ORDER BY hv ASC, doc_id ASC) - 1
                AS INTEGER) AS shard_pos
    FROM h
    """,
)
def ex_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation capstone — the full modern pipeline as ONE
    Catalyst plan: MinHash-LSH pairs -> transitive duplicate clusters
    (keep the min-id doc per cluster) -> train/eval decontamination
    (drop train docs sharing >=2 word 3-grams with the held-out split)
    -> deterministic shard assignment of the survivors. Every stage
    reuses its individually-gated operator; the oracle chains the same
    CTEs (recursive closure for clusters). This is the composition a
    training-data team actually ships."""
    from unstract_spark.operators.export import deterministic_shards

    d = _t(spark, sf_dir, "documents")
    sh = dedup.char_shingles(d)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    sims = dedup.minhash_similarity(sigs, pairs)
    clusters = dedup.duplicate_clusters(d, sims, threshold=0.5)
    keepers = clusters.filter(F.col("is_keeper")).select("doc_id")

    train = d.filter(F.col("doc_id") % 97 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    contaminated = (
        dedup.ngram_contamination(train, bench, n=3)
        .filter(F.col("n_shared_grams") >= 2)
        .select(F.col("train_id").alias("doc_id"))
    )
    kept = (
        train.select("doc_id", "source")
        .join(keepers, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    return deterministic_shards(kept, n_shards=4).select(
        "doc_id", "source", "shard", "shard_pos"
    )


_SIMHASH_BITS = 32
_SIMHASH_SQL = (
    "WITH sh AS ("
    + _SHINGLE_SQL
    + "), agg AS (SELECT doc_id, count(*) AS n_sh, "
    + ", ".join(
        "CAST(sum(CASE WHEN substr(md5(shingle), {b1}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE 0 END) AS BIGINT) AS s_{b}".format(
            b1=b + 1, b=b
        )
        for b in range(_SIMHASH_BITS)
    )
    + " FROM sh GROUP BY doc_id) SELECT doc_id, "
    + " || ".join(
        f"(CASE WHEN s_{b} * 2 > n_sh THEN '1' ELSE '0' END)" for b in range(_SIMHASH_BITS)
    )
    + " AS simhash FROM agg"
)


@register("dd_simhash", _SIMHASH_SQL)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (32-bit majority vote over shingle hashes)."""
    sh = dedup.char_shingles(_t(spark, sf_dir, "documents"))
    return dedup.simhash_fingerprint(sh, bits=_SIMHASH_BITS)


@register(
    "dd_ngram_jaccard",
    """
    WITH grams AS (
        SELECT DISTINCT doc_id, g.gram
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
              FROM documents WHERE doc_id < 100),
             LATERAL (
                SELECT array_to_string(w[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ') AS gram
                FROM unnest(range(0, greatest(len(w) - 2, 0) + 1)) AS u(i)
             ) AS g
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(i.inter_size / (sa.set_size + sb.set_size - i.inter_size), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.inter_size / (sa.set_size + sb.set_size - i.inter_size) >= 0.05
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 2-gram Jaccard near-dup over candidate pairs (shared-gram
    bucket join; restricted to doc_id<100 at oracle scale)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup.ngram_jaccard_pairs(d, n=2, min_jaccard=0.05)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dd_embedding_neardup",
    """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
    """,
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold tuned to the synthetic
    corpus's cosine range). Brute-force = the oracle for the LSH scale
    path."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_pairs(e, threshold=0.35)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))




# =====================================================================
# Similarity search / retrieval (J4, R1/R3/R6, ANN)
# =====================================================================

_COSINE_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, i.vec_id,
               round(list_dot_product(q.qv, i.embedding::DOUBLE[])
                     / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                        * sqrt(list_sum(list_transform(i.embedding::DOUBLE[], x -> x * x)))),
                     6) AS score
        FROM q CROSS JOIN embeddings i
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
"""


@register("sim_topk_bruteforce", _COSINE_TOPK_SQL)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/R1: batch top-k cosine retrieval (5 queries x corpus, k=10).

    Ranking happens on the ROUNDED score with id tie-break so the row
    set is deterministic across engines."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.brute_force_topk(q, e, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


@register("sim_auto_topk", _COSINE_TOPK_SQL)
def sim_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost-based similarity planner under the hash gate: at this
    scale the dispatcher must price brute-force under the exact budget
    and return rows identical to the exact oracle. (At 100 TB the same
    call with real stats lowers to LSH/IVF — those physical paths are
    separately gated by sim_lsh_topk / sim_ivf_topk.)"""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out, plan = similarity.similarity_topk(q, e, dim=64, k=10, n_queries=5)
    assert plan.strategy == "brute_force", plan
    return out.select("query_id", "vec_id", "score", "rank")


_SIM_ROCCHIO_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
    p1 AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, i.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qv,
                                    i.embedding::DOUBLE[])
                           / (sqrt(list_sum(list_transform(q.qv,
                                  x -> x * x)))
                              * sqrt(list_sum(list_transform(
                                    i.embedding::DOUBLE[],
                                    x -> x * x)))), 6) DESC,
                                i.vec_id ASC) AS r
            FROM q CROSS JOIN embeddings i
        ) WHERE r <= 4),
    fbv AS (SELECT p1.query_id, i.embedding::DOUBLE[] AS v
            FROM p1 JOIN embeddings i USING (vec_id)),
    cint AS (SELECT query_id, i,
                    CAST(sum(CAST(round(val * 1000000) AS BIGINT))
                         AS BIGINT) AS c
             FROM (SELECT query_id, unnest(v) AS val,
                          unnest(range(1, len(v) + 1)) AS i
                   FROM fbv)
             GROUP BY 1, 2),
    q2 AS (SELECT query_id,
                  list(CAST(0.5 AS DOUBLE) * qval
                       + CAST(0.125 AS DOUBLE)
                         * (CAST(c AS DOUBLE) / 1000000.0)
                       ORDER BY i) AS q2v
           FROM (SELECT query_id, unnest(qv) AS qval,
                        unnest(range(1, len(qv) + 1)) AS i
                 FROM q) qq
           JOIN cint USING (query_id, i)
           GROUP BY query_id),
    scored AS (
        SELECT q2.query_id, i.vec_id,
               round(list_dot_product(q2.q2v, i.embedding::DOUBLE[])
                     / (sqrt(list_sum(list_transform(q2.q2v,
                            x -> x * x)))
                        * sqrt(list_sum(list_transform(
                              i.embedding::DOUBLE[], x -> x * x)))),
                     6) AS score
        FROM q2 CROSS JOIN embeddings i
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC,
                                              vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
"""


@register("sim_rocchio", _SIM_ROCCHIO_SQL)
def sim_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio relevance feedback in the embedding domain
    (similarity.rocchio_topk — the vector-space sibling of the
    lexical RM3 row): cosine pass 1, each query moved toward its
    top-4 feedback centroid with exact-binary blend constants
    (0.5 / 0.125) and the centroid SUM accumulated in integer
    micro-units (order-free), cosine pass 2 with the moved query.
    The oracle re-derives the feedback sets, the quantized centroids,
    the blended vectors, and the final ranking — the whole feedback
    loop under one hash."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return similarity.rocchio_topk(q, e, k=10, fb_k=4).select(
        "query_id", "vec_id", "score", "rank"
    )


def _double_array_sql(vals) -> str:
    """DuckDB literal array of doubles. Plain decimal literals parse as
    DECIMAL (not DOUBLE) in DuckDB and silently change the arithmetic
    domain — the CAST keeps both engines multiplying identical doubles."""
    return "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vals) + "]"


def _lsh_topk_sql(dim: int = 64, n_planes: int = 6, n_tables: int = 4, k: int = 10) -> str:
    """SQL twin of similarity.lsh_topk_join: the seeded hyperplanes are
    deterministic constants, so the bucket keys are reproducible as
    literal-coefficient dot products. Sign decisions tolerate the ~1ulp
    summation-order difference between engines because min |dot| over
    the corpus is ~7e-5 (measured) — eleven orders above ulp noise."""
    bucket_exprs = []
    for t in range(n_tables):
        planes = similarity._seeded_hyperplanes(dim, n_planes, t)
        bits = " || ".join(
            f"CASE WHEN list_dot_product(v, {_double_array_sql(planes[p])}) >= 0 "
            "THEN '1' ELSE '0' END"
            for p in range(n_planes)
        )
        bucket_exprs.append(f"'t{t}:' || {bits}")
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    ib AS (SELECT vec_id, unnest([{", ".join(bucket_exprs)}]) AS bucket FROM e),
    qb AS (SELECT vec_id AS query_id, bucket FROM ib WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT q.query_id, i.vec_id
        FROM qb q JOIN ib i USING (bucket)
    ),
    scored AS (
        SELECT c.query_id, c.vec_id,
               round(list_dot_product(ei.v, eq.v) / (ei.nrm * eq.nrm), 6) AS score
        FROM cand c
        JOIN e eq ON eq.vec_id = c.query_id
        JOIN e ei ON ei.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def _ivf_topk_sql(dim: int = 64, n_centroids: int = 16, n_probe: int = 3, k: int = 10) -> str:
    """SQL twin of similarity.ivf_topk_join: seeded centroids as literal
    coefficients; cell assignment = argmax dot (ties to lowest cell,
    matching the Spark comparator). Min adjacent cell-score gap over the
    corpus is ~4e-5 (measured), so argmax agrees cross-engine."""
    cents = similarity._seeded_hyperplanes(dim, n_centroids, table=991)
    structs = ", ".join(
        f"struct_pack(cell := {c}, score := list_dot_product(v, {_double_array_sql(cents[c])}))"
        for c in range(n_centroids)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    cells AS (SELECT vec_id, unnest([{structs}]) AS u FROM e),
    ranked_cells AS (
        SELECT vec_id, u.cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY u.score DESC, u.cell ASC) AS rn
        FROM cells
    ),
    ic AS (SELECT vec_id, cell FROM ranked_cells WHERE rn <= 1),
    qc AS (SELECT vec_id AS query_id, cell FROM ranked_cells
           WHERE rn <= {n_probe} AND vec_id < 5),
    cand AS (
        SELECT DISTINCT q.query_id, i.vec_id
        FROM qc q JOIN ic i USING (cell)
    ),
    scored AS (
        SELECT c.query_id, c.vec_id,
               round(list_dot_product(ei.v, eq.v) / (ei.nrm * eq.nrm), 6) AS score
        FROM cand c
        JOIN e eq ON eq.vec_id = c.query_id
        JOIN e ei ON ei.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def _pq_sql_fragments(dim: int, n_sub: int, n_codes: int):
    """Shared DuckDB fragments for the PQ twins: per-subspace code
    scores, first-max CASE assignment, query lookup tables, and the
    fixed-order ADC terms — one generator so the standalone PQ and the
    IVF-PQ oracles stay letter-identical with the Spark expressions."""
    cbs = similarity.pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub

    def sub(col: str, m: int) -> str:
        return f"{col}[{m * d + 1}:{m * d + d}]"

    score_defs, code_cases, lut_defs, adc_terms = [], [], [], []
    for m in range(n_sub):
        names = []
        for c in range(n_codes):
            half = f"CAST({float(0.5 * (cbs[m][c] * cbs[m][c]).sum())!r} AS DOUBLE)"
            score_defs.append(
                f"list_dot_product({sub('v', m)}, {_double_array_sql(cbs[m][c])})"
                f" - {half} AS s{m}_{c}"
            )
            names.append(f"s{m}_{c}")
        g = f"greatest({', '.join(names)})"
        case = " ".join(
            f"WHEN {n} = {g} THEN {c}" for c, n in enumerate(names)
        )
        code_cases.append(f"CASE {case} END AS code_{m}")
        lut_defs.append(
            "["
            + ", ".join(
                f"list_dot_product({sub('v', m)}, {_double_array_sql(cbs[m][c])})"
                for c in range(n_codes)
            )
            + f"] AS lut_{m}"
        )
        adc_terms.append(f"q.lut_{m}[c.code_{m} + 1]")
    return score_defs, code_cases, lut_defs, adc_terms


def _pq_topk_sql(
    dim: int = 64, n_sub: int = 8, n_codes: int = 16, k: int = 10, refine: int = 3
) -> str:
    """SQL twin of similarity.pq_topk_join: seeded codebooks inlined as
    literals; code assignment = first-max CASE over the same
    (dot - 0.5*||c||^2) scores in the same sequential float-op order
    (min assignment gap on the corpus ~4e-5, the IVF margin argument);
    ADC = fixed-ascending-subspace sum of lookup-table entries, so the
    shortlist cut is bit-identical; exact cosine re-ranks rounded."""
    score_defs, code_cases, lut_defs, adc_terms = _pq_sql_fragments(dim, n_sub, n_codes)
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    scores AS (SELECT vec_id, v, nrm, {', '.join(score_defs)} FROM e),
    codes AS (SELECT vec_id, v, nrm, {', '.join(code_cases)} FROM scores),
    q AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, {', '.join(lut_defs)}
        FROM e WHERE vec_id < 5
    ),
    paired AS (
        SELECT q.query_id, c.vec_id,
               {' + '.join(adc_terms)} AS adc,
               list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS cos
        FROM codes c CROSS JOIN q
    ),
    short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id ASC) AS arank
        FROM paired
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT query_id, vec_id, round(cos, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
        FROM short WHERE arank <= {refine * k}
    ) WHERE rank <= {k}
    """


def _ivfpq_topk_sql(
    dim: int = 64,
    n_centroids: int = 16,
    n_probe: int = 3,
    n_sub: int = 8,
    n_codes: int = 16,
    k: int = 10,
    refine: int = 3,
) -> str:
    """SQL twin of similarity.ivfpq_topk_join: the IVF cell fragment
    (argmax dot, ties to lowest cell) composed with the PQ fragments —
    candidates come from the probed-cell join, ADC ranks them, exact
    cosine re-ranks the shortlist."""
    cents = similarity._seeded_hyperplanes(dim, n_centroids, table=991)
    structs = ", ".join(
        f"struct_pack(cell := {c}, score := list_dot_product(v, {_double_array_sql(cents[c])}))"
        for c in range(n_centroids)
    )
    score_defs, code_cases, lut_defs, adc_terms = _pq_sql_fragments(dim, n_sub, n_codes)
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    cells AS (SELECT vec_id, unnest([{structs}]) AS u FROM e),
    ranked_cells AS (
        SELECT vec_id, u.cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY u.score DESC, u.cell ASC) AS rn
        FROM cells
    ),
    scores AS (SELECT vec_id, v, nrm, {', '.join(score_defs)} FROM e),
    pcodes AS (SELECT vec_id, v, nrm, {', '.join(code_cases)} FROM scores),
    codes AS (
        SELECT p.*, rc.cell
        FROM pcodes p JOIN ranked_cells rc ON rc.vec_id = p.vec_id AND rc.rn = 1
    ),
    q AS (
        SELECT qc.vec_id AS query_id, qc.cell, e.v AS qv, e.nrm AS qnrm,
               {', '.join(lut_defs)}
        FROM (SELECT vec_id, cell FROM ranked_cells
              WHERE rn <= {n_probe} AND vec_id < 5) qc
        JOIN e ON e.vec_id = qc.vec_id
    ),
    paired AS (
        SELECT q.query_id, c.vec_id,
               {' + '.join(adc_terms)} AS adc,
               list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS cos
        FROM codes c JOIN q USING (cell)
    ),
    short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id ASC) AS arank
        FROM paired
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT query_id, vec_id, round(cos, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
        FROM short WHERE arank <= {refine * k}
    ) WHERE rank <= {k}
    """


@register("sim_ivfpq_topk", _ivfpq_topk_sql())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path #4: IVF-PQ — coarse cells make candidate
    generation sublinear, PQ codes make scoring the candidates
    memory-cheap, exact cosine re-ranks the shortlist. The production
    composition of the two gated levers, itself gated end to end."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.ivfpq_topk_join(q, e, dim=64, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


@register("sim_pq_topk", _pq_topk_sql())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path #3: product-quantization ADC scan + exact re-rank
    (similarity.pq_topk_join). Completes the ANN family — brute force
    (exact oracle), LSH (hash buckets), IVF (data-geometry cells), PQ
    (compressed-domain scoring): codes are 32x smaller than float32
    vectors and each candidate costs n_sub lookups, the memory-side
    lever the others don't pull."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.pq_topk_join(q, e, dim=64, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


def _sq8_topk_sql(
    dim: int = 64, k: int = 10, refine: int = 3, bits: int = 8
) -> str:
    """SQL twin of similarity.sq8_topk_join: same per-vector
    qmax/max|x| scale (qmax = 2^(bits-1) - 1), same floor(x*s + 0.5)
    integer codes, pure BIGINT code dot product divided once by the
    index scale, same shortlist cut and rounded exact-cosine
    re-rank."""
    qmax = (1 << (bits - 1)) - 1
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    sq AS (
        SELECT vec_id, v, nrm,
               {qmax}.0 / greatest(list_max(list_transform(v, x -> abs(x))),
                                1e-30) AS scale
        FROM e
    ),
    c AS (
        SELECT vec_id, v, nrm, scale,
               list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT))
                   AS codes
        FROM sq
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, codes AS qcodes
          FROM c WHERE vec_id < 5),
    paired AS (
        SELECT q.query_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> q.qcodes[i] * c.codes[i])) AS DOUBLE) / c.scale AS adc,
               list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS cos
        FROM c CROSS JOIN q
    ),
    short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id ASC) AS arank
        FROM paired
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT query_id, vec_id, round(cos, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
        FROM short WHERE arank <= {refine * k}
    ) WHERE rank <= {k}
    """


@register("sim_sq8_topk", _sq8_topk_sql())
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path #5: int8 SCALAR quantization
    (similarity.sq8_topk_join) — the memory lever between raw floats
    and PQ (4x smaller, one multiply per dim, no codebook training;
    the FAISS ScalarQuantizer / Milvus SQ8 default). Candidate score
    is a pure BIGINT code dot product (order-free) divided once by
    the index vector's scale; exact cosine re-ranks the shortlist.
    Completes the compression spectrum the ANN family gates: raw
    (brute/LSH/IVF) -> SQ8 (4x) -> PQ (32x) -> IVF-PQ."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.sq8_topk_join(q, e, dim=64, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


@register("sim_sq4_topk", _sq8_topk_sql(bits=4, refine=6))
def sim_sq4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path #5b: 4-bit scalar quantization — the far end of
    the SQ bit-width ladder (8x smaller than float32 bit-packed;
    qmax=7, so candidate scores are COARSE and the shortlist widens to
    refine=6 to keep recall — the r11 prod ladder measures the
    recall/refine trade per bit width). Same expressions as
    sim_sq8_topk with qmax swapped; the oracle re-derives the 4-bit
    codes, so the width itself is hash-gated."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.sq8_topk_join(q, e, dim=64, k=10, refine=6, bits=4).select(
        "query_id", "vec_id", "score", "rank"
    )


@register(
    "agg_length_percentiles",
    """
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
    FROM documents GROUP BY lang
    """,
)
def agg_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (corpus length profiling
    — the filter-threshold-picking aggregation). Spark `percentile` and
    DuckDB `quantile_cont` share the rank = p*(n-1) linear-interpolation
    definition, so the doubles hash-match. At 100 TB the same profiling
    runs as approx_percentile (t-digest, mergeable sketch); the exact
    twin here IS its oracle."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95"),
    )


def _emb_lsh_neardup_sql(
    dim: int = 64, n_planes: int = 6, n_tables: int = 4, threshold: float = 0.35
) -> str:
    """SQL twin of dedup.embedding_neardup_lsh: seeded hyperplanes are
    deterministic constants, so the bucketed candidate set — not just
    the exact re-check — is reproduced by the oracle. Sign decisions
    tolerate cross-engine summation-order ulps for the same measured
    reason as _lsh_topk_sql (min |dot| over the corpus ~7e-5)."""
    bucket_exprs = []
    for t in range(n_tables):
        planes = similarity._seeded_hyperplanes(dim, n_planes, t)
        bits = " || ".join(
            f"CASE WHEN list_dot_product(v, {_double_array_sql(planes[p])}) >= 0 "
            "THEN '1' ELSE '0' END"
            for p in range(n_planes)
        )
        bucket_exprs.append(f"'t{t}:' || {bits}")
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    ib AS (SELECT vec_id, unnest([{", ".join(bucket_exprs)}]) AS bucket FROM e),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ib a JOIN ib b USING (bucket)
        WHERE a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
    )
    SELECT id_a, id_b, round(cosine, 6) AS cosine
    FROM scored WHERE cosine >= {threshold}
    """


@register("dd_embedding_neardup_lsh", _emb_lsh_neardup_sql())
def dd_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: sign-LSH bucketed candidate join +
    exact cosine re-check (dedup.embedding_neardup_lsh). This gates the
    bucketed candidate generation itself — the plan that replaces the
    quadratic all-pairs join at 100 TB."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_lsh(e, threshold=0.35, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# The gate-SF embeddings fixture count (500 at BOTH sf0.001 and
# sf0.01 — the driver's compare SF): auto_lsh_params evaluated here at
# registration time yields the SAME (planes, tables) the operator's
# n_planes="auto" path derives from its runtime count() at those SFs,
# so the oracle's literal hyperplanes reproduce the auto geometry
# exactly.
_AUTO_LSH_N = 500
_AUTO_LSH_PLANES, _AUTO_LSH_TABLES = dedup.auto_lsh_params(_AUTO_LSH_N, 0.35)


@register(
    "dd_embedding_neardup_auto",
    _emb_lsh_neardup_sql(n_planes=_AUTO_LSH_PLANES, n_tables=_AUTO_LSH_TABLES),
)
def dd_embedding_neardup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup through the corpus-size-aware geometry — the
    path a 100 TB corpus actually gets (n_planes="auto"): the sf1 rung
    measured the FROZEN (6, 4) geometry at 16.4x wall-clock for 10x
    data (bucket occupancy grows linearly, the within-bucket candidate
    join quadratically — SCALE.md), and auto_lsh_params holds expected
    occupancy ~constant by growing planes with log2(n) and buying
    recall back with tables (Charikar sign-LSH collision model). The
    operator derives (planes, tables) from its runtime corpus count();
    the oracle runs the identical computation at the fixture count at
    registration time and pins the resulting seeded hyperplanes as
    literals — same determinism as the fixed-geometry twin, but this
    row value-hash-gates the production default end to end (closes the
    SCALE.md sf1-rung catch)."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_lsh(e, threshold=0.35, dim=64, n_planes="auto")
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@register("sim_lsh_topk", _lsh_topk_sql())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path: multi-table sign-LSH candidate join + exact
    re-rank (similarity.lsh_topk_join). This gates the 100 TB ANN
    strategy itself — the bucketed equi-join on deterministic bucket
    keys — not just the brute-force oracle."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.lsh_topk_join(q, e, dim=64, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


@register(
    "sim_mips_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, i.vec_id,
               round(list_dot_product(q.qv, i.embedding::DOUBLE[]), 6) AS score
        FROM q CROSS JOIN embeddings i
    )
    SELECT query_id, vec_id, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product top-k (similarity.mips_topk): raw-dot
    ranking — magnitude-sensitive, so rankings legitimately differ
    from the cosine twin; ranked on the rounded score with id
    tie-break."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.mips_topk(q, e, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


def _cell_probe_stats_sql(dim: int = 64, n_centroids: int = 16) -> str:
    """Cell-population twin reusing the seeded-centroid argmax spelling
    of _ivf_topk_sql (same struct_pack / rn<=1 assignment)."""
    cents = similarity._seeded_hyperplanes(dim, n_centroids, table=991)
    structs = ", ".join(
        f"struct_pack(cell := {c}, score := list_dot_product(v, {_double_array_sql(cents[c])}))"
        for c in range(n_centroids)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cells AS (SELECT vec_id, unnest([{structs}]) AS u FROM e),
    ranked_cells AS (
        SELECT vec_id, u.cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY u.score DESC, u.cell ASC) AS rn
        FROM cells
    ),
    ic AS (SELECT vec_id, cell FROM ranked_cells WHERE rn <= 1),
    pop AS (SELECT cell, count(*) AS n_vecs FROM ic GROUP BY cell),
    tot AS (SELECT count(*) AS n FROM e)
    SELECT p.cell, p.n_vecs,
           round(CAST(p.n_vecs AS DOUBLE) / t.n, 6) AS share
    FROM pop p CROSS JOIN tot t
    """


@register("sim_cell_probe_stats", _cell_probe_stats_sql())
def sim_cell_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index diagnostics under the hash gate: per-cell population
    and corpus share for the seeded 16-cell assignment — the imbalance
    table that decides n_probe / re-fit / salting at scale (a hot cell
    is to IVF what a hot band is to LSH). Gates the ASSIGNMENT argmax
    itself over the whole corpus, not just the 5-query probe slice
    sim_ivf_topk exercises."""
    e = _t(spark, sf_dir, "embeddings")
    cents = similarity._seeded_hyperplanes(64, 16, table=991)
    ib = similarity._argmax_cells(e, "vec_id", "embedding", 1, cents)
    pop = ib.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    return pop.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs").cast("double") / F.col("n"), 6).alias("share"),
    )


@register("sim_ivf_topk", _ivf_topk_sql())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path: IVF cell-probed candidate join + exact re-rank
    (similarity.ivf_topk_join). Cell assignment and probing are both
    bucketed equi-joins on the deterministic cell id."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.ivf_topk_join(q, e, dim=64, k=10).select(
        "query_id", "vec_id", "score", "rank"
    )


@register(
    "sim_rrf_fusion",
    f"""
    WITH ranked AS ({_COSINE_TOPK_SQL.replace("vec_id < 5", "vec_id < 2").replace("rank <= 10", "rank <= 20")}),
    fused AS (
        SELECT vec_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
        FROM ranked GROUP BY vec_id
    )
    SELECT vec_id, rrf_score, fused_rank FROM (
        SELECT *, row_number() OVER (ORDER BY rrf_score DESC, vec_id ASC) AS fused_rank
        FROM fused
    ) WHERE fused_rank <= 10
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 fusion: two retrievals (query vecs 0 and 1, k=20) fused by
    reciprocal rank, final top-10 (retrievers/fusion.py:12-104)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # both rankings come out of ONE scored pass keyed by query_id;
    # filtering per-query and unioning back (rrf_fuse's general form)
    # would recompute the scoring crossJoin once per ranking
    ranked = similarity.brute_force_topk(q, e, k=20)
    fused = ranked.groupBy("vec_id").agg(
        F.round(F.sum(1.0 / (F.lit(retrieval.RRF_K) + F.col("rank"))), 6).alias("rrf_score")
    )
    return retrieval.bounded_rank(
        fused, [F.col("rrf_score").desc(), F.col("vec_id").asc()], 10, "fused_rank"
    )


@register(
    "sim_keyword_table",
    """
    WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents
    ),
    hits AS (
        SELECT doc_id, count(DISTINCT word) AS kw_hits
        FROM words WHERE word IN ('spark', 'merge', 'window', 'vector')
        GROUP BY doc_id
    )
    SELECT doc_id, kw_hits, rank FROM (
        SELECT *, row_number() OVER (ORDER BY kw_hits DESC, doc_id ASC) AS rank
        FROM hits
    ) WHERE rank <= 10
    """,
)
def sim_keyword_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 keyword-table retrieval: inverted index + hit ranking."""
    d = _t(spark, sf_dir, "documents")
    return retrieval.keyword_table_retrieve(
        d, ["spark", "merge", "window", "vector"], k=10
    )


# =====================================================================
# Multi-join relational shapes (Q3/Q5-style: the join-reorder +
# broadcast-selection surface Catalyst owns)
# =====================================================================


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on both sides.

    Filters push below the joins (PushedFilters at both scans); the
    customer dimension broadcasts. Revenue per order, unlimited (the
    classic top-10 cut is a client-side limit; keeping all rows makes
    the oracle compare total)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_region_volume",
    """
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join, dimensions broadcast, one
    shuffle on the fact side for the final aggregate."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: date-windowed orders semi-joined to a lineitem
    EXISTS predicate (here: has a returned line — the synthetic tables
    carry no commit/receipt dates), counted per priority. The
    left_semi join is the decorrelated EXISTS — one shuffle on
    orderkey, no fan-out (an inner join would duplicate orders per
    matching line and over-count)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
       OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year — the two-sided dimension join (supplier nation AND customer
    nation, both broadcast) with a disjunctive pair filter and a
    decimal-domain revenue rollup."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_19")
    ) | (
        (F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "q10_returned_items",
    """
    WITH rev AS (
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, n_name, revenue, rnk FROM (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rnk
        FROM rev
    ) WHERE rnk <= 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer in a date
    window, global top-20 (TakeOrderedAndProject — ranked on the
    ROUNDED decimal-domain revenue with custkey tie-break so the
    boundary is deterministic cross-engine)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


# =====================================================================
# Enrichment operators (T11/T13/T14/T16, F8) as oracle-checked queries
# =====================================================================


@register(
    "t16_classification",
    """
    WITH scores AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '\\bspark\\b'))
             + len(regexp_extract_all(lower(text), '\\bmerge\\b'))
             + len(regexp_extract_all(lower(text), '\\bshuffle\\b')) AS score_engine,
               len(regexp_extract_all(lower(text), '\\bquery\\b'))
             + len(regexp_extract_all(lower(text), '\\bscan\\b'))
             + len(regexp_extract_all(lower(text), '\\bfilter\\b')) AS score_sql
        FROM documents
    )
    SELECT doc_id, score_engine, score_sql,
           CASE WHEN greatest(score_engine, score_sql) = 0 THEN 'unknown'
                WHEN score_engine = greatest(score_engine, score_sql) THEN 'engine'
                ELSE 'sql' END AS classification
    FROM scores
    """,
)
def t16_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16 classification (keyword argmax + reserved 'unknown' bin;
    tools/classifier/src/main.py). Routing = partitionBy(classification)
    on write, one directory per bin."""
    from unstract_spark.operators.enrich import classify_by_keywords

    return classify_by_keywords(
        _t(spark, sf_dir, "documents"),
        bins={
            "engine": ["spark", "merge", "shuffle"],
            "sql": ["query", "scan", "filter"],
        },
    )


@register(
    "t14_lookup_enrichment",
    """
    SELECT o.o_orderkey, o.o_orderpriority, s.sla_hours
    FROM orders o
    LEFT JOIN (VALUES ('1-URGENT', 4), ('2-HIGH', 24), ('3-MEDIUM', 72),
                      ('4-NOT SPECIFIED', 168), ('5-LOW', 336))
           AS s(o_orderpriority, sla_hours)
      ON o.o_orderpriority = s.o_orderpriority
    """,
)
def t14_lookup_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 lookup enrichment: broadcast hash join against a tiny
    dimension (lookup_enrichment.py) — zero shuffle of the fact side."""
    from unstract_spark.operators.enrich import lookup_enrich

    o = _t(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("1-URGENT", 4), ("2-HIGH", 24), ("3-MEDIUM", 72),
         ("4-NOT SPECIFIED", 168), ("5-LOW", 336)],
        "o_orderpriority string, sla_hours int",
    )
    return lookup_enrich(o, dim, "o_orderpriority").select(
        "o_orderkey", "o_orderpriority", "sla_hours"
    )


@register(
    "t11_summarize",
    """
    SELECT doc_id,
           'SUMMARY[' || md5('summarize:total,vendor' || ':' || md5(text)) || ']: '
               || substr(text, 1, 120) AS summary,
           md5('summarize:total,vendor' || ':' || md5(text)) AS summary_cache_key
    FROM documents
    """,
)
def t11_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 summarize-as-source with deterministic cache key
    (legacy_executor.py:2312-2410)."""
    from unstract_spark.operators.enrich import summarize_mock

    return summarize_mock(_t(spark, sf_dir, "documents"), ["total", "vendor"])


@register(
    "t13_evaluation",
    f"""
    WITH answers AS (
        SELECT doc_id, text AS context_text,
               {mock_answer_raw_sql("'total'", "md5(text)")} AS answer_raw
        FROM documents
    )
    SELECT doc_id,
           round(len(list_intersect(list_distinct(regexp_split_to_array(lower(coalesce(answer_raw, '')), '\\s+')),
                                    list_distinct(regexp_split_to_array(lower(coalesce(context_text, '')), '\\s+'))))
                 / greatest(len(regexp_split_to_array(lower(coalesce(answer_raw, '')), '\\s+')), 1), 4)
               AS eval_faithful_ratio,
           (length(trim(coalesce(answer_raw, ''))) >= 3
            AND lower(trim(coalesce(answer_raw, ''))) <> 'na') AS eval_complete,
           NOT (regexp_matches(coalesce(answer_raw, ''), '[^@\\s]+@[^@\\s]+\\.[^@\\s]+')
                OR regexp_matches(coalesce(answer_raw, ''), '\\+?\\d[\\d\\- ]{{7,}}\\d'))
               AS eval_pii_free
    FROM answers
    """,
)
def t13_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 per-answer evaluation flags (faithfulness overlap,
    completeness, PII scan) over mock answers with the document text
    as context."""
    from unstract_spark.operators.enrich import evaluate_answers

    d = _t(spark, sf_dir, "documents")
    answers = d.select(
        "doc_id",
        F.col("text").alias("context_text"),
        mock_answer_raw(F.lit("total"), F.md5("text")).alias("answer_raw"),
    )
    return evaluate_answers(answers).select(
        "doc_id", "eval_faithful_ratio", "eval_complete", "eval_pii_free"
    )


@register(
    "f8_variable_replacement",
    f"""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
    vars AS (
        SELECT doc_id,
               coalesce(nullif({mock_answer_raw_sql("'invoice_no'", "fingerprint")}, 'NA'), '')
                   AS invoice_no
        FROM fp
    )
    SELECT doc_id,
           replace('Fetch the total for invoice {{{{invoice_no}}}} now',
                   '{{{{invoice_no}}}}', invoice_no) AS prompt
    FROM vars
    """,
)
def f8_variable_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 static variable replacement: prompt i references prompt j's
    output ({{var}} substitution, variable_replacement.py:28-55) as a
    column expression over the prior stage's answers."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5("text")
    invoice = F.coalesce(
        F.nullif(mock_answer_raw(F.lit("invoice_no"), fp), F.lit("NA")), F.lit("")
    )
    template = "Fetch the total for invoice {{invoice_no}} now"
    return d.select(
        "doc_id",
        F.replace(F.lit(template), F.lit("{{invoice_no}}"), invoice).alias("prompt"),
    )


@register(
    "r7_automerging",
    """
    WITH chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_no,
               doc_id * 1000 + CAST(i AS INT) AS leaf_id,
               doc_id * 1000 + CAST(floor(i / 4) AS INT) AS parent_id,
               substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        FROM (SELECT doc_id, text,
                     greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
              FROM documents),
             unnest(range(0, n_chunks)) AS u(i)
    ),
    ranked AS (
        -- leaf_id tie-break: duplicate chunk texts share an md5, and a
        -- tied LIMIT boundary would be engine-arbitrary
        SELECT leaf_id, parent_id FROM chunks
        ORDER BY md5(chunk_text), leaf_id LIMIT 200
    ),
    totals AS (SELECT parent_id, count(*) AS n_leaves FROM chunks GROUP BY 1),
    hits AS (
        SELECT r.parent_id, count(*) AS n_hit, any_value(t.n_leaves) AS n_leaves
        FROM ranked r JOIN totals t ON r.parent_id = t.parent_id GROUP BY 1
    )
    SELECT parent_id AS unit_id, 'parent' AS unit_kind
    FROM hits WHERE n_hit / n_leaves >= 0.5
    UNION ALL
    SELECT r.leaf_id AS unit_id, 'leaf' AS unit_kind
    FROM ranked r
    WHERE r.parent_id NOT IN (SELECT parent_id FROM hits WHERE n_hit / n_leaves >= 0.5)
    """,
)
def r7_automerging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 automerging: retrieved leaves whose parent crosses the hit
    ratio merge into the parent (retrievers/automerging.py). Leaves
    here are deterministic (md5-ranked top-200 chunks)."""
    from unstract_spark.operators.retrieval import automerging_retrieve

    d = _t(spark, sf_dir, "documents")
    chunks = chunking.chunk_fixed(d, chunk_size=200, chunk_overlap=50).select(
        (F.col("doc_id") * 1000 + F.col("chunk_no")).alias("leaf_id"),
        (F.col("doc_id") * 1000 + F.floor(F.col("chunk_no") / 4).cast("int")).alias(
            "parent_id"
        ),
        "chunk_text",
    )
    ranked = (
        chunks.orderBy(F.md5("chunk_text").asc(), F.col("leaf_id").asc())
        .limit(200)
        .select("leaf_id")
    )
    return automerging_retrieve(
        chunks, ranked, id_col="leaf_id", parent_col="parent_id", merge_threshold=0.5
    )


@register(
    "agg_variance_by_status",
    """
    WITH c AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    s AS (
        SELECT o_orderstatus, count(*) AS n, sum(c) AS s1,
               sum(CAST(c AS DECIMAL(10,0)) * CAST(c AS DECIMAL(10,0))) AS s2
        FROM c GROUP BY 1
    )
    SELECT o_orderstatus, n AS n_orders,
           round(CAST(s1 AS DOUBLE) / n / 100, 6) AS mean_total,
           round((CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / 10000, 4) AS var_total,
           round(sqrt((CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                      / 10000), 6) AS std_total
    FROM s
    """,
)
def agg_variance_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance/stddev of order totals per status, computed
    as E[x^2]-E[x]^2 over CENT-QUANTIZED integer sums — the
    cross-engine-stable spelling of a statistical aggregate. Native
    var_pop/stddev_pop stream Welford updates whose low-order bits
    depend on partial-aggregation order, so a gated variance must come
    from exact integer sums combined through one fixed double
    expression (same discipline as the usage cost micro-dollars)."""
    o = _t(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("long")
    s = o.select(F.col("o_orderstatus"), c.alias("c")).groupBy(
        "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(
            F.col("c").cast("decimal(10,0)") * F.col("c").cast("decimal(10,0)")
        ).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n")
    var = (s2d / nd - (s1d / nd) * (s1d / nd)) / 10000
    return s.select(
        "o_orderstatus",
        F.col("n").alias("n_orders"),
        F.round(s1d / nd / 100, 6).alias("mean_total"),
        F.round(var, 4).alias("var_total"),
        F.round(F.sqrt(var), 6).alias("std_total"),
    )


@register(
    "agg_correlation",
    """
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_quantity) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag, count(*) AS n,
               sum(q) AS sq, sum(p) AS sp,
               sum(CAST(q AS DECIMAL(10,0)) * CAST(q AS DECIMAL(10,0))) AS sqq,
               sum(CAST(p AS DECIMAL(12,0)) * CAST(p AS DECIMAL(12,0))) AS spp,
               sum(CAST(q AS DECIMAL(10,0)) * CAST(p AS DECIMAL(12,0))) AS sqp
        FROM c GROUP BY 1
    )
    SELECT l_returnflag, n AS n_lines,
           round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                           - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 6)
               AS corr_qty_price
    FROM s
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag from
    EXACT integer/decimal sums combined in one fixed double expression
    — the engine-portable corr() (native corr streams Welford-style
    co-moments whose low bits depend on partial-merge order, same
    reason agg_variance_by_status avoids var_pop)."""
    l = _t(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("long")
    p = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = l.select(F.col("l_returnflag"), q.alias("q"), p.alias("p")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(
            F.col("q").cast("decimal(10,0)") * F.col("q").cast("decimal(10,0)")
        ).alias("sqq"),
        F.sum(
            F.col("p").cast("decimal(12,0)") * F.col("p").cast("decimal(12,0)")
        ).alias("spp"),
        F.sum(
            F.col("q").cast("decimal(10,0)") * F.col("p").cast("decimal(12,0)")
        ).alias("sqp"),
    )
    nd = F.col("n").cast("double")
    sqd, spd = F.col("sq").cast("double"), F.col("sp").cast("double")
    sqqd, sppd = F.col("sqq").cast("double"), F.col("spp").cast("double")
    sqpd = F.col("sqp").cast("double")
    corr = (nd * sqpd - sqd * spd) / F.sqrt(
        (nd * sqqd - sqd * sqd) * (nd * sppd - spd * spd)
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_lines"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


@register(
    "agg_distinct_sketch",
    """
    WITH h AS (
        SELECT l_returnflag,
               CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 9, 4))
                    ::BIGINT % 64 AS BIGINT) AS b,
               ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                   ::BIGINT / 4294967296.0 AS u
        FROM lineitem
    ),
    mins AS (
        SELECT l_returnflag, b, min(u) AS m FROM h GROUP BY 1, 2
    )
    SELECT l_returnflag,
           count(*) AS n_buckets,
           round(64 * CAST(0.6931471805599453 AS DOUBLE)
                 * quantile_cont(1.0 / m - 1.0, 0.5), 2) AS est_distinct
    FROM mins GROUP BY l_returnflag
    """,
)
def agg_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bounded-state cardinality sketch — approximate
    distinct WITHOUT a sketch library and WITHOUT losing the hash gate.
    approx_count_distinct (HLL) can never be oracle-gated (sketch
    internals differ per engine); this is stochastic averaging from
    first principles (PCSA/KMV family) built only from engine-portable
    pieces: md5-derived uniform u in [0,1), 64 hash buckets, per-
    (group, bucket) MIN — a plain HashAggregate whose partial state is
    exactly 64 doubles per group, the bounded-memory property a
    100 TB distinct-count needs — then the ROBUST combiner
    est = B * ln(2) * median(1/m_i - 1): the median kills the heavy
    tail of 1/min (whose expectation diverges), and the ln(2) factor
    is the exact debias — median(min of n uniforms) = 1 - 2^(-1/n)
    ~ ln2/n, so median(1/m) ~ n/ln2. Spark percentile == DuckDB
    quantile_cont (the ta_length_trim precedent). Measured accuracy:
    +/-10% at 2k true distincts, +/-6% at 20k, with exactly 64 doubles
    of aggregate state per group.
    """
    l = _t(spark, sf_dir, "lineitem")
    h5 = F.md5(F.col("l_partkey").cast("string"))
    u = F.conv(F.substring(h5, 1, 8), 16, 10).cast("double") / F.lit(
        4294967296.0
    )
    b = F.conv(F.substring(h5, 9, 4), 16, 10).cast("long") % 64
    mins = (
        l.select(F.col("l_returnflag"), b.alias("b"), u.alias("u"))
        .groupBy("l_returnflag", "b")
        .agg(F.min("u").alias("m"))
    )
    return mins.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(
            F.lit(64)
            * F.lit(0.6931471805599453)
            * F.expr("percentile(1.0 / m - 1.0, 0.5)"),
            2,
        ).alias("est_distinct"),
    )


@register(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (expand + two-phase agg in Spark)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_having_large_orders",
    """
    SELECT l_orderkey, CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150
    """,
)
def agg_having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-filtered aggregate (TPC-H Q18 shape): the post-aggregate
    predicate stays above the partial agg, nothing extra shuffles."""
    l = _t(spark, sf_dir, "lineitem")
    qsum = F.sum(F.col("l_quantity").cast("decimal(18,6)"))
    return (
        l.groupBy("l_orderkey")
        .agg(
            F.round(qsum, 2).cast("double").alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("total_qty") > 150)
    )


@register(
    "agg_sorted_array_collect",
    """
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS nations,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_sorted_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_list is unordered in a
    distributed engine, so both sides sort. The array is serialized to a
    '|'-joined string because the driver's canonicalizer only handles
    scalar columns (pandas sort_values dies on list cells) —
    sort_array(collect_list) + array_join vs DuckDB's ordered
    string_agg."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


_PORTABLE_WINDOW_SQL = """
    SELECT c_custkey, c_acctbal, round(nation_avg, 4) AS nation_avg
    FROM (
        SELECT c_custkey, c_acctbal,
               avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
        FROM customer
    ) t WHERE c_acctbal > nation_avg
"""


@register("sql_above_nation_avg", _PORTABLE_WINDOW_SQL)
def sql_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface parity: the exact same ANSI text runs on
    spark.sql AND the DuckDB oracle (decorrelated 'above group
    average' — the window form of a correlated subquery)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_PORTABLE_WINDOW_SQL)


@register(
    "t12_challenge",
    f"""
    WITH answers AS (
        SELECT doc_id, text,
               {mock_answer_raw_sql("'total'", "md5(text)")} AS answer_raw
        FROM documents
    )
    SELECT doc_id, answer_raw,
           (('0x' || substr(md5(answer_raw || ':' || md5(coalesce(text, ''))), 1, 2))::INT % 4) <> 0
               AS challenge_agrees,
           round((('0x' || substr(md5(answer_raw || ':' || md5(coalesce(text, ''))), 3, 4))::INT) / 65535.0, 4)
               AS challenge_confidence
    FROM answers WHERE answer_raw IS NOT NULL
    """,
)
def t12_challenge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 adversarial challenge: second-LLM verdict per (answer,
    context) with deterministic mock (legacy_executor.py:1539-1595)."""
    from unstract_spark.operators.enrich import challenge_mock

    d = _t(spark, sf_dir, "documents")
    answers = d.select(
        "doc_id",
        F.col("text").alias("context_text"),
        mock_answer_raw(F.lit("total"), F.md5("text")).alias("answer_raw"),
    ).filter(F.col("answer_raw").isNotNull())
    return challenge_mock(answers).select(
        "doc_id", "answer_raw", "challenge_agrees", "challenge_confidence"
    )


@register(
    "t18_highlights",
    """
    WITH probe AS (
        SELECT doc_id, text, substr(text, 31, 12) AS answer FROM documents
    )
    SELECT doc_id, answer,
           strpos(text, answer) AS char_offset,
           CASE WHEN strpos(text, answer) > 0
                THEN len(string_split(substr(text, 1, strpos(text, answer)), chr(10)))
                ELSE NULL END AS line_no,
           strpos(text, answer) > 0 AS found_in_context
    FROM probe
    """,
)
def t18_highlights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 highlight projection: source coordinates per answer
    (answer_prompt.py:255-274) — here probed with a deterministic
    substring 'answer' so offsets are verifiable."""
    from unstract_spark.operators.enrich import attach_highlights

    d = _t(spark, sf_dir, "documents")
    probed = d.select(
        "doc_id",
        F.col("text").alias("context_text"),
        F.substring("text", 31, 12).alias("answer"),
    )
    out = attach_highlights(probed, answer_col="answer")
    return out.select(
        "doc_id",
        "answer",
        F.col("highlight.char_offset").alias("char_offset"),
        F.col("highlight.line_no").alias("line_no"),
        F.col("highlight.found_in_context").alias("found_in_context"),
    )


# =====================================================================
# Full retrieval pipeline, oracle-checked end-to-end:
# T3 chunk -> T4 embed (expression mock) -> J4/T6 top-k join
# =====================================================================

_RAW_COMPONENTS = ", ".join(
    f"((('0x' || substr(sha256(chunk_text), {2 * i + 1}, 2))::INT - 127.5) / 127.5) AS r{i}"
    for i in range(8)
)
_NORM = "sqrt(" + " + ".join(f"(r{i} * r{i})" for i in range(8)) + ")"
_DOT = " + ".join(f"(q.q{i} * e.e{i})" for i in range(8))

_RETRIEVAL_SQL = f"""
    WITH ch AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_no,
               substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        FROM (SELECT doc_id, text,
                     greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
              FROM documents),
             unnest(range(0, n_chunks)) AS u(i)
    ),
    raw AS (SELECT doc_id, chunk_no, {_RAW_COMPONENTS} FROM ch),
    emb AS (
        SELECT doc_id, chunk_no,
               {", ".join(f"r{i} / nrm AS e{i}" for i in range(8))}
        FROM (SELECT *, {_NORM} AS nrm FROM raw)
    ),
    q AS (
        SELECT doc_id AS query_id, {", ".join(f"e{i} AS q{i}" for i in range(8))}
        FROM emb WHERE doc_id < 3 AND chunk_no = 0
    ),
    scored AS (
        SELECT q.query_id, e.doc_id * 1000 + e.chunk_no AS chunk_uid,
               round({_DOT}, 6) AS score
        FROM q CROSS JOIN emb e
    )
    SELECT query_id, chunk_uid, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, chunk_uid ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


@register("rp_chunk_embed_retrieve", _RETRIEVAL_SQL)
def rp_chunk_embed_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval stack end-to-end under the oracle gate: chunk
    (T3) -> expression-mock embedding (T4, unit-normalized doubles) ->
    batch top-k cosine join (J4/T6, k=5, 3 query chunks).

    Staged selects keep the double arithmetic order identical to the
    SQL CTEs (raw bytes -> norm -> components -> chained dot)."""
    from unstract_spark.mock import mock_embed_expr

    d = _t(spark, sf_dir, "documents")
    ch = chunking.chunk_fixed(d, chunk_size=200, chunk_overlap=50)
    comps = mock_embed_expr(F.col("chunk_text"))
    emb = ch.select(
        "doc_id", "chunk_no", *[c.alias(f"e{i}") for i, c in enumerate(comps)]
    )
    q = (
        emb.filter((F.col("doc_id") < 3) & (F.col("chunk_no") == 0))
        .select(
            F.col("doc_id").alias("query_id"),
            *[F.col(f"e{i}").alias(f"q{i}") for i in range(8)],
        )
    )
    e = emb.alias("e")
    scored_terms = F.col("q0") * F.col("e.e0")
    for i in range(1, 8):
        scored_terms = scored_terms + F.col(f"q{i}") * F.col(f"e.e{i}")
    scored = F.broadcast(q).crossJoin(e).select(
        "query_id",
        (F.col("e.doc_id") * 1000 + F.col("e.chunk_no")).alias("chunk_uid"),
        F.round(scored_terms, 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("chunk_uid").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


@register(
    "r2_subquestion",
    """
    WITH subq AS (SELECT unnest(['spark', 'merge']) AS term),
    words AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents
    ),
    hits AS (
        SELECT s.term, w.doc_id, count(*) AS n_hits
        FROM subq s JOIN words w ON w.word = s.term
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY n_hits DESC, doc_id ASC) AS rnk
        FROM hits
    )
    SELECT DISTINCT doc_id FROM ranked WHERE rnk <= 5
    """,
)
def r2_subquestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 subquestion: decompose the query into sub-questions (mocked
    as fixed terms), retrieve top-5 per sub-question, union the distinct
    sources (retrievers/subquestion.py:13-76)."""
    d = _t(spark, sf_dir, "documents")
    subq = d.sparkSession.createDataFrame([("spark",), ("merge",)], "term string")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("word")
    )
    hits = (
        F.broadcast(subq)
        .join(words, words.word == subq.term)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("term").orderBy(F.col("n_hits").desc(), F.col("doc_id").asc())
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id")
        .distinct()
    )


@register(
    "t10_single_pass",
    """
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    SELECT doc_id,
           md5('invoice_no|total|vendor' || ':' || fingerprint) AS call_id,
           CASE WHEN substr(md5('invoice_no|total|vendor#invoice_no' || ':' || fingerprint), 1, 1) = '0'
                THEN 'NA' ELSE 'ans-' || substr(md5('invoice_no|total|vendor#invoice_no' || ':' || fingerprint), 1, 12) END
               AS invoice_no,
           CASE WHEN substr(md5('invoice_no|total|vendor#total' || ':' || fingerprint), 1, 1) = '0'
                THEN 'NA' ELSE 'ans-' || substr(md5('invoice_no|total|vendor#total' || ':' || fingerprint), 1, 12) END
               AS total,
           CASE WHEN substr(md5('invoice_no|total|vendor#vendor' || ':' || fingerprint), 1, 1) = '0'
                THEN 'NA' ELSE 'ans-' || substr(md5('invoice_no|total|vendor#vendor' || ':' || fingerprint), 1, 12) END
               AS vendor
    FROM fp
    """,
)
def t10_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 single-pass fusion: N prompts as ONE call per document — one
    call_id, per-key answers derived from the fused call
    (legacy_executor.py:733-772, 2270-2310)."""
    from unstract_spark.operators.prompts import single_pass_mock

    d = _t(spark, sf_dir, "documents")
    return single_pass_mock(d, ["invoice_no", "total", "vendor"])


@register(
    "skew_salted_agg",
    """
    SELECT event_type,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling pattern: two-phase salted aggregation.

    `event_type` has only 5 values — a pathological shuffle key at
    scale (5 reducers own everything). Salting: aggregate on
    (key, salt=hash%16) first (spreads each hot key over 16 partial
    groups), then merge partials per key. The oracle is the plain
    aggregate — results are identical, only the shuffle distribution
    changes. Decimal-domain sums keep the two-step total exact.
    """
    e = _t(spark, sf_dir, "events")
    salted = (
        e.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    return salted.groupBy("event_type").agg(
        F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
        F.sum("pn").alias("n"),
    )


@register(
    "ta_lang_confusion",
    f"""
    WITH hits AS (
        SELECT doc_id, lang,
               {_marker_sql("text", text_analysis.LANG_MARKERS["de"])} AS hits_de,
               {_marker_sql("text", text_analysis.LANG_MARKERS["en"])} AS hits_en,
               {_marker_sql("text", text_analysis.LANG_MARKERS["es"])} AS hits_es,
               {_marker_sql("text", text_analysis.LANG_MARKERS["fr"])} AS hits_fr
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                    WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                    WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM hits
    )
    SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    """,
)
def ta_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality surface: confusion matrix of the heuristic's
    predictions against the corpus's `lang` labels — the evaluation
    query a training-data pipeline runs after any classifier change."""
    d = _t(spark, sf_dir, "documents")
    pred = text_analysis.lang_id(d).select("doc_id", "pred_lang")
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# =====================================================================
# R4 recursive + R5 router retrieval under the oracle gate (the last
# two pytest-only retrievers). Embeddings are the expression mock
# (unit-normalized doubles) so cosine ranking is SQL-reproducible;
# scoring goes through retrieval.topk_join, whose cosine is the
# zip_with/aggregate fold — the SQL mirrors its exact double chain:
# left-chained dot over normalized comps / (sqrt(idx_n2) * sqrt(q_n2)).
# =====================================================================

_DOCEMB_CTES = """
    draw AS (SELECT doc_id, {doc_raw} FROM documents),
    demb AS (SELECT doc_id, {e_cols}
             FROM (SELECT *, {nrm} AS nrm FROM draw)),
    qraw AS (SELECT query_id, {q_raw} FROM tagged WHERE strategy = 'vector'),
    qemb AS (SELECT query_id, {q_cols}
             FROM (SELECT *, {nrm} AS nrm FROM qraw))
""".format(
    doc_raw=", ".join(
        f"((('0x' || substr(sha256(text), {2 * i + 1}, 2))::INT - 127.5) / 127.5) AS r{i}"
        for i in range(8)
    ),
    q_raw=", ".join(
        f"((('0x' || substr(sha256(query_text), {2 * i + 1}, 2))::INT - 127.5) / 127.5) AS r{i}"
        for i in range(8)
    ),
    nrm="sqrt(" + " + ".join(f"(r{i} * r{i})" for i in range(8)) + ")",
    e_cols=", ".join(f"r{i} / nrm AS e{i}" for i in range(8)),
    q_cols=", ".join(f"r{i} / nrm AS q{i}" for i in range(8)),
)

_COS8 = "round(({dot}) / (sqrt({en2}) * sqrt({qn2})), 6)".format(
    dot=" + ".join(f"(e.e{i} * q.q{i})" for i in range(8)),
    en2=" + ".join(f"(e.e{i} * e.e{i})" for i in range(8)),
    qn2=" + ".join(f"(q.q{i} * q.q{i})" for i in range(8)),
)


@register(
    "r5_router",
    f"""
    WITH q(query_id, query_text) AS (
        SELECT * FROM (VALUES (1, 'spark merge'),
                              (2, 'which customer invoices mention vector tables'),
                              (3, 'vector')) v(query_id, query_text)
    ),
    tagged AS (
        SELECT query_id, query_text,
               CASE WHEN len(regexp_split_to_array(coalesce(query_text, ''), '\\s+')) <= 2
                    THEN 'keyword' ELSE 'vector' END AS strategy
        FROM q
    ),
    {_DOCEMB_CTES},
    vscored AS (
        SELECT q.query_id, e.doc_id AS vec_id, {_COS8} AS score
        FROM qemb q CROSS JOIN demb e
    ),
    vpart AS (
        SELECT query_id, vec_id, rank, 'vector' AS strategy FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id ASC) AS rank
            FROM vscored
        ) WHERE rank <= 5
    ),
    words AS (
        SELECT doc_id AS vec_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents
    ),
    kwq AS (
        SELECT query_id,
               unnest(regexp_split_to_array(lower(query_text), '\\s+')) AS word
        FROM tagged WHERE strategy = 'keyword'
    ),
    khits AS (
        SELECT query_id, vec_id, count(*) AS kw_hits
        FROM kwq JOIN words USING (word) GROUP BY 1, 2
    ),
    kpart AS (
        SELECT query_id, vec_id, rank, 'keyword' AS strategy FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY kw_hits DESC, vec_id ASC) AS rank
            FROM khits
        ) WHERE rank <= 5
    )
    SELECT * FROM vpart UNION ALL SELECT * FROM kpart
    """,
)
def r5_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 router: per-query strategy dispatch (retrievers/router.py:
    14-173) — short queries (<=2 tokens) route to keyword retrieval,
    the rest to vector top-k; one unioned plan with a strategy tag."""
    from unstract_spark.mock import mock_embed_expr

    d = _t(spark, sf_dir, "documents")
    index = d.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*mock_embed_expr(F.col("text"))).alias("embedding"),
    )
    docs = d.select(F.col("doc_id").alias("vec_id"), "text")
    qdf = spark.createDataFrame(
        [
            (1, "spark merge"),
            (2, "which customer invoices mention vector tables"),
            (3, "vector"),
        ],
        "query_id int, query_text string",
    ).withColumn("query_vec", F.array(*mock_embed_expr(F.col("query_text"))))
    return retrieval.router_retrieve(
        qdf, index, docs=docs, keyword_threshold=2, k=5
    )


@register(
    "r4_recursive",
    f"""
    WITH q(query_id, query_text) AS (
        SELECT * FROM (VALUES (1, 'spark window'),
                              (2, 'customer table')) v(query_id, query_text)
    ),
    tagged AS (SELECT query_id, query_text, 'vector' AS strategy FROM q),
    {_DOCEMB_CTES},
    scored AS (
        SELECT q.query_id, e.doc_id AS vec_id, {_COS8} AS score
        FROM qemb q CROSS JOIN demb e
    ),
    seeds AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    links AS (
        SELECT doc_id AS src_id, doc_id // 2 AS dst_id FROM documents WHERE doc_id > 0
        UNION ALL
        SELECT doc_id, doc_id - 1 FROM documents WHERE doc_id > 0
    ),
    hop1 AS (
        SELECT DISTINCT s.query_id, l.dst_id AS vec_id
        FROM seeds s JOIN links l ON l.src_id = s.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM seeds s2
                          WHERE s2.query_id = s.query_id AND s2.vec_id = l.dst_id)
    ),
    seen1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM hop1),
    hop2 AS (
        SELECT DISTINCT h.query_id, l.dst_id AS vec_id
        FROM hop1 h JOIN links l ON l.src_id = h.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM seen1 s
                          WHERE s.query_id = h.query_id AND s.vec_id = l.dst_id)
    )
    SELECT query_id, vec_id FROM seen1
    UNION ALL
    SELECT query_id, vec_id FROM hop2
    """,
)
def r4_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 recursive: seed top-k retrieval, then follow reference links
    for 2 bounded hops (retrievers/recursive.py) — each hop one
    distributed join + anti-join against the seen set. The link graph
    is deterministic (doc_id -> doc_id//2 and doc_id-1) so the oracle
    unrolls the same two hops."""
    from unstract_spark.mock import mock_embed_expr

    d = _t(spark, sf_dir, "documents")
    index = d.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*mock_embed_expr(F.col("text"))).alias("embedding"),
    )
    qdf = spark.createDataFrame(
        [(1, "spark window"), (2, "customer table")],
        "query_id int, query_text string",
    ).withColumn("query_vec", F.array(*mock_embed_expr(F.col("query_text"))))
    links = (
        d.filter(F.col("doc_id") > 0)
        .select(
            F.col("doc_id").alias("src_id"),
            F.floor(F.col("doc_id") / 2).cast("long").alias("dst_id"),
        )
        .unionByName(
            d.filter(F.col("doc_id") > 0).select(
                F.col("doc_id").alias("src_id"),
                (F.col("doc_id") - 1).alias("dst_id"),
            )
        )
    )
    return retrieval.recursive_retrieve(qdf, index, links, hops=2, k=5)


# =====================================================================
# Multimodal decode (north-star): REAL pure-stdlib decoders gated by a
# SQL oracle. The payload is a PGM/WAV rendering of the document text
# (pixels/samples = byte values), so the oracle can reproduce the
# decoded feature vectors from the text alone — the query passes only
# if the encoder->decoder->feature path is bit-exact.
# =====================================================================


@register(
    "mm_image_features",
    """
    WITH bytes AS (
        SELECT doc_id,
               ascii(substr(rpad(substr(text, 1, 64), 64, ' '), CAST(i AS INT), 1)) AS v
        FROM documents, unnest(range(1, 65)) AS u(i)
    ),
    stats AS (
        SELECT doc_id,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean,
               CAST(sum(v * v) AS DOUBLE) / count(*) AS msq,
               CAST(sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS b0,
               CAST(sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b1,
               CAST(sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS b2,
               CAST(sum(CASE WHEN v // 64 >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS b3
        FROM bytes GROUP BY doc_id
    )
    SELECT doc_id, round(mean, 6) AS px_mean,
           round(sqrt(greatest(msq - mean * mean, 0)), 6) AS px_std,
           b0, b1, b2, b3
    FROM stats
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image path, REAL decode across FOUR container
    variants: each document's first 64 bytes render as an 8x8 image —
    doc_id%4==0 as binary PGM, ==1 as grayscale PNG, ==2 as RGB PNG
    whose channels (v-1, v, v+1) keep the integer luma exactly v, ==3
    as Adam7-INTERLACED grayscale PNG (all seven de-interlacing passes
    under the hash). PNG rows cycle filters 0..4, so None/Sub/Up/
    Average/Paeth unfiltering all sit under this gate too. The oracle
    computes the same stats straight from the text bytes — identical
    regardless of container — so any decode/feature drift in any
    format fails the gate."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import image_features

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        # single-split parquet at bench scale would run the Python
        # codec stage on one core (the char_shingles local-mode caveat,
        # SCALE.md); on a cluster the scan already has splits
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.multimodal import encode_pgm, encode_png

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                px = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(8, 8)
                m = int(did) % 4
                if m == 0:
                    content.append(encode_pgm(px))
                elif m == 1:
                    content.append(encode_png(px))
                elif m == 2:
                    v = px.astype(np.int16)
                    rgb = np.stack(
                        [np.maximum(v - 1, 0), v, v + 1], axis=2
                    ).astype(np.uint8)
                    content.append(encode_png(rgb))
                else:
                    content.append(encode_png(px, interlace=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_image_features",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    feats = image_features(imgs, payload_col="content", id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        F.element_at("feat", 1).alias("px_mean"),
        F.element_at("feat", 2).alias("px_std"),
        F.element_at("feat", 3).alias("b0"),
        F.element_at("feat", 4).alias("b1"),
        F.element_at("feat", 5).alias("b2"),
        F.element_at("feat", 6).alias("b3"),
    )


@register(
    "mm_downsample_audio",
    """
    WITH samples AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               (ascii(substr(rpad(substr(text, 1, 64), 64, ' '), CAST(i AS INT), 1))
                - 100) * 300 AS v
        FROM documents, unnest(range(1, 65)) AS u(i)
    )
    SELECT doc_id, CAST((i - 1) // 4 AS INT) AS idx,
           CAST(sum(v) // 4 AS INT) AS v
    FROM samples GROUP BY doc_id, (i - 1) // 4
    """,
)
def mm_downsample_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decimation under a sample-exact gate: 64 synthesized PCM
    samples per doc, WAV-encoded, box-downsampled 4x in the exact
    integer domain (multimodal.decimate_pcm: int64 group sums + floor
    division, no float — the same kernel downsample_audio runs),
    re-encoded, decoded again, exploded. The oracle reproduces every
    output sample as floor(group mean) straight from the text bytes —
    so encode -> decimate -> encode -> decode is verified
    sample-for-sample.

    The whole chain runs in ONE mapInPandas (one Arrow crossing): the
    r6 shape was three chained Python stages (encode | decimate |
    decode), and the per-row work is microseconds — the three
    JVM<->Python serialization boundaries dominated the query's cost.
    Nothing between the stages is relational, so fusing loses no
    Catalyst opportunity."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import (
        decimate_pcm,
        decode_wav,
        encode_wav16,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def fused(batches):
        for pdf in batches:
            ids, idxs, vals = [], [], []
            for rid, s in zip(pdf["doc_id"], pdf["s"]):
                pcm = (
                    np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(
                        np.int16
                    )
                    - 100
                ) * 300
                samples, rate = decode_wav(encode_wav16(pcm))
                small, new_rate = decimate_pcm(samples, 4, rate)
                out, _ = decode_wav(encode_wav16(small, rate=new_rate))
                for j, v in enumerate(out):
                    ids.append(rid)
                    idxs.append(j)
                    vals.append(int(v))
            yield pd.DataFrame({"doc_id": ids, "idx": idxs, "v": vals})

    return d.mapInPandas(fused, "doc_id long, idx int, v int")


@register(
    "mm_audio_features",
    """
    WITH samples AS (
        SELECT doc_id,
               (ascii(substr(rpad(substr(text, 1, 64), 64, ' '), CAST(i AS INT), 1))
                - 100) * 300 AS v
        FROM documents, unnest(range(1, 65)) AS u(i)
    ),
    stats AS (
        SELECT doc_id, count(*) AS n_samples,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean,
               CAST(sum(v * v) AS DOUBLE) / count(*) AS msq
        FROM samples GROUP BY doc_id
    )
    SELECT doc_id, n_samples, CAST(8000 AS BIGINT) AS sample_rate,
           round(mean, 6) AS amp_mean,
           round(sqrt(greatest(msq - mean * mean, 0)), 6) AS amp_std
    FROM stats
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path, REAL decode: render each document's first
    64 bytes as 16-bit PCM WAV samples ((byte-100)*300, mono 8 kHz),
    decode with multimodal.decode_wav, emit amplitude stats. Oracle
    reproduces the stats from the text bytes."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import audio_features

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        # single-split parquet at bench scale would run the Python
        # codec stage on one core (the char_shingles local-mode caveat,
        # SCALE.md); on a cluster the scan already has splits
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.multimodal import encode_wav16

        for pdf in batches:
            content = [
                encode_wav16(
                    (np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(np.int64) - 100)
                    * 300,
                    rate=8000,
                )
                for s in pdf["s"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    wavs = _fixture_parquet(
        spark, sf_dir, "mm_audio_features",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    feats = audio_features(wavs, payload_col="content", id_col="doc_id")
    return feats.select("doc_id", "n_samples", "sample_rate", "amp_mean", "amp_std")


@register(
    "mm_jpeg_features",
    """
    WITH bytes AS (
        SELECT doc_id,
               ascii(substr(rpad(substr(text, 1, 64), 64, ' '), CAST(i AS INT), 1)) AS v
        FROM documents, unnest(range(1, 65)) AS u(i)
    ),
    stats AS (
        SELECT doc_id,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean,
               CAST(sum(v * v) AS DOUBLE) / count(*) AS msq,
               CAST(64 * sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS b0,
               CAST(64 * sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b1,
               CAST(64 * sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS b2,
               CAST(64 * sum(CASE WHEN v // 64 >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS b3
        FROM bytes GROUP BY doc_id
    )
    SELECT doc_id, round(mean, 6) AS px_mean,
           round(sqrt(greatest(msq - mean * mean, 0)), 6) AS px_std,
           b0, b1, b2, b3
    FROM stats
    """,
)
def mm_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal JPEG path, REAL lossy-codec decode under a hash gate,
    across BOTH coding processes (baseline SOF0 and progressive SOF2).

    A lossy codec CAN sit under an exact SQL oracle: for an image whose
    every 8x8 tile is constant, the forward DCT is DC-only (AC terms are
    analytic zeros) and a unit quant table makes the round trip
    bit-exact (minijpeg.py docstring). Each document's first 64 text
    bytes render as an 8x8 grid of constant 8x8 blocks -> a 64x64
    grayscale JPEG: doc_id%2==0 baseline with restart markers every 2
    MCU rows, ==1 progressive (SOF2: spectral selection + successive
    approximation, in-scan restarts) — the full marker walk / DHT
    Huffman decode / multi-scan coefficient accumulation / dequantize /
    IDCT pipeline runs for real, and each byte's luma comes back exactly
    64 times, so mean/std equal the byte stats and histogram counts are
    the byte counts x64 — which is what the oracle computes from the
    text, identically for both containers. Any drift in the Huffman
    coder, zigzag, quantizer, DCT, EOB-run bookkeeping, refinement-bit
    order, or restart handling fails the gate."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import image_features

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        # single-split parquet at bench scale would run the Python
        # codec stage on one core (the char_shingles local-mode caveat,
        # SCALE.md); on a cluster the scan already has splits
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.minijpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                vals = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(8, 8)
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                content.append(
                    encode_jpeg(img, restart_interval=16)
                    if int(did) % 2 == 0
                    else encode_jpeg_progressive(img, restart_interval=16)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_jpeg_features",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    feats = image_features(imgs, payload_col="content", id_col="doc_id", fake=False)
    return feats.select(
        "doc_id",
        F.element_at("feat", 1).alias("px_mean"),
        F.element_at("feat", 2).alias("px_std"),
        F.element_at("feat", 3).alias("b0"),
        F.element_at("feat", 4).alias("b1"),
        F.element_at("feat", 5).alias("b2"),
        F.element_at("feat", 6).alias("b3"),
    )


@register(
    "mm_video_features",
    """
    WITH bytes AS (
        SELECT doc_id, CAST(fr AS BIGINT) AS frame_number,
               ascii(substr(rpad(substr(text, 1, 64), 64, ' '),
                            CAST(fr * 16 + i AS INT), 1)) AS v
        FROM documents,
             unnest([0, 2]) AS uf(fr),
             unnest(range(1, 17)) AS u(i)
    ),
    stats AS (
        SELECT doc_id, frame_number,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean,
               CAST(sum(v * v) AS DOUBLE) / count(*) AS msq,
               CAST(sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS b0,
               CAST(sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b1,
               CAST(sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS b2,
               CAST(sum(CASE WHEN v // 64 >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS b3
        FROM bytes GROUP BY doc_id, frame_number
    )
    SELECT doc_id, frame_number, round(mean, 6) AS px_mean,
           round(sqrt(greatest(msq - mean * mean, 0)), 6) AS px_std,
           b0, b1, b2, b3
    FROM stats
    """,
)
def mm_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO path, REAL container demux under a hash gate,
    across BOTH supported containers.

    Each document's first 64 text bytes become a 4-frame 4x4 video
    (frame f = bytes [16f, 16f+16), luma exactly v) — doc_id%2==0
    muxed as uncompressed-DIB AVI (miniavi.encode_avi), ==1 as a
    full-redraw animated GIF (minigif.encode_gif_frames: real LZW per
    frame, gray-ramp palette). video_frame_features demuxes either
    container, samples every 2nd frame (0 and 2) BEFORE decoding, and
    computes the integer-exact stats. The oracle reproduces the same
    numbers straight from the text bytes — identical regardless of
    container — so the whole mux -> chunk-walk -> frame-decode ->
    sample -> feature path must be bit-exact in both formats, and the
    skipped frames (1, 3) must actually be skipped or the hash
    diverges."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import video_frame_features

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        # single-split parquet at bench scale would run the Python
        # codec stage on one core (the char_shingles local-mode caveat,
        # SCALE.md); on a cluster the scan already has splits
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.miniavi import encode_avi
        from unstract_spark.operators.minigif import encode_gif_frames

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                vals = np.frombuffer(s.encode("ascii"), dtype=np.uint8)
                frames = [vals[f * 16 : (f + 1) * 16].reshape(4, 4) for f in range(4)]
                if int(did) % 2 == 0:
                    content.append(encode_avi(frames, fps=10))
                else:
                    content.append(encode_gif_frames(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    vids = _fixture_parquet(
        spark, sf_dir, "mm_video_features",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    feats = video_frame_features(vids, payload_col="content", id_col="doc_id", every_n=2)
    return feats.select(
        "doc_id",
        "frame_number",
        F.element_at("feat", 1).alias("px_mean"),
        F.element_at("feat", 2).alias("px_std"),
        F.element_at("feat", 3).alias("b0"),
        F.element_at("feat", 4).alias("b1"),
        F.element_at("feat", 5).alias("b2"),
        F.element_at("feat", 6).alias("b3"),
    )


_MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05


def _mixture_sample_sql() -> str:
    """SQL twin of export.mixture_sample: same sha256-derived u32 and
    the same integer thresholds (floor(frac * 2^32)), so keep/drop
    decisions agree row-for-row."""
    cases = " ".join(
        f"WHEN source = '{g}' THEN {int(f * 4294967296)}"
        for g, f in _MIX_FRACTIONS.items()
    )
    return f"""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               CAST('0x' || substr(sha256('mix' || CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id, source, n_chars FROM h
    WHERE hv < (CASE {cases} ELSE {int(_MIX_DEFAULT * 4294967296)} END)
    """


@register(
    "ex_stratified_sample",
    """
    WITH h AS (
        SELECT doc_id, source, lang,
               CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (PARTITION BY source, lang
                                  ORDER BY hv ASC, doc_id ASC) AS rn
        FROM h
    ) WHERE rn <= 5
    """,
)
def ex_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (export.stratified_sample):
    exactly min(5, |stratum|) docs per (source, lang) stratum, chosen
    as the smallest portable-hash values — a reproducible reservoir
    for balanced eval/seed sets. One per-stratum window, id
    tie-breaks; the oracle reproduces membership from the same sha256
    math."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return export.stratified_sample(d, ["source", "lang"], 5)


@register(
    "ex_shard_assignment",
    """
    WITH h AS (
        SELECT doc_id, source,
               CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id, source, CAST(hv % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 8
                                   ORDER BY hv ASC, doc_id ASC) - 1
                AS INTEGER) AS shard_pos
    FROM h
    """,
)
def ex_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export sharding (export.deterministic_shards): shard
    membership = content-hash modulo, intra-shard order = total order
    on (hash, id) — globally shuffled yet byte-reproducible, which is
    what makes the export resumable. The window partitions by shard
    (8 independent sorts, no global sort); the oracle reproduces both
    the assignment and the positions from the same sha256 math."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return export.deterministic_shards(d, n_shards=8).select(
        "doc_id", "source", "shard", "shard_pos"
    )


@register(
    "ex_length_mixture",
    r"""
    WITH b AS (
        SELECT CASE WHEN n < 64 THEN 's'
                    WHEN n < 256 THEN 'm'
                    WHEN n < 1024 THEN 'l'
                    ELSE 'xl' END AS length_bin,
               n AS n_tokens
        FROM (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS n
              FROM documents)
    ),
    per AS (
        SELECT length_bin, count(*) AS n_docs, sum(n_tokens) AS bin_tokens
        FROM b GROUP BY length_bin
    ),
    tot AS (SELECT sum(n_tokens) AS corpus_tokens FROM b)
    SELECT length_bin, n_docs, CAST(bin_tokens AS BIGINT) AS bin_tokens,
           round(CAST(bin_tokens AS DOUBLE) / corpus_tokens, 6) AS token_share,
           CAST(100000 * bin_tokens // corpus_tokens AS BIGINT) AS budget_alloc
    FROM per CROSS JOIN tot
    """,
)
def ex_length_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-binned mixture plan (export.length_mixture_plan):
    token-share per curriculum bin + integer-exact budget allocation
    (budget * bin_tokens DIV corpus_tokens)."""
    return export.length_mixture_plan(
        _t(spark, sf_dir, "documents"), budget_tokens=100_000
    )


@register(
    "ex_pack_segments",
    """
    WITH h AS (
        SELECT doc_id, n_chars,
               CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM documents
    ),
    laid AS (
        SELECT doc_id, n_chars, CAST(hv % 4 AS INTEGER) AS shard,
               sum(n_chars) OVER (PARTITION BY hv % 4
                                  ORDER BY hv ASC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) - n_chars AS off
        FROM h
    ),
    p AS (SELECT doc_id, n_chars, shard, CAST(off AS BIGINT) AS off
          FROM laid WHERE n_chars > 0)
    SELECT doc_id, shard, CAST(u.s AS BIGINT) AS seg_id,
           CAST(u.s - off // 4096 AS INT) AS piece_no,
           greatest(u.s * 4096 - off, 0) AS piece_start,
           least(off + n_chars, (u.s + 1) * 4096)
               - greatest(off, u.s * 4096) AS piece_len
    FROM p, unnest(range(off // 4096, (off + n_chars - 1) // 4096 + 1)) AS u(s)
    """,
)
def ex_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-splitting segment packer (export.segment_pieces): the
    shard token stream cut into exact 4096-budget segments, long docs
    contributing continuation pieces (piece_no > 0) to every segment
    they cross — integer-exact piece offsets/lengths gated against the
    oracle's arithmetic on the same sha-ordered layout."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return export.segment_pieces(
        d, budget=4096, len_col="n_chars", n_shards=4
    )


@register(
    "ex_token_packing",
    """
    WITH h AS (
        SELECT doc_id, n_chars,
               CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM documents
    ),
    laid AS (
        SELECT doc_id, n_chars, CAST(hv % 4 AS INTEGER) AS shard,
               sum(n_chars) OVER (PARTITION BY hv % 4
                                  ORDER BY hv ASC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) - n_chars AS pack_off
        FROM h
    )
    SELECT doc_id, n_chars, shard, CAST(pack_off AS BIGINT) AS pack_off,
           CAST(floor(CAST(pack_off AS DOUBLE) / 4096) AS BIGINT) AS pack_id
    FROM laid
    """,
)
def ex_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (export.pack_sequences): rows laid out in the
    deterministic shuffle order per shard, running-cumsum offsets,
    pack = budget window the row STARTS in. One window per shard —
    4 independent cumsums, no global sort. The oracle reproduces
    offsets and pack ids exactly."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return export.pack_sequences(d, budget=4096, len_col="n_chars", n_shards=4).select(
        "doc_id", "n_chars", "shard", "pack_off", "pack_id"
    )


def _corpus_prep_sql() -> str:
    """SQL twin of the full prep chain: same mixture thresholds, same
    quality-score terms as ta_quality_score, keeper = min id per
    sha256(text), same shard/pack math as ex_token_packing."""
    cases = " ".join(
        f"WHEN source = '{g}' THEN {int(f * 4294967296)}"
        for g, f in _MIX_FRACTIONS.items()
    )
    return f"""
    WITH sampled AS (
        SELECT doc_id, text, source, n_chars FROM documents
        WHERE CAST('0x' || substr(sha256('mix' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT)
              < (CASE {cases} ELSE {int(_MIX_DEFAULT * 4294967296)} END)
    ),
    feats AS (
        SELECT doc_id, length(text) AS nc,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nt,
               len(regexp_extract_all(text, '[.,;:!?]')) AS np,
               len(regexp_extract_all(text, '[0-9]')) AS nd
        FROM sampled
    ),
    good AS (
        SELECT doc_id FROM feats
        WHERE (CASE WHEN nc BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END
               + CASE WHEN nc / greatest(nt, 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
               + CASE WHEN np / greatest(nc, 1) <= 0.2 THEN 1.0 ELSE 0.0 END
               + CASE WHEN nd / greatest(nc, 1) <= 0.3 THEN 1.0 ELSE 0.0 END) / 4.0
              >= 0.75
    ),
    kept AS (SELECT s.* FROM sampled s JOIN good g USING (doc_id)),
    keepers AS (
        SELECT k.* FROM kept k
        JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)) d
        USING (doc_id)
    ),
    laid AS (
        SELECT doc_id, source, CAST(hv % 4 AS INTEGER) AS shard,
               sum(n_chars) OVER (PARTITION BY hv % 4
                                  ORDER BY hv ASC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) - n_chars AS pack_off
        FROM (SELECT keepers.*,
                     CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) AS hv
              FROM keepers)
    )
    SELECT doc_id, source, shard, CAST(pack_off AS BIGINT) AS pack_off,
           CAST(floor(CAST(pack_off AS DOUBLE) / 4096) AS BIGINT) AS pack_id
    FROM laid
    """


@register("ex_corpus_prep", _corpus_prep_sql())
def ex_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data prep chain as ONE Catalyst plan,
    under ONE hash gate: mixture-sample (pushed-down hash filter) ->
    quality filter (ta_quality_score semantics, score >= 0.75) ->
    exact-dedup keeper selection (min id per content sha) ->
    deterministic shard + linear pack layout. Every stage is an
    operator already gated in isolation; this gate proves they COMPOSE
    — same sampling salt, same score terms, same shard/pack math —
    with no materialization barriers between stages."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source", "n_chars")
    sampled = export.mixture_sample(
        d, _MIX_FRACTIONS, group_col="source", default_fraction=_MIX_DEFAULT
    )
    good = (
        text_analysis.quality_features(sampled)
        .filter(F.col("quality_score") >= 0.75)
        .select("doc_id")
    )
    kept = sampled.join(good, "doc_id")
    keepers = kept.join(
        dedup.exact_dedup_groups(kept).select(F.col("keeper_id").alias("doc_id")),
        "doc_id",
    )
    packed = export.pack_sequences(keepers, budget=4096, len_col="n_chars", n_shards=4)
    return packed.select("doc_id", "source", "shard", "pack_off", "pack_id")


@register("ex_mixture_sample", _mixture_sample_sql())
def ex_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing (export.mixture_sample): per-source keep rates
    applied as a key-stable hash filter — a pure pushed-down filter,
    no shuffle, identical decisions on every run/engine."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return export.mixture_sample(
        d, _MIX_FRACTIONS, group_col="source", default_fraction=_MIX_DEFAULT
    )


@register(
    "mm_resize_pixels",
    """
    SELECT doc_id, 8 AS width, 8 AS height, 1 AS channels,
           base64(encode(rpad(substr(text, 1, 64), 64, ' '))) AS pixels_b64
    FROM documents
    """,
)
def mm_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize path, REAL decode + box-downscale under a
    byte-for-byte hash gate: each document's first 64 text bytes render
    as a 64x64 image of constant 8x8 blocks — doc_id%4==0 as PGM, ==1
    as gray PNG (filters 0-4 cycled), ==2 as baseline JPEG (DC-only,
    exact round trip), ==3 as GIF89a (real LZW, lossless palette) —
    then `resize_images(factor=8)` box-averages each block back to one
    pixel. The resized buffer must equal the original text bytes
    exactly, which is what the oracle asserts via base64. Gates decode
    AND the integer box kernel across all four containers."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import resize_images

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"))
        # single-split parquet at bench scale would run the Python
        # codec stage on one core (the char_shingles local-mode caveat,
        # SCALE.md); on a cluster the scan already has splits
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.minigif import encode_gif
        from unstract_spark.operators.minijpeg import encode_jpeg
        from unstract_spark.operators.multimodal import encode_pgm, encode_png

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                vals = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(8, 8)
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                m = int(did) % 4
                if m == 0:
                    content.append(encode_pgm(img))
                elif m == 1:
                    content.append(encode_png(img))
                elif m == 2:
                    content.append(encode_jpeg(img))
                else:
                    content.append(encode_gif(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_resize_pixels",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    resized = resize_images(imgs, factor=8, payload_col="content", id_col="doc_id", fake=False)
    return resized.select(
        "doc_id",
        "width",
        "height",
        "channels",
        # Spark's base64 emits MIME 76-char line folds; strip to match
        # DuckDB's unfolded spelling
        F.regexp_replace(F.base64("pixels"), "\r\n", "").alias("pixels_b64"),
    )


@register(
    "mm_image_tiles",
    """
    WITH px AS (
        SELECT doc_id,
               CAST((i - 1) // 16 // 4 AS INT) AS tile_row,
               CAST(((i - 1) % 16) // 4 AS INT) AS tile_col,
               ascii(substr(rpad(substr(text, 1, 256), 256, ' '),
                            CAST(i AS INT), 1)) AS v
        FROM documents, unnest(range(1, 257)) AS u(i)
    )
    SELECT doc_id, tile_row, tile_col,
           4 AS tile_h, 4 AS tile_w,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(sum(v) // 16 AS BIGINT) AS px_mean_floor
    FROM px GROUP BY 1, 2, 3
    """,
)
def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction under an integer-exact gate: each
    doc's first 256 text bytes render as a REAL 16x16 image (PGM for
    even doc_ids, PNG for odd — decode is exercised, not faked), then
    multimodal.tile_images cuts the 4x4 patch grid and emits per-patch
    int64 sums / floor-means. The oracle recomputes every patch sum
    straight from the byte values and the tile GEOMETRY (row-major
    4-pixel blocks), so a transposed patch index, an off-by-one tile
    boundary, or any decoder drift fails the hash."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import tile_images

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.rpad(F.substring("text", 1, 256), 256, " ").alias("s")
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.multimodal import encode_pgm, encode_png

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                img = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(
                    16, 16
                )
                content.append(
                    encode_pgm(img) if int(did) % 2 == 0 else encode_png(img)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_image_tiles",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    tiles = tile_images(imgs, tile=4, payload_col="content", id_col="doc_id",
                        fake=False)
    return tiles.select(
        "doc_id", "tile_row", "tile_col", "tile_h", "tile_w", "px_sum",
        "px_mean_floor",
    )


@register(
    "mm_image_dedup",
    """
    WITH px AS (
        SELECT doc_id,
               CAST((i - 1) // 16 // 4 AS INT) * 4
                   + CAST(((i - 1) % 16) // 4 AS INT) AS tile_idx,
               ascii(substr(rpad(substr(text, 1, 256), 256, ' '),
                            CAST(i AS INT), 1)) AS v
        FROM documents, unnest(range(1, 257)) AS u(i)
    ),
    tiles AS (
        SELECT doc_id, tile_idx, CAST(sum(v) AS BIGINT) AS tsum
        FROM px GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, sum(tsum) AS total FROM tiles GROUP BY 1),
    fp AS (
        SELECT t.doc_id,
               CAST(sum(CASE WHEN t.tsum * 16 >= o.total
                             THEN CAST(1 AS BIGINT) << t.tile_idx
                             ELSE 0 END) AS BIGINT) AS ahash
        FROM tiles t JOIN tot o USING (doc_id)
        GROUP BY t.doc_id
    )
    SELECT ahash, count(*) AS n_images, min(doc_id) AS keeper_id
    FROM fp GROUP BY ahash
    """,
)
def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE dedup (average hash, Krawetz 2011): decode
    each 16x16 image (real PGM/PNG), cut the 4x4 tile grid
    (multimodal.tile_images — the same gated extractor), fingerprint =
    one bit per tile (tile mean >= image mean, INTEGER-EXACT:
    tsum*16 >= total avoids any division), and group by the 16-bit
    hash — near-duplicate image clusters with min-id keepers. This is
    the image twin of exact_dedup_groups: at 100 TB the fingerprint is
    a groupBy key (uniform, bounded cardinality), never a pairwise
    compare; the decode fan-out is the only Python stage."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import tile_images

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.rpad(F.substring("text", 1, 256), 256, " ").alias("s")
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.multimodal import encode_pgm, encode_png

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                img = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(
                    16, 16
                )
                content.append(
                    encode_pgm(img) if int(did) % 2 == 0 else encode_png(img)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_image_dedup",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    # tiles feeds TWO consumers (the per-image total and the bit sum);
    # without a materialization each re-runs the encode+decode Python
    # stages — localCheckpoint, not persist (CacheManager-leak lesson)
    tiles = tile_images(
        imgs, tile=4, payload_col="content", id_col="doc_id", fake=False
    ).localCheckpoint(eager=True)
    tot = tiles.groupBy("doc_id").agg(F.sum("px_sum").alias("total"))
    fp = (
        tiles.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("px_sum") * 16 >= F.col("total"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), tile_row * 4 + tile_col)"
                    ),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("ahash")
        )
    )
    return fp.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("keeper_id"),
    )


@register(
    "a1_usage_by_model",
    """
    WITH u AS (
        SELECT CASE WHEN l_returnflag = 'N' THEN 'llm' ELSE 'embedding' END AS usage_type,
               CASE WHEN l_linestatus = 'O' THEN ''
                    WHEN l_returnflag = 'R' THEN 'extraction'
                    ELSE 'challenge' END AS llm_usage_reason,
               'model-' || CAST(l_partkey % 3 AS VARCHAR) AS model_name,
               l_quantity AS prompt_tokens,
               l_linenumber AS completion_tokens,
               l_quantity + l_linenumber AS total_tokens,
               CAST(0 AS BIGINT) AS embedding_tokens,
               l_extendedprice / 1000 AS cost_in_dollars
        FROM lineitem
    )
    SELECT CASE WHEN llm_usage_reason = '' THEN usage_type
                ELSE llm_usage_reason || '_' || usage_type END AS bucket,
           model_name,
           sum(prompt_tokens) AS sum_input_tokens,
           CAST(sum(completion_tokens) AS BIGINT) AS sum_output_tokens,
           sum(total_tokens) AS sum_total_tokens,
           CAST(sum(embedding_tokens) AS BIGINT) AS sum_embedding_tokens,
           CAST(sum(CAST(round(cost_in_dollars * 1000000) AS BIGINT)) AS DOUBLE)
               / CAST(1000000 AS DOUBLE) AS sum_cost
    FROM u
    WHERE NOT (usage_type = 'llm' AND llm_usage_reason = '')
    GROUP BY 1, 2
    """,
)
def a1_usage_by_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model usage breakdown (A1 extension, reference
    usage_v2/helper.py:107-186) under the hash gate: lineitem projected
    into the usage-row shape (usage_type/reason/model/token columns —
    'O'-status rows get an EMPTY reason so the producer-bug drop-guard
    path is exercised), then the real operator groups, guards, and
    keys buckets as `<reason>_<type>` / bare type."""
    from unstract_spark.operators import usage

    l = _t(spark, sf_dir, "lineitem")
    usage_rows = l.select(
        F.when(F.col("l_returnflag") == "N", "llm")
        .otherwise("embedding")
        .alias("usage_type"),
        F.when(F.col("l_linestatus") == "O", "")
        .when(F.col("l_returnflag") == "R", "extraction")
        .otherwise("challenge")
        .alias("llm_usage_reason"),
        F.concat(F.lit("model-"), (F.col("l_partkey") % 3).cast("string")).alias(
            "model_name"
        ),
        F.col("l_quantity").alias("prompt_tokens"),
        F.col("l_linenumber").alias("completion_tokens"),
        (F.col("l_quantity") + F.col("l_linenumber")).alias("total_tokens"),
        F.lit(0).cast("long").alias("embedding_tokens"),
        (F.col("l_extendedprice") / 1000).alias("cost_in_dollars"),
    )
    return usage.usage_breakdown_by_model(usage_rows)


@register(
    "events_session_window",
    """
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                    ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window under the hash gate: per-user
    gap-30min sessions (start, end = last event + gap, counts, decimal-
    domain value sum) must equal the oracle's lag-diff sessionization.
    Boundary convention verified: an exactly-gap-sized difference MERGES
    (new session only when diff > gap), matching the oracle's strict
    `>`. This is the batch twin of
    streaming.incremental.session_window_aggregation — same expression,
    so the streaming operator's semantics are what the gate checks."""
    from unstract_spark.streaming.incremental import session_window_aggregation

    e = _t(spark, sf_dir, "events")
    return session_window_aggregation(
        e, gap="30 minutes", group_cols=("user_id",)
    )


@register(
    "li_continuation",
    """
    WITH fp AS (
        SELECT doc_id, md5(text) AS f FROM documents WHERE doc_id < 200
    ),
    n AS (
        SELECT doc_id, f,
               (('0x' || substr(md5(f), 1, 2))::INT % 10) + 1 AS n_items
        FROM fp
    )
    SELECT n.doc_id,
           CAST(u.i AS INT) AS line_no,
           substr(md5(f || ':' || CAST(u.i AS VARCHAR)), 1, 8) AS sku,
           n_items
    FROM n, unnest(range(0, n_items)) AS u(i)
    """,
)
def li_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-item continuation loop under the hash gate: the Spark side
    runs the REAL bounded driver loop (mock provider pages 4 items per
    call, docs carry md5-derived 1..10 items, so multi-round
    continuation is exercised), then explodes the stitched arrays; the
    oracle computes the complete per-doc item set directly. Identical
    rows prove the loop stitches pages without loss or duplication
    (reference line-item semantics: prompt_studio models.py:26-33,
    legacy_executor.py:2076-2162)."""
    from unstract_spark.operators import lineitems

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.md5("text").alias("fingerprint"))
    )
    out = lineitems.extract_line_items(docs, id_col="doc_id")
    items = out.select(
        "doc_id",
        "n_items",
        F.explode(
            F.from_json("line_items", "array<struct<line_no:int,sku:string>>")
        ).alias("it"),
    )
    return items.select(
        "doc_id",
        F.col("it.line_no").alias("line_no"),
        F.col("it.sku").alias("sku"),
        "n_items",
    )


# =====================================================================
# Full TPC-H query-shape suite (r7): the remaining 16 of the 22 TPC-H
# query shapes, adapted to the reduced synthetic schema.  Where a TPC-H
# column/table is absent (partsupp, l_shipmode, l_commitdate/
# l_receiptdate, c_phone, p_container, comments) the query keeps the
# PLAN SHAPE — scalar subqueries, semi/anti joins, conditional
# aggregation, disjunctive pushdown — over the columns that exist, and
# documents the substitution.  All money rollups go through the
# order-independent decimal domain (_dsum/_davg); every ranked output
# breaks ties on a unique key.
# =====================================================================


@register(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS ({partsupp.PS_SQL}),
    costs AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    m AS (SELECT ps_partkey, min(ps_supplycost) AS mc FROM costs GROUP BY 1)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           c.ps_supplycost AS min_supplycost
    FROM part p
    JOIN costs c ON c.ps_partkey = p.p_partkey
    JOIN m ON m.ps_partkey = p.p_partkey AND c.ps_supplycost = m.mc
    JOIN supplier s ON s.s_suppkey = c.ps_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2, the REAL shape over the derived PARTSUPP relation
    (operators/partsupp.py): for every size-15 part, the EUROPE
    supplier(s) offering it at the minimum supply cost.  The
    correlated min-cost scalar subquery decorrelates into a grouped
    min + equality join-back — the reference TPC-H plan — with the
    region/nation/supplier dimension chain broadcast on the cost side.
    ps_supplycost is a per-row IEEE division (min + equality are
    exact); it is emitted RAW, never rounded (double rounding at a .5
    boundary is engine-dependent).  (part, supplier) is unique in
    partsupp, so the join-back needs no DISTINCT."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    ps = partsupp.derive(_t(spark, sf_dir, "lineitem"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    costs = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost")
    )
    m = costs.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("mc"))
    return (
        p.join(costs, p.p_partkey == costs.ps_partkey)
        .join(
            m.withColumnRenamed("ps_partkey", "m_partkey"),
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .join(F.broadcast(s), F.col("ps_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").alias("min_supplycost"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-filter-aggregate — every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan; a single partial+final decimal-domain sum, no shuffle of any
    width beyond the 1-row exchange."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q8_market_share",
    """
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(
             CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_3'
                           THEN l.l_extendedprice * (1 - l.l_discount)
                           ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n2.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the share of ASIA-region
    PROMO-part revenue supplied by NATION_3, per order year.  Five
    broadcast dimension joins around the lineitem-orders shuffle join;
    numerator and denominator are decimal-domain sums so the final
    double ratio is bit-identical cross-engine."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat_vol.cast("decimal(18,6)")).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - 0.1 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp — 10% of retail price per unit
    stands in for ps_supplycost): profit on widget parts by supplier
    nation and order year.  The p_name LIKE filter prunes the part
    dimension before the broadcast; profit is a single decimal-domain
    expression so the rollup is order-independent."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(_dsum(profit).alias("sum_profit"))
    )


@register(
    "q11_important_parts",
    f"""
    WITH ps AS ({partsupp.PS_SQL}),
    v AS (
        SELECT ps.ps_partkey, sum(ps.ps_value) AS val
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY 1
    ),
    t AS (SELECT sum(val) AS total FROM v)
    SELECT v.ps_partkey AS p_partkey,
           CAST(round(v.val, 2) AS DOUBLE) AS part_value
    FROM v, t
    WHERE CAST(v.val AS DOUBLE) > 0.0008 * CAST(t.total AS DOUBLE)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 over the derived PARTSUPP relation: parts whose
    NATION_3-supplied stock value (ps_value, the partsupp value
    fraction) exceeds 0.08% of the national total — the reference
    plan's value-fraction shape.  The scalar subquery is a 1-row
    broadcast cross join — no driver collect; per-part values and the
    total are exact decimal sums so the HAVING boundary is identical
    cross-engine.  (ps_value aggregated per part equals the direct
    lineitem sum — the partsupp grain refines it, so the re-spell kept
    the original query's hashes.)"""
    ps = partsupp.derive(_t(spark, sf_dir, "lineitem"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("ps_partkey")
        .agg(F.sum("ps_value").alias("val"))
    )
    t = v.agg(F.sum("val").alias("total"))
    return (
        v.join(F.broadcast(t))
        .filter(F.col("val").cast("double") > 0.0008 * F.col("total").cast("double"))
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            F.round("val", 2).cast("double").alias("part_value"),
        )
    )


@register(
    "q12_ship_priority_class",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode — l_linestatus is the class
    column): conditional counts of high- vs low-priority orders per
    line class in a ship-date window.  Pure conditional aggregation
    after one shuffle join; the date filter pushes to the scan."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    """
    WITH co AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY 1
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution — outer join with
    an ON-clause filter (the comment NOT LIKE analog is a priority
    exclusion; the filter must live in the join condition, not a WHERE,
    to preserve zero-order customers), then a double aggregation.
    Exact integer counts end-to-end."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue",
    """
    SELECT round(
             100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one ship month — conditional
    decimal sum over unconditional decimal sum, one broadcast join,
    single-row output."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.sum(promo.cast("decimal(18,6)")).cast("double")
            / F.sum(vol.cast("decimal(18,6)")).cast("double"),
            4,
        ).alias("promo_revenue")
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY 1
    ),
    m AS (SELECT max(total_revenue) AS mx FROM rev)
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    CROSS JOIN m
    WHERE rev.total_revenue = m.mx
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue — the view + scalar
    max + equality join-back (returns ALL ties, as the spec requires).
    Revenue is rounded in the exact decimal domain before the max, so
    the tie boundary is deterministic cross-engine; the 1-row max is a
    broadcast cross join, not a driver collect."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    m = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(m))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_cnt",
    f"""
    WITH ps AS ({partsupp.PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#12'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16, the real shape over the derived PARTSUPP relation
    (negative account balance is the complaints analog): distinct
    supplier count per (brand, type, size) over an excluded-brand,
    size-list part filter, minus black-listed suppliers via a
    broadcast anti-join (the decorrelated NOT IN).  Counting over
    partsupp instead of raw lineitem pre-shrinks the distinct input to
    the (part, supplier) grain — same exact counts, smaller shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    ps = partsupp.derive(_t(spark, sf_dir, "lineitem"))
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    """
    WITH li AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#12'
    ),
    a AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) AS avg_qty
        FROM li GROUP BY 1
    )
    SELECT round(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,6)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM li JOIN a ON a.l_partkey = li.l_partkey
    WHERE li.l_quantity < 0.2 * a.avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity revenue — the correlated per-part
    average-quantity subquery, decorrelated into a grouped aggregate
    and an equi-join back.  The per-part mean is an exact decimal sum
    over an exact count, so the 0.2× threshold comparison is
    bit-identical cross-engine."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    l = _t(spark, sf_dir, "lineitem")
    li = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    a = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(a), li.l_partkey == a.a_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 200
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty,
           rnk
    FROM (
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, big.sum_qty,
               CAST(row_number() OVER (
                    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS INT) AS rnk
        FROM big
        JOIN orders o   ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
    ) WHERE rnk <= 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — the grouped HAVING subquery
    (sum of quantity per order above a threshold, exact decimal sum),
    joined back to orders/customer, global top-100 by order value with
    an orderkey tie-break (TakeOrderedAndProject, no full sort)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 200)
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#18' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the disjunctive predicate query — three OR'd
    brand/size/quantity branches.  Catalyst extracts the common
    join key and pushes the brand/size disjunction to the part scan;
    the residual mixed predicate evaluates post-join inside codegen."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    br = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#18")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(br)
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q20_part_promotion",
    f"""
    WITH ps AS ({partsupp.PS_SQL}),
    shipped AS (
        SELECT l.l_partkey, l.l_suppkey,
               sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS qty97
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    picked AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM ps JOIN shipped sh
          ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
        WHERE 2 * sh.qty97 > ps.ps_availqty
    )
    SELECT s.s_name, n.n_name
    FROM picked
    JOIN supplier s ON s.s_suppkey = picked.ps_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    """,
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20, the real availqty-threshold shape over the derived
    PARTSUPP relation: suppliers who in 1997 shipped MORE THAN HALF of
    their all-time volume (ps_availqty, the stock stand-in) of some
    red part — the reference plan's correlated partsupp EXISTS,
    decorrelated into a grouped 1997 sum joined to partsupp on the
    (part, supplier) key, then a supplier semi-join (DISTINCT before
    the dimension joins).  The half-of-stock predicate is spelled
    2*qty97 > availqty: both sides exact decimal, no 0.5 literal
    (DuckDB parses 0.5 as DECIMAL, Spark as double — an engine-domain
    divergence the doubling avoids)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    l97 = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    ps = partsupp.derive(_t(spark, sf_dir, "lineitem"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    shipped = (
        l97.join(F.broadcast(p), l97.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty97")
        )
    )
    picked = (
        ps.join(
            shipped,
            (shipped.l_partkey == ps.ps_partkey)
            & (shipped.l_suppkey == ps.ps_suppkey),
        )
        .filter(F.lit(2) * F.col("qty97") > F.col("ps_availqty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        picked.join(F.broadcast(s), picked.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "q21_waiting_supplier",
    """
    WITH base AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey, l.l_returnflag
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_supp_r
        FROM base GROUP BY 1
    )
    SELECT s_name, numwait, rnk FROM (
        SELECT s.s_name, count(*) AS numwait,
               CAST(row_number() OVER (
                    ORDER BY count(*) DESC, s.s_name ASC) AS INT) AS rnk
        FROM base b
        JOIN per_order po ON po.l_orderkey = b.l_orderkey
        JOIN supplier s   ON s.s_suppkey = b.l_suppkey
        WHERE b.l_returnflag = 'R'
          AND po.n_supp > 1 AND po.n_supp_r = 1
        GROUP BY 1
    ) WHERE rnk <= 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates — a returned line in a
    finished order marks the 'late' supplier): suppliers who were the
    ONLY supplier with a returned line in a multi-supplier order.  The
    EXISTS (another supplier participated) and NOT EXISTS (no other
    supplier returned) pair is decorrelated into one per-order
    aggregate — n_supp > 1 ∧ n_supp_r = 1 — replacing two correlated
    self-joins with a single shuffle."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .distinct()
    )
    per_order = base.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    waiting = (
        base.filter(F.col("l_returnflag") == "R")
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    w = Window.orderBy(F.col("numwait").desc(), F.col("s_name").asc())
    return (
        waiting.orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH sel AS (
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    a AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) AS avg_bal
        FROM sel WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS totacctbal
    FROM sel, a
    WHERE sel.c_acctbal > a.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = sel.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY 1
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nation key stands in for the phone country
    code; 'no recent orders' stands in for 'no orders ever', which the
    dense synthetic data never satisfies): above-average-balance
    customers in seven nations with no order in the last 13 months.
    Scalar average via 1-row broadcast cross join, anti-join for the
    NOT EXISTS, exact decimal mean so the balance cutoff is
    deterministic cross-engine."""
    sel = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-07-01")
        .select("o_custkey")
    )
    a = sel.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        sel.join(F.broadcast(a))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, sel.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "dd_span_removal",
    """
    WITH t AS (
        SELECT doc_id, text AS _t, CAST(length(text) AS BIGINT) AS _len
        FROM documents WHERE length(text) > 0
    ),
    pos AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS p,
               substr(_t, CAST(u.i AS INT), 16) AS g
        FROM t, unnest(range(1, _len - 16 + 2)) AS u(i)
        WHERE _len >= 16
    ),
    dg AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
    m AS (SELECT doc_id, p AS s, p + 15 AS e FROM pos JOIN dg USING (g)),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
                    THEN 1 ELSE 0 END AS nw
        FROM m
        WINDOW w AS (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM isl
    ),
    rem AS (SELECT doc_id, grp, min(s) AS rs, max(e) AS re
            FROM isl2 GROUP BY 1, 2),
    bef AS (
        SELECT doc_id,
               coalesce(lag(re) OVER (PARTITION BY doc_id ORDER BY rs), 0) + 1
                   AS ks,
               rs - 1 AS ke
        FROM rem
    ),
    tl AS (
        SELECT rem.doc_id, max(rem.re) + 1 AS ks, t._len AS ke
        FROM rem JOIN t USING (doc_id) GROUP BY rem.doc_id, t._len
    ),
    unt AS (
        SELECT t.doc_id, CAST(1 AS BIGINT) AS ks, t._len AS ke
        FROM t WHERE NOT EXISTS (SELECT 1 FROM rem WHERE rem.doc_id = t.doc_id)
    ),
    kept AS (
        SELECT * FROM bef UNION ALL SELECT * FROM tl UNION ALL SELECT * FROM unt
    ),
    pieces AS (
        SELECT k.doc_id, k.ks,
               substr(t._t, CAST(k.ks AS INT), CAST(k.ke - k.ks + 1 AS INT))
                   AS piece
        FROM kept k JOIN t USING (doc_id) WHERE k.ke >= k.ks
    ),
    cln AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ks) AS cleaned_text
        FROM pieces GROUP BY 1
    ),
    st AS (
        SELECT doc_id, count(*) AS n_spans,
               CAST(sum(re - rs + 1) AS BIGINT) AS removed_chars
        FROM rem GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(st.removed_chars, 0) AS BIGINT) AS removed_chars,
           CAST(t._len - coalesce(st.removed_chars, 0) AS BIGINT) AS cleaned_len,
           coalesce(cln.cleaned_text, '') AS cleaned_text
    FROM t
    LEFT JOIN st  ON st.doc_id = t.doc_id
    LEFT JOIN cln ON cln.doc_id = t.doc_id
    """,
)
def dd_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact duplicated-span REMOVAL
    (dedup.remove_duplicated_spans) — the end-to-end Lee et al. 2022
    step on top of the detection queries: every 16-gram occurring >= 2
    times in the corpus marks its span, overlapping spans merge via
    gaps-and-islands, the complement reassembles into the cleaned
    document.  The oracle rebuilds the whole pipeline relationally —
    hash equality covers the island merge, the complement derivation,
    AND the reassembled cleaned strings character-for-character."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.remove_duplicated_spans(d, k=16, min_count=2)
    return out.select(
        "doc_id",
        F.col("n_spans").cast("long"),
        F.col("removed_chars").cast("long"),
        F.col("cleaned_len").cast("long"),
        "cleaned_text",
    )


@register(
    "ta_heavy_hitters_cms",
    r"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ),
    ww AS (SELECT w FROM w WHERE w <> ''),
    ex AS (SELECT w, count(*) AS c FROM ww GROUP BY 1),
    top AS (
        SELECT w, c,
               CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS INT) AS rnk
        FROM ex QUALIFY rnk <= 20
    ),
    wj AS (
        SELECT w, CAST(u.j AS INT) AS j
        FROM ww, unnest([0, 1, 2, 3]) AS u(j)
    ),
    cnts AS (
        SELECT j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))::BIGINT
                   % 1024 AS bucket,
               count(*) AS cnt
        FROM wj GROUP BY 1, 2
    ),
    tj AS (
        SELECT t.w, t.c, t.rnk, CAST(u.j AS INT) AS j
        FROM top t, unnest([0, 1, 2, 3]) AS u(j)
    )
    SELECT tj.w AS word, tj.c AS exact_cnt, min(cnts.cnt) AS cms_est, tj.rnk
    FROM tj
    JOIN cnts ON cnts.j = tj.j
             AND cnts.bucket =
                 ('0x' || substr(md5(CAST(tj.j AS VARCHAR) || ':' || tj.w), 1, 8))
                     ::BIGINT % 1024
    GROUP BY 1, 2, 4
    """,
)
def ta_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (text_analysis.count_min_sketch /
    cms_lookup): the 4x1024 counter matrix is built over the whole
    corpus (fixed-size mergeable state — THE sketch property the gate
    certifies), then the top-20 exact tokens are point-estimated
    against it.  The oracle rebuilds the identical md5-derived sketch
    relationally, so the hash gate pins the hash-row derivation, the
    bucket arithmetic, and the min-combine.  cms_est >= exact_cnt by
    construction; equality where no collision landed."""
    from unstract_spark.operators.text_analysis import cms_lookup, count_min_sketch

    d = _t(spark, sf_dir, "documents")
    counters = count_min_sketch(d, depth=4, width=1024)
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    ex = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    w_rnk = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    top = (
        ex.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(20)
        .withColumn("rnk", F.row_number().over(w_rnk).cast("int"))
    )
    est = cms_lookup(counters, top, term_col="w", width=1024)
    return est.select(
        F.col("w").alias("word"),
        F.col("c").alias("exact_cnt"),
        "cms_est",
        "rnk",
    )


@register(
    "agg_percentiles",
    """
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           max(CASE WHEN rn = CAST(floor(0.5  * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1
                    THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.9  * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1
                    THEN o_totalprice END) AS p90,
           max(CASE WHEN rn = CAST(floor(0.99 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1
                    THEN o_totalprice END) AS p99
    FROM r GROUP BY 1
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (lower-index definition: the value
    at sorted position floor(q*(n-1))+1, orderkey tie-break) — the
    deterministic twin of approx_percentile, which is sketch-based and
    NOT cross-engine gateable.  One per-group sort window + conditional
    max; emitted values are raw stored doubles, so no float drift
    exists anywhere.  At scale the native percentile_approx / KLL
    sketch replaces this; the exact variant is the calibration tool."""
    o = _t(spark, sf_dir, "orders")
    w_rn = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w_n = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )

    def pick(q: float):
        idx = (
            F.floor(F.lit(q) * (F.col("n") - 1).cast("double")).cast("long") + 1
        )
        return F.max(F.when(F.col("rn") == idx, F.col("o_totalprice")))

    return r.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        pick(0.99).alias("p99"),
    )


@register(
    "w4_running_totals",
    """
    SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS run_n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2)
                AS DOUBLE) AS run_total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w3 AS DOUBLE)
                 / count(*) OVER w3, 4) AS mov_avg3
    FROM orders
    WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def w4_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + moving window aggregates (§2.8's running-balance
    shape): per-customer running order count, running spend, and a
    3-order moving average, all framed on (orderdate, orderkey) so the
    prefix is unique and deterministic.  Sums run in the exact decimal
    domain — a cumulative DOUBLE sum is a different prefix rounding
    per engine, a cumulative decimal sum is exact at every row."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w3 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    tp = F.col("o_totalprice").cast("decimal(18,6)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).cast("long").alias("run_n"),
        F.round(F.sum(tp).over(w), 2).cast("double").alias("run_total"),
        F.round(
            F.sum(tp).over(w3).cast("double") / F.count(F.lit(1)).over(w3), 4
        ).alias("mov_avg3"),
    )


@register(
    "agg_string_agg",
    """
    SELECT n.n_name,
           count(*) AS n_cust,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS members
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY 1
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): high-balance customer
    roster per nation.  Spark has no ordered string_agg, so the
    deterministic spelling is collect_list -> array_sort -> array_join
    (sort inside the row, NOT in the shuffle — collect_list order is
    nondeterministic and must never be emitted raw)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "members"
            ),
        )
    )


@register(
    "events_time_features",
    """
    SELECT event_id,
           CAST(year(ts) AS INT)                   AS y,
           CAST(quarter(ts) AS INT)                AS q,
           CAST(month(ts) AS INT)                  AS m,
           CAST(dayofweek(ts) + 1 AS INT)          AS dow,
           CAST(hour(ts) AS INT)                   AS hr,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(ts AS DATE)) AS DATE)   AS month_end,
           CAST(date_add(CAST(ts AS DATE), 30) AS DATE) AS plus30
    FROM events
    WHERE event_id < 20000
    """,
)
def events_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature extraction — the date/time scalar surface
    (year/quarter/month/dayofweek/hour/date_trunc/last_day/date_add)
    every time-partitioned pipeline projects before bucketing.  DuckDB
    date_trunc returns DATE for month granularity, so the oracle casts
    back to TIMESTAMP (the standing cross-engine gotcha), and DuckDB's
    dayofweek is 0-based Sunday where Spark's is 1-based (+1 in the
    oracle)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    return e.select(
        "event_id",
        F.year("ts").cast("int").alias("y"),
        F.quarter("ts").cast("int").alias("q"),
        F.month("ts").cast("int").alias("m"),
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.date_trunc("month", "ts").alias("month_start"),
        F.last_day(F.col("ts").cast("date")).alias("month_end"),
        F.date_add(F.col("ts").cast("date"), 30).alias("plus30"),
    )


@register(
    "ta_bigram_logprob",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, ws[CAST(u.i AS INT)] AS w1,
               ws[CAST(u.i AS INT) + 1] AS w2
        FROM t, unnest(range(1, len(ws))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    w AS (SELECT doc_id, unnest(ws) AS w2 FROM t),
    wc AS (SELECT w2, count(*) AS wc FROM w GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM w),
    sc AS (
        SELECT bg.doc_id,
               ln(0.75 * c12.c12 / c1.c1 + 0.25 * wc.wc / tot.total) AS lp
        FROM bg
        JOIN c12 USING (w1, w2)
        JOIN c1  USING (w1)
        JOIN wc  USING (w2)
        CROSS JOIN tot
    ),
    agg AS (
        SELECT doc_id, count(*) AS nb,
               round(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 6) AS avg_logprob
        FROM sc GROUP BY 1
    )
    SELECT d.doc_id, CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bigrams,
           a.avg_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def ta_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram fluency score
    (text_analysis.bigram_logprob): Jelinek-Mercer
    0.75*p(w2|w1) + 0.25*p(w2), corpus-trained, decimal-domain per-doc
    mean — the rung above ta_unigram_logprob on the CCNet filter
    ladder.  The oracle rebuilds bigrams by list indexing; the Spark
    side slices+zips — identical pair sets gate both tokenizations."""
    d = _t(spark, sf_dir, "documents")
    return text_analysis.bigram_logprob(d)


@register(
    "dd_bloom_membership",
    """
    WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    hist AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0),
    bits AS (
        SELECT DISTINCT
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || f), 1, 8))
                ::BIGINT % 8192 AS bit
        FROM hist, unnest([0, 1, 2, 3]) AS u(j)
    ),
    probes AS (
        SELECT fp.doc_id,
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || fp.f), 1, 8))
                ::BIGINT % 8192 AS bit
        FROM fp, unnest([0, 1, 2, 3]) AS u(j)
    ),
    mem AS (
        SELECT p.doc_id,
               sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 4
                   AS maybe_seen
        FROM probes p LEFT JOIN bits b USING (bit) GROUP BY 1
    )
    SELECT fp.doc_id, mem.maybe_seen,
           fp.f IN (SELECT f FROM hist) AS exact_seen
    FROM fp JOIN mem USING (doc_id)
    """,
)
def dd_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter membership
    (dedup.bloom_filter_bits/bloom_membership): even-id docs form the
    history, every doc probes the 8192-bit/4-hash filter.  The gate
    pins the bit derivation, the all-k-bits conjunction, and the
    no-false-negative invariant (exact_seen implies maybe_seen row by
    row); false positives are data, not error — the m/k rate bound is
    the operator's documented contract.  At cluster scale Spark's
    native BloomFilterAggregate is the drop-in; this is its
    oracle-gateable twin."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5("text").alias("fingerprint"))
    hist = (
        fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint").distinct()
    )
    bits = dedup.bloom_filter_bits(hist, m=8192, k=4)
    mem = dedup.bloom_membership(fp, bits, m=8192, k=4)
    exact = fp.join(
        F.broadcast(hist.withColumn("seen", F.lit(1))), "fingerprint", "left"
    ).select("doc_id", F.col("seen").isNotNull().alias("exact_seen"))
    return mem.join(exact, "doc_id").select(
        "doc_id", "maybe_seen", "exact_seen"
    )


@register(
    "j11_full_outer_reconcile",
    """
    WITH hi AS (
        SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9500
    ),
    spend AS (
        SELECT o_custkey,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS spend
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY 1
    )
    SELECT coalesce(hi.c_custkey, spend.o_custkey) AS custkey,
           hi.c_name,
           spend.n_orders,
           spend.spend,
           hi.c_custkey IS NULL     AS missing_profile,
           spend.o_custkey IS NULL  AS missing_activity
    FROM hi FULL OUTER JOIN spend ON spend.o_custkey = hi.c_custkey
    """,
)
def j11_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation — the join type the registry lacked:
    high-balance customer profiles against recent order activity, with
    both null-marker columns (profile without activity, activity
    without profile).  One shuffle on the customer key; the coalesced
    key keeps the output keyed even for one-sided rows."""
    hi = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select("c_custkey", "c_name")
    )
    spend = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("spend"),
        )
    )
    return hi.join(spend, hi.c_custkey == spend.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
        "spend",
        F.col("c_custkey").isNull().alias("missing_profile"),
        F.col("o_custkey").isNull().alias("missing_activity"),
    )


@register(
    "graph_pagerank_fixed",
    """
    WITH raw AS (
        SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
                        's:' || CAST(l.l_suppkey AS VARCHAR) AS b
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
    ),
    e AS (SELECT a AS src, b AS dst FROM raw
          UNION SELECT b AS src, a AS dst FROM raw),
    deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg),
    p0 AS (SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS p
           FROM deg CROSS JOIN nn),
    i1 AS (SELECT e.dst AS node, sum(p0.p // d.deg) AS s
           FROM e JOIN p0 ON p0.node = e.src
                  JOIN deg d ON d.node = e.src
           GROUP BY 1),
    p1 AS (SELECT deg.node,
                  CAST(1000000000000 // (8 * nn.n)
                       + (7 * coalesce(i1.s, 0)) // 8 AS BIGINT) AS p
           FROM deg CROSS JOIN nn LEFT JOIN i1 ON i1.node = deg.node),
    i2 AS (SELECT e.dst AS node, sum(p1.p // d.deg) AS s
           FROM e JOIN p1 ON p1.node = e.src
                  JOIN deg d ON d.node = e.src
           GROUP BY 1),
    p2 AS (SELECT deg.node,
                  CAST(1000000000000 // (8 * nn.n)
                       + (7 * coalesce(i2.s, 0)) // 8 AS BIGINT) AS p
           FROM deg CROSS JOIN nn LEFT JOIN i2 ON i2.node = deg.node),
    i3 AS (SELECT e.dst AS node, sum(p2.p // d.deg) AS s
           FROM e JOIN p2 ON p2.node = e.src
                  JOIN deg d ON d.node = e.src
           GROUP BY 1),
    p3 AS (SELECT deg.node,
                  CAST(1000000000000 // (8 * nn.n)
                       + (7 * coalesce(i3.s, 0)) // 8 AS BIGINT) AS p
           FROM deg CROSS JOIN nn LEFT JOIN i3 ON i3.node = deg.node)
    SELECT node, p AS pr_fixed FROM p3
    """,
)
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (graph.pagerank_fixed, damping
    exactly 7/8, micro-unit BIGINT mass) over the recent
    customer-supplier interaction graph — the deterministic twin of
    float PageRank, which cannot be hash-gated (partial-sum order
    leaks into low bits).  Three iterations; the oracle unrolls them
    as CTEs, so rank equality certifies the edge symmetrization, the
    floor-division mass split, the damping arithmetic, and the
    teleport term bit for bit."""
    from unstract_spark.operators.graph import pagerank_fixed

    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    o = _t(spark, sf_dir, "orders")
    raw = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return pagerank_fixed(raw, iters=3)


@register(
    "graph_label_propagation",
    """
    WITH raw AS (
        SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
                        's:' || CAST(l.l_suppkey AS VARCHAR) AS b
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
    ),
    e AS (SELECT a AS src, b AS dst FROM raw
          UNION SELECT b AS src, a AS dst FROM raw),
    n AS (SELECT DISTINCT src AS node FROM e),
    l0 AS (SELECT node, node AS label FROM n),
    i1 AS (SELECT e.dst AS node, min(l0.label) AS nl
           FROM e JOIN l0 ON l0.node = e.src GROUP BY 1),
    l1 AS (SELECT l0.node, least(l0.label, coalesce(i1.nl, l0.label)) AS label
           FROM l0 LEFT JOIN i1 ON i1.node = l0.node),
    i2 AS (SELECT e.dst AS node, min(l1.label) AS nl
           FROM e JOIN l1 ON l1.node = e.src GROUP BY 1),
    l2 AS (SELECT l1.node, least(l1.label, coalesce(i2.nl, l1.label)) AS label
           FROM l1 LEFT JOIN i2 ON i2.node = l1.node),
    i3 AS (SELECT e.dst AS node, min(l2.label) AS nl
           FROM e JOIN l2 ON l2.node = e.src GROUP BY 1),
    l3 AS (SELECT l2.node, least(l2.label, coalesce(i3.nl, l2.label)) AS label
           FROM l2 LEFT JOIN i3 ON i3.node = l2.node)
    SELECT node, label AS community FROM l3
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round MIN-label propagation (graph.label_propagation)
    over the same recent customer-supplier graph as the PageRank twin:
    after 3 rounds every node carries the smallest node id within
    distance 3 — the deterministic, hash-gatable form of label
    propagation (classic frequency LPA breaks ties by arrival order
    and cannot be gated). String min over ASCII ids is identical in
    both engines; the oracle unrolls the 3 rounds as CTEs, so label
    equality certifies the symmetrization, the neighbor-min, and the
    self-vs-neighbor least() per round bit for bit."""
    from unstract_spark.operators.graph import label_propagation

    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    o = _t(spark, sf_dir, "orders")
    raw = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return label_propagation(raw, iters=3)


@register(
    "agg_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS bin_total
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (25k-wide bins): the
    classic distribution profile — floor of an exact-binary-divisor
    division buckets identically on both engines; bin mass in the
    decimal domain."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 25000.0).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("o_totalprice")).alias("bin_total"),
    )


@register(
    "ta_jsd_drift",
    r"""
    WITH w AS (
        SELECT doc_id % 2 = 0 AS in_a,
               unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT in_a, word FROM w WHERE word <> ''),
    cnt AS (
        SELECT word,
               sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS cb
        FROM w2 GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM cnt),
    pq AS (
        SELECT word, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
               CAST(ca AS DOUBLE) / tot.ta AS p,
               CAST(cb AS DOUBLE) / tot.tb AS q
        FROM cnt CROSS JOIN tot
    ),
    contrib AS (
        SELECT word, ca, cb,
               (CASE WHEN p > 0 THEN 0.5 * p * ln(p / (0.5 * (p + q)))
                     ELSE 0 END)
             + (CASE WHEN q > 0 THEN 0.5 * q * ln(q / (0.5 * (p + q)))
                     ELSE 0 END) AS c
        FROM pq
    ),
    total AS (
        SELECT round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 8)
            AS jsd_total
        FROM contrib
    )
    SELECT word, ca AS cnt_a, cb AS cnt_b,
           round(c, 8) AS contrib, rnk, total.jsd_total
    FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY round(c, 8) DESC, word ASC) AS INT) AS rnk
        FROM contrib
    ) CROSS JOIN total
    WHERE rnk <= 30
    """,
)
def ta_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift between two corpus slices (even vs odd
    doc ids — the dump-over-dump distribution-shift check a training
    pipeline runs before mixing): per-word JS contributions from exact
    count ratios, the top-30 drivers ranked on the ROUNDED
    contribution with a word tie-break, and the full-vocabulary JSD
    total summed in the decimal domain (carried on every row)."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    cnt = w.groupBy("word").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("cb"),
    )
    tot = cnt.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    pq = cnt.crossJoin(F.broadcast(tot)).select(
        "word",
        F.col("ca").cast("long").alias("ca"),
        F.col("cb").cast("long").alias("cb"),
        (F.col("ca").cast("double") / F.col("ta")).alias("p"),
        (F.col("cb").cast("double") / F.col("tb")).alias("q"),
    )
    m = 0.5 * (F.col("p") + F.col("q"))
    c = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)).otherwise(
        F.lit(0.0)
    )
    contrib = pq.select("word", "ca", "cb", c.alias("c")).localCheckpoint(
        eager=True
    )
    total = contrib.agg(
        F.round(F.sum(F.col("c").cast("decimal(28,12)")).cast("double"), 8).alias(
            "jsd_total"
        )
    )
    wr = Window.orderBy(F.round("c", 8).desc(), F.col("word").asc())
    top = (
        contrib.orderBy(F.round("c", 8).desc(), F.col("word").asc())
        .limit(30)
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
    )
    return top.crossJoin(F.broadcast(total)).select(
        "word",
        F.col("ca").alias("cnt_a"),
        F.col("cb").alias("cnt_b"),
        F.round("c", 8).alias("contrib"),
        "rnk",
        "jsd_total",
    )


@register(
    "events_cusum",
    """
    WITH c AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) - 5000 AS d
        FROM events
    ),
    cum AS (
        SELECT event_type, ts, event_id,
               CAST(sum(d) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS s
        FROM c
    ),
    pk AS (
        SELECT event_type, event_id AS peak_event_id
        FROM (
            SELECT event_type, event_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY s DESC, ts ASC, event_id ASC)
                       AS rn
            FROM cum
        ) WHERE rn = 1
    )
    SELECT cum.event_type,
           count(*) AS n_events,
           max(s) AS max_cusum,
           min(s) AS min_cusum,
           max(pk.peak_event_id) AS peak_event_id
    FROM cum JOIN pk ON pk.event_type = cum.event_type
    GROUP BY 1
    """,
)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift scan per event type (Page 1954): deviations
    from the reference level run in CENT-QUANTIZED integers, so the
    cumulative sums are exact whatever order the window engine
    associates additions in (a double CUSUM would differ between
    Spark's running accumulation and DuckDB's segment-tree windows).
    Output: per-type extremes of the CUSUM path plus the first event
    achieving the max (the changepoint candidate), deterministic via
    (s desc, ts, event_id) ranking."""
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        "ts",
        "event_id",
        (F.round(F.col("value") * 100).cast("long") - 5000).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = c.select(
        "event_type", "ts", "event_id", F.sum("d").over(w).cast("long").alias("s")
    ).localCheckpoint(eager=True)
    wpk = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    pk = (
        cum.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("event_id").alias("peak_event_id"))
    )
    return (
        cum.join(pk, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("s").alias("max_cusum"),
            F.min("s").alias("min_cusum"),
            F.max("peak_event_id").alias("peak_event_id"),
        )
    )


_FUZZY_PROBES = (
    "Suplier#000000002",   # deletion
    "Supplier#00000o003",  # substitution
    "Supplier#0000000055", # insertion
    "Suppler#000000007",   # deletion
    "Totally Unrelated Vendor",  # no match at threshold
)


@register(
    "j12_fuzzy_match",
    f"""
    WITH probes(probe) AS (VALUES
        {", ".join(f"('{p}')" for p in _FUZZY_PROBES)}
    )
    SELECT p.probe, s.s_suppkey, s.s_name,
           CAST(levenshtein(p.probe, s.s_name) AS INT) AS dist
    FROM probes p CROSS JOIN supplier s
    WHERE levenshtein(p.probe, s.s_name) <= 1
    """,
)
def j12_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join: typo'd vendor probes matched to
    supplier names at edit distance <= 1 (levenshtein is native JVM in
    Spark and native in DuckDB — integer-exact, no float anywhere).
    The probe side is tiny and broadcast (a nested-loop join over
    n_suppliers x n_probes rows); at corpus scale the standard
    blocking applies first — length-band or first-k-char keys bound
    candidates before the edit-distance filter, the same
    candidate-then-verify shape as the n-gram Jaccard dedup."""
    s = _t(spark, sf_dir, "supplier")
    probes = spark.createDataFrame(
        [(p,) for p in _FUZZY_PROBES], "probe string"
    )
    d = F.levenshtein(F.col("probe"), F.col("s_name"))
    return (
        s.crossJoin(F.broadcast(probes))
        .filter(d <= 1)
        .select("probe", "s_suppkey", "s_name", d.cast("int").alias("dist"))
    )


@register(
    "w5_rank_variants",
    """
    WITH r AS (
        SELECT l_returnflag,
               rank()       OVER w AS rk,
               dense_rank() OVER w AS dr,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity DESC,
                                           l_orderkey, l_linenumber) AS rn
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
    )
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rank_le3,
           CAST(sum(CASE WHEN dr <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dense_le3,
           CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rownum_le3,
           CAST(max(dr) AS BIGINT) AS n_distinct_qty
    FROM r GROUP BY 1
    """,
)
def w5_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() vs row_number() tie semantics on a
    heavily tied column (integer quantities): counts under each rank
    definition per return flag — gap behavior (rank), gapless
    (dense_rank), and the tie-broken bijection (row_number always
    exactly 3).  max(dense_rank) doubles as the distinct-value count,
    cross-checking the window against the aggregate domain."""
    l = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    wrn = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").desc(), "l_orderkey", "l_linenumber"
    )
    r = l.select(
        "l_returnflag",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("dr"),
        F.row_number().over(wrn).alias("rn"),
    )
    return r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0)).alias("n_rank_le3"),
        F.sum(F.when(F.col("dr") <= 3, 1).otherwise(0)).alias("n_dense_le3"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).alias("n_rownum_le3"),
        F.max("dr").cast("long").alias("n_distinct_qty"),
    )


@register(
    "agg_ks_test",
    """
    WITH v AS (
        SELECT o_totalprice AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS g2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    c AS (SELECT x, sum(g1) AS c1, sum(g2) AS c2 FROM v GROUP BY 1),
    n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c),
    e AS (
        SELECT x,
               CAST(sum(c1) OVER w AS BIGINT) AS cum1,
               CAST(sum(c2) OVER w AS BIGINT) AS cum2
        FROM c
        WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    d AS (
        SELECT x,
               abs(CAST(cum1 AS DOUBLE) / n.n1
                   - CAST(cum2 AS DOUBLE) / n.n2) AS dd
        FROM e CROSS JOIN n
    )
    SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
           round(m.ks_d, 8) AS ks_d, m.ks_at
    FROM n CROSS JOIN (
        SELECT dd AS ks_d, x AS ks_at
        FROM d ORDER BY round(dd, 8) DESC, x ASC LIMIT 1
    ) m
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between order-value
    distributions (finished vs open orders) — the numeric-distribution
    drift test beside ta_jsd_drift's categorical one.  ECDFs come from
    INTEGER cumulative counts over the distinct-value grid (exact
    under any window association), the sup-difference picks its
    argmax deterministically (rounded D desc, value asc).  At corpus
    scale the grid pre-aggregates into quantile bins before the
    window; here the distinct grid is the exact reference."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    c = o.groupBy(F.col("o_totalprice").alias("x")).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("c2"),
    )
    n = c.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    # ECDF running counts over the distinct-value grid (grid size ~
    # table size): distributed range-partitioned prefix sums, not a
    # single-partition global window (r7 perf-weak fix).  x is unique
    # after the groupBy, so ordering by x alone is a total order;
    # integer sums make the prefix exact under any partitioning.
    e = range_prefix(c, ["x"], ("c1", "c2"), rank_col=None).select(
        "x",
        F.col("cum_c1").cast("long").alias("cum1"),
        F.col("cum_c2").cast("long").alias("cum2"),
    )
    d = e.crossJoin(F.broadcast(n)).select(
        "x",
        F.abs(
            F.col("cum1").cast("double") / F.col("n1")
            - F.col("cum2").cast("double") / F.col("n2")
        ).alias("dd"),
    )
    m = d.orderBy(F.round("dd", 8).desc(), F.col("x").asc()).limit(1).select(
        F.col("dd").alias("ks_d"), F.col("x").alias("ks_at")
    )
    return n.crossJoin(m).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("ks_d", 8).alias("ks_d"),
        "ks_at",
    )


@register(
    "ta_quality_logit",
    r"""
    WITH f AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) / 1024.0 AS f_len,
               CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                       '\s+'),
                                    x -> x <> '')) AS DOUBLE) / 256.0
                   AS f_words,
               CAST(length(regexp_replace(text, '[^.!?]', '', 'g'))
                    AS DOUBLE) / 16.0 AS f_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                    AS DOUBLE)
                 / CAST(greatest(length(text), 1) AS DOUBLE) AS f_digit
        FROM documents
    ),
    z AS (
        SELECT doc_id,
               -0.5 + 0.75 * f_len + 1.5 * f_words
                    - 0.25 * f_punct - 2.0 * f_digit AS z
        FROM f
    )
    SELECT doc_id, round(z, 8) AS logit,
           round(1.0 / (1.0 + exp(-z)), 8) AS p_keep,
           1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
    FROM z
    """,
)
def ta_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier scoring at scale (the fastText-style quality
    filter applied as a projection): fixed logistic weights over
    cheap text features — length, word count, sentence punctuation,
    digit ratio — entirely in codegen, sigmoid per row, keep decision
    at 0.5.  All weights are exact binary fractions so the linear form
    is bit-identical cross-engine; the feature divisors (1024/256/16)
    are powers of two for the same reason."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    f_len = F.length("text").cast("double") / 1024.0
    f_words = F.size(words).cast("double") / 256.0
    f_punct = (
        F.length(F.regexp_replace("text", r"[^.!?]", "")).cast("double") / 16.0
    )
    f_digit = F.length(F.regexp_replace("text", r"[^0-9]", "")).cast(
        "double"
    ) / F.greatest(F.length("text"), F.lit(1)).cast("double")
    z = -0.5 + 0.75 * f_len + 1.5 * f_words - 0.25 * f_punct - 2.0 * f_digit
    p = 1.0 / (1.0 + F.exp(-z))
    return d.select(
        "doc_id",
        F.round(z, 8).alias("logit"),
        F.round(p, 8).alias("p_keep"),
        (p >= 0.5).alias("keep"),
    )


@register(
    "events_window_distinct",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
    """,
)
def events_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling hour and event type — the
    expand-then-two-phase countDistinct shape (Spark plans it as a
    partial dedup on (window, type, user) then a count; at larger
    cardinalities agg_distinct_sketch is the bounded-state swap)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts") < "2024-01-03 00:00:00"
    )
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "mm_image_augment",
    """
    WITH px AS (
        SELECT doc_id,
               CAST((i - 1) // 16 AS INT) AS r,
               CAST((i - 1) % 16 AS INT) AS c,
               ascii(substr(rpad(substr(text, 1, 256), 256, ' '),
                            CAST(i AS INT), 1)) AS v
        FROM documents, unnest(range(1, 257)) AS u(i)
    )
    SELECT doc_id,
           16 AS h, 16 AS w,
           CAST(sum((16 - c) * v) AS BIGINT) AS wcol_sum,
           8 AS crop_h, 8 AS crop_w,
           CAST(sum(CASE WHEN r BETWEEN 4 AND 11 AND c BETWEEN 4 AND 11
                         THEN v ELSE 0 END) AS BIGINT) AS crop_sum
    FROM px GROUP BY 1
    """,
)
def mm_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image augmentation (multimodal.augment_images)
    under the same render-text-as-real-image harness as
    mm_image_tiles: horizontal flip gated by a POST-FLIP
    column-weighted sum (weight 16-c in source coordinates — a plain
    sum is flip-invariant and would certify nothing) and an 8x8 center
    crop (flip-symmetric window, so the oracle states it in source
    coordinates).  PGM for even ids, PNG for odd — both decoders in
    the loop."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import augment_images

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", F.rpad(F.substring("text", 1, 256), 256, " ").alias("s")
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        from unstract_spark.operators.multimodal import encode_pgm, encode_png

        for pdf in batches:
            content = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                img = np.frombuffer(s.encode("ascii"), dtype=np.uint8).reshape(
                    16, 16
                )
                content.append(
                    encode_pgm(img) if int(did) % 2 == 0 else encode_png(img)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    imgs = _fixture_parquet(
        spark, sf_dir, "mm_image_augment",
        lambda: d.mapInPandas(encode, "doc_id long, content binary"),
    )
    aug = augment_images(imgs, crop=8, payload_col="content", id_col="doc_id",
                         fake=False)
    return aug.select(
        "doc_id", "h", "w", "wcol_sum", "crop_h", "crop_w", "crop_sum"
    )


def _morton_oracle(x: str, y: str, bits: int = 16) -> str:
    from unstract_spark.operators.export import morton_sql

    return morton_sql(x, y, bits)


@register(
    "ex_zorder_codes",
    f"""
    WITH z AS (
        SELECT {_morton_oracle("l_partkey % 65536", "l_suppkey % 65536")}
                   AS zorder
        FROM lineitem
    )
    SELECT CAST(zorder >> 24 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(zorder) AS BIGINT) AS z_min,
           CAST(max(zorder) AS BIGINT) AS z_max
    FROM z GROUP BY 1
    """,
)
def ex_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys for multi-dimensional data
    skipping (export.morton_sql/zorder_layout): the full 32-bit
    interleave of (partkey, suppkey) gated per top-8-bit bucket —
    min/max/count per bucket certify every bit position of the
    interleave.  The SAME generated-SQL expression string runs on both
    engines, so the layout key a writer sorts by is itself
    oracle-checked."""
    l = _t(spark, sf_dir, "lineitem")
    from unstract_spark.operators.export import morton_sql

    z = l.select(
        F.expr(
            morton_sql("l_partkey % 65536", "l_suppkey % 65536")
        ).alias("zorder")
    )
    return z.groupBy(
        F.expr("zorder >> 24").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("zorder").cast("long").alias("z_min"),
        F.max("zorder").cast("long").alias("z_max"),
    )


@register(
    "ta_top_terms_tfidf",
    r"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
        SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6)
                   AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, CAST(df AS BIGINT) AS df, tfidf, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS INT) AS rnk
        FROM s
    ) WHERE rnk <= 3
    """,
)
def ta_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf-idf
    (tf * ln(N/df) from exact integer counts — the double is one
    fixed expression, identical cross-engine), ranked on the ROUNDED
    score with a term tie-break.  The document-frequency table is
    vocabulary-sized and broadcast; the per-doc window ranks only each
    doc's own terms."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        s.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf", "rnk")
    )


@register(
    "agg_unpivot",
    """
    WITH wide AS (
        SELECT o_orderstatus,
               CAST(count(*) AS DOUBLE) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS total_price,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                          AS DOUBLE) / count(*), 4) AS avg_price
        FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, measure, value FROM (
        SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value
        FROM wide
        UNION ALL
        SELECT o_orderstatus, 'total_price', total_price FROM wide
        UNION ALL
        SELECT o_orderstatus, 'avg_price', avg_price FROM wide
    )
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: the wide per-status aggregate stacked into
    (status, measure, value) long form via stack() — the reporting
    reshape that pairs with the pivot query.  The oracle spells it as
    the equivalent UNION ALL so the gate is engine-syntax-neutral."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
        _davg(F.col("o_totalprice")).alias("avg_price"),
    )
    return wide.select(
        "o_orderstatus",
        F.expr(
            "stack(3, 'n_orders', n_orders, 'total_price', total_price,"
            " 'avg_price', avg_price) AS (measure, value)"
        ),
    )


@register(
    "ex_curation_v2",
    r"""
    WITH t AS (
        SELECT doc_id, text AS _t, CAST(length(text) AS BIGINT) AS _len
        FROM documents WHERE length(text) > 0
    ),
    pos AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS p,
               substr(_t, CAST(u.i AS INT), 24) AS g
        FROM t, unnest(range(1, _len - 24 + 2)) AS u(i)
        WHERE _len >= 24
    ),
    dg AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 4),
    m AS (SELECT doc_id, p AS s, p + 23 AS e FROM pos JOIN dg USING (g)),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
                    THEN 1 ELSE 0 END AS nw
        FROM m
        WINDOW w AS (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM isl
    ),
    rem AS (SELECT doc_id, grp, min(s) AS rs, max(e) AS re
            FROM isl2 GROUP BY 1, 2),
    bef AS (
        SELECT doc_id,
               coalesce(lag(re) OVER (PARTITION BY doc_id ORDER BY rs), 0) + 1
                   AS ks,
               rs - 1 AS ke
        FROM rem
    ),
    tl AS (
        SELECT rem.doc_id, max(rem.re) + 1 AS ks, t._len AS ke
        FROM rem JOIN t USING (doc_id) GROUP BY rem.doc_id, t._len
    ),
    unt AS (
        SELECT t.doc_id, CAST(1 AS BIGINT) AS ks, t._len AS ke
        FROM t WHERE NOT EXISTS (SELECT 1 FROM rem WHERE rem.doc_id = t.doc_id)
    ),
    kept AS (
        SELECT * FROM bef UNION ALL SELECT * FROM tl UNION ALL SELECT * FROM unt
    ),
    pieces AS (
        SELECT k.doc_id, k.ks,
               substr(t._t, CAST(k.ks AS INT), CAST(k.ke - k.ks + 1 AS INT))
                   AS piece
        FROM kept k JOIN t USING (doc_id) WHERE k.ke >= k.ks
    ),
    cln AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ks) AS ct
        FROM pieces GROUP BY 1
    ),
    res AS (
        SELECT t.doc_id, coalesce(cln.ct, '') AS ct
        FROM t LEFT JOIN cln ON cln.doc_id = t.doc_id
    ),
    fp AS (SELECT doc_id, md5(ct) AS f, ct FROM res),
    hist AS (SELECT DISTINCT md5(text) AS f FROM documents
             WHERE doc_id % 3 = 0),
    sz AS (SELECT 1024 * ((10 * greatest(count(*), 1) + 1023) // 1024) AS m
           FROM hist),
    bits AS (
        SELECT DISTINCT
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || f), 1, 8))
                ::BIGINT % sz.m AS bit
        FROM hist, sz, unnest([0, 1, 2, 3]) AS u(j)
    ),
    probes AS (
        SELECT fp.doc_id,
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || fp.f), 1, 8))
                ::BIGINT % sz.m AS bit
        FROM fp, sz, unnest([0, 1, 2, 3]) AS u(j)
    ),
    mem AS (
        SELECT p.doc_id,
               sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 4
                   AS maybe_seen
        FROM probes p LEFT JOIN bits b USING (bit) GROUP BY 1
    ),
    surv AS (
        SELECT fp.doc_id, fp.ct FROM fp
        JOIN mem USING (doc_id) WHERE NOT mem.maybe_seen
    ),
    feat AS (
        SELECT doc_id, ct,
               -0.5 + 0.75 * (CAST(length(ct) AS DOUBLE) / 1024.0)
                    + 1.5 * (CAST(len(list_filter(
                          string_split_regex(lower(trim(ct)), '\s+'),
                          x -> x <> '')) AS DOUBLE) / 256.0)
                    - 0.25 * (CAST(length(regexp_replace(ct, '[^.!?]', '',
                                                         'g')) AS DOUBLE)
                              / 16.0)
                    - 2.0 * (CAST(length(regexp_replace(ct, '[^0-9]', '',
                                                        'g')) AS DOUBLE)
                             / CAST(greatest(length(ct), 1) AS DOUBLE)) AS z
        FROM surv
    )
    SELECT doc_id,
           CAST(length(ct) AS BIGINT) AS cleaned_len,
           CAST(len(list_filter(string_split_regex(lower(trim(ct)), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-z)), 8) AS p_keep,
           CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                1, 8))::BIGINT % 8 AS INT) AS shard
    FROM feat
    WHERE 1.0 / (1.0 + exp(-z)) >= 0.5
    """,
)
def ex_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation capstone v2 — the round-7 operators composed in ONE
    Catalyst plan: corpus-wide duplicated-SPAN removal
    (dedup.remove_duplicated_spans) -> Bloom-filter history
    decontamination on the CLEANED fingerprints
    (bloom_filter_bits/bloom_membership; history = every third doc's
    original fingerprint, m HISTORY-SIZED via dedup.auto_bloom_m) ->
    fixed-weight logistic quality keep on the cleaned text ->
    md5-derived shard assignment.  The oracle rebuilds the whole chain
    relationally — INCLUDING the m sizing, re-derived from its own
    count(*) in pure integer SQL — so the hash certifies not just each
    operator but their composition boundaries (cleaned text feeding
    the filter fingerprints and the quality features) AND the sizing
    rule itself at any SF.  r10→r11 change: the pinned m=8192 was the
    exact fixed-m trap the r10 40x rung proved degenerates silently
    (~66k history keys -> every probe positive -> 0 survivors); the
    filter this capstone models (the reference's file-history result
    cache, workflow_manager/.../source.py:806-868) must never silently
    stop filtering."""
    d = _t(spark, sf_dir, "documents")
    # k=24/min_count=4: the BOILERPLATE threshold. k=16/min_count=2
    # (dd_span_removal's parameters, correct for the span-removal gate
    # itself) degenerates at sf0.1 — template-heavy synthetic docs end
    # up ~97% duplicated 16-grams and every cleaned text collapses.
    # NO localCheckpoint here although fp fans out to two consumers:
    # materializing through .rdd runs the 18-exchange chain WITHOUT
    # codegen/AQE (measured 13.9 s vs 1.0 s for the plain plan), so
    # re-executing the cheap chain per consumer is the faster choice.
    cleaned = dedup.remove_duplicated_spans(d, k=24, min_count=4)
    fp = cleaned.select(
        "doc_id",
        F.md5("cleaned_text").alias("fingerprint"),
        F.col("cleaned_text").alias("ct"),
    )
    hist = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    # history-sized m (one count() job, scalar driver state — the
    # auto_lsh_params shape); the oracle re-derives the same integer
    m = dedup.auto_bloom_m(hist.count())
    bits = dedup.bloom_filter_bits(hist, m=m, k=4)
    # Membership as a per-row expression against the broadcast packed
    # bitmap (dedup.bloom_bitmap) instead of bloom_membership's probe
    # explode + groupBy + join-back on doc_id: the join-back's column
    # pruning re-executed the whole span-removal chain a second time
    # for the membership side (r13 optimization round, guide §2.4 —
    # the decision matches bloom_membership bit for bit, and
    # dd_bloom_membership/dd_bloom_auto still gate the row spelling).
    surv = (
        fp.crossJoin(F.broadcast(dedup.bloom_bitmap(bits)))
        .filter(~dedup.bloom_maybe_seen_expr("fingerprint", m=m, k=4))
        .drop("_bm")
    )
    words = F.filter(
        F.split(F.lower(F.trim("ct")), r"\s+"), lambda x: x != ""
    )
    z = (
        -0.5
        + 0.75 * (F.length("ct").cast("double") / 1024.0)
        + 1.5 * (F.size(words).cast("double") / 256.0)
        - 0.25
        * (F.length(F.regexp_replace("ct", r"[^.!?]", "")).cast("double") / 16.0)
        - 2.0
        * (
            F.length(F.regexp_replace("ct", r"[^0-9]", "")).cast("double")
            / F.greatest(F.length("ct"), F.lit(1)).cast("double")
        )
    )
    p = 1.0 / (1.0 + F.exp(-z))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 8
    ).cast("int")
    return (
        surv.withColumn("_p", p)
        .filter(F.col("_p") >= 0.5)
        .select(
            "doc_id",
            F.length("ct").cast("long").alias("cleaned_len"),
            F.size(words).cast("long").alias("n_tokens"),
            F.round("_p", 8).alias("p_keep"),
            shard.alias("shard"),
        )
    )


@register(
    "ex_weighted_sample",
    """
    WITH u AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
               (('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13))
                    ::BIGINT + 1) / 4503599627370496.0 AS u
        FROM documents WHERE n_chars > 0
    ),
    keyed AS (SELECT doc_id, w, round(ln(u) / w, 10) AS skey FROM u)
    SELECT doc_id, CAST(w AS BIGINT) AS weight, skey, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY skey DESC, doc_id ASC) AS INT) AS rnk
        FROM keyed
    ) WHERE rnk <= 50
    """,
)
def ex_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis 2006): rank by ln(u)/w with u an md5-derived
    uniform in (0,1] — the monotone-equivalent spelling of u^(1/w)
    that avoids pow(), whose last-ulp rounding is engine-dependent
    (ln and division are the already-gated primitives).  Top-50 by
    rounded key with id tie-break.  This is THE mixture-construction
    sampler: one pass, any weight column, rerunnable bit-identically —
    a seeded TABLESAMPLE cannot weight and is not cross-engine
    stable.  2^52 divisor keeps u exactly representable."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4503599627370496.0)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("w"),
        u.alias("u"),
    ).select(
        "doc_id", "w", F.round(F.log("u") / F.col("w"), 10).alias("skey")
    )
    wr = Window.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
    return (
        keyed.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
        .limit(50)
        .select(
            "doc_id",
            F.col("w").cast("long").alias("weight"),
            "skey",
            F.row_number().over(wr).cast("int").alias("rnk"),
        )
    )


@register(
    "events_mad_outliers",
    """
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type,
               max(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS med
        FROM r GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - med.med) AS d, e.event_id
        FROM events e JOIN med USING (event_type)
    ),
    r2 AS (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY d, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type,
               max(CASE WHEN rn = (n - 1) // 2 + 1 THEN d END) AS mad
        FROM r2 GROUP BY 1
    )
    SELECT med.event_type, med.med, mad.mad,
           CAST(sum(CASE WHEN abs(e.value - med.med) > 3 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n_events
    FROM events e
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median and MAD by the
    exact lower-index definition (the agg_percentiles discipline —
    picked values are raw stored doubles, no float derivation), then
    the 3-MAD rule counted over the raw stream.  The robust twin of
    events_anomalies' mean/stddev standardization."""
    e = _t(spark, sf_dir, "events")

    def lower_median(df, val_col, out_name):
        w_rn = Window.partitionBy("event_type").orderBy(val_col, "event_id")
        w_n = Window.partitionBy("event_type")
        r = df.select(
            "event_type",
            F.col(val_col),
            F.row_number().over(w_rn).alias("rn"),
            F.count(F.lit(1)).over(w_n).alias("n"),
        )
        idx = F.expr("(n - 1) div 2") + 1
        return r.groupBy("event_type").agg(
            F.max(F.when(F.col("rn") == idx, F.col(val_col))).alias(out_name)
        )

    med = lower_median(e, "value", "med")
    dev = e.join(med, "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("d"),
        "event_id",
    )
    mad = lower_median(dev, "d", "mad")
    return (
        e.join(med, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "agg_entropy",
    """
    WITH c AS (
        SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT source, sum(c) AS n FROM c GROUP BY 1)
    SELECT c.source,
           CAST(max(t.n) AS BIGINT) AS n_docs,
           count(*) AS n_langs,
           round(CAST(sum(CAST(
               -(c.c * 1.0 / t.n) * ln(c.c * 1.0 / t.n)
               AS DECIMAL(28,12))) AS DOUBLE), 8) AS lang_entropy
    FROM c JOIN t USING (source)
    GROUP BY 1
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the diversity
    profile a corpus dashboard reports next to the JSD drift number.
    Probabilities come from exact counts; per-term contributions
    quantize to the decimal domain before summing so the total is
    order-independent."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        c.join(t, "source")
        .groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(28,12)")).cast("double"),
                8,
            ).alias("lang_entropy"),
        )
    )


@register(
    "agg_chi_square",
    """
    WITH o AS (
        SELECT c_mktsegment AS seg, n_name AS nation, count(*) AS o
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    rs AS (SELECT seg, sum(o) AS r FROM o GROUP BY 1),
    cs AS (SELECT nation, sum(o) AS cc FROM o GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM o)
    SELECT round(CAST(sum(CAST(
               (o.o - CAST(rs.r AS DOUBLE) * cs.cc / n.n)
             * (o.o - CAST(rs.r AS DOUBLE) * cs.cc / n.n)
             / (CAST(rs.r AS DOUBLE) * cs.cc / n.n)
               AS DECIMAL(28,10))) AS DOUBLE), 6) AS chi2,
           CAST((count(DISTINCT o.seg) - 1)
                * (count(DISTINCT o.nation) - 1) AS BIGINT) AS dof,
           CAST(max(n.n) AS BIGINT) AS n_total
    FROM o
    JOIN rs USING (seg)
    JOIN cs USING (nation)
    CROSS JOIN n
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic over the market-
    segment x nation contingency table (are segments distributed
    independently of nation?) — expected counts from exact marginals,
    per-cell contributions in ONE fixed double expression quantized to
    the decimal domain before summing (the agg_variance discipline)."""
    c = _t(spark, sf_dir, "customer")
    nn = _t(spark, sf_dir, "nation")
    o = (
        c.join(F.broadcast(nn), c.c_nationkey == nn.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rs = o.groupBy("seg").agg(F.sum("o").alias("r"))
    cs = o.groupBy("nation").agg(F.sum("o").alias("cc"))
    n = o.agg(F.sum("o").alias("n"))
    e_cnt = F.col("r").cast("double") * F.col("cc") / F.col("n")
    contrib = (F.col("o") - e_cnt) * (F.col("o") - e_cnt) / e_cnt
    return (
        o.join(rs, "seg")
        .join(cs, "nation")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(28,10)")).cast("double"), 6
            ).alias("chi2"),
            (
                (F.countDistinct("seg") - 1) * (F.countDistinct("nation") - 1)
            ).cast("long").alias("dof"),
            F.max("n").cast("long").alias("n_total"),
        )
    )


@register(
    "agg_concentration",
    """
    WITH s AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT o_custkey, cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rnk,
               count(*) OVER () AS n,
               sum(cents) OVER () AS tot
        FROM s
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(2.0 * CAST(sum(CAST(rnk AS BIGINT) * cents) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * max(tot))
                 - (CAST(max(n) AS DOUBLE) + 1) / max(n), 8) AS gini,
           round(CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
                 / (CAST(max(tot) AS DOUBLE) * max(tot)), 8) AS hhi
    FROM r
    """,
)
def agg_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-concentration metrics — Gini coefficient (sorted-rank
    formula over cent-quantized integer spend, rank tie-broken on the
    key so the Σ i·x term is deterministic) and Herfindahl-Hirschman
    index (Σ share² from exact integer squares) — the inequality
    profile a corpus report runs on tokens-per-document just as a
    sales report runs it on customers."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # Global rank WITHOUT a single-partition window (the r7 perf-weak
    # finding): distributed range-partitioned prefix rank; n and tot
    # fold into the one final aggregate.  The Sigma i*x term sums in
    # decimal(38,0) so the rank*cents product cannot overflow BIGINT at
    # 100x — exact integers, so the final double is bit-identical to
    # the long-domain sum the oracle takes.
    r = range_prefix(s, ["cents", "o_custkey"], rank_col="rnk")
    base = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            F.col("rnk").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).alias("src"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("ssq"),
    )
    nd = F.col("n").cast("double")
    totd = F.col("tot").cast("double")
    return base.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            2.0 * F.col("src").cast("double") / (nd * totd)
            - (nd + 1) / F.col("n"),
            8,
        ).alias("gini"),
        F.round(F.col("ssq").cast("double") / (totd * totd), 8).alias("hhi"),
    )


@register(
    "agg_rollup_hierarchy",
    """
    SELECT r.r_name, n.n_name,
           count(*) AS n_cust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_bal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region -> nation -> grand total): the
    drill-down report shape, distinct from the cube query's full
    grouping-set lattice — rollup emits only the hierarchy's prefixes.
    Decimal-domain balances; NULL grouping markers align across
    engines."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@register(
    "w6_share_of_total",
    """
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    )
    SELECT r_name, n_name,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE),
                 6) AS share_in_region,
           round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
               AS share_global
    FROM rev
    """,
)
def w6_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total windows (RATIO_TO_REPORT): each nation's
    revenue share within its region and globally — window sums over
    the DECIMAL aggregate (exact at any association order), ratios in
    double.  The aggregated input is nations-sized, so the global
    window's single partition is bounded by the dimension, not the
    fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
    )
    w_reg = Window.partitionBy("r_name")
    # The global denominator comes from a broadcast one-row aggregate
    # instead of `Window.partitionBy()` (which funnels the frame — even
    # a bounded one — through one task and trips the plan audit's
    # partition-less-window flag).  Same exact decimal total.
    tot = rev.agg(F.sum("rev").alias("tot_all"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "r_name",
        "n_name",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(w_reg).cast("double"),
            6,
        ).alias("share_in_region"),
        F.round(
            F.col("rev").cast("double") / F.col("tot_all").cast("double"),
            6,
        ).alias("share_global"),
    )


@register(
    "ex_dataset_card",
    r"""
    WITH base AS (
        SELECT doc_id, text, lang, md5(text) AS f,
               CAST(length(text) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                       '\s+'),
                        x -> x <> '')) AS BIGINT) AS nt
        FROM documents
    ),
    z AS (
        SELECT doc_id,
               -0.5 + 0.75 * (CAST(nc AS DOUBLE) / 1024.0)
                    + 1.5 * (CAST(nt AS DOUBLE) / 256.0)
                    - 0.25 * (CAST(length(regexp_replace(text, '[^.!?]', '',
                                                         'g')) AS DOUBLE)
                              / 16.0)
                    - 2.0 * (CAST(length(regexp_replace(text, '[^0-9]', '',
                                                        'g')) AS DOUBLE)
                             / CAST(greatest(nc, 1) AS DOUBLE)) AS zz
        FROM base
    ),
    lc AS (SELECT lang, count(*) AS c FROM base GROUP BY 1),
    top_lang AS (
        SELECT lang FROM lc ORDER BY c DESC, lang ASC LIMIT 1
    ),
    ent AS (
        SELECT round(CAST(sum(CAST(
            -(c * 1.0 / t.n) * ln(c * 1.0 / t.n) AS DECIMAL(28,12)))
            AS DOUBLE), 8) AS lang_entropy
        FROM lc CROSS JOIN (SELECT sum(c) AS n FROM lc) t
    )
    SELECT count(*) AS n_docs,
           CAST(sum(base.nc) AS BIGINT) AS total_chars,
           CAST(sum(base.nt) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT base.lang) AS BIGINT) AS n_langs,
           max(top_lang.lang) AS top_lang,
           round(1.0 - CAST(count(DISTINCT base.f) AS DOUBLE) / count(*), 6)
               AS exact_dup_rate,
           round(CAST(sum(CAST(1.0 / (1.0 + exp(-z.zz)) AS DECIMAL(28,12)))
                      AS DOUBLE) / count(*), 6) AS mean_quality,
           max(ent.lang_entropy) AS lang_entropy
    FROM base
    JOIN z USING (doc_id)
    CROSS JOIN top_lang
    CROSS JOIN ent
    """,
)
def ex_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD: the one-row release summary a training-data
    drop ships — volume (docs/chars/tokens), language profile (count,
    top language, Shannon entropy), exact-duplicate rate, and mean
    quality-classifier score — composed from the same gated fragments
    the individual queries certify, evaluated in ONE plan."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    base = d.select(
        "doc_id",
        "text",
        "lang",
        F.md5("text").alias("f"),
        F.length("text").cast("long").alias("nc"),
        F.size(words).cast("long").alias("nt"),
    )
    zz = (
        -0.5
        + 0.75 * (F.col("nc").cast("double") / 1024.0)
        + 1.5 * (F.col("nt").cast("double") / 256.0)
        - 0.25
        * (
            F.length(F.regexp_replace("text", r"[^.!?]", "")).cast("double")
            / 16.0
        )
        - 2.0
        * (
            F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double")
            / F.greatest(F.col("nc"), F.lit(1)).cast("double")
        )
    )
    lc = base.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    top_lang = (
        lc.orderBy(F.col("c").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("tl"))
    )
    t = lc.agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        lc.crossJoin(F.broadcast(t))
        .agg(
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(28,12)")).cast("double"),
                8,
            ).alias("lang_entropy")
        )
    )
    q = 1.0 / (1.0 + F.exp(-zz))
    # aggregate FIRST with fixed-width buffers only (a string max in
    # the agg forces SortAggregate — the plan-audit flag), then attach
    # the 1-row top-language and entropy frames
    agg = base.withColumn("q", q).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").cast("long").alias("total_chars"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(
            1.0 - F.countDistinct("f").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
        F.round(
            F.sum(F.col("q").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )
    return (
        agg.crossJoin(F.broadcast(top_lang))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "total_chars",
            "total_tokens",
            "n_langs",
            F.col("tl").alias("top_lang"),
            "exact_dup_rate",
            "mean_quality",
            "lang_entropy",
        )
    )


@register(
    "ta_readability",
    r"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                       '\s+'),
                        x -> x <> '')) AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sents,
               CAST(greatest(len(regexp_extract_all(lower(text),
                                                    '[aeiouy]+')), 1)
                    AS BIGINT) AS n_syll
        FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           round(CAST(0.39 AS DOUBLE) * n_words / n_sents
                 + CAST(11.8 AS DOUBLE) * n_syll
                   / CAST(greatest(n_words, 1) AS DOUBLE)
                 - CAST(15.59 AS DOUBLE), 4) AS fk_grade
    FROM f
    """,
)
def ta_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level — the classic readability filter
    (syllables approximated as vowel-group runs, the standard
    heuristic): 0.39*(words/sentences) + 11.8*(syllables/words) -
    15.59.  The coefficients are NOT exact binary, so the oracle CASTs
    each literal to DOUBLE — DuckDB would otherwise parse them as
    DECIMAL and change the arithmetic domain (the standing float-
    literal gotcha); all counts are exact integers with
    divide-by-zero floors."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    n_words = F.size(words).cast("long")
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("long")
    f = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    return f.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.round(
            F.lit(0.39) * F.col("n_words") / F.col("n_sents")
            + F.lit(11.8)
            * F.col("n_syll")
            / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
            - F.lit(15.59),
            4,
        ).alias("fk_grade"),
    )


@register(
    "agg_benford",
    """
    WITH d AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    )
    SELECT digit, count(*) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS frac
    FROM d GROUP BY 1
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution of order values — the
    audit-analytics classic (fabricated numbers flunk it).  The first
    digit comes from the STRING of the cent-quantized integer —
    integer-to-string is identical cross-engine, where a
    log10/power derivation would ride double rounding."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        ).alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # Broadcast one-row total instead of Window.partitionBy() — same
    # exact integer denominator, no single-task window funnel.
    tot = counts.agg(F.sum("n").alias("tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.col("tot"), 6).alias("frac"),
    )


@register(
    "ta_novelty",
    """
    WITH t AS (
        SELECT doc_id, substr(text, 1, 256) AS t
        FROM documents WHERE length(text) >= 8
    ),
    g AS (
        SELECT doc_id, substr(t, CAST(u.i AS INT), 8) AS gram
        FROM t, unnest(range(1, length(t) - 8 + 2)) AS u(i)
    ),
    gc AS (
        SELECT gram, count(*) AS tot, count(DISTINCT doc_id) AS nd
        FROM g GROUP BY 1
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN gc.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           round(CAST(sum(CASE WHEN gc.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM g JOIN gc USING (gram)
    GROUP BY 1
    """,
)
def ta_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty score: the fraction of a document's 8-grams that
    appear in NO other document — the inverse of the boilerplate
    signal, and the curation knob for favoring informative documents
    (dedup removes the copies; novelty ranks what remains).  Gram
    document-frequencies come from one corpus groupBy; the per-doc
    join-back is linear (same shape as the span marker)."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    t = d.select("doc_id", F.substring("text", 1, 256).alias("t"))
    g = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("t") - 8 + 1)
        ).alias("i"),
        "t",
    ).select("doc_id", F.expr("substr(t, i, 8)").alias("gram"))
    gc = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("tot"),
        F.countDistinct("doc_id").alias("nd"),
    )
    return (
        g.join(gc, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.round(
                F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


@register(
    "j15_purchase_intervals",
    """
    WITH s AS (
        SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) AS ts_us,
               lead(epoch_us(o_orderdate)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS next_us
        FROM orders
    )
    SELECT o_custkey,
           count(*) AS n_intervals,
           CAST(min((next_us - ts_us) // 86400000000) AS BIGINT) AS min_days,
           CAST(max((next_us - ts_us) // 86400000000) AS BIGINT) AS max_days,
           round(CAST(sum((next_us - ts_us) // 86400000000) AS DOUBLE)
                 / count(*), 4) AS avg_days
    FROM s WHERE next_us IS NOT NULL
    GROUP BY 1
    HAVING count(*) >= 5
    """,
)
def j15_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: per-customer gaps between consecutive
    orders via lead() over the (date, orderkey) order, day deltas in
    EPOCH-MICROSECOND integer division (DuckDB date_diff counts
    boundary crossings — the standing gotcha — so both engines floor
    the same integer instead)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # wall-clock epoch micros of the NTZ order date: a cast to TIMESTAMP
    # reads it in the session zone, where a gap spanning a daylight-
    # saving change loses an hour and the floor division a day
    ep = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', o_orderdate)"
    )
    s = o.select(
        "o_custkey",
        ep.alias("ts_us"),
        F.lead(ep).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    days = F.expr("(next_us - ts_us) div 86400000000")
    return (
        s.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.min(days).cast("long").alias("min_days"),
            F.max(days).cast("long").alias("max_days"),
            F.round(
                F.sum(days).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_days"),
        )
        .filter(F.col("n_intervals") >= 5)
    )


@register(
    "events_markov_transitions",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    c AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n
        FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    r AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / r.tot, 6) AS p
    FROM c JOIN r USING (from_type)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (lead() on the deterministic (ts, event_id) order) —
    the behavioral model a sessionized product-analytics stack fits:
    exact transition counts, row-normalized probabilities."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    r = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return c.join(r, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )


@register(
    "ex_pack_efficiency",
    r"""
    WITH docs AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                       '\s+'),
                        x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    laid AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY md5('pk:' || CAST(doc_id AS VARCHAR)),
                                         doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM docs
    ),
    packs AS (
        SELECT CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id,
               doc_id, n_tok
        FROM laid
    )
    SELECT pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS used_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / 512, 6) AS fill_rate
    FROM packs GROUP BY 1
    """,
)
def ex_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over the SAME deterministic layout
    pack_sequences gates (hash-shuffled order, running cumsum,
    pack = floor((cum-len)/budget)): per-pack doc count, used tokens,
    and fill rate against the 512 budget — the utilization dashboard a
    training-batch pipeline watches (mean fill < ~0.9 means the budget
    or the length mixture needs retuning)."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""
    )
    docs = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tok"),
        F.md5(
            F.concat(F.lit("pk:"), F.col("doc_id").cast("string"))
        ).alias("pk"),
    )
    # Global running cumsum over the hash-shuffled layout WITHOUT a
    # single-partition window (r7 perf-weak fix): distributed
    # range-partitioned prefix sum — identical layout and pack ids,
    # P-way parallel.  Exact long sums, so cum is partition-invariant.
    laid = range_prefix(docs, ["pk", "doc_id"], ("n_tok",), rank_col=None)
    packs = laid.select(
        F.expr("(cum_n_tok - n_tok) div 512").alias("pack_id"),
        "doc_id",
        "n_tok",
    )
    return packs.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("used_tokens"),
        F.round(F.sum("n_tok").cast("double") / 512, 6).alias("fill_rate"),
    )


@register(
    "agg_runs_test",
    """
    WITH r AS (
        SELECT o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM orders
    ),
    med AS (
        SELECT max(CASE WHEN rn = (n - 1) // 2 + 1 THEN o_totalprice END)
            AS med
        FROM r
    ),
    seq AS (
        SELECT CASE WHEN r.o_totalprice > med.med THEN 1 ELSE 0 END AS above,
               lag(CASE WHEN r.o_totalprice > med.med THEN 1 ELSE 0 END)
                   OVER (ORDER BY r.o_orderdate, r.o_orderkey) AS prev
        FROM r CROSS JOIN med
    )
    SELECT count(*) AS n,
           CAST(sum(above) AS BIGINT) AS n_above,
           CAST(sum(CASE WHEN prev IS NULL OR above <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
    FROM seq
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs statistic: is the above/below-median
    sequence of order values (in date order) random, or does it
    streak?  The lower-index median (exact), a lag() run-boundary
    count — all integers, the randomness screen an anomaly pipeline
    runs before trusting a metric's independence assumptions."""
    o = _t(spark, sf_dir, "orders")
    base = o.select("o_orderdate", "o_orderkey", "o_totalprice")
    # Both global order statistics run distributed (r7 perf-weak fix):
    # the median comes from a range-partitioned prefix RANK over the
    # value order, and the run boundaries come from a rank over the
    # DATE order plus an equi-join of position p with p-1 — the
    # shuffle-join spelling of lag(), no single-partition window.
    rv = range_prefix(
        base.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        rank_col="rn",
    )
    cnt = base.agg(F.count(F.lit(1)).alias("n"))
    med = (
        rv.crossJoin(F.broadcast(cnt))
        .filter(F.col("rn") == F.expr("(n - 1) div 2") + 1)
        .agg(F.max("o_totalprice").alias("med"))
    )
    above = F.when(F.col("o_totalprice") > F.col("med"), 1).otherwise(0)
    # o_totalprice rides as a TRAILING order key: (date, orderkey) is
    # already a total order, so appending it changes nothing — it just
    # satisfies range_prefix's no-payload-columns plan-identity rule.
    seq = (
        range_prefix(
            base,
            ["o_orderdate", "o_orderkey", "o_totalprice"],
            rank_col="pos",
        )
        .crossJoin(F.broadcast(med))
        .select("pos", above.alias("above"))
    )
    prevs = seq.select(
        (F.col("pos") + 1).alias("pos"), F.col("above").alias("prev")
    )
    return (
        seq.join(prevs, "pos", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("above").cast("long").alias("n_above"),
            F.sum(
                F.when(
                    F.col("prev").isNull()
                    | (F.col("above") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_runs"),
        )
    )


@register(
    "dd_keep_longest",
    """
    WITH fp AS (
        SELECT doc_id, md5(lower(trim(text))) AS f,
               CAST(length(text) AS BIGINT) AS nc
        FROM documents
    ),
    mx AS (
        SELECT f, max(nc) AS mnc, count(*) AS n_members FROM fp GROUP BY f
    ),
    kp AS (
        SELECT fp.f, min(fp.doc_id) AS keeper_id
        FROM fp JOIN mx USING (f) WHERE fp.nc = mx.mnc GROUP BY fp.f
    )
    SELECT fp.doc_id, mx.n_members, fp.doc_id = kp.keeper_id AS keep
    FROM fp JOIN mx USING (f) JOIN kp USING (f)
    """,
)
def dd_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper-policy variant for exact-dup groups: keep the LONGEST
    member (ties to the LOWEST doc_id) instead of min-id — the real
    curation choice when near-identical copies differ by truncation
    and the most complete one should survive.  The argmax decomposes
    into two FIXED-WIDTH aggregates (max length per group, then min id
    among the maxima) — a struct-max spelling is one aggregate but its
    non-fixed-width buffer forces SortAggregate, the plan-audit flag."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("f"),
        F.length("text").cast("long").alias("nc"),
    )
    mx = fp.groupBy("f").agg(
        F.max("nc").alias("mnc"), F.count(F.lit(1)).alias("n_members")
    )
    kp = (
        fp.join(mx, "f")
        .filter(F.col("nc") == F.col("mnc"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    return (
        fp.join(mx, "f")
        .join(kp, "f")
        .select(
            "doc_id",
            "n_members",
            (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
        )
    )


@register(
    "sim_batch_diversity",
    """
    WITH v AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 24
    ),
    p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])))),
                 6) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT count(*) AS n_pairs,
           round(CAST(sum(CAST(cos AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 6) AS mean_cos,
           max(cos) AS max_cos,
           min(cos) AS min_cos
    FROM p
    """,
)
def sim_batch_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch diversity metric: mean/extremes of pairwise cosine over a
    bounded candidate set (the mixture-QA number that says whether a
    sampled batch collapsed onto one mode).  All-pairs is BOUNDED by
    construction (the batch, not the corpus — a corpus-level version
    rides the LSH/IVF candidate families); pair scores round before
    the decimal-domain mean."""
    from unstract_spark.operators.retrieval import cosine, dot

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 24)
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    p = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos")
        )
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("cos").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cos"),
        F.max("cos").alias("max_cos"),
        F.min("cos").alias("min_cos"),
    )



# ---------------------------------------------------------------------
# Web-corpus ingestion family (operators/webcorpus.py): the crawl-to-
# training-data front end — WARC demux, HTML main-content extraction,
# mojibake repair, URL normalization. Fixtures are generated
# deterministically from the documents table so every stage sits under
# an exact value-hash gate (the mm_* gating pattern).
# ---------------------------------------------------------------------


@register(
    "web_warc_extract",
    """
    SELECT doc_id, 'http://example.com/doc/' || doc_id AS url,
           'response' AS rec_type, CAST(200 AS BIGINT) AS http_status,
           text AS body, CAST(length(text) AS BIGINT) AS body_len
    FROM documents
    UNION ALL
    SELECT doc_id, 'http://example.com/doc/' || doc_id, 'request',
           CAST(NULL AS BIGINT), '', CAST(0 AS BIGINT)
    FROM documents
    """,
)
def web_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion under an exact gate: each document becomes a
    2-record WARC blob (HTTP request + response, Content-Length-framed
    bodies per ISO 28500), records are demuxed back by
    webcorpus.warc_records (mapInPandas, blob-local, no shuffle), and
    every parsed field — URI, record type, HTTP status, payload,
    length — must reproduce the oracle's per-document expectation.
    Truncation tolerance, header parsing, and the binary-safe
    Content-Length framing are all on the gated path."""
    import pandas as pd

    from unstract_spark.operators import webcorpus

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mux(batches):
        for pdf in batches:
            blobs = [
                webcorpus.encode_warc(
                    [
                        {
                            "type": "request",
                            "uri": f"http://example.com/doc/{i}",
                            "path": f"/doc/{i}",
                        },
                        {
                            "type": "response",
                            "uri": f"http://example.com/doc/{i}",
                            "body": t,
                            "http_status": 200,
                        },
                    ]
                )
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    blobs = _fixture_parquet(
        spark, sf_dir, "web_warc_extract",
        lambda: d.mapInPandas(mux, "doc_id long, content binary"),
    )
    recs = webcorpus.warc_records(blobs, payload_col="content")
    return recs.select(
        "doc_id", "url", "rec_type", "http_status", "body", "body_len"
    )


@register(
    "web_html_main_content",
    """
    SELECT doc_id, text AS main_text,
           CAST((len(string_split(text, ' ')) + 9) // 10 AS BIGINT) AS n_kept,
           CAST(2 AS BIGINT) AS n_dropped
    FROM documents
    """,
)
def web_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal under an exact gate. Each document is
    rendered as a full HTML page — head with <style> and a <script>
    whose BODY contains decoy '<p>' markup, a link-only <nav>, the
    text as <p> paragraphs of 10 words inside a container div, a
    link-only <footer> — entirely with native expressions. The
    extractor (webcorpus.html_main_content: script/style subtree
    removal, leaf-block split, link-density scoring, tag strip +
    entity decode + whitespace collapse, position-ordered reassembly)
    must return EXACTLY the original text with the nav and footer
    dropped: n_kept = ceil(words/10) paragraphs, n_dropped = 2
    boilerplate blocks. The script decoy fails the gate if subtree
    removal runs after block extraction; a dropped content paragraph
    or a surviving nav link corrupts main_text char-for-char."""
    from unstract_spark.operators import webcorpus

    words = F.split(F.col("text"), " ")
    npar = F.ceil(F.size(words) / F.lit(10)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), npar - F.lit(1)),
        lambda i: F.concat(
            F.lit("<p>"),
            F.array_join(F.slice(words, i * F.lit(10) + F.lit(1), F.lit(10)), " "),
            F.lit("</p>"),
        ),
    )
    html = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><style>p{margin:0}</style>'
            '<script>var decoy="<p>not content</p>";</script></head><body>'
            '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
            '<div id="main">'
        ),
        F.array_join(paras, ""),
        F.lit(
            '</div><footer><a href="/tos">terms</a> '
            '<a href="/legal">privacy</a></footer></body></html>'
        ),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))
    out = webcorpus.html_main_content(d, html_col="html", id_col="doc_id")
    return out.select("doc_id", "main_text", "n_kept", "n_dropped")


@register(
    "web_mojibake_repair",
    """
    SELECT doc_id,
           substr(text, 1, 40) || ' café — naïve' AS repaired,
           doc_id % 2 = 1 AS was_mojibake
    FROM documents
    """,
)
def web_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair under an exact gate. Every document gets an
    accented suffix; odd doc_ids are then DAMAGED natively (UTF-8
    bytes re-read as Latin-1 — the dominant real-world mojibake).
    webcorpus.repair_mojibake must (a) flag exactly the damaged rows —
    the detector sees UTF-8 lead+continuation pairs, while the REAL
    'é'/'ï'/em-dash in the clean rows must NOT trip it — and (b)
    invert the damage bit-for-bit, so both populations converge to the
    same oracle string. All native encode/decode expressions."""
    from unstract_spark.operators import webcorpus

    base = F.concat(F.substring(F.col("text"), 1, 40), F.lit(" café — naïve"))
    damaged = F.decode(F.encode(base, "UTF-8"), "ISO-8859-1")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, damaged).otherwise(base).alias("text"),
    )
    out = webcorpus.repair_mojibake(d, text_col="text")
    return out.select("doc_id", "repaired", "was_mojibake")


@register(
    "web_url_normalize",
    """
    SELECT doc_id,
           CASE doc_id % 3
             WHEN 0 THEN 'http://www.example.com/a/b/' || doc_id || '?id=' || doc_id
             WHEN 1 THEN 'https://blog.example.org/post/' || doc_id || '/?id=' || doc_id
             ELSE 'http://cdn.example.net:8080/static/' || doc_id
           END AS url_norm,
           CASE doc_id % 3
             WHEN 0 THEN 'example.com'
             WHEN 1 THEN 'example.org'
             ELSE 'example.net'
           END AS domain,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT) AS path_depth
    FROM documents
    """,
)
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization under an exact gate: three
    URL shapes per doc_id%3 — mixed-case host + default port +
    tracking params + fragment; https default port with trailing
    slash; non-default port with no query (must survive UNTOUCHED
    incl. its :8080). webcorpus.normalize_urls lowercases scheme/host,
    strips only default ports and fragments, drops utm_*/ref tracking
    params while preserving surviving-param order, and derives the
    registrable domain and path depth. parse_url + higher-order
    filters, no UDFs."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id")
    url = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example.COM:80/a/b/"),
                did.cast("string"),
                F.lit("?utm_source=feed&id="),
                did.cast("string"),
                F.lit("&utm_medium=em#top"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("https://Blog.Example.Org:443/post/"),
                did.cast("string"),
                F.lit("/?ref=tw&id="),
                did.cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://cdn.example.net:8080/static/"), did.cast("string"))
        )
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    out = webcorpus.normalize_urls(d, url_col="url")
    return out.select(
        "doc_id", "url_norm", "domain", F.col("path_depth").cast("long").alias("path_depth")
    )



@register(
    "web_robots_filter",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'example.com'
                           WHEN 1 THEN 'example.org'
                           ELSE 'example.net' END AS domain,
           CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN '/a/b/' || doc_id
                WHEN doc_id % 3 = 0                    THEN '/a/x' || doc_id
                WHEN doc_id % 3 = 1 THEN '/post/' || doc_id || '/'
                ELSE '/static/' || doc_id END AS path,
           (doc_id % 3 = 2) OR (doc_id % 3 = 0 AND doc_id % 2 = 0) AS allowed,
           CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 5
                     WHEN doc_id % 3 = 0 THEN 3
                     WHEN doc_id % 3 = 1 THEN 6
                     ELSE 0 END AS BIGINT) AS rule_len
    FROM documents
    """,
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate under an exact oracle (RFC 9309 semantics,
    prefix-match subset): three domains — one with a longest-match
    Allow-under-Disallow pair (even doc_ids hit the deeper Allow, odd
    ones the shallower Disallow), one with an agent-SPECIFIC group
    that must shadow its permissive '*' group, one with no robots.txt
    at all (default allow, rule_len 0). webcorpus.parse_robots /
    robots_rules / apply_robots: the rule table collapses to one
    array row per domain and broadcasts; the URL side is never
    shuffled. Wrong group selection, wrong tie-break (Allow must win
    equal lengths), or off-by-one prefix matching flips `allowed` or
    `rule_len` for a whole residue class."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id")
    m = did % 3
    domain = (
        F.when(m == 0, F.lit("example.com"))
        .when(m == 1, F.lit("example.org"))
        .otherwise(F.lit("example.net"))
    )
    path = (
        F.when(
            (m == 0) & (did % 2 == 0), F.concat(F.lit("/a/b/"), did.cast("string"))
        )
        .when(m == 0, F.concat(F.lit("/a/x"), did.cast("string")))
        .when(m == 1, F.concat(F.lit("/post/"), did.cast("string"), F.lit("/")))
        .otherwise(F.concat(F.lit("/static/"), did.cast("string")))
    )
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id", domain.alias("domain"), path.alias("path")
    )
    robots = spark.createDataFrame(
        [
            (
                "example.com",
                "# site policy\nUser-agent: *\nDisallow: /a/\nAllow: /a/b/\n",
            ),
            (
                "example.org",
                "User-agent: trainingbot\nDisallow: /post/\n\n"
                "User-agent: *\nDisallow:\n",
            ),
        ],
        "domain string, robots_txt string",
    )
    rules = webcorpus.robots_rules(robots)
    out = webcorpus.apply_robots(urls, rules, agent="TrainingBot")
    return out.select("doc_id", "domain", "path", "allowed", "rule_len")


@register(
    "dd_paragraph_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    p AS (
        SELECT doc_id, CAST(u.i AS INT) AS pos,
               CASE WHEN (doc_id + u.i) % 5 = 0
                    THEN 'subscribe to our newsletter for free updates'
                    ELSE array_to_string(
                        ws[CAST(u.i * 12 + 1 AS INT):CAST(u.i * 12 + 12 AS INT)],
                        ' ')
               END AS para
        FROM w, unnest(range(0, (len(ws) + 11) // 12)) AS u(i)
    ),
    c AS (SELECT *, count(*) OVER (PARTITION BY para) AS cnt FROM p)
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN cnt < 2 THEN para END,
                               chr(10) || chr(10) ORDER BY pos), '')
               AS cleaned_text,
           CAST(coalesce(sum(CASE WHEN cnt < 2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_removed
    FROM c GROUP BY doc_id
    """,
)
def dd_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (dedup.dedup_paragraphs — the CCNet
    paragraph-hash step, Wenzek et al. 2020). Fixture: documents are
    re-laid-out as 12-word paragraphs, with every (doc_id + index) %
    5 == 0 slot replaced by a fixed boilerplate sentence — the
    share-widget/cookie-banner shape that survives HTML extraction on
    every page. The operator must remove EVERY occurrence of any
    paragraph appearing >= 2 times corpus-wide (the injected
    boilerplate AND any naturally colliding 12-word slice — the
    oracle recomputes the same counts relationally, so organic
    collisions are covered, not assumed away) and reassemble the
    survivors in order; all-boilerplate documents must still emit
    their row with an empty cleaned_text."""
    from unstract_spark.operators import dedup as dd

    words = F.split(F.col("text"), " ")
    npar = ((F.size(words) + F.lit(11)) / F.lit(12)).cast("int")
    boiler = F.lit("subscribe to our newsletter for free updates")
    paras = F.transform(
        F.sequence(F.lit(0), npar - F.lit(1)),
        lambda i: F.when((F.col("doc_id") + i) % 5 == 0, boiler).otherwise(
            F.array_join(
                F.slice(words, i * F.lit(12) + F.lit(1), F.lit(12)), " "
            )
        ),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    out = dd.dedup_paragraphs(d, min_count=2)
    return out.select("doc_id", "cleaned_text", "n_kept", "n_removed")


# Same exact oracle as dd_paragraph_dedup: the hot_min fuse is
# semantics-preserving (hot_min >= min_count means every hot paragraph
# is removed by rule anyway), so one relational recompute gates both
# execution paths.
@register("dd_paragraph_skew", _REGISTRY["dd_paragraph_dedup"][1])
def dd_paragraph_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_paragraph_dedup with the skew fuse ARMED (hot_min=50): the
    injected boilerplate sentence occurs hundreds of times at the gate
    SFs, crosses the threshold, and takes the broadcast short-circuit —
    never shuffled by its hash — while organically colliding 12-word
    slices (counts in the 2-5 range) ride the de-skewed cold join.
    Gates the 100 TB path for hot-boilerplate corpora: the window
    spelling concentrates a cookie banner's entire occurrence set in
    ONE task (documented boundary, SCALE.md), the fuse bounds every
    task by hot_min. Same fixture, same oracle, same hashes as the
    window twin — wrong fuse semantics (over/under-removal, dropped
    all-boilerplate docs) flip the value hash."""
    from unstract_spark.operators import dedup as dd

    words = F.split(F.col("text"), " ")
    npar = ((F.size(words) + F.lit(11)) / F.lit(12)).cast("int")
    boiler = F.lit("subscribe to our newsletter for free updates")
    paras = F.transform(
        F.sequence(F.lit(0), npar - F.lit(1)),
        lambda i: F.when((F.col("doc_id") + i) % 5 == 0, boiler).otherwise(
            F.array_join(
                F.slice(words, i * F.lit(12) + F.lit(1), F.lit(12)), " "
            )
        ),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    out = dd.dedup_paragraphs(d, min_count=2, hot_min=50)
    return out.select("doc_id", "cleaned_text", "n_kept", "n_removed")



@register(
    "ex_curation_web",
    r"""
    WITH feat AS (
        SELECT doc_id, text AS ct,
               -0.5 + 0.75 * (CAST(length(text) AS DOUBLE) / 1024.0)
                    + 1.5 * (CAST(len(list_filter(
                          string_split_regex(lower(trim(text)), '\s+'),
                          x -> x <> '')) AS DOUBLE) / 256.0)
                    - 0.25 * (CAST(length(regexp_replace(text, '[^.!?]', '',
                                                         'g')) AS DOUBLE)
                              / 16.0)
                    - 2.0 * (CAST(length(regexp_replace(text, '[^0-9]', '',
                                                        'g')) AS DOUBLE)
                             / CAST(greatest(length(text), 1) AS DOUBLE)) AS z
        FROM documents
    )
    SELECT doc_id,
           CAST(length(ct) AS BIGINT) AS extracted_len,
           CAST(len(list_filter(string_split_regex(lower(trim(ct)), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-z)), 8) AS p_keep,
           CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                1, 8))::BIGINT % 8 AS INT) AS shard
    FROM feat
    WHERE 1.0 / (1.0 + exp(-z)) >= 0.5
    """,
)
def ex_curation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation capstone — the round-8 ingestion front end composed
    with the existing quality/shard back end in ONE plan: each
    document renders as a boilerplate-wrapped HTML page, muxes into a
    WARC response record (Content-Length-framed HTTP message), is
    demuxed back by webcorpus.warc_records (Arrow-batched, blob-local),
    boilerplate-stripped by webcorpus.html_main_content (link-density
    drop + entity decode + ordered reassembly), then scored by the
    fixed-weight logistic quality keep and md5-sharded — the
    ex_curation_v2 back-end fragments verbatim. The oracle computes
    quality straight from the original text, so the hash certifies
    that the WARC mux/demux and HTML extraction recover the corpus
    byte-for-byte INSIDE the curation chain (a single corrupted char
    shifts length/token features, flips p_keep, and fails the gate)."""
    import pandas as pd

    from unstract_spark.operators import webcorpus

    words0 = F.split(F.col("text"), " ")
    npar = F.ceil(F.size(words0) / F.lit(10)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), npar - F.lit(1)),
        lambda i: F.concat(
            F.lit("<p>"),
            F.array_join(F.slice(words0, i * F.lit(10) + F.lit(1), F.lit(10)), " "),
            F.lit("</p>"),
        ),
    )
    html = F.concat(
        F.lit(
            '<html><head><style>p{margin:0}</style>'
            '<script>var decoy="<p>not content</p>";</script></head><body>'
            '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
            "<div id=\"main\">"
        ),
        F.array_join(paras, ""),
        F.lit(
            '</div><footer><a href="/tos">terms</a> '
            '<a href="/legal">privacy</a></footer></body></html>'
        ),
    )
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", html.alias("page"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mux(batches):
        for pdf in batches:
            blobs = [
                webcorpus.encode_warc(
                    [
                        {
                            "type": "response",
                            "uri": f"http://example.com/doc/{i}",
                            "body": page,
                        }
                    ]
                )
                for i, page in zip(pdf["doc_id"], pdf["page"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    blobs = _fixture_parquet(
        spark, sf_dir, "ex_curation_web",
        lambda: d.mapInPandas(mux, "doc_id long, content binary"),
    )
    recs = webcorpus.warc_records(blobs, payload_col="content").filter(
        F.col("rec_type") == "response"
    )
    extracted = webcorpus.html_main_content(
        recs.select("doc_id", F.col("body").alias("html")),
        html_col="html",
        id_col="doc_id",
    ).select("doc_id", F.col("main_text").alias("ct"))

    words = F.filter(F.split(F.lower(F.trim("ct")), r"\s+"), lambda x: x != "")
    z = (
        -0.5
        + 0.75 * (F.length("ct").cast("double") / 1024.0)
        + 1.5 * (F.size(words).cast("double") / 256.0)
        - 0.25
        * (F.length(F.regexp_replace("ct", r"[^.!?]", "")).cast("double") / 16.0)
        - 2.0
        * (
            F.length(F.regexp_replace("ct", r"[^0-9]", "")).cast("double")
            / F.greatest(F.length("ct"), F.lit(1)).cast("double")
        )
    )
    p = 1.0 / (1.0 + F.exp(-z))
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 8
    ).cast("int")
    return (
        extracted.withColumn("_p", p)
        .filter(F.col("_p") >= 0.5)
        .select(
            "doc_id",
            F.length("ct").cast("long").alias("extracted_len"),
            F.size(words).cast("long").alias("n_tokens"),
            F.round("_p", 8).alias("p_keep"),
            shard.alias("shard"),
        )
    )



@register(
    "web_sitemap_extract",
    """
    SELECT doc_id, CAST(u.i AS INT) AS pos,
           'http://example.com/doc/' || doc_id || '/p' || u.i AS loc,
           CASE WHEN u.i = 0
                THEN '2026-01-0' || (doc_id % 9 + 1) END AS lastmod,
           CASE WHEN u.i = 1
                THEN CAST(doc_id % 4 AS DOUBLE) * 0.25 END AS priority
    FROM documents, unnest(range(0, 3)) AS u(i)
    """,
)
def web_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion under an exact gate: each document renders a
    3-entry sitemaps.org urlset where lastmod appears ONLY on entry 0
    and priority ONLY on entry 1 — the optional-field pattern that
    silently misaligns a flat whole-document xpath into parallel
    arrays. webcorpus.parse_sitemap must keep per-entry alignment
    (block split + per-block native xpath_string) and surface absent
    optional fields as NULLs; a one-off misalignment shifts lastmod or
    priority onto the wrong loc for an entire residue class and fails
    the hash."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id")
    entry = F.transform(
        F.sequence(F.lit(0), F.lit(2)),
        lambda i: F.concat(
            F.lit("<url><loc>http://example.com/doc/"),
            did.cast("string"),
            F.lit("/p"),
            i.cast("string"),
            F.lit("</loc>"),
            F.when(
                i == 0,
                F.concat(
                    F.lit("<lastmod>2026-01-0"),
                    (did % 9 + 1).cast("string"),
                    F.lit("</lastmod>"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                i == 1,
                F.concat(
                    F.lit("<priority>"),
                    ((did % 4).cast("double") * 0.25).cast("string"),
                    F.lit("</priority>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("</url>"),
        ),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.array_join(entry, ""),
        F.lit("</urlset>"),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", xml.alias("xml"))
    out = webcorpus.parse_sitemap(d, xml_col="xml")
    return out.select("doc_id", "pos", "loc", "lastmod", "priority")


@register(
    "web_link_graph",
    """
    WITH links AS (
        SELECT doc_id, 'example.com' AS dst_domain, 3 AS w FROM documents
        UNION ALL
        SELECT doc_id, 'partner.org', 1 FROM documents WHERE doc_id % 4 = 0
    )
    SELECT doc_id, dst_domain, CAST(sum(w) AS BIGINT) AS n_links
    FROM links GROUP BY doc_id, dst_domain
    """,
)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph extraction under an exact gate: each document's page
    carries three root-relative anchors (must resolve against the
    page's own origin), every fourth page one absolute cross-site
    anchor, plus fragment-only / protocol-relative / dot-relative
    decoys that a frontier must NOT mis-resolve (dropped by
    webcorpus.extract_links). Edges aggregate per (source doc, dest
    domain) — wrong resolution moves mass between domains, a leaked
    decoy changes counts."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id")
    html = F.concat(
        F.lit('<p>see <a href="/doc/'),
        (did + 1).cast("string"),
        F.lit('">next</a> <a href="/doc/'),
        (did + 2).cast("string"),
        F.lit('">next2</a> <a href="/about">about</a>'),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(' <a href="http://partner.org/ref/'),
                did.cast("string"),
                F.lit('">partner</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit(' <a href="#top">top</a> <a href="//cdn.example.com/x">cdn</a>'
              ' <a href="../up">up</a></p>'),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        html.alias("html"),
        F.concat(
            F.lit("http://example.com/doc/"), did.cast("string")
        ).alias("base_url"),
    )
    links = webcorpus.extract_links(d, html_col="html", base_url_col="base_url")
    dst_domain = webcorpus.registrable_domain(
        F.parse_url("dst_url", F.lit("HOST"))
    )
    return (
        links.select("doc_id", dst_domain.alias("dst_domain"))
        .groupBy("doc_id", "dst_domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )



@register(
    "ta_perplexity_buckets",
    r"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    wc AS (SELECT word, CAST(sum(tf) AS BIGINT) AS wc FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
    model AS (SELECT word, wc / total AS p FROM wc CROSS JOIN tot),
    scored AS (
        SELECT t.doc_id,
               CAST(sum(t.tf) AS BIGINT) AS n_words,
               round(CAST(sum(CAST(t.tf * ln(m.p) AS DECIMAL(28,10)))
                          AS DOUBLE) / CAST(sum(t.tf) AS BIGINT), 6)
                   AS avg_logprob
        FROM tf t JOIN model m USING (word)
        GROUP BY t.doc_id
    ),
    r AS (
        SELECT doc_id, n_words, avg_logprob,
               row_number() OVER (ORDER BY avg_logprob, doc_id) AS rnk,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT doc_id, n_words, avg_logprob,
           CASE WHEN rnk <= n // 3 THEN 'tail'
                WHEN rnk <= (2 * n) // 3 THEN 'middle'
                ELSE 'head' END AS ppl_bucket
    FROM r
    """,
)
def ta_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020): rank every document by its corpus-LM mean log-probability
    (text_analysis.unigram_logprob — CCNet uses a KenLM 5-gram; the
    bucketing logic is identical) and split into terciles — 'head' is
    the most fluent third, the sampling prior for training mixtures.

    Buckets assign by GLOBAL RANK with a doc_id tie-break, not by
    threshold-value comparison — rounded scores tie, and value
    comparisons would put tied docs in engine-dependent buckets. The
    rank is distributed (operators.ranks.range_prefix: range partition
    + per-partition row_number + broadcast offsets — no partition-less
    window, the r7 verdict's scale-killer); tercile cut indices come
    from a 1-row count aggregate broadcast-cross-joined, so nothing
    touches the driver.

    r13 (guide §2.4): n_words rides THROUGH the rank as a trailing
    order key (the (avg_logprob, doc_id) order is already total, so
    appending it changes no rank — the range_prefix contract), which
    deletes the old doc_id join-back whose probe side re-executed the
    whole scoring lineage; and include_empty=False drops
    unigram_logprob's docs-keyed left join (this query filters
    n_words > 0 anyway). scored still fans out to the count consumer
    and is NOT checkpointed: AQE stage reuse dedups the shared
    shuffles (measured r12: 1.78 s re-executed vs 2.86 s through
    localCheckpoint's RDD path)."""
    from unstract_spark.operators.ranks import range_prefix

    d = _t(spark, sf_dir, "documents")
    scored = text_analysis.unigram_logprob(d, include_empty=False).filter(
        F.col("n_words") > 0
    )
    ranked = range_prefix(
        scored.select("avg_logprob", "doc_id", "n_words"),
        ["avg_logprob", "doc_id", "n_words"],
        rank_col="rnk",
    )
    nrow = scored.agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        F.when(F.col("rnk") <= F.floor(F.col("n") / 3), F.lit("tail"))
        .when(F.col("rnk") <= F.floor(2 * F.col("n") / 3), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        ranked.crossJoin(F.broadcast(nrow))
        .select(
            "doc_id",
            "n_words",
            "avg_logprob",
            bucket.alias("ppl_bucket"),
        )
    )



@register(
    "ex_chat_template",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id,
           '<|system|>' || chr(10) || 'You are a helpful assistant.'
               || chr(10) || '<|user|>' || chr(10)
               || array_to_string(ws[1:20], ' ')
               || chr(10) || '<|assistant|>' || chr(10)
               || CASE WHEN len(ws) > 20
                       THEN array_to_string(ws[21:len(ws)], ' ')
                       ELSE '' END
               || '<|end|>' AS rendered,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(length('<|system|>' || chr(10)
               || 'You are a helpful assistant.' || chr(10) || '<|user|>'
               || chr(10) || array_to_string(ws[1:20], ' ') || chr(10)
               || '<|assistant|>' || chr(10)
               || CASE WHEN len(ws) > 20
                       THEN array_to_string(ws[21:len(ws)], ' ')
                       ELSE '' END || '<|end|>') AS BIGINT) AS n_chars
    FROM w
    """,
)
def ex_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering — the SFT-data formatting step: each
    document becomes one system/user/assistant training example under
    a fixed special-token template (first 20 words as the user turn,
    remainder as the assistant turn). Pure native string/array
    expressions — the rendered text, word count, and rendered length
    are all value-hash gated, so a single off-by-one in the turn
    split, a doubled separator, or a missing end token fails the
    gate. At scale this is a zero-shuffle projection feeding
    export.pack_sequences."""
    words = F.split(F.col("text"), " ")
    user = F.array_join(F.slice(words, 1, 20), " ")
    asst = F.when(
        F.size(words) > 20,
        F.array_join(
            F.slice(words, 21, F.greatest(F.size(words) - 20, F.lit(1))), " "
        ),
    ).otherwise(F.lit(""))
    rendered = F.concat(
        F.lit("<|system|>\nYou are a helpful assistant.\n<|user|>\n"),
        user,
        F.lit("\n<|assistant|>\n"),
        asst,
        F.lit("<|end|>"),
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            rendered.alias("rendered"),
            F.size(words).cast("long").alias("n_words"),
            F.length(rendered).cast("long").alias("n_chars"),
        )
    )


@register(
    "ex_preference_pairs",
    """
    WITH r AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rb,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars ASC, doc_id DESC) AS rw,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT b.source, CAST(b.rb AS BIGINT) AS pair_id,
           b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
           b.n_chars - w.n_chars AS score_gap
    FROM r b JOIN r w
      ON b.source = w.source AND b.rb = w.rw AND b.rb <= b.n // 2
    """,
)
def ex_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF dataset step: within
    each group (source), pair the k-th BEST document with the k-th
    WORST (score = n_chars, deterministic doc_id tie-breaks on both
    ends) for k up to n/2, emitting (chosen, rejected, score_gap).
    Two partitioned rank windows + a self-join on (group, k) — no
    global order anywhere; groups are the unit of parallelism. The
    mirrored tie-break (doc_id ASC from the top, doc_id DESC from the
    bottom) keeps the two rankings disjoint-by-construction when n is
    even, and the k <= n/2 bound drops the middle element when odd."""
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    wb = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ww = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").desc()
    )
    wn = Window.partitionBy("source")
    r = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = r.select("source", "doc_id", "n_chars", "rb", "n").alias("b")
    w = r.select("source", "doc_id", "n_chars", "rw").alias("w")
    return (
        b.join(
            w,
            (F.col("b.source") == F.col("w.source"))
            & (F.col("b.rb") == F.col("w.rw")),
        )
        .filter(F.col("b.rb") <= F.floor(F.col("b.n") / 2))
        .select(
            F.col("b.source").alias("source"),
            F.col("b.rb").cast("long").alias("pair_id"),
            F.col("b.doc_id").alias("chosen_doc"),
            F.col("w.doc_id").alias("rejected_doc"),
            (F.col("b.n_chars") - F.col("w.n_chars")).alias("score_gap"),
        )
    )



@register(
    "w7_range_frame",
    """
    WITH s AS (
        SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) // 86400000000 AS d,
               o_totalprice
        FROM orders
    )
    SELECT o_custkey, o_orderkey, CAST(d AS BIGINT) AS d,
           CAST(count(*) OVER w AS BIGINT) AS n_30d,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2)
                AS DOUBLE) AS sum_30d
    FROM s
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
)
def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (the surface w4's ROWS frames don't cover):
    per-customer trailing-30-day order count and revenue at every
    order. The frame key is the EPOCH-DAY INTEGER (epoch_us // 86400e6
    on both engines — date_diff/interval frames diverge on boundary
    conventions, the standing gotcha), and RANGE semantics make
    same-day ties deterministic WITHOUT a tie-break: every peer row
    shares the frame, which is exactly why this query cannot be
    spelled with a ROWS frame. Sum in the decimal domain (DuckDB's
    segment-tree window never gates cumulative doubles)."""
    o = _t(spark, sf_dir, "orders")
    d = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    )
    s = o.select("o_custkey", "o_orderkey", d.alias("d"), "o_totalprice")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-29, 0)
    )
    return s.select(
        "o_custkey",
        "o_orderkey",
        F.col("d").cast("long").alias("d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_30d"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("sum_30d"),
    )



@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the aggregation variant ROLLUP/CUBE
    queries don't cover: an arbitrary, non-hierarchical set list) with
    the grouping_id disambiguator — a stored NULL key and an
    aggregated-away key are different rows, and only grouping() tells
    them apart cross-engine. Decimal-domain revenue. Single
    expand+hash-aggregate, shuffles once on the grouping keys."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """
    )



@register(
    "web_wet_wat_extract",
    """
    SELECT doc_id,
           text AS conv_text,
           CAST(doc_id % 7 AS BIGINT) AS n_links,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END
                AS BIGINT) AS fetch_status
    FROM documents
    """,
)
def web_wet_wat_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET/WAT companion-file flavors under one gate: each document's
    blob carries a WET-style `conversion` record (plain extracted
    text, NO HTTP wrapper — the parser must not try to split a status
    line off it) and a WAT-style `metadata` record (a JSON envelope).
    The demux pivots the two record types back onto one row per doc
    and reads the envelope fields with native get_json_object. A
    parser that HTTP-splits conversion bodies, drops non-response
    records, or misframes the JSON (it contains no CRLFs but the
    Content-Length path must still frame it) fails the hash."""
    import pandas as pd

    from unstract_spark.operators import webcorpus

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mux(batches):
        for pdf in batches:
            blobs = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                status = 404 if int(i) % 11 == 0 else 200
                meta = (
                    '{"envelope": {"n_links": %d, "fetch_status": %d}}'
                    % (int(i) % 7, status)
                )
                blobs.append(
                    webcorpus.encode_warc(
                        [
                            {
                                "type": "conversion",
                                "uri": f"http://example.com/doc/{i}",
                                "body": t,
                            },
                            {
                                "type": "metadata",
                                "uri": f"http://example.com/doc/{i}",
                                "body": meta,
                            },
                        ]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    blobs = _fixture_parquet(
        spark, sf_dir, "web_wet_wat_extract",
        lambda: d.mapInPandas(mux, "doc_id long, content binary"),
    )
    recs = webcorpus.warc_records(blobs, payload_col="content")
    # single-pass pivot via a doc-partitioned window, NOT an aggregate:
    # any declarative string agg (max/max_by over body) carries a
    # non-fixed-width buffer and falls back to SortAggregate (the
    # dd_keep_longest lesson). Records sort conversion < metadata, so
    # lead(body) on the conversion row IS the metadata envelope.
    w = Window.partitionBy("doc_id").orderBy("rec_type")
    paired = recs.select(
        "doc_id",
        "rec_type",
        "body",
        F.lead("body").over(w).alias("_meta"),
    ).filter(F.col("rec_type") == "conversion")
    return paired.select(
        "doc_id",
        F.col("body").alias("conv_text"),
        F.get_json_object("_meta", "$.envelope.n_links")
        .cast("long")
        .alias("n_links"),
        F.get_json_object("_meta", "$.envelope.fetch_status")
        .cast("long")
        .alias("fetch_status"),
    )


@register(
    "web_sitemap_index",
    """
    SELECT doc_id,
           'http://example.com/maps/' || doc_id || '/' || u.c || '.xml'
               AS child_loc,
           CAST(u.c AS INT) AS child_pos,
           'http://example.com/doc/' || doc_id || '/c' || u.c || '/p' || v.i
               AS loc
    FROM documents,
         unnest(range(0, 2)) AS u(c),
         unnest(range(0, 2)) AS v(i)
    """,
)
def web_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap-index recursion (the protocol's full nesting
    depth): each site publishes a <sitemapindex> naming two child
    sitemaps; children live in a separate (loc -> xml) store and each
    lists two page URLs. parse_sitemap_index explodes the index,
    joins child_loc against the store, and parse_sitemap explodes the
    children — index rows that HTTP-404 the join (none here) would
    drop, and any block-split misalignment at EITHER level shifts
    URLs across children and fails the hash. The child join
    broadcasts nothing: both sides are corpus-shaped, the join key is
    the child URL — at 100 TB this is the standard shuffle join on a
    uniform synthetic key."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id")
    index_entry = F.transform(
        F.sequence(F.lit(0), F.lit(1)),
        lambda c: F.concat(
            F.lit("<sitemap><loc>http://example.com/maps/"),
            did.cast("string"),
            F.lit("/"),
            c.cast("string"),
            F.lit(".xml</loc></sitemap>"),
        ),
    )
    index_xml = F.concat(
        F.lit("<sitemapindex>"), F.array_join(index_entry, ""), F.lit("</sitemapindex>")
    )
    idx = _t(spark, sf_dir, "documents").select("doc_id", index_xml.alias("xml"))
    children = webcorpus.parse_sitemap_index(idx, xml_col="xml").select(
        "doc_id", F.col("pos").alias("child_pos"), "child_loc"
    )

    # the child-sitemap store: (loc, xml), built from the same corpus
    c = F.col("c")
    child_rows = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("c")
    )
    page_entry = F.transform(
        F.sequence(F.lit(0), F.lit(1)),
        lambda i: F.concat(
            F.lit("<url><loc>http://example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("/c"),
            c.cast("string"),
            F.lit("/p"),
            i.cast("string"),
            F.lit("</loc></url>"),
        ),
    )
    store = child_rows.select(
        F.concat(
            F.lit("http://example.com/maps/"),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            c.cast("string"),
            F.lit(".xml"),
        ).alias("child_loc"),
        F.concat(
            F.lit("<urlset>"), F.array_join(page_entry, ""), F.lit("</urlset>")
        ).alias("xml"),
    )
    resolved = children.join(store, "child_loc")
    pages = webcorpus.parse_sitemap(
        resolved.select("doc_id", "child_pos", "child_loc", "xml"), xml_col="xml"
    )
    return pages.select("doc_id", "child_loc", "child_pos", "loc")



@register(
    "ex_leakage_safe_split",
    f"""
    WITH RECURSIVE sigs AS ({_MINHASH_SQL}),
    bands AS (
        SELECT doc_id, b.band_no, b.band_key
        FROM sigs,
             LATERAL (VALUES (0, {_BAND_KEY.format(a=0, b=1)}),
                             (1, {_BAND_KEY.format(a=2, b=3)}),
                             (2, {_BAND_KEY.format(a=4, b=5)}),
                             (3, {_BAND_KEY.format(a=6, b=7)})) AS b(band_no, band_key)
    ),
    simpairs AS (
        SELECT p.id_a, p.id_b,
               (( CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END
                + CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) / 8.0) AS est
        FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_no = b.band_no AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id) p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM simpairs WHERE est >= 0.5
        UNION
        SELECT id_b, id_a FROM simpairs WHERE est >= 0.5
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10 <= 7 THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM labels
    """,
)
def ex_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the guard every training
    pipeline needs and plain per-doc hashing VIOLATES: near-duplicate
    documents in different splits leak training data into eval. Split
    assignment keys on the duplicate CLUSTER id (MinHash-LSH pairs ->
    connected components, the dd_duplicate_clusters machinery), so an
    entire near-dup cluster lands in one split by construction
    (md5(cluster_id) % 10: 8/1/1). The oracle recomputes clusters by
    recursive transitive closure and applies the same hash — a single
    doc split apart from its cluster fails the value hash."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.char_shingles(d)
    sigs = dedup.minhash_signatures(sh).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs)
    sims = dedup.minhash_similarity(sigs, pairs)
    clusters = dedup.duplicate_clusters(d, sims, threshold=0.5)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    split = (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        split.alias("split"),
    )



@register(
    "sim_margin_pairs",
    """
    WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id % 2 = 0 AND vec_id < 40),
    tgt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % 2 = 1),
    fwd AS (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               round(list_dot_product(s.v, t.v)
                     / (sqrt(list_sum(list_transform(s.v, x -> x * x)))
                        * sqrt(list_sum(list_transform(t.v, x -> x * x)))),
                     6) AS score
        FROM src s CROSS JOIN tgt t
    ),
    fk AS (SELECT *, row_number() OVER (PARTITION BY src_id
                                        ORDER BY score DESC, tgt_id ASC) AS r
           FROM fwd),
    avgx AS (SELECT src_id,
                    CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / 4
                        AS avg_x
             FROM fk WHERE r <= 4 GROUP BY src_id),
    bk AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
                                        ORDER BY score DESC, src_id ASC) AS r
           FROM fwd),
    avgy AS (SELECT tgt_id,
                    CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / 4
                        AS avg_y
             FROM bk WHERE r <= 4 GROUP BY tgt_id),
    margins AS (
        SELECT f.src_id, f.tgt_id, f.score,
               f.score / ((x.avg_x + y.avg_y) / 2) AS margin
        FROM fk f JOIN avgx x USING (src_id) JOIN avgy y USING (tgt_id)
        WHERE f.r <= 4
    )
    SELECT src_id, tgt_id, score, margin FROM (
        SELECT *, row_number() OVER (PARTITION BY src_id
                                     ORDER BY round(margin, 6) DESC,
                                              tgt_id ASC) AS mr
        FROM margins
    ) WHERE mr = 1
    """,
)
def sim_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    CCMatrix/LASER pairing rule): for each source vector, score its
    forward top-4 cosine neighbors by the RATIO margin
    score / ((avg_fwd_k + avg_bwd_k) / 2) and keep the best pair —
    the margin normalizes away hubness (a target close to everything
    gets a high denominator and stops winning every source).

    Cross-engine float discipline: pair scores are rounded once
    (the corpus-wide idiom), k-NN averages are decimal-domain sums of
    those rounded scores over a FIXED k, the margin is ONE double
    expression over exact inputs (emitted raw — the q2 rule: never
    round an output double), and the final ranking orders by the
    ROUNDED margin with a tgt tie-break. Scale: the forward k-NN is
    the ANN family's job at 100 TB (IVF/LSH swap in); backward
    averages then price only candidate targets, and the margin join
    is per-pair arithmetic on k*|src| rows."""
    e = _t(spark, sf_dir, "embeddings")
    src = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 40)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    tgt = e.filter(F.col("vec_id") % 2 == 1)
    fwd = similarity.brute_force_topk(src, tgt, k=4).select(
        F.col("query_id").alias("src_id"),
        F.col("vec_id").alias("tgt_id"),
        "score",
    )
    # backward ranks need every (src, tgt) score, not just forward
    # winners: rescore tgt against the src side (src is the small
    # bounded set, so this is the cheap direction)
    bwd = similarity.brute_force_topk(
        tgt.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
        e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 40)),
        k=4,
    ).select(F.col("query_id").alias("tgt_id"), "score")
    avg_x = fwd.groupBy("src_id").agg(
        (F.sum(F.col("score").cast("decimal(18,6)")).cast("double") / F.lit(4)).alias(
            "avg_x"
        )
    )
    avg_y = bwd.groupBy("tgt_id").agg(
        (F.sum(F.col("score").cast("decimal(18,6)")).cast("double") / F.lit(4)).alias(
            "avg_y"
        )
    )
    m = (
        fwd.join(avg_x, "src_id")
        .join(avg_y, "tgt_id")
        .withColumn(
            "margin",
            F.col("score") / ((F.col("avg_x") + F.col("avg_y")) / F.lit(2)),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.round("margin", 6).desc(), F.col("tgt_id").asc()
    )
    return (
        m.withColumn("mr", F.row_number().over(w))
        .filter(F.col("mr") == 1)
        .select("src_id", "tgt_id", "score", "margin")
    )



def _semdedup_sql(dim: int = 64, n_centroids: int = 16, thr: str = "0.3") -> str:
    """SQL twin of dedup.semdedup: seeded-centroid cell assignment
    (letter-identical to _ivf_topk_sql's), within-cell rounded-cosine
    edges, recursive transitive closure, min-id keeper."""
    cents = similarity._seeded_hyperplanes(dim, n_centroids, table=991)
    structs = ", ".join(
        f"struct_pack(cell := {c}, score := list_dot_product(v, {_double_array_sql(cents[c])}))"
        for c in range(n_centroids)
    )
    return f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    cells AS (SELECT vec_id, unnest([{structs}]) AS u FROM e),
    rc AS (
        SELECT vec_id, u.cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY u.score DESC, u.cell ASC) AS rn
        FROM cells
    ),
    ic AS (SELECT vec_id, cell FROM rc WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM ic a JOIN ic b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6)
              >= {thr}
    ),
    edges AS (
        SELECT ia AS a, ib AS b FROM pairs
        UNION SELECT ib, ia FROM pairs
    ),
    reach(src, dst) AS (
        SELECT vec_id, vec_id FROM ic
        UNION
        SELECT r.src, g.b FROM reach r JOIN edges g ON g.a = r.dst
    ),
    labels AS (SELECT src AS vec_id, min(dst) AS cluster_id
               FROM reach GROUP BY src)
    SELECT l.vec_id, i.cell, l.cluster_id,
           CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS cluster_size,
           l.vec_id = l.cluster_id AS is_keeper
    FROM labels l JOIN ic i USING (vec_id)
    """


@register("dd_semdedup", _semdedup_sql())
def dd_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic duplicates collapse to
    one keeper by clustering embeddings (seeded IVF cells — fitted
    centroids plug in identically), comparing cosine ONLY within a
    cell, and labeling the transitive groups with the same
    large-star/small-star components that power lexical clusters. The
    cell bound is the scale story: pair work is per-cell quadratic,
    never corpus quadratic, and more/fitted centroids shrink cells.
    Oracle recomputes assignment with the letter-identical
    struct_pack argmax and the closure recursively."""
    e = _t(spark, sf_dir, "embeddings")
    return dedup.semdedup(e, dim=64, n_centroids=16, threshold=0.3)



def _d4_sql(dim: int = 64, n_centroids: int = 16) -> str:
    """SQL twin of ex_d4_prune: the semdedup CTE chain, then per-cell
    prototype ranking of the KEEPERS by rounded dot-to-own-centroid
    (desc, id tie-break); the closest (n+3)//4 prune as prototypes."""
    cents = similarity._seeded_hyperplanes(dim, n_centroids, table=991)
    structs = ", ".join(
        f"struct_pack(cell := {c}, score := list_dot_product(v, {_double_array_sql(cents[c])}))"
        for c in range(n_centroids)
    )
    cent_case = " ".join(
        f"WHEN {c} THEN round(list_dot_product(e.v, {_double_array_sql(cents[c])}), 6)"
        for c in range(n_centroids)
    )
    return f"""
    WITH RECURSIVE e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    cells AS (SELECT vec_id, unnest([{structs}]) AS u FROM e),
    rc AS (
        SELECT vec_id, u.cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY u.score DESC, u.cell ASC) AS rn
        FROM cells
    ),
    ic AS (SELECT vec_id, cell FROM rc WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM ic a JOIN ic b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) >= 0.3
    ),
    edges AS (SELECT ia AS a, ib AS b FROM pairs
              UNION SELECT ib, ia FROM pairs),
    reach(src, dst) AS (
        SELECT vec_id, vec_id FROM ic
        UNION
        SELECT r.src, g.b FROM reach r JOIN edges g ON g.a = r.dst
    ),
    labels AS (SELECT src AS vec_id, min(dst) AS cluster_id
               FROM reach GROUP BY src),
    keepers AS (
        SELECT l.vec_id, i.cell,
               CASE i.cell {cent_case} END AS proto_score
        FROM labels l JOIN ic i USING (vec_id) JOIN e ON e.vec_id = l.vec_id
        WHERE l.vec_id = l.cluster_id
    ),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell
                                  ORDER BY proto_score DESC, vec_id ASC)
                   AS proto_rank,
               count(*) OVER (PARTITION BY cell) AS n_cell
        FROM keepers
    )
    SELECT l.vec_id, i.cell,
           CASE WHEN l.vec_id <> l.cluster_id THEN 'dup'
                WHEN r.proto_rank <= (r.n_cell + 3) // 4 THEN 'proto'
                ELSE 'kept' END AS stage,
           CAST(coalesce(r.proto_rank, 0) AS BIGINT) AS proto_rank
    FROM labels l JOIN ic i USING (vec_id)
    LEFT JOIN ranked r ON r.vec_id = l.vec_id
    """


@register("ex_d4_prune", _d4_sql())
def ex_d4_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (Tirumala et al. 2023, "D4: Improving LLM Pretraining via
    Document De-Duplication and Diversification"): after SemDeDup
    removes semantic duplicates, prune the most PROTOTYPICAL quarter
    of each cluster-cell — the points closest to their centroid add
    the least diversity per token. Stages per vector: 'dup' (removed
    by SemDeDup), 'proto' (pruned by D4), 'kept'. Proximity =
    rounded dot to the OWN cell's centroid (deterministic constants),
    rank with id tie-break, integer (n+3)//4 cut on both engines.
    Composes dedup.semdedup + the shared IVF assignment — the whole
    D4 pipeline in one gated plan."""
    from unstract_spark.operators.retrieval import dot

    cents = similarity._seeded_hyperplanes(64, 16, table=991)
    e = _t(spark, sf_dir, "embeddings")
    sd = dedup.semdedup(e, dim=64, n_centroids=16, threshold=0.3)
    cent_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    withv = sd.join(e.select("vec_id", "embedding"), "vec_id").withColumn(
        "proto_score",
        F.round(
            dot(
                F.col("embedding").cast("array<double>"),
                F.element_at(cent_arr, F.col("cell") + 1),
            ),
            6,
        ),
    )
    keepers = withv.filter(F.col("is_keeper"))
    wr = Window.partitionBy("cell").orderBy(
        F.col("proto_score").desc(), F.col("vec_id").asc()
    )
    wn = Window.partitionBy("cell")
    ranked = keepers.select(
        "vec_id",
        F.row_number().over(wr).alias("proto_rank"),
        F.count(F.lit(1)).over(wn).alias("n_cell"),
    )
    out = withv.join(ranked, "vec_id", "left")
    stage = (
        F.when(~F.col("is_keeper"), F.lit("dup"))
        .when(
            F.col("proto_rank") <= F.floor((F.col("n_cell") + 3) / 4),
            F.lit("proto"),
        )
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "vec_id",
        "cell",
        stage.alias("stage"),
        F.coalesce(F.col("proto_rank").cast("long"), F.lit(0)).alias("proto_rank"),
    )



@register(
    "ex_dsir_select",
    r"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(ws[CAST(u.i AS INT)] || ' ' ||
                                   ws[CAST(u.i + 1 AS INT)]), 1, 8))::BIGINT
                   % 1024 AS b
        FROM w, unnest(range(1, len(ws))) AS u(i)
    ),
    docb AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    tgt AS (SELECT b, count(*) AS ct FROM bg WHERE source = 'src0'
            GROUP BY 1),
    src AS (SELECT b, count(*) AS cs FROM bg GROUP BY 1),
    tots AS (SELECT (SELECT count(*) FROM bg WHERE source = 'src0') AS nt,
                    (SELECT count(*) FROM bg) AS ns),
    model AS (
        SELECT s.b,
               ln((coalesce(t.ct, 0) + 1.0) / (tots.nt + 1024.0))
               - ln((s.cs + 1.0) / (tots.ns + 1024.0)) AS llr
        FROM src s LEFT JOIN tgt t USING (b) CROSS JOIN tots
    ),
    wts AS (
        SELECT d.doc_id,
               round(CAST(sum(CAST(d.c * m.llr AS DECIMAL(28,10)))
                          AS DOUBLE), 6) AS dsir_weight
        FROM docb d JOIN model m USING (b) GROUP BY 1
    ),
    allw AS (
        SELECT doc.doc_id, coalesce(w.dsir_weight, 0.0) AS dsir_weight
        FROM documents doc LEFT JOIN wts w USING (doc_id)
    ),
    r AS (
        SELECT doc_id, dsir_weight,
               row_number() OVER (ORDER BY dsir_weight DESC, doc_id ASC)
                   AS rnk,
               count(*) OVER () AS n
        FROM allw
    )
    SELECT doc_id, dsir_weight, CAST(rnk AS BIGINT) AS rnk,
           rnk <= n // 4 AS selected
    FROM r
    """,
)
def ex_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): rank the corpus by the log importance
    ratio of a TARGET-domain bag-of-hashed-bigrams model (here the
    'src0' slice) over the source model, Laplace-smoothed over 1024
    md5 buckets, and select the top quarter — the cheap lexical proxy
    that picked pretraining data for LLaMA-class corpora.

    Cross-engine discipline is the unigram-logprob template: one llr
    double per BUCKET (ln of smoothed count ratios — exact integer
    inputs), per-doc weights as decimal-domain sums of count*llr
    terms rounded once; selection by GLOBAL RANK (distributed
    range_prefix — no partition-less window) on the rounded weight
    with a doc_id tie-break, integer n//4 cut."""
    from unstract_spark.operators.ranks import range_prefix

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # Guard the fan-out: sequence(1, size-1) with size==1 yields the
    # DESCENDING [1, 0] in Spark and element_at(_, 0+1=1) is fine but
    # element_at(_, 0) throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT — a
    # 1-word (or empty) document must produce ZERO bigrams, matching
    # the oracle's range(1, 1) = empty-set behavior.
    pairs = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat(element_at(split(text, ' '), i), ' ', "
        "element_at(split(text, ' '), i + 1))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    bg = d.select(
        "doc_id",
        "source",
        F.explode(pairs).alias("pair"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("pair"), 1, 8), 16, 10).cast("long") % 1024,
    )
    docb = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    tgt = (
        bg.filter(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    src = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    tots = bg.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("nt"),
        F.count(F.lit(1)).alias("ns"),
    )
    model = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(1024.0))
                )
                - F.log((F.col("cs") + F.lit(1.0)) / (F.col("ns") + F.lit(1024.0)))
            ).alias("llr"),
        )
    )
    wts = (
        docb.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum((F.col("c") * F.col("llr")).cast("decimal(28,10)")).cast(
                    "double"
                ),
                6,
            ).alias("dsir_weight")
        )
    )
    allw = (
        d.select("doc_id")
        .join(wts, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("dsir_weight", F.lit(0.0)).alias("dsir_weight")
        )
        .withColumn("neg_w", -F.col("dsir_weight"))
    )
    ranked = range_prefix(
        allw.select("neg_w", "doc_id"), ["neg_w", "doc_id"], rank_col="rnk"
    ).select("doc_id", "rnk")
    nrow = allw.agg(F.count(F.lit(1)).alias("n"))
    return (
        allw.join(ranked, "doc_id")
        .crossJoin(F.broadcast(nrow))
        .select(
            "doc_id",
            "dsir_weight",
            F.col("rnk").cast("long").alias("rnk"),
            (F.col("rnk") <= F.floor(F.col("n") / 4)).alias("selected"),
        )
    )


@register(
    "dd_bloom_auto",
    """
    WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    hist AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0),
    sz AS (SELECT 1024 * ((10 * greatest(count(*), 1) + 1023) // 1024) AS m
           FROM hist),
    bits AS (
        SELECT DISTINCT
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || f), 1, 8))
                ::BIGINT % sz.m AS bit
        FROM hist, sz, unnest([0, 1, 2, 3]) AS u(j)
    ),
    probes AS (
        SELECT fp.doc_id,
            ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || fp.f), 1, 8))
                ::BIGINT % sz.m AS bit
        FROM fp, sz, unnest([0, 1, 2, 3]) AS u(j)
    ),
    mem AS (
        SELECT p.doc_id,
               sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 4
                   AS maybe_seen
        FROM probes p LEFT JOIN bits b USING (bit) GROUP BY 1
    )
    SELECT fp.doc_id, mem.maybe_seen,
           fp.f IN (SELECT f FROM hist) AS exact_seen,
           sz.m AS m_bits
    FROM fp JOIN mem USING (doc_id) CROSS JOIN sz
    """,
)
def dd_bloom_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-SIZED Bloom membership (dedup.auto_bloom_m +
    bloom_filter_bits/bloom_membership): m derives from the history's
    distinct-key count (10 bits/key, exact integer rounding), the
    lesson the r10 40x rung taught — the sibling dd_bloom_membership's
    fixed m=8192 saturates at ~66k history keys and degenerates to
    maybe_seen=true everywhere. The oracle RE-DERIVES m from its own
    count (pure integer arithmetic incl. auto_bloom_m's empty-history
    clamp greatest(n,1), no registration-time literal), so the sizing
    rule itself is value-hash-gated at any SF — stronger than the
    auto-LSH static-fixture trick, possible because the m arithmetic
    is SQL-expressible where seeded hyperplanes are not."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5("text").alias("fingerprint"))
    hist = (
        fp.filter(F.col("doc_id") % 2 == 0).select("fingerprint").distinct()
    )
    m = dedup.auto_bloom_m(hist.count())
    bits = dedup.bloom_filter_bits(hist, m=m, k=4)
    mem = dedup.bloom_membership(fp, bits, m=m, k=4)
    exact = fp.join(
        F.broadcast(hist.withColumn("seen", F.lit(1))), "fingerprint", "left"
    ).select("doc_id", F.col("seen").isNotNull().alias("exact_seen"))
    return mem.join(exact, "doc_id").select(
        "doc_id",
        "maybe_seen",
        "exact_seen",
        F.lit(m).cast("long").alias("m_bits"),
    )


# ---------------------------------------------------------------------------
# KMV sketches (operators/sketches.py) — approximate distinct counts
# and set overlap with EXACT oracles: the sketch is a pure ORDER BY
# hash LIMIT k over a cross-engine md5-prefix hash, so every emitted
# number is deterministic (see the module docstring for the estimator
# and the IEEE determinism argument). HLL/theta registers have no such
# twin — this is the gatable member of the sketch family.

def _kmv_est_sql(n_expr: str, kth_expr: str, k: int = 256) -> str:
    """The KMV estimator CASE, parameterized over the count and k-th
    hash expressions so the distinct and overlap oracles (and any
    future convention fix) share ONE spelling of (k-1)·M / h_k with
    the exact-below-k branch."""
    return (
        f"CASE WHEN {n_expr} < {k} THEN CAST({n_expr} AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) "
        f"/ CAST({kth_expr} AS DOUBLE) END"
    )


_KMV_EST = _kmv_est_sql("count(*)", "max(h)")


def _kmv_hash_sql(expr: str) -> str:
    return f"CAST(CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT) AS BIGINT)"


_SK_KMV_DISTINCT_SQL = f"""
WITH ha AS (SELECT DISTINCT {_kmv_hash_sql('CAST(l_orderkey AS VARCHAR)')} AS h
            FROM lineitem WHERE l_orderkey IS NOT NULL),
ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
hb AS (SELECT DISTINCT {_kmv_hash_sql('c_mktsegment')} AS h
       FROM customer WHERE c_mktsegment IS NOT NULL),
skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
ra AS (SELECT 'l_orderkey' AS col, CAST(256 AS BIGINT) AS k,
              count(*) AS n_sketch, max(h) AS kth_hash,
              {_KMV_EST} AS est_distinct FROM ska),
rb AS (SELECT 'c_mktsegment' AS col, CAST(256 AS BIGINT) AS k,
              count(*) AS n_sketch, max(h) AS kth_hash,
              {_KMV_EST} AS est_distinct FROM skb)
SELECT * FROM ra UNION ALL SELECT * FROM rb
"""


@register("sk_kmv_distinct", _SK_KMV_DISTINCT_SQL)
def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (sketches.kmv_distinct) on one
    high-cardinality key (l_orderkey as string — the estimator branch
    at both gate SFs) and one low-cardinality column (c_mktsegment,
    < k distinct — the exact branch where the sketch holds the whole
    value set). At 100 TB the sketch ships k longs per split instead
    of shuffling every distinct key the way an exact count-distinct
    must."""
    from unstract_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("okey")
    )
    cust = _t(spark, sf_dir, "customer")
    a = sketches.kmv_distinct(li, "okey", k=256).select(
        F.lit("l_orderkey").alias("col"), "*"
    )
    b = sketches.kmv_distinct(cust, "c_mktsegment", k=256).select(
        F.lit("c_mktsegment").alias("col"), "*"
    )
    return a.unionByName(b)


_SK_KMV_OVERLAP_SQL = f"""
WITH wa AS (SELECT DISTINCT {_kmv_hash_sql('w')} AS h
            FROM documents, unnest(string_split(text, ' ')) AS t(w)
            WHERE doc_id % 2 = 0 AND w <> ''),
wb AS (SELECT DISTINCT {_kmv_hash_sql('w')} AS h
       FROM documents, unnest(string_split(text, ' ')) AS t(w)
       WHERE doc_id % 2 = 1 AND w <> ''),
sa AS (SELECT h FROM wa ORDER BY h LIMIT 256),
sb AS (SELECT h FROM wb ORDER BY h LIMIT 256),
mg AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
       ORDER BY h LIMIT 256),
st AS (SELECT count(*) AS n_merged, max(h) AS kth,
              count(*) FILTER (WHERE h IN (SELECT h FROM sa)
                               AND h IN (SELECT h FROM sb)) AS n_both
       FROM mg),
u AS (SELECT n_merged, n_both,
             {_kmv_est_sql('n_merged', 'kth')} AS est_union,
             CASE WHEN n_merged = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(n_both AS DOUBLE) / CAST(n_merged AS DOUBLE)
             END AS jac
      FROM st)
SELECT est_union, jac AS est_jaccard, jac * est_union AS est_intersection
FROM u
"""


@register("sk_kmv_overlap", _SK_KMV_OVERLAP_SQL)
def sk_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set overlap (sketches.kmv_overlap): Jaccard
    and intersection-size estimates between the word sets of the
    even- and odd-doc_id document halves, from two mergeable k=256
    sketches — the corpus-overlap primitive (train-vs-eval vocabulary
    contamination screens, crawl-snapshot drift) at sketch cost
    instead of a full distinct-set join."""
    from unstract_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")

    def words(parity: int):
        return (
            docs.filter(F.col("doc_id") % 2 == parity)
            .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.col("w") != "")
        )

    return sketches.kmv_overlap(words(0), "w", words(1), "w", k=256)


_SK_KMV_BY_GROUP_SQL = f"""
WITH hx AS (SELECT DISTINCT o_orderpriority AS g,
                   {_kmv_hash_sql('CAST(o_custkey AS VARCHAR)')} AS h
            FROM orders WHERE o_custkey IS NOT NULL),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       FROM hx),
sk AS (SELECT g, h FROM rk WHERE rn <= 128)
SELECT g AS o_orderpriority, CAST(128 AS BIGINT) AS k,
       count(*) AS n_sketch, max(h) AS kth_hash,
       {_kmv_est_sql('count(*)', 'max(h)', k=128)} AS est_distinct
FROM sk GROUP BY g
"""


@register("sk_kmv_by_group", _SK_KMV_BY_GROUP_SQL)
def sk_kmv_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP KMV distinct counts (sketches.kmv_distinct_by_group):
    distinct customers per order priority from one k=128 sketch per
    group — the GROUP BY spelling of the family (segment-level
    cardinality profiling at k longs of state per group instead of an
    exact per-group distinct-key shuffle). The per-Arrow-batch
    prefilter bounds the shuffle at batches*groups*k rows; the oracle
    is a per-group row_number cut over the same 60-bit hash, so every
    group's estimate is value-hash-gated. At sf0.001 the per-priority
    cardinalities straddle k (126-132 distinct customers), so the
    exact-below-k AND estimator branches fire within ONE gated result;
    sf0.01 (about 1300 per group) is pure-estimator — both gated."""
    from unstract_spark.operators import sketches

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("ck")
    )
    return sketches.kmv_distinct_by_group(o, "o_orderpriority", "ck", k=128)


_SK_KMV_DIFFERENCE_SQL = f"""
WITH wa AS (SELECT DISTINCT {_kmv_hash_sql('w')} AS h
            FROM documents, unnest(string_split(text, ' ')) AS t(w)
            WHERE doc_id % 3 = 0 AND w <> ''),
wb AS (SELECT DISTINCT {_kmv_hash_sql('w')} AS h
       FROM documents, unnest(string_split(text, ' ')) AS t(w)
       WHERE doc_id % 3 = 1 AND w <> ''),
sa AS (SELECT h FROM wa ORDER BY h LIMIT 256),
sb AS (SELECT h FROM wb ORDER BY h LIMIT 256),
mg AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
       ORDER BY h LIMIT 256),
st AS (SELECT count(*) AS n_merged, max(h) AS kth,
              count(*) FILTER (WHERE h IN (SELECT h FROM sa)
                               AND h NOT IN (SELECT h FROM sb)) AS n_a_only,
              count(*) FILTER (WHERE h IN (SELECT h FROM sb)
                               AND h NOT IN (SELECT h FROM sa)) AS n_b_only
       FROM mg),
u AS (SELECT n_merged, n_a_only, n_b_only,
             {_kmv_est_sql('n_merged', 'kth')} AS est_union
      FROM st)
SELECT est_union,
       (CASE WHEN n_merged = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(n_a_only AS DOUBLE) / CAST(n_merged AS DOUBLE)
        END) * est_union AS est_a_not_b,
       (CASE WHEN n_merged = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(n_b_only AS DOUBLE) / CAST(n_merged AS DOUBLE)
        END) * est_union AS est_b_not_a
FROM u
"""


@register("sk_kmv_difference", _SK_KMV_DIFFERENCE_SQL)
def sk_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style one-sided set DIFFERENCES
    (sketches.kmv_difference): how much of slice A's vocabulary is
    absent from slice B and vice versa (doc_id % 3 == 0 vs == 1 word
    sets) — the "new content since the last snapshot" estimator
    (crawl-drift, unseen-key screens) from the same two mergeable
    k=256 sketches as the overlap gate, with the one-aggregate
    membership stats shared via _overlap_stats."""
    from unstract_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")

    def words(residue: int):
        return (
            docs.filter(F.col("doc_id") % 3 == residue)
            .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.col("w") != "")
        )

    return sketches.kmv_difference(words(0), "w", words(1), "w", k=256)


_SK_SAMPLE_QUANTILES_SQL = f"""
WITH hx AS (SELECT {_kmv_hash_sql(
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)} AS h,
            l_extendedprice AS v
     FROM lineitem),
smp AS (SELECT v FROM hx ORDER BY h, v LIMIT 512)
SELECT CAST(512 AS BIGINT) AS k, count(*) AS n_sample,
       round(quantile_cont(v, 0.25), 6) AS p25,
       round(quantile_cont(v, 0.50), 6) AS p50,
       round(quantile_cont(v, 0.75), 6) AS p75,
       round(quantile_cont(v, 0.95), 6) AS p95
FROM smp
"""


@register("sk_sample_quantiles", _SK_SAMPLE_QUANTILES_SQL)
def sk_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles (sketches.sample_quantiles):
    l_extendedprice percentiles from the deterministic bottom-k-by-hash
    row sample (k=512, keyed on the unique (l_orderkey, l_linenumber)
    pair) — the cross-engine-gatable stand-in for t-digest/KLL, whose
    register layouts have no SQL twin. The oracle re-derives the SAME
    sample (ORDER BY the 60-bit hash LIMIT k) and interpolates with
    quantile_cont (= Spark percentile's rank definition, the
    agg_length_percentiles parity), so the sketch's every output is
    value-hash-gated at both SFs (6k and 60k rows, sample live at
    both; the n_sample < k exact branch is pytest-gated). State is k
    plain rows per split, merged by union + re-min like the
    distinct-count sketch."""
    from unstract_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
        F.col("l_extendedprice").alias("v"),
    )
    return sketches.sample_quantiles(li, "rk", "v", k=512)


def _kmv_join_sql(
    rel_a: str, key_a: str, rel_b: str, key_b: str, label: str, k: int = 256
) -> str:
    """One labeled join-size-estimate row (the sk_join_size twin),
    parameterized over the two (relation, key) sides so multiple pairs
    share ONE spelling of the theta-sketch join estimator."""
    est_u = _kmv_est_sql("n_merged", "kth", k=k)
    return f"""
SELECT '{label}' AS pair, CAST({k} AS BIGINT) AS k, n_merged,
       kth AS kth_hash, sum_prod,
       {est_u} AS est_union_keys,
       CASE WHEN n_merged = 0 THEN CAST(0 AS DOUBLE)
            WHEN n_merged < {k} THEN CAST(sum_prod AS DOUBLE)
            ELSE CAST(sum_prod AS DOUBLE) / CAST(n_merged AS DOUBLE)
                 * ({_kmv_est_sql(str(k), "kth", k=k)})
       END AS est_join_rows
FROM (
  WITH ka AS (SELECT {_kmv_hash_sql(key_a)} AS h
              FROM {rel_a} WHERE {key_a} IS NOT NULL),
  kb AS (SELECT {_kmv_hash_sql(key_b)} AS h
         FROM {rel_b} WHERE {key_b} IS NOT NULL),
  sa AS (SELECT h FROM (SELECT DISTINCT h FROM ka) ORDER BY h LIMIT {k}),
  sb AS (SELECT h FROM (SELECT DISTINCT h FROM kb) ORDER BY h LIMIT {k}),
  mg AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
         ORDER BY h LIMIT {k}),
  ca AS (SELECT h, count(*) AS c_a FROM ka
         WHERE h IN (SELECT h FROM mg) GROUP BY h),
  cb AS (SELECT h, count(*) AS c_b FROM kb
         WHERE h IN (SELECT h FROM mg) GROUP BY h)
  SELECT count(*) AS n_merged, max(h) AS kth,
         CAST(sum(COALESCE(c_a, 0) * COALESCE(c_b, 0)) AS BIGINT)
           AS sum_prod
  FROM mg LEFT JOIN ca USING (h) LEFT JOIN cb USING (h)
)
"""


_SK_JOIN_SIZE_SQL = (
    _kmv_join_sql(
        "orders",
        "CAST(o_orderkey AS VARCHAR)",
        "lineitem",
        "CAST(l_orderkey AS VARCHAR)",
        "orders_lineitem_orderkey",
    )
    + " UNION ALL "
    + _kmv_join_sql(
        "orders",
        "CAST(o_custkey AS VARCHAR)",
        "orders",
        "CAST(o_custkey AS VARCHAR)",
        "orders_orders_custkey",
    )
)


@register("sk_join_size", _SK_JOIN_SIZE_SQL)
def sk_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-cardinality estimates (sketches.kmv_join_size,
    the theta-sketch join estimator): one row for the 1:N
    orders ⋈ lineitem ON orderkey pair and one for the M:N
    orders ⋈ orders ON custkey self-pair — the statistic an AQE-style
    planner needs (broadcast? salt?) BEFORE paying for the shuffle.
    Per-key counts are computed only for the ≤ k merged-sample keys
    via broadcast semi-joins (neither input ever shuffles by key;
    3k longs of state); when the merged sketch holds the whole key
    union (n_merged < k) the estimate IS the exact join cardinality —
    at the gate SFs the orderkey pair exercises the estimator branch
    and sf0.001's custkey pair sits near the k boundary, so both
    branches stay under the hash gate."""
    from unstract_spark.operators import sketches

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("ok"),
        F.col("o_custkey").cast("string").alias("ck"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("ok")
    )
    r1 = sketches.kmv_join_size(o, "ok", li, "ok", k=256).select(
        F.lit("orders_lineitem_orderkey").alias("pair"), "*"
    )
    r2 = sketches.kmv_join_size(o, "ck", o, "ck", k=256).select(
        F.lit("orders_orders_custkey").alias("pair"), "*"
    )
    return r1.unionByName(r2)


_J13_SNAPSHOT_DIFF_SQL = """
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                     o_orderpriority
              FROM orders),
oldv AS (SELECT * FROM base WHERE o_orderkey % 10 <> 3),
newv AS (SELECT o_orderkey, o_orderstatus,
                CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_orderkey % 9 = 0 THEN 'X-RECLASS'
                     ELSE o_orderpriority END AS o_orderpriority
         FROM base WHERE o_orderkey % 10 <> 7),
j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             concat_ws(',',
               CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'o_totalprice' END,
               CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                    THEN 'o_orderpriority' END) AS changed
      FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS status,
       CASE WHEN in_old AND in_new THEN changed ELSE '' END
         AS changed_cols
FROM j
WHERE NOT in_old OR NOT in_new OR changed <> ''
"""


@register("j13_snapshot_diff", _J13_SNAPSHOT_DIFF_SQL)
def j13_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff / CDC (joins.snapshot_diff): two
    deterministic versions of orders (old drops orderkey%10==3, new
    drops %10==7, bumps totalprice on %4==0 and reclassifies priority
    on %9==0) diffed into added/removed/changed rows with the
    null-safe changed-column list — the incremental-refresh primitive
    (re-crawled corpus, re-exported snapshot) that feeds downstream
    re-embedding only what moved. One full-outer shuffle join on the
    key; comparisons are codegen'd null-safe equals."""
    from unstract_spark.operators import joins

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    old = base.filter(F.col("o_orderkey") % 10 != 3)
    new = (
        base.filter(F.col("o_orderkey") % 10 != 7)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % 9 == 0, F.lit("X-RECLASS")
            ).otherwise(F.col("o_orderpriority")),
        )
    )
    return joins.snapshot_diff(old, new, ["o_orderkey"])


_EX_COMPACTION_PLAN_SQL = """
WITH f AS (SELECT doc_id AS fid, strlen(text) AS sz FROM documents),
c AS (SELECT fid, sz,
             sum(sz) OVER (ORDER BY fid
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM f)
SELECT fid AS doc_id, sz AS bytes,
       CAST((cum - sz) // 8192 AS BIGINT) AS bin_id
FROM c
"""


@register("ex_compaction_plan", _EX_COMPACTION_PLAN_SQL)
def ex_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction PLAN (export.compaction_plan): assign
    every document (size = byte length of text) to an ~8 KiB output
    bin by sequential fill in doc_id order — the metadata-only
    planning half of table maintenance (one rewrite task per bin).
    The running byte sum is the distributed two-pass prefix
    (ranks.range_prefix), never a single-partition window; the oracle
    re-derives the identical integer bin for every file, so the whole
    assignment is value-hash-gated."""
    from unstract_spark.operators import export

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").alias("bytes")
    )
    return export.compaction_plan(d, "doc_id", "bytes", target_bytes=8192)


_AGG_SKEW_REPORT_SQL = """
WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
             count(*) AS n_keys
      FROM c),
t AS (SELECT k, cnt FROM c ORDER BY cnt DESC, k LIMIT 10)
SELECT k AS user_id, cnt,
       CAST(cnt * 1000000 // total_rows AS BIGINT) AS share_ppm,
       CAST(cnt * 1000 * n_keys // total_rows AS BIGINT) AS skew_x1000,
       n_keys, total_rows
FROM t, s
"""


@register("agg_skew_report", _AGG_SKEW_REPORT_SQL)
def agg_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (joins.key_skew_report) on events.user_id:
    the 10 heaviest keys with integer-exact share (parts-per-million)
    and skew factor (multiple of the mean key load, x1000) — the
    probe that decides salted_join / AQE skew handling BEFORE the
    skewed shuffle. One map-side-combining groupBy + a broadcast
    1-row global aggregate + TakeOrdered(10); every output column is
    integer arithmetic, so the report hash-gates exactly."""
    from unstract_spark.operators import joins

    ev = _t(spark, sf_dir, "events")
    return joins.key_skew_report(ev, "user_id", top_n=10)


def _profile_col_sql(c: str) -> str:
    """One column's profile row — the SQL twin of profile.profile_columns
    (decimal-domain avg length, native-type min/max rendered to string)."""
    return f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str,
       CASE WHEN count({c}) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE round(CAST(sum(CAST(length(CAST({c} AS VARCHAR))
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       / count({c}), 6)
       END AS avg_len
FROM prof_base
"""


_AGG_COLUMN_PROFILE_SQL = (
    """
WITH prof_base AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                          nullif(c_mktsegment, 'BUILDING') AS seg_nullable
                   FROM customer)
"""
    + " UNION ALL ".join(
        _profile_col_sql(c)
        for c in (
            "c_custkey",
            "c_name",
            "c_nationkey",
            "c_mktsegment",
            "seg_nullable",
        )
    )
)


@register("agg_column_profile", _AGG_COLUMN_PROFILE_SQL)
def agg_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (profile.profile_columns): per-column
    row/null/exact-distinct counts, lexicographic min/max of the
    string rendering, and decimal-domain mean rendered length over
    customer — plus a derived nullable column (segment with
    'BUILDING' nulled out) so the null accounting itself sits under
    the hash gate. Unpivot-first: one stack() scan, then two hash
    aggregates (no count-DISTINCT Expand, no SortAggregate — see the
    module docstring); the KMV sketches are the estimate path when
    exact distincts are too expensive at scale."""
    from unstract_spark.operators import profile

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias(
            "seg_nullable"
        ),
    )
    return profile.profile_columns(
        c,
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment",
         "seg_nullable"],
    )


_SK_RANGE_SPLITS_SQL = f"""
WITH hx AS (SELECT {_kmv_hash_sql(
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)} AS h,
            l_extendedprice AS v
     FROM lineitem),
smp AS (SELECT h, v FROM hx ORDER BY h, v LIMIT 512),
rk AS (SELECT v AS bv, row_number() OVER (ORDER BY v, h) AS rn FROM smp),
n AS (SELECT count(*) AS n FROM smp),
pos AS (SELECT CAST(t.i * n.n // 8 AS BIGINT) AS rn
        FROM range(1, 8) t(i), n),
b AS (SELECT list_sort(list(bv)) AS bnds FROM rk JOIN pos USING (rn)),
asg AS (SELECT len(list_filter(b.bnds, x -> hx.v > x)) AS split_id, hx.v
        FROM hx, b
        WHERE hx.v IS NOT NULL)
SELECT split_id, count(*) AS n_rows,
       min(v) AS min_val, max(v) AS max_val
FROM asg GROUP BY split_id
"""


@register("sk_range_splits", _SK_RANGE_SPLITS_SQL)
def sk_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition boundary planning (sketches.range_split_plan):
    8 splits of l_extendedprice with boundaries drawn at the
    equi-depth positions of the deterministic bottom-k row sample
    (k=512, keyed on the unique (orderkey, linenumber) pair) and the
    per-split balance report — what repartitionByRange's reservoir
    sampling does internally, made deterministic and hash-gatable.
    The data is scanned once against a broadcast boundary array and
    never shuffled by the key; only the <= 8-row report aggregates."""
    from unstract_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
        F.col("l_extendedprice").alias("v"),
    )
    return sketches.range_split_plan(li, "rk", "v", n_splits=8, k=512).select(
        F.col("split_id").cast("long").alias("split_id"),
        "n_rows",
        "min_val",
        "max_val",
    )


_SK_GROUP_SAMPLE_SQL = f"""
WITH hx AS (SELECT c_mktsegment,
                   {_kmv_hash_sql('CAST(c_custkey AS VARCHAR)')} AS h,
                   c_custkey, c_name
            FROM customer WHERE c_custkey IS NOT NULL),
rk AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY h, c_custkey, c_name) AS rn
       FROM hx)
SELECT c_mktsegment, h, c_custkey, c_name FROM rk WHERE rn <= 3
"""


@register("sk_group_sample", _SK_GROUP_SAMPLE_SQL)
def sk_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic row sample
    (sketches.kmv_row_sample_by_group): 3 customers per market
    segment by smallest key hash — the per-language eval-subset /
    per-source spot-check primitive, rerunnable bit-identically and
    mergeable per group. Per-Arrow-batch prefilter bounds the shuffle
    at batches*groups*k rows; the oracle re-derives the identical
    per-group row_number cut over the same 60-bit hash."""
    from unstract_spark.operators import sketches

    c = _t(spark, sf_dir, "customer")
    return sketches.kmv_row_sample_by_group(
        c, "c_mktsegment", "c_custkey", ["c_custkey", "c_name"], k=3
    )


_EVENTS_OHLC_SQL = """
WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                  ts, event_id, value
           FROM events),
w AS (SELECT event_type, bucket_start, value,
             first_value(value) OVER win AS open,
             last_value(value) OVER win AS close
      FROM b
      WINDOW win AS (PARTITION BY event_type, bucket_start
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING))
SELECT event_type, bucket_start, open,
       max(value) AS high, min(value) AS low, close,
       count(*) AS n_events
FROM w
GROUP BY event_type, bucket_start, open, close
"""


_SK_GROUP_QUANTILES_SQL = f"""
WITH hx AS (SELECT event_type AS g,
                   {_kmv_hash_sql('CAST(event_id AS VARCHAR)')} AS h,
                   value AS v
            FROM events WHERE event_id IS NOT NULL),
rk AS (SELECT g, v,
              row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
       FROM hx),
smp AS (SELECT g, v FROM rk WHERE rn <= 128)
SELECT g AS event_type, CAST(128 AS BIGINT) AS k,
       count(*) AS n_sample,
       round(quantile_cont(v, 0.25), 6) AS p25,
       round(quantile_cont(v, 0.50), 6) AS p50,
       round(quantile_cont(v, 0.75), 6) AS p75,
       round(quantile_cont(v, 0.95), 6) AS p95
FROM smp GROUP BY g
"""


@register("sk_group_quantiles", _SK_GROUP_QUANTILES_SQL)
def sk_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group approximate quantiles
    (sketches.sample_quantiles_by_group): event-value percentiles per
    event type from one k=128 stratified bottom-k sample per group —
    per-segment distribution profiling at k rows of state per group
    instead of a full per-group sort; the oracle re-derives the same
    per-group sample (row_number over the 60-bit hash) and
    interpolates with quantile_cont (= Spark percentile's rank
    definition), so every group's percentiles are value-hash-gated."""
    from unstract_spark.operators import sketches

    e = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("v")
    )
    return sketches.sample_quantiles_by_group(
        e, "event_type", "event_id", "v", k=128
    )


_SK_STATS_STORE_SQL = f"""
WITH ho AS (SELECT DISTINCT
              {_kmv_hash_sql('CAST(o_custkey AS VARCHAR)')} AS h
            FROM orders WHERE o_custkey IS NOT NULL),
hc AS (SELECT DISTINCT
         {_kmv_hash_sql('CAST(c_custkey AS VARCHAR)')} AS h
       FROM customer WHERE c_custkey IS NOT NULL),
so AS (SELECT h FROM ho ORDER BY h LIMIT 128),
sc AS (SELECT h FROM hc ORDER BY h LIMIT 128),
mo AS (SELECT count(*) AS n_sk, max(h) AS kth,
              (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL)
                AS n_nonnull
       FROM so),
mc AS (SELECT count(*) AS n_sk, max(h) AS kth,
              (SELECT count(*) FROM customer
               WHERE c_custkey IS NOT NULL) AS n_nonnull
       FROM sc),
mg AS (SELECT h FROM (SELECT h FROM so UNION SELECT h FROM sc)
       ORDER BY h LIMIT 128),
ov AS (SELECT count(*) AS n_merged, max(h) AS kth,
              count(*) FILTER (WHERE h IN (SELECT h FROM so)
                               AND h IN (SELECT h FROM sc)) AS n_both
       FROM mg),
est AS (SELECT
  mo.n_nonnull AS n_orders, mc.n_nonnull AS n_customer,
  {_kmv_est_sql('mo.n_sk', 'mo.kth', k=128)} AS ndv_orders_ck,
  {_kmv_est_sql('mc.n_sk', 'mc.kth', k=128)} AS ndv_customer_ck,
  {_kmv_est_sql('ov.n_merged', 'ov.kth', k=128)} AS est_union,
  ov.n_both, ov.n_merged
  FROM mo, mc, ov)
SELECT n_orders, n_customer, ndv_orders_ck, ndv_customer_ck,
       CAST(n_orders AS DOUBLE) * CAST(n_customer AS DOUBLE)
         / greatest(ndv_orders_ck, ndv_customer_ck)
         AS est_join_containment,
       CAST(n_orders AS DOUBLE) * CAST(n_customer AS DOUBLE)
         * (CAST(n_both AS DOUBLE) / CAST(n_merged AS DOUBLE)
            * est_union)
         / (ndv_orders_ck * ndv_customer_ck) AS est_join_refined
FROM est
"""


@register("sk_stats_store", _SK_STATS_STORE_SQL)
def sk_stats_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TableStatsStore end to end UNDER THE HASH GATE: analyze
    orders.o_custkey and customer.c_custkey (k=128) into a fresh
    on-disk store, then answer from the PERSISTED statistics — NDVs,
    the Selinger containment join estimate, and the overlap-refined
    estimate — and emit the answers as one literal row. The oracle
    re-derives every number from the same 60-bit hashes in pure SQL
    (the merged k-min of two stored k-min sketches equals the k-min
    of the union — the mergeability law the store relies on), so the
    whole persist → read → estimate path is value-hash-gated. All
    estimator arithmetic is the module's standard single-IEEE-op
    chain, mirrored expression-for-expression."""
    import shutil
    import tempfile

    from unstract_spark.operators.stats_store import TableStatsStore

    d = tempfile.mkdtemp(prefix="sk_stats_gate_")
    try:
        store = TableStatsStore(spark, d)
        store.analyze(
            _t(spark, sf_dir, "orders"), "orders", ["o_custkey"], k=128
        )
        store.analyze(
            _t(spark, sf_dir, "customer"), "customer", ["c_custkey"],
            k=128,
        )
        mo = store._meta("orders", "o_custkey")
        mc = store._meta("customer", "c_custkey")
        row = (
            mo.n_nonnull,
            mc.n_nonnull,
            store.distinct_estimate("orders", "o_custkey"),
            store.distinct_estimate("customer", "c_custkey"),
            store.join_estimate(
                "orders", "o_custkey", "customer", "c_custkey"
            ),
            store.join_estimate_refined(
                "orders", "o_custkey", "customer", "c_custkey"
            ),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_orders long, n_customer long, ndv_orders_ck double, "
        "ndv_customer_ck double, est_join_containment double, "
        "est_join_refined double",
    )


def _sim_recall_eval_sql() -> str:
    return f"""
    WITH lsh AS (SELECT * FROM ({_lsh_topk_sql()}) t),
    ex AS (SELECT * FROM ({_COSINE_TOPK_SQL}) t),
    hit AS (SELECT e.query_id,
                   CAST(count(l.vec_id) AS BIGINT) AS n_hits
            FROM ex e LEFT JOIN lsh l
              ON l.query_id = e.query_id AND l.vec_id = e.vec_id
            GROUP BY 1),
    mac AS (SELECT CAST(sum(n_hits) AS DOUBLE) / (5 * 10)
              AS macro_recall FROM hit)
    SELECT query_id, 10 AS k, n_hits,
           CAST(n_hits AS DOUBLE) / 10 AS recall_at_k,
           mac.macro_recall
    FROM hit CROSS JOIN mac
    """


@register("sim_recall_eval", _sim_recall_eval_sql())
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN EVAL HARNESS as a gated query: recall@10 of the LSH
    approximate path against exact brute-force cosine, per query and
    macro-averaged — both retrieval pipelines AND the evaluation join
    re-derived by the oracle in SQL, so the recall numbers the engine
    would report about ITSELF are value-hash-certified (the number a
    tuning loop trusts must be as correct as the data path it
    tunes)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = similarity.brute_force_topk(q, e, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.lsh_topk_join(
        q, e, dim=64, k=10, n_planes=6, n_tables=4
    ).select(
        F.col("query_id").alias("_aq"), F.col("vec_id").alias("_av")
    )
    hit = (
        exact.join(
            approx,
            (exact["query_id"] == approx["_aq"])
            & (exact["vec_id"] == approx["_av"]),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("_av").cast("long").alias("n_hits"))
    )
    mac = hit.agg(
        (F.sum("n_hits").cast("double") / F.lit(50)).alias(
            "macro_recall"
        )
    )
    return hit.crossJoin(F.broadcast(mac)).select(
        "query_id",
        F.lit(10).alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / 10).alias("recall_at_k"),
        "macro_recall",
    )


@register(
    "ta_rouge_eval",
    r"""
    WITH pair AS (
        SELECT doc_id,
               lower(array_to_string(
                   (string_split_regex(lower(text), '\s+'))[1:15],
                   ' ')) AS cand,
               lower(text) AS ref
        FROM documents
    ),
    cw AS (SELECT doc_id, w, count(*) AS c
           FROM (SELECT doc_id,
                        unnest(string_split_regex(cand, '\s+')) AS w
                 FROM pair)
           WHERE w <> '' GROUP BY 1, 2),
    rw AS (SELECT doc_id, w, count(*) AS c
           FROM (SELECT doc_id,
                        unnest(string_split_regex(ref, '\s+')) AS w
                 FROM pair)
           WHERE w <> '' GROUP BY 1, 2),
    ov AS (SELECT cw.doc_id,
                  CAST(sum(least(cw.c, rw.c)) AS BIGINT) AS overlap
           FROM cw JOIN rw USING (doc_id, w) GROUP BY 1),
    tot AS (SELECT c.doc_id, ct.n_cand, rt.n_ref,
                   coalesce(ov.overlap, 0) AS overlap
            FROM pair c
            JOIN (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_cand
                  FROM cw GROUP BY 1) ct USING (doc_id)
            JOIN (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ref
                  FROM rw GROUP BY 1) rt USING (doc_id)
            LEFT JOIN ov USING (doc_id))
    SELECT doc_id, n_cand, n_ref, overlap,
           CAST(overlap AS DOUBLE) / n_cand AS rouge1_p,
           CAST(overlap AS DOUBLE) / n_ref AS rouge1_r,
           round(2 * (CAST(overlap AS DOUBLE) / n_cand)
                   * (CAST(overlap AS DOUBLE) / n_ref)
                 / ((CAST(overlap AS DOUBLE) / n_cand)
                    + (CAST(overlap AS DOUBLE) / n_ref)), 6)
             AS rouge1_f1
    FROM tot
    """,
)
def ta_rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 evaluation metrics — the summarization/extraction eval
    every text pipeline reports, in exact arithmetic: candidate =
    each document's first 15 tokens (the deterministic stand-in for a
    generated summary), reference = the full text; unigram MULTISET
    overlap as sum of per-word least(counts) (exact BIGINTs),
    precision/recall each one IEEE division, F1 the mirrored
    harmonic-mean chain. Every doc's candidate is a prefix of its
    reference, so overlap == n_cand and precision is exactly 1 — the
    structural identity doubling as a self-check while recall and F1
    vary with document length."""
    d = _t(spark, sf_dir, "documents")
    # NO localCheckpoint despite three consumers: the frame carries
    # the FULL text, and checkpointing it pushes every byte through
    # the non-codegen RDD path — re-running a cheap parquet
    # projection per consumer is the lesser cost (measured 27 -> 9 s
    # at the sf0.001 gate)
    pair = d.select(
        "doc_id",
        F.lower(
            F.array_join(
                F.slice(
                    F.split(F.lower(F.col("text")), r"\s+"), 1, 15
                ),
                " ",
            )
        ).alias("cand"),
        F.lower(F.col("text")).alias("ref"),
    )

    def counts(col: str) -> DataFrame:
        return (
            pair.select(
                "doc_id",
                F.explode(F.split(F.col(col), r"\s+")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    cw = counts("cand")
    rw = counts("ref")
    ov = (
        cw.join(
            rw.select(
                "doc_id", "w", F.col("c").alias("rc")
            ),
            ["doc_id", "w"],
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.least(F.col("c"), F.col("rc"))).cast("long").alias(
                "overlap"
            )
        )
    )
    ct = cw.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_cand")
    )
    rt = rw.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_ref")
    )
    tot = (
        pair.select("doc_id")
        .join(ct, "doc_id")
        .join(rt, "doc_id")
        .join(ov, "doc_id", "left")
        .select(
            "doc_id",
            "n_cand",
            "n_ref",
            F.coalesce("overlap", F.lit(0)).cast("long").alias(
                "overlap"
            ),
        )
    )
    p = F.col("overlap").cast("double") / F.col("n_cand")
    r = F.col("overlap").cast("double") / F.col("n_ref")
    return tot.select(
        "doc_id",
        "n_cand",
        "n_ref",
        "overlap",
        p.alias("rouge1_p"),
        r.alias("rouge1_r"),
        F.round(2 * p * r / (p + r), 6).alias("rouge1_f1"),
    )


@register(
    "agg_mann_whitney",
    """
    WITH p AS (SELECT CAST(user_id % 2 AS INT) AS grp,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'),
    g AS (SELECT cents, count(*) AS cnt,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n1v
          FROM p GROUP BY 1),
    r AS (SELECT cents, cnt, n1v,
                 CAST(sum(cnt) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum
          FROM g),
    s AS (SELECT CAST(sum(n1v * (2 * cum - cnt + 1)) AS BIGINT)
                   AS r1d,
                 CAST(sum(n1v) AS BIGINT) AS n1,
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
          FROM r)
    SELECT n1, n - n1 AS n2,
           r1d - n1 * (n1 + 1) AS u1_x2,
           tie_t AS tie_term,
           round(CAST(r1d - n1 * (n1 + 1) - n1 * (n - n1)
                      AS DOUBLE)
                 / (2 * sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 12
                             * ((n + 1)
                                - CAST(tie_t AS DOUBLE)
                                  / (n * (n - 1))))), 6) AS z_score
    FROM s
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U — the nonparametric two-sample test (the A/B
    fallback when values are heavy-tailed and the t/z means test
    lies), with the textbook TIE CORRECTION: average ranks carried in
    the DOUBLED-rank integer domain (lo+hi per tie group = 2·cum −
    cnt + 1, so no fractional rank ever materializes), the U
    statistic and tie term Σ(t³−t) exact BIGINTs, and only the final
    normal approximation touching doubles as one mirrored chain. The
    rank accumulation runs through ranks.range_prefix over the
    DISTINCT-value aggregate (no single-partition window).
    Completes the inference shelf: z/chi-square/KS/bootstrap/
    Mann–Whitney."""
    from unstract_spark.operators.ranks import range_prefix

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = e.select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = p.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long").alias("n1v"),
    ).localCheckpoint(eager=True)
    rp = range_prefix(
        g.select("cents", "cnt"), ["cents"], sum_cols=("cnt",),
        rank_col=None,
    ).select("cents", F.col("cum_cnt").cast("long").alias("cum"))
    r = g.join(rp, "cents")
    s = r.agg(
        F.sum(
            F.col("n1v") * (2 * F.col("cum") - F.col("cnt") + 1)
        ).cast("long").alias("r1d"),
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).cast("long").alias("tie_t"),
    )
    n1 = F.col("n1")
    n = F.col("n")
    n2 = n - n1
    u1d = F.col("r1d") - n1 * (n1 + 1)
    z = (u1d - n1 * n2).cast("double") / (
        2
        * F.sqrt(
            (n1 * n2).cast("double") / 12
            * (
                (n + 1)
                - F.col("tie_t").cast("double") / (n * (n - 1))
            )
        )
    )
    return s.select(
        n1.alias("n1"),
        n2.alias("n2"),
        u1d.alias("u1_x2"),
        F.col("tie_t").alias("tie_term"),
        F.round(z, 6).alias("z_score"),
    )


@register(
    "agg_did_analysis",
    """
    WITH p AS (SELECT CAST(user_id % 2 AS INT) AS treated,
                      CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN 1 ELSE 0 END AS post,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'),
    g AS (SELECT treated, post, count(*) AS n,
                 CAST(sum(cents) AS BIGINT) AS s
          FROM p GROUP BY 1, 2),
    w AS (SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
        max(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s_t0,
        max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
        max(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s_t1,
        max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
        max(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s_c0,
        max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1,
        max(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s_c1
      FROM g)
    SELECT n_t0, n_t1, n_c0, n_c1,
           CAST(s_t0 AS DOUBLE) / n_t0 AS mean_t_pre,
           CAST(s_t1 AS DOUBLE) / n_t1 AS mean_t_post,
           CAST(s_c0 AS DOUBLE) / n_c0 AS mean_c_pre,
           CAST(s_c1 AS DOUBLE) / n_c1 AS mean_c_post,
           round((CAST(s_t1 AS DOUBLE) / n_t1
                  - CAST(s_t0 AS DOUBLE) / n_t0)
                 - (CAST(s_c1 AS DOUBLE) / n_c1
                    - CAST(s_c0 AS DOUBLE) / n_c0), 6)
             AS did_cents
    FROM w
    """,
)
def agg_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse for
    before/after rollouts with a control group: purchase values
    cent-quantized, the four (treated x period) cells as exact
    integer sums pivoted to one row, each cell mean ONE IEEE
    division, the DiD estimate the mirrored four-mean expression.
    Treated = id parity, the policy instant mid-corpus."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = e.select(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1
        ).otherwise(0).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = p.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )

    def _cell(t, po, col):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == po),
                F.col(col),
            )
        )

    w = g.agg(
        _cell(1, 0, "n").alias("n_t0"), _cell(1, 0, "s").alias("s_t0"),
        _cell(1, 1, "n").alias("n_t1"), _cell(1, 1, "s").alias("s_t1"),
        _cell(0, 0, "n").alias("n_c0"), _cell(0, 0, "s").alias("s_c0"),
        _cell(0, 1, "n").alias("n_c1"), _cell(0, 1, "s").alias("s_c1"),
    )
    mt0 = F.col("s_t0").cast("double") / F.col("n_t0")
    mt1 = F.col("s_t1").cast("double") / F.col("n_t1")
    mc0 = F.col("s_c0").cast("double") / F.col("n_c0")
    mc1 = F.col("s_c1").cast("double") / F.col("n_c1")
    return w.select(
        "n_t0", "n_t1", "n_c0", "n_c1",
        mt0.alias("mean_t_pre"),
        mt1.alias("mean_t_post"),
        mc0.alias("mean_c_pre"),
        mc1.alias("mean_c_post"),
        F.round((mt1 - mt0) - (mc1 - mc0), 6).alias("did_cents"),
    )


@register(
    "mm_audio_vad",
    """
    WITH samples AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               (ascii(substr(rpad(substr(text, 1, 64), 64, ' '),
                             CAST(i AS INT), 1)) - 100) * 300 AS v
        FROM documents, unnest(range(1, 65)) AS u(i)
    ),
    f AS (SELECT doc_id, CAST((i - 1) // 8 AS INT) AS frame_idx,
                 CAST(sum(abs(v)) AS BIGINT) AS energy
          FROM samples GROUP BY 1, 2),
    sp AS (SELECT *,
                  frame_idx - row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY frame_idx)
                    AS grp
           FROM f WHERE energy > 12000),
    seg AS (SELECT doc_id, min(frame_idx) AS start_frame,
                   max(frame_idx) AS end_frame,
                   count(*) AS n_frames,
                   CAST(sum(energy) AS BIGINT) AS energy
            FROM sp GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY start_frame) AS INT)
             AS segment_no,
           start_frame, end_frame, n_frames, energy
    FROM seg
    """,
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based VOICE ACTIVITY DETECTION over real WAV bytes —
    the speech-segmentation front end an audio curation pipeline runs
    before transcription: 64 synthesized PCM samples per doc are
    WAV-encoded and decoded back through the real codec (ONE
    mapInPandas, the downsample row's fused shape), framed by 8, each
    frame's energy an exact integer sum of |sample|, frames above the
    threshold merged into maximal speech segments by the
    gaps-and-islands trick (frame_idx minus per-doc row_number — all
    windows doc-partitioned). The oracle reproduces every segment
    straight from the text bytes, so encode -> decode -> frame ->
    threshold -> segment is verified end to end."""
    import numpy as np
    import pandas as pd

    from unstract_spark.operators.multimodal import (
        decode_wav,
        encode_wav16,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.rpad(F.substring("text", 1, 64), 64, " ").alias("s"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("energy", T.LongType()),
        ]
    )

    def fused(batches):
        for pdf in batches:
            ids, fr, en = [], [], []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                pcm = (
                    np.frombuffer(
                        s.encode("ascii"), dtype=np.uint8
                    ).astype(np.int64)
                    - 100
                ) * 300
                wav = encode_wav16(pcm.astype(np.int16))
                back, _rate = decode_wav(wav)
                back = back.astype(np.int64)
                for k in range(back.size // 8):
                    ids.append(did)
                    fr.append(k)
                    en.append(
                        int(np.abs(back[k * 8:(k + 1) * 8]).sum())
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fr, "energy": en}
            )

    frames = d.mapInPandas(fused, schema=out_schema)
    sp = frames.filter(F.col("energy") > 12000)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    grp = (F.col("frame_idx") - F.row_number().over(w)).alias("grp")
    seg = (
        sp.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").cast("long").alias("energy"),
        )
    )
    w2 = Window.partitionBy("doc_id").orderBy("start_frame")
    return seg.select(
        "doc_id",
        F.row_number().over(w2).cast("int").alias("segment_no"),
        "start_frame",
        "end_frame",
        "n_frames",
        "energy",
    )


@register(
    "agg_ab_proportions",
    """
    WITH u AS (SELECT user_id,
                      CAST(user_id % 2 AS INT) AS variant,
                      max(CASE WHEN event_type = 'purchase'
                                 AND value > 90
                               THEN 1 ELSE 0 END) AS converted
               FROM events GROUP BY 1, 2),
    g AS (SELECT variant, count(*) AS n,
                 CAST(sum(converted) AS BIGINT) AS conv
          FROM u GROUP BY 1),
    w AS (SELECT
            max(CASE WHEN variant = 0 THEN n END) AS n0,
            max(CASE WHEN variant = 0 THEN conv END) AS c0,
            max(CASE WHEN variant = 1 THEN n END) AS n1,
            max(CASE WHEN variant = 1 THEN conv END) AS c1
          FROM g)
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / n0 AS rate0,
           CAST(c1 AS DOUBLE) / n1 AS rate1,
           round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (CAST(1 AS DOUBLE) / n0
                           + CAST(1 AS DOUBLE) / n1)), 6) AS z_score
    FROM w
    """,
)
def agg_ab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — THE A/B-test decision primitive
    (conversion rate difference over the pooled standard error):
    users split by id parity, conversion = any high-value purchase
    (value > 90 — every user purchases SOMETHING in this corpus, so
    plain purchase is degenerate with pooled rate 1 and zero pooled
    variance), exact
    integer counts pivoted to one row, then the z statistic as a
    mirrored chain of single IEEE operations (divisions, one sqrt).
    Complements agg_chi_square (independence) with the directional
    two-sample test every experimentation platform reports."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id", (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias(
            "c0"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias(
            "c1"
        ),
    )
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (r0 - r1) / F.sqrt(
        pool
        * (1 - pool)
        * (
            F.lit(1).cast("double") / F.col("n0")
            + F.lit(1).cast("double") / F.col("n1")
        )
    )
    return w.select(
        "n0", "c0", "n1", "c1",
        r0.alias("rate0"),
        r1.alias("rate1"),
        F.round(z, 6).alias("z_score"),
    )


@register(
    "graph_tree_depths",
    """
    WITH RECURSIVE walk AS (
        SELECT doc_id AS node, doc_id AS cur, 0 AS d
        FROM documents
        UNION ALL
        SELECT node, cur // 2 AS cur, d + 1
        FROM walk WHERE cur <> cur // 2
    )
    SELECT node, CAST(arg_max(cur, d) AS BIGINT) AS root,
           CAST(max(d) AS BIGINT) AS depth
    FROM walk GROUP BY node
    """,
)
def graph_tree_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal by pointer doubling
    (graph.tree_root_depth) over the implicit doc-id binary tree
    (parent = id div 2, root 0): O(log depth) self-joins resolve
    every node's root and exact depth where a per-level walk takes
    O(depth) rounds. The oracle is a TRUE recursive CTE climbing
    parent links one at a time — the reference semantics of WITH
    RECURSIVE, certified against the doubling algorithm (the same
    independent-spelling pattern as the triangle and skyline
    gates)."""
    from unstract_spark.operators.graph import tree_root_depth

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"),
        F.expr("doc_id div 2").alias("parent"),
    )
    return tree_root_depth(d, rounds=5)


@register(
    "events_path_analysis",
    """
    WITH c AS (SELECT user_id, ts, event_id,
                      CASE event_type WHEN 'view' THEN 'v'
                           WHEN 'click' THEN 'c'
                           WHEN 'purchase' THEN 'p'
                           WHEN 'signup' THEN 's'
                           WHEN 'error' THEN 'e' ELSE 'x' END AS ch
               FROM events),
    s AS (SELECT user_id,
                 substr(string_agg(ch, '' ORDER BY ts, event_id),
                        1, 5) AS path
          FROM c GROUP BY 1),
    g AS (SELECT path, count(*) AS n_users FROM s GROUP BY 1)
    SELECT path, n_users, rank FROM (
        SELECT path, n_users,
               CAST(row_number() OVER (ORDER BY n_users DESC,
                                       path ASC) AS INT) AS rank
        FROM g) WHERE rank <= 20
    """,
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths — each user's FIRST FIVE events as a
    coded path string (the Sankey / funnel-discovery input every
    product-analytics tool leads with), counted and ranked: the CEP
    family's ordered-coding aggregate, a prefix cut, one counting
    groupBy, TakeOrdered top-20 with path tie-breaks."""
    from unstract_spark.operators.retrieval import bounded_rank

    e = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "error", "e")
        .otherwise("x")
    )
    s = (
        e.select(
            "user_id", F.col("ts").alias("_ts"),
            F.col("event_id").alias("_id"), code.alias("_c"),
        )
        .groupBy("user_id")
        .agg(
            F.substring(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("_ts", "_id", "_c")
                            )
                        ),
                        lambda x: x["_c"],
                    ),
                    "",
                ),
                1,
                5,
            ).alias("path")
        )
    )
    g = s.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    return bounded_rank(
        g, [F.col("n_users").desc(), F.col("path").asc()], 20
    )


@register(
    "web_opengraph_extract",
    """
    SELECT doc_id,
           'Doc ' || doc_id || ' & co' AS og_title,
           'article' AS og_type,
           CASE WHEN doc_id % 3 = 0
                THEN 'http://img.ex/' || doc_id || '.png' END
             AS og_image
    FROM documents
    """,
)
def web_opengraph_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph metadata extraction (webcorpus.parse_meta_tags)
    under an exact gate: even docs render property-first meta tags,
    odd docs content-first (the real-world attribute-order variance),
    titles entity-encoded, og:image only on every third doc — the
    oracle states the expected values outright, certifying both
    orders, entity decode, and absent-tag NULLs."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id").cast("string")
    title_fwd = F.concat(
        F.lit('<meta property="og:title" content="Doc '), did,
        F.lit(' &amp; co"/>'),
    )
    title_rev = F.concat(
        F.lit('<meta content="Doc '), did,
        F.lit(' &amp; co" property="og:title"/>'),
    )
    img = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit('<meta property="og:image" content="http://img.ex/'),
            did, F.lit('.png"/>'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        F.when(F.col("doc_id") % 2 == 0, title_fwd).otherwise(
            title_rev
        ),
        F.lit('<meta property="og:type" content="article"/>'),
        img,
        F.lit("</head><body>x</body></html>"),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", html.alias("html")
    )
    return webcorpus.parse_meta_tags(
        d, ["og:title", "og:type", "og:image"]
    )


@register(
    "events_cohort_ltv",
    """
    WITH f AS (SELECT user_id,
                      CAST(date_trunc('day', min(ts)) AS TIMESTAMP)
                        AS cohort
               FROM events GROUP BY 1),
    p AS (SELECT e.user_id, f.cohort,
                 date_diff('day', f.cohort,
                           CAST(date_trunc('day', e.ts) AS TIMESTAMP))
                   AS age,
                 CAST(round(e.value * 100) AS BIGINT) AS cents
          FROM events e JOIN f USING (user_id)
          WHERE e.event_type = 'purchase'),
    g AS (SELECT cohort, age,
                 CAST(sum(cents) AS BIGINT) AS rev_cents,
                 count(*) AS n_purchases
          FROM p GROUP BY 1, 2),
    sz AS (SELECT cohort, count(*) AS cohort_users FROM f GROUP BY 1)
    SELECT g.cohort, g.age, g.rev_cents, g.n_purchases,
           sz.cohort_users,
           CAST(sum(g.rev_cents) OVER (PARTITION BY g.cohort
                 ORDER BY g.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents,
           CAST(sum(g.rev_cents) OVER (PARTITION BY g.cohort
                 ORDER BY g.age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / sz.cohort_users AS ltv_cents_per_user
    FROM g JOIN sz USING (cohort)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — cumulative purchase revenue per signup
    cohort by account age in days, the companion to the retention
    cohort table: cohort from each user's first active day, revenue
    cent-quantized so the per-cohort cumulative sums are exact
    integers (the window is PARTITIONED by cohort — no global
    order), LTV-per-user as one final IEEE division."""
    e0 = _t(spark, sf_dir, "events")
    f = e0.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    p = (
        e0.filter(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .select(
            "cohort",
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.col("cohort")
            ).alias("age"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = p.groupBy("cohort", "age").agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_purchases"),
    )
    sz = f.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        g.join(sz, "cohort")
        .select(
            "cohort",
            "age",
            "rev_cents",
            "n_purchases",
            "cohort_users",
            F.sum("rev_cents").over(w).cast("long").alias(
                "cum_rev_cents"
            ),
            (
                F.sum("rev_cents").over(w).cast("double")
                / F.col("cohort_users")
            ).alias("ltv_cents_per_user"),
        )
    )


@register(
    "ex_mixture_temperature",
    """
    WITH g AS (SELECT source, count(*) AS n FROM documents
               GROUP BY 1),
    w AS (SELECT source, n,
                 CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000)
                      AS BIGINT) AS w_micro
          FROM g),
    s AS (SELECT sum(w_micro) AS sw, count(*) AS n_groups FROM w),
    b AS (SELECT w.source, w.n, w.w_micro,
                 10000 * w.w_micro // s.sw AS base_alloc,
                 10000 * w.w_micro
                   - (10000 * w.w_micro // s.sw) * s.sw AS rem
          FROM w CROSS JOIN s),
    d AS (SELECT CAST(10000 - sum(base_alloc) AS BIGINT) AS deficit
          FROM b),
    r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC,
                                         source ASC) AS rk
          FROM b)
    SELECT source, CAST(n AS BIGINT) AS n_docs, w_micro,
           CAST(base_alloc AS BIGINT) AS base_alloc,
           CAST(rem AS BIGINT) AS remainder,
           CAST(base_alloc + CASE WHEN rk <= d.deficit
                                  THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM r CROSS JOIN d
    """,
)
def ex_mixture_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-balanced mixture allocation — the sqrt (T=2)
    domain reweighting multilingual/multi-source training mixes use
    to up-weight small domains, turned into an EXACT integer document
    budget: per-source weights quantized to micro-units after the one
    sqrt (IEEE-exact, the only float op), floor allocation of the
    10000-doc budget in pure integer arithmetic, and the
    largest-remainder method assigning the leftover docs by integer
    remainder rank (range_prefix — no single-partition window). The
    allocations sum to exactly 10000 by construction, and every
    number hash-gates."""
    from unstract_spark.operators.ranks import range_prefix

    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = g.select(
        "source",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("w_micro"),
    ).localCheckpoint(eager=True)
    s = w.agg(
        F.sum("w_micro").alias("sw"), F.count(F.lit(1)).alias("ng")
    )
    b = w.crossJoin(F.broadcast(s)).select(
        "source",
        "n",
        "w_micro",
        F.expr("10000 * w_micro div sw").alias("base_alloc"),
        F.expr(
            "10000 * w_micro - (10000 * w_micro div sw) * sw"
        ).alias("rem"),
    ).localCheckpoint(eager=True)
    deficit = b.agg(
        (F.lit(10000) - F.sum("base_alloc")).cast("long").alias(
            "deficit"
        )
    )
    rk = range_prefix(
        b.select((-F.col("rem")).alias("nr"), "source"),
        ["nr", "source"],
        rank_col="rk",
    ).select(
        "source", F.col("rk").cast("long").alias("rk")
    )
    return (
        b.join(rk, "source")
        .crossJoin(F.broadcast(deficit))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "w_micro",
            F.col("base_alloc").cast("long"),
            F.col("rem").cast("long").alias("remainder"),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(
                    0
                )
            ).cast("long").alias("alloc"),
        )
    )


@register(
    "agg_survival_km",
    """
    WITH u AS (SELECT user_id,
                      CAST(date_trunc('day', min(ts)) AS TIMESTAMP)
                        AS first_d,
                      CAST(date_trunc('day', max(ts)) AS TIMESTAMP)
                        AS last_d
               FROM events WHERE event_type = 'purchase'
               GROUP BY 1),
    hz AS (SELECT max(last_d) AS horizon FROM u),
    dur AS (SELECT date_diff('day', first_d, last_d) + 1 AS t,
                   CASE WHEN last_d < hz.horizon THEN 1 ELSE 0 END
                     AS ev
            FROM u CROSS JOIN hz),
    g AS (SELECT t, count(*) AS n_at_t,
                 CAST(sum(ev) AS BIGINT) AS d_t
          FROM dur GROUP BY 1),
    r AS (SELECT t, d_t,
                 CAST(sum(n_at_t) OVER (ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS n_t
          FROM g),
    term AS (SELECT t, n_t, d_t,
                    CAST(ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                         AS DECIMAL(28,12)) AS lg
             FROM r WHERE d_t > 0 AND d_t < n_t)
    SELECT t, n_t, d_t,
           round(CAST(sum(lg) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 8) AS log_survival
    FROM term
    """,
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival (1958) for user lifetime — churn
    analytics' canonical estimator, in its hash-gatable form: per
    user the active span in days, an EVENT when the span ends before
    the horizon (else right-censored); at each event duration t the
    at-risk count n_t (durations >= t — a reverse cumulative sum),
    the event count d_t, and the LOG-survival curve
    sum(ln(1 - d/n)) accumulated in the DECIMAL domain (a double
    cumulative product/sum would be association-order dependent —
    the repo-wide rule). Both cumulative passes run through
    ranks.range_prefix over the duration-level aggregate (no
    single-partition window); terms exist only where 0 < d < n (the
    KM convention — a d = n terminal event sends S to 0 and ln to
    -inf)."""
    from unstract_spark.operators.ranks import range_prefix

    e0 = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    u = e0.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_d"),
        F.date_trunc("day", F.max("ts")).alias("last_d"),
    )
    hz = u.agg(F.max("last_d").alias("horizon"))
    dur = u.crossJoin(F.broadcast(hz)).select(
        (F.datediff(F.col("last_d"), F.col("first_d")) + 1).alias(
            "t"
        ),
        F.when(F.col("last_d") < F.col("horizon"), 1)
        .otherwise(0)
        .alias("ev"),
    )
    g = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at_t"),
        F.sum("ev").cast("long").alias("d_t"),
    ).localCheckpoint(eager=True)
    # reverse cumulative (durations >= t): rank by NEGATED t so the
    # range_prefix running sum accumulates from the largest duration
    neg = g.select(
        (-F.col("t")).alias("nt"), F.col("n_at_t").alias("cnt")
    )
    rc = range_prefix(neg, ["nt"], sum_cols=("cnt",), rank_col=None)
    r = (
        g.join(
            rc.select(
                (-F.col("nt")).alias("t"),
                F.col("cum_cnt").cast("long").alias("n_t"),
            ),
            "t",
        )
        .filter((F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")))
        .select(
            "t",
            "n_t",
            "d_t",
            F.log(
                F.lit(1.0) - F.col("d_t").cast("double") / F.col("n_t")
            ).cast("decimal(28,12)").alias("lg"),
        )
        .localCheckpoint(eager=True)
    )
    cum = range_prefix(
        r.select("t", "lg"), ["t"], sum_cols=("lg",), rank_col=None
    ).select("t", F.col("cum_lg"))
    return (
        r.join(cum, "t")
        .select(
            "t",
            "n_t",
            "d_t",
            F.round(F.col("cum_lg").cast("double"), 8).alias(
                "log_survival"
            ),
        )
    )


@register(
    "events_growth_accounting",
    """
    WITH a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('day', ts) AS TIMESTAMP) AS m
               FROM events),
    s AS (SELECT user_id, m,
                 lag(m) OVER (PARTITION BY user_id ORDER BY m)
                   AS prev_m,
                 lead(m) OVER (PARTITION BY user_id ORDER BY m)
                   AS next_m
          FROM a),
    act AS (SELECT m,
                   CAST(sum(CASE WHEN prev_m IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_new,
                   CAST(sum(CASE WHEN prev_m IS NOT NULL
                              AND date_diff('day', prev_m, m) = 1
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_retained,
                   CAST(sum(CASE WHEN prev_m IS NOT NULL
                              AND date_diff('day', prev_m, m) > 1
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_resurrected
            FROM s GROUP BY 1),
    ch AS (SELECT m + INTERVAL 1 DAY AS m,
                  CAST(count(*) AS BIGINT) AS n_churned
           FROM s
           WHERE (next_m IS NULL
                  OR date_diff('day', m, next_m) > 1)
             AND m + INTERVAL 1 DAY <= (SELECT max(m) FROM a)
           GROUP BY 1)
    SELECT act.m AS day, act.n_new, act.n_retained,
           act.n_resurrected,
           coalesce(ch.n_churned, 0) AS n_churned
    FROM act LEFT JOIN ch ON ch.m = act.m
    """,
)
def events_growth_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROWTH ACCOUNTING — the new / retained / resurrected / churned
    decomposition every growth dashboard leads with, at daily grain
    (the synthetic corpus spans 30 days): per-user active days (one
    distinct), lag/lead in one partitioned window pass classify each
    activity day and locate each churn event (active with no activity
    the next day churns INTO the following day, capped at the
    observation horizon). Exact counts only, so the full
    decomposition hash-gates. One shuffle by user + one by day."""
    e0 = _t(spark, sf_dir, "events")
    a = e0.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("m")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("m")
    s = a.select(
        "user_id",
        "m",
        F.lag("m").over(w).alias("prev_m"),
        F.lead("m").over(w).alias("next_m"),
    ).localCheckpoint(eager=True)
    gap_prev = F.datediff(F.col("m"), F.col("prev_m"))
    act = s.groupBy("m").agg(
        F.sum(F.when(F.col("prev_m").isNull(), 1).otherwise(0))
        .cast("long").alias("n_new"),
        F.sum(
            F.when(F.col("prev_m").isNotNull() & (gap_prev == 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_retained"),
        F.sum(
            F.when(F.col("prev_m").isNotNull() & (gap_prev > 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_resurrected"),
    )
    horizon = a.agg(F.max("m").alias("max_m"))
    gap_next = F.datediff(F.col("next_m"), F.col("m"))
    nxt = F.col("m") + F.expr("INTERVAL 1 DAY")
    ch = (
        s.crossJoin(F.broadcast(horizon))
        .filter(
            (F.col("next_m").isNull() | (gap_next > 1))
            & (nxt <= F.col("max_m"))
        )
        .groupBy(nxt.alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return (
        act.join(ch, "m", "left")
        .select(
            F.col("m").alias("day"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias(
                "n_churned"
            ),
        )
    )


@register(
    "agg_trimmed_mean",
    """
    WITH d AS (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT)
                        AS cents
               FROM orders),
    r AS (SELECT cents,
                 row_number() OVER (ORDER BY cents, o_orderkey)
                   AS rnk,
                 count(*) OVER () AS n
          FROM d)
    SELECT CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(n) * 5 // 100 AS BIGINT) AS n_trimmed_each_side,
           CAST(sum(CASE WHEN rnk > n * 5 // 100
                          AND rnk <= n - n * 5 // 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rnk > n * 5 // 100
                          AND rnk <= n - n * 5 // 100
                         THEN cents ELSE 0 END) AS BIGINT)
             AS sum_kept_cents,
           CAST(sum(CASE WHEN rnk > n * 5 // 100
                          AND rnk <= n - n * 5 // 100
                         THEN cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rnk > n * 5 // 100
                         AND rnk <= n - n * 5 // 100
                        THEN 1 ELSE 0 END) AS trimmed_mean_cents
    FROM r
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-each-side TRIMMED mean — the robust location estimate a
    metrics pipeline wants when a handful of whale orders swamp the
    plain mean: exact integer rank bounds (n·5 div 100 trimmed per
    side) over the GLOBAL cents order, computed distributed via
    ranks.range_prefix (no single-partition window), kept-range sums
    exact, one final IEEE division."""
    from unstract_spark.operators.ranks import range_prefix

    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "cents"
        ),
        "o_orderkey",
    )
    r = range_prefix(d, ["cents", "o_orderkey"], rank_col="rnk")
    n = r.agg(F.count(F.lit(1)).alias("n"))
    j = r.crossJoin(F.broadcast(n))
    kept = (F.col("rnk") > F.expr("n * 5 div 100")) & (
        F.col("rnk") <= F.expr("n - n * 5 div 100")
    )
    return j.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.expr("CAST(max(n) * 5 div 100 AS BIGINT)").alias(
            "n_trimmed_each_side"
        ),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias(
            "n_kept"
        ),
        F.sum(F.when(kept, F.col("cents")).otherwise(0)).cast(
            "long"
        ).alias("sum_kept_cents"),
        (
            F.sum(F.when(kept, F.col("cents")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(kept, 1).otherwise(0))
        ).alias("trimmed_mean_cents"),
    )


# Poisson(1) inverse-CDF thresholds scaled to 2^60 (exact integers,
# identical literals on both engines): P(X<=k) for k = 0..5; the tail
# truncates at w=5 (P ~ 4e-4 per draw — deterministic, documented)
_BOOT_T = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)


def _boot_w_sql(h: str) -> str:
    return (
        f"CASE WHEN {h} < {_BOOT_T[0]} THEN 0"
        f" WHEN {h} < {_BOOT_T[1]} THEN 1"
        f" WHEN {h} < {_BOOT_T[2]} THEN 2"
        f" WHEN {h} < {_BOOT_T[3]} THEN 3"
        f" WHEN {h} < {_BOOT_T[4]} THEN 4 ELSE 5 END"
    )


@register(
    "agg_bootstrap_means",
    f"""
    WITH reps AS (SELECT CAST(u.r AS INT) AS rep
                  FROM range(0, 32) AS u(r)),
    d AS (SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
    w AS (SELECT reps.rep, d.cents,
                 {_boot_w_sql(
                     "('0x' || substr(md5(CAST(d.o_orderkey AS VARCHAR)"
                     " || ':' || CAST(reps.rep AS VARCHAR)), 1, 15))"
                     "::BIGINT"
                 )} AS w
          FROM d CROSS JOIN reps)
    SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) AS BIGINT) AS sum_cents,
           CAST(sum(w * cents) AS DOUBLE) / sum(w) AS mean_cents
    FROM w GROUP BY rep
    """,
)
def agg_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Poisson bootstrap (the streaming-friendly
    resampling scheme large-scale A/B systems use — each row's
    multiplicity in each replicate is Poisson(1), independent across
    rows, no global sampling pass): the uniform draw is the md5-60-bit
    hash of (row id, replicate), pushed through the Poisson(1)
    inverse CDF as pure INTEGER threshold comparisons (identical
    literal thresholds on both engines — exact, no float RNG
    anywhere), so all 32 replicate means of cent-quantized order
    totals are bit-reproducible: resampling inference that
    hash-gates. Percentiles of these 32 means are the bootstrap CI;
    the replicate rows themselves are the gated surface. One 32x
    map-side fan-out into one groupBy — no shuffle of the data by
    replicate."""
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "cents"
        ),
    )
    # two steps: the explode must put `rep` in scope before the
    # (row, replicate) hash references it
    w = d.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
    ).select(
        "cents",
        F.col("rep").cast("int").alias("rep"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long").alias("h"),
    )
    wexpr = F.expr(_boot_w_sql("h"))
    return w.select("rep", "cents", wexpr.alias("w")).groupBy(
        "rep"
    ).agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias(
            "sum_cents"
        ),
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w")
        ).alias("mean_cents"),
    )


@register(
    "ta_feature_hash",
    r"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+'))
                 AS w
        FROM documents
    ),
    ww AS (SELECT doc_id, w FROM w WHERE w <> ''),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(w), 1, 8))::BIGINT AS hv
          FROM ww)
    SELECT doc_id, CAST(hv % 256 AS INT) AS bucket,
           CAST(sum(CASE WHEN (hv // 256) % 2 = 0
                         THEN 1 ELSE -1 END) AS BIGINT) AS feat
    FROM h GROUP BY 1, 2
    """,
)
def ta_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    every token hashes to one of 256 buckets with a +/-1 sign drawn
    from an independent hash bit — the bias-cancelling signed
    variant — giving fixed-width ML feature vectors with NO
    vocabulary state (the point at 100 TB: no dictionary to build,
    ship, or keep consistent across shards). md5-derived buckets
    (the CMS family's cross-engine hash), exact signed integer sums.
    r13: the aggregation is partition-local (a doc is never split
    across scan tasks and doc ids are row-unique), so the groupBy
    shuffle — measured 85% of the query at the 80x rung — is replaced
    by a zero-exchange mapInPandas pass
    (text_analysis.feature_hash_signed); result multiset identical,
    re-gated. Output: sparse (doc_id, bucket, feat) rows."""
    from unstract_spark.operators.text_analysis import (
        feature_hash_signed,
    )

    d = _t(spark, sf_dir, "documents")
    return feature_hash_signed(d, "doc_id", "text", 256)


@register(
    "j18_abandoned_views",
    """
    WITH ev AS (SELECT user_id, event_id, event_type,
                       epoch_us(ts) AS us
                FROM events),
    v AS (SELECT user_id, event_id, us FROM ev
          WHERE event_type = 'view'),
    p AS (SELECT user_id, us FROM ev WHERE event_type = 'purchase')
    SELECT v.user_id, v.event_id AS view_id, v.us AS view_us
    FROM v
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.us >= v.us
          AND p.us < v.us + 3600000000)
    """,
)
def j18_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ANTI range join — abandonment analysis: views with NO
    purchase by the same user within the following hour. The negation
    twin of the as-of family (those find the match; this certifies
    the absence): one left_anti equi-join on user with the half-open
    range predicate pushed into the join condition — per-user
    fan-out-bounded, no windows, no distinct."""
    e0 = _t(spark, sf_dir, "events")
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        u = F.unix_micros(F.col("ts"))
    ev = e0.select("user_id", "event_id", "event_type", u.alias("us"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("us").alias("view_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_pu"), F.col("us").alias("_pus")
    )
    return v.join(
        p,
        (v["user_id"] == p["_pu"])
        & (p["_pus"] >= v["view_us"])
        & (p["_pus"] < v["view_us"] + F.lit(3_600_000_000)),
        "left_anti",
    )


@register(
    "events_rfm_scores",
    """
    WITH cust AS (
        SELECT o_custkey,
               max(epoch_us(o_orderdate)) AS last_us,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    n AS (SELECT count(*) AS n FROM cust),
    rr AS (SELECT o_custkey, row_number() OVER (ORDER BY last_us,
                                                o_custkey) AS rk
           FROM cust),
    rf AS (SELECT o_custkey, row_number() OVER (ORDER BY freq,
                                                o_custkey) AS rk
           FROM cust),
    rm AS (SELECT o_custkey, row_number() OVER (ORDER BY cents,
                                                o_custkey) AS rk
           FROM cust)
    SELECT c.o_custkey, c.last_us, c.freq, c.cents,
           CAST(1 + (rr.rk - 1) * 5 // n.n AS INT) AS r_score,
           CAST(1 + (rf.rk - 1) * 5 // n.n AS INT) AS f_score,
           CAST(1 + (rm.rk - 1) * 5 // n.n AS INT) AS m_score,
           CAST((1 + (rr.rk - 1) * 5 // n.n) * 100
                + (1 + (rf.rk - 1) * 5 // n.n) * 10
                + (1 + (rm.rk - 1) * 5 // n.n) AS INT) AS rfm_code
    FROM cust c
    JOIN rr USING (o_custkey) JOIN rf USING (o_custkey)
    JOIN rm USING (o_custkey) CROSS JOIN n
    """,
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores (the classic marketing-analytics cut): per
    customer the last order instant, order count, and cent-quantized
    spend, each ranked GLOBALLY with an id tie-break and mapped to
    quintiles by exact integer arithmetic (1 + (rank-1)*5 div n).
    The global ranks run through ranks.range_prefix — the distributed
    two-pass prefix spelling, no single-partition window — so the
    segmentation scales to a customer dimension that doesn't fit one
    task. rfm_code is the standard 3-digit segment label."""
    from unstract_spark.operators.ranks import range_prefix

    o = _t(spark, sf_dir, "orders")
    if dict(o.dtypes)["o_orderdate"] == "timestamp_ntz":
        u = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        )
    else:
        u = F.unix_micros(F.col("o_orderdate"))
    cust = o.groupBy("o_custkey").agg(
        F.max(u).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    ).localCheckpoint(eager=True)
    n = cust.agg(F.count(F.lit(1)).alias("n"))

    def _score(metric: str) -> DataFrame:
        rk = range_prefix(
            cust.select(metric, "o_custkey"),
            [metric, "o_custkey"],
            rank_col="rk",
        )
        return rk.select(
            "o_custkey", F.col("rk").alias(f"_rk_{metric}")
        )

    out = (
        cust.join(_score("last_us"), "o_custkey")
        .join(_score("freq"), "o_custkey")
        .join(_score("cents"), "o_custkey")
        .crossJoin(F.broadcast(n))
    )
    r = F.expr("CAST(1 + (_rk_last_us - 1) * 5 div n AS INT)")
    f_ = F.expr("CAST(1 + (_rk_freq - 1) * 5 div n AS INT)")
    m = F.expr("CAST(1 + (_rk_cents - 1) * 5 div n AS INT)")
    return out.select(
        "o_custkey",
        "last_us",
        "freq",
        "cents",
        r.alias("r_score"),
        f_.alias("f_score"),
        m.alias("m_score"),
        (r * 100 + f_ * 10 + m).cast("int").alias("rfm_code"),
    )


@register(
    "j17_scd2_build",
    """
    SELECT o_custkey AS key, o_orderkey AS seq,
           o_totalprice AS score,
           CAST(row_number() OVER w AS INT) AS version,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           CASE WHEN lead(o_orderdate) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
    """,
)
def j17_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension BUILD (joins.scd2_build) — the write-side
    complement of the scd2 point-in-time join: each customer's orders
    become profile versions with half-open [valid_from, valid_to)
    validity from one churn-sized window (lead closes each version,
    the latest stays open), order-key tie-breaks for same-day
    changes. Payloads pass through, so the whole versioned dimension
    hash-gates."""
    from unstract_spark.operators.joins import scd2_build

    ch = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("score"),
        F.col("o_orderdate").alias("ts"),
    )
    return scd2_build(ch, "key", "seq", "ts").select(
        "key",
        "seq",
        "score",
        F.col("version").cast("int"),
        F.col("ts").alias("valid_from"),
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


@register(
    "web_feed_extract",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END
             AS format,
           CAST(u.i AS INT) AS pos,
           CASE WHEN doc_id % 2 = 0
                THEN 'Doc ' || doc_id || ' & item ' || u.i
                ELSE 'Entry ' || doc_id || ' ' || u.i END AS title,
           CASE WHEN doc_id % 2 = 0
                THEN 'http://ex.com/r/' || doc_id || '/' || u.i
                ELSE 'http://ex.com/a/' || doc_id || '/' || u.i END
             AS link,
           CASE WHEN doc_id % 2 = 0 AND u.i = 0
                THEN 'Mon, 0' || (doc_id % 7 + 1) || ' Jan 2026'
                WHEN doc_id % 2 = 1 AND u.i = 1
                THEN '2026-02-0' || (doc_id % 9 + 1) END AS published,
           CASE WHEN doc_id % 2 = 0 AND u.i = 0
                THEN 'g-' || doc_id || '-0'
                WHEN doc_id % 2 = 1
                THEN 'tag:' || doc_id || ':' || u.i END AS entry_id
    FROM documents, unnest(range(0, 2)) AS u(i)
    """,
)
def web_feed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed ingestion (webcorpus.parse_feed) under an exact
    gate: even docs render an RSS 2.0 channel (entity-encoded titles,
    pubDate and guid only on item 0), odd docs an Atom feed (link as
    an href ATTRIBUTE, updated only on entry 1) — both normalized to
    one schema. The oracle states the expected parse directly, so
    entity decode, per-entry field alignment, attribute-vs-text link
    extraction, and absent-optional-field NULLs are all
    hash-certified for BOTH formats."""
    from unstract_spark.operators import webcorpus

    did = F.col("doc_id").cast("string")
    rss_items = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(1)),
            lambda i: F.concat(
                F.lit("<item><title>Doc "), did,
                F.lit(" &amp; item "), i.cast("string"),
                F.lit("</title><link>http://ex.com/r/"), did,
                F.lit("/"), i.cast("string"), F.lit("</link>"),
                F.when(
                    i == 0,
                    F.concat(
                        F.lit("<pubDate>Mon, 0"),
                        (F.col("doc_id") % 7 + 1).cast("string"),
                        F.lit(" Jan 2026</pubDate><guid>g-"), did,
                        F.lit("-0</guid>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("</item>"),
            ),
        ),
        "",
    )
    atom_entries = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(1)),
            lambda i: F.concat(
                F.lit("<entry><title>Entry "), did, F.lit(" "),
                i.cast("string"),
                F.lit('</title><link href="http://ex.com/a/'), did,
                F.lit("/"), i.cast("string"), F.lit('"/>'),
                F.when(
                    i == 1,
                    F.concat(
                        F.lit("<updated>2026-02-0"),
                        (F.col("doc_id") % 9 + 1).cast("string"),
                        F.lit("</updated>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("<id>tag:"), did, F.lit(":"), i.cast("string"),
                F.lit("</id></entry>"),
            ),
        ),
        "",
    )
    xml = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<rss version="2.0"><channel>'), rss_items,
            F.lit("</channel></rss>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'),
            atom_entries, F.lit("</feed>"),
        )
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", xml.alias("xml")
    )
    return webcorpus.parse_feed(d).select(
        "doc_id", "format", "pos", "title", "link", "published",
        "entry_id",
    )


@register(
    "ta_collocations_pmi",
    r"""
    WITH t AS (SELECT list_filter(string_split_regex(lower(text),
                                                     '\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    bg AS (SELECT ws[CAST(u.i AS INT)] AS w1,
                  ws[CAST(u.i AS INT) + 1] AS w2
           FROM t, unnest(range(1, len(ws))) AS u(i)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
            HAVING count(*) >= 5),
    w AS (SELECT unnest(ws) AS w FROM t),
    wc AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM w) AS nw,
                   (SELECT count(*) FROM bg) AS nbg),
    sc AS (SELECT w1, w2, c12, ca.wc AS c1, cb.wc AS c2,
                  round(ln((CAST(c12 AS DOUBLE) * CAST(nw AS DOUBLE)
                            * CAST(nw AS DOUBLE))
                           / (CAST(nbg AS DOUBLE)
                              * CAST(ca.wc AS DOUBLE)
                              * CAST(cb.wc AS DOUBLE))), 6) AS pmi
           FROM c12 JOIN wc ca ON ca.w = w1
                    JOIN wc cb ON cb.w = w2
           CROSS JOIN tot)
    SELECT w1, w2, c12, c1, c2, pmi, rank FROM (
        SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC,
                                          w2 ASC) AS INT) AS rank
        FROM sc) WHERE rank <= 50
    """,
)
def ta_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information
    (text_analysis.collocations_pmi — Church & Hanks): one ln over
    one division of pure-double products, a min-count floor against
    PMI's hapax bias, rounded ranking with pair tie-breaks. Bigrams
    come from arrays_zip slices (one explode, no self-join); the
    oracle re-derives every count and the full score expression."""
    from unstract_spark.operators.text_analysis import collocations_pmi

    d = _t(spark, sf_dir, "documents")
    return collocations_pmi(d).select(
        "w1", "w2", "c12", "c1", "c2", "pmi", "rank"
    )


_PPR_STEP = """
SELECT d.node,
       CAST(CASE WHEN d.node LIKE 'c:%' THEN 1000000000000 // (8 * ns.n)
                 ELSE 0 END
            + (7 * coalesce(i.s, 0)) // 8 AS BIGINT) AS p
FROM deg d CROSS JOIN ns LEFT JOIN {i} i ON i.node = d.node
"""


@register(
    "graph_personalized_pagerank",
    f"""
    WITH raw AS (
        SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
                        's:' || CAST(l.l_suppkey AS VARCHAR) AS b
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
    ),
    e AS (SELECT a AS src, b AS dst FROM raw
          UNION SELECT b AS src, a AS dst FROM raw),
    deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
    ns AS (SELECT count(*) AS n FROM deg WHERE node LIKE 'c:%'),
    p0 AS (SELECT d.node,
                  CAST(CASE WHEN d.node LIKE 'c:%'
                            THEN 1000000000000 // ns.n ELSE 0 END
                       AS BIGINT) AS p
           FROM deg d CROSS JOIN ns),
    i1 AS (SELECT e.dst AS node, sum(p0.p // d.deg) AS s
           FROM e JOIN p0 ON p0.node = e.src
                  JOIN deg d ON d.node = e.src GROUP BY 1),
    p1 AS ({_PPR_STEP.format(i="i1")}),
    i2 AS (SELECT e.dst AS node, sum(p1.p // d.deg) AS s
           FROM e JOIN p1 ON p1.node = e.src
                  JOIN deg d ON d.node = e.src GROUP BY 1),
    p2 AS ({_PPR_STEP.format(i="i2")}),
    i3 AS (SELECT e.dst AS node, sum(p2.p // d.deg) AS s
           FROM e JOIN p2 ON p2.node = e.src
                  JOIN deg d ON d.node = e.src GROUP BY 1),
    p3 AS ({_PPR_STEP.format(i="i3")})
    SELECT node, p AS ppr_fixed FROM p3
    """,
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank (graph.personalized_pagerank_fixed) over
    the recent customer-supplier graph with the CUSTOMER nodes as the
    seed set: teleport mass goes only to seeds, so a supplier's score
    measures proximity to the customer base — the related-entities /
    recommendation ranking. Same bit-exact integer arithmetic as the
    global variant (damping exactly 7/8, floor divisions); the oracle
    unrolls all three rounds with the seed CASE, so the
    personalization itself is hash-gated."""
    from unstract_spark.operators.graph import personalized_pagerank_fixed

    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    o = _t(spark, sf_dir, "orders")
    raw = (
        l.join(o, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
        )
        .distinct()
    )
    seeds = raw.select(F.col("src").alias("node")).distinct()
    return personalized_pagerank_fixed(raw, seeds).select(
        "node", "ppr_fixed"
    )


@register(
    "dq_k_anonymity",
    """
    WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
               FROM customer GROUP BY 1, 2)
    SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
           count(*) AS n_groups,
           CAST(min(sz) AS BIGINT) AS k_min,
           CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000
                // sum(sz) AS BIGINT) AS below_ppm
    FROM g
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier: the privacy gate a training-data release runs
    before shipping — minimum equivalence-class size, how many
    classes and rows fall below k=5, and the exposed-row share in
    exact integer ppm. Two hash aggregates (per-class sizes, then the
    report); every number exact, so the audit hash-gates."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    below = F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
    return g.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("sz").cast("long").alias("k_min"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
        .cast("long").alias("groups_below_k"),
        below.cast("long").alias("rows_below_k"),
        F.expr(
            "sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000"
            " div sum(sz)"
        ).cast("long").alias("below_ppm"),
    )


@register(
    "agg_pareto_front",
    """
    WITH pts AS (SELECT p_partkey,
                        CAST(round(p_retailprice * 100) AS BIGINT)
                          AS price_cents,
                        p_size
                 FROM part)
    SELECT p_partkey, price_cents, p_size FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE (q.price_cents < p.price_cents AND q.p_size >= p.p_size)
           OR (q.price_cents <= p.price_cents AND q.p_size > p.p_size))
    """,
)
def agg_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (joins.pareto_front_2d): parts that are
    undominated under (cheapest price, largest size). The Spark side
    runs the distributed partition-local-skyline merge — range
    partition on cent-quantized price, two partitioned RANGE-frame
    running maxima, P-row cross-partition prefix max — while the
    oracle uses the naive O(n^2) NOT EXISTS spelling: an independent
    certification of the distributed algorithm, triangle-counts
    style."""
    from unstract_spark.operators.joins import pareto_front_2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias(
            "price_cents"
        ),
        "p_size",
    )
    return pareto_front_2d(p, "price_cents", "p_size").select(
        "p_partkey", "price_cents", "p_size"
    )


def _zonemap_prune_sql() -> str:
    from unstract_spark.operators.export import (
        hilbert_oracle_sql,
        morton_sql,
    )

    h_inner = hilbert_oracle_sql(
        "l_partkey % 256", "l_suppkey % 256", "lineitem", bits=8
    )
    z = morton_sql("x", "y", bits=8)
    layout = """
    SELECT '{name}' AS layout, count(*) AS n_files,
           CAST(sum(CASE WHEN min_x <= 79 AND max_x >= 64
                          AND min_y <= 79 AND max_y >= 64
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS candidate_files,
           CAST(sum(CASE WHEN min_x <= 79 AND max_x >= 64
                          AND min_y <= 79 AND max_y >= 64
                         THEN nr ELSE 0 END) AS BIGINT)
             AS candidate_rows,
           t.total_rows, t.matching_rows,
           CAST(sum(CASE WHEN min_x <= 79 AND max_x >= 64
                          AND min_y <= 79 AND max_y >= 64
                         THEN nr ELSE 0 END) * 1000000
                // t.total_rows AS BIGINT) AS scan_ppm
    FROM (SELECT {file} AS f, min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y, count(*) AS nr
          FROM pts GROUP BY 1) s CROSS JOIN tot t
    GROUP BY t.total_rows, t.matching_rows
    """
    return f"""
    WITH pts AS (SELECT x0 AS x, y0 AS y, hilbert,
                        {z} AS zorder
                 FROM ({h_inner})),
    tot AS (SELECT count(*) AS total_rows,
                   CAST(sum(CASE WHEN x BETWEEN 64 AND 79
                                  AND y BETWEEN 64 AND 79
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS matching_rows
            FROM pts)
    {layout.format(name="x_sort", file="x // 16")}
    UNION ALL {layout.format(name="hilbert", file="hilbert // 4096")}
    UNION ALL {layout.format(name="zorder", file="zorder // 4096")}
    """


@register("ex_zonemap_prune", _zonemap_prune_sql())
def ex_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning simulation — the
    measured VALUE of the layout keys this family computes: the same
    rows laid into 16 files three ways (single-column x sort, Hilbert
    ranges, Z-order ranges), per-file min/max statistics per layout,
    and the candidate-file/row counts a 2-D box predicate leaves
    after pruning — exactly the skipping calculus a parquet reader
    runs against footer stats. Space-filling layouts should leave a
    fraction of x_sort's scan for the 2-D box, and the hash gate pins
    the precise numbers (plus matching_rows as the layout-invariant
    sanity row). All integer arithmetic."""
    from unstract_spark.operators.export import (
        hilbert_distance,
        morton_sql,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    pts = hilbert_distance(li, "x", "y", bits=8).withColumn(
        "zorder", F.expr(morton_sql("x", "y", bits=8))
    )
    tot = pts.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(
            F.when(
                F.col("x").between(64, 79) & F.col("y").between(64, 79),
                1,
            ).otherwise(0)
        ).cast("long").alias("matching_rows"),
    )
    out = None
    for name, fcol in (
        ("x_sort", F.expr("x div 16")),
        ("hilbert", F.expr("hilbert div 4096")),
        ("zorder", F.expr("zorder div 4096")),
    ):
        s = pts.groupBy(fcol.alias("f")).agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
            F.count(F.lit(1)).alias("nr"),
        )
        cand = (
            F.col("min_x") <= 79
        ) & (F.col("max_x") >= 64) & (
            F.col("min_y") <= 79
        ) & (F.col("max_y") >= 64)
        row = s.crossJoin(F.broadcast(tot)).groupBy(
            "total_rows", "matching_rows"
        ).agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(cand, 1).otherwise(0)).cast("long").alias(
                "candidate_files"
            ),
            F.sum(F.when(cand, F.col("nr")).otherwise(0)).cast(
                "long"
            ).alias("candidate_rows"),
            F.expr(
                "sum(CASE WHEN min_x <= 79 AND max_x >= 64"
                " AND min_y <= 79 AND max_y >= 64"
                " THEN nr ELSE 0 END) * 1000000 div"
                " first(total_rows)"
            ).cast("long").alias("scan_ppm"),
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "candidate_files",
            "candidate_rows",
            "total_rows",
            "matching_rows",
            "scan_ppm",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _hilbert_codes_sql() -> str:
    from unstract_spark.operators.export import hilbert_oracle_sql

    inner = hilbert_oracle_sql(
        "l_partkey % 256", "l_suppkey % 256", "lineitem", bits=8
    )
    return f"""
    SELECT CAST(hilbert >> 8 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(hilbert) AS BIGINT) AS h_min,
           CAST(max(hilbert) AS BIGINT) AS h_max
    FROM ({inner}) GROUP BY 1
    """


@register("ex_hilbert_codes", _hilbert_codes_sql())
def ex_hilbert_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys (export.hilbert_distance) — the
    better-locality sibling of ex_zorder_codes (adjacent curve
    positions are always adjacent cells; Z-order seams jump): the
    8-bit-per-dimension xy2d walk unrolled into integer-CASE
    projections, gated per top-8-bit bucket with min/max/count so
    every level's reflect/swap transform is certified. The oracle's
    CTE chain is generated by the SAME loop that builds the Spark
    plan."""
    from unstract_spark.operators.export import hilbert_distance

    l = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("hx"),
        (F.col("l_suppkey") % 256).alias("hy"),
    )
    h = hilbert_distance(l, "hx", "hy", bits=8)
    return h.groupBy(
        F.expr("hilbert >> 8").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("hilbert").cast("long").alias("h_min"),
        F.max("hilbert").cast("long").alias("h_max"),
    )


_PRF_FORMULA = (
    "ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))"
    f" * (q.tf * ({_BM25_K1} + 1))"
    f" / (q.tf + {_BM25_K1} * (1 - {_BM25_B}"
    f" + {_BM25_B} * l.dl / (s.total_words / s.n_docs)))"
)
_PRF_TERMS_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)
_PRF_ORIGINALS = " UNION ALL ".join(
    f"SELECT '{t}' AS word, CAST(1.0 AS DOUBLE) AS qw"
    for t in sorted(_BM25_TERMS)
)


@register(
    "sim_prf_expand",
    rf"""
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
                 AS word
        FROM documents
    ),
    w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT sum(tf) FROM tf) AS total_words),
    qtf1 AS (SELECT * FROM tf WHERE word IN ({_PRF_TERMS_IN})),
    df1 AS (SELECT word, count(*) AS df FROM qtf1 GROUP BY 1),
    agg1 AS (
        SELECT q.doc_id,
               CAST(round(sum(CAST({_PRF_FORMULA}
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS score
        FROM qtf1 q JOIN df1 d USING (word) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        GROUP BY q.doc_id
    ),
    fb AS (SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC,
                                          doc_id ASC) AS r
        FROM agg1) WHERE r <= 5),
    cand AS (
        SELECT t.word,
               CAST(round(sum(CAST(CAST(t.tf AS DOUBLE) / l.dl
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS wgt
        FROM tf t JOIN fb USING (doc_id) JOIN dl l USING (doc_id)
        WHERE t.word NOT IN ({_PRF_TERMS_IN})
        GROUP BY t.word
    ),
    expn AS (SELECT word, CAST(0.5 AS DOUBLE) AS qw FROM (
        SELECT word, row_number() OVER (ORDER BY wgt DESC,
                                        word ASC) AS r
        FROM cand) WHERE r <= 5),
    qw AS ({_PRF_ORIGINALS} UNION ALL SELECT word, qw FROM expn),
    qtf2 AS (SELECT t.doc_id, t.word, t.tf, v.qw
             FROM tf t JOIN qw v USING (word)),
    df2 AS (SELECT word, count(*) AS df FROM qtf2 GROUP BY 1),
    agg2 AS (
        SELECT q.doc_id,
               CAST(round(sum(CAST(({_PRF_FORMULA}) * q.qw
                   AS DECIMAL(28,10))), 6) AS DOUBLE) AS rm3
        FROM qtf2 q JOIN df2 d USING (word) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
        GROUP BY q.doc_id
    )
    SELECT doc_id, rm3, rank FROM (
        SELECT doc_id, rm3,
               CAST(row_number() OVER (ORDER BY rm3 DESC, doc_id ASC)
                    AS INT) AS rank
        FROM agg2
    ) WHERE rank <= 10
    """,
)
def sim_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback
    (retrieval.prf_expand_retrieve): BM25 once, mine the top-5
    feedback docs for 5 expansion terms via the uniform-prior
    relevance model (decimal-domain tf/dl sums, rounded ranking),
    retrieve again with expansion terms at weight 0.5 — the entire
    retrieve -> mine -> expand -> re-retrieve chain re-derived by the
    oracle in SQL, so the expansion SELECTION is certified
    transitively through the final ranking's hash."""
    from unstract_spark.operators.retrieval import prf_expand_retrieve

    d = _t(spark, sf_dir, "documents")
    return prf_expand_retrieve(
        d, list(_BM25_TERMS), k=10, fb_docs=5, fb_terms=5,
        k1=_BM25_K1, b=_BM25_B,
    ).select("doc_id", "rm3", "rank")


@register(
    "j16_changelog_apply",
    """
    WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    ch AS (SELECT o_custkey AS c_custkey, o_orderkey AS seq,
                  CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END
                    AS op,
                  'upd_' || CAST(o_custkey AS VARCHAR) AS c_name,
                  o_totalprice AS c_acctbal
           FROM orders),
    latest AS (SELECT * FROM (
        SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY seq DESC, op DESC)
                 AS rn
        FROM ch) WHERE rn = 1)
    SELECT c_custkey, c_name, c_acctbal FROM base
    WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
    """,
)
def j16_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (joins.changelog_apply) — the MERGE
    INTO every lakehouse format performs: each customer's orders act
    as a changelog (latest o_orderkey wins; every 7th order a
    delete), folded into the customer snapshot with ONE window over
    the CHANGELOG (sized by churn) and ONE anti-join against the
    distinct changed keys — the base is never windowed or sorted.
    Payloads pass through untouched, so the merged snapshot
    hash-gates."""
    from unstract_spark.operators.joins import changelog_apply

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ch = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(
            F.lit("upd_"), F.col("o_custkey").cast("string")
        ).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    return changelog_apply(c, ch, "c_custkey", "seq")


@register(
    "dq_psi_drift",
    """
    WITH g AS (
      SELECT CAST(least(greatest(floor(value / 10), 0), 9) AS BIGINT)
               AS bin,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1),
    s AS (SELECT CAST(t.i AS BIGINT) AS bin,
                 coalesce(g.ca, 0) AS cnt_base,
                 coalesce(g.cb, 0) AS cnt_curr
          FROM range(0, 10) t(i) LEFT JOIN g ON g.bin = t.i),
    tot AS (SELECT sum(cnt_base) AS na, sum(cnt_curr) AS nb FROM s),
    c AS (SELECT bin, cnt_base, cnt_curr,
                 ((2 * cnt_base + 1) * 1.0 / (2 * na + 10)
                  - (2 * cnt_curr + 1) * 1.0 / (2 * nb + 10))
                 * ln(((2 * cnt_base + 1) * 1.0 / (2 * na + 10))
                      / ((2 * cnt_curr + 1) * 1.0 / (2 * nb + 10)))
                   AS contrib
          FROM s, tot)
    SELECT bin, cnt_base, cnt_curr, round(contrib, 8) AS psi_contrib,
           (SELECT round(CAST(sum(CAST(contrib AS DECIMAL(28,12)))
                              AS DOUBLE), 8) FROM c) AS psi_total
    FROM c
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE production drift monitor —
    between the view and purchase value distributions over ten fixed
    bins: per-bin smoothed shares p=(2c+1)/(2n+10) (the half-count
    Laplace floor that keeps empty bins finite, as one integer-exact
    IEEE division), contribution (p-q)*ln(p/q), and the total via the
    entropy family's decimal-domain sum. A full bin spine
    (range join) keeps empty bins in the report. PSI > 0.2 is the
    classic retrain trigger; here the number itself is hash-gated."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    g = ev.select(
        F.least(
            F.greatest(F.floor(F.col("value") / 10), F.lit(0)),
            F.lit(9),
        ).cast("long").alias("bin"),
        "event_type",
    ).groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long").alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("cb"),
    )
    spine = spark.range(0, 10).select(F.col("id").alias("bin"))
    s = spine.join(g, "bin", "left").select(
        "bin",
        F.coalesce("ca", F.lit(0)).alias("cnt_base"),
        F.coalesce("cb", F.lit(0)).alias("cnt_curr"),
    )
    tot = s.agg(
        F.sum("cnt_base").alias("na"), F.sum("cnt_curr").alias("nb")
    )
    c = s.crossJoin(F.broadcast(tot))
    p = (2 * F.col("cnt_base") + 1) * 1.0 / (2 * F.col("na") + 10)
    q = (2 * F.col("cnt_curr") + 1) * 1.0 / (2 * F.col("nb") + 10)
    contrib = ((p - q) * F.log(p / q)).alias("contrib")
    c = c.select(
        "bin", "cnt_base", "cnt_curr", contrib
    ).localCheckpoint(eager=True)
    total = c.agg(
        F.round(
            F.sum(F.col("contrib").cast("decimal(28,12)")).cast("double"),
            8,
        ).alias("psi_total")
    )
    return c.crossJoin(F.broadcast(total)).select(
        "bin",
        "cnt_base",
        "cnt_curr",
        F.round("contrib", 8).alias("psi_contrib"),
        "psi_total",
    )


@register(
    "events_attribution",
    """
    WITH ev AS (SELECT user_id, event_id, event_type,
                       epoch_us(ts) AS us
                FROM events),
    c AS (SELECT user_id, event_id AS conv_id, us AS conv_us
          FROM ev WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_id AS touch_id, us AS touch_us
          FROM ev WHERE event_type IN ('view', 'click')),
    j AS (SELECT c.user_id, conv_id, touch_id,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY touch_us, touch_id)
                   AS touch_rank,
                 count(*) OVER (PARTITION BY conv_id) AS n_touches
          FROM c JOIN t ON t.user_id = c.user_id
                       AND t.touch_us < c.conv_us
                       AND t.touch_us >= c.conv_us - 604800000000)
    SELECT user_id, conv_id, touch_id, CAST(touch_rank AS INT)
             AS touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(CASE WHEN touch_rank = n_touches
                     THEN 1000000 - (1000000 // n_touches)
                            * (n_touches - 1)
                     ELSE 1000000 // n_touches END AS BIGINT)
             AS linear_ppm,
           CAST(CASE WHEN n_touches = 1 THEN 1000000
                     WHEN n_touches = 2 THEN 500000
                     WHEN touch_rank = 1
                       THEN 400000 + (200000
                            - (200000 // (n_touches - 2))
                              * (n_touches - 2))
                     WHEN touch_rank = n_touches THEN 400000
                     ELSE 200000 // (n_touches - 2) END AS BIGINT)
             AS ushape_ppm
    FROM j
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (timeseries.attribution_credits):
    every purchase credits the user's view/click touches inside a
    7-day lookback, split linearly AND U-shaped (40/20/40) in exact
    integer ppm with pinned remainder rules — each conversion's
    credits sum to exactly 1e6, so the entire assignment hash-gates
    (float credit splitting cannot). Equi-join on user with the
    half-open range predicate; per-conversion rank/count from one
    partitioned window."""
    from unstract_spark.operators.timeseries import attribution_credits

    e0 = _t(spark, sf_dir, "events")
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        u = F.unix_micros(F.col("ts"))
    ev = e0.select(
        "user_id", "event_id", "event_type", u.alias("us")
    )
    conv = ev.filter(F.col("event_type") == "purchase")
    touch = ev.filter(F.col("event_type").isin("view", "click"))
    return attribution_credits(conv, touch)


_KCORE_ROUND = """
d{r} AS (SELECT src, count(*) AS d FROM e{p} GROUP BY 1),
keep{r} AS (SELECT src FROM d{r} WHERE d >= 3),
e{r} AS (SELECT e.src, e.dst FROM e{p} e
         WHERE e.src IN (SELECT src FROM keep{r})
           AND e.dst IN (SELECT src FROM keep{r}))
"""


@register(
    "graph_kcore",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
    raw AS (SELECT a.it AS src, c.it AS dst
            FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
            GROUP BY 1, 2 HAVING count(*) >= 2),
    e0 AS (SELECT src, dst FROM raw
           UNION SELECT dst AS src, src AS dst FROM raw),
    {_KCORE_ROUND.format(r=1, p=0)},
    {_KCORE_ROUND.format(r=2, p=1)},
    {_KCORE_ROUND.format(r=3, p=2)}
    SELECT src AS node, count(*) AS deg FROM e3 GROUP BY 1
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round 3-core peeling (graph.kcore_peel) over the part
    co-purchase graph: three peel rounds, each dropping sub-degree-3
    nodes and their edges — removals cascade, which is the point of
    peeling. The oracle unrolls all three rounds as CTEs, so every
    round's degree computation and double semi-join survives the
    hash."""
    from unstract_spark.operators.graph import kcore_peel

    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
    ).distinct()
    left = b.select("bk", F.col("it").alias("src"))
    right = b.select(F.col("bk").alias("bk2"), F.col("it").alias("dst"))
    edges = (
        left.join(
            right,
            (left["bk"] == right["bk2"]) & (left["src"] < right["dst"]),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("src", "dst")
    )
    return kcore_peel(edges, k=3, rounds=3)


@register(
    "graph_triangle_counts",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
    raw AS (SELECT a.it AS src, c.it AS dst
            FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
            GROUP BY 1, 2 HAVING count(*) >= 2),
    tr AS (SELECT e1.src AS a, e1.dst AS bb, e2.dst AS c
           FROM raw e1 JOIN raw e2
             ON e1.src = e2.src AND e1.dst < e2.dst
           JOIN raw e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
    SELECT node, count(*) AS n_triangles
    FROM (SELECT a AS node FROM tr
          UNION ALL SELECT bb FROM tr
          UNION ALL SELECT c FROM tr)
    GROUP BY node
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation (graph.triangle_count) over
    the part co-purchase graph (parts co-ordered >= 2 times). The
    Spark side runs the DEGREE-ORDERED orientation algorithm — wedges
    enumerate only at each triangle's (degree, id)-lowest vertex, so
    hub out-degrees are O(sqrt(m)) whatever the skew — while the
    oracle counts the same triangles with the naive id-ordered
    3-way self-join DuckDB affords at oracle scale: the hash gate
    certifies the orientation algorithm against an independent
    spelling, not a mirror of itself."""
    from unstract_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    # Per-basket pair expansion via ONE collect_set + an in-memory
    # combination explode instead of the basket self-join: the r12
    # shape shuffled the distinct (basket, item) table twice and
    # sort-merge-joined it with itself; collect_set aggregates
    # map-side, and the pair fan-out happens in codegen on the sorted
    # per-basket array (r13 optimization round, guide §2.3/§2.4).
    # Identical pair multiset: the self-join's src < dst condition is
    # exactly the ordered pairs of each basket's distinct item set,
    # and baskets are orders (bounded size), so the quadratic term is
    # per-basket only — the same bound the self-join had.
    pairs = (
        li.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("its"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(its, (x, i) -> "
                    "transform(slice(its, i + 2, size(its)), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("pr")
        )
        .select("pr.src", "pr.dst")
    )
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges)


@register(
    "mb_copurchase_lift",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
    ic AS (SELECT it, count(*) AS cnt FROM b GROUP BY it),
    tot AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    p AS (SELECT a.it AS item_a, c.it AS item_b, count(*) AS pair_cnt
          FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
          GROUP BY a.it, c.it HAVING count(*) >= 2)
    SELECT item_a, item_b, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
           tot.n_baskets,
           pair_cnt * 1000000 // tot.n_baskets AS support_ppm,
           CAST(pair_cnt AS DOUBLE) / ca.cnt AS conf_a_b,
           CAST(pair_cnt * tot.n_baskets AS DOUBLE)
             / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
    FROM p JOIN ic ca ON ca.it = item_a
           JOIN ic cb ON cb.it = item_b, tot
    ORDER BY round(lift, 6) DESC, item_a, item_b LIMIT 100
    """,
)
def mb_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (joins.basket_pair_stats):
    co-purchased part pairs within orders with exact support counts
    and single-IEEE-division confidence/lift, ranked by rounded lift
    with an id tie-break (the ranked-gate convention). The pair space
    is quadratic in BASKET SIZE only — the per-entity bound — never
    in basket count."""
    from unstract_spark.operators.joins import basket_pair_stats

    li = _t(spark, sf_dir, "lineitem")
    out = basket_pair_stats(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )
    return out.orderBy(
        F.round("lift", 6).desc(), "item_a", "item_b"
    ).limit(100)


@register(
    "dq_expectations",
    """
    WITH t AS (SELECT count(*) AS n,
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS v0,
        CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS v1,
        CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(sum(CASE WHEN l_tax < 0 OR l_tax > 0.5
                      THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        CAST(sum(CASE WHEN NOT l_returnflag IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                       AND l_linenumber IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT)
          - count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                                 AND l_linenumber IS NOT NULL
                                THEN (l_orderkey, l_linenumber) END)
          AS v5
      FROM lineitem),
    r AS (SELECT count(*) AS v6 FROM lineitem l
          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderkey IS NULL)
    SELECT check_name, n AS n_checked, v AS n_violations,
           CASE WHEN v = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM (
      SELECT 'completeness_l_orderkey' AS check_name, n, v0 AS v FROM t
      UNION ALL SELECT 'non_negative_l_quantity', n, v1 FROM t
      UNION ALL SELECT 'range_l_discount_0_1', n, v2 FROM t
      UNION ALL SELECT 'range_l_tax_0_05', n, v3 FROM t
      UNION ALL SELECT 'domain_l_returnflag', n, v4 FROM t
      UNION ALL SELECT 'uniqueness_l_orderkey_l_linenumber', n, v5
        FROM t
      UNION ALL SELECT 'referential_l_orderkey', t.n, r.v6 FROM t, r
    )
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite
    (profile.expectation_report — the Deequ/Great-Expectations
    shape): seven expectations over lineitem — completeness, three
    numeric range checks, a domain check, key
    uniqueness, and referential integrity against orders. Five CASE
    sums plus the distinct-count ride ONE wide hash aggregate (one
    table scan for the whole suite); only the referential check pays
    a join (left-anti). Every counter is an exact BIGINT, so the full
    report — including pass/fail statuses — hash-gates."""
    from unstract_spark.operators.profile import expectation_report

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    checks = [
        ("completeness_l_orderkey", F.col("l_orderkey").isNull()),
        ("non_negative_l_quantity", F.col("l_quantity") < 0),
        (
            "range_l_discount_0_1",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        (
            "range_l_tax_0_05",
            (F.col("l_tax") < 0) | (F.col("l_tax") > 0.5),
        ),
        (
            "domain_l_returnflag",
            ~F.col("l_returnflag").isin("A", "N", "R"),
        ),
    ]
    return expectation_report(
        li,
        checks,
        unique_cols=["l_orderkey", "l_linenumber"],
        reference=(o, "l_orderkey", "o_orderkey"),
        # r13: uniqueness and referential share l_orderkey, so the
        # keyed plan pays ONE key-column exchange instead of a
        # distinct-tuple shuffle + a second full anti-join shuffle
        # (the 80x rung's 1.76x/doubling row; see expectation_report)
        key_col="l_orderkey",
    )


@register(
    "j14_interval_merge",
    """
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS s,
                      epoch_us(ts) + 600000000 AS e
               FROM events),
    m AS (SELECT *, max(e) OVER (PARTITION BY user_id
                                 ORDER BY s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS pmax
          FROM b),
    i AS (SELECT *, CAST(sum(CASE WHEN pmax IS NULL OR s > pmax
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
                        AS island
          FROM m)
    SELECT user_id, island, min(s) AS island_start_us,
           max(e) AS island_end_us, count(*) AS n_intervals,
           max(e) - min(s) AS covered_us
    FROM i GROUP BY user_id, island
    """,
)
def j14_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands coverage (joins.merge_intervals): every event
    opens a 10-minute activity interval; overlapping-or-touching
    intervals per user merge into maximal islands — the uptime/
    session-coalescing primitive. Start/end run in exact epoch
    micros, the island id is the running sum of new-island flags over
    the running max of previous ends (one partitioned window pass —
    no iterative closure), so island bounds, counts, and covered
    spans all hash-gate."""
    from unstract_spark.operators.joins import merge_intervals

    e0 = _t(spark, sf_dir, "events")
    if dict(e0.dtypes)["ts"] == "timestamp_ntz":
        u = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        u = F.unix_micros(F.col("ts"))
    iv = e0.select(
        "user_id", "event_id", u.alias("s"),
        (u + F.lit(600_000_000)).alias("e"),
    )
    return merge_intervals(iv, "user_id", "s", "e", "event_id").select(
        "user_id",
        "island",
        F.col("island_start").alias("island_start_us"),
        F.col("island_end").alias("island_end_us"),
        F.col("n_intervals"),
        F.col("covered").alias("covered_us"),
    )


_SK_JOIN_PLAN_SQL = """
WITH ma AS (SELECT count(*) AS n_rows, count(o_custkey) AS n_nonnull,
                   CAST(sum(CAST(length(CAST(o_custkey AS VARCHAR))
                                 AS DECIMAL(18,6))) AS DOUBLE)
                     / count(o_custkey) AS avg_len
            FROM orders),
mb AS (SELECT count(*) AS n_rows, count(c_custkey) AS n_nonnull,
              CAST(sum(CAST(length(CAST(c_custkey AS VARCHAR))
                            AS DECIMAL(18,6))) AS DOUBLE)
                / count(c_custkey) AS avg_len
       FROM customer),
ha AS (SELECT count(*) AS cnt FROM orders WHERE o_custkey IS NOT NULL
       GROUP BY o_custkey
       ORDER BY cnt DESC, CAST(o_custkey AS VARCHAR) ASC LIMIT 1),
hb AS (SELECT count(*) AS cnt FROM customer WHERE c_custkey IS NOT NULL
       GROUP BY c_custkey
       ORDER BY cnt DESC, CAST(c_custkey AS VARCHAR) ASC LIMIT 1),
calc AS (SELECT
    ma.n_nonnull AS n_a, mb.n_nonnull AS n_b,
    CAST(ma.n_rows AS DOUBLE) * ma.avg_len AS bytes_a,
    CAST(mb.n_rows AS DOUBLE) * mb.avg_len AS bytes_b,
    (SELECT cnt FROM ha) * 1000000 // ma.n_nonnull AS share_ppm_a,
    (SELECT cnt FROM hb) * 1000000 // mb.n_nonnull AS share_ppm_b
  FROM ma, mb)
SELECT n_a, n_b, bytes_a, bytes_b, share_ppm_a, share_ppm_b,
       CASE WHEN least(bytes_a, bytes_b) <= 1048576.0 THEN
              CASE WHEN bytes_a <= bytes_b
                   THEN 'broadcast_a' ELSE 'broadcast_b' END
            WHEN greatest(share_ppm_a, share_ppm_b) >= 100000
              THEN 'shuffle_salted'
            ELSE 'shuffle' END AS strategy,
       CAST(greatest(2, least(32,
            (greatest(share_ppm_a, share_ppm_b) * 32 + 999999)
              // 1000000)) AS INT) AS salt_advice,
       (SELECT count(*) FROM orders JOIN customer
         ON o_custkey = c_custkey) AS join_rows
FROM calc
"""


@register("sk_join_plan", _SK_JOIN_PLAN_SQL)
def sk_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The automatic plan chooser end to end UNDER THE HASH GATE
    (stats_store.join_plan / apply_join): analyze orders.o_custkey
    and customer.c_custkey into a fresh on-disk store (counts,
    rendered-length sums, exact top-key counts), price the join from
    the PERSISTED statistics — size lower bounds, integer-exact
    hottest-key ppm shares, the broadcast/salt/shuffle decision and
    its salt factor — then EXECUTE the join the way the plan says
    (broadcast_b here: customer is the smaller side under the 1 MiB
    knob) and emit the decision inputs, the decision, and the
    executed row count as one row. The oracle re-derives every number
    from the raw tables in pure SQL, so the whole
    analyze → persist → price → choose → execute path is
    value-hash-gated."""
    import shutil
    import tempfile

    from unstract_spark.operators.stats_store import TableStatsStore

    d = tempfile.mkdtemp(prefix="sk_join_plan_")
    try:
        store = TableStatsStore(spark, d)
        o = _t(spark, sf_dir, "orders")
        c = _t(spark, sf_dir, "customer")
        store.analyze(o, "orders", ["o_custkey"], k=128)
        store.analyze(c, "customer", ["c_custkey"], k=128)
        plan = store.join_plan(
            "orders", "o_custkey", "customer", "c_custkey",
            broadcast_threshold_bytes=1 << 20,
        )
        joined = store.apply_join(
            o, c, "o_custkey", "c_custkey", plan,
            table_a="orders", col_a="o_custkey",
            table_b="customer", col_b="c_custkey",
        )
        n_join = joined.count()
        ma = store._meta("orders", "o_custkey")
        mc = store._meta("customer", "c_custkey")
        row = (
            int(ma.n_nonnull), int(mc.n_nonnull),
            plan["bytes_a"], plan["bytes_b"],
            plan["share_ppm_a"], plan["share_ppm_b"],
            plan["strategy"], plan["salt_advice"], int(n_join),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_a long, n_b long, bytes_a double, bytes_b double, "
        "share_ppm_a long, share_ppm_b long, strategy string, "
        "salt_advice int, join_rows long",
    )


_EVENTS_PATTERN_MATCH_SQL = r"""
WITH c AS (SELECT user_id, ts, event_id,
                  CASE event_type WHEN 'view' THEN 'v'
                                  WHEN 'click' THEN 'c'
                                  WHEN 'purchase' THEN 'p'
                                  WHEN 'signup' THEN 's'
                                  WHEN 'error' THEN 'e'
                                  ELSE 'x' END AS ch
           FROM events),
s AS (SELECT user_id,
             string_agg(ch, '' ORDER BY ts, event_id) AS seq
      FROM c GROUP BY user_id)
SELECT user_id, length(seq) AS seq_len,
       len(regexp_extract_all(seq, 'v[^e]*?c[^e]*?p')) AS n_matches,
       coalesce(regexp_extract(seq, 'v[^e]*?c[^e]*?p'), '')
         AS first_match,
       CAST(coalesce(list_sum(list_transform(
              regexp_extract_all(seq, 'v[^e]*?c[^e]*?p'),
              x -> length(x))), 0) AS INT) AS total_match_len
FROM s
"""


@register("events_pattern_match", _EVENTS_PATTERN_MATCH_SQL)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence matching (timeseries.event_pattern_match — the
    MATCH_RECOGNIZE use case): per user, count the non-overlapping
    view→click→purchase runs with no error in between, over the
    one-char-coded time-ordered event string ('v[^e]*?c[^e]*?p',
    lazy quantifiers for engine-stable substrings). One
    ObjectHashAggregate groupBy builds each user's sequence; the
    oracle rebuilds it with an ordered string_agg and the same
    regex, so the match counts AND the first matched substring are
    value-hash-gated."""
    from unstract_spark.operators import timeseries

    e = _t(spark, sf_dir, "events")
    return timeseries.event_pattern_match(
        e,
        "v[^e]*?c[^e]*?p",
        {"view": "v", "click": "c", "purchase": "p",
         "signup": "s", "error": "e"},
    )


_EVENTS_PATTERN_CTES = r"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              WHEN 'error' THEN 'e' ELSE 'x' END AS ch,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
s AS (
  SELECT user_id,
         string_agg(ch, '' ORDER BY ts, event_id) AS seq,
         list(struct_pack(ts := ts, id := event_id, cents := cents)
              ORDER BY ts, event_id) AS a
  FROM c GROUP BY user_id),
s2 AS (
  SELECT user_id, a,
         regexp_extract_all(seq, 'v[^e]*?c[^e]*?p') AS ms,
         regexp_split_to_array(seq, 'v[^e]*?c[^e]*?p') AS gs
  FROM s WHERE len(regexp_extract_all(seq, 'v[^e]*?c[^e]*?p')) > 0),
m AS (
  SELECT user_id, a,
         CAST(unnest(range(1, len(ms) + 1)) AS INT) AS match_idx,
         unnest(ms) AS m,
         unnest(gs[1:len(ms)]) AS g
  FROM s2),
p AS (
  SELECT user_id, a, match_idx, m, length(m) AS mlen,
         CAST(sum(length(g)) OVER (PARTITION BY user_id ORDER BY match_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + coalesce(sum(length(m)) OVER (PARTITION BY user_id
                ORDER BY match_idx ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) + 1 AS INT) AS start_pos
  FROM m)
"""

_EVENTS_PATTERN_ROWS_SQL = _EVENTS_PATTERN_CTES + r"""
SELECT user_id, match_idx, start_pos, CAST(mlen AS INT) AS n_events,
       m AS codes,
       a[start_pos].ts AS start_ts,
       a[start_pos + mlen - 1].ts AS end_ts,
       epoch_us(a[start_pos + mlen - 1].ts) - epoch_us(a[start_pos].ts)
         AS duration_us,
       CAST(list_sum(list_transform(a[start_pos : start_pos + mlen - 1],
            x -> x.cents)) AS BIGINT) AS value_cents
FROM p
"""

_EVENTS_PATTERN_ALL_ROWS_SQL = _EVENTS_PATTERN_CTES + r"""
SELECT user_id, match_idx, CAST(i AS INT) AS ev_idx,
       m[CAST(i AS INT)] AS code,
       ev.id AS event_id, ev.ts AS ts, ev.cents AS cents
FROM (SELECT user_id, match_idx, m,
             unnest(a[start_pos : start_pos + mlen - 1]) AS ev,
             unnest(range(1, mlen + 1)) AS i
      FROM p)
"""


@register("events_pattern_all_rows", _EVENTS_PATTERN_ALL_ROWS_SQL)
def events_pattern_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE ALL ROWS PER MATCH
    (timeseries.event_pattern_all_rows): every event each
    view→click→purchase match consumed, with its in-match position
    and the single pattern character it matched — the payload-level
    CEP output downstream repair/enrichment logic needs. Same
    position arithmetic as events_pattern_rows; the oracle unnests
    the same slices positionally, so match membership is certified
    event by event."""
    from unstract_spark.operators import timeseries

    e = _t(spark, sf_dir, "events")
    return timeseries.event_pattern_all_rows(
        e,
        "v[^e]*?c[^e]*?p",
        {"view": "v", "click": "c", "purchase": "p",
         "signup": "s", "error": "e"},
    )


@register("events_pattern_rows", _EVENTS_PATTERN_ROWS_SQL)
def events_pattern_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE ONE ROW PER MATCH
    (timeseries.event_pattern_rows): every non-overlapping
    view→click→purchase run becomes a row with its measures —
    start/end event times, exact microsecond duration, event count,
    and the cent-quantized value sum over EXACTLY the events inside
    the match. Match positions are reconstructed from the
    gap/match-length prefix sums of split() + regexp_extract_all()
    (both engines keep empty gaps; tested), so the oracle re-derives
    every measure — including the slice of the per-user struct array
    each match covers — in pure SQL."""
    from unstract_spark.operators import timeseries

    e = _t(spark, sf_dir, "events")
    return timeseries.event_pattern_rows(
        e,
        "v[^e]*?c[^e]*?p",
        {"view": "v", "click": "c", "purchase": "p",
         "signup": "s", "error": "e"},
    )


def _ohlc_level_sql(level: str) -> str:
    """Direct candles at one date_trunc level — the per-level oracle
    for both the flat bars gate and the cascade gate (which certifies
    that comparison-folding hourly partials equals computing daily
    candles straight from raw). CAST pins DuckDB's date_trunc DATE
    return at day+ levels back to TIMESTAMP for schema parity."""
    return f"""
SELECT '{level}' AS level, event_type, bucket_start, open,
       max(value) AS high, min(value) AS low, close,
       count(*) AS n_events
FROM (
  SELECT event_type, bucket_start, value,
         first_value(value) OVER win AS open,
         last_value(value) OVER win AS close
  FROM (SELECT event_type,
               CAST(date_trunc('{level}', ts) AS TIMESTAMP)
                 AS bucket_start,
               ts, event_id, value
        FROM events)
  WINDOW win AS (PARTITION BY event_type, bucket_start
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING))
GROUP BY event_type, bucket_start, open, close
"""


_EVENTS_OHLC_CASCADE_SQL = (
    _ohlc_level_sql("hour") + " UNION ALL " + _ohlc_level_sql("day")
)


@register("events_ohlc_cascade", _EVENTS_OHLC_CASCADE_SQL)
def events_ohlc_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution candles (timeseries.ohlc_cascade): hourly
    candles from raw, daily candles folded FROM the hourly partials
    (candles-of-candles — ohlc_merge_partials is closed under coarser
    buckets), raw scanned once. The oracle computes BOTH levels
    directly from raw, so the hash gate certifies the comparison-fold
    associativity law itself: open-of-day == open of the earliest
    hour partial, at every (key, day)."""
    from unstract_spark.operators import timeseries

    e = _t(spark, sf_dir, "events")
    return timeseries.ohlc_cascade(e, levels=("hour", "day"))


@register("events_ohlc_bars", _EVENTS_OHLC_SQL)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type (timeseries.ohlc_bars) —
    the hypertable downsampling staple: open/close by event time
    (event_id tie-break for same-timestamp ticks) from a
    bucket-partitioned window, high/low/count from one hash aggregate
    with open/close as grouping keys. Values pass through raw, so the
    candles hash-gate exactly."""
    from unstract_spark.operators import timeseries

    e = _t(spark, sf_dir, "events")
    return timeseries.ohlc_bars(e)


# ---------------------------------------------------------------------
# r12: one-sided planning — the engine's production shape (a persisted,
# ANALYZEd ledger joined against a per-run frame that has no stats).
# The ledger is a derived orders table with a planted 40%-hot key; the
# probe is a derived customer frame the planner never sees stats for.
# ---------------------------------------------------------------------

_SK_PLAN_UNKNOWN_SQL = """
WITH ledger AS (
  SELECT CASE WHEN o_orderkey % 10 < 4 THEN 'HOT'
              ELSE CAST(o_custkey AS VARCHAR) END AS k
  FROM orders),
probe AS (
  SELECT CASE WHEN c_custkey % 7 = 0 THEN 'HOT'
              ELSE CAST(c_custkey AS VARCHAR) END AS k
  FROM customer),
m AS (SELECT count(*) AS n_rows, count(k) AS n_nonnull,
             CAST(sum(CAST(length(k) AS DECIMAL(18,6))) AS DOUBLE)
               / count(k) AS avg_len
      FROM ledger),
h AS (SELECT count(*) AS cnt FROM ledger WHERE k IS NOT NULL
      GROUP BY k ORDER BY cnt DESC, k ASC LIMIT 1),
calc AS (SELECT n_nonnull,
                CAST(n_rows AS DOUBLE) * avg_len AS bytes_known,
                (SELECT cnt FROM h) * 1000000 // n_nonnull AS share_ppm
         FROM m)
SELECT n_nonnull, bytes_known, share_ppm,
       CASE WHEN bytes_known <= 1024.0 THEN 'broadcast_known'
            WHEN share_ppm >= 100000 THEN 'shuffle_salted'
            ELSE 'shuffle' END AS strategy,
       CAST(greatest(2, least(32, (share_ppm * 32 + 999999) // 1000000))
            AS INT) AS salt_advice,
       (SELECT count(*) FROM probe p
         WHERE NOT EXISTS (SELECT 1 FROM ledger l WHERE l.k = p.k))
         AS anti_rows,
       (SELECT count(*) FROM probe p
         WHERE EXISTS (SELECT 1 FROM ledger l WHERE l.k = p.k))
         AS semi_rows,
       (SELECT count(*) FROM probe p JOIN ledger l ON p.k = l.k)
         AS inner_rows
FROM calc
"""


@register("sk_plan_unknown", _SK_PLAN_UNKNOWN_SQL)
def sk_plan_unknown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided plan pricing end to end UNDER THE HASH GATE
    (stats_store.plan_against_unknown / apply_using_join — the r12
    wiring behind the history store's production joins): ANALYZE a
    ledger whose key is 40% one hot value (the
    boilerplate-document-uploaded-a-million-times shape), price the
    join of an UNKNOWN probe frame against it from the persisted
    stats alone — size lower bound, integer-exact hottest-key ppm,
    the broadcast/salt/shuffle ladder that never broadcasts the
    unknown side — then EXECUTE the decision for all three supported
    join types (left_anti / left_semi / inner; the salted shape is a
    hot-key split whose union equals the plain join) and emit the
    decision inputs, the decision, and the three executed counts as
    one row. The oracle re-derives every number from the raw tables
    in pure SQL. Reference anchor: the reference's history anti-join
    (`source.py:806-868`) takes a fixed plan; this is the
    beyond-reference planning layer choosing that join's shape from
    persisted statistics."""
    import shutil
    import tempfile

    from unstract_spark.operators.stats_store import TableStatsStore

    d = tempfile.mkdtemp(prefix="sk_plan_unknown_")
    try:
        store = TableStatsStore(spark, d)
        ledger = _t(spark, sf_dir, "orders").selectExpr(
            "CASE WHEN o_orderkey % 10 < 4 THEN 'HOT'"
            " ELSE CAST(o_custkey AS STRING) END AS k"
        )
        probe = _t(spark, sf_dir, "customer").selectExpr(
            "CASE WHEN c_custkey % 7 = 0 THEN 'HOT'"
            " ELSE CAST(c_custkey AS STRING) END AS k"
        )
        store.analyze(ledger, "ledger", ["k"], k=128)
        plan = store.plan_against_unknown(
            "ledger", "k", broadcast_threshold_bytes=1024
        )
        anti = store.apply_using_join(
            probe, ledger, ["k"], plan, "left_anti"
        ).count()
        semi = store.apply_using_join(
            probe, ledger, ["k"], plan, "left_semi"
        ).count()
        inner = store.apply_using_join(
            probe, ledger, ["k"], plan, "inner"
        ).count()
        m = store._meta("ledger", "k")
        row = (
            int(m.n_nonnull), plan["bytes_known"], plan["share_ppm"],
            plan["strategy"], plan["salt_advice"],
            int(anti), int(semi), int(inner),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_nonnull long, bytes_known double, share_ppm long, "
        "strategy string, salt_advice int, anti_rows long, "
        "semi_rows long, inner_rows long",
    )


_AGG_SPEARMAN_SQL = """
WITH c AS (SELECT l_returnflag AS f,
                  CAST(round(l_quantity) AS BIGINT) AS q,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS p
           FROM lineitem),
r AS (SELECT f,
             2 * rank() OVER (PARTITION BY f ORDER BY q)
               + count(*) OVER (PARTITION BY f, q) - 1 AS rq,
             2 * rank() OVER (PARTITION BY f ORDER BY p)
               + count(*) OVER (PARTITION BY f, p) - 1 AS rp
      FROM c),
s AS (SELECT f, count(*) AS n, sum(rq) AS srq, sum(rp) AS srp,
             sum(CAST(rq AS DECIMAL(18,0)) * CAST(rq AS DECIMAL(18,0)))
               AS sqq,
             sum(CAST(rp AS DECIMAL(18,0)) * CAST(rp AS DECIMAL(18,0)))
               AS spp,
             sum(CAST(rq AS DECIMAL(18,0)) * CAST(rp AS DECIMAL(18,0)))
               AS sqp
      FROM r GROUP BY 1)
SELECT f AS l_returnflag, n AS n_lines,
       round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
              - CAST(srq AS DOUBLE) * CAST(srp AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(srq AS DOUBLE) * CAST(srq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                       - CAST(srp AS DOUBLE) * CAST(srp AS DOUBLE))), 6)
           AS spearman_qty_price
FROM s
"""


@register("agg_spearman", _AGG_SPEARMAN_SQL)
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation of quantity vs price per return flag
    — the robust (monotone, outlier-insensitive) companion to
    agg_correlation's Pearson. Ties take AVERAGE ranks, kept in an
    exact integer domain by DOUBLING (2·rank + tie_count − 1 =
    2·avg_rank, the agg_mann_whitney device); Pearson over ranks is
    invariant under that linear transform, so the exact decimal rank
    sums combine through the same ONE fixed double expression as
    agg_correlation. Ranks come from ranks.grouped_doubled_ranks —
    the DISTRIBUTED per-group spelling (counts per (flag, value) +
    one composite-order range_prefix): a window partitioned by the
    3-value flag would sort the whole corpus on 3 tasks however many
    executors exist (the r12 10x rung measured 15x on 10x rows for
    that plan). Both engines compute identical integer ranks, so the
    coefficient hash-gates at full precision."""
    from unstract_spark.operators.ranks import grouped_doubled_ranks

    l = _t(spark, sf_dir, "lineitem")
    # no localCheckpoint although c fans out 3 ways: materializing a
    # 3-column projection through the RDD path costs more than
    # re-running the codegen scan per consumer (the ex_curation_v2
    # measured trade)
    c = l.select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    rq = grouped_doubled_ranks(c.select("f", "q"), "f", "q", out="rq")
    rp = grouped_doubled_ranks(c.select("f", "p"), "f", "p", out="rp")
    r = c.join(F.broadcast(rq), ["f", "q"]).join(rp, ["f", "p"]).select(
        "f", "rq", "rp"
    )
    s = r.groupBy("f").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rq").alias("srq"),
        F.sum("rp").alias("srp"),
        F.sum(
            F.col("rq").cast("decimal(18,0)")
            * F.col("rq").cast("decimal(18,0)")
        ).alias("sqq"),
        F.sum(
            F.col("rp").cast("decimal(18,0)")
            * F.col("rp").cast("decimal(18,0)")
        ).alias("spp"),
        F.sum(
            F.col("rq").cast("decimal(18,0)")
            * F.col("rp").cast("decimal(18,0)")
        ).alias("sqp"),
    )
    nd = F.col("n").cast("double")
    srq, srp = F.col("srq").cast("double"), F.col("srp").cast("double")
    sqq, spp = F.col("sqq").cast("double"), F.col("spp").cast("double")
    sqp = F.col("sqp").cast("double")
    rho = (nd * sqp - srq * srp) / F.sqrt(
        (nd * sqq - srq * srq) * (nd * spp - srp * srp)
    )
    return s.select(
        F.col("f").alias("l_returnflag"),
        F.col("n").alias("n_lines"),
        F.round(rho, 6).alias("spearman_qty_price"),
    )


_WPR_STEP = """
SELECT ws.node,
       CAST(1000000000000 // (8 * (SELECT n FROM nn))
            + (7 * coalesce(i.s, 0)) // 8 AS BIGINT) AS p
FROM ws LEFT JOIN {i} i ON i.node = ws.node
"""


@register(
    "graph_weighted_pagerank",
    f"""
    WITH raw AS (
        SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
               's:' || CAST(l.l_suppkey AS VARCHAR) AS b,
               count(*) AS w
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
        GROUP BY 1, 2
    ),
    e AS (SELECT a AS src, b AS dst, w FROM raw
          UNION ALL SELECT b AS src, a AS dst, w FROM raw),
    ws AS (SELECT src AS node, sum(w) AS wsum FROM e GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM ws),
    p0 AS (SELECT node,
                  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
                    AS p
           FROM ws),
    i1 AS (SELECT e.dst AS node, sum((p0.p * e.w) // ws.wsum) AS s
           FROM e JOIN p0 ON p0.node = e.src
                  JOIN ws ON ws.node = e.src GROUP BY 1),
    p1 AS ({_WPR_STEP.format(i="i1")}),
    i2 AS (SELECT e.dst AS node, sum((p1.p * e.w) // ws.wsum) AS s
           FROM e JOIN p1 ON p1.node = e.src
                  JOIN ws ON ws.node = e.src GROUP BY 1),
    p2 AS ({_WPR_STEP.format(i="i2")}),
    i3 AS (SELECT e.dst AS node, sum((p2.p * e.w) // ws.wsum) AS s
           FROM e JOIN p2 ON p2.node = e.src
                  JOIN ws ON ws.node = e.src GROUP BY 1),
    p3 AS ({_WPR_STEP.format(i="i3")})
    SELECT node, p AS wpr_fixed FROM p3
    """,
)
def graph_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank (graph.weighted_pagerank_fixed) over the
    recent customer-supplier graph, weights = lineitem count per pair:
    a supplier's rank reflects how OFTEN customers transact with it,
    not just with how many — the interaction-strength ranking the
    unweighted variant cannot express. Mass splits by
    (p·w) div Σw in the same 1e12 fixed-point integer arithmetic
    (weights here are order-line counts ≪ the 9.2e6 overflow bound);
    the oracle unrolls all three rounds with the weighted division,
    so the proportional-split arithmetic itself is hash-gated."""
    from unstract_spark.operators.graph import weighted_pagerank_fixed

    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    o = _t(spark, sf_dir, "orders")
    raw = (
        l.join(o, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
            .alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
            .alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return weighted_pagerank_fixed(raw).select("node", "wpr_fixed")


@register(
    "events_time_to_convert",
    """
    WITH fv AS (SELECT user_id, min(ts) AS first_view
                FROM events WHERE event_type = 'view' GROUP BY 1),
    fp AS (SELECT e.user_id, min(e.ts) AS first_purchase
           FROM events e JOIN fv ON fv.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
           GROUP BY 1),
    lat AS (SELECT fv.user_id,
                   epoch_us(fp.first_purchase) - epoch_us(fv.first_view)
                     AS lat_us
            FROM fv JOIN fp ON fp.user_id = fv.user_id)
    SELECT CAST(lat_us // 3600000000 AS BIGINT) AS hours_bucket,
           count(*) AS n_users,
           CAST(min(lat_us) AS BIGINT) AS min_us,
           CAST(max(lat_us) AS BIGINT) AS max_us
    FROM lat GROUP BY 1 ORDER BY 1
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT histogram — the funnel-latency companion to
    events_funnel: per user, the latency from FIRST view to the first
    purchase at-or-after it, bucketed by whole hours. All arithmetic
    stays in exact integer microseconds (unix_micros difference,
    integer div for the bucket) so the distribution hash-gates; two
    min-aggregates and one user equi-join — no window, no per-user
    buffer. The conversion-latency curve is the growth team's SLA
    number and the input to the attribution window choice
    (events_attribution's lookback)."""
    e = _t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = fv.join(fp, "user_id").select(
        F.expr(
            "timestampdiff(MICROSECOND, first_view, first_purchase)"
        ).alias("lat_us")
    )
    # no orderBy: the correctness gate hashes order-insensitively and
    # a global Sort above the aggregate is the audit's banned shape —
    # presentation ordering belongs to the consumer
    return lat.groupBy(
        F.expr("CAST(lat_us div 3600000000 AS BIGINT)").alias(
            "hours_bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("lat_us").cast("long").alias("min_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )


@register(
    "dd_ngram_containment",
    """
    WITH grams AS (
        SELECT DISTINCT doc_id, g.gram
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
              FROM documents WHERE doc_id < 100),
             LATERAL (
                SELECT array_to_string(w[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ') AS gram
                FROM unnest(range(0, greatest(len(w) - 2, 0) + 1)) AS u(i)
             ) AS g
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(i.inter_size / sa.set_size, 6) AS containment_a_in_b,
           round(i.inter_size / sb.set_size, 6) AS containment_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.inter_size / sa.set_size >= 0.3
       OR i.inter_size / sb.set_size >= 0.3
    """,
)
def dd_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 2-gram CONTAINMENT pairs (dedup.ngram_containment_pairs) —
    the asymmetric quote/excerpt detector: |A∩B|/|A| stays ~1 when A
    is embedded in a much larger B while their Jaccard vanishes.
    Same shared-gram bucketed join as dd_ngram_jaccard (restricted to
    doc_id<100 at oracle scale), both directions emitted and either
    clearing 0.3 keeps the pair."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup.ngram_containment_pairs(d, n=2, min_containment=0.3)
    return pairs.select(
        "id_a",
        "id_b",
        F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
        F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
    )


@register(
    "web_feed_dates",
    """
    WITH d AS (SELECT doc_id,
                      doc_id % 7 + 1 AS d7,
                      doc_id % 9 + 1 AS d9,
                      10 + doc_id % 10 AS h,
                      doc_id % 60 AS ss
               FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS format,
           CAST(u.i AS INT) AS pos,
           CASE
             WHEN doc_id % 2 = 0 AND u.i = 0 THEN
               'Mon, 0' || d7 || ' Jan 2026 ' || h || ':30:'
                 || lpad(CAST(ss AS VARCHAR), 2, '0') || ' +0000'
             WHEN doc_id % 2 = 0 THEN
               'Tue, 10 Feb 2026 ' || h || ':30:00 GMT'
             WHEN u.i = 0 THEN
               '2026-03-0' || d9 || 'T' || h || ':15:30Z'
             ELSE '2026-04-05T10:00:00+05:30'
           END AS published,
           CASE
             WHEN doc_id % 2 = 0 AND u.i = 0 THEN
               CAST(epoch(make_timestamp(2026, 1, d7, h, 30, ss)) AS BIGINT)
             WHEN doc_id % 2 = 0 THEN
               CAST(epoch(make_timestamp(2026, 2, 10, h, 30, 0)) AS BIGINT)
             WHEN u.i = 0 THEN
               CAST(epoch(make_timestamp(2026, 3, d9, h, 15, 30)) AS BIGINT)
             ELSE CAST(epoch(TIMESTAMP '2026-04-05 04:30:00') AS BIGINT)
           END AS published_epoch
    FROM d, unnest(range(0, 2)) AS u(i)
    """,
)
def web_feed_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed DATE NORMALIZATION (webcorpus.feed_published_epoch) under
    an exact gate — the crawl scheduler's freshness key: per doc, an
    RSS feed carries RFC 822 pubDates in BOTH dialects (numeric
    '+0000' offset on item 0, 'GMT' zone name on item 1) and an Atom
    feed carries RFC 3339 in both dialects ('Z' on entry 0, a
    '+05:30' offset on entry 1). The rendered strings flow through
    the real parse chain (render → parse_feed → epoch ladder) and the
    oracle states each expected epoch by CONSTRUCTION
    (make_timestamp arithmetic, the offset row shifted to 04:30 UTC),
    so day-name stripping, month-name parsing, zone-name vs numeric
    offsets, and the timezone closure are all hash-certified."""
    from unstract_spark.operators import webcorpus

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 7 + 1).cast("string").alias("d7"),
        (F.col("doc_id") % 9 + 1).cast("string").alias("d9"),
        (F.lit(10) + F.col("doc_id") % 10).cast("string").alias("h"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0").alias("ss"),
    )
    rss = F.concat(
        F.lit("<rss><channel>"
              "<item><title>a</title><link>http://x/0</link><pubDate>"),
        F.lit("Mon, 0"), F.col("d7"), F.lit(" Jan 2026 "), F.col("h"),
        F.lit(":30:"), F.col("ss"), F.lit(" +0000"),
        F.lit("</pubDate></item>"
              "<item><title>b</title><link>http://x/1</link><pubDate>"),
        F.lit("Tue, 10 Feb 2026 "), F.col("h"), F.lit(":30:00 GMT"),
        F.lit("</pubDate></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed><entry><title>a</title><link href="http://x/0"/>'
              "<updated>"),
        F.lit("2026-03-0"), F.col("d9"), F.lit("T"), F.col("h"),
        F.lit(":15:30Z"),
        F.lit("</updated><id>i0</id></entry>"
              '<entry><title>b</title><link href="http://x/1"/>'
              "<updated>2026-04-05T10:00:00+05:30</updated>"
              "<id>i1</id></entry></feed>"),
    )
    xml = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom).alias("xml"),
    )
    parsed = webcorpus.parse_feed(xml)
    return webcorpus.feed_published_epoch(parsed).select(
        "doc_id", "format", "pos", "published", "published_epoch"
    )


@register(
    "graph_neighbor_jaccard",
    """
    WITH adj AS (
        SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '2001-01-01'
    ),
    sizes AS (SELECT s, count(*) AS deg FROM adj GROUP BY 1),
    inter AS (
        SELECT a.s AS s_a, b.s AS s_b, count(*) AS inter_size
        FROM adj a JOIN adj b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2
    ),
    sc AS (SELECT i.s_a, i.s_b, i.inter_size,
                  sa.deg AS deg_a, sb.deg AS deg_b,
                  round(i.inter_size
                        / (sa.deg + sb.deg - i.inter_size), 6) AS jac
           FROM inter i
           JOIN sizes sa ON sa.s = i.s_a
           JOIN sizes sb ON sb.s = i.s_b)
    SELECT s_a, s_b, inter_size, deg_a, deg_b, jac, rank FROM (
        SELECT *, CAST(row_number() OVER (ORDER BY jac DESC, s_a ASC,
                                          s_b ASC) AS INT) AS rank
        FROM sc) WHERE rank <= 50
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEIGHBOR-SET JACCARD — the classic link-prediction /
    node-similarity baseline (Liben-Nowell & Kleinberg), here over
    the recent customer-supplier bipartite graph: two suppliers are
    similar when their CUSTOMER sets overlap. Candidate pairs come
    from sharing at least one neighbor (wedge self-join on the
    customer key — never all-pairs), |A∩B| from one count, sizes from
    one degree aggregate; top-50 via bounded_rank (TakeOrdered + the
    windowless rank — never a partition-less window) by the ROUNDED
    score with the pair as tie-break (the hash-gate ranking
    contract). Same plan family as dd_ngram_jaccard with nodes for
    docs and neighbors for shingles — the dedup machinery IS the
    graph-similarity machinery."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    o = _t(spark, sf_dir, "orders")
    adj = (
        l.join(o, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c")
        )
        .distinct()
    )
    sizes = adj.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    a, b = adj.alias("a"), adj.alias("b")
    inter = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sc = (
        inter.join(
            sizes.select(F.col("s").alias("s_a"), F.col("deg").alias("deg_a")),
            "s_a",
        )
        .join(
            sizes.select(F.col("s").alias("s_b"), F.col("deg").alias("deg_b")),
            "s_b",
        )
        .select(
            "s_a", "s_b", "inter_size", "deg_a", "deg_b",
            F.round(
                F.col("inter_size")
                / (F.col("deg_a") + F.col("deg_b") - F.col("inter_size")),
                6,
            ).alias("jac"),
        )
    )
    from unstract_spark.operators.retrieval import bounded_rank

    return bounded_rank(
        sc,
        [F.col("jac").desc(), F.col("s_a").asc(), F.col("s_b").asc()],
        50,
    )


@register(
    "ta_code_detection",
    r"""
    WITH f AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS n_sym,
               len(regexp_extract_all(lower(text),
                   '\b(def|return|import|class|void|func|var|const)\b'))
                 AS kw_hits,
               len(regexp_extract_all(text, '\n    |\n\t')) AS n_indent
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_chars, n_sym, kw_hits, n_indent,
           CAST(n_sym * 1000000 // n_chars AS BIGINT) AS sym_ppm,
           (n_sym * 1000000 // n_chars >= 30000 AND kw_hits >= 2)
             OR n_indent >= 5 AS is_code
    FROM f
    """,
)
def ta_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection — the corpus-mixture filter every
    LLM-data pipeline runs before routing documents to code-specific
    cleaning (symbol-density + keyword + indentation heuristics, the
    same feature family as the fasttext code classifiers' handcrafted
    fallback): per doc, exact counts of code symbols, language
    keywords, and indented-line starts; symbol density in integer ppm
    (`div` — never float division in a gated boolean); is_code from
    pinned thresholds. One codegen projection pass, no shuffle at
    all — the cheapest possible corpus sweep shape."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chars = F.length("text")
    n_sym = F.size(
        F.expr(r"regexp_extract_all(text, '[{}()\\[\\];=<>]', 0)")
    ).cast("long")
    kw = F.size(
        F.expr(
            r"regexp_extract_all(lower(text),"
            r" '\\b(def|return|import|class|void|func|var|const)\\b', 0)"
        )
    ).cast("long")
    ind = F.size(
        F.expr(r"regexp_extract_all(text, '\n    |\n\t', 0)")
    ).cast("long")
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_sym.alias("n_sym"),
        kw.alias("kw_hits"),
        ind.alias("n_indent"),
    ).withColumn(
        "sym_ppm", F.expr("n_sym * 1000000 div n_chars").cast("long")
    ).withColumn(
        "is_code",
        ((F.col("sym_ppm") >= 30000) & (F.col("kw_hits") >= 2))
        | (F.col("n_indent") >= 5),
    )


@register(
    "web_meta_robots",
    """
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'noindex, nofollow'
             WHEN 1 THEN 'NOINDEX'
             WHEN 2 THEN 'index follow'
             ELSE NULL END AS robots_meta,
           doc_id % 5 IN (0, 1) AS noindex,
           doc_id % 5 = 0 AS nofollow,
           CASE WHEN doc_id % 3 = 0
                THEN 'http://ex.com/canon/' || CAST(doc_id AS VARCHAR)
                ELSE NULL END AS canonical
    FROM documents
    """,
)
def web_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots META + canonical extraction
    (webcorpus.meta_robots_directives) under an exact gate: per doc,
    deterministic HTML covers both attribute orders (name-first meta
    for the noindex,nofollow page; CONTENT-FIRST meta for the
    uppercase NOINDEX page; href-first link for the canonical), an
    index,follow page (flags false), and a page with no directives at
    all (NULL meta, false flags, NULL canonical). The oracle states
    the expected parse by construction, so token membership,
    case-insensitivity, attribute-order handling, and the NULL
    contract are all hash-certified. Crawl semantics: noindex bars
    the corpus, nofollow bars link expansion, canonical is the dedup
    key — the page-level half robots.txt cannot express."""
    from unstract_spark.operators import webcorpus

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit(
                '<html><head><meta name="robots"'
                ' content="noindex, nofollow"></head><p>x</p></html>'
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.lit(
                '<html><head><meta content="NOINDEX"'
                ' name="robots"></head><p>x</p></html>'
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.lit(
                '<html><head><meta name="robots"'
                ' content="index follow"></head><p>x</p></html>'
            ),
        )
        .otherwise(F.lit("<html><head></head><p>x</p></html>"))
    )
    html = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            html,
            F.lit('<link href="http://ex.com/canon/'),
            did,
            F.lit('" rel="canonical">'),
        ),
    ).otherwise(html)
    parsed = webcorpus.meta_robots_directives(
        d.select("doc_id", html.alias("html")), "html"
    )
    return parsed.select(
        "doc_id", "robots_meta", "noindex", "nofollow", "canonical"
    )


_MARKOV_STEP = """
SELECT t.to_type AS event_type,
       CAST(sum((v.p * t.cnt) // tt.tot) AS BIGINT) AS p
FROM t JOIN {v} v ON v.event_type = t.from_type
       JOIN tt ON tt.from_type = t.from_type
GROUP BY 1
"""


@register(
    "events_markov_steady",
    f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    t AS (SELECT event_type AS from_type, nxt AS to_type,
                 count(*) AS cnt
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tt AS (SELECT from_type, sum(cnt) AS tot FROM t GROUP BY 1),
    n AS (SELECT count(*) AS k FROM tt),
    v0 AS (SELECT from_type AS event_type,
                  CAST(1000000000000 // (SELECT k FROM n) AS BIGINT)
                    AS p
           FROM tt),
    v1 AS ({_MARKOV_STEP.format(v="v0")}),
    v2 AS ({_MARKOV_STEP.format(v="v1")}),
    v3 AS ({_MARKOV_STEP.format(v="v2")})
    SELECT event_type, p AS steady_fixed FROM v3
    """,
)
def events_markov_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain STATIONARY distribution of the event-type process
    — the long-run where-do-users-spend-time number on top of
    events_markov_transitions' matrix: three power-iteration rounds
    from the uniform vector, v'(to) = Σ_from v(from)·cnt(from,to) div
    tot(from), in the graph family's 1e12 fixed-point integer
    arithmetic (bit-exact across engines — floating power iteration
    would leak partial-sum order into the gate). Transitions come
    from one user-partitioned lead() window; the chain here is
    5-state so each round is a tiny broadcast join — the same code
    shape scales to item-level chains where the matrix is millions of
    rows and the shuffle is on from_type."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("nxt").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=True)
    tt = t.groupBy("from_type").agg(F.sum("cnt").alias("tot"))
    k = tt.count()
    v = tt.select(
        F.col("from_type").alias("event_type"),
        F.lit(1_000_000_000_000 // k).cast("long").alias("p"),
    )
    for _ in range(3):
        v = (
            t.join(
                v.withColumnRenamed("event_type", "from_type"),
                "from_type",
            )
            .join(tt, "from_type")
            .select(
                F.col("to_type").alias("event_type"),
                F.expr("(p * cnt) div tot").alias("c"),
            )
            .groupBy("event_type")
            .agg(F.sum("c").cast("long").alias("p"))
        )
    return v.select("event_type", F.col("p").alias("steady_fixed"))


@register(
    "mb_association_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
    ic AS (SELECT it, count(*) AS cnt FROM b GROUP BY it),
    tot AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
    p AS (SELECT a.it AS ante, c.it AS cons, count(*) AS pair_cnt
          FROM b a JOIN b c ON a.bk = c.bk AND a.it <> c.it
          GROUP BY 1, 2 HAVING count(*) >= 2),
    r AS (SELECT ante, cons, pair_cnt, ca.cnt AS cnt_a,
                 cb.cnt AS cnt_b, tot.n_baskets,
                 CAST(pair_cnt AS DOUBLE) / ca.cnt AS conf,
                 CASE WHEN pair_cnt = ca.cnt THEN NULL
                      ELSE (1.0 - CAST(cb.cnt AS DOUBLE)
                                    / tot.n_baskets)
                           / (1.0 - CAST(pair_cnt AS DOUBLE)
                                      / ca.cnt) END AS conviction
          FROM p JOIN ic ca ON ca.it = ante
                 JOIN ic cb ON cb.it = cons, tot)
    SELECT ante, cons, pair_cnt, cnt_a, cnt_b, conf, conviction
    FROM r
    ORDER BY round(coalesce(conviction, 1e18), 6) DESC, ante, cons
    LIMIT 100
    """,
)
def mb_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED association rules A→B with CONVICTION — the
    market-basket measure lift cannot express (lift is symmetric;
    conviction (1−supp(B))/(1−conf(A→B)) reads 'how much more often
    would the rule be wrong if A and B were independent', the Brin et
    al. 1997 metric): ordered pairs this time (antecedent ≠
    consequent both ways), exact support counts, single IEEE
    divisions, conviction NULL for exact rules (conf = 1 — infinite
    conviction, pinned to sort FIRST via the coalesce sentinel in
    both engines). Top-100 by rounded conviction with the pair
    tie-break. Same per-basket quadratic bound as the lift row."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
    ).distinct().localCheckpoint(eager=True)
    ic = b.groupBy("it").agg(F.count(F.lit(1)).alias("cnt"))
    n_baskets = b.select("bk").distinct().count()
    a, c = b.alias("a"), b.alias("c")
    p = (
        a.join(c, (F.col("a.bk") == F.col("c.bk"))
               & (F.col("a.it") != F.col("c.it")))
        .groupBy(F.col("a.it").alias("ante"), F.col("c.it").alias("cons"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    r = (
        p.join(ic.select(F.col("it").alias("ante"),
                         F.col("cnt").alias("cnt_a")), "ante")
        .join(ic.select(F.col("it").alias("cons"),
                        F.col("cnt").alias("cnt_b")), "cons")
        .withColumn("conf",
                    F.col("pair_cnt").cast("double") / F.col("cnt_a"))
        .withColumn(
            "conviction",
            F.when(F.col("pair_cnt") == F.col("cnt_a"), F.lit(None))
            .otherwise(
                (1.0 - F.col("cnt_b").cast("double") / F.lit(n_baskets))
                / (1.0 - F.col("pair_cnt").cast("double") / F.col("cnt_a"))
            ),
        )
    )
    return (
        r.select("ante", "cons", "pair_cnt", "cnt_a", "cnt_b",
                 "conf", "conviction")
        .orderBy(
            F.round(F.coalesce("conviction", F.lit(1e18)), 6).desc(),
            "ante", "cons",
        )
        .limit(100)
    )


@register(
    "sched_poll_plan",
    """
    WITH g AS (
        SELECT o_custkey AS key, count(*) AS n_posts,
               min(epoch_us(o_orderdate)) AS first_us,
               max(epoch_us(o_orderdate)) AS last_us
        FROM orders GROUP BY 1
    )
    SELECT key, n_posts, first_us, last_us,
           CASE WHEN n_posts > 1
                THEN (last_us - first_us) // (n_posts - 1) END
             AS avg_gap_us,
           last_us + CASE WHEN n_posts > 1
               THEN greatest(3600000000,
                    least(86400000000,
                          ((last_us - first_us) // (n_posts - 1)) // 2))
               ELSE 86400000000 END AS next_poll_us
    FROM g
    """,
)
def sched_poll_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive poll-cadence planning (streaming.scheduler.poll_plan):
    per source the observed posting history collapses to count +
    extremes in ONE map-side-combining aggregate (no window, no sort),
    and the next poll instant is Nyquist-of-cadence clamped to
    [1h, 24h] in exact integer microseconds — the feed-freshness
    planner whose rows become live Scheduler entries
    (schedules_from_plan). Orders stand in as the posting log: each
    customer is a 'feed' posting at its order dates."""
    from unstract_spark.streaming.scheduler import poll_plan

    o = _t(spark, sf_dir, "orders")
    if dict(o.dtypes)["o_orderdate"] == "timestamp_ntz":
        u = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        )
    else:
        u = F.unix_micros(F.col("o_orderdate"))
    posts = o.select("o_custkey", u.alias("us"))
    return poll_plan(posts, "o_custkey", "us")


@register(
    "ex_mixture_temp_bytes",
    """
    WITH g AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1
    ),
    s AS (SELECT source, n_docs, chars,
                 CAST(round(sqrt(chars) * 1000000) AS BIGINT) AS w
          FROM g),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM s)
    SELECT source, n_docs, chars,
           w * 1000000 // t.tot AS weight_ppm,
           100000 * w // t.tot AS n_take
    FROM s, t
    """,
)
def ex_mixture_temp_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing weighted by BYTES (chars), the
    token-budget twin of ex_mixture_temperature's doc-count
    allocation: p_i^alpha over per-source character mass (a source of
    few huge docs should not be under-sampled the way doc-count
    weighting would). alpha = 0.5 so the power is sqrt — IEEE-exact
    and bit-identical across engines — then quantized to integer
    micro-weights so the shares and the per-source take (here a
    100k-doc budget) stay in the exact domain: weight_ppm = w*1e6 div
    tot, no double summation anywhere. One map-side-combining
    aggregate over the corpus + a broadcast of the sources-sized
    weight table: the 100 TB shape."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    s = g.withColumn(
        "w",
        F.round(F.sqrt(F.col("chars")) * 1_000_000).cast("long"),
    )
    tot = s.agg(F.sum("w").cast("long").alias("tot"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        F.expr("w * 1000000 div tot").alias("weight_ppm"),
        F.expr("100000 * w div tot").alias("n_take"),
    )


@register(
    "agg_gini_by_source",
    """
    WITH v AS (SELECT source, n_chars AS x FROM documents),
    g AS (SELECT source, x, count(*) AS cnt FROM v GROUP BY 1, 2),
    r AS (SELECT source, x, cnt,
                 2 * (sum(cnt) OVER (PARTITION BY source ORDER BY x
                      ROWS UNBOUNDED PRECEDING) - cnt) + cnt + 1 AS r2
          FROM g),
    s AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(x * cnt) AS BIGINT) AS s0,
                 CAST(sum(x * cnt * r2) AS BIGINT) AS s1x2
          FROM r GROUP BY 1)
    SELECT source, n, s0 AS sum_chars,
           (s1x2 - (n + 1) * s0) * 1000000 // (n * s0) AS gini_ppm
    FROM s
    """,
)
def agg_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document lengths — the
    inequality lens on a corpus (is one source a few huge documents
    or many uniform ones?). Gini = (2*S1 - (n+1)*S0) / (n*S0) with
    S1 = sum(rank_i * x_i); within a tie group the ordinal-rank sum
    equals cnt * avg_rank = cnt * r2/2, so S1 folds to
    sum(x * cnt * r2) / 2 over DISTINCT (source, x) rows — exact
    integers end to end (ppm output; bound: |s1x2| < 2^63 needs
    n * max_chars * 2n < 9e18, fine to ~10^9 char-rows per source).
    Ranks come from ranks.grouped_doubled_ranks — the P-way
    distributed spelling, immune to the few-sources window trap (a
    rank() OVER (PARTITION BY source) sorts the corpus on
    |sources| tasks). The oracle unrolls the same doubled-rank
    arithmetic with a window."""
    from unstract_spark.operators.ranks import grouped_doubled_ranks

    d = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("x")
    )
    cnts = d.groupBy("source", "x").agg(F.count(F.lit(1)).alias("cnt"))
    r2 = grouped_doubled_ranks(d, "source", "x", out="r2")
    r = cnts.join(r2, ["source", "x"])
    s = r.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("cnt")).cast("long").alias("s0"),
        F.sum(F.col("x") * F.col("cnt") * F.col("r2"))
        .cast("long")
        .alias("s1x2"),
    )
    return s.select(
        "source",
        "n",
        F.col("s0").alias("sum_chars"),
        F.expr("(s1x2 - (n + 1) * s0) * 1000000 div (n * s0)").alias(
            "gini_ppm"
        ),
    )


@register(
    "agg_ols_by_source",
    """
    WITH v AS (
        SELECT source,
               CAST(n_chars AS BIGINT) AS x,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS y
        FROM documents
    ),
    s AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM v GROUP BY 1)
    SELECT source, n, sx AS sum_chars, sy AS sum_tokens,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS intercept,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
    FROM s
    """,
)
def agg_ols_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ordinary-least-squares fit of token count against
    character count — the tokens-per-char regression a mixture
    planner uses to convert byte budgets into token budgets per
    source without tokenizing the whole corpus. y = whitespace token
    count spelled as space-count + 1 (pure length arithmetic, exact
    and engine-identical — a regex tokenizer would not hash-gate).

    Exactness discipline: the five sufficient statistics (sx, sy,
    sxx, sxy, syy) are BIGINT sums of integer products — bit-identical
    across engines regardless of aggregation order — and the
    slope/intercept/r2 derivations are single double expressions over
    those exact integers with the SAME operation tree on both sides,
    so the IEEE results match bit-for-bit (the agg_spearman
    discipline, floats edition). Overflow bound: |sy*sxx| <= 2^63
    needs sum(y) * sum(x^2) < 9.2e18 per source — holds to ~1e9
    char-rows/source; a 100 TB corpus would switch the products to
    decimal(38,0)/hugeint, same plan. Zero-variance groups yield NULL
    (guarded in both spellings; double /0 semantics differ across
    engines).

    Plan: ONE map-side-combining hash aggregate over a projection —
    no join, no window, shuffle is |sources| rows. The 100 TB shape."""
    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        ).cast("long").alias("y"),
    )
    s = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return s.select(
        "source",
        "n",
        F.col("sx").alias("sum_chars"),
        F.col("sy").alias("sum_tokens"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) END"
        ).alias("intercept"),
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0"
            " THEN NULL"
            " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE)) END"
        ).alias("r2"),
    )


@register(
    "agg_hhi_by_lang",
    """
    WITH c AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    s AS (SELECT lang,
                 CAST(sum(cnt) AS BIGINT) AS total,
                 CAST(sum(cnt * cnt) AS BIGINT) AS sq,
                 CAST(count(*) AS BIGINT) AS n_sources
          FROM c GROUP BY 1)
    SELECT lang, n_sources, total,
           sq * 1000000 // (total * total) AS hhi_ppm
    FROM s
    """,
)
def agg_hhi_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of SOURCES within each
    language — the mixture-health metric next to agg_gini_by_source's
    length inequality: HHI = sum(share_i^2) over a language's
    sources; 1e6/n_sources ppm means perfectly balanced, 1e6 means a
    monoculture (one source owns the language — a contamination and
    bias risk a corpus report must surface).

    Exact integers end to end: shares never materialize — sum(cnt^2)
    and total^2 stay in BIGINT and one integer division emits ppm
    (overflow at total > 3e9 docs per language; decimal(38) beyond).
    Plan: two map-side-combining hash aggregates, (lang, source) then
    lang — shuffle rows = distinct pairs, no join, no window. The
    100 TB shape."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    s = c.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return s.select(
        "lang",
        "n_sources",
        "total",
        F.expr("sq * 1000000 div (total * total)").alias("hhi_ppm"),
    )


@register(
    "events_autocorr_daily",
    """
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    p AS (
        SELECT a.c AS x, b.c AS y
        FROM d a JOIN d b ON b.day = a.day + INTERVAL 1 DAY
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM p)
    SELECT n AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)) END
               AS lag1_autocorr
    FROM s
    """,
)
def events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the DAILY event volume — the
    seasonality probe an ingestion monitor runs before alerting on a
    volume dip (a strongly autocorrelated series forecasts itself;
    near zero means day-over-day volume is noise and thresholds must
    widen). Pearson r over consecutive-day count pairs.

    Exactness: daily counts are integers, the six sufficient
    statistics are exact BIGINT sums, and the final r is one double
    expression over them (sqrt is IEEE-exact, the mixture-row
    precedent), so both engines emit the same bits. The pairing join
    is day -> day+1 on the AGGREGATED frame: |days| rows, broadcast
    territory; the only corpus-sized work is the first hash
    aggregate. Scale note: self-join on a ~thousands-row frame, never
    on events."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(
        b, F.col("b.day") == F.date_add(F.col("a.day"), 1)
    ).select(F.col("a.c").alias("x"), F.col("b.c").alias("y"))
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0"
            " THEN NULL"
            " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE)) END"
        ).alias("lag1_autocorr"),
    )


@register(
    "agg_chisq_drift_by_source",
    """
    WITH b AS (
        SELECT source, least(n_chars // 64, 15) AS bucket,
               CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS tot
          FROM b GROUP BY 1),
    m AS (SELECT source, CAST(sum(o) AS BIGINT) AS s FROM b GROUP BY 1),
    g AS (SELECT CAST(sum(o) AS BIGINT) AS grand FROM b),
    terms AS (
        SELECT b.source,
               CAST(round(
                   CAST(b.o * (g.grand - m.s) - (t.tot - b.o) * m.s
                        AS DOUBLE)
                   * CAST(b.o * (g.grand - m.s) - (t.tot - b.o) * m.s
                          AS DOUBLE)
                   / (CAST(m.s AS DOUBLE)
                      * CAST(g.grand - m.s AS DOUBLE)
                      * CAST(t.tot AS DOUBLE))
                   * 1000000
               ) AS BIGINT) AS term_micro
        FROM b JOIN t USING (bucket) JOIN m USING (source), g
    )
    SELECT source, CAST(sum(term_micro) AS BIGINT) AS chisq_micro
    FROM terms GROUP BY 1
    """,
)
def agg_chisq_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DISTRIBUTION-DRIFT statistic: the two-sample
    chi-square of a source's document-length profile against the rest
    of the corpus (16 fixed 64-char buckets). The ingestion-monitor
    primitive: a source whose length histogram walks away from the
    corpus (a scraper change, a new boilerplate injector, an encoding
    regression) spikes here before any content-level check fires.

    chi2 = sum_b (o_b*R - r_b*S)^2 / (S * R * (o_b + r_b)) with
    S = source total, R = rest total — the folded 2xK contingency
    identity (the per-cell (obs-exp)^2/exp pair for a bucket sums to
    exactly this term; N cancels).

    Float discipline (the quantize-then-sum rule): every per-bucket
    term is ONE fixed double expression over exact BIGINT inputs
    (bit-identical across engines), immediately quantized to integer
    micros; only INTEGERS are ever summed, so aggregation order can't
    leak into low bits the way a double sum's partial-merge order
    would. Overflow bound: |o*R - r*S| < 2^63 holds to ~3e9 docs per
    (bucket, source); beyond that the products move to decimal(38,0).

    Plan: one hash aggregate over a projection builds the (source,
    bucket) histogram; everything after runs on |sources| x 16 rows
    (broadcast joins territory). The histogram is localCheckpoint'ed —
    four consumers (bucket totals, source totals, grand total, terms)
    hang off it, and AQE's exchange reuse only caught two of the three
    repeats when measured, so the corpus scan is pinned to ONCE
    structurally (320-row materialization: free)."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "source",
        F.least(F.expr("n_chars div 64"), F.lit(15)).alias("bucket"),
    ).groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=True)
    t = b.groupBy("bucket").agg(F.sum("o").cast("long").alias("tot"))
    m = b.groupBy("source").agg(F.sum("o").cast("long").alias("s"))
    g = b.agg(F.sum("o").cast("long").alias("grand"))
    terms = (
        b.join(F.broadcast(t), "bucket")
        .join(F.broadcast(m), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            F.expr(
                "CAST(round("
                " CAST(o * (grand - s) - (tot - o) * s AS DOUBLE)"
                " * CAST(o * (grand - s) - (tot - o) * s AS DOUBLE)"
                " / (CAST(s AS DOUBLE) * CAST(grand - s AS DOUBLE)"
                "    * CAST(tot AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum("term_micro").cast("long").alias("chisq_micro")
    )


@register(
    "ex_keep_threshold",
    """
    WITH v AS (
        SELECT CAST(len(regexp_extract_all(lower(text),
                   '\\b(the|a|and|of|to)\\b')) AS BIGINT) * 1000000
               // CAST(length(text) - length(replace(text, ' ', '')) + 1
                       AS BIGINT) AS score
        FROM documents
    ),
    c AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
    w AS (SELECT score, cnt,
                 CAST(sum(cnt) OVER (ORDER BY score DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM c),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
    SELECT CAST(max(w.score) AS BIGINT) AS threshold_micro,
           CAST(min(w.cum) AS BIGINT) AS n_keep,
           CAST(min(t.total) AS BIGINT) AS n_total
    FROM w, t
    WHERE w.cum >= t.total // 4
    """,
)
def ex_keep_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted-curation THRESHOLD CALIBRATION: given a per-document
    integer quality score (stopword density in micros — exact integer
    arithmetic so the row hash-gates), find the tightest score cutoff
    that keeps at least a fixed budget (25%% of the corpus):
    t* = max{t : |score >= t| >= N/4}, plus the kept count at t*. This
    is the knob every classifier-filter pipeline turns — "keep the top
    X%%" is a threshold on the score distribution, and computing it
    must not sort the corpus.

    Plan: per-doc scores fold to DISTINCT (score, cnt) rows (<= 1e6+1
    rows however large the corpus); the descending cumulative runs
    through ranks.range_prefix over the ascending NEGATED score — the
    P-way distributed spelling with no partition-less window — and the
    final argmax is a scalar aggregate over the <= budget-qualifying
    slice. Exactness: counts and the micro score are integers; min/max
    aggregates introduce no floats anywhere."""
    from unstract_spark.operators.ranks import range_prefix

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        F.expr(
            "CAST(regexp_count(lower(text),"
            " '\\\\b(the|a|and|of|to)\\\\b') AS BIGINT) * 1000000"
            " div CAST(length(text) - length(replace(text, ' ', '')) + 1"
            " AS BIGINT)"
        ).alias("score")
    )
    # two consumers (the prefix chain and the total) hang off the
    # distinct-score histogram: materialize it so the corpus scan
    # provably runs once (<= 1e6+1 rows, free)
    c = v.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    neg = c.select((-F.col("score")).alias("neg"), "cnt")
    w = range_prefix(neg, ["neg"], sum_cols=("cnt",), rank_col=None)
    tot = c.agg(F.sum("cnt").cast("long").alias("total"))
    q = w.crossJoin(F.broadcast(tot)).filter(
        F.col("cum_cnt") >= F.expr("total div 4")
    )
    return q.agg(
        (-F.min("neg")).cast("long").alias("threshold_micro"),
        F.min("cum_cnt").cast("long").alias("n_keep"),
        F.min("total").cast("long").alias("n_total"),
    )


@register(
    "agg_source_health_report",
    """
    WITH h AS (
        SELECT source, lang,
               CAST(n_chars AS BIGINT) AS x,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2, 3, 4
    ),
    s AS (SELECT source,
                 CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(x * cnt) AS BIGINT) AS sx,
                 CAST(sum(y * cnt) AS BIGINT) AS sy,
                 CAST(sum(x * x * cnt) AS BIGINT) AS sxx,
                 CAST(sum(x * y * cnt) AS BIGINT) AS sxy
          FROM h GROUP BY 1),
    lg AS (SELECT source, lang, CAST(sum(cnt) AS BIGINT) AS c
           FROM h GROUP BY 1, 2),
    hhi AS (SELECT source,
                   CAST(sum(c * c) AS BIGINT) * 1000000
                       // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))
                       AS lang_hhi_ppm
            FROM lg GROUP BY 1),
    hb AS (SELECT source, least(x // 64, 15) AS bucket,
                  CAST(sum(cnt) AS BIGINT) AS o
           FROM h GROUP BY 1, 2),
    bt AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS tot FROM hb GROUP BY 1),
    st AS (SELECT source, CAST(sum(o) AS BIGINT) AS stot FROM hb GROUP BY 1),
    g AS (SELECT CAST(sum(o) AS BIGINT) AS grand FROM hb),
    terms AS (
        SELECT hb.source,
               CAST(round(
                   CAST(hb.o * (g.grand - st.stot)
                        - (bt.tot - hb.o) * st.stot AS DOUBLE)
                   * CAST(hb.o * (g.grand - st.stot)
                          - (bt.tot - hb.o) * st.stot AS DOUBLE)
                   / (CAST(st.stot AS DOUBLE)
                      * CAST(g.grand - st.stot AS DOUBLE)
                      * CAST(bt.tot AS DOUBLE))
                   * 1000000) AS BIGINT) AS term_micro
        FROM hb JOIN bt USING (bucket) JOIN st USING (source), g
    ),
    chi AS (SELECT source, CAST(sum(term_micro) AS BIGINT) AS chisq_micro
            FROM terms GROUP BY 1)
    SELECT s.source, s.n AS n_docs, s.sx AS sum_chars, s.sy AS sum_tokens,
           CASE WHEN s.n * s.sxx - s.sx * s.sx = 0 THEN NULL
                ELSE CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                     / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE) END
               AS tokens_per_char_slope,
           hhi.lang_hhi_ppm, chi.chisq_micro
    FROM s JOIN hhi USING (source) JOIN chi USING (source)
    """,
)
def agg_source_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-health DASHBOARD query — one row per source with the
    monitoring metrics an ingestion operator reads every morning:
    volume (docs/chars/tokens), the tokens-per-char OLS slope (a
    tokenizer-budget planner input), language concentration (HHI of
    langs WITHIN the source — a source suddenly monolingual signals a
    scraper fault), and the length-profile drift chi-square vs the
    rest of the corpus.

    The point of the fused spelling (vs running the four standalone
    rows): ONE corpus scan. Everything derives from the
    (source, lang, chars, tokens) histogram `h` — a single map-side-
    combining aggregate whose cardinality is distinct tuples, not
    docs (bounded by the value grid however large the corpus grows;
    document-length and token-count supports are fixed ranges) —
    localCheckpoint'ed so its five consumers replay a tiny frame, not
    the scan. Every downstream aggregate/join runs on
    |sources|-scale rows in broadcast territory.

    Exactness: the agg_ols/agg_hhi/agg_chisq disciplines unchanged —
    BIGINT sufficient statistics, integer ppm divisions, per-bucket
    double terms quantized to micros before the only sum."""
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        ).cast("long").alias("y"),
    ).groupBy("source", "lang", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    s = h.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("cnt")).cast("long").alias("sx"),
        F.sum(F.col("y") * F.col("cnt")).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x") * F.col("cnt")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y") * F.col("cnt")).cast("long").alias("sxy"),
    )
    lg = h.groupBy("source", "lang").agg(
        F.sum("cnt").cast("long").alias("c")
    )
    hhi = lg.groupBy("source").agg(
        F.expr(
            "CAST(sum(c * c) AS BIGINT) * 1000000"
            " div (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))"
        ).alias("lang_hhi_ppm")
    )
    hb = h.groupBy(
        "source",
        F.least(F.expr("x div 64"), F.lit(15)).alias("bucket"),
    ).agg(F.sum("cnt").cast("long").alias("o"))
    bt = hb.groupBy("bucket").agg(F.sum("o").cast("long").alias("tot"))
    st = hb.groupBy("source").agg(F.sum("o").cast("long").alias("stot"))
    g = hb.agg(F.sum("o").cast("long").alias("grand"))
    terms = (
        hb.join(F.broadcast(bt), "bucket")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            F.expr(
                "CAST(round("
                " CAST(o * (grand - stot) - (tot - o) * stot AS DOUBLE)"
                " * CAST(o * (grand - stot) - (tot - o) * stot AS DOUBLE)"
                " / (CAST(stot AS DOUBLE) * CAST(grand - stot AS DOUBLE)"
                "    * CAST(tot AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    chi = terms.groupBy("source").agg(
        F.sum("term_micro").cast("long").alias("chisq_micro")
    )
    return (
        s.join(hhi, "source")
        .join(chi, "source")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("sx").alias("sum_chars"),
            F.col("sy").alias("sum_tokens"),
            F.expr(
                "CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
                " ELSE CAST(n * sxy - sx * sy AS DOUBLE)"
                " / CAST(n * sxx - sx * sx AS DOUBLE) END"
            ).alias("tokens_per_char_slope"),
            "lang_hhi_ppm",
            "chisq_micro",
        )
    )


ENTRY_QUERY = "q1_pricing_summary"
