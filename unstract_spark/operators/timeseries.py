"""Multi-resolution time-series rollups (continuous-aggregate shape).

The telemetry side of a training pipeline wants the same aggregate at
several resolutions (minute dashboards, hourly reports, daily
retention). The naive spelling scans the raw table once PER
resolution; at 100 TB of events that is the whole cost. The
continuous-aggregate trick (public design: materialized rollup
cascades in time-series stores) computes the FINEST level from raw,
then each coarser level from the level below — the hourly rollup
reads minute rows (~1/60th of raw), daily reads hourly (~1/24th of
that). Raw is scanned exactly once.

Exactness: per-bucket sums stay in the DECIMAL domain until the final
presentation cast, and decimal addition is exact and associative — so
sum-of-minute-sums equals the direct sum over raw bit-for-bit, which
is precisely what the oracle gate proves (the DuckDB twin computes
every level directly from raw).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LEVELS = ("minute", "hour", "day")


def rollup_cascade(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    levels: tuple[str, ...] = LEVELS,
) -> DataFrame:
    """(level, bucket_start, n_events, total_value) for each resolution,
    each level aggregated FROM the previous one (raw scanned once).

    `levels` must be ordered fine -> coarse and be valid date_trunc
    fields. Presentation columns round/cast only at the end; the
    cascade itself carries exact decimals and long counts.
    """
    if not levels:
        raise ValueError("levels must be non-empty")
    # one definition of the cascade: the batch path IS the incremental
    # path applied to this frame's own finest-level partials (decimal
    # sums are exact, so partial-then-fold equals direct aggregation)
    return cascade_from_partials(
        minute_partials(events, ts_col=ts_col, value_col=value_col,
                        level=levels[0]),
        levels,
    )


def cascade_from_partials(
    partials: DataFrame, levels: tuple[str, ...] = LEVELS
) -> DataFrame:
    """Same (level, bucket_start, n_events, total_value) output as
    rollup_cascade, but starting from ADDITIVE finest-level partials
    (bucket_start, _n, _sum-as-decimal) — the incremental-maintenance
    entry point: per-batch partials fold by simple addition (decimal
    sums are exact and associative), so a streaming store of per-fire
    partials re-aggregates to exactly the batch answer."""
    fine = (
        partials.groupBy("bucket_start")
        .agg(F.sum("_n").alias("_n"), F.sum("_sum").alias("_sum"))
        .localCheckpoint(eager=True)
    )
    tiers = [fine]
    for lvl in levels[1:]:
        prev = tiers[-1]
        tiers.append(
            prev.groupBy(
                F.date_trunc(lvl, F.col("bucket_start")).alias("bucket_start")
            )
            .agg(F.sum("_n").alias("_n"), F.sum("_sum").alias("_sum"))
            .localCheckpoint(eager=True)
        )
    out = None
    for lvl, tier in zip(levels, tiers):
        part = tier.select(
            F.lit(lvl).alias("level"),
            "bucket_start",
            F.col("_n").cast("long").alias("n_events"),
            F.round(F.col("_sum"), 2).cast("double").alias("total_value"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def minute_partials(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    level: str = LEVELS[0],
) -> DataFrame:
    """One batch's additive finest-level partial aggregate — the unit
    the streaming rollup store accumulates."""
    return events.groupBy(
        F.date_trunc(level, F.col(ts_col)).alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_sum"),
    )


def ohlc_bars(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    level: str = "hour",
) -> DataFrame:
    """OHLC candle rollup (the hypertable downsampling staple): per
    (key, time bucket) the opening/closing value by event time plus
    high/low/count — (key, bucket_start, open, high, low, close,
    n_events).

    open/close come from a bucket-partitioned WINDOW (first/last over
    (ts, id) — the id tie-break keeps same-timestamp ticks
    deterministic, and WindowExec sorting its own partition is the
    sanctioned idiom); they then ride the closing hash aggregate as
    GROUPING KEYS (constant per partition), so every aggregate buffer
    stays fixed-width — a min_by/max_by spelling would drag a struct
    buffer onto SortAggregate. Values pass through raw (no
    arithmetic), so the output is engine-exact.
    """
    b = events.select(
        F.col(key_col),
        F.date_trunc(level, F.col(ts_col)).alias("bucket_start"),
        F.col(ts_col),
        F.col(id_col),
        F.col(value_col),
    )
    w = (
        Window.partitionBy(key_col, "bucket_start")
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    x = b.select(
        key_col,
        "bucket_start",
        value_col,
        F.first(value_col).over(w).alias("open"),
        F.last(value_col).over(w).alias("close"),
    )
    return (
        x.groupBy(key_col, "bucket_start", "open", "close")
        .agg(
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key_col,
            "bucket_start",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def ohlc_partials(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    level: str = "hour",
) -> DataFrame:
    """MERGEABLE candle partials: one row per (key, bucket) carrying
    (open_ts, open_id, open_v, close_ts, close_id, close_v, high,
    low, n_events) — the incremental-maintenance entry point for
    ohlc_bars, the way minute_partials feeds the rollup cascade.
    Partials fold by comparison (open from the min (ts, id) side,
    close from the max, high/low/count by max/min/sum), so per-fire
    partials from disjoint row sets merge to exactly the batch
    candle. Same window-then-group shape as ohlc_bars (no string or
    struct aggregate buffers)."""
    b = events.select(
        F.col(key_col).alias("k"),
        F.date_trunc(level, F.col(ts_col)).alias("bucket_start"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(value_col).alias("_v"),
    )
    w = (
        Window.partitionBy("k", "bucket_start")
        .orderBy("_ts", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    x = b.select(
        "k",
        "bucket_start",
        "_v",
        F.first("_ts").over(w).alias("open_ts"),
        F.first("_id").over(w).alias("open_id"),
        F.first("_v").over(w).alias("open_v"),
        F.last("_ts").over(w).alias("close_ts"),
        F.last("_id").over(w).alias("close_id"),
        F.last("_v").over(w).alias("close_v"),
    )
    return x.groupBy(
        "k",
        "bucket_start",
        "open_ts",
        "open_id",
        "open_v",
        "close_ts",
        "close_id",
        "close_v",
    ).agg(
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.count(F.lit(1)).alias("n_events"),
    )


def ohlc_merge_partials(partials: DataFrame) -> DataFrame:
    """Fold candle partial rows (possibly several per (k, bucket),
    from different fires/shards) back into ONE partial per (k,
    bucket): open fields from the partial with the smallest
    (open_ts, open_id), close fields from the largest
    (close_ts, close_id), high/low/count by max/min/sum. Closed under
    merging — the output is again a valid partials frame — and
    idempotent over duplicate partial rows ONLY when duplicates are
    excluded upstream (the streaming store excludes the current
    epoch's partition on replay, the sibling pipelines' convention:
    n_events sums, so a genuinely duplicated partial double-counts)."""
    w1 = (
        Window.partitionBy("k", "bucket_start")
        .orderBy("open_ts", "open_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w2 = (
        Window.partitionBy("k", "bucket_start")
        .orderBy("close_ts", "close_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    x = partials.select(
        "k",
        "bucket_start",
        "high",
        "low",
        "n_events",
        F.first("open_ts").over(w1).alias("open_ts"),
        F.first("open_id").over(w1).alias("open_id"),
        F.first("open_v").over(w1).alias("open_v"),
        F.last("close_ts").over(w2).alias("close_ts"),
        F.last("close_id").over(w2).alias("close_id"),
        F.last("close_v").over(w2).alias("close_v"),
    )
    return x.groupBy(
        "k",
        "bucket_start",
        "open_ts",
        "open_id",
        "open_v",
        "close_ts",
        "close_id",
        "close_v",
    ).agg(
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.sum("n_events").alias("n_events"),
    )


def ohlc_from_partials(partials: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Render merged partials as the ohlc_bars output schema:
    (key, bucket_start, open, high, low, close, n_events)."""
    m = ohlc_merge_partials(partials)
    return m.select(
        F.col("k").alias(key_col),
        "bucket_start",
        F.col("open_v").alias("open"),
        "high",
        "low",
        F.col("close_v").alias("close"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def ohlc_cascade(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    levels: tuple[str, ...] = ("hour", "day"),
) -> DataFrame:
    """Multi-resolution candles, each level folded FROM the level
    below (raw scanned once — the rollup_cascade shape for OHLC):
    hourly partials from raw, then candles-of-candles by re-truncating
    bucket_start and re-merging (ohlc_merge_partials is CLOSED under
    coarser buckets: open of the day is the open of its earliest
    hour's partial by (ts, id) — comparison-fold associativity, which
    is exactly what the oracle gate certifies against direct daily
    candles). Output: (level, key, bucket_start, open, high, low,
    close, n_events).

    `levels` ordered fine -> coarse, valid date_trunc fields.
    """
    if not levels:
        raise ValueError("levels must be non-empty")
    tiers = [
        ohlc_partials(
            events,
            key_col=key_col,
            ts_col=ts_col,
            id_col=id_col,
            value_col=value_col,
            level=levels[0],
        ).localCheckpoint(eager=True)
    ]
    for lvl in levels[1:]:
        prev = tiers[-1].withColumn(
            "bucket_start", F.date_trunc(lvl, F.col("bucket_start"))
        )
        tiers.append(ohlc_merge_partials(prev).localCheckpoint(eager=True))
    out = None
    for lvl, tier in zip(levels, tiers):
        part = ohlc_from_partials(tier, key_col=key_col).withColumn(
            "level", F.lit(lvl)
        ).select(
            "level", key_col, "bucket_start", "open", "high", "low",
            "close", "n_events",
        )
        out = part if out is None else out.unionByName(part)
    return out


def _cap_user_events(
    rows: DataFrame, user_col: str, max_events: int
) -> DataFrame:
    """Per-user buffer bound for the CEP family: keep each user's
    LAST `max_events` events (by ts, id) and tag every surviving row
    with `_drop` — how many older events were cut. The cap runs
    BEFORE collect_list, in a user-partitioned window whose sort
    spills to disk, so a 100x-scale hot user bounds the one structure
    that cannot spill (the aggregation buffer) instead of OOMing it.
    Truncation is the same windowed relaxation the streaming twin's
    max_tail offers: exact for every user under the cap; a capped
    user's matches are those of its most recent `max_events` events,
    and the flag makes the relaxation visible instead of silent."""
    w_rn = Window.partitionBy(user_col).orderBy(
        F.col("_ts").desc(), F.col("_id").desc()
    )
    w_all = Window.partitionBy(user_col)
    return (
        rows.withColumn("_rn", F.row_number().over(w_rn))
        .withColumn(
            "_drop",
            F.greatest(
                F.count(F.lit(1)).over(w_all) - F.lit(max_events),
                F.lit(0),
            ).cast("long"),
        )
        .filter(F.col("_rn") <= max_events)
        .drop("_rn")
    )


def event_pattern_match(
    events: DataFrame,
    pattern: str,
    code_map: dict[str, str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    max_events: int | None = None,
) -> DataFrame:
    """CEP-style SEQUENCE PATTERN matching (the MATCH_RECOGNIZE
    use case Spark lacks): encode each user's time-ordered event
    types as a one-char-per-event string and run a regex over it —
    "view then click then purchase with no error between" is
    'v[^e]*?c[^e]*?p'. Returns per user: (user, seq_len, n_matches —
    non-overlapping count, first_match — the matched code substring,
    '' when none).

    Write patterns with LAZY quantifiers ([^e]*? not [^e]*): both
    engines (Java regex / RE2) implement leftmost, non-overlapping
    scanning with Perl quantifier semantics, and lazy forms keep the
    matched SUBSTRING — which the hash gate compares — off any
    backtracking edge cases.

    Scale shape: one map-side projection encodes the type, ONE
    groupBy(user) builds the ordered sequence via
    array_sort(collect_list(struct(ts, id, code))) — collect_list is
    typed-imperative, so the aggregate stays ObjectHashAggregate
    (never SortAggregate), and the sort is per-user-array, not a
    shuffle. Per-user sequence length is the one contract: a user's
    whole history must fit in one aggregation buffer (the same
    per-entity bound every sessionizer here has); cap with a
    time-window filter upstream when histories are unbounded, or set
    `max_events` — the OVERFLOW GUARD: each user keeps only their
    most recent `max_events` events and the output gains an
    `n_dropped` column (0 for every user under the cap), so a
    100x-scale hot user truncates FLAGGED instead of OOMing the
    buffer (_cap_user_events). Default None leaves plan and schema
    byte-identical to the uncapped operator. The SQL twin is
    string_agg(code, '' ORDER BY ts, id) + the same regex."""
    code = None
    for etype, ch in code_map.items():
        branch = F.when(F.col(type_col) == etype, F.lit(ch))
        code = branch if code is None else code.when(
            F.col(type_col) == etype, F.lit(ch)
        )
    code = (code.otherwise(F.lit("x")) if code is not None
            else F.lit("x")).alias("_c")
    rows = events.select(
        F.col(user_col), F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"), code,
    )
    extra_aggs = []
    if max_events is not None:
        rows = _cap_user_events(rows, user_col, max_events)
        extra_aggs = [F.max("_drop").alias("n_dropped")]
    arr = rows.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_ts", "_id", "_c"))
        ).alias("_a"),
        *extra_aggs,
    )
    seq = F.array_join(
        F.transform(F.col("_a"), lambda x: x["_c"]), ""
    )
    # the regex is a literal, never spliced into SQL text: the SQL
    # string parser drops unknown escapes (`v\d` would scan as `vd`)
    matches = F.regexp_extract_all(seq, F.lit(pattern), F.lit(0))
    return arr.select(
        user_col,
        F.length(seq).alias("seq_len"),
        F.size(matches).alias("n_matches"),
        F.regexp_extract(seq, pattern, 0).alias("first_match"),
        # MATCH_RECOGNIZE-style measure: total events inside matches
        # (sum of matched-substring lengths — each code char is one
        # event), 0 when none
        F.coalesce(
            F.aggregate(
                F.transform(matches, F.length),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).alias("total_match_len"),
        *([F.col("n_dropped")] if max_events is not None else []),
    )


def event_pattern_rows(
    events: DataFrame,
    pattern: str,
    code_map: dict[str, str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    max_events: int | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE "ONE ROW PER MATCH" over the coded event
    sequence (the per-match companion to event_pattern_match's
    per-user rollup): every non-overlapping occurrence of `pattern`
    becomes a row with its measures — FIRST(ts), LAST(ts), duration,
    event count, and the cent-quantized SUM(value) over exactly the
    events inside the match.

    How matches map back to events without engine support for match
    positions: for a non-overlapping leftmost scan,
    seq = gap0 + m1 + gap1 + ... + mN + gapN, where the m_i are
    regexp_extract_all(seq, p) and the gap_i are split(seq, p, -1)
    (limit -1 keeps empty trailing gaps — both engines agree, tested).
    So start(m_i) = len(gap_0..gap_{i-1}) + len(m_1..m_{i-1}) + 1 —
    two prefix sums over a window partitioned BY USER ordered by match
    index (WindowExec sorts its own partition; no global sort). The
    match's events are then slice(_a, start, len) of the same sorted
    struct array the sequence was coded from.

    `pattern` must not match the empty string (split and extract_all
    would disagree on scan positions) and must be future-blind — no
    anchors, backreferences, or lookaround — so the decomposition
    above is exactly the engine's scan.

    Measures stay hash-gatable: value sums are cent-quantized BIGINTs
    (round(value*100) — the events_cusum convention), duration is
    exact microseconds, timestamps pass through raw.

    Scale shape: one ObjectHashAggregate groupBy(user) (collect_list
    of structs), a posexplode bounded by matches-per-user, one
    partitioned window. Per-user history must fit one aggregation
    buffer — the standing sessionizer contract; `max_events` is the
    overflow guard (keep each user's most recent N events, matches
    flagged with `n_dropped` — see event_pattern_match)."""
    pos = _pattern_match_positions(
        events, pattern, code_map, user_col, ts_col, id_col, type_col,
        value_col, max_events,
    )
    ev = F.slice(F.col("_a"), F.col("start_pos"), F.col("_mlen"))
    first_ts = F.element_at(ev, 1)["_ts"]
    last_ts = F.element_at(ev, -1)["_ts"]
    return pos.select(
        user_col,
        *(["n_dropped"] if max_events is not None else []),
        F.col("match_idx").cast("int"),
        "start_pos",
        F.col("_mlen").cast("int").alias("n_events"),
        F.col("_m").alias("codes"),
        first_ts.alias("start_ts"),
        last_ts.alias("end_ts"),
        # timestampdiff works for both TIMESTAMP and TIMESTAMP_NTZ
        # event times (the _t dual-type caveat); same-type args, so
        # no zone shift enters the difference
        F.expr(
            "timestampdiff(MICROSECOND, "
            "element_at(slice(_a, start_pos, _mlen), 1)._ts, "
            "element_at(slice(_a, start_pos, _mlen), -1)._ts)"
        ).alias("duration_us"),
        F.aggregate(
            ev, F.lit(0).cast("long"), lambda acc, x: acc + x["_cents"]
        ).alias("value_cents"),
    )


def event_pattern_all_rows(
    events: DataFrame,
    pattern: str,
    code_map: dict[str, str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    max_events: int | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE "ALL ROWS PER MATCH": one row per matched
    EVENT — the payload-level output that lets downstream logic see
    exactly which events each match consumed (the companion to
    event_pattern_rows' per-match measures; same position
    reconstruction, same pattern-class contract, same `max_events`
    overflow guard). Output: (user, match_idx, ev_idx 1-based within
    the match, code — the single pattern char this event matched,
    event_id, ts, cents)."""
    pos = _pattern_match_positions(
        events, pattern, code_map, user_col, ts_col, id_col, type_col,
        value_col, max_events,
    )
    carry = ["n_dropped"] if max_events is not None else []
    expl = pos.select(
        user_col,
        *carry,
        F.col("match_idx").cast("int").alias("match_idx"),
        "_m",
        F.posexplode(
            F.slice(F.col("_a"), F.col("start_pos"), F.col("_mlen"))
        ).alias("_k", "_ev"),
    )
    return expl.select(
        user_col,
        *carry,
        "match_idx",
        (F.col("_k") + 1).cast("int").alias("ev_idx"),
        F.expr("substring(_m, _k + 1, 1)").alias("code"),
        F.col("_ev._id").alias("event_id"),
        F.col("_ev._ts").alias("ts"),
        F.col("_ev._cents").alias("cents"),
    )


def _pattern_match_positions(
    events: DataFrame,
    pattern: str,
    code_map: dict[str, str],
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    value_col: str,
    max_events: int | None = None,
) -> DataFrame:
    """Shared core of the per-match outputs: per (user, match) rows
    carrying (_a sorted struct array, _m matched codes, match_idx,
    start_pos, _mlen) via the split/extract position arithmetic.
    `max_events` applies the _cap_user_events overflow guard before
    the buffer-building aggregate; capped output rows carry
    `n_dropped`."""
    code = None
    for etype, ch in code_map.items():
        branch = F.when(F.col(type_col) == etype, F.lit(ch))
        code = branch if code is None else code.when(
            F.col(type_col) == etype, F.lit(ch)
        )
    code = (code.otherwise(F.lit("x")) if code is not None
            else F.lit("x")).alias("_c")
    rows = events.select(
        F.col(user_col), F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"), code,
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    )
    extra_aggs = []
    if max_events is not None:
        rows = _cap_user_events(rows, user_col, max_events)
        extra_aggs = [F.max("_drop").alias("n_dropped")]
    arr = rows.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(F.struct("_ts", "_id", "_c", "_cents"))
        ).alias("_a"),
        *extra_aggs,
    )
    seq = F.array_join(F.transform(F.col("_a"), lambda x: x["_c"]), "")
    carry = ["n_dropped"] if max_events is not None else []
    with_seq = arr.select(
        user_col,
        "_a",
        *carry,
        F.regexp_extract_all(seq, F.lit(pattern), F.lit(0)).alias("_ms"),
        F.split(seq, pattern, -1).alias("_gs"),
    ).filter(F.size("_ms") > 0)
    per = with_seq.select(
        user_col,
        "_a",
        *carry,
        "_gs",
        F.posexplode("_ms").alias("_i", "_m"),
    ).select(
        user_col,
        "_a",
        *carry,
        (F.col("_i") + 1).alias("match_idx"),
        F.col("_m"),
        F.length("_m").alias("_mlen"),
        F.length(F.element_at("_gs", F.col("_i") + 1)).alias("_glen"),
    )
    w_all = (
        Window.partitionBy(user_col)
        .orderBy("match_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy(user_col)
        .orderBy("match_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.sum("_glen").over(w_all)
        + F.coalesce(F.sum("_mlen").over(w_prev), F.lit(0))
        + 1
    ).cast("int")
    return per.withColumn("start_pos", start)


def attribution_credits(
    conversions: DataFrame,
    touches: DataFrame,
    user_col: str = "user_id",
    us_col: str = "us",
    id_col: str = "event_id",
    window_us: int = 604_800_000_000,
) -> DataFrame:
    """Multi-touch MARKETING ATTRIBUTION in exact integer ppm: for
    each conversion, rank the user's touches inside the lookback
    window and split credit two ways —

    - linear: 1e6 div n per touch, remainder to the LAST touch;
    - U-shaped (position-based 40/20/40): first and last 400000 each,
      the middle 200000 split evenly with its remainder to the FIRST
      touch; n=1 gets 1000000, n=2 splits 500000/500000.

    Every credit is integer arithmetic with pinned remainder rules,
    so each conversion's credits sum to EXACTLY 1e6 and the whole
    assignment hash-gates — the determinism float credit splitting
    can't offer.

    Inputs carry (user, us epoch-micros, id); the join is an
    equi-join on user with the half-open range predicate
    [conv - window, conv), per-user touch counts bound the fan-out
    (the per-entity contract). Output: one row per (conversion,
    touch) with touch_rank, n_touches, linear_ppm, ushape_ppm.
    """
    c = conversions.select(
        F.col(user_col).alias("_cu"),
        F.col(us_col).alias("conv_us"),
        F.col(id_col).alias("conv_id"),
    )
    t = touches.select(
        F.col(user_col).alias("_tu"),
        F.col(us_col).alias("touch_us"),
        F.col(id_col).alias("touch_id"),
    )
    j = c.join(
        t,
        (c["_cu"] == t["_tu"])
        & (t["touch_us"] < c["conv_us"])
        & (t["touch_us"] >= c["conv_us"] - F.lit(window_us)),
    )
    w = Window.partitionBy("conv_id").orderBy("touch_us", "touch_id")
    wn = Window.partitionBy("conv_id")
    ranked = j.select(
        F.col("_cu").alias(user_col),
        "conv_id",
        "conv_us",
        "touch_id",
        "touch_us",
        F.row_number().over(w).alias("touch_rank"),
        F.count(F.lit(1)).over(wn).alias("n_touches"),
    )
    n = F.col("n_touches").cast("long")
    r = F.col("touch_rank").cast("long")
    base = F.lit(1_000_000).cast("long")
    # integer `div`, never `/`: Spark's `/` on longs is DOUBLE
    # division, and credits must be exact integers that sum to 1e6
    lin_base = F.expr("1000000 div n_touches")
    lin = F.when(r == n, base - lin_base * (n - 1)).otherwise(lin_base)
    mid_base = F.expr("200000 div (n_touches - 2)")
    mid_rem = F.lit(200_000) - mid_base * (n - 2)
    ushape = (
        F.when(n == 1, base)
        .when(n == 2, F.lit(500_000))
        .when(r == 1, F.lit(400_000) + mid_rem)
        .when(r == n, F.lit(400_000))
        .otherwise(mid_base)
    )
    return ranked.select(
        user_col,
        "conv_id",
        "touch_id",
        "touch_rank",
        "n_touches",
        lin.cast("long").alias("linear_ppm"),
        ushape.cast("long").alias("ushape_ppm"),
    )
