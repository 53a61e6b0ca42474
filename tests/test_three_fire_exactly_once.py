"""Three-fire exactly-once regressions for every snapshot-state
streaming pipeline.

The r12 ADVICE found a real state-machine bug the 2-fire tests could
not see: snapshot-state stores keep the latest PRIOR partition as the
crash-replay anchor, so from the 3rd fire onward the state directory
holds TWO prior snapshots at read time — a whole-directory read
filtered only on `batch_id != bid` unioned both and duplicated every
state row (the feed pipeline re-emitted entries and double-emitted new
ones; the pattern snapshot held two rows per user). The fix reads ONLY
the max-prior partition (`_read_prior_snapshot`).

These tests run THREE fires against every snapshot-state pipeline and
assert with MULTISET discipline (sorted lists, never dicts — dict
keying is exactly what masked the duplicates) that the final snapshot
has one row per key and equals the batch twin over the union.
"""
import os

import pytest
from pyspark.sql import functions as F


def _fires(spark, src, schema, rows):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _latest(store):
    return max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )


def _dirs(tmp_path, *names):
    out = [str(tmp_path / n) for n in names]
    os.makedirs(out[0])
    return out


def _rss(entries):
    items = "".join(
        f"<item><title>t</title><link>{u}</link>"
        f"<pubDate>{d}</pubDate></item>"
        for u, d in entries
    )
    return f"<rss><channel>{items}</channel></rss>"


def test_feed_three_fires_exactly_once_per_entry(spark, tmp_path):
    """The r12 ADVICE high, reproduced then pinned: with a stale AND a
    fresh hwm snapshot both visible at fire-3 read time, the stale row
    re-admitted fire-2's entry and the join fan-out double-emitted the
    genuinely-new one. Fixed: every entry is emitted in EXACTLY one
    output row across all fires."""
    from unstract_spark.streaming.incremental import streaming_feed_pipeline

    d = lambda day: f"Mon, {day:02d} Jan 2026 10:00:00 +0000"  # noqa: E731
    src, ckpt, state, out = _dirs(tmp_path, "src", "ckpt", "state", "out")
    sch = "feed_id string, xml string"

    # fire 1: e1, e2 -> hwm = day 2
    _fires(spark, src, sch, [
        ("A", _rss([("http://a/e1", d(1)), ("http://a/e2", d(2))])),
    ])
    assert streaming_feed_pipeline(spark, src, ckpt, state, out) == 1
    # fire 2: re-serves e2, adds e3 -> hwm = day 3; state dir now
    # holds snapshots for BOTH epochs until fire 3's prune
    _fires(spark, src, sch, [
        ("A", _rss([("http://a/e2", d(2)), ("http://a/e3", d(3))])),
    ])
    assert streaming_feed_pipeline(spark, src, ckpt, state, out) == 1
    # fire 3: the poisoned read window — e3 sits above the STALE hwm
    # (day 2) and e4 joins to two hwm rows
    _fires(spark, src, sch, [
        ("A", _rss([("http://a/e3", d(3)), ("http://a/e4", d(4))])),
    ])
    assert streaming_feed_pipeline(spark, src, ckpt, state, out) == 1

    emitted = sorted(
        r.link for r in spark.read.parquet(out).collect()
    )
    assert emitted == [
        "http://a/e1", "http://a/e2", "http://a/e3", "http://a/e4",
    ]  # each entry exactly once, fire-3 emits ONLY e4, once

    # the surviving state snapshot: one row per feed
    hwm = spark.read.parquet(
        f"{state}/batch_id={_latest(state)}"
    ).collect()
    assert len(hwm) == 1 and hwm[0].feed_id == "A"


def test_feed_single_digit_rfc822_day_parses(spark):
    """RFC 822 allows 1*2DIGIT days: 'Mon, 5 Jan 2026 ...' must parse
    (r12 ADVICE low — strict 'dd' NULLed it and the pipeline silently
    skipped the entry as undated)."""
    from unstract_spark.operators.webcorpus import feed_published_epoch

    rows = [
        (1, "Mon, 5 Jan 2026 10:30:00 +0000"),
        (2, "Mon, 05 Jan 2026 10:30:00 +0000"),
        (3, "Mon, 5 Jan 2026 10:30:00 GMT"),
    ]
    got = {
        r.id: r.published_epoch
        for r in feed_published_epoch(
            spark.createDataFrame(rows, "id long, published string")
        ).collect()
    }
    assert got[1] == got[2] == got[3] == 1767609000


def test_pattern_three_fires_one_row_per_user(spark, tmp_path):
    """The r12 ADVICE medium: after 3 fires the final pattern snapshot
    held duplicate per-user rows that dict-keyed assertions masked.
    Pinned as a multiset: exactly one row per user, equal to the batch
    twin over the union."""
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_match
    from unstract_spark.streaming.incremental import (
        streaming_pattern_pipeline,
    )

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    sch = "user_id long, ts timestamp, event_id long, event_type string"
    cm = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    pat = "v[^e]*?c[^e]*?p"
    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")

    fire1 = [(1, t(0), 1, "view"), (1, t(1), 2, "click"),
             (2, t(0), 11, "view")]
    fire2 = [(1, t(2), 3, "purchase"), (2, t(1), 12, "click"),
             (1, t(3), 4, "view")]
    fire3 = [(1, t(4), 5, "click"), (1, t(5), 6, "purchase"),
             (2, t(2), 13, "purchase")]
    for rows in (fire1, fire2, fire3):
        _fires(spark, src, sch, rows)
        assert streaming_pattern_pipeline(
            spark, src, ckpt, store, pat, cm
        ) == 1

    union = spark.createDataFrame(fire1 + fire2 + fire3, sch)
    expect = sorted(
        (r.user_id, r.seq_len, r.n_matches, r.first_match,
         r.total_match_len)
        for r in event_pattern_match(union, pat, cm).collect()
    )
    got = sorted(
        (r.user_id, r.seq_len, r.n_matches, r.first_match,
         r.total_match_len)
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).collect()
    )
    assert got == expect          # values AND multiplicities
    assert len(got) == 2          # one row per user, no duplicates
    assert expect[0][2] == 2      # user 1 matched twice across fires


def test_pattern_three_fires_string_user_ids(spark, tmp_path):
    """Non-numeric string user ids: the first fire's empty state takes
    its key type from the source schema, so the full-outer join never
    casts 'u1' to a number; the final state equals the batch twin."""
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_match
    from unstract_spark.streaming.incremental import (
        streaming_pattern_pipeline,
    )

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    sch = "user_id string, ts timestamp, event_id long, event_type string"
    cm = {"view": "v", "click": "c", "purchase": "p"}
    pat = "v[^e]*?c[^e]*?p"
    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")
    drops = [
        [("u1", t(0), 1, "view"), ("u1", t(1), 2, "click"),
         ("u2", t(0), 11, "view")],
        [("u1", t(2), 3, "purchase"), ("u2", t(1), 12, "click")],
        [("u2", t(2), 13, "purchase"), ("u3", t(0), 21, "view")],
    ]
    for rows in drops:
        _fires(spark, src, sch, rows)
        assert streaming_pattern_pipeline(
            spark, src, ckpt, store, pat, cm, schema=sch
        ) == 1

    cols = ("user_id", "seq_len", "n_matches", "first_match",
            "total_match_len")
    union = spark.createDataFrame([r for d in drops for r in d], sch)
    expect = sorted(
        tuple(r[c] for c in cols)
        for r in event_pattern_match(union, pat, cm).collect()
    )
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).collect()
    )
    assert got == expect
    assert [r[2] for r in got] == [1, 1, 0]  # u1, u2 matched; u3 open


def test_pattern_rejects_prefix_alternation_ends(spark):
    """'ab|a' at the pattern end commits to the shorter LATER arm at a
    fire boundary where the batch scan matches the longer earlier arm
    (r12 ADVICE low) — the classifier must call it extensible; ordered
    alternation makes 'a|ab' safe, and fixed-equal-width or
    no-prefix-pair literal branches stay accepted."""
    from unstract_spark.streaming.incremental import (
        _pattern_end_extensible,
    )

    assert _pattern_end_extensible("ab|a")
    assert _pattern_end_extensible("abc|xy|ab")
    assert _pattern_end_extensible("(vp|v)")
    assert _pattern_end_extensible("[xy]z|q")  # conservative arm
    assert not _pattern_end_extensible("a|ab")  # ordered: 'a' wins both
    assert not _pattern_end_extensible("ab|cd")
    assert not _pattern_end_extensible("ab|xyz")
    assert not _pattern_end_extensible("v(p|c)")
    assert not _pattern_end_extensible("(ab|a)c")  # branch not at end


def test_pattern_pipeline_gate_names_prefix_alternation(spark, tmp_path):
    from unstract_spark.streaming.incremental import (
        streaming_pattern_pipeline,
    )

    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")
    with pytest.raises(ValueError, match="extensible"):
        streaming_pattern_pipeline(
            spark, src, ckpt, store, "vc|v", {"view": "v", "click": "c"}
        )


def test_kmv_three_fires_store_equals_union_sketch(spark, tmp_path):
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import streaming_kmv_pipeline

    src, ckpt, store, out = _dirs(tmp_path, "src", "ckpt", "store", "out")
    sch = "doc_id long, text string"
    f1 = [(i, f"value {i}") for i in range(60)]
    f2 = [(i, f"value {i}") for i in range(30, 90)]
    f3 = [(i, f"value {i}") for i in range(60, 120)]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_kmv_pipeline(
            spark, src, ckpt, store, out, k=32
        ) == 1

    union_sketch = sketches.kmv_sketch(
        spark.createDataFrame(f1 + f2 + f3, sch), "text", k=32
    )
    expect = sorted(r.h for r in union_sketch.collect())
    got = sorted(
        r.h
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).collect()
    )
    assert got == expect  # multiset: k rows, no duplicated hashes
    est = spark.read.parquet(out).filter(
        F.col("batch_id") == _latest(store)
    ).collect()[0]
    ref = sketches.kmv_estimate(union_sketch, 32).collect()[0]
    assert (est.n_sketch, est.kth_hash, est.est_distinct) == (
        ref.n_sketch, ref.kth_hash, ref.est_distinct
    )


def test_kmv_fold_each_fire_equals_union_sketch(spark, tmp_path):
    """Each fire folds its hashed rows straight into the prior
    snapshot. After EVERY fire the store must equal kmv_sketch of the
    union so far and the out row its kmv_estimate — through null
    texts, texts repeated within a fire and across fires, and both
    estimator branches (3 distinct < k, then 11 and 14 > k)."""
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import streaming_kmv_pipeline

    src, ckpt, store, out = _dirs(tmp_path, "src", "ckpt", "store", "out")
    sch = "doc_id long, text string"
    drops = [
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (5, "c")],
        [(6, "b"), (7, None), (8, "d"), (9, "d")]
        + [(10 + i, t) for i, t in enumerate("efghijk")],
        [(20, "a"), (21, "e"), (22, None), (23, "l"), (24, "m"),
         (25, "m"), (26, "n")],
    ]
    seen = []
    for rows in drops:
        seen += rows
        _fires(spark, src, sch, rows)
        assert streaming_kmv_pipeline(
            spark, src, ckpt, store, out, k=8
        ) == 1
        want = sketches.kmv_sketch(
            spark.createDataFrame(seen, sch), "text", k=8
        )
        bid = _latest(store)
        got = sorted(
            r.h
            for r in spark.read.parquet(f"{store}/batch_id={bid}").collect()
        )
        assert got == sorted(r.h for r in want.collect())
        est = spark.read.parquet(f"{out}/batch_id={bid}").collect()
        ref = sketches.kmv_estimate(want, 8).collect()
        assert [tuple(r) for r in est] == [tuple(r) for r in ref]
    assert ref[0].n_sketch == 8 and ref[0].est_distinct != 8.0


def test_quantile_three_fires_sample_equals_union(spark, tmp_path):
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import (
        streaming_quantile_pipeline,
    )

    src, ckpt, store, out = _dirs(tmp_path, "src", "ckpt", "store", "out")
    sch = "doc_id long, value double"
    f1 = [(i, float(i * 7 % 101)) for i in range(50)]
    f2 = [(i, float(i * 7 % 101)) for i in range(50, 100)]
    f3 = [(i, float(i * 7 % 101)) for i in range(100, 150)]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_quantile_pipeline(
            spark, src, ckpt, store, out, k=32
        ) == 1

    union = spark.createDataFrame(f1 + f2 + f3, sch)
    expect = sorted(
        (r.h, r.value)
        for r in sketches.kmv_row_sample(
            union, "doc_id", ["value"], k=32
        ).collect()
    )
    got = sorted(
        (r.h, r.value)
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).select("h", "value").collect()
    )
    assert got == expect


def test_ohlc_three_fires_candles_equal_batch(spark, tmp_path):
    from datetime import datetime

    from unstract_spark.operators import timeseries
    from unstract_spark.streaming.incremental import streaming_ohlc_pipeline

    src, ckpt, store, out = _dirs(tmp_path, "src", "ckpt", "store", "out")
    sch = "event_id long, ts timestamp, event_type string, value double"
    h = lambda hh, m: datetime(2024, 3, 1, hh, m)  # noqa: E731
    # the 10:00 'a' bucket receives ticks in ALL THREE fires — the
    # duplicate-snapshot union would double fire-1's partial (volume,
    # n_events) when fire 3 merges
    f1 = [(1, h(10, 5), "a", 3.0), (2, h(10, 30), "a", 9.0)]
    f2 = [(3, h(10, 1), "a", 7.0), (4, h(11, 0), "b", 1.0)]
    f3 = [(5, h(10, 59), "a", 2.0), (6, h(11, 30), "b", 8.0)]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_ohlc_pipeline(spark, src, ckpt, store, out) == 1

    union = spark.createDataFrame(f1 + f2 + f3, sch)
    expect = sorted(
        tuple(r) for r in timeseries.ohlc_bars(union).collect()
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/batch_id={_latest(out)}")
        .select(*timeseries.ohlc_bars(union).columns)
        .collect()
    )
    assert got == expect
    a10 = [r for r in got if r[0] == "a"][0]
    assert a10[-1] == 4  # n_events exact, not doubled


def test_cms_three_fires_matrix_equals_batch(spark, tmp_path):
    from unstract_spark.operators.text_analysis import count_min_sketch
    from unstract_spark.streaming.incremental import streaming_cms_pipeline

    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")
    sch = "doc_id long, text string"
    f1 = [(1, "alpha beta alpha"), (2, "gamma beta")]
    f2 = [(3, "alpha delta")]
    f3 = [(4, "beta beta epsilon"), (5, "alpha")]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_cms_pipeline(
            spark, src, ckpt, store, width=64
        ) == 1

    expect = sorted(
        (r.j, r.bucket, r.cnt)
        for r in count_min_sketch(
            spark.createDataFrame(f1 + f2 + f3, sch), width=64
        ).collect()
    )
    got = sorted(
        (r.j, r.bucket, r.cnt)
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).collect()
    )
    assert got == expect  # cell for cell — fire-1 counts not doubled


def test_dq_three_fires_counters_equal_batch(spark, tmp_path):
    from unstract_spark.operators.profile import expectation_report
    from unstract_spark.streaming.incremental import streaming_dq_pipeline

    checks = [
        ("complete_text", F.col("text").isNull()),
        ("positive_id", F.col("doc_id") <= 0),
    ]
    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")
    sch = "doc_id long, text string"
    f1 = [(1, "alpha"), (2, "beta")]
    f2 = [(3, None), (-4, "gamma")]
    f3 = [(5, "delta"), (-6, None)]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_dq_pipeline(spark, src, ckpt, store, checks) == 1

    union = spark.createDataFrame(f1 + f2 + f3, sch)
    expect = sorted(
        (r.check_name, r.n_checked, r.n_violations, r.status)
        for r in expectation_report(union, checks).collect()
    )
    got = sorted(
        (r.check_name, r.n_checked, r.n_violations, r.status)
        for r in spark.read.parquet(
            f"{store}/batch_id={_latest(store)}"
        ).collect()
    )
    assert got == expect
    assert got[0][1] == 6  # n_checked exact across 3 fires


def test_triangle_three_fires_counts_equal_batch(spark, tmp_path):
    from unstract_spark.operators.graph import triangle_count
    from unstract_spark.streaming.incremental import (
        streaming_triangle_pipeline,
    )

    src, ckpt, state, out = _dirs(tmp_path, "src", "ckpt", "state", "out")
    sch = "src long, dst long"
    f1 = [(1, 2), (2, 3), (7, 8), (8, 9)]
    f2 = [(1, 3), (7, 9)]          # closes two triangles
    f3 = [(1, 4), (2, 4), (3, 4)]  # node 4 joins the 1-2-3 clique
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_triangle_pipeline(
            spark, src, ckpt, state, out
        ) == 1

    union = spark.createDataFrame(
        sorted(set(f1 + f2 + f3)), sch
    )
    expect = sorted(
        (r.node, r.n_triangles) for r in triangle_count(union).collect()
    )
    got = sorted(
        (r.node, r.n_triangles)
        for r in spark.read.parquet(
            f"{out}/batch_id={_latest(out)}"
        ).collect()
    )
    assert got == expect  # cumulative counts exact, no double-fold


def test_scd2_three_fires_versions_exact(spark, tmp_path):
    from datetime import datetime

    from unstract_spark.operators.joins import scd2_build
    from unstract_spark.streaming.incremental import (
        read_scd2_view,
        streaming_scd2_pipeline,
    )

    t = lambda day: datetime(2024, 1, day)  # noqa: E731
    sch = "k long, seq long, ts timestamp, val string"
    src, ckpt, state, out = _dirs(tmp_path, "src", "ckpt", "state", "out")
    f1 = [(1, 10, t(1), "a1"), (2, 20, t(2), "b1")]
    f2 = [(1, 11, t(3), "a2")]
    f3 = [(1, 12, t(5), "a3"), (3, 30, t(6), "c1")]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_scd2_pipeline(spark, src, ckpt, state, out) == 1

    union = spark.createDataFrame(f1 + f2 + f3, sch)
    expect = sorted(
        (r.k, r.version, r.val, r.valid_from, r.valid_to)
        for r in scd2_build(union, "k", "seq", "ts").collect()
    )
    got = sorted(
        (r.k, r.version, r.val, r.valid_from, r.valid_to)
        for r in read_scd2_view(spark, state, out).collect()
    )
    assert got == expect
    assert len(got) == len({(r[0], r[1]) for r in got})  # unique versions


def test_upsert_three_fires_one_live_row_per_key(spark, tmp_path):
    from unstract_spark.streaming.incremental import (
        read_upsert_view,
        streaming_upsert_pipeline,
    )

    sch = "k long, seq long, op string, val string"
    src, ckpt, store = _dirs(tmp_path, "src", "ckpt", "store")
    f1 = [(1, 1, "U", "v1"), (2, 1, "U", "w1")]
    f2 = [(1, 2, "U", "v2"), (3, 1, "U", "x1")]
    f3 = [(2, 2, "D", None), (1, 3, "U", "v3")]
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_upsert_pipeline(spark, src, ckpt, store) == 1

    got = sorted(
        (r.k, r.seq, r.val)
        for r in read_upsert_view(spark, store).collect()
    )
    assert got == [(1, 3, "v3"), (3, 1, "x1")]  # one row per live key


def test_islands_three_fires_match_batch_merge(spark, tmp_path):
    from unstract_spark.operators.joins import merge_intervals
    from unstract_spark.streaming.incremental import (
        read_islands_view,
        streaming_islands_pipeline,
    )

    sch = "k long, s long, e long, id long"
    src, ckpt, state, out = _dirs(tmp_path, "src", "ckpt", "state", "out")
    f1 = [(1, 0, 10, 1)]
    f2 = [(1, 8, 20, 2)]            # extends the open island
    f3 = [(1, 30, 40, 3), (2, 0, 5, 4)]  # closes it, opens two more
    for rows in (f1, f2, f3):
        _fires(spark, src, sch, rows)
        assert streaming_islands_pipeline(
            spark, src, ckpt, state, out
        ) == 1

    union = spark.createDataFrame(f1 + f2 + f3, sch)
    expect = sorted(
        (r.k, r.island, r.island_start, r.island_end, r.n_intervals)
        for r in merge_intervals(union, "k", "s", "e", "id").collect()
    )
    got = sorted(
        (r.k, r.island_no, r.island_start, r.island_end, r.n_intervals)
        for r in read_islands_view(spark, state, out).collect()
    )
    assert got == expect
    assert len(got) == 3  # no duplicated closed/open islands


def test_stats_three_fires_counters_exact(spark, tmp_path):
    from unstract_spark.operators.stats_store import TableStatsStore
    from unstract_spark.streaming.incremental import streaming_stats_pipeline

    src, ckpt, acc, stats = _dirs(tmp_path, "src", "ckpt", "acc", "stats")

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("w"), (F.col("id") % 70).cast("string"))
            .alias("text"),
        )

    for lo, hi in ((0, 60), (60, 120), (120, 150)):
        docs(lo, hi).coalesce(1).write.mode("append").parquet(src)
        assert streaming_stats_pipeline(
            spark, src, ckpt, acc, stats, "docs", ["text"], k=32
        ) == 1

    live = TableStatsStore(spark, stats)
    ref = TableStatsStore(spark, str(tmp_path / "stats_ref"))
    ref.analyze(docs(0, 150), "docs", ["text"], k=32)
    lm, rm = live._meta("docs", "text"), ref._meta("docs", "text")
    # n_rows is the doubled-counter canary: the duplicate-snapshot
    # union was masked here by the max() fold, but the counters must
    # be exact either way
    assert (lm.n_rows, lm.n_nonnull, lm.n_sketch, lm.kth_hash) == (
        rm.n_rows, rm.n_nonnull, rm.n_sketch, rm.kth_hash
    )
