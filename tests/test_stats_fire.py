"""Table statistics over several columns: the streaming stats fire and
batch `TableStatsStore.analyze` publish the same rows, keep the other
columns of the table, and run a number of Spark jobs that does not
grow with the number of columns."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from unstract_spark.operators.stats_store import TableStatsStore
from unstract_spark.streaming.incremental import streaming_stats_pipeline

COLUMNS = ["text", "n", "kind", "nul"]
SCHEMA = "doc_id long, text string, n long, kind string, nul string"
DROPS = ((0, 60), (60, 120), (120, 150))
K = 32


def _docs(spark, lo, hi):
    """A string column, a long column, a three-value column and an
    all-NULL column."""
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 70).cast("string")).alias("text"),
        ((F.col("id") * 7) % 113).alias("n"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.lit(None).cast("string").alias("nul"),
    )


def _stream(spark, count_jobs, root, columns):
    """Three fires over DROPS; returns the store and each fire's jobs."""
    src = os.path.join(root, "src")
    jobs = []
    for lo, hi in DROPS:
        _docs(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        fired, n = count_jobs(lambda: streaming_stats_pipeline(
            spark, src, os.path.join(root, "ckpt"), os.path.join(root, "acc"),
            os.path.join(root, "stats"), "docs", columns, k=K, schema=SCHEMA,
        ))
        assert fired == 1
        jobs.append(n)
    return TableStatsStore(spark, os.path.join(root, "stats")), jobs


@pytest.fixture(scope="module")
def four_columns(spark, tmp_path_factory, count_jobs):
    """The four-column stream, with an `extra` column of the same table
    analyzed before the first fire."""
    root = str(tmp_path_factory.mktemp("stats4"))
    extra = spark.range(40).select((F.col("id") % 9).alias("extra"))
    TableStatsStore(spark, os.path.join(root, "stats")).analyze(
        extra, "docs", ["extra"], k=K
    )
    store, jobs = _stream(spark, count_jobs, root, COLUMNS)
    return store, jobs, extra


def _sketch(store, column):
    path = store._dir("sketch", "docs", column)
    return sorted(r.h for r in store.spark.read.schema("h long").parquet(path).collect())


def test_stream_publishes_what_analyze_of_the_union_publishes(spark, tmp_path, four_columns):
    live, _, extra = four_columns
    ref = TableStatsStore(spark, str(tmp_path / "ref"))
    ref.analyze(extra, "docs", ["extra"], k=K)
    ref.analyze(_docs(spark, 0, 150), "docs", COLUMNS, k=K)
    for c in COLUMNS:
        lm, rm = live._meta("docs", c), ref._meta("docs", c)
        assert (lm.n_rows, lm.n_nonnull, lm.n_sketch, lm.kth_hash, lm.k) == (
            rm.n_rows, rm.n_nonnull, rm.n_sketch, rm.kth_hash, rm.k
        ), c
        assert lm.avg_len == rm.avg_len, c
        assert _sketch(live, c) == _sketch(ref, c), c
        assert lm.n_rows == 150
    assert live._meta("docs", "n").n_sketch == K  # 113 distinct values
    assert live._meta("docs", "kind").n_sketch == 3
    nul = live._meta("docs", "nul")
    assert (nul.n_nonnull, nul.n_sketch, nul.kth_hash, nul.avg_len) == (0, 0, None, None)
    for store in (live, ref):
        assert os.path.isdir(store._dir("sketch", "docs", "nul"))
        assert _sketch(store, "nul") == []
        # the column analyzed before survives the other columns' writes
        assert store._meta("docs", "extra").n_rows == 40
        assert store.distinct_estimate("docs", "extra") == 9.0
    assert ref.heavy_keys("docs", "nul") == []  # the stream keeps no heavy keys
    assert [(r.key, r.cnt) for r in ref.heavy_keys("docs", "kind")] == [
        ("a", 50), ("b", 50), ("c", 50)
    ]


def test_stats_jobs_do_not_grow_with_columns(spark, tmp_path, count_jobs, four_columns):
    _, jobs4, _ = four_columns
    _, jobs1 = _stream(spark, count_jobs, str(tmp_path / "one"), ["text"])
    # steady fire (the third): one grouped pass whatever the column count
    assert jobs1[-1] == jobs4[-1] < 13, (jobs1, jobs4)
    union = _docs(spark, 0, 150)
    store = TableStatsStore(spark, str(tmp_path / "ref"))
    _, analyze1 = count_jobs(lambda: store.analyze(union, "docs", ["text"], k=K))
    _, analyze4 = count_jobs(lambda: store.analyze(union, "docs", COLUMNS, k=K))
    assert analyze1 == analyze4, (analyze1, analyze4)


def test_stream_published_store_plans_without_skew_data(spark, four_columns):
    """The stream writes no heavy/ rows: its columns read as skew
    unknown, and every plan over them prices without skew data and
    joins to the same rows."""
    live, _, _ = four_columns
    assert live.heavy_keys("docs", "kind") == []
    assert live.top_share_ppm("docs", "kind") == 0
    assert live.join_plan("docs", "kind", "docs", "n")["strategy"] == "broadcast_a"
    left = spark.range(12).select(
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("z")), (F.col("id") % 3 + 1).cast("int")).alias("kind"),
        F.col("id").alias("lid"),
    )
    right = _docs(spark, 0, 150).select("kind", "doc_id")
    want = sorted(left.join(right, ["kind"]).collect())
    plans = [
        live.plan_against_unknown("docs", "kind"),
        live.plan_against_unknown("docs", "kind", broadcast_threshold_bytes=0),
        live.plan_against_unknown("docs", "kind", broadcast_threshold_bytes=0, skew_threshold_ppm=0),
    ]
    assert [p["strategy"] for p in plans] == ["broadcast_known", "shuffle", "shuffle_salted"]
    assert all(p["share_ppm"] == 0 for p in plans)
    for plan in plans:
        assert sorted(live.apply_using_join(left, right, ["kind"], plan).collect()) == want, plan
