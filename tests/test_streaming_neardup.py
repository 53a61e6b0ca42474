"""Incremental MinHash near-dup: streaming fires must reproduce the
batch near-dup result on the union of all fires, with signatures
computed once per document and cross-fire pairs surfacing when the
later member arrives."""

import os

from pyspark.sql import functions as F

from unstract_spark.operators import dedup
from unstract_spark.streaming.incremental import streaming_neardup_pipeline

BASE = (
    "the quick brown fox jumps over the lazy dog again and again "
    "while the spark engine shuffles partitions across the cluster "
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_pairs(spark, rows, threshold):
    sigs = dedup.minhash_signatures(dedup.char_shingles(_docs(spark, rows)))
    pairs = dedup.lsh_candidate_pairs(sigs)
    return {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_similarity(sigs, pairs)
        .filter(F.col("est_jaccard") >= threshold)
        .collect()
    }


def test_streaming_neardup_matches_batch_across_fires(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [(1, BASE), (2, BASE + "with one extra tail sentence here ")]
    fire2 = [(3, BASE), (4, "completely different content about nothing in common at all " * 3)]
    threshold = 0.4

    _docs(spark, fire1).coalesce(1).write.mode("append").parquet(src)
    n1 = streaming_neardup_pipeline(spark, src, ckpt, store, out, threshold=threshold)
    assert n1 == 1
    got1 = {
        (r.id_a, r.id_b): r.est_jaccard for r in spark.read.parquet(out).collect()
    }
    assert (1, 2) in got1  # within-fire pair

    _docs(spark, fire2).coalesce(1).write.mode("append").parquet(src)
    n2 = streaming_neardup_pipeline(spark, src, ckpt, store, out, threshold=threshold)
    assert n2 == 1
    got = {(r.id_a, r.id_b): r.est_jaccard for r in spark.read.parquet(out).collect()}

    # cross-fire: doc 3 (fire 2) is an exact dup of doc 1 (fire 1)
    assert got[(1, 3)] == 1.0
    assert not any(4 in p for p in got)  # unique doc pairs with nothing

    # the union of all fires == the batch near-dup on the full corpus
    expect = _batch_pairs(spark, fire1 + fire2, threshold)
    assert got == expect

    # signatures were computed once per doc: store holds exactly 4 rows
    assert spark.read.parquet(store).count() == 4
    # and no pair was emitted twice across fires
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len({(r.id_a, r.id_b) for r in rows})


def test_streaming_neardup_drained_source_fires_nothing(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _docs(spark, [(1, BASE)]).coalesce(1).write.mode("append").parquet(src)
    a = streaming_neardup_pipeline(
        spark, src, ckpt, str(tmp_path / "st"), str(tmp_path / "o")
    )
    b = streaming_neardup_pipeline(
        spark, src, ckpt, str(tmp_path / "st"), str(tmp_path / "o")
    )
    assert a == 1 and b == 0  # checkpoint: nothing new, no re-signature


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    from unstract_spark.streaming.incremental import (
        streaming_decontamination_pipeline,
    )

    src = str(tmp_path / "dsrc")
    ckpt = str(tmp_path / "dckpt")
    out = str(tmp_path / "dout")
    os.makedirs(src)

    bench = _docs(spark, [(100, "alpha beta gamma delta"), (101, "one two three four")])
    fire1 = [(1, "xx alpha beta gamma yy"), (2, "nothing shared here at all")]
    fire2 = [(3, "one two three plus alpha beta gamma tail")]

    _docs(spark, fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_decontamination_pipeline(spark, src, ckpt, bench, out, n=3) == 1
    _docs(spark, fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_decontamination_pipeline(spark, src, ckpt, bench, out, n=3) == 1

    got = {
        r.train_id: (r.n_shared_grams, r.n_bench_docs)
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        r.train_id: (r.n_shared_grams, r.n_bench_docs)
        for r in dedup.ngram_contamination(
            _docs(spark, fire1 + fire2), bench, n=3
        ).collect()
    }
    assert got == expect
    assert 1 in got and 3 in got and 2 not in got
    # doc 3 shares grams with BOTH bench docs
    assert got[3][1] == 2


def test_streaming_neardup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch must overwrite
    its own output partition, not append duplicates. A TRUE replay
    shares the checkpoint (and, since r9, its pinned run base), so
    simulate the crashed attempt faithfully: run once to commit epoch
    0, plant a stale attempt in the NEXT epoch's partition (died after
    writing, before the checkpoint commit), then drain the SAME
    checkpoint — epoch 1 fires at its original batch_id and must
    supersede the stale rows. (The old simulation — fresh checkpoint +
    pre-populated batch 0 — now correctly lands in a DISJOINT
    partition instead of destroying another run's commit.)"""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)
    docs = [(1, BASE), (2, BASE + "with one extra tail sentence here ")]
    _docs(spark, docs).coalesce(1).write.mode("append").parquet(src)
    n = streaming_neardup_pipeline(spark, src, ckpt, store, out, threshold=0.4)
    assert n == 1

    # the attempt of epoch 1 that died after writing its outputs but
    # before the checkpoint commit (run base is pinned at 0, so the
    # replay MUST land on batch_id=1 and overwrite these). A real
    # attempt pins its bid in the marker BEFORE writing (the r10
    # stale-resume guard) — simulate that half too, or the planted
    # partition would correctly read as another run's commit.
    from unstract_spark.streaming.incremental import _pin_bid

    _pin_bid(ckpt, 1)
    spark.createDataFrame(
        [(99, 98, 0.99)], "id_a long, id_b long, est_jaccard double"
    ).write.parquet(f"{out}/batch_id=1")
    spark.range(1).selectExpr(
        "CAST(555 AS LONG) AS doc_id",
        *[f"CAST({i} AS LONG) AS mh_{i}" for i in range(8)],
    ).write.parquet(f"{store}/batch_id=1")

    docs2 = [(3, BASE + "a different tail entirely for doc three ")]
    _docs(spark, docs2).coalesce(1).write.mode("append").parquet(src)
    n = streaming_neardup_pipeline(spark, src, ckpt, store, out, threshold=0.4)
    assert n == 1
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(out).collect()}
    assert (99, 98) not in pairs  # stale attempt replaced, not appended
    assert (1, 2) in pairs
    store_ids = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert store_ids == {1, 2, 3}  # half-written store partition replaced


def test_streaming_cluster_maintenance_matches_batch(spark, tmp_path):
    """Incremental union-find over a growing pair stream: after N
    fires, the label store equals batch connected_components over ALL
    pairs — including a cross-fire edge that MERGES two existing
    clusters and a new node with a smaller id than an existing root."""
    from unstract_spark.operators.dedup import connected_components
    from unstract_spark.streaming.incremental import streaming_cluster_pipeline

    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "cl_ckpt")
    labels = str(tmp_path / "labels")
    os.makedirs(pairs)

    fire1 = [(10, 20, 0.9), (30, 40, 0.8), (50, 60, 0.2)]  # 0.2 below thr
    fire2 = [(20, 30, 0.7), (5, 40, 1.0)]  # merges {10,20}+{30,40}, root 5

    def _write(rows):
        spark.createDataFrame(
            rows, "id_a long, id_b long, est_jaccard double"
        ).coalesce(1).write.mode("append").parquet(pairs)

    _write(fire1)
    n1 = streaming_cluster_pipeline(spark, pairs, ckpt, labels, threshold=0.5)
    assert n1 == 1
    _write(fire2)
    n2 = streaming_cluster_pipeline(spark, pairs, ckpt, labels, threshold=0.5)
    assert n2 == 1

    import glob
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(labels)
        if d.startswith("batch_id=")
    )
    got = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(f"{labels}/batch_id={latest}").collect()
    }
    all_edges = spark.createDataFrame(
        [r[:2] for r in fire1 + fire2 if r[2] >= 0.5], "id_a long, id_b long"
    )
    expect = {
        r.node: r.component for r in connected_components(all_edges).collect()
    }
    assert got == expect
    assert got[10] == 5 and got[40] == 5  # merged cluster takes new min root
    assert 50 not in got  # sub-threshold pair admitted nobody


def test_streaming_neardup_reads_legacy_flat_store(spark, tmp_path):
    """A store written by the pre-partitioned (flat-append) layout is
    still probed for cross-corpus dedup — not silently treated as a
    first fire."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    # legacy store: signatures of doc 1 written as a FLAT parquet dir
    from unstract_spark.operators import dedup

    legacy = dedup.minhash_signatures(
        dedup.char_shingles(_docs(spark, [(1, BASE)]))
    )
    legacy.write.parquet(store)  # no batch_id partitioning

    # new fire carries an exact dup of doc 1
    _docs(spark, [(2, BASE)]).coalesce(1).write.mode("append").parquet(src)
    n = streaming_neardup_pipeline(spark, src, ckpt, store, out, threshold=0.4)
    assert n == 1
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(out).collect()}
    assert (1, 2) in pairs  # legacy store was probed, dup found


def test_streaming_rollup_matches_batch_cascade(spark, tmp_path):
    """Additive minute partials across fires fold to exactly the batch
    rollup_cascade over all events (decimal sums are associative)."""
    from pyspark.sql import functions as F

    from unstract_spark.operators.timeseries import rollup_cascade
    from unstract_spark.streaming.incremental import (
        read_streaming_rollups,
        streaming_rollup_pipeline,
    )

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ru_ckpt")
    store = str(tmp_path / "ru_store")

    def _ev(rows):
        return spark.createDataFrame(rows, "t string, value double").select(
            F.to_timestamp("t").alias("ts"), "value"
        )

    fire1 = [("2024-01-01 10:00:05", 1.25), ("2024-01-01 10:00:40", 2.5),
             ("2024-01-01 11:30:00", 10.0)]
    fire2 = [("2024-01-01 10:00:59", 4.75),  # same minute as fire1 rows
             ("2024-01-02 09:00:00", 7.0)]   # new day

    _ev(fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_rollup_pipeline(spark, src, ckpt, store) == 1
    _ev(fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_rollup_pipeline(spark, src, ckpt, store) == 1

    got = {
        (r.level, str(r.bucket_start)): (r.n_events, r.total_value)
        for r in read_streaming_rollups(spark, store).collect()
    }
    expect = {
        (r.level, str(r.bucket_start)): (r.n_events, r.total_value)
        for r in rollup_cascade(_ev(fire1 + fire2)).collect()
    }
    assert got == expect
    # cross-fire minute actually merged
    assert got[("minute", "2024-01-01 10:00:00")] == (3, 8.5)


def test_streaming_bloom_matches_batch_history(spark, tmp_path):
    """Incremental Bloom dedup: fire 2's decisions must equal batch
    bloom_membership against fire 1's bits; the accumulated bit store
    must equal the batch filter over all docs; no false negatives for
    cross-fire exact duplicates."""
    from unstract_spark.streaming.incremental import streaming_bloom_pipeline

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [(1, "alpha text one"), (2, "beta text two")]
    fire2 = [(3, "alpha text one"), (4, "gamma fresh content")]

    _docs(spark, fire1).coalesce(1).write.mode("append").parquet(src)
    n1 = streaming_bloom_pipeline(spark, src, ckpt, store, out)
    assert n1 == 1
    d1 = {r.doc_id: r.maybe_seen for r in spark.read.parquet(out).collect()}
    assert d1 == {1: False, 2: False}  # empty history at first fire

    _docs(spark, fire2).coalesce(1).write.mode("append").parquet(src)
    n2 = streaming_bloom_pipeline(spark, src, ckpt, store, out)
    assert n2 == 1
    d = {r.doc_id: r.maybe_seen for r in spark.read.parquet(out).collect()}
    # cross-fire exact dup MUST be flagged (no false negatives)
    assert d[3] is True

    # fire-2 decisions == batch membership against fire-1 bits
    fp1 = _docs(spark, fire1).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    fp2 = _docs(spark, fire2).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    bits1 = dedup.bloom_filter_bits(fp1)
    expect2 = {
        r.doc_id: r.maybe_seen
        for r in dedup.bloom_membership(fp2, bits1).collect()
    }
    assert {i: d[i] for i in (3, 4)} == expect2

    # accumulated store == batch filter over the union of all docs
    all_fp = fp1.unionByName(fp2)
    expect_bits = {
        r.bit for r in dedup.bloom_filter_bits(all_fp).collect()
    }
    got_bits = {
        r.bit for r in spark.read.parquet(store).drop("batch_id").collect()
    }
    assert got_bits == expect_bits


def test_streaming_kmv_merges_across_fires(spark, tmp_path):
    """Verdict r10 #2: mergeability is the KMV family's 100 TB
    argument — prove it ACROSS FIRES. After two fires the stored
    sketch must equal the batch sketch of the union (including
    cross-fire duplicate values collapsing), the emitted estimate must
    equal kmv_estimate over that union sketch, and superseded store
    snapshots must be pruned down to the latest prior."""
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import streaming_kmv_pipeline

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [(i, f"value {i}") for i in range(60)]
    # overlaps fire1 on 30..59 — the union has 90 distinct values
    fire2 = [(i, f"value {i}") for i in range(30, 90)]

    _docs(spark, fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=32) == 1
    est1 = spark.read.parquet(out).filter(F.col("batch_id") == 0).collect()[0]
    assert est1.n_sketch == 32  # 60 distinct > k

    _docs(spark, fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=32) == 1

    union_sketch = sketches.kmv_sketch(
        _docs(spark, fire1 + fire2), "text", k=32
    )
    expect = {r.h for r in union_sketch.collect()}
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    got = {
        r.h for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    }
    assert got == expect  # cross-fire merge == sketch of the union

    est = spark.read.parquet(out).filter(
        F.col("batch_id") == latest
    ).collect()[0]
    expect_est = sketches.kmv_estimate(union_sketch, 32).collect()[0]
    assert (est.n_sketch, est.kth_hash, est.est_distinct) == (
        expect_est.n_sketch, expect_est.kth_hash, expect_est.est_distinct
    )

    # idempotent re-fire: nothing new arrived — no fire, stores intact
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=32) == 0
    assert {
        r.h for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    } == expect

    # a third fire prunes the superseded snapshot, keeping the latest
    # prior (which a replay of the new epoch would still need)
    fire3 = [(i, f"value {i}") for i in range(90, 120)]
    _docs(spark, fire3).coalesce(1).write.mode("append").parquet(src)
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=32) == 1
    parts = sorted(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    assert parts == [latest, latest + 1]  # batch 0's snapshot pruned
    expect3 = {
        r.h
        for r in sketches.kmv_sketch(
            _docs(spark, fire1 + fire2 + fire3), "text", k=32
        ).collect()
    }
    assert {
        r.h
        for r in spark.read.parquet(
            f"{store}/batch_id={latest + 1}"
        ).collect()
    } == expect3


def test_streaming_kmv_crash_replay_clean(spark, tmp_path):
    """A replayed epoch must overwrite its own half-written store/out
    partitions (never fold the crashed attempt's rows into the merge —
    the store read excludes the current epoch) and the previous
    full-merge snapshot must still be there to merge against (the
    prune keeps the latest prior)."""
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        streaming_kmv_pipeline,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [(i, f"value {i}") for i in range(40)]
    _docs(spark, fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=16) == 1

    # epoch 1's attempt that died after writing, before the checkpoint
    # commit: pin the bid (a real attempt pins before writing) and
    # plant poisoned partitions — h=0 would be the global minimum and
    # would corrupt every later estimate if the replay ever read it
    _pin_bid(ckpt, 1)
    spark.createDataFrame([(0,)], "h long").write.parquet(
        f"{store}/batch_id=1"
    )
    spark.createDataFrame(
        [(16, 1, 0, 1.0)],
        "k long, n_sketch long, kth_hash long, est_distinct double",
    ).write.parquet(f"{out}/batch_id=1")

    fire2 = [(i, f"value {i}") for i in range(40, 80)]
    _docs(spark, fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_kmv_pipeline(spark, src, ckpt, store, out, k=16) == 1

    expect = {
        r.h
        for r in sketches.kmv_sketch(
            _docs(spark, fire1 + fire2), "text", k=16
        ).collect()
    }
    got = {r.h for r in spark.read.parquet(f"{store}/batch_id=1").collect()}
    assert got == expect  # poisoned rows replaced, not merged
    assert 0 not in got
    est = spark.read.parquet(out).filter(F.col("batch_id") == 1).collect()[0]
    assert est.kth_hash == max(expect)


def test_stale_checkpoint_resume_refused(spark, tmp_path):
    """ADVICE r10 (medium): the pinned run base guarantees partition
    disjointness only at ALLOCATION time — resuming an OLD checkpoint
    after a NEWER run (fresh checkpoint, same out/store roots) has
    committed partitions would map the old lineage's continuing epochs
    onto, and overwrite, the newer run's committed batch ids. The
    marker's allocation ceiling detects exactly that: the resume must
    REFUSE (StaleCheckpointError), leaving the newer commit intact."""
    import pytest

    from unstract_spark.streaming.incremental import (
        StaleCheckpointError,
        _run_base,
    )

    src = str(tmp_path / "src")
    old_ckpt = str(tmp_path / "ckpt_old")
    new_ckpt = str(tmp_path / "ckpt_new")
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    os.makedirs(src)

    _docs(spark, [(1, BASE)]).coalesce(1).write.mode("append").parquet(src)
    assert streaming_neardup_pipeline(spark, src, old_ckpt, store, out) == 1

    # a newer run: fresh checkpoint, same roots — commits batch_id=1
    _docs(spark, [(2, BASE + "tail two ")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_neardup_pipeline(spark, src, new_ckpt, store, out) == 1
    before = spark.read.parquet(store).count()

    # resuming the STALE checkpoint must refuse, not overwrite
    _docs(spark, [(3, BASE + "tail three ")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(StaleCheckpointError):
        streaming_neardup_pipeline(spark, src, old_ckpt, store, out)
    assert spark.read.parquet(store).count() == before  # intact

    # the NEWEST checkpoint for these roots still resumes fine
    assert streaming_neardup_pipeline(spark, src, new_ckpt, store, out) == 1

    # legacy single-field markers (pre-ceiling) skip the guard —
    # unknowable lineage, documented behavior, no false refusal
    legacy = str(tmp_path / "ckpt_legacy")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "_graft_run_base_0"), "w") as fh:
        fh.write("0")
    assert _run_base(out, store, checkpoint_dir=legacy) == 0


def test_fire_skeleton_empty_batch_fresh_base_and_replay(spark, tmp_path):
    """The shared fire discipline (`_drain_fires`), driven by a
    trivial fire that writes its rows to `batch_id={bid}`:
    (a) a batch of empty parquet files is no fire — no partition, and
        the checkpoint's allocation ceiling does not move;
    (b) a fresh checkpoint over a root that already holds partitions
        numbers its partitions above them;
    (c) a fire that raises after its write is replayed by the next run
        of the same checkpoint onto the same bid, overwriting it."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from unstract_spark.streaming.incremental import (
        _drain_fires,
        _parquet_stream,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    marker = os.path.join(ckpt, "_graft_run_base_0")
    attempts = []

    def run(fail: bool = False) -> int:
        def fire(batch, bid):
            attempts.append(bid)
            batch.withColumn("attempt", F.lit(len(attempts))).write.mode(
                "overwrite"
            ).parquet(f"{out}/batch_id={bid}")
            if fail:
                raise RuntimeError("crash after the fire's write")

        stream = _parquet_stream(spark, src, "doc_id long, text string")
        return _drain_fires(stream, ckpt, (out,), fire)

    def bids():
        return sorted(int(d.split("=")[1]) for d in os.listdir(out))

    # a partition an earlier run committed
    _docs(spark, [(0, "old")]).write.parquet(f"{out}/batch_id=7")

    # (a) a drop of one empty parquet file: epoch 0 runs, nothing fires
    _docs(spark, []).coalesce(1).write.mode("append").parquet(src)
    assert run() == 0
    assert attempts == [] and bids() == [7]
    assert open(marker).read().split() == ["8", "7"]

    # (b) epoch 1 is the first fire: bid = base 8 + 1, above the root's 7
    _docs(spark, [(1, "a"), (2, "b")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert run() == 1
    assert attempts == [9] and bids() == [7, 9]
    assert open(marker).read().split() == ["8", "9"]

    # (c) epoch 2 dies after its write; its rerun overwrites bid 10
    _docs(spark, [(3, "c")]).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(StreamingQueryException):
        run(fail=True)
    assert attempts == [9, 10] and bids() == [7, 9, 10]
    assert run() == 1
    assert attempts == [9, 10, 10] and bids() == [7, 9, 10]
    rows = spark.read.parquet(f"{out}/batch_id=10").collect()
    assert [(r.doc_id, r.attempt) for r in rows] == [(3, 3)]


def test_streaming_quantiles_merge_across_fires(spark, tmp_path):
    """The row-sample twin of the cross-fire KMV law: after two fires
    the stored sample must equal the batch sample of the union, the
    emitted quantiles must equal the batch sample_quantiles over the
    union, and an idempotent re-fire changes nothing."""
    from unstract_spark.operators import sketches
    from unstract_spark.streaming.incremental import (
        streaming_quantile_pipeline,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def vals(rows):
        return spark.createDataFrame(rows, "doc_id long, value double")

    fire1 = [(i, float(i * 7 % 101)) for i in range(60)]
    fire2 = [(i, float(i * 7 % 101)) for i in range(30, 90)]  # overlaps

    vals(fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_quantile_pipeline(
        spark, src, ckpt, store, out, k=32
    ) == 1

    vals(fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_quantile_pipeline(
        spark, src, ckpt, store, out, k=32
    ) == 1

    union_df = vals(fire1 + [r for r in fire2 if r[0] >= 60])
    expect_smp = sorted(
        (r.h, r.value)
        for r in sketches.kmv_row_sample(
            union_df, "doc_id", ["value"], k=32
        ).collect()
    )
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    got_smp = sorted(
        (r.h, r.value)
        for r in spark.read.parquet(f"{store}/batch_id={latest}").select(
            "h", "value"
        ).collect()
    )
    assert got_smp == expect_smp

    got_q = spark.read.parquet(f"{out}/batch_id={latest}").collect()[0]
    expect_q = sketches.sample_quantiles(
        union_df, "doc_id", "value", k=32
    ).collect()[0]
    assert (got_q.n_sample, got_q.p25, got_q.p50, got_q.p75, got_q.p95) == (
        expect_q.n_sample,
        expect_q.p25,
        expect_q.p50,
        expect_q.p75,
        expect_q.p95,
    )

    # idempotent re-fire: nothing new arrived — no fire, store intact
    assert streaming_quantile_pipeline(
        spark, src, ckpt, store, out, k=32
    ) == 0
    assert sorted(
        (r.h, r.value)
        for r in spark.read.parquet(f"{store}/batch_id={latest}").select(
            "h", "value"
        ).collect()
    ) == expect_smp


def test_streaming_ohlc_merges_across_fires(spark, tmp_path):
    """Candle partials must fold to exactly the batch answer: after
    two fires (buckets split AND shared across fires, including an
    open/close handoff inside one bucket) the emitted candles equal
    timeseries.ohlc_bars over the union, and a re-fire with nothing
    new changes nothing."""
    from datetime import datetime

    from unstract_spark.operators import timeseries
    from unstract_spark.streaming.incremental import streaming_ohlc_pipeline

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def ev(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, event_type string, value double",
        )

    h10 = lambda m: datetime(2024, 3, 1, 10, m)  # noqa: E731
    h11 = lambda m: datetime(2024, 3, 1, 11, m)  # noqa: E731
    # fire 2 carries an EARLIER event (id 5 at 10:01) than fire 1's
    # open (id 1 at 10:05) for the same bucket: the merged open must
    # come from fire 2 — the cross-fire comparison the merge exists for
    fire1 = [(1, h10(5), "a", 3.0), (2, h10(30), "a", 9.0),
             (3, h11(0), "a", 4.0), (4, h10(10), "b", 1.0)]
    fire2 = [(5, h10(1), "a", 7.0), (6, h10(59), "a", 2.0),
             (7, h11(30), "b", 8.0)]

    ev(fire1).coalesce(1).write.mode("append").parquet(src)
    assert streaming_ohlc_pipeline(spark, src, ckpt, store, out) == 1
    ev(fire2).coalesce(1).write.mode("append").parquet(src)
    assert streaming_ohlc_pipeline(spark, src, ckpt, store, out) == 1

    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/batch_id={latest}")
        .select("event_type", "bucket_start", "open", "high", "low",
                "close", "n_events")
        .collect()
    )
    expect = sorted(
        tuple(r) for r in timeseries.ohlc_bars(ev(fire1 + fire2)).collect()
    )
    assert got == expect
    # the merged 10:00 'a' candle opens with fire2's earlier tick
    a10 = [r for r in got if r[0] == "a" and r[1] == h10(0)][0]
    assert (a10[2], a10[5], a10[6]) == (7.0, 2.0, 4)

    # idempotent re-fire: nothing new — no fire, outputs intact
    assert streaming_ohlc_pipeline(spark, src, ckpt, store, out) == 0
    assert sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/batch_id={latest}")
        .select("event_type", "bucket_start", "open", "high", "low",
                "close", "n_events")
        .collect()
    ) == expect


def test_streaming_stats_pipeline_matches_batch_analyze(spark, tmp_path):
    """Incremental ANALYZE law: after two fires the published
    TableStatsStore must answer exactly as a batch analyze() of the
    union — sketch via mergeability, counters by exact addition —
    and a re-fire with nothing new changes nothing."""
    from unstract_spark.operators.stats_store import TableStatsStore
    from unstract_spark.streaming.incremental import streaming_stats_pipeline

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    acc = str(tmp_path / "acc")
    stats = str(tmp_path / "stats")
    os.makedirs(src)

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("w"), (F.col("id") % 70).cast("string"))
            .alias("text"),
        )

    docs(0, 60).coalesce(1).write.mode("append").parquet(src)
    assert streaming_stats_pipeline(
        spark, src, ckpt, acc, stats, "docs", ["text"], k=32
    ) == 1
    docs(60, 150).coalesce(1).write.mode("append").parquet(src)
    assert streaming_stats_pipeline(
        spark, src, ckpt, acc, stats, "docs", ["text"], k=32
    ) == 1

    live = TableStatsStore(spark, stats)
    ref_path = str(tmp_path / "stats_ref")
    ref = TableStatsStore(spark, ref_path)
    ref.analyze(docs(0, 150), "docs", ["text"], k=32)

    assert live.distinct_estimate("docs", "text") == \
        ref.distinct_estimate("docs", "text")
    lm, rm = live._meta("docs", "text"), ref._meta("docs", "text")
    assert (lm.n_rows, lm.n_nonnull, lm.n_sketch, lm.kth_hash) == (
        rm.n_rows, rm.n_nonnull, rm.n_sketch, rm.kth_hash
    )
    assert abs(lm.avg_len - rm.avg_len) < 1e-12

    # idempotent re-fire
    assert streaming_stats_pipeline(
        spark, src, ckpt, acc, stats, "docs", ["text"], k=32
    ) == 0
    assert TableStatsStore(spark, stats).distinct_estimate(
        "docs", "text"
    ) == ref.distinct_estimate("docs", "text")


def test_streaming_pattern_matches_batch_union(spark, tmp_path):
    """Cross-fire CEP == batch scan of the union, including a match
    that SPANS the fire boundary (fire1 ends mid-pattern, fire2
    completes it) and an error-blocked user. Then: idempotent
    re-fire, and max_tail >= longest match leaves results exact."""
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_match
    from unstract_spark.streaming.incremental import (
        streaming_pattern_pipeline,
    )

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    # user 1: fire1 = v c p v c  | fire2 = p v c p  (match spans)
    # user 2: fire1 = v e        | fire2 = c p      (blocked forever)
    fire1 = [
        (1, t(0), 1, "view"), (1, t(1), 2, "click"),
        (1, t(2), 3, "purchase"), (1, t(3), 4, "view"),
        (1, t(4), 5, "click"),
        (2, t(0), 11, "view"), (2, t(1), 12, "error"),
    ]
    fire2 = [
        (1, t(5), 6, "purchase"), (1, t(6), 7, "view"),
        (1, t(7), 8, "click"), (1, t(8), 9, "purchase"),
        (2, t(2), 13, "click"), (2, t(3), 14, "purchase"),
    ]
    sch = "user_id long, ts timestamp, event_id long, event_type string"
    cm = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    pat = "v[^e]*?c[^e]*?p"

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)

    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_pattern_pipeline(
        spark, src, ckpt, store, pat, cm
    ) == 1
    mid = {
        r.user_id: (r.n_matches, r.tail)
        for r in spark.read.parquet(store).collect()
    }
    assert mid[1] == (1, "vc")  # residual carries the open pattern
    assert mid[2] == (0, "ve")

    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_pattern_pipeline(
        spark, src, ckpt, store, pat, cm
    ) == 1

    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        r.user_id: (r.seq_len, r.n_matches, r.first_match,
                    r.total_match_len)
        for r in event_pattern_match(union, pat, cm).collect()
    }
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    got = {
        r.user_id: (r.seq_len, r.n_matches, r.first_match,
                    r.total_match_len)
        for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    }
    assert got == expect
    assert expect[1] == (9, 3, "vcp", 9)  # spanning match counted once

    # idempotent re-fire: nothing new — no fire, state intact
    assert streaming_pattern_pipeline(
        spark, src, ckpt, store, pat, cm
    ) == 0
    assert {
        r.user_id: r.n_matches
        for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    } == {u: v[1] for u, v in expect.items()}

    # max_tail >= longest possible match: exact on a fresh run
    ckpt2, store2 = str(tmp_path / "ckpt2"), str(tmp_path / "store2")
    assert streaming_pattern_pipeline(
        spark, src, ckpt2, store2, pat, cm, max_tail=6
    ) == 1
    latest2 = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store2)
        if d.startswith("batch_id=")
    )
    got2 = {
        r.user_id: (r.seq_len, r.n_matches, r.first_match,
                    r.total_match_len)
        for r in spark.read.parquet(
            f"{store2}/batch_id={latest2}"
        ).collect()
    }
    assert got2 == expect


def test_streaming_pattern_crash_replay_clean(spark, tmp_path):
    """A replayed epoch's state write must OVERWRITE its own
    half-written partition and merge against the PREVIOUS snapshot
    (excluded-current-epoch read) — a poisoned in-flight partition
    must not double-count matches or corrupt residuals."""
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_match
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        streaming_pattern_pipeline,
    )

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    sch = "user_id long, ts timestamp, event_id long, event_type string"
    cm = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    pat = "v[^e]*?c[^e]*?p"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)

    fire1 = [(1, t(0), 1, "view"), (1, t(1), 2, "click")]
    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_pattern_pipeline(
        spark, src, ckpt, store, pat, cm
    ) == 1

    # crashed epoch-1 attempt: poisoned counters that a blind append
    # or an unexcluded read would fold in
    _pin_bid(ckpt, 1)
    spark.createDataFrame(
        [(1, 999, 999, 999, "zzz", "zzz")],
        "user_id long, n_matches long, total_match_len long,"
        " seq_len long, first_match string, tail string",
    ).write.parquet(f"{store}/batch_id=1")

    fire2 = [(1, t(2), 3, "purchase")]
    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_pattern_pipeline(
        spark, src, ckpt, store, pat, cm
    ) == 1

    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        r.user_id: (r.seq_len, r.n_matches, r.total_match_len)
        for r in event_pattern_match(union, pat, cm).collect()
    }
    got = {
        r.user_id: (r.seq_len, r.n_matches, r.total_match_len)
        for r in spark.read.parquet(f"{store}/batch_id=1").collect()
    }
    assert got == expect == {1: (3, 1, 3)}


def test_streaming_dq_counters_add_across_fires(spark, tmp_path):
    """Cross-fire DQ counters == the batch expectation suite over the
    union (restricted to the distributive CASE-sum checks), a check
    can flip pass -> fail when the first violation arrives, and an
    idempotent re-fire leaves the report intact."""
    from unstract_spark.operators.profile import expectation_report
    from unstract_spark.streaming.incremental import streaming_dq_pipeline

    checks = [
        ("complete_text", F.col("text").isNull()),
        ("positive_id", F.col("doc_id") <= 0),
    ]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)
    sch = "doc_id long, text string"

    fire1 = [(1, "alpha"), (2, "beta")]
    fire2 = [(3, None), (-4, "gamma"), (5, "delta")]

    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_dq_pipeline(spark, src, ckpt, store, checks) == 1
    mid = {
        r.check_name: (r.n_checked, r.n_violations, r.status)
        for r in spark.read.parquet(store).collect()
    }
    assert mid == {
        "complete_text": (2, 0, "pass"),
        "positive_id": (2, 0, "pass"),
    }

    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_dq_pipeline(spark, src, ckpt, store, checks) == 1

    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        r.check_name: (r.n_checked, r.n_violations, r.status)
        for r in expectation_report(union, checks).collect()
    }
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    got = {
        r.check_name: (r.n_checked, r.n_violations, r.status)
        for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    }
    assert got == expect
    assert got["complete_text"] == (5, 1, "fail")

    assert streaming_dq_pipeline(spark, src, ckpt, store, checks) == 0
    assert {
        r.check_name: (r.n_checked, r.n_violations, r.status)
        for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    } == expect


def test_streaming_join_view_deltas_union_to_batch_join(spark, tmp_path):
    """The IVM identity: the union of per-fire deltas equals the
    batch join of everything that arrived, with pairs completed in
    BOTH directions (left waits for right and vice versa) and within
    one fire; re-fire emits nothing; a crash replay rebuilds the same
    delta instead of double-counting."""
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        streaming_join_view_pipeline,
    )

    sch = "side string, k long, val string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [("L", 1, "l1"), ("L", 2, "l2"), ("R", 2, "r2a"),
             ("R", 9, "r9")]
    fire2 = [("R", 1, "r1"), ("R", 2, "r2b"), ("L", 9, "l9"),
             ("L", 3, "l3"), ("R", 3, "r3")]

    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_join_view_pipeline(
        spark, src, ckpt, state, out
    ) == 1
    d1 = {
        (r.k, r.l_val, r.r_val)
        for r in spark.read.parquet(f"{out}/batch_id=0").collect()
    }
    assert d1 == {(2, "l2", "r2a")}  # same-fire completion only

    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_join_view_pipeline(
        spark, src, ckpt, state, out
    ) == 1

    allrows = spark.createDataFrame(fire1 + fire2, sch)
    lt = allrows.filter("side = 'L'").selectExpr("k", "val AS l_val")
    rt = allrows.filter("side = 'R'").selectExpr(
        "k AS k2", "val AS r_val"
    )
    expect = {
        (r.k, r.l_val, r.r_val)
        for r in lt.join(rt, lt["k"] == rt["k2"]).select(
            "k", "l_val", "r_val"
        ).collect()
    }
    got = {
        (r.k, r.l_val, r.r_val)
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert got == expect
    # both directions completed across fires + the deferred pair
    assert (1, "l1", "r1") in got      # L waited for R
    assert (9, "l9", "r9") in got      # R waited for L
    assert (2, "l2", "r2b") in got     # old L x new R multiplicity

    # view rows are counted once each (multiset check)
    n_out = spark.read.parquet(out).count()
    assert n_out == lt.join(rt, lt["k"] == rt["k2"]).count()

    # idempotent re-fire
    assert streaming_join_view_pipeline(
        spark, src, ckpt, state, out
    ) == 0
    assert spark.read.parquet(out).count() == n_out

    # crash replay: poison epoch-2 partitions as a died-after-write
    # attempt, then deliver fire3 — the replayed epoch must rebuild
    # its delta from committed state only
    _pin_bid(ckpt, 2)
    spark.createDataFrame(
        [(77, "xx", "yy")], "k long, l_val string, r_val string"
    ).write.parquet(f"{out}/batch_id=2")
    spark.createDataFrame(
        [(77, "xx")], "k long, val string"
    ).write.parquet(f"{state}/L/batch_id=2")
    fire3 = [("R", 77, "r77"), ("L", 5, "l5"), ("R", 5, "r5")]
    spark.createDataFrame(fire3, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_join_view_pipeline(
        spark, src, ckpt, state, out
    ) == 1
    d3 = {
        (r.k, r.l_val, r.r_val)
        for r in spark.read.parquet(f"{out}/batch_id=2").collect()
    }
    assert d3 == {(5, "l5", "r5")}  # poisoned rows replaced


def test_streaming_upsert_matches_batch_changelog_apply(spark, tmp_path):
    """The upsert view after N fires == batch changelog_apply over
    every change that ever arrived, including an OUT-OF-ORDER late
    update that must lose to the stored winner, and a tombstone that
    must block resurrection by a late lower-seq update."""
    from unstract_spark.operators.joins import changelog_apply
    from unstract_spark.streaming.incremental import (
        read_upsert_view,
        streaming_upsert_pipeline,
    )

    sch = "k long, seq long, op string, val string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)

    # seed the state with the "base snapshot" as seq-0 inserts
    base_rows = [(1, 0, "U", "base1"), (2, 0, "U", "base2"),
                 (3, 0, "U", "base3")]
    fire2 = [(1, 10, "U", "v10"), (2, 12, "D", None),
             (4, 11, "U", "new4")]
    # late, lower-seq arrivals: k=1 older update, k=2 pre-delete
    # update (must NOT resurrect), k=3 fresh update
    fire3 = [(1, 5, "U", "stale"), (2, 6, "U", "zombie"),
             (3, 20, "U", "v20")]

    for i, rows in enumerate((base_rows, fire2, fire3)):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert streaming_upsert_pipeline(
            spark, src, ckpt, store
        ) == 1

    got = {
        r.k: (r.seq, r.val)
        for r in read_upsert_view(spark, store).collect()
    }
    assert got == {1: (10, "v10"), 3: (20, "v20"), 4: (11, "new4")}

    # batch twin: changelog_apply over base + all changes
    base = spark.createDataFrame(
        [(1, "base1"), (2, "base2"), (3, "base3")], "k long, val string"
    )
    ch = spark.createDataFrame(fire2 + fire3, sch)
    expect = {
        r.k: r.val
        for r in changelog_apply(base, ch, "k", "seq").collect()
    }
    assert {k: v for k, (_, v) in got.items()} == expect

    # idempotent re-fire
    assert streaming_upsert_pipeline(spark, src, ckpt, store) == 0
    assert {
        r.k: (r.seq, r.val)
        for r in read_upsert_view(spark, store).collect()
    } == got


def test_streaming_cms_matrix_equals_batch(spark, tmp_path):
    """CMS is linear: the stored counter matrix after two fires must
    equal the batch sketch of all streamed text CELL FOR CELL, and
    lookups against it give the same (over-)estimates."""
    from unstract_spark.operators.text_analysis import (
        cms_lookup,
        count_min_sketch,
    )
    from unstract_spark.streaming.incremental import streaming_cms_pipeline

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)
    sch = "doc_id long, text string"

    fire1 = [(1, "alpha beta alpha"), (2, "gamma beta")]
    fire2 = [(3, "alpha delta"), (4, "beta beta epsilon")]
    for rows in (fire1, fire2):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert streaming_cms_pipeline(
            spark, src, ckpt, store, width=64
        ) == 1

    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    got = {
        (r.j, r.bucket): r.cnt
        for r in spark.read.parquet(f"{store}/batch_id={latest}").collect()
    }
    expect = {
        (r.j, r.bucket): r.cnt
        for r in count_min_sketch(
            spark.createDataFrame(fire1 + fire2, sch), width=64
        ).collect()
    }
    assert got == expect

    stored = spark.read.parquet(f"{store}/batch_id={latest}").select(
        "j", "bucket", "cnt"
    )
    terms = spark.createDataFrame(
        [("alpha",), ("beta",), ("nope",)], "w string"
    )
    est = {
        r.w: r.cms_est
        for r in cms_lookup(stored, terms, width=64).collect()
    }
    assert est["alpha"] >= 3 and est["beta"] >= 4  # never under

    assert streaming_cms_pipeline(spark, src, ckpt, store, width=64) == 0


def test_streaming_islands_match_batch_merge(spark, tmp_path):
    """Under in-order-by-start delivery, closed + open islands after
    N fires equal batch merge_intervals of every interval that
    arrived — island NUMBERS included — covering: an island extended
    across fires, an open island that a later fire's interval chains
    THROUGH (the open end reaches past a batch-local gap), and keys
    appearing in only one fire."""
    from unstract_spark.operators.joins import merge_intervals
    from unstract_spark.streaming.incremental import (
        read_islands_view,
        streaming_islands_pipeline,
    )

    sch = "k long, s long, e long, id long"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)

    # key 1: [0,100] open; fire2 brings [10,20] and [50,60] which the
    #        open island swallows despite their batch-local gap, then
    #        [200,210] starts a new island
    # key 2: [0,5] closes when [10,15] arrives (gap), which then
    #        extends via [15,30]
    # key 3: single fire-1 island, untouched later
    fire1 = [(1, 0, 100, 1), (2, 0, 5, 2), (3, 7, 9, 3)]
    fire2 = [(1, 10, 20, 4), (1, 50, 60, 5), (1, 200, 210, 6),
             (2, 10, 15, 7), (2, 15, 30, 8)]
    for rows in (fire1, fire2):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert streaming_islands_pipeline(
            spark, src, ckpt, state, out
        ) == 1

    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        (r.k, r.island): (r.island_start, r.island_end,
                          r.n_intervals, r.covered)
        for r in merge_intervals(union, "k", "s", "e", "id").collect()
    }
    got = {
        (r.k, r.island_no): (r.island_start, r.island_end,
                             r.n_intervals, r.covered)
        for r in read_islands_view(spark, state, out).collect()
    }
    assert got == expect
    assert expect[(1, 1)] == (0, 100, 3, 100)   # chained through
    assert expect[(2, 2)] == (10, 30, 2, 20)

    # idempotent re-fire
    assert streaming_islands_pipeline(
        spark, src, ckpt, state, out
    ) == 0
    assert {
        (r.k, r.island_no) for r in
        read_islands_view(spark, state, out).collect()
    } == set(expect)


def test_streaming_triangles_match_batch(spark, tmp_path):
    """Per-node triangle counts after two fires == batch
    triangle_count of all edges, with fire 2 creating triangles of
    every delta class: one-new-edge (closing an old wedge),
    two-new-edges (old closing edge), all-new, plus a re-inserted
    duplicate edge that must be a no-op."""
    from unstract_spark.operators.graph import triangle_count
    from unstract_spark.streaming.incremental import (
        streaming_triangle_pipeline,
    )

    sch = "src long, dst long"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)

    # fire 1: wedge 1-2, 1-3 (no triangle); edge 5-6; triangle 7,8,9
    fire1 = [(1, 2), (1, 3), (5, 6), (7, 8), (8, 9), (7, 9)]
    # fire 2: 2-3 closes the OLD wedge (1 new edge);
    #         5-7 and 6-7 form a wedge closed by OLD 5-6 (2 new);
    #         10-11, 11-12, 10-12 all-new triangle;
    #         re-insert 7-8 (no-op)
    fire2 = [(2, 3), (5, 7), (6, 7), (10, 11), (11, 12), (10, 12),
             (7, 8)]
    for rows in (fire1, fire2):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert streaming_triangle_pipeline(
            spark, src, ckpt, state, out
        ) == 1

    union = spark.createDataFrame(
        sorted(set(fire1 + fire2)), sch
    )
    expect = {
        r.node: r.n_triangles for r in triangle_count(union).collect()
    }
    latest = max(
        int(d.rsplit("=", 1)[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    got = {
        r.node: r.n_triangles
        for r in spark.read.parquet(f"{out}/batch_id={latest}").collect()
    }
    assert got == expect
    assert expect == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1, 7: 2, 8: 1,
                      9: 1, 10: 1, 11: 1, 12: 1}

    # idempotent re-fire
    assert streaming_triangle_pipeline(
        spark, src, ckpt, state, out
    ) == 0
    assert {
        r.node: r.n_triangles
        for r in spark.read.parquet(f"{out}/batch_id={latest}").collect()
    } == expect


def test_streaming_scd2_matches_batch_build(spark, tmp_path):
    """Closed + open versions after two fires == batch scd2_build of
    every change, validity bounds AND absolute version numbers
    included: a key versioned across fires (the open version closes
    when the next fire's change arrives), a single-version key, and a
    key born in fire 2."""
    from datetime import datetime

    from unstract_spark.operators.joins import scd2_build
    from unstract_spark.streaming.incremental import (
        read_scd2_view,
        streaming_scd2_pipeline,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    sch = "k long, seq long, ts timestamp, val string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)

    fire1 = [(1, 10, t(1), "a1"), (1, 11, t(3), "a2"),
             (2, 20, t(2), "b1")]
    fire2 = [(1, 12, t(5), "a3"), (3, 30, t(6), "c1"),
             (3, 31, t(7), "c2")]
    for rows in (fire1, fire2):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert streaming_scd2_pipeline(
            spark, src, ckpt, state, out
        ) == 1

    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in scd2_build(union, "k", "seq", "ts").collect()
    }
    got = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in read_scd2_view(spark, state, out).collect()
    }
    assert got == expect
    # the cross-fire closure: version 2 of key 1 closed at t(5)
    assert expect[(1, 2)] == ("a2", t(3), t(5))
    assert expect[(1, 3)] == ("a3", t(5), None)

    assert streaming_scd2_pipeline(spark, src, ckpt, state, out) == 0
    assert {
        (r.k, r.version)
        for r in read_scd2_view(spark, state, out).collect()
    } == set(expect)


def test_streaming_upsert_crash_replay_clean(spark, tmp_path):
    """A replayed epoch's state snapshot must be rebuilt from the
    PREVIOUS snapshot plus the batch — a poisoned in-flight partition
    (wrong winner, bogus keys) is overwritten, never merged."""
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        read_upsert_view,
        streaming_upsert_pipeline,
    )

    sch = "k long, seq long, op string, val string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1, "U", "v1"), (2, 1, "U", "w1")], sch
    ).coalesce(1).write.mode("append").parquet(src)
    assert streaming_upsert_pipeline(spark, src, ckpt, store) == 1

    _pin_bid(ckpt, 1)
    spark.createDataFrame(
        [(1, 999, "U", "poison"), (77, 9, "U", "ghost")], sch
    ).write.parquet(f"{store}/batch_id=1")

    spark.createDataFrame(
        [(1, 2, "U", "v2"), (2, 2, "D", None)], sch
    ).coalesce(1).write.mode("append").parquet(src)
    assert streaming_upsert_pipeline(spark, src, ckpt, store) == 1
    got = {
        r.k: r.val for r in read_upsert_view(spark, store).collect()
    }
    assert got == {1: "v2"}  # no poison winner, no ghost key


def test_streaming_islands_crash_replay_clean(spark, tmp_path):
    """A poisoned epoch-1 state snapshot (bogus open island) and
    closed partition are rebuilt from committed state on replay."""
    from unstract_spark.operators.joins import merge_intervals
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        read_islands_view,
        streaming_islands_pipeline,
    )

    sch = "k long, s long, e long, id long"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)
    fire1 = [(1, 0, 10, 1)]
    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_islands_pipeline(
        spark, src, ckpt, state, out
    ) == 1

    _pin_bid(ckpt, 1)
    spark.createDataFrame(
        [(1, 777, 888, 99, 42)],
        "k long, open_start long, open_end long, open_n long,"
        " closed_cnt long",
    ).write.parquet(f"{state}/batch_id=1")
    spark.createDataFrame(
        [(1, 41, 500, 600, 3, 100)],
        "k long, island_no long, island_start long, island_end long,"
        " n_intervals long, covered long",
    ).write.parquet(f"{out}/batch_id=1")

    fire2 = [(1, 20, 30, 2)]
    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_islands_pipeline(
        spark, src, ckpt, state, out
    ) == 1
    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        (r.k, r.island): (r.island_start, r.island_end, r.n_intervals)
        for r in merge_intervals(union, "k", "s", "e", "id").collect()
    }
    got = {
        (r.k, r.island_no): (r.island_start, r.island_end,
                             r.n_intervals)
        for r in read_islands_view(spark, state, out).collect()
    }
    assert got == expect == {(1, 1): (0, 10, 1), (1, 2): (20, 30, 1)}


def test_streaming_scd2_crash_replay_clean(spark, tmp_path):
    """A poisoned epoch-1 open-version snapshot and closed partition
    are rebuilt from the committed epoch-0 state on replay."""
    from datetime import datetime

    from unstract_spark.operators.joins import scd2_build
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        read_scd2_view,
        streaming_scd2_pipeline,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    sch = "k long, seq long, ts timestamp, val string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)
    fire1 = [(1, 10, t(1), "a1")]
    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_scd2_pipeline(spark, src, ckpt, state, out) == 1

    _pin_bid(ckpt, 1)
    spark.createDataFrame(
        [(1, 99, t(9), "poison", 77)],
        "k long, seq long, ts timestamp, val string, version long",
    ).write.parquet(f"{state}/batch_id=1")
    spark.createDataFrame(
        [(1, 98, t(8), "ghost", 76, t(8), t(9))],
        "k long, seq long, ts timestamp, val string, version long,"
        " valid_from timestamp, valid_to timestamp",
    ).write.parquet(f"{out}/batch_id=1")

    fire2 = [(1, 11, t(4), "a2")]
    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_scd2_pipeline(spark, src, ckpt, state, out) == 1
    union = spark.createDataFrame(fire1 + fire2, sch)
    expect = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in scd2_build(union, "k", "seq", "ts").collect()
    }
    got = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in read_scd2_view(spark, state, out).collect()
    }
    assert got == expect == {
        (1, 1): ("a1", t(1), t(4)), (1, 2): ("a2", t(4), None)
    }


def test_streaming_triangles_crash_replay_clean(spark, tmp_path):
    """A poisoned in-flight epoch (bogus counts, a planted edge that
    was never committed) must be rebuilt from committed state: the
    replay's edge anti-join sees only epoch-0 edges and the count
    merge reads only the epoch-0 snapshot."""
    from unstract_spark.operators.graph import triangle_count
    from unstract_spark.streaming.incremental import (
        _pin_bid,
        streaming_triangle_pipeline,
    )

    sch = "src long, dst long"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    os.makedirs(src)
    fire1 = [(1, 2), (2, 3)]
    spark.createDataFrame(fire1, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_triangle_pipeline(
        spark, src, ckpt, state, out
    ) == 1

    _pin_bid(ckpt, 1)
    spark.createDataFrame([(9, 99)], sch).write.parquet(
        f"{state}/edges/batch_id=1"
    )
    spark.createDataFrame(
        [(9, 999)], "node long, n_triangles long"
    ).write.parquet(f"{out}/batch_id=1")

    fire2 = [(1, 3)]  # closes the wedge -> one triangle
    spark.createDataFrame(fire2, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_triangle_pipeline(
        spark, src, ckpt, state, out
    ) == 1
    expect = {
        r.node: r.n_triangles
        for r in triangle_count(
            spark.createDataFrame(fire1 + fire2, sch)
        ).collect()
    }
    got = {
        r.node: r.n_triangles
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }
    assert got == expect == {1: 1, 2: 1, 3: 1}


def test_pattern_end_extensible_classifier_and_gate(spark, tmp_path):
    """Patterns whose match end a future character could EXTEND must
    be rejected up front (the r11 ADVICE gap: 'a+' over fires
    'aa','aa' counts 2 matches where the batch scan of the union
    counts 1) — while the safe future-blind class still passes."""
    import pytest

    from unstract_spark.streaming.incremental import (
        _pattern_end_extensible,
        streaming_pattern_pipeline,
    )

    # greedy/unbounded final atom -> extensible -> rejected
    for bad in ("a+", "vc*", "ab?", "a(bc)*", "(ab?){2}", "a|b+",
                "ab{2,}", "ab{1,3}"):
        assert _pattern_end_extensible(bad), bad
    # fixed final atom (or lazy end) -> a completed match is final
    for ok in ("ab", "a+b", "a*b", "[xy]+z", "v[^e]*?c[^e]*?p",
               "ab+?", "ab*?", "(a|b+)c", "ab{2}", "a(b?c){2}"):
        assert not _pattern_end_extensible(ok), ok

    src = str(tmp_path / "src")
    os.makedirs(src)
    with pytest.raises(ValueError, match="extensible by future text"):
        streaming_pattern_pipeline(
            spark, src, str(tmp_path / "ckpt"), str(tmp_path / "store"),
            "a+", {"a": "a"},
        )


def test_read_scd2_view_named_ts_col(spark, tmp_path):
    """read_scd2_view labels validity bounds by the NAMED ts column
    (r11 ADVICE: positional inference mislabels any schema that does
    not place ts third) — a schema with ts last works, a wrong name
    fails loudly instead of mislabeling."""
    from datetime import datetime

    import pytest

    from unstract_spark.operators.joins import scd2_build
    from unstract_spark.streaming.incremental import (
        read_scd2_view,
        streaming_scd2_pipeline,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    # ts is the FOURTH column: positional [2] would grab `val`
    sch = "k long, seq long, val string, when_ts timestamp"
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [(1, 10, "a1", t(1)), (1, 11, "a2", t(3)), (2, 20, "b1", t(2))]
    spark.createDataFrame(rows, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert streaming_scd2_pipeline(
        spark, src, str(tmp_path / "ckpt"), str(tmp_path / "state"),
        str(tmp_path / "out"), ts_col="when_ts", schema=sch,
    ) == 1
    expect = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in scd2_build(
            spark.createDataFrame(rows, sch), "k", "seq", "when_ts"
        ).collect()
    }
    got = {
        (r.k, r.version): (r.val, r.valid_from, r.valid_to)
        for r in read_scd2_view(
            spark, str(tmp_path / "state"), str(tmp_path / "out"),
            ts_col="when_ts",
        ).collect()
    }
    assert got == expect
    assert expect[(1, 2)] == ("a2", t(3), None)

    with pytest.raises(ValueError, match="ts_col"):
        read_scd2_view(
            spark, str(tmp_path / "state"), str(tmp_path / "out"),
            ts_col="nope",
        )
