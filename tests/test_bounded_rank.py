"""bounded_rank regression: the windowless global top-k must stay
correct on multi-partition input with score ties at the k boundary —
its rank derivation leans on monotonically_increasing_id() over a
coalesced re-sorted single partition, which is optimizer-sensitive
(ADVICE r3), so the contract is pinned by test.
"""

from pyspark.sql import functions as F

from unstract_spark.operators.retrieval import bounded_rank


def _scored(spark, rows, partitions=8):
    return spark.createDataFrame(rows, "id string, score double").repartition(partitions)


def test_bounded_rank_multi_partition_with_boundary_ties(spark):
    # scores: 9.0 x1, 5.0 x4 (tie straddles k=3 boundary), 1.0 x2
    rows = [
        ("a", 9.0),
        ("t1", 5.0), ("t2", 5.0), ("t3", 5.0), ("t4", 5.0),
        ("z1", 1.0), ("z2", 1.0),
    ]
    df = _scored(spark, rows)
    out = bounded_rank(
        df, [F.col("score").desc(), F.col("id").asc()], k=3
    ).collect()
    # deterministic cut: the id tie-break decides which 5.0s survive
    assert [(r.id, r.rank) for r in out] == [("a", 1), ("t1", 2), ("t2", 3)]


def test_bounded_rank_rank_sequence_is_dense_and_ordered(spark):
    rows = [(f"id{i:03d}", float(i % 7)) for i in range(100)]
    out = bounded_rank(
        _scored(spark, rows, partitions=16),
        [F.col("score").desc(), F.col("id").asc()],
        k=10,
    ).collect()
    assert [r.rank for r in out] == list(range(1, 11))
    # ranks agree with the requested total order
    keys = [(-r.score, r.id) for r in out]
    assert keys == sorted(keys)


def test_bounded_rank_k_larger_than_input(spark):
    rows = [("a", 2.0), ("b", 1.0)]
    out = bounded_rank(
        _scored(spark, rows, partitions=4),
        [F.col("score").desc(), F.col("id").asc()],
        k=50,
    ).collect()
    assert [(r.id, r.rank) for r in out] == [("a", 1), ("b", 2)]


# -- plan_audit flag classifier ------------------------------------------


def test_plan_audit_flags():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import audit_plan

    ok_plan = "TakeOrderedAndProject(limit=10)\n+- Exchange hashpartitioning\n+- HashAggregate"
    flags, stats = audit_plan(ok_plan, "[codegen id : 1] [codegen id : 2]")
    assert flags == []
    assert stats["exchanges"] == 1 and stats["codegen_spans"] == 2

    bad = "+- SortAggregate(key=[x])\n+- CartesianProduct\n+- Sort [a ASC NULLS FIRST], true, 0"
    flags, _ = audit_plan(bad)
    assert len(flags) == 3

    local_sort = "+- Sort [a ASC], false, 0"  # per-partition sort is fine
    assert audit_plan(local_sort)[0] == []
