"""Sharded HNSW graph ANN (operators/hnsw.py).

No SQL oracle by design (graph search has no SQL twin — keeping it
out of the registry preserves the zero-rows-only gate); quality and
semantics pin here: recall vs brute force, determinism, shard
isolation, degenerate inputs.
"""

import numpy as np
import pytest

from unstract_spark.operators.hnsw import _HnswIndex, _level_of, hnsw_topk_join
from unstract_spark.operators.similarity import brute_force_topk


def _frames(spark, n=400, dim=16, seed=11, n_q=12):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(f"vec_id < {n_q}").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    return q, emb


def test_levels_are_deterministic_and_geometricish():
    import math

    m_l = 1.0 / math.log(8)
    levels = [_level_of(i, m_l) for i in range(5000)]
    assert levels == [_level_of(i, m_l) for i in range(5000)]
    # ~ (1 - 1/M) of nodes at level 0 for M=8
    frac0 = sum(1 for l in levels if l == 0) / len(levels)
    assert 0.8 < frac0 < 0.95
    assert max(levels) >= 2  # hierarchy actually forms


def test_single_shard_index_exact_on_self_queries():
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(300, 8))
    idx = _HnswIndex(m=8, ef_construction=64)
    idx.build(list(range(300)), vecs)
    for probe in (0, 13, 299):
        assert idx.search(vecs[probe], 3, 64)[0][0] == probe


def test_hnsw_recall_and_determinism(spark):
    q, emb = _frames(spark)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, emb, k=10).collect()
    }
    a = hnsw_topk_join(q, emb, dim=16, k=10, n_shards=4).collect()
    got = {(r.query_id, r.vec_id) for r in a}
    assert len(got & exact) / len(exact) >= 0.9
    assert all(r.rank <= 10 for r in a)
    b = {(r.query_id, r.vec_id, r.rank) for r in
         hnsw_topk_join(q, emb, dim=16, k=10, n_shards=4).collect()}
    assert b == {(r.query_id, r.vec_id, r.rank) for r in a}


def test_hnsw_shard_count_changes_nothing_much(spark):
    """Shard membership only affects which graph answers — union of
    shard answers still finds the planted neighbors."""
    q, emb = _frames(spark, n=200, n_q=6)
    r1 = {(r.query_id, r.vec_id) for r in
          hnsw_topk_join(q, emb, dim=16, k=5, n_shards=1).collect()}
    r8 = {(r.query_id, r.vec_id) for r in
          hnsw_topk_join(q, emb, dim=16, k=5, n_shards=8).collect()}
    # self-match always present in both
    for qid in range(6):
        assert (qid, qid) in r1 and (qid, qid) in r8


def test_hnsw_dim_mismatch_raises(spark):
    q, emb = _frames(spark, n=50, n_q=2)
    with pytest.raises(ValueError, match="dim"):
        hnsw_topk_join(q, emb, dim=32, k=3)


def test_dispatcher_hnsw_override(spark):
    from unstract_spark.operators.similarity import similarity_topk

    q, emb = _frames(spark, n=80, n_q=2)
    got, plan = similarity_topk(q, emb, dim=16, k=4, strategy="hnsw")
    assert plan.strategy == "hnsw" and plan.params["m"] == 8
    assert plan.est_mults > 0
    rows = got.collect()
    assert len(rows) == 8 and all(r.rank <= 4 for r in rows)
    # self-match survives the dispatcher path
    assert {(r.query_id, r.vec_id) for r in rows if r.rank == 1} == {(0, 0), (1, 1)}


def test_hnsw_string_ids(spark):
    """Non-long ids ride the schema-derived contract."""
    import numpy as np

    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(40, 8))
    emb = spark.createDataFrame(
        [(f"doc-{i}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<float>",
    )
    q = emb.filter("vec_id = 'doc-3'").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    rows = hnsw_topk_join(q, emb, dim=8, k=3).collect()
    assert rows[0].vec_id == "doc-3" and rows[0].rank == 1


def test_hnsw_store_build_query_matches_transient(spark, tmp_path):
    """Persistent store round-trip: serialized graphs answer queries
    identically to the transient per-call build with the same shard
    count (same graphs, reload instead of re-insert)."""
    import numpy as np

    from unstract_spark.operators.hnsw import HnswIndexStore, hnsw_topk_join

    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(300, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    store = HnswIndexStore(spark, str(tmp_path / "hnsw_idx"))
    assert store.build(emb, n_shards=4) == 300  # every node serialized

    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in store.query(q, k=5, ef_search=64).collect()
    }
    transient = {
        (r.query_id, r.vec_id, r.rank)
        for r in hnsw_topk_join(q, emb, dim=16, k=5, n_shards=4).collect()
    }
    assert got == transient
    # query twice: immutable artifact, same answer
    again = {
        (r.query_id, r.vec_id, r.rank)
        for r in store.query(q, k=5, ef_search=64).collect()
    }
    assert again == got


def test_hnsw_store_string_ids_and_empty(spark, tmp_path):
    import numpy as np

    from unstract_spark.operators.hnsw import HnswIndexStore

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 8))
    emb = spark.createDataFrame(
        [(f"doc-{i}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<float>",
    )
    store = HnswIndexStore(spark, str(tmp_path / "sidx"))
    assert store.build(emb, n_shards=2) == 30
    q = emb.filter("vec_id = 'doc-7'").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    rows = store.query(q, k=3).collect()
    assert rows[0].vec_id == "doc-7" and rows[0].rank == 1

    empty = emb.filter("vec_id = 'nope'")
    store2 = HnswIndexStore(spark, str(tmp_path / "eidx"))
    assert store2.build(empty, n_shards=2) == 0
    assert store2.query(q, k=3).count() == 0
