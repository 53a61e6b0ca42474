"""Line-item continuation loop, IVF ANN, API upload source, metrics
merge + hypothesis property tests for JSON repair."""

import hashlib
import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from unstract_spark.operators.enrich import repair_json
from unstract_spark.operators.lineitems import extract_line_items, mock_lineitem_provider
from unstract_spark.operators.similarity import brute_force_topk, ivf_topk_join
from unstract_spark.operators.usage import merge_stage_metrics
from unstract_spark.sources.catalog import api_upload_catalog


# ---------- line-item continuation ----------


def test_line_items_complete_across_rounds(spark):
    df = spark.createDataFrame(
        [(i, f"fp-{i}") for i in range(12)], "doc_id long, fingerprint string"
    )
    out = {r.doc_id: r for r in extract_line_items(df).collect()}
    assert len(out) == 12
    for i in range(12):
        expected_n = (int(hashlib.md5(f"fp-{i}".encode()).hexdigest()[:2], 16) % 10) + 1
        row = out[i]
        assert row.n_items == expected_n  # continuation stitched everything
        items = json.loads(row.line_items)
        assert [it["line_no"] for it in items] == list(range(expected_n))  # ordered, no dups
        # page size 4 -> rounds = ceil(n/4)
        assert row.rounds == -(-expected_n // 4)


def test_line_items_round_bound(spark):
    df = spark.createDataFrame([(1, "fp-big")], "doc_id long, fingerprint string")
    out = extract_line_items(df, max_rounds=1).collect()[0]
    assert out.rounds == 1 and out.n_items <= 4  # truncated at the bound


# ---------- IVF ANN ----------


def test_ivf_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 16)).astype(np.float32)
    queries = base[:8] + rng.normal(scale=0.03, size=(8, 16)).astype(np.float32)
    index = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)], "vec_id long, embedding array<float>"
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries)],
        "query_id long, query_vec array<float>",
    )
    exact_top1 = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(qdf, index, k=1).collect()
    }
    approx = ivf_topk_join(qdf, index, dim=16, k=3, n_centroids=8, n_probe=3)
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_top1 & approx_pairs) / len(exact_top1)
    assert recall >= 0.7  # 3/8 cells probed should catch most planted neighbors


# ---------- API upload source ----------


def test_api_upload_catalog(spark):
    cat = api_upload_catalog(
        spark,
        [("a.txt", b"alpha body"), ("b.pdf", b"%PDF fake"), ("empty.txt", b""),
         ("a.txt", b"alpha body")],  # duplicate in request
    ).collect()
    by_name = {}
    for r in cat:
        by_name.setdefault(r.file_name, []).append(r)
    assert len(by_name["a.txt"]) == 1  # in-request dedup
    assert "empty.txt" not in by_name  # zero-byte drop
    assert by_name["b.pdf"][0].mime_type == "application/pdf"
    assert by_name["a.txt"][0].file_hash == hashlib.sha256(b"alpha body").hexdigest()


# ---------- metrics merge ----------


def test_merge_stage_metrics_later_wins(spark):
    s1 = spark.createDataFrame(
        [("r1", {"extract_s": 1.0, "total_s": 1.0})], "run_id string, metrics map<string,double>"
    )
    s2 = spark.createDataFrame(
        [("r1", {"index_s": 2.0, "total_s": 3.0})], "run_id string, metrics map<string,double>"
    )
    out = merge_stage_metrics([s1, s2]).collect()[0]
    assert out.metrics["extract_s"] == 1.0
    assert out.metrics["index_s"] == 2.0
    assert out.metrics["total_s"] in (1.0, 3.0)  # one wins, none lost


# ---------- property test: JSON repair never emits invalid JSON ----------


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_repair_json_always_valid_or_none(raw):
    got = repair_json(raw)
    if got is not None:
        json.loads(got)  # must parse


@given(st.recursive(
    st.one_of(st.none(), st.booleans(), st.integers(), st.text(max_size=20)),
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=10,
))
@settings(max_examples=100, deadline=None)
def test_repair_json_preserves_valid_documents(doc):
    s = json.dumps(doc)
    got = repair_json(s)
    if isinstance(doc, (dict, list)):
        assert got is not None and json.loads(got) == doc


# -- similarity_top_k strategy planner -----------------------------------


def test_choose_strategy_small_is_exact():
    from unstract_spark.operators.similarity import choose_topk_strategy

    plan = choose_topk_strategy(index_rows=10_000, n_queries=5, dim=64)
    assert plan.strategy == "brute_force"
    assert plan.est_mults == 10_000 * 5 * 64


def test_choose_strategy_large_goes_approximate():
    from unstract_spark.operators.similarity import choose_topk_strategy

    plan = choose_topk_strategy(index_rows=1_000_000_000, n_queries=10_000, dim=64)
    assert plan.strategy in ("lsh", "ivf")
    # quadratic exact cost must dwarf the chosen plan's estimate
    assert plan.est_mults < 1_000_000_000 * 10_000 * 64 / 100


def test_choose_strategy_is_cost_ordered():
    """The selector picks the cheaper approximate plan, and auto-sizing
    scales with index size (more planes / centroids for bigger N)."""
    from unstract_spark.operators.similarity import (
        _ivf_auto_params,
        _lsh_auto_params,
        choose_topk_strategy,
    )

    assert _lsh_auto_params(10**6)["n_planes"] < _lsh_auto_params(10**9)["n_planes"]
    assert (
        _ivf_auto_params(10**6)["n_centroids"] < _ivf_auto_params(10**9)["n_centroids"]
    )
    p = choose_topk_strategy(index_rows=50_000_000, n_queries=1000, dim=64)
    assert p.strategy in ("lsh", "ivf")
    # deterministic: same stats -> same plan
    assert p == choose_topk_strategy(index_rows=50_000_000, n_queries=1000, dim=64)


def test_similarity_topk_dispatch_matches_exact(spark, sf_dir):
    """Dispatcher under the exact budget returns bit-identical rows to
    brute_force_topk, and reports the plan it ran."""
    from unstract_spark.operators.similarity import brute_force_topk, similarity_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    index = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    queries = index.limit(3).selectExpr("vec_id as query_id", "embedding as query_vec")
    got, plan = similarity_topk(queries, index, dim=64, k=5)
    assert plan.strategy == "brute_force"
    want = brute_force_topk(queries, index, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_similarity_topk_dispatch_forced_approximate(spark, sf_dir):
    """With a tiny exact budget the dispatcher runs the sized
    approximate plan and still returns the contract shape."""
    from unstract_spark.operators.similarity import similarity_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    index = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    queries = index.limit(2).selectExpr("vec_id as query_id", "embedding as query_vec")
    got, plan = similarity_topk(queries, index, dim=64, k=5, exact_budget=10)
    assert plan.strategy in ("lsh", "ivf")
    rows = got.collect()
    assert {r.query_id for r in rows} <= {r.query_id for r in queries.collect()}
    assert all(r.rank <= 5 for r in rows)
    # a query's own vector is its nearest neighbour — recall sanity
    self_hits = [r for r in rows if r.query_id == r.vec_id]
    assert all(r.rank == 1 and abs(r.score - 1.0) < 1e-6 for r in self_hits)


# -- IVF k-means refinement ----------------------------------------------


def test_kmeans_refine_deterministic_and_normalized(spark, sf_dir):
    import numpy as np

    from unstract_spark.operators.similarity import kmeans_refine

    index = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(400)
        .selectExpr("cast(vec_id as string) as vec_id", "embedding")
    )
    c1 = kmeans_refine(index, dim=64, n_centroids=8, iters=2)
    c2 = kmeans_refine(index, dim=64, n_centroids=8, iters=2)
    assert np.array_equal(c1, c2)  # same data + seed -> same centroids
    assert c1.shape == (8, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_with_refined_centroids_recall(spark, sf_dir):
    """Fitted centroids must not hurt recall vs the seeded init (same
    n_probe budget), and the join still returns the contract shape."""
    from unstract_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_join,
        kmeans_refine,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "cast(vec_id as string) as vec_id", "embedding"
    )
    queries = emb.limit(5).selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(queries, emb, k=10).collect()
    }

    def recall(centroids):
        got = ivf_topk_join(
            queries, emb, dim=64, k=10, n_centroids=8, n_probe=2,
            centroids=centroids,
        ).collect()
        return len({(r.query_id, r.vec_id) for r in got} & exact) / len(exact)

    fitted = kmeans_refine(emb, dim=64, n_centroids=8, iters=2)
    r_seeded = recall(None)
    r_fitted = recall(fitted)
    assert r_fitted >= r_seeded
    assert r_fitted >= 0.5  # fitted cells must capture most true neighbours


def test_ivf_rejects_bad_centroid_shape(spark, sf_dir):
    import numpy as np
    import pytest as _pytest

    from unstract_spark.operators.similarity import ivf_topk_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "cast(vec_id as string) as vec_id", "embedding"
    )
    q = emb.limit(1).selectExpr("vec_id as query_id", "embedding as query_vec")
    with _pytest.raises(ValueError, match="centroids shape"):
        ivf_topk_join(q, emb, dim=64, n_centroids=8, centroids=np.zeros((4, 64)))


def test_similarity_topk_strategy_override_with_refinement(spark, sf_dir):
    """Explicit strategy override + k-means refinement through the
    dispatcher: contract shape holds and the fitted path must not lose
    the self-neighbour."""
    from unstract_spark.operators.similarity import similarity_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "cast(vec_id as string) as vec_id", "embedding"
    )
    queries = emb.limit(3).selectExpr("vec_id as query_id", "embedding as query_vec")
    got, plan = similarity_topk(
        queries, emb, dim=64, k=5, strategy="ivf", ivf_refine_iters=1
    )
    assert plan.strategy == "ivf"
    rows = got.collect()
    self_hits = [r for r in rows if r.query_id == r.vec_id]
    assert len(self_hits) == 3  # every query finds itself in its own cell
    assert all(r.rank == 1 for r in self_hits)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown strategy"):
        similarity_topk(queries, emb, dim=64, strategy="annoy")


def test_estimate_mults_prices_the_named_strategy():
    """est_mults must always price the strategy the plan names — both
    from the auto chooser and from an explicit override — and the LSH
    candidate term must track n_tables (not a hardcoded constant)."""
    from unstract_spark.operators.similarity import (
        _estimate_mults,
        _lsh_auto_params,
        choose_topk_strategy,
    )

    n, q, dim = 1_000_000_000, 10_000, 64
    auto = choose_topk_strategy(index_rows=n, n_queries=q, dim=dim)
    assert auto.est_mults == _estimate_mults(auto.strategy, auto.params, n, q, dim)
    lp = _lsh_auto_params(n)
    more_tables = dict(lp, n_tables=lp["n_tables"] * 2)
    # doubling tables must raise the LSH estimate (keygen and candidates)
    assert _estimate_mults("lsh", more_tables, n, q, dim) > _estimate_mults(
        "lsh", lp, n, q, dim
    )


def test_similarity_topk_override_reports_own_cost(spark, sf_dir):
    """An explicit strategy override returns a TopkPlan whose est_mults
    prices that strategy, not the auto-chosen one."""
    from unstract_spark.operators.similarity import _estimate_mults, similarity_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    index = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    queries = (
        emb.limit(2)
        .selectExpr("cast(vec_id as string) as query_id", "embedding as query_vec")
    )
    _, plan = similarity_topk(
        queries, index, dim=64, k=3, strategy="lsh", index_rows=100, n_queries=2
    )
    assert plan.strategy == "lsh"
    assert plan.est_mults == _estimate_mults("lsh", plan.params, 100, 2, 64)


def test_udf_assignment_path_matches_sql_path(spark, sf_dir):
    """Above SQL_TERM_LIMIT the centroid/plane assignment runs as a
    broadcast-matrix pandas UDF instead of generated-SQL literals.
    Forcing term_limit=0 must reproduce the SQL path row-for-row for
    both IVF and LSH on real embeddings (same cells, same buckets,
    same final top-k)."""
    from unstract_spark.operators.similarity import (
        _argmax_cells,
        _seeded_hyperplanes,
        ivf_topk_join,
        lsh_topk_join,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    index = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    queries = (
        emb.limit(4)
        .selectExpr("cast(vec_id as string) as query_id", "embedding as query_vec")
    )

    # cell assignment parity (the raw building block)
    cents = _seeded_hyperplanes(64, 8, table=991)
    sql_cells = sorted(
        (r.vec_id, r.cell)
        for r in _argmax_cells(index, "vec_id", "embedding", 2, cents).collect()
    )
    udf_cells = sorted(
        (r.vec_id, r.cell)
        for r in _argmax_cells(
            index, "vec_id", "embedding", 2, cents, term_limit=0
        ).collect()
    )
    assert sql_cells == udf_cells

    # end-to-end IVF parity
    kw = dict(dim=64, k=5, n_centroids=8, n_probe=2)
    sql_ivf = sorted(
        map(tuple, ivf_topk_join(queries, index, **kw).collect())
    )
    udf_ivf = sorted(
        map(tuple, ivf_topk_join(queries, index, term_limit=0, **kw).collect())
    )
    assert sql_ivf == udf_ivf

    # end-to-end LSH parity
    kw = dict(dim=64, k=5, n_planes=4, n_tables=2)
    sql_lsh = sorted(
        map(tuple, lsh_topk_join(queries, index, **kw).collect())
    )
    udf_lsh = sorted(
        map(tuple, lsh_topk_join(queries, index, term_limit=0, **kw).collect())
    )
    assert sql_lsh == udf_lsh


def test_similarity_topk_term_limit_plumbs_through(spark, sf_dir):
    """The dispatcher's term_limit knob reaches the strategy
    implementations (forced-UDF run matches the default run)."""
    from unstract_spark.operators.similarity import similarity_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    index = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    queries = (
        emb.limit(3)
        .selectExpr("cast(vec_id as string) as query_id", "embedding as query_vec")
    )
    base, _ = similarity_topk(
        queries, index, dim=64, k=4, strategy="ivf", index_rows=200, n_queries=3
    )
    forced, plan = similarity_topk(
        queries, index, dim=64, k=4, strategy="ivf",
        index_rows=200, n_queries=3, term_limit=0,
    )
    assert plan.strategy == "ivf"
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, forced.collect()))
