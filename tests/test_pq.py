"""Product-quantization ANN path: encode compactness, determinism,
and recall against the exact brute-force ranking.

The cross-engine hash gate is queries.sim_pq_topk; these tests pin the
operator-level contracts the gate can't see (code range, codebook
validation, recall floor vs brute force).
"""

import numpy as np
import pytest

from unstract_spark.operators.similarity import (
    brute_force_topk,
    pq_codebooks,
    pq_encode,
    pq_topk_join,
)


def _emb(spark, n=120, dim=16, seed=5):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_codebooks_shape_and_validation():
    cbs = pq_codebooks(16, n_sub=4, n_codes=8)
    assert len(cbs) == 4 and all(cb.shape == (8, 4) for cb in cbs)
    with pytest.raises(ValueError):
        pq_codebooks(10, n_sub=4)


def test_pq_encode_codes_in_range_and_deterministic(spark):
    e = _emb(spark)
    out1 = pq_encode(e, dim=16, n_sub=4, n_codes=8).collect()
    out2 = pq_encode(e, dim=16, n_sub=4, n_codes=8).collect()
    assert sorted(map(str, out1)) == sorted(map(str, out2))
    for r in out1:
        for m in range(4):
            assert 0 <= r[f"code_{m}"] < 8


def test_pq_encode_matches_numpy_argmin(spark):
    e = _emb(spark, n=40)
    cbs = pq_codebooks(16, n_sub=4, n_codes=8)
    rows = {r.vec_id: r for r in pq_encode(e, dim=16, n_sub=4, n_codes=8).collect()}
    for r in e.collect():
        v = np.asarray(r.embedding, dtype=np.float64)
        for m in range(4):
            sub = v[m * 4 : (m + 1) * 4]
            scores = sub @ cbs[m].T - 0.5 * (cbs[m] * cbs[m]).sum(axis=1)
            assert rows[r.vec_id][f"code_{m}"] == int(np.argmax(scores))


def test_pq_topk_recall_vs_brute_force(spark):
    e = _emb(spark, n=150)
    q = e.filter("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = brute_force_topk(q, e, k=5)
    approx = pq_topk_join(q, e, dim=16, k=5, n_sub=4, n_codes=8, refine=6)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    # generous refine window on small data: expect solid overlap, and
    # the self-match (rank 1, cosine 1.0) must always survive
    assert len(ex & ap) >= int(0.6 * len(ex))
    for qid in (0, 1, 2):
        assert (qid, qid) in ap


def test_pq_topk_ranks_are_dense_and_bounded(spark):
    e = _emb(spark, n=60)
    q = e.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    out = pq_topk_join(q, e, dim=16, k=4, n_sub=4, n_codes=8).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4]


def test_ivfpq_recall_and_shape(spark):
    from unstract_spark.operators.similarity import ivfpq_topk_join

    e = _emb(spark, n=150)
    q = e.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    exact = brute_force_topk(q, e, k=5)
    out = ivfpq_topk_join(
        q, e, dim=16, k=5, n_centroids=8, n_probe=4, n_sub=4, n_codes=8, refine=6
    )
    rows = out.collect()
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in rows}
    # probing half the cells with a generous shortlist: solid overlap,
    # and the self-match must survive the coarse+ADC funnel
    assert len(ex & ap) >= int(0.5 * len(ex))
    for qid in (0, 1, 2):
        assert (qid, qid) in ap
    # each (query, item) pair appears at most once (one cell per item)
    assert len(rows) == len({(r.query_id, r.vec_id) for r in rows})


def test_dispatcher_pq_override(spark):
    from unstract_spark.operators.similarity import pq_topk_join, similarity_topk

    e = _emb(spark, n=80)
    q = e.filter("vec_id < 2").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    got, plan = similarity_topk(q, e, dim=16, k=4, strategy="pq")
    assert plan.strategy == "pq" and plan.params["n_sub"] == 2
    direct = pq_topk_join(q, e, dim=16, k=4, **plan.params)
    assert sorted(map(str, got.collect())) == sorted(map(str, direct.collect()))


def test_pq_auto_never_chosen_but_priced():
    from unstract_spark.operators.similarity import (
        _estimate_mults,
        _pq_auto_params,
        choose_topk_strategy,
    )

    # full-scan ADC loses the mult race to sublinear candidate
    # generation at any large N — the auto chooser must not pick it
    plan = choose_topk_strategy(index_rows=10**9, n_queries=10**4, dim=64)
    assert plan.strategy in ("lsh", "ivf")
    p = _pq_auto_params(64)
    assert _estimate_mults("pq", p, 10**9, 10**4, 64) > plan.est_mults


def test_pq_kmeans_refine_improves_quantization(spark):
    import numpy as np

    from unstract_spark.operators.similarity import pq_codebooks, pq_kmeans_refine

    e = _emb(spark, n=200, dim=16, seed=11)
    seeded = pq_codebooks(16, n_sub=4, n_codes=8)
    fitted = pq_kmeans_refine(e, dim=16, n_sub=4, n_codes=8, iters=2)
    V = np.array([r.embedding for r in e.collect()], dtype=np.float64)

    def qerr(cbs):
        tot = 0.0
        for m in range(4):
            sub = V[:, m * 4 : (m + 1) * 4]
            d2 = ((sub[:, None, :] - cbs[m][None, :, :]) ** 2).sum(axis=2)
            tot += d2.min(axis=1).sum()
        return tot

    assert qerr(fitted) < qerr(seeded)
    # deterministic: same data + iters -> same codebooks
    again = pq_kmeans_refine(e, dim=16, n_sub=4, n_codes=8, iters=2)
    for a, b in zip(fitted, again):
        assert np.array_equal(a, b)


def test_pq_auto_params_divide_awkward_dims(spark):
    """dim=100 (not divisible by 100//8=12) must still yield a valid
    subspace split — largest divisor <= dim//8 — instead of a
    ValueError out of pq_codebooks."""
    from unstract_spark.operators.similarity import _pq_auto_params, similarity_topk

    for d in (65, 100, 17):
        p = _pq_auto_params(d)
        assert d % p["n_sub"] == 0, (d, p)

    e = _emb(spark, n=40, dim=100)
    q = e.filter("vec_id < 1").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got, plan = similarity_topk(q, e, dim=100, k=3, strategy="pq")
    assert plan.params["n_sub"] == 10 and got.count() == 3


def test_ivfpq_store_matches_transient_and_prunes(spark, tmp_path):
    """Persistent IVF-PQ artifact: stored codes answer identically to
    the transient ivfpq_topk_join with the same params, the probe join
    prunes to cell partitions, and repeated queries are stable."""
    from unstract_spark.operators.similarity import (
        IvfPqIndexStore,
        ivfpq_topk_join,
    )

    e = _emb(spark, n=120, dim=16)
    q = e.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    store = IvfPqIndexStore(
        spark, str(tmp_path / "ivfpq"), dim=16, n_centroids=8, n_sub=4,
        n_codes=8,
    )
    assert store.build(e) == 120

    got = {
        (r.query_id, r.vec_id, r.rank, r.score)
        for r in store.query(q, k=5, n_probe=3, refine=3).collect()
    }
    transient = {
        (r.query_id, r.vec_id, r.rank, r.score)
        for r in ivfpq_topk_join(
            q, e, dim=16, k=5, n_centroids=8, n_probe=3, n_sub=4,
            n_codes=8, refine=3,
        ).collect()
    }
    assert got == transient and len(got) == 20
    again = {
        (r.query_id, r.vec_id, r.rank, r.score)
        for r in store.query(q, k=5, n_probe=3, refine=3).collect()
    }
    assert again == got
    # the artifact is cell-partitioned: probe pruning is directory-level
    import os

    parts = [
        d for d in os.listdir(str(tmp_path / "ivfpq" / "data"))
        if d.startswith("cell=")
    ]
    assert len(parts) >= 2


def test_ivfpq_store_empty_build_round_trips(spark, tmp_path):
    """An empty corpus must build a readable (zero-row) artifact: a
    partitionBy write of an empty frame emits NO files, so the store
    falls back to a plain write that still carries the schema — build's
    read-back count and later query() both work instead of dying on
    parquet schema inference."""
    from unstract_spark.operators.similarity import IvfPqIndexStore

    e = _emb(spark, n=12, dim=16)
    empty = e.filter("vec_id < 0")
    store = IvfPqIndexStore(
        spark, str(tmp_path / "eivfpq"), dim=16, n_centroids=4, n_sub=4,
        n_codes=8,
    )
    assert store.build(empty) == 0
    q = e.filter("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    assert store.query(q, k=5).count() == 0


def test_mips_augment_reduces_to_cosine_ranking(spark):
    """The Shrivastava-Li augmentation makes cosine ranking over the
    augmented vectors equal MIPS ranking over the originals — so the
    bucketed ANN families apply to inner-product workloads."""
    from unstract_spark.operators.similarity import (
        brute_force_topk,
        mips_augment,
        mips_topk,
    )

    e = _emb(spark, n=80, dim=16)
    # give vectors distinct magnitudes so MIPS != cosine genuinely
    import pyspark.sql.functions as F

    scaled = e.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: x * (1.0 + (F.col("vec_id") % 7) / 3.0),
        ).cast("array<float>"),
    )
    q = scaled.filter("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in mips_topk(q, scaled, k=5).collect()
    }
    ai = mips_augment(scaled, dim=16)
    aq = mips_augment(q, dim=16, index_vec="query_vec", is_query=True)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(aq, ai, k=5).collect()
    }
    assert got == want and len(got) == 15


def test_residual_ivfpq_beats_raw_on_clustered(spark):
    """IVFADC residual quantization vs raw-vector PQ on CLUSTERED data
    (the embedding-space shape): residual codes quantize the small
    intra-cluster offsets finely, so ADC orders same-cluster members
    better at EQUAL budgets. At this toy dim/code shape the margin is
    modest (the decisive gap is at 768 dims — SCALE.md ladder); the
    gate here is the relative claim at two refine budgets plus exact
    saturation at a generous one."""
    import numpy as np
    import pyspark.sql.functions as F  # noqa: F401

    from unstract_spark.operators.similarity import (
        _residuals_pandas,
        _seeded_hyperplanes,
        brute_force_topk,
        ivfpq_residual_topk,
        ivfpq_topk_join,
        kmeans_refine,
        pq_kmeans_refine,
    )

    dim, n, n_centers, n_cells = 64, 3000, 32, 64
    centers = _seeded_hyperplanes(dim, n_centers, table=777)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        rng = np.random.default_rng(50_000 + i)
        v = centers[i % n_centers] + (0.5 / np.sqrt(dim)) * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    e = e.localCheckpoint(eager=True)
    q = e.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, e, k=10).collect()
    }
    cents = kmeans_refine(e, dim, n_centroids=n_cells, iters=2)

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    raw_cbs = pq_kmeans_refine(e, dim, n_sub=8, n_codes=16, iters=2)
    resid_frame = _residuals_pandas(e, cents).withColumnRenamed(
        "resid", "embedding"
    )
    res_cbs = pq_kmeans_refine(resid_frame, dim, n_sub=8, n_codes=16, iters=2)
    for refine in (3, 5):
        raw = recall(
            ivfpq_topk_join(
                q, e, dim, k=10, n_centroids=n_cells, n_probe=4, n_sub=8,
                n_codes=16, refine=refine, centroids=cents,
                codebooks=raw_cbs,
            )
        )
        res = recall(
            ivfpq_residual_topk(
                q, e, dim, k=10, n_centroids=n_cells, n_probe=4, n_sub=8,
                n_codes=16, refine=refine, centroids=cents,
                codebooks=res_cbs,
            )
        )
        assert res > raw, (refine, raw, res)
    sat = recall(
        ivfpq_residual_topk(
            q, e, dim, k=10, n_centroids=n_cells, n_probe=4, n_sub=8,
            n_codes=16, refine=10, centroids=cents, codebooks=res_cbs,
        )
    )
    assert sat == 1.0, sat


def test_dispatcher_ivfpq_residual_strategy(spark):
    """strategy='ivfpq_residual' dispatches with merged auto-params and
    returns the standard (query_id, vec_id, score, rank) shape."""
    from unstract_spark.operators.similarity import similarity_topk

    e = _emb(spark, n=200, dim=16)
    q = e.filter("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    out, plan = similarity_topk(q, e, dim=16, k=5, strategy="ivfpq_residual")
    assert plan.strategy == "ivfpq_residual"
    assert {"n_centroids", "n_probe", "n_sub", "n_codes", "refine"} <= set(
        plan.params
    )
    rows = out.collect()
    assert len(rows) == 10 and {r.rank for r in rows} == {1, 2, 3, 4, 5}


def _spectrum_data(spark, dim=32, n=2000, decay=0.85, seed=7):
    """Rotated Gaussian with geometrically decaying spectrum, L2-
    normalized — the OPQ paper's regime: every PQ subspace mixes high-
    and low-variance directions until the learned rotation aligns
    them.  Normalization makes ADC's inner-product shortlist an
    unbiased cosine proxy (the operator contract for cosine targets)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    eig = decay ** np.arange(dim)
    rot = np.linalg.qr(rng.standard_normal((dim, dim)))[0]
    rows = []
    for i in range(n):
        rg = np.random.default_rng(90_000 + i)
        v = (rg.standard_normal(dim) * np.sqrt(eig)) @ rot.T
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_opq_rotation_orthogonal_and_beats_pq_on_decaying_spectrum(spark):
    """OPQ (Ge et al. 2013) vs fitted plain PQ at equal code budgets on
    decaying-spectrum data (numpy replication of this exact setup:
    PQ 0.44 vs OPQ 0.64 recall@10).  Gates: R orthogonal, OPQ recall
    strictly better at the tight budget and never worse at the loose
    one."""
    import numpy as np

    from unstract_spark.operators.similarity import (
        brute_force_topk,
        opq_topk_join,
        opq_train,
        pq_kmeans_refine,
        pq_topk_join,
    )

    dim = 32
    e = _spectrum_data(spark, dim=dim).localCheckpoint(eager=True)
    q = e.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (row.query_id, row.vec_id)
        for row in brute_force_topk(q, e, k=10).collect()
    }

    def recall(df):
        got = {(row.query_id, row.vec_id) for row in df.collect()}
        return len(got & exact) / len(exact)

    pq_cbs = pq_kmeans_refine(e, dim, n_sub=8, n_codes=8, iters=2)
    R, ocbs = opq_train(e, dim, n_sub=8, n_codes=8, iters=6)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-8)
    gains = []
    for refine in (3, 5):
        pq_r = recall(
            pq_topk_join(
                q, e, dim, k=10, n_sub=8, n_codes=8, refine=refine,
                codebooks=pq_cbs,
            )
        )
        opq_r = recall(
            opq_topk_join(
                q, e, dim, k=10, n_sub=8, n_codes=8, refine=refine,
                rotation=R, codebooks=ocbs,
            )
        )
        gains.append((refine, pq_r, opq_r))
        assert opq_r >= pq_r, gains
    assert gains[0][2] > gains[0][1], gains


def test_opq_low_rank_counter_regime_documented(spark):
    """The HONEST boundary: on rank-degenerate data (rank-4 signal
    densely mixed into 32 dims) identity-frame PQ acts as a REDUNDANT
    lattice quantizer of the latent manifold — every subspace sees a
    different random projection of the same 4-dim signal, so the
    product of 8 assignments partitions the manifold far finer than
    OPQ's variance-concentrating rotation, which collapses the signal
    into ~1 subspace of 8 codes.  OPQ minimizes reconstruction MSE
    (verified: qerr 16.5 vs 31.3 in the numpy replication) yet LOSES
    ranking recall here.  Production guidance (SCALE.md): check the
    spectrum before enabling OPQ — if the top-r eigenvalues carry
    ~all variance with r << dim, keep the identity frame."""
    import numpy as np

    from unstract_spark.operators.similarity import (
        brute_force_topk,
        opq_topk_join,
        opq_train,
        pq_kmeans_refine,
        pq_topk_join,
    )

    dim, n, r = 32, 2000, 4
    rng = np.random.default_rng(99)
    W = rng.standard_normal((r, dim))
    rows = []
    for i in range(n):
        rg = np.random.default_rng(80_000 + i)
        v = rg.standard_normal(r) @ W + 0.05 * rg.standard_normal(dim)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint(eager=True)
    q = e.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (row.query_id, row.vec_id)
        for row in brute_force_topk(q, e, k=10).collect()
    }

    def recall(df):
        got = {(row.query_id, row.vec_id) for row in df.collect()}
        return len(got & exact) / len(exact)

    pq_cbs = pq_kmeans_refine(e, dim, n_sub=8, n_codes=8, iters=2)
    R, ocbs = opq_train(e, dim, n_sub=8, n_codes=8, iters=4)
    pq_r = recall(
        pq_topk_join(q, e, dim, k=10, n_sub=8, n_codes=8, refine=3,
                     codebooks=pq_cbs)
    )
    opq_r = recall(
        opq_topk_join(q, e, dim, k=10, n_sub=8, n_codes=8, refine=3,
                      rotation=R, codebooks=ocbs)
    )
    assert pq_r >= opq_r, (pq_r, opq_r)


def test_dispatcher_opq_strategy(spark):
    """strategy='opq' trains + serves through the dispatcher and
    returns the standard (query_id, vec_id, score, rank) shape with
    a priced plan."""
    from unstract_spark.operators.similarity import similarity_topk

    e = _spectrum_data(spark, dim=16, n=300)
    q = e.filter("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    out, plan = similarity_topk(q, e, dim=16, k=5, strategy="opq")
    assert plan.strategy == "opq" and plan.est_mults > 0
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    for qid in (0, 1):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_opq_store_matches_transient_recall(spark, tmp_path):
    """OpqIndexStore: build persists (codes, R, codebooks); query
    reuses them and reaches the same recall as the transient
    opq_topk_join with the same artifacts; repeated queries are
    deterministic."""
    import numpy as np

    from unstract_spark.operators.similarity import (
        OpqIndexStore,
        brute_force_topk,
        opq_topk_join,
        opq_train,
    )

    dim = 16
    e = _spectrum_data(spark, dim=dim, n=400).localCheckpoint(eager=True)
    q = e.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, e, k=5).collect()
    }
    R, cbs = opq_train(e, dim, n_sub=4, n_codes=8, iters=4)
    transient = {
        (r.query_id, r.vec_id)
        for r in opq_topk_join(
            q, e, dim, k=5, n_sub=4, n_codes=8, refine=4,
            rotation=R, codebooks=cbs,
        ).collect()
    }
    store = OpqIndexStore(spark, str(tmp_path / "opq"), dim, n_sub=4, n_codes=8)
    n = store.build(e, rotation=R, codebooks=cbs)
    assert n == 400
    got1 = {
        (r.query_id, r.vec_id)
        for r in store.query(q, k=5, refine=4).collect()
    }
    got2 = {
        (r.query_id, r.vec_id)
        for r in store.query(q, k=5, refine=4).collect()
    }
    assert got1 == got2  # artifact queries are deterministic
    # same recall as the transient path (scores re-rank in the original
    # frame vs the rotated frame — orthogonal-invariant up to the
    # rounded boundary, so the recalled SETS agree on this data)
    r_t = len(transient & exact) / len(exact)
    r_s = len(got1 & exact) / len(exact)
    assert r_s == r_t, (r_s, r_t)
    # meta round-trips
    meta = np.load(store._meta_path())
    assert np.allclose(meta["rotation"] @ meta["rotation"].T, np.eye(dim))


def test_residual_opq_beats_plain_residual_on_anisotropic(spark):
    """OPQ composed into the residual frame: clusters whose residuals
    have a decaying spectrum (the real embedding shape — residuals
    live near a low-dim manifold, not isotropic noise).  Rotation
    trained on the residual frame must beat residual-PQ with plain
    fitted codebooks at equal budgets, and the existing no-rotation
    path must be bit-unchanged (rotation=None)."""
    import numpy as np

    from unstract_spark.operators.similarity import (
        _residuals_pandas,
        _seeded_hyperplanes,
        brute_force_topk,
        ivfpq_residual_topk,
        kmeans_refine,
        opq_train,
        pq_kmeans_refine,
    )

    dim, n, n_centers, n_cells = 32, 2000, 16, 16
    centers = _seeded_hyperplanes(dim, n_centers, table=555)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng = np.random.default_rng(31)
    eig = 0.8 ** np.arange(dim)
    rot = np.linalg.qr(rng.standard_normal((dim, dim)))[0]
    rows = []
    for i in range(n):
        rg = np.random.default_rng(70_000 + i)
        resid = ((rg.standard_normal(dim) * np.sqrt(eig)) @ rot.T) * (
            0.6 / np.sqrt(dim)
        )
        rows.append((i, [float(x) for x in centers[i % n_centers] + resid]))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint(eager=True)
    q = e.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, e, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    cents = kmeans_refine(e, dim, n_centroids=n_cells, iters=2)
    resid_frame = _residuals_pandas(e, cents)
    res_cbs = pq_kmeans_refine(
        resid_frame.withColumnRenamed("resid", "embedding"),
        dim, n_sub=8, n_codes=8, iters=2,
    )
    R, ocbs = opq_train(
        resid_frame, dim, n_sub=8, n_codes=8, iters=6, index_vec="resid"
    )
    gains = []
    for refine in (3, 5):
        plain = recall(
            ivfpq_residual_topk(
                q, e, dim, k=10, n_centroids=n_cells, n_probe=4, n_sub=8,
                n_codes=8, refine=refine, centroids=cents, codebooks=res_cbs,
            )
        )
        opq = recall(
            ivfpq_residual_topk(
                q, e, dim, k=10, n_centroids=n_cells, n_probe=4, n_sub=8,
                n_codes=8, refine=refine, centroids=cents, codebooks=ocbs,
                rotation=R,
            )
        )
        gains.append((refine, plain, opq))
        assert opq >= plain, gains
    assert any(o > p for _, p, o in gains), gains


def test_pq_topk_pandas_256_codes_beats_16(spark):
    """The high-code ADC path at the production 256-code shape: (a)
    matches the SQL path's result SETS at a shared small code count
    (same codebooks, same data — only low-bit summation order
    differs), and (b) 256 fitted codes strictly improve recall over 16
    at equal refine, which is the whole reason the pandas path exists
    (the SQL LUT path cannot reasonably emit 256 dot-product exprs per
    subspace)."""
    from unstract_spark.operators.similarity import (
        brute_force_topk,
        pq_kmeans_refine,
        pq_topk_join,
        pq_topk_pandas,
    )

    dim = 32
    e = _spectrum_data(spark, dim=dim, n=1500).localCheckpoint(eager=True)
    q = e.filter("vec_id < 6").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, e, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    cbs16 = pq_kmeans_refine(e, dim, n_sub=8, n_codes=16, iters=2)
    sql_16 = recall(
        pq_topk_join(q, e, dim, k=10, n_sub=8, n_codes=16, refine=3,
                     codebooks=cbs16)
    )
    pd_16 = recall(
        pq_topk_pandas(q, e, dim, k=10, n_sub=8, n_codes=16, refine=3,
                       codebooks=cbs16)
    )
    assert pd_16 == sql_16, (pd_16, sql_16)

    # 256-code fit goes through the numpy trainer (opq_train) — the
    # SQL encoder pq_kmeans_refine rides is exactly what is hostile at
    # 256 codes; the rotation composes into the same pandas scorer
    from unstract_spark.operators.similarity import opq_train

    R, cbs256 = opq_train(e, dim, n_sub=8, n_codes=256, iters=3)
    pd_256 = recall(
        pq_topk_pandas(q, e, dim, k=10, n_sub=8, n_codes=256, refine=3,
                       codebooks=cbs256, rotation=R)
    )
    assert pd_256 > pd_16, (pd_16, pd_256)


def test_pq_join_auto_routes_high_code_shapes(spark):
    """pq_topk_join above SQL_TERM_LIMIT LUT terms must route to the
    pandas scorer (the SQL path at 512 codes would drown the
    analyzer); at a generous refine the result saturates to the exact
    ranking, proving the routed path end-to-end."""
    from unstract_spark.operators.similarity import (
        brute_force_topk,
        pq_topk_join,
    )

    dim = 32
    e = _spectrum_data(spark, dim=dim, n=400).localCheckpoint(eager=True)
    q = e.filter("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(q, e, k=5).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in pq_topk_join(
            q, e, dim, k=5, n_sub=8, n_codes=512, refine=80,
            term_limit=1024,
        ).collect()
    }
    assert got == exact


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np

    from unstract_spark.operators.similarity import covariance_matrix

    rng = np.random.default_rng(11)
    X = rng.standard_normal((300, 8)) * np.array([3, 1, 1, 2, 1, 1, 1, 0.5])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    cov = covariance_matrix(df, dim=8)
    # float32 storage in the column dominates the tolerance
    assert np.allclose(cov, np.cov(X.T, bias=True), atol=1e-4)


def test_opq_eigen_allocation_balances_products():
    import numpy as np

    from unstract_spark.operators.similarity import opq_eigen_allocation

    rng = np.random.default_rng(7)
    dim, n_sub, d = 32, 4, 8
    Q = np.linalg.qr(rng.standard_normal((dim, dim)))[0]
    lam = np.exp(-0.25 * np.arange(dim))
    cov = Q @ np.diag(lam) @ Q.T
    R = opq_eigen_allocation(cov, n_sub)
    assert np.allclose(R.T @ R, np.eye(dim), atol=1e-10)
    # per-bucket log-products of the rotated variances must be tight
    # (the naive min-product greedy gives a >20-log spread here by
    # hoarding the d largest eigenvalues into one bucket)
    var = np.diag(R.T @ cov @ R)
    logsums = np.log(var.reshape(n_sub, d)).sum(1)
    assert logsums.max() - logsums.min() < 1.0, logsums
    # and the frame genuinely reduces PQ distortion on this data
    X = rng.multivariate_normal(np.zeros(dim), cov, size=3000)

    def mse(Y):
        err = 0.0
        for m in range(n_sub):
            sub = Y[:, m * d : (m + 1) * d]
            C = sub[rng.choice(len(sub), 16, replace=False)].copy()
            for _ in range(6):
                a = ((sub[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
                for c in range(16):
                    if (a == c).any():
                        C[c] = sub[a == c].mean(0)
            a = ((sub[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            err += ((sub - C[a]) ** 2).sum()
        return err / len(Y)

    assert mse(X @ R) < 0.75 * mse(X)


def test_opq_parametric_init_beats_identity_at_one_iteration(spark):
    """OPQ-P (eigenvalue allocation) as opq_train's R_init: at iters=1
    the alternation never updates R, so this isolates the frame —
    codebooks fitted in the allocated frame must beat codebooks
    fitted in the identity frame on the decaying-spectrum corpus
    (recall@10 via the same ADC join both times)."""
    import numpy as np

    from unstract_spark.operators.similarity import (
        brute_force_topk,
        covariance_matrix,
        opq_eigen_allocation,
        opq_topk_join,
        opq_train,
    )

    dim = 32
    e = _spectrum_data(spark, dim=dim).localCheckpoint(eager=True)
    q = e.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = {
        (row.query_id, row.vec_id)
        for row in brute_force_topk(q, e, k=10).collect()
    }

    def recall(rotation, codebooks):
        got = {
            (row.query_id, row.vec_id)
            for row in opq_topk_join(
                q, e, dim, k=10, n_sub=8, n_codes=8, refine=3,
                rotation=rotation, codebooks=codebooks,
            ).collect()
        }
        return len(got & exact) / len(exact)

    R0 = opq_eigen_allocation(covariance_matrix(e, dim), n_sub=8)
    Ri, cb_i = opq_train(e, dim, n_sub=8, n_codes=8, iters=1)
    Rp, cb_p = opq_train(e, dim, n_sub=8, n_codes=8, iters=1, R_init=R0)
    assert np.allclose(Ri, np.eye(dim))
    assert np.allclose(Rp, R0)
    r_id, r_p = recall(Ri, cb_i), recall(Rp, cb_p)
    assert r_p > r_id, (r_id, r_p)
