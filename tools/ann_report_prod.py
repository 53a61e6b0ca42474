#!/usr/bin/env python3
"""ANN recall ladder at PRODUCTION shape: 768-dim, 100k vectors.

The small-dim ladder (ann_report.py) gates recall mechanics at toy
shape; this run is the evidence for the SCALE.md claims at the shape a
real embedding corpus has: dim large enough that every assignment
expression exceeds SQL_TERM_LIMIT (1024 centroids x 768 dims = 786k
terms) and takes the broadcast-matrix pandas path, k-means-fitted
centroids over 6x more vectors than cells, and clustered (not uniform)
data — the regime where IVF probing is actually sublinear.

Data: 256 ground-truth centers (seeded sha256 counter-mode), each
vector = center[id % 256] + (0.5/sqrt(dim)) * N(0,1) noise seeded per
row id — noise NORM ~0.5 vs unit signal, so same-cluster cosine ~0.8
and cross-cluster ~0 (per-component sigma must shrink with dim or the
noise norm ~sigma*sqrt(dim) swamps the signal and "neighbors" are
random). Fully deterministic, generated ON EXECUTORS (no driver
materialization) and written once to a scratch parquet all strategies
share.

For IVF/IVF-PQ the report records the MEASURED candidate fraction
(sum of probed-cell sizes / N, averaged over queries) — not the
uniform-cells estimate, which clustered data makes meaningless.

Usage: python3 tools/ann_report_prod.py [n_vectors] [dim] [n_queries]
Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path


def _sq_ladder(report, measure, queries, emb, dim, k) -> None:
    """Scalar-quantization bit-width ladder: full ADC scan like plain
    PQ but SCALAR integer codes — no codebook training, one integer
    multiply per dim. Error source is per-element rounding; on THIS
    corpus (clustered: the true top-k are near-ties at cosine ~0.8)
    the r10 probe measured SQ8 recall 0.60 at refine 3 — rounding
    noise over 768 dims exceeds the tiny true-neighbor separations,
    so the shortlist needs depth (0.98 at refine 20). Still strictly
    above PQ at equal refine. The r11 SQ6/SQ4 rungs answer whether
    2x/4x narrower codes keep that edge (compression_x is the
    bit-packed store size vs float32: 32/bits)."""
    from unstract_spark.operators.similarity import sq8_topk_join

    for bits in (8, 6, 4):
        for refine in (3, 20):
            rec, secs = measure(
                sq8_topk_join(queries, emb, dim, k=k, refine=refine, bits=bits)
            )
            report["strategies"][f"sq{bits}_r{refine}_fullscan"] = {
                "recall": rec,
                "compression_x": round(32 / bits, 2),
                "exact_rerank_per_query": refine * k,
                "query_s": secs,
            }


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import numpy as np
    from pyspark.sql import functions as F

    from unstract_spark.operators.similarity import (
        SQL_TERM_LIMIT,
        _argmax_cells,
        _seeded_hyperplanes,
        brute_force_topk,
        ivf_topk_join,
        ivfpq_topk_join,
        kmeans_refine,
        lsh_topk_join,
        pq_kmeans_refine,
    )
    from unstract_spark.session import get_spark

    # --sq-only: measure just the exact scan + the scalar-quantization
    # bit-width ladder (same deterministic corpus, so the rows are
    # directly comparable with a prior full report's PQ/IVF numbers)
    sq_only = "--sq-only" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if len(args) > 0 else 100_000
    dim = int(args[1]) if len(args) > 1 else 768
    n_queries = int(args[2]) if len(args) > 2 else 20
    k = 10
    n_centers = 256
    n_centroids = 1024

    spark = get_spark("ann_report_prod")
    scratch = tempfile.mkdtemp(prefix="ann_prod_")
    emb_path = os.path.join(scratch, "emb.parquet")

    t0 = time.time()

    def gen(batches):
        import pandas as pd

        centers = _seeded_hyperplanes(dim, n_centers, table=4242)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for vid in ids:
                rng = np.random.default_rng(1_000_003 + int(vid))
                v = centers[int(vid) % n_centers] + (
                    0.5 / np.sqrt(dim)
                ) * rng.standard_normal(dim)
                vecs.append(v.astype(np.float32))
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    spark.range(n).repartition(64).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(emb_path)
    emb = spark.read.parquet(emb_path)
    gen_s = round(time.time() - t0, 1)

    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).localCheckpoint(eager=True)

    t0 = time.time()
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(queries, emb, k=k).collect()
    }
    exact_s = round(time.time() - t0, 1)

    def measure(df):
        t = time.time()
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return (
            round(len(got & exact) / len(exact), 4),
            round(time.time() - t, 1),
        )

    report = {
        "n_vectors": n,
        "dim": dim,
        "n_queries": n_queries,
        "k": k,
        "assignment_terms": n_centroids * dim,
        "sql_term_limit": SQL_TERM_LIMIT,
        "pandas_matmul_path": n_centroids * dim > SQL_TERM_LIMIT,
        "gen_s": gen_s,
        "exact_scan_s": exact_s,
        "strategies": {},
    }

    if sq_only:
        _sq_ladder(report, measure, queries, emb, dim, k)
        shutil.rmtree(scratch, ignore_errors=True)
        print(json.dumps(report))
        return 0

    # fitted centroids once, shared by IVF + IVF-PQ (the production
    # training step; bounded driver state = 1024x768 floats)
    t0 = time.time()
    cents = kmeans_refine(emb, dim, n_centroids=n_centroids, iters=2)
    fit_s = round(time.time() - t0, 1)
    report["kmeans_fit_s"] = fit_s

    # measured candidate fraction: probed-cell population / N per query
    ib = _argmax_cells(emb, "vec_id", "embedding", 1, cents)
    sizes = ib.groupBy("cell").count()

    def measured_fraction(n_probe: int) -> float:
        qb = _argmax_cells(queries, "query_id", "query_vec", n_probe, cents)
        tot = (
            qb.join(sizes, "cell")
            .groupBy("query_id")
            .agg(F.sum("count").alias("cands"))
            .agg(F.avg("cands"))
            .collect()[0][0]
        )
        return round(float(tot) / n, 4)

    for n_probe in (1, 4, 16):
        rec, secs = measure(
            ivf_topk_join(
                queries, emb, dim, k=k, n_centroids=n_centroids,
                n_probe=n_probe, centroids=cents,
            )
        )
        report["strategies"][f"ivf_1024c_{n_probe}p"] = {
            "recall": rec,
            "measured_candidate_fraction": measured_fraction(n_probe),
            "query_s": secs,
        }

    # IVF-PQ: sublinear candidates AND 48x-compressed scoring
    t0 = time.time()
    cbs = pq_kmeans_refine(emb, dim, n_sub=16, n_codes=64, iters=1)
    report["pq_fit_s"] = round(time.time() - t0, 1)
    rec, secs = measure(
        ivfpq_topk_join(
            queries, emb, dim, k=k, n_centroids=n_centroids, n_probe=8,
            n_sub=16, n_codes=64, refine=20, centroids=cents, codebooks=cbs,
        )
    )
    report["strategies"]["ivfpq_1024c_8p_16x64_r20"] = {
        "recall": rec,
        "measured_candidate_fraction": measured_fraction(8),
        "lookups_per_candidate": 16,
        "query_s": secs,
    }

    # OPQ vs plain PQ, full ADC scan at equal budget — isolates the
    # learned rotation's effect at production dim on clustered data
    # (SCALE.md: the spectrum here is 256 strong directions + isotropic
    # noise — between the decay regime where OPQ wins and the
    # degenerate regime where identity wins; this row records where
    # real clustered corpora land).
    from unstract_spark.operators.similarity import opq_topk_join, opq_train, pq_topk_join

    rec, secs = measure(
        pq_topk_join(
            queries, emb, dim, k=k, n_sub=16, n_codes=64, refine=20,
            codebooks=cbs,
        )
    )
    report["strategies"]["pq_16x64_r20_fullscan"] = {
        "recall": rec, "query_s": secs,
    }
    t0 = time.time()
    R, ocbs = opq_train(emb, dim, n_sub=16, n_codes=64, iters=4)
    report["opq_fit_s"] = round(time.time() - t0, 1)
    rec, secs = measure(
        opq_topk_join(
            queries, emb, dim, k=k, n_sub=16, n_codes=64, refine=20,
            rotation=R, codebooks=ocbs,
        )
    )
    report["strategies"]["opq_16x64_r20_fullscan"] = {
        "recall": rec, "query_s": secs,
    }

    _sq_ladder(report, measure, queries, emb, dim, k)

    # LSH ladder (12 planes x 4 tables = 9216-term SQL path per table)
    rec, secs = measure(
        lsh_topk_join(queries, emb, dim, k=k, n_planes=12, n_tables=4)
    )
    report["strategies"]["lsh_12p4t"] = {
        "recall": rec,
        "expected_candidate_fraction": round(4 / 2**12, 5),
        "query_s": secs,
    }

    # HNSW sharded graphs
    from unstract_spark.operators.hnsw import hnsw_topk_join

    for ef in (48, 128):
        t0 = time.time()
        rec, secs = measure(
            hnsw_topk_join(
                queries, emb, dim, k=k, m=8, ef_construction=48,
                ef_search=ef, n_shards=16,
            )
        )
        report["strategies"][f"hnsw_m8_ef{ef}_16sh"] = {
            "recall": rec,
            "ef_per_shard": ef,
            "shards": 16,
            "build_and_query_s": round(time.time() - t0, 1),
        }

    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
