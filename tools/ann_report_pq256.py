#!/usr/bin/env python3
"""256-code PQ/OPQ measurement at the production shape (100k x 768).

Companion to ann_report_prod.py: same deterministic clustered corpus,
measuring the HIGH-code-count ADC path (pq_topk_pandas) that the
generated-SQL LUT serving cannot express — 16 subspaces x 256 codes,
with and without the learned OPQ rotation, against the recorded 16x64
rows (raw PQ 0.38 / OPQ 0.515 full-scan refine 20).

Usage: python3 tools/ann_report_pq256.py [n] [dim] [n_queries]
Prints one JSON line; paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import numpy as np
    from pyspark.sql import functions as F

    from unstract_spark.operators.similarity import (
        _seeded_hyperplanes,
        brute_force_topk,
        opq_train,
        pq_topk_pandas,
    )
    from unstract_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 768
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    k, n_centers = 10, 256

    spark = get_spark("ann_pq256")
    scratch = tempfile.mkdtemp(prefix="ann_pq256_")
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
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    ).localCheckpoint(eager=True)
    gen_s = round(time.time() - t0, 1)

    t0 = time.time()
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(queries, emb, k=k).collect()
    }
    exact_s = round(time.time() - t0, 1)

    report = {"n": n, "dim": dim, "n_queries": n_queries, "k": k,
              "gen_s": gen_s, "exact_s": exact_s, "strategies": {}}

    def measure(df):
        t = time.time()
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return (round(len(got & exact) / len(exact), 4),
                round(time.time() - t, 1))

    t0 = time.time()
    R, cbs = opq_train(emb, dim, n_sub=16, n_codes=256, iters=4)
    report["opq256_fit_s"] = round(time.time() - t0, 1)

    rec, secs = measure(
        pq_topk_pandas(queries, emb, dim, k=k, n_sub=16, n_codes=256,
                       refine=20, codebooks=cbs, rotation=R)
    )
    report["strategies"]["opq_16x256_r20_fullscan"] = {
        "recall": rec, "query_s": secs,
    }
    # plain-PQ row: equal training effort, rotation updates disabled
    t0 = time.time()
    _, cbs_id = opq_train(
        emb, dim, n_sub=16, n_codes=256, iters=4, train_rotation=False
    )
    report["pq256_fit_s"] = round(time.time() - t0, 1)
    rec, secs = measure(
        pq_topk_pandas(queries, emb, dim, k=k, n_sub=16, n_codes=256,
                       refine=20, codebooks=cbs_id)
    )
    report["strategies"]["pq_16x256_r20_fullscan"] = {
        "recall": rec, "query_s": secs,
    }

    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
