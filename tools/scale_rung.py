#!/usr/bin/env python3
"""sf1 scale rung: build a FACTOR x replica of sf0.1 locally and
measure the most expensive bench queries at both 1x and FACTORx.

All committed perf evidence so far is sf0.1 (~600 k lineitem rows,
sub-5 s queries, noise-dominated deltas).  This tool adds one measured
rung toward the 100x design claims: absolute wall-clock at ~sf1 AND the
FACTORx/1x scaling ratio per query — a ratio far above FACTOR flags a
super-linear plan (the thing the plan audit can only infer statically).

Construction (documented because it shapes what the rung can claim):
  - dimensions (region nation supplier customer part): copied as-is —
    facts scale, dims don't (the TPC-H sf1 dims would be 10x, so
    dim-probe costs here UNDER-state sf1; fact-side scans, shuffles,
    and aggregations — the dominant costs — are faithful).
  - lineitem/orders: replicated with per-replica orderkey offsets
    (join fan-in per order is preserved; 10x orders).
  - documents: replicated with doc_id offsets; for replicas > 0,
    ~half the words get a replica-tagged suffix (deterministic
    xxhash64 coin), so replicas are NOT near-duplicates of each other
    and the corpus keeps a realistic dup profile instead of turning
    every doc into a 10-way duplicate cluster (which would
    quadratically inflate LSH buckets and measure a pathology, not a
    scale-up).
  - embeddings: replicated with vec_id offsets; replicas > 0 get
    deterministic per-element sign flips (norms preserved, replicas
    decorrelated, so ANN index geometry stays realistic).
  - events: replicated with event_id/user_id offsets (10x users at
    constant per-user density; timestamps unchanged, so windowed
    density grows 10x — what a 10x traffic year looks like).

Usage:
  python3 tools/scale_rung.py build [factor] [out_dir]
  python3 tools/scale_rung.py run   [dir] [runs]
  python3 tools/scale_rung.py all   [factor] [out_dir]

`run` prints one JSON line per query; `all` builds, measures the
sf0.1 baseline and the scaled dir, and prints the ratio table.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
DIMS = ["region", "nation", "supplier", "customer", "part"]

# The most expensive bench queries (r7 bench tail), one lineitem anchor.
RUNG = [
    "q1_pricing_summary",
    "ex_curation_v2",
    "ex_curation_e2e",
    "sim_ivfpq_topk",
    "sim_pq_topk",
    "dd_contamination",
    "dd_minhash_neardup",
    "dd_embedding_neardup_lsh",
    "graph_pagerank_fixed",
    "bpe_token_counts",
]


def build(spark, factor: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(factor).withColumnRenamed("id", "_rep")

    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    okey_span = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    (
        orders.crossJoin(F.broadcast(reps))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("_rep") * okey_span)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/orders.parquet")
    )
    (
        spark.read.parquet(f"{SRC}/lineitem.parquet")
        .crossJoin(F.broadcast(reps))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_rep") * okey_span)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/lineitem.parquet")
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    did_span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    salted = F.array_join(
        F.expr(
            "transform(split(text, ' '), x -> CASE WHEN _rep = 0 THEN x "
            "WHEN pmod(xxhash64(x, _rep), 2) = 0 "
            "THEN concat(x, '~', CAST(_rep AS STRING)) ELSE x END)"
        ),
        " ",
    )
    (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * did_span)
        .withColumn("text", salted)
        .withColumn("n_chars", F.length("text"))
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    vid_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    flipped = F.expr(
        "CAST(transform(embedding, (x, i) -> CASE WHEN _rep = 0 THEN x "
        "WHEN pmod(xxhash64(_rep, i), 2) = 0 THEN -x ELSE x END) "
        "AS ARRAY<FLOAT>)"
    )
    (
        emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * vid_span)
        .withColumn("embedding", flipped)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    from unstract_spark.queries import _t

    ev = _t(spark, SRC, "events")
    eid_span = ev.agg(F.max("event_id")).collect()[0][0] + 1
    uid_span = ev.agg(F.max("user_id")).collect()[0][0] + 1
    (
        ev.crossJoin(F.broadcast(reps))
        .withColumn("event_id", F.col("event_id") + F.col("_rep") * eid_span)
        .withColumn("user_id", F.col("user_id") + F.col("_rep") * uid_span)
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )


def run(spark, sf_dir: str, runs: int = 3, names: list[str] | None = None) -> dict[str, float]:
    from unstract_spark import queries as Q

    qs = Q.queries()
    out: dict[str, float] = {}
    for name in names or RUNG:
        n_rows = qs[name](spark, sf_dir).count()  # warm
        samples = []
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples.append(time.time() - t0)
        out[name] = round(statistics.median(samples), 3)
        print(json.dumps(
            {"query": name, "dir": sf_dir, "sec": out[name],
             "rows": n_rows}
        ))
        # The r10 40x rung proved a fixed-m Bloom silently saturates:
        # every row flags, the back end sees 0, and the timing
        # measures a degenerate plan. With auto_bloom_m wired in, the
        # capstone must keep REAL survivors at every rung — zero rows
        # here means the sizing rule regressed (or a rung grew the
        # history past the point the composed thresholds admit any
        # document, which must be inspected, not timed silently).
        if name == "ex_curation_v2":
            assert n_rows > 0, (
                "ex_curation_v2 rung produced 0 survivors — "
                "degenerate filter chain; do not trust this timing"
            )
        spark.catalog.clearCache()
    return out


def main() -> int:
    from unstract_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("scale_rung")
    if mode == "build":
        factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf_rung"
        build(spark, factor, out_dir)
        return 0
    if mode == "run":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_rung"
        runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        run(spark, sf_dir, runs, names=sys.argv[4:] or None)
        return 0
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf_rung"
    build(spark, factor, out_dir)
    base = run(spark, SRC)
    scaled = run(spark, out_dir)
    print("\nquery                              1x      %dx   ratio" % factor)
    for name in RUNG:
        r = scaled[name] / base[name] if base[name] else float("nan")
        print(f"{name:32s} {base[name]:7.2f} {scaled[name]:7.2f} {r:6.1f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
