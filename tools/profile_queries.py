"""Per-query cost split: DataFrame build vs Catalyst planning vs execution.

Usage: SPARK_GRAFT_SF_DIR=DIR python3 tools/profile_queries.py [query ...]

Prints one line per query: build_s, plan_s and three warm runs, then
all of them as one JSON object. A run executes the full plan through
the no-op sink (a `.count()` can prune the columns a query's cost
lives in).
"""

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from unstract_spark import queries as Q  # noqa: E402
from unstract_spark.session import get_spark  # noqa: E402

TARGETS = sys.argv[1:] or [
    "sim_ivfpq_topk", "sim_pq_topk", "sim_sq8_topk", "sim_ivf_topk",
    "sim_lsh_topk", "dd_embedding_neardup_lsh", "dd_contamination",
    "ta_repetition", "ex_curation_e2e", "ex_curation_v2",
    "graph_pagerank_fixed", "graph_triangle_counts", "mm_jpeg_features",
    "sk_join_size", "dd_duplicate_clusters", "sim_mips_topk",
    "dd_minhash_neardup", "dd_minhash_skew", "sim_bm25_batch",
    "ta_perplexity_buckets", "agg_ks_test", "ex_curation_web",
]
if "SPARK_GRAFT_SF_DIR" not in os.environ:
    sys.exit(__doc__)
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]


def run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


spark = get_spark("profile")
spark.range(1_000_000).selectExpr("sum(id)").collect()
qs = Q.queries()
out = {}
for name in TARGETS:
    try:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time(); df = qs[name](spark, sf_dir); t_build = time.time() - t0
        t0 = time.time(); df._jdf.queryExecution().executedPlan(); t_plan = time.time() - t0
        run(df)  # warm
        runs = []
        for _ in range(3):
            t0 = time.time(); run(qs[name](spark, sf_dir)); runs.append(round(time.time() - t0, 3))
        out[name] = {"build": round(t_build, 3), "plan": round(t_plan, 3), "runs": runs}
        print(name, out[name], flush=True)
    except Exception as e:
        print("ERR", name, str(e)[:200], flush=True)
print(json.dumps(out))
