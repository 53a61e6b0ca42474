"""Capture `.explain("formatted")` of bench queries as plan dumps.

Usage: SPARK_GRAFT_SF_DIR=DIR python3 tools/capture_plans.py OUT_DIR [TAG] [query ...]

Writes OUT_DIR/<query>_<TAG>.txt (TAG defaults to "before") for each
named query, or for every `bench.BENCH_QUERIES` row. Explain only —
nothing executes. Run it at two commits with different tags to diff a
change's plans.
"""

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from unstract_spark import queries as Q  # noqa: E402
from unstract_spark.session import get_spark  # noqa: E402

if len(sys.argv) < 2 or "SPARK_GRAFT_SF_DIR" not in os.environ:
    sys.exit(__doc__)
out = Path(sys.argv[1])
tag = sys.argv[2] if len(sys.argv) > 2 else "before"
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
out.mkdir(parents=True, exist_ok=True)
spark = get_spark("plan_capture")
qs = Q.queries()
for name in sys.argv[3:] or bench.BENCH_QUERIES:
    try:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (out / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print("ok", name)
    except Exception as e:
        print("ERR", name, str(e)[:200])
