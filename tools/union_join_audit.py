"""Vanilla-session audit for the Spark 4.1 unionOutputPartitioning bug.

Round-13 discovery (SCALE.md, union-zip audit): with
`spark.sql.unionOutputPartitioning=true` (the 4.1.2 DEFAULT), UnionExec
claims its children's common hash partitioning even though a union
CONCATENATES partitions (3 children x P partitions = 3P partitions
claiming HashPartitioning(P)).  A downstream sort-merge join on the
claimed key then skips its exchange and dies in zipPartitions
("Can't zip RDDs with unequal numbers of partitions").  The engine's
own sessions set the conf false (session.py), but the DRIVER gates
queries on a VANILLA session where only structural shields protect us —
and at gate SF every small join broadcasts, masking the trigger.

This audit runs EVERY registry query on a vanilla session (conf left at
its default TRUE) with autoBroadcastJoinThreshold=-1 so any
union-then-sort-merge-join-on-the-union-key site actually exercises the
SMJ path.  Full execution via write.format("noop") — a .count() can
collapse the very branch under test (left-join elimination; SCALE.md).

Usage: python tools/union_join_audit.py [--sf DIR] [--only name,...]
Prints one line per query: OK / FAIL(exception head), and a summary.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--skip-prefixes", default="streaming_")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    # VANILLA on purpose: no unionOutputPartitioning override — this
    # mirrors the driver's gate session, plus broadcast disabled so the
    # SMJ path actually runs.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("union-join-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    assert (
        spark.conf.get("spark.sql.unionOutputPartitioning") == "true"
    ), "audit requires the vanilla default (true)"

    qs = entry.queries()
    names = list(qs)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    skip = tuple(p for p in args.skip_prefixes.split(",") if p)
    failed: list[tuple[str, str]] = []
    n_run = 0
    for name in names:
        if skip and name.startswith(skip):
            continue
        n_run += 1
        t0 = time.time()
        try:
            df = qs[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            print(f"OK   {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 - audit collects everything
            head = str(e).splitlines()[0][:160] if str(e) else type(e).__name__
            failed.append((name, head))
            print(f"FAIL {name}: {head}", flush=True)
            traceback.print_exc(limit=3)
    print(f"\naudited {n_run} queries, {len(failed)} failed")
    for name, head in failed:
        print(f"  {name}: {head}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
