"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB at the given sf dir, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 9 significant-ish decimals before hashing).

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
FILTERS = sys.argv[2:]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, sorted(cols)


def main() -> int:
    import __spark_entry__ as entrymod
    from unstract_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not FILTERS or any(f in n for f in FILTERS)]
    n_pass = n_fail = n_weak = 0
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle)")
            n_weak += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            failures.append(name)
            continue
        sh, scs = result_hash(scols, srows)
        oh, ocs = result_hash(ocols, orows)
        dt = time.time() - t0
        if scs != ocs:
            print(f"FAIL  {name}: columns differ spark={scs} duck={ocs}")
            n_fail += 1
            failures.append(name)
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(orows)}")
            n_fail += 1
            failures.append(name)
        elif sh != oh:
            print(f"FAIL  {name}: value hash mismatch ({len(srows)} rows)")
            # show a diff sample
            sset = set(
                "\x01".join(norm_value(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                for r in srows
            )
            oset = set(
                "\x01".join(norm_value(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i]))
                for r in orows
            )
            for x in list(sset - oset)[:3]:
                print(f"        spark-only: {x[:200]}")
            for x in list(oset - sset)[:3]:
                print(f"        duck-only:  {x[:200]}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"pass  {name}: {len(srows)} rows, {dt:.1f}s")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
