#!/usr/bin/env python3
"""Plan audit: explain every bench query and flag scale anti-patterns.

Usage: python3 tools/plan_audit.py [sf_dir] [name_filter...]

Checks each physical plan (no execution — explain only) for the
anti-patterns that have bitten this engine at scale:

- CartesianProduct            unbounded all-pairs join (a broadcast
                              cross join compiles to
                              BroadcastNestedLoopJoin, which is fine
                              for tiny dimension sides and NOT flagged)
- SortAggregate               hash-agg fell back to sorting the stream
                              (non-fixed-width aggregate buffers — the
                              minhash lesson)
- global Sort                 a `Sort ... global=true` outside
                              TakeOrderedAndProject: whole-dataset sort
                              where a bounded top-k was intended
- partition-less Window       `Window` with no partition spec moves the
                              ENTIRE input through one task (the r7
                              audit blind spot: four global-order-
                              statistic queries hid here) — use
                              operators.ranks.range_prefix instead
- Exchange count              informational; every exchange is a
                              shuffle to justify
- BatchEvalPython             row-at-a-time pickled Python UDF (guide
                              §4.1/§4.3) — the engine's Python paths
                              are Arrow-batched (ArrowEvalPython /
                              MapInPandas / MapInArrow are fine), so a
                              BatchEvalPython node is a regression

Exit code 1 if any query trips a flag, so the audit can gate CI.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path


def _indent(line: str) -> int:
    """Tree depth of a plan line (length of the ' :+-' scaffold)."""
    return len(line) - len(line.lstrip(" :+-"))


def _subtree_is_limit_bounded(lines: list[str], i: int) -> bool:
    """True if the window at lines[i] sits above a bounded top-k: its
    subtree contains a TakeOrderedAndProject / GlobalLimit /
    CollectLimit, i.e. the sanctioned `orderBy().limit(k)` idiom where
    the 'global' window ranks <= k already-reduced rows."""
    d = _indent(lines[i])
    for line in lines[i + 1 :]:
        if line.strip() and _indent(line) <= d:
            break
        if any(
            tok in line
            for tok in ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
        ):
            return True
    return False


def _has_partitionless_window(simple: str) -> bool:
    """A Window node prints `Window [exprs], [partSpec], [orderSpec]`;
    with NO partition spec the middle group is omitted and only TWO
    top-level bracket groups remain — count them with a depth scan
    (expressions nest brackets, so a regex can't)."""
    lines = simple.splitlines()
    for lineno, line in enumerate(lines):
        stripped = line.strip()
        idx = stripped.find("Window [")
        if idx < 0 or "WindowGroupLimit" in stripped:
            continue
        depth = 0
        groups: list[str] = []
        for ch in stripped[idx + len("Window ") :]:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            if depth > 0:
                groups[-1] += ch
        # Three groups = [exprs], [partSpec], [orderSpec]: fine.  Two
        # groups is ambiguous — `Window.partitionBy(k)` with no order
        # prints [exprs], [k] (fine, per-group) while
        # `Window.orderBy(k)` with no partition prints [exprs],
        # [k ASC ...] (single-task) — the order spec always carries an
        # ASC/DESC sort direction, the partition spec never does.  One
        # group = both empty (Window.partitionBy() over everything).
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(
            r"\b(ASC|DESC)\b", groups[1]
        ):
            continue
        if _subtree_is_limit_bounded(lines, lineno):
            continue
        return True
    return False


def audit_plan(simple: str, formatted: str = "") -> tuple[list[str], dict[str, int]]:
    """Return (flags, stats): flags grepped from the simple plan,
    stats from the formatted one (codegen ids only print there)."""
    flags = []
    if "CartesianProduct" in simple:
        flags.append("CartesianProduct (all-pairs join)")
    if "SortAggregate" in simple:
        flags.append("SortAggregate (non-fixed-width agg buffer)")
    # global sorts: simple-mode prints `+- Sort [...], true, 0` — the
    # boolean is the global flag; TakeOrderedAndProject is the sanctioned
    # bounded form and prints its own node name
    for m in re.finditer(r"Sort \[[^\]]*\], (true|false)", simple):
        if m.group(1) == "true":
            flags.append("global Sort (full-dataset ordering)")
            break
    if "BatchEvalPython" in simple:
        flags.append(
            "BatchEvalPython (row-at-a-time pickled UDF — use Arrow: "
            "useArrow=True / pandas_udf / mapInArrow)"
        )
    if _has_partitionless_window(simple):
        flags.append(
            "partition-less Window (single-task full-input window — "
            "use operators.ranks.range_prefix)"
        )
    stats = {
        "exchanges": simple.count("Exchange"),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", formatted))),
    }
    return flags, stats


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from unstract_spark.queries import _REGISTRY
    from unstract_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    import bench

    if filters and filters[0] == "--all":
        names = [n for n in _REGISTRY if len(filters) == 1
                 or any(f in n for f in filters[1:])]
    else:
        names = [n for n in bench.BENCH_QUERIES
                 if not filters or any(f in n for f in filters)]
    spark = get_spark("plan_audit")
    bad = 0
    for name in names:
        fn = _REGISTRY[name][0]
        try:
            df = fn(spark, sf_dir)
            # the same JVM helper df.explain() prints through; simple
            # mode for the flag greps, formatted for codegen spans
            qe = df._jdf.queryExecution()
            simple = spark._jvm.PythonSQLUtils.explainString(qe, "simple")
            formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        except Exception as e:  # noqa: BLE001 — audit must visit every query
            print(f"ERR   {name}: {str(e)[:120]}")
            bad += 1
            continue
        flags, stats = audit_plan(simple, formatted)
        if flags:
            bad += 1
            print(f"FLAG  {name}: {'; '.join(flags)}")
        else:
            print(
                f"ok    {name}: {stats['exchanges']} exchanges, "
                f"{stats['codegen_spans']} codegen spans"
            )
    print(f"\n{len(names) - bad} ok, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
