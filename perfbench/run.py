"""Benchmark entry point, run from the root of a source checkout:

    python3 perfbench/run.py --workload inbox_etl --seed 1 --seconds 8 --trace 0

Workloads: inbox_etl, streaming_fires, corpus_queries (see
perfbench/workloads.py and perfbench/README.md). The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
counters of a separate traced run, whose spans go to
.perfbench/trace_<workload>_seed<seed>.json. Scratch files live under
.perfbench/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_spark(work: str, cpus: int):
    """The engine session sized to this box: one task thread per CPU, a
    driver heap well inside the host's memory, scratch space inside the
    checkout, and the repo on the Python workers' path."""
    from unstract_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def calibration_s(spark, work: str) -> float:
    """bench.py's fixed scan-aggregate over a fixed 600k-row lineitem
    table (the same bytes whatever the seed): one warm run, then one
    timed run. Its time depends on the host, not on this repo's code."""
    from perfbench import gen

    root = os.path.join(work, "calibration")
    gen.write_lineitem(root, 0, 600_000, 150_000, 20_000, 1_000)

    def run() -> float:
        # a new frame each time: re-running one frame reuses its shuffle files
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(root, "lineitem.parquet")).selectExpr(
            "sum(l_extendedprice * (1 - l_discount))", "sum(l_quantity)", "count(distinct l_orderkey)"
        ).collect()
        return time.perf_counter() - t0

    run()
    return run()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait until every one of them has ended."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while `pid` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "unstract_spark")):
        print(f"perfbench: no unstract_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import measure
    from perfbench.metrics import E2E, PER_LAYER
    from perfbench.trace import SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata directory under /tmp from the driver JVM or from
    # spark-submit's launcher JVM: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    spark = None
    try:
        cpus = len(os.sched_getaffinity(0))
        spark = start_spark(work, cpus)
        measure.log(f"spark up at local[{cpus}]")
        tracer = Tracer()
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        measure.log("set up")
        setup_failed = bool(wl.failures)
        probe = None
        if args.trace:
            wl.instrument()
            probe = SparkProbe(spark)
        setup_s = measure.process_age_s()

        m = measure_ops(wl, tracer, probe, args.seconds)
        n_fail = len(wl.failures)
        wl.finish()
        if len(wl.failures) > n_fail:
            m.failed += 1

        retained = measure.retained_mb(spark)
        calib = calibration_s(spark, work)
        host = {"host.steal_pct": m.steal_pct, "host.calibration_s": calib}
        if args.trace:
            metrics = layer_metrics(m, wl.trace_cycles * wl.cycle, host)
            tracer.dump(
                os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": metrics, "per_op": m.layer_rows},
            )
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": measure.median(m.times),
                "items_per_s": m.items / sum(m.times),
                "cpu_s_per_item": measure.median(m.cpu_per_item),
                "retained_mb": retained,
            }
            units = E2E
        # host noise of this run, recorded and never divided out
        print(
            f"perfbench {args.workload} seed={args.seed}: p50 over {len(m.times)} ops,"
            f" {m.items} items, steal {m.steal_pct:.1f} %, calibration {calib:.3f} s,"
            f" setup {setup_s:.2f} s, setup failed={setup_failed}",
            file=sys.stderr,
        )
        print("perfbench op seconds: " + " ".join(f"{t:.3f}" for t in m.times), file=sys.stderr)
        for f in wl.failures[:20]:
            print(f"perfbench check failed: {f}", file=sys.stderr)
        result = {
            "correct": not wl.failures,
            "attempted": len(m.times),
            "failed": m.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


@dataclass
class Measured:
    times: list[float] = field(default_factory=list)
    traced: list[float] = field(default_factory=list)
    plain: list[float] = field(default_factory=list)
    cpu_per_item: list[float] = field(default_factory=list)
    layer_rows: list[dict] = field(default_factory=list)
    items: int = 0
    failed: int = 0
    steal_pct: float = 0.0


def measure_ops(wl, tracer, probe, seconds: float) -> Measured:
    """Closed loop: one op at a time until the timed ops add up to
    `seconds` (whole cycles only), each op timed, then checked. With a
    probe (the traced run) cycles alternate between traced and untraced,
    and the loop runs on until `wl.trace_cycles` cycles were traced."""
    from perfbench import measure

    m = Measured()
    steal0 = measure.cpu_times()
    op = 0
    while True:
        if op % wl.cycle == 0 and sum(m.times) >= seconds:
            if probe is None or (len(m.layer_rows) >= wl.trace_cycles * wl.cycle and m.plain):
                break
        traced = probe is not None and (op // wl.cycle) % 2 == 0
        wl.prepare(op)
        n_fail = len(wl.failures)
        tracer.active, tracer.op = traced, op
        if traced:
            probe.begin()
        c0 = measure.tree_cpu_s()
        e0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            n_items, out = wl.op(op)
        except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
            wl.failures.append(f"op {op}: {type(e).__name__}: {e}"[:500])
            n_items, out = 0, None
        dt = time.perf_counter() - t0
        e1 = time.time() * 1e3
        if n_items:
            m.cpu_per_item.append((measure.tree_cpu_s() - c0) / n_items)
        tracer.active = False
        if traced:
            # read before the check, whose own jobs belong to no op
            row = {f"spark.{k}": v for k, v in probe.collect(e0, e1).items()}
        if out is not None:
            wl.check(op, out)
        m.times.append(dt)
        m.items += n_items
        (m.traced if traced else m.plain).append(dt)
        if traced:
            counts = wl.after_op(op)
            if out is not None:
                row.update(wl.layers(tracer.totals({op}), counts, out, dt))
            m.layer_rows.append(row)
        if len(wl.failures) > n_fail:
            m.failed += 1
        op += 1
    m.steal_pct = measure.steal_pct(steal0, measure.cpu_times())
    return m


def layer_metrics(m: Measured, n: int, host: dict) -> dict:
    """Every per-layer counter: the mean over the first `n` traced ops of
    the ops that touch the layer, so counts repeat exactly across runs.
    A layer the workload bypasses reads 0. Tracing overhead compares the
    median traced op with the median untraced op of the same run."""
    from perfbench.measure import median
    from perfbench.metrics import PER_LAYER

    rows = m.layer_rows[:n]
    metrics = {}
    for name in PER_LAYER:
        vals = [r[name] for r in rows if name in r]
        metrics[name] = sum(vals) / len(vals) if vals else 0.0
    metrics.update(host)
    metrics["trace.overhead_pct"] = 100.0 * (median(m.traced) / median(m.plain) - 1) if m.plain else 0.0
    return metrics


if __name__ == "__main__":
    sys.exit(main())
