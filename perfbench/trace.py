"""Tracing for the traced run: spans recorded from the benchmark's side of
each call into the repo's modules, and Spark's own status stores read
from outside the program.

Nothing here needs the Spark UI: the job/stage data come from the
SparkContext's AppStatusStore, the Python-boundary metrics from the SQL
status store, and streaming fire durations from a StreamingQueryListener.
All three are populated with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, start, end, parent and op id. Spans are
    recorded only while `active` is set, so one process can time traced
    and untraced ops side by side."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.active = False
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        s = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` by a version that runs inside a span
        named `name`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr` to `new` until `unwrap_all`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def totals(self, ops: set[int]) -> dict[str, dict]:
        """Per span name over the given ops: calls, wall seconds and self
        seconds."""
        selfs = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            if s["op"] not in ops:
                continue
            a = agg.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            a["calls"] += 1
            a["wall_s"] += s["end"] - s["start"]
            a["self_s"] += selfs[s["id"]]
        return agg

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self.self_times()
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": selfs[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["id"])
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1, default=str)


def _seq(x) -> list:
    """A Scala Seq seen through py4j, as a Python list."""
    return [x.apply(i) for i in range(x.size())]


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([-\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str | None) -> float:
    """Bytes or seconds from an SQL metric's display string: either
    '12.3 MiB' or 'total (min, med, max ...)\\n12.3 MiB (...)'."""
    if not text:
        return 0.0
    m = _VALUE.search(text.split("\n", 1)[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * (_SIZE.get(unit) or _TIME[unit])


class SparkProbe:
    """Per-op engine counters read from Spark's status stores. The op's
    jobs are the ones submitted after `begin`: the benchmark drives one
    op at a time, and a streaming fire runs its jobs on the query's own
    thread, where a job group set by the caller does not reach. The
    listener bus is drained first, so every job, stage and SQL
    execution of the op is recorded."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._n_exec = 0
        self._job0 = -1

    def begin(self) -> None:
        self.drain()  # late events of the previous op stay out of this one
        self._n_exec = self._sql.executionsCount()
        self._job0 = max(self._job_ids(), default=-1)

    def _job_ids(self) -> list[int]:
        return [jd.jobId() for jd in _seq(self._store.jobsList(None))]

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def collect(self, t0_ms: float, t1_ms: float) -> dict:
        """Counters of the op begun last, whose wall interval was
        [t0_ms, t1_ms] in epoch milliseconds."""
        self.drain()
        jobs = sorted(j for j in self._job_ids() if j > self._job0)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "python_mb", "python_s"),
            0.0,
        )
        out["jobs"] = len(jobs)
        intervals = []
        empty_q = self.sc._gateway.new_array(self._jvm.double, 0)
        stages: set[int] = set()
        for jid in jobs:
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((max(sub.get().getTime(), t0_ms), min(end, t1_ms)))
            stages.update(_seq(jd.stageIds()))
        # a stage reused by a later job shows up in both jobs' lists
        for sid in sorted(stages):
            attempts = self._store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, empty_q)
            for sd in _seq(attempts):
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        busy, edge = 0.0, t0_ms
        for lo, hi in sorted(intervals):
            lo = max(lo, edge)
            if hi > lo:
                busy += hi - lo
                edge = hi
        out["driver_gap_s"] = max(0.0, (t1_ms - t0_ms) - busy) / 1e3
        job_set = set(jobs)
        n = self._sql.executionsCount()
        for ex in _seq(self._sql.executionsList(self._n_exec, n - self._n_exec)):
            if not job_set & {int(j) for j in _seq(ex.jobs().keys().toSeq())}:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for pm in _seq(ex.metrics()):
                name = pm.name()
                if "Python worker" not in name:
                    continue
                opt = values.get(pm.accumulatorId())
                v = parse_sql_metric(opt.get() if opt.isDefined() else None)
                if name.startswith("data "):
                    out["python_mb"] += v / 2**20
                elif name.startswith("time to run"):
                    out["python_s"] += v
        return out


class FireListener(StreamingQueryListener):
    """Collects every streaming progress event: the per-fire durationMs
    split and numInputRows."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.tag = None  # the op the events that arrive now belong to

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "tag": self.tag,
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
