"""The closed-loop workloads. One caller in one process drives each: an
op starts only after the previous one and its output check have
finished.

A workload has an untimed `setup` (inputs, a fixed warm-up long enough
to reach the op-time plateau, reference outputs), an untimed `prepare`
that lands the op's new input, a timed `op`, an untimed `check` of that
op's outputs, and, in the traced run, `layers` that turns one traced
op's spans and listener events into per-layer counters.

BENCHMARK.json lists inbox_etl and streaming_fires. corpus_queries runs
by name (`--workload corpus_queries`) but is not listed: a run of any
workload costs about a minute, mostly JVM start and warm-up, and a full
benchmark session of 4 + 22 runs per workload fits in under an hour with
two workloads, not with three.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import FireListener, Tracer


def force(df: DataFrame, *metrics) -> Observation | None:
    """Run `df` to completion through the noop sink (never `.count()`,
    which prunes unused columns), observing `metrics` on the way."""
    obs = None
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    df.write.format("noop").mode("overwrite").save()
    return obs


class Workload:
    cycle = 1  # ops that make one unit of the mix
    trace_cycles = 1  # traced cycles the per-layer counters average over

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.failures: list[str] = []

    def prepare(self, op: int) -> None:
        """Land the input of op `op` (untimed)."""

    def check(self, op: int, out: dict) -> None:
        """Check op `op`'s outputs (untimed); record mismatches in
        `self.failures`."""

    def instrument(self) -> None:
        """Install this workload's spans (traced run only)."""

    def after_op(self, op: int) -> dict:
        """Counts of a traced op that need Spark jobs of their own; run
        after the op's timing and its Spark counters were read."""
        return {}

    def finish(self) -> None:
        """Checks that need the state after the last op."""


# --- inbox_etl ---------------------------------------------------------------


class InboxEtl(Workload):
    """Scheduled `run_extraction` over a sliding-window inbox of W files:
    each op retires the oldest drop of D files, lands a new drop of D,
    and runs once; results, skipped and usage all go to the noop sink."""

    W, D = 2000, 200
    # untimed ops after the seeding run: op time falls for about five
    # ops (16 s cold, then 4.4, 3.5, 3.2, 2.7, 2.6 s on a 4-CPU box)
    # before it levels off
    WARM_OPS = 5
    trace_cycles = 3

    def setup(self) -> None:
        from unstract_spark.plans.pipeline import ExtractionJob

        self.inbox = os.path.join(self.work, "inbox")
        os.makedirs(self.inbox)
        self.window = gen.write_inbox_files(self.inbox, self.seed, range(self.W))
        self.next_seq = self.W
        self.completed: set[str] = set()
        self.job = ExtractionJob(
            source_dir=self.inbox,
            history_path=os.path.join(self.work, "history"),
            workflow_id="wf-inbox",
            prompt_specs=gen.PROMPT_SPECS,
            glob=["*.txt", "*.json", "*.csv", "*.pdf"],
            max_files=self.W,
        )
        self._pending: list = []
        # the first run seeds the ledger with the whole window
        self._check_run(self._run())

        for _ in range(self.WARM_OPS):
            self.prepare(-1)
            self._check_run(self._run())

    def prepare(self, op: int) -> None:
        gen.remove_inbox_files(self.inbox, self.window[: self.D])
        drop = gen.write_inbox_files(self.inbox, self.seed, range(self.next_seq, self.next_seq + self.D))
        self.window = self.window[self.D:] + drop
        self.next_seq += self.D

    def _run(self) -> dict:
        from unstract_spark.plans import pipeline

        out = pipeline.run_extraction(self.spark, self.job)
        out["obs_results"] = force(
            out["results"],
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("status") == "ERROR", 1).otherwise(0)).alias("errors"),
        )
        out["obs_skipped"] = force(out["skipped"], F.count(F.lit(1)).alias("rows"))
        force(out["usage"])
        return out

    def op(self, op: int) -> tuple[int, dict]:
        return self.D, self._run()

    def check(self, op: int, out: dict) -> None:
        self._check_run(out)

    def _check_run(self, out: dict) -> None:
        fresh = [f for f in self.window if f.name not in self.completed]
        n_err = sum(f.text is None for f in self.window)
        got = out["obs_results"].get
        skipped = out["obs_skipped"].get["rows"]
        want = {"rows": len(fresh), "errors": n_err, "skipped": self.W - len(fresh)}
        have = {"rows": got["rows"], "errors": got["errors"], "skipped": skipped}
        if have != want:
            self.failures.append(f"inbox counts {have} != {want}")
            return
        keys = [s["prompt_key"] for s in gen.PROMPT_SPECS]
        rows = {r["file_name"]: r for r in out["results"].select("file_name", "status", *keys).collect()}
        for f in fresh:
            r = rows.get(f.name)
            if f.text is None:
                ok = r is not None and r["status"] == "ERROR" and all(r[k] is None for k in keys)
            else:
                ok = (r is not None and r["status"] == "SUCCESS"
                      and {k: r[k] for k in keys} == gen.mock_fields(f.text))
            if not ok:
                self.failures.append(f"inbox row {f.name}: {r}")
                return
        self.completed.update(f.name for f in fresh if f.text is not None)

    # -- traced run

    def instrument(self) -> None:
        from unstract_spark.plans import pipeline
        from unstract_spark.sinks.history import FileHistoryStore

        t = self.tracer
        t.wrap(pipeline, "run_extraction", "plans.pipeline.run_extraction")
        t.wrap(pipeline, "list_files", "sources.catalog.list_files")
        t.wrap(pipeline, "build_catalog", "sources.catalog.build_catalog")
        for name in ("read", "merge", "dedup_catalog", "replay_results"):
            t.wrap(FileHistoryStore, name, f"sinks.history.{name}")

        # the session's concrete DataFrame class (pyspark's classic one
        # overrides localCheckpoint, so patching the base class misses it)
        cls = type(self.spark.range(1))
        checkpoint = cls.localCheckpoint
        pending = self._pending

        def traced_checkpoint(df, *args, **kwargs):
            # run_extraction has two barriers of its own: the catalog
            # (first) and the extraction result (second)
            parent = t.current()
            name = "spark.localCheckpoint"
            if parent is not None and parent["name"] == "plans.pipeline.run_extraction":
                parent["_barriers"] = parent.get("_barriers", 0) + 1
                barrier = min(parent["_barriers"], 2) - 1
                name = ("sources.catalog.checkpoint", "plans.pipeline.extract")[barrier]
            with t.span(name) as s:
                out = checkpoint(df, *args, **kwargs)
            if s is not None and name == "sources.catalog.checkpoint":
                pending.append(out)
            return out

        t.replace(cls, "localCheckpoint", traced_checkpoint)

    def after_op(self, op: int) -> dict:
        listed = sum(df.count() for df in self._pending)
        self._pending.clear()
        ledger = self.spark.read.parquet(self.job.history_path).count()
        return {"listed_files": listed, "ledger_rows": ledger}

    def layers(self, spans: dict, counts: dict, out: dict, wall_s: float) -> dict:
        def wall(name):
            return spans.get(name, {}).get("wall_s", 0.0)

        listed = counts["listed_files"]
        got = out["obs_results"].get
        skipped = out["obs_skipped"].get["rows"]
        merge = spans.get("sinks.history.merge", {})
        return {
            "sources.catalog.listed_files": listed,
            "sources.catalog.stage_s": wall("sources.catalog.list_files")
            + wall("sources.catalog.build_catalog") + wall("sources.catalog.checkpoint"),
            "sources.catalog.useful_ratio": got["rows"] / listed if listed else 0.0,
            "sinks.history.reads": spans.get("sinks.history.read", {}).get("calls", 0),
            "sinks.history.read_s": wall("sinks.history.read"),
            "sinks.history.merge_s": merge.get("self_s", 0.0),
            "sinks.history.ledger_rows": counts["ledger_rows"],
            "sinks.history.hit_ratio": skipped / listed if listed else 0.0,
            "plans.pipeline.extract_stage_s": wall("plans.pipeline.extract"),
            "plans.pipeline.self_s": spans.get("plans.pipeline.run_extraction", {}).get("self_s", 0.0),
            "plans.pipeline.error_rows": got["errors"],
        }


# --- streaming_fires -----------------------------------------------------------

PATTERN = "v[^e]*?c[^e]*?p"
CODES = {"view": "v", "click": "c", "purchase": "p", "error": "e", "signup": "s"}
# fire counter -> durationMs key of the streaming progress event
DURATION = {
    "add_batch_s": "addBatch", "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset",
    "trigger_s": "triggerExecution",
}


class StreamingFires(Workload):
    """Cron ticks over two AvailableNow pipelines: each tick lands one new
    drop per pipeline and fires the cross-fire KMV sketch pipeline (fed
    `documents` drops), then the CEP pattern pipeline (fed time-sliced
    `events` drops). One op is one tick, i.e. one fire of each."""

    DOCS_PER_DROP, EVENTS_PER_DROP, USERS = 2000, 8000, 500
    PIPES = ("kmv", "pattern")
    # untimed ticks: fire time falls for about six fires per pipeline
    # (kmv 4.7 s, 1.6 s, ... 1.0 s on a 4-CPU box) before it levels off
    WARM_TICKS = 6
    trace_cycles = 3

    def setup(self) -> None:
        self.dirs = {
            p: {k: os.path.join(self.work, p, k) for k in ("src", "ckpt", "store", "out")}
            for p in self.PIPES
        }
        self.drops = dict.fromkeys(self.PIPES, 0)
        self.rows = dict.fromkeys(self.PIPES, 0)
        self.listener = None

        for _ in range(self.WARM_TICKS):
            self.prepare(-1)
            for p in self.PIPES:
                self._fire(p)

    def prepare(self, op: int) -> None:
        for p in self.PIPES:
            self._land(p)

    def _land(self, p: str) -> None:
        i = self.drops[p]
        if p == "kmv":
            df, schema = gen.doc_drop(self.seed, i, self.DOCS_PER_DROP), gen.DOC_SCHEMA
        else:
            df, schema = gen.event_drop(self.seed, i, self.EVENTS_PER_DROP, self.USERS), gen.EVENT_SCHEMA
        gen.write_drop(df, self.dirs[p]["src"], i, schema)
        self.drops[p] += 1
        self.rows[p] = len(df)

    def _fire(self, p: str) -> None:
        from unstract_spark.streaming import incremental

        d = self.dirs[p]
        if p == "kmv":
            fires = incremental.streaming_kmv_pipeline(self.spark, d["src"], d["ckpt"], d["store"], d["out"])
        else:
            fires = incremental.streaming_pattern_pipeline(
                self.spark, d["src"], d["ckpt"], d["store"], PATTERN, CODES
            )
        if fires != 1:
            self.failures.append(f"{p} fire returned {fires}")

    def op(self, op: int) -> tuple[int, dict]:
        if self.listener is not None:
            self.listener.tag = op
        walls = {}
        for p in self.PIPES:
            t0 = time.perf_counter()
            self._fire(p)
            walls[p] = time.perf_counter() - t0
        return sum(self.rows.values()), {"op": op, "walls": walls}

    def finish(self) -> None:
        """After the last fire: the cumulative outputs equal their batch
        twins over the union of every drop."""
        from unstract_spark.operators import sketches
        from unstract_spark.operators.timeseries import event_pattern_match

        k = 256
        d = self.dirs["kmv"]
        union = self.spark.read.schema("doc_id long, text string").parquet(d["src"])
        want_sketch = sketches.kmv_sketch(union, "text", k)
        latest = max(int(n.split("=", 1)[1]) for n in os.listdir(d["store"]) if n.startswith("batch_id="))
        got = {r.h for r in self.spark.read.parquet(f"{d['store']}/batch_id={latest}").collect()}
        if got != {r.h for r in want_sketch.collect()}:
            self.failures.append("kmv store != sketch of the union")
        est = self.spark.read.parquet(f"{d['out']}/batch_id={latest}").collect()[0]
        want = sketches.kmv_estimate(want_sketch, k).collect()[0]
        fields = ("n_sketch", "kth_hash", "est_distinct")
        if [est[f] for f in fields] != [want[f] for f in fields]:
            self.failures.append("kmv estimate != estimate of the union sketch")

        d = self.dirs["pattern"]
        events = self.spark.read.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        ).parquet(d["src"])
        cols = ("seq_len", "n_matches", "first_match", "total_match_len")
        want = {r.user_id: tuple(r[c] for c in cols)
                for r in event_pattern_match(events, PATTERN, CODES).collect()}
        latest = max(int(n.split("=", 1)[1]) for n in os.listdir(d["store"]) if n.startswith("batch_id="))
        got = {r.user_id: tuple(r[c] for c in cols)
               for r in self.spark.read.parquet(f"{d['store']}/batch_id={latest}").collect()}
        if got != want:
            self.failures.append("pattern state != batch match over the union")

    # -- traced run

    def instrument(self) -> None:
        import json

        self.listener = FireListener()
        self.spark.streams.addListener(self.listener)
        # a query keeps its id across restarts on one checkpoint
        self.query_ids = {}
        for p in self.PIPES:
            with open(os.path.join(self.dirs[p]["ckpt"], "metadata")) as fh:
                self.query_ids[json.load(fh)["id"]] = p

    def layers(self, spans: dict, counts: dict, out: dict, wall_s: float) -> dict:
        m = {}
        for p in self.PIPES:
            events = [e for e in self.listener.progress
                      if e["tag"] == out["op"] and self.query_ids.get(e["id"]) == p]
            pre = f"streaming.incremental.{p}."
            for k, v in DURATION.items():
                m[pre + k] = sum(e["ms"].get(v, 0) for e in events) / 1e3
            m[pre + "input_rows"] = sum(e["rows"] for e in events)
            m[pre + "start_stop_s"] = out["walls"][p] - m[pre + "trigger_s"]
            m[pre + "store_partitions"] = sum(
                n.startswith("batch_id=") for n in os.listdir(self.dirs[p]["store"])
            )
        return m


# --- corpus_queries ------------------------------------------------------------

MIX = (
    "dd_minhash_neardup", "dd_simhash", "dd_duplicate_clusters", "sim_bm25_batch",
    "sim_ivf_topk", "ta_repetition", "web_html_main_content", "q5_region_volume",
)
CORPUS_TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")


def fingerprint(df: DataFrame) -> list:
    """Order-insensitive (row count, content hash) observed as the rows
    stream into the sink. Floating columns are rounded first, so a
    different summation order inside the engine cannot flip the hash."""
    cols = [
        F.round(F.col(f.name), 6) if f.dataType.typeName() in ("double", "float") else F.col(f.name)
        for f in df.schema.fields
    ]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ]


class CorpusQueries(Workload):
    """A fixed mix of eight registry queries over generated tables of
    half the sf0.1 size; each op is one query forced through the noop
    sink, the order reshuffled by the seed every pass."""

    SCALE = 0.5
    cycle = len(MIX)

    def setup(self) -> None:
        import duckdb

        from tools.check_correctness import result_hash
        from unstract_spark import queries

        from perfbench.measure import log

        self.sf = os.path.join(self.work, "sf")
        gen.write_corpus(self.sf, self.seed, self.SCALE)
        log("corpus written")
        self.registry = queries.queries()
        oracle = queries.oracle_sql()
        con = duckdb.connect()
        try:
            for t in CORPUS_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            want = {}
            for name in MIX:
                cur = con.execute(oracle[name])
                want[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        log("oracle hashed")
        # warm pass through the sink, which also records each query's
        # observed fingerprint; then every query's rows must hash like
        # the DuckDB oracle's
        self.reference = {}
        for name in MIX:
            df = self.registry[name](self.spark, self.sf)
            self.reference[name] = force(df, *fingerprint(df)).get
            if result_hash(df.columns, [tuple(r) for r in df.collect()]) != want[name]:
                self.failures.append(f"{name}: result hash differs from the DuckDB oracle")
            log(f"warm + oracle check {name}")
        self.order: list[str] = []
        self.rng = random.Random(self.seed)

    def prepare(self, op: int) -> None:
        if op % len(MIX) == 0:
            self.order = list(MIX)
            self.rng.shuffle(self.order)

    def op(self, op: int) -> tuple[int, dict]:
        name = self.order[op % len(MIX)]
        df = self.registry[name](self.spark, self.sf)
        return 1, {"name": name, "obs": force(df, *fingerprint(df))}

    def check(self, op: int, out: dict) -> None:
        got = out["obs"].get
        if got != self.reference[out["name"]]:
            self.failures.append(f"{out['name']}: observed {got} != reference {self.reference[out['name']]}")

    def layers(self, spans: dict, counts: dict, out: dict, wall_s: float) -> dict:
        return {f"queries.{out['name']}_s": wall_s}


WORKLOADS = {"inbox_etl": InboxEtl, "streaming_fires": StreamingFires, "corpus_queries": CorpusQueries}
