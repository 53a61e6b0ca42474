"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": <sf>}

Queries chosen to cover the engine's hot shapes: scan+agg, broadcast
join, shuffle join+agg, window top-k, dedup (hash + MinHash LSH),
similarity top-k, text analysis, mock-LLM extraction, event windows.
Each is timed around a full materialization (count) so exchange +
codegen + shuffle all execute; results stay on executors (no driver
collect cost in the measurement).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

N_RUNS = 3  # timed repeats per query; the reported value is the median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from unstract_spark import queries as Q  # noqa: E402
from unstract_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "j6_broadcast_lookup",
    "j5_left_join_usage",
    "j1_history_antijoin",
    "w1_topk_per_group",
    "w3_sessionize",
    "events_session_window",
    "events_tumbling_window",
    "dd_exact_groups",
    "dd_minhash_neardup",
    "dd_simhash",
    "ta_quality_score",
    "ta_lang_id",
    "t9_extract_structured",
    "t16_classification",
    "t3_chunking",
    "sim_topk_bruteforce",
    "sim_rrf_fusion",
    # ANN scale paths (bucketed candidate join + exact re-rank) — the
    # queries that actually run at 100 TB, benched alongside their
    # brute-force oracle
    "sim_lsh_topk",
    "sim_ivf_topk",
    # round-5 additions: embedding near-dup's bucketed scale path,
    # training-export sharding/packing windows, and the pure-stdlib
    # JPEG decode pipeline (Arrow-batched Python — the priciest shape)
    "dd_embedding_neardup_lsh",
    "ex_shard_assignment",
    "ex_token_packing",
    "ex_corpus_prep",
    "mm_jpeg_features",
    # round-5 additions: PQ compressed-domain ANN, decontamination's
    # gram equi-join, the Gopher repetition shuffle, corpus BPE
    # train+encode, and the AVI demux/frame-sample Python stage
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "j7_asof_join",
    "j8_range_join",
    "dd_contamination",
    "ta_repetition",
    "bpe_token_counts",
    "mm_video_features",
    # round-6 additions: the skew-safe chunked as-of plan (priced
    # against the flat j7 above), the byte-level BPE encoder, and the
    # iterative connected-components cluster extraction
    "j7_asof_join_chunked",
    "bpe_byte_token_counts",
    "dd_duplicate_clusters",
    "dd_intra_overlap",
    "sim_bm25_topk",
    "ta_unigram_logprob",
    "sim_bm25_batch",
    "ex_stratified_sample",
    "events_rollup_cascade",
    "ex_curation_e2e",
    "ta_length_trim",
    "j9_interval_overlap",
    "events_anomalies",
    "mm_downsample_audio",
    # round-7 additions: the skew-fused LSH plan (hot-band cap live),
    # SCD2 point-in-time join, sliding-window hotspots, patch
    # extraction (Arrow decode fan-out), the doc-splitting packer,
    # MIPS ranking, and the Zipf regression
    "dd_minhash_skew",
    "j10_temporal_join",
    "events_hotspot_windows",
    "mm_image_tiles",
    "ex_pack_segments",
    "sim_mips_topk",
    "ta_zipf_fit",
    "events_retention_cohorts",
    "agg_correlation",
    "q4_order_priority",
    "q7_nation_volume",
    "q10_returned_items",
    "events_funnel",
    # round-7b additions: representative TPC-H shapes from the
    # completed 22-query suite (pure scan-agg, outer-join
    # distribution, HAVING + bounded top-k, disjunctive pushdown,
    # decorrelated double-EXISTS), the corpus-wide exact span
    # remover, and the exact-percentile window
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q21_waiting_supplier",
    "dd_span_removal",
    "agg_percentiles",
    "ta_bigram_logprob",
    "dd_bloom_membership",
    "j11_full_outer_reconcile",
    "w4_running_totals",
    "events_cusum",
    "graph_pagerank_fixed",
    # round-7c additions: the v2 capstone (span removal -> Bloom ->
    # quality -> shards in ONE plan), Z-order layout keys, TF-IDF
    # keywords, KS drift, the classifier projection, and the
    # augmentation decode fan-out
    "ex_curation_v2",
    "ex_zorder_codes",
    "ta_top_terms_tfidf",
    "agg_ks_test",
    "ta_quality_logit",
    "mm_image_augment",
    "events_window_distinct",
    # ta_jsd_drift is registry-gated but not benched (two-slice explode
    # + checkpoint + global rank — the shape is covered by the cheaper
    # text aggregations above).
    # ta_heavy_hitters_cms is registry-gated but not benched: its cost
    # is the fixed 4-row hash fan-out (sketch property under test, not
    # a scan shape the suite lacks).
    # dd_suffix_arrays / dd_duplicated_spans are registry-gated but
    # deliberately NOT benched: 7 prefix-doubling rounds at sf0.1 are
    # ~8 s x 4 runs of pure iterative-algorithm cost that would drown
    # the suite's signal (same policy as the recursive-CTE-oracle-only
    # provenance query).
    # round-8 additions: the web-corpus ingestion front end — WARC
    # demux (Arrow-batched Python, the blob-parse shape) and HTML
    # boilerplate removal (regex-heavy codegen + per-doc reassembly).
    # web_mojibake_repair / web_url_normalize are registry-gated but
    # not benched (pure narrow projections, shapes already covered).
    # NOTE: .count() prunes html's final main_text reassembly (~2x at
    # sf0.1: 0.85 s counted vs 1.70 s forced); the measured portion is
    # the dominant regex/explode/link-density pipeline.
    "web_warc_extract",
    "web_html_main_content",
    # paragraph dedup: the corpus-wide flag-by-frequency window shape
    # (fixed-width hash shuffle + per-doc reassembly)
    "dd_paragraph_dedup",
    # the web capstone: WARC mux/demux + HTML extraction feeding the
    # quality/shard back end in one plan
    "ex_curation_web",
    # CCNet perplexity terciles: the distributed global-rank shape
    # (range_prefix: range partition + per-partition rank + broadcast
    # offsets) — the r7 scale-killer fix's plan, under a bench row
    "ta_perplexity_buckets",
    # round-10 addition: the KMV sketch scan (per-Arrow-batch k-min
    # candidate prefilter + one TakeOrdered merge over <= batches*k
    # rows — the mergeable-sketch shape that replaces exact
    # count-distinct's full key shuffle at 100 TB). sk_kmv_overlap is
    # registry-gated but not benched: it is the same scan shape twice
    # plus a merge over <= 2k rows.
    "sk_kmv_distinct",
    # round-11 additions: the scalar-quantization ADC scan (integer
    # code dot product + exact re-rank — the 4x-compression rung
    # between raw floats and PQ's LUT scan; sim_sq4_topk is the same
    # plan with a narrower constant and is registry-gated only) and
    # the per-GROUP sketch shape (per-batch prefilter + per-group
    # window cut, vs sk_kmv_distinct's global TakeOrdered merge).
    "sim_sq8_topk",
    "sk_kmv_by_group",
    # dd_embedding_neardup_auto (the corpus-size-aware LSH geometry,
    # n_planes="auto") is registry-gated but NOT benched: at sf0.1 the
    # auto parameters buy recall 0.9 with 42 tables (~9 s — the
    # documented price of high recall at threshold 0.35), which would
    # drown the suite's signal; its scaling story is measured at the
    # SCALE.md rungs instead, where the occupancy-constant claim is
    # the thing under test.
    # round-11 additions: the theta-sketch join estimator (two sketch
    # builds + broadcast semi-join counts over <= k keys — the
    # multi-job checkpointed-sketch shape) and the unpivot-first
    # table profiler (stack expand + two hash aggregates + a
    # partitioned min/max window). j13_snapshot_diff /
    # ex_compaction_plan / agg_skew_report / events_ohlc_bars are
    # registry-gated but not benched: their plan shapes (full-outer
    # join, range_prefix running sum, groupBy + TakeOrdered,
    # partitioned window + hash agg) are already priced by
    # j11_full_outer_reconcile, w4_running_totals, w1_topk_per_group,
    # and events_hotspot_windows respectively.
    "sk_join_size",
    "agg_column_profile",
    # round-11 late additions: the CEP per-match explode (ObjectHash
    # collect_list -> coded-string regex scan -> posexplode + the
    # position-arithmetic window — the one-row-per-match
    # MATCH_RECOGNIZE shape, nothing else in the suite prices a
    # per-entity string scan) and degree-ordered triangle counting
    # (materialized oriented edge set + two equi-joins — the
    # non-iterative multi-join graph shape, vs pagerank's per-round
    # lineage truncation). mb_copurchase_lift / dq_expectations /
    # j14_interval_merge / sk_join_plan are registry-gated but not
    # benched: their shapes (basket self-join pair expansion, wide
    # CASE-sum aggregate + anti join, islands window + hash agg,
    # multi-job analyze) are already priced by graph_triangle_counts'
    # edge derivation, agg_count_distinct + j1_history_antijoin,
    # events_hotspot_windows/w4_running_totals, and sk_join_size
    # respectively.
    "events_pattern_rows",
    "graph_triangle_counts",
    # The round's remaining registrations are registry-gated but not
    # benched — each reuses a plan shape already priced above:
    # j16/j17/upsert (churn window + anti-join ~ j1+w1), sim_prf/
    # sim_rocchio/sim_recall_eval (BM25/brute-force shapes ~
    # sim_bm25_topk/sim_topk_bruteforce), ex_hilbert/ex_zonemap
    # (codegen projections ~ ex_zorder_codes), dq_*/agg_* statistics
    # (wide CASE-sum aggregates ~ agg_variance_by_status;
    # range_prefix ranks ~ ta_perplexity_buckets), graph_kcore/
    # graph_personalized_pagerank/graph_tree_depths (per-round
    # join+truncate ~ graph_pagerank_fixed), mm_audio_vad (fused
    # mapInPandas ~ mm_downsample_audio), events_* analytics
    # (user-keyed window/join shapes ~ w3/events_funnel),
    # ta_rouge_eval/ta_collocations_pmi/ta_feature_hash/
    # dd_minhash_calibration (explode + vocabulary groupBys ~
    # ta_token_counts/dd_minhash_neardup).
]

# Calibration: a fixed, code-independent scan-aggregate whose cost
# depends only on the host (same parquet bytes, same plan every
# round). CALIBRATION_REF_SEC pins its median on a quiet host
# (load avg < 2, r9 measurement at sf0.1); the emitted
# "calibration_ratio" = measured / ref, so "is this round's BENCH
# slower because of code or because of co-tenants?" is one division:
# unchanged queries drifting ~uniformly by the ratio is host noise
# (the r6/r8 forensic conclusion, now recorded per run).
CALIBRATION_REF_SEC = 0.55  # quiet-host median (r9, load avg ~1.0, sf0.1)


def _calibration(spark, sf_dir: str) -> float:
    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    samples = []
    for _ in range(N_RUNS):
        t0 = time.time()
        df.selectExpr(
            "sum(l_extendedprice * (1 - l_discount))",
            "sum(l_quantity)",
            "count(distinct l_orderkey)",
        ).collect()
        samples.append(time.time() - t0)
    return statistics.median(samples)


def _pipeline_e2e(spark, n_docs: int) -> float:
    import shutil
    import tempfile

    from unstract_spark.plans.pipeline import ExtractionJob, run_extraction

    base = tempfile.mkdtemp(prefix="bench_pipe_")
    try:
        docs_dir = os.path.join(base, "docs")
        os.makedirs(docs_dir)
        for i in range(n_docs):
            with open(os.path.join(docs_dir, f"d{i}.txt"), "w") as f:
                f.write(f"Invoice {i}: total {i * 7} dollars, vendor V{i % 17}. " * 8)
        job = ExtractionJob(
            source_dir=docs_dir,
            history_path=os.path.join(base, "hist"),
            max_files=n_docs,
            prompt_specs=[
                {"prompt_key": "invoice_no", "prompt": "id", "enforce_type": "text"},
                {"prompt_key": "total", "prompt": "total of {{invoice_no}}", "enforce_type": "number"},
                {"prompt_key": "vendor", "prompt": "vendor", "enforce_type": "text"},
            ],
        )
        t0 = time.time()
        out = run_extraction(spark, job)
        out["results"].count()
        out["usage"].count()
        return time.time() - t0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _streaming_kmv_bench(spark, sf_dir: str, n_fires: int = 3) -> float:
    """Wall time of the cross-fire KMV pipeline over the sf documents
    table split into `n_fires` deterministic drops (doc_id mod): the
    cost of sketch + merge + snapshot per fire. Prep I/O (writing the
    drop files) is untimed; the measured seconds are the fires."""
    import shutil
    import tempfile

    from unstract_spark.streaming.incremental import streaming_kmv_pipeline

    base = tempfile.mkdtemp(prefix="bench_skmv_")
    try:
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        src = os.path.join(base, "src")
        total = 0.0
        for i in range(n_fires):
            docs.filter(f"doc_id % {n_fires} = {i}").write.mode(
                "append"
            ).parquet(src)
            t0 = time.time()
            fired = streaming_kmv_pipeline(
                spark, src, os.path.join(base, "ckpt"),
                os.path.join(base, "store"), os.path.join(base, "out"),
            )
            total += time.time() - t0
            assert fired == 1
        return total
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _streaming_pattern_bench(spark, sf_dir: str, n_fires: int = 3) -> float:
    """Wall time of the cross-fire CEP pipeline over the sf events
    table split into `n_fires` time-sliced drops (per-user order is
    preserved across fires because the slices partition on ts alone).
    Measures code + residual-carry + rescan per fire; drop-file prep
    is untimed."""
    import shutil
    import tempfile

    from unstract_spark import queries as _q
    from unstract_spark.streaming.incremental import (
        streaming_pattern_pipeline,
    )

    base = tempfile.mkdtemp(prefix="bench_spat_")
    try:
        ev = _q._t(spark, sf_dir, "events").select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
        )
        lo, hi = ev.selectExpr(
            "min(cast(ts as long)) AS lo", "max(cast(ts as long)) AS hi"
        ).collect()[0]
        cuts = [lo + (hi - lo) * (i + 1) // n_fires for i in range(n_fires - 1)]
        bounds = [None, *cuts, None]
        src = os.path.join(base, "src")
        total = 0.0
        for i in range(n_fires):
            sl = ev
            if bounds[i] is not None:
                sl = sl.filter(f"cast(ts as long) >= {bounds[i]}")
            if bounds[i + 1] is not None:
                sl = sl.filter(f"cast(ts as long) < {bounds[i + 1]}")
            sl.write.mode("append").parquet(src)
            t0 = time.time()
            fired = streaming_pattern_pipeline(
                spark, src, os.path.join(base, "ckpt"),
                os.path.join(base, "store"),
                "v[^e]*?c[^e]*?p",
                {"view": "v", "click": "c", "purchase": "p",
                 "error": "e", "signup": "s"},
            )
            total += time.time() - t0
            assert fired == 1
        return total
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _streaming_warm(spark, sf_dir: str) -> None:
    """One untimed micro-fire of each streaming pipeline (3 source
    rows) — amortizes one-time streaming-engine init out of the timed
    fires, mirroring the untimed warm run every batch row gets."""
    import shutil
    import tempfile

    from unstract_spark.streaming.incremental import (
        streaming_kmv_pipeline,
        streaming_pattern_pipeline,
    )

    base = tempfile.mkdtemp(prefix="bench_swarm_")
    try:
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
        ).write.parquet(os.path.join(base, "ksrc"))
        streaming_kmv_pipeline(
            spark, os.path.join(base, "ksrc"), os.path.join(base, "kckpt"),
            os.path.join(base, "kstore"), os.path.join(base, "kout"),
        )
        spark.sql(
            "SELECT 1L AS user_id, timestamp'2026-01-01' AS ts,"
            " 1L AS event_id, 'view' AS event_type"
        ).write.parquet(os.path.join(base, "psrc"))
        streaming_pattern_pipeline(
            spark, os.path.join(base, "psrc"), os.path.join(base, "pckpt"),
            os.path.join(base, "pstore"),
            "v[^e]*?c[^e]*?p",
            {"view": "v", "click": "c", "purchase": "p",
             "error": "e", "signup": "s"},
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # JVM warm-up, then one untimed warm run per query (JMH-style):
    # the timed run measures steady-state execution — sustained
    # throughput, the quantity that extrapolates to cluster scale —
    # not one-time codegen/JIT compilation of this session. (AQE bakes
    # cached-relation stats into plan fragments, so warming at a
    # smaller sf does NOT hit the same generated code; the warm run
    # must use the measured input.)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    load_start = os.getloadavg()
    _calibration(spark, sf_dir)  # warm (page cache + codegen)
    calibration_sec = _calibration(spark, sf_dir)

    # Median-of-N: single runs at the sub-second scale bounce inside
    # VM/host noise (r2->r3 showed +-70% swings on unchanged plans);
    # the median of 3 in-session repeats is the stable per-query signal.
    qs = Q.queries()
    timings: dict[str, float] = {}
    total = 0.0

    # End-to-end document pipeline (BASELINE.md: files/min, mock LLM):
    # 200 synthetic docs through catalog -> dedup -> extract -> 3-field
    # typed extraction -> usage -> history merge. Measured FIRST, before
    # the query loop: the r5 bench ran it last and recorded 7.7 s where
    # a fresh session measures ~3 s — the query is ~12 Spark jobs of
    # sub-second tasks, so it is scheduling-latency-bound and inherits
    # whatever driver/host contention the preceding 36-query suite left
    # behind (r6 bisect: r4 code and r5 code measure identically fresh;
    # the 2.8x "regression" was entirely measurement position + host
    # noise).
    _pipeline_e2e(spark, n_docs=200)  # warm
    dt = statistics.median(_pipeline_e2e(spark, n_docs=200) for _ in range(N_RUNS))
    timings["pipeline_e2e_200docs"] = round(dt, 3)
    total += dt
    # 10x corpus datapoint (single run — it IS the steady-state shape):
    # at 200 docs the pipeline is scheduling-latency-bound (~12 jobs of
    # sub-second tasks), so round-over-round deltas there measure host
    # noise; 2000 docs puts real work in each task and is the datapoint
    # where per-doc throughput (and the checkpoint-reuse saving, which
    # grows with corpus size) is visible.
    dt2k = _pipeline_e2e(spark, n_docs=2000)
    timings["pipeline_e2e_2000docs"] = round(dt2k, 3)
    total += dt2k

    # Streaming twins (r11 verdict #6): the cross-fire KMV and CEP
    # pipelines were pytest-only, so a cross-fire cost regression was
    # invisible to the bench. Fixed fire count, deterministic drops
    # (doc_id mod / ts slices), single run each — like the 2000-doc
    # pipeline row, each fire is a multi-job foreachBatch sequence
    # whose cost IS the steady-state shape, and drop prep is untimed.
    #
    # r13 measurement fix (guide §1.4 / the suite's own JMH warm-run
    # policy): the FIRST streaming query of a session pays one-time
    # engine initialization (streaming classes, offset/commit-log
    # machinery, codegen of the micro-batch driver) — measured 2-3x on
    # the first fire vs steady state. Every batch row gets an untimed
    # warm run; the streaming rows now get the equivalent: one tiny
    # untimed fire of each pipeline before its timed fires. The r12
    # numbers (BENCH_r12*, kmv 5.63 / pattern 3.56 quiet floors)
    # include that one-time init; r13 values measure steady-state
    # fires (OPTIMIZATION_r13.md records both).
    _streaming_warm(spark, sf_dir)
    dts = _streaming_kmv_bench(spark, sf_dir)
    timings["streaming_kmv_3fires"] = round(dts, 3)
    total += dts
    dts = _streaming_pattern_bench(spark, sf_dir)
    timings["streaming_pattern_3fires"] = round(dts, 3)
    total += dts

    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir).count()  # warm: codegen + JIT + page cache
        samples = []
        for _ in range(N_RUNS):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples.append(time.time() - t0)
        dt = statistics.median(samples)
        timings[name] = round(dt, 3)
        total += dt

    # the pinned reference is sf0.1-specific (the driver's bench SF);
    # at other SFs the raw calibration_sec still prints but the ratio
    # would compare different parquet volumes, so it is omitted
    ratio = (
        round(calibration_sec / CALIBRATION_REF_SEC, 3)
        if CALIBRATION_REF_SEC and sf == "0.1"
        else None
    )
    out = {
        "metric": "operator_suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": N_RUNS,
        "aggregation": "median",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # host-noise instrumentation (r8 verdict #3): the fixed
        # scan-agg's measured cost vs its quiet-host reference, plus
        # load averages bracketing the run. value_normalized divides
        # out uniform host drift; per-query deltas beyond the ratio
        # are the real signal.
        "calibration_sec": round(calibration_sec, 3),
        "calibration_ref_sec": CALIBRATION_REF_SEC,
        "calibration_ratio": ratio,
        "value_normalized": round(total / ratio, 3) if ratio else None,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
