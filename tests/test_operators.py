"""Operator-level semantics not covered by the SQL-oracle gate."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from unstract_spark.mock import MockLLM, mock_embed_texts
from unstract_spark.operators import chunking, dedup, retrieval, similarity
from unstract_spark.operators.prompts import (
    coerce_boolean,
    coerce_date,
    coerce_number,
    extract_structured_mock,
    na_to_null,
    single_pass_mock,
)
from unstract_spark.operators.usage import execution_status_rollup


# ---------- chunking ----------


def test_chunk_fixed_covers_text(spark):
    df = spark.createDataFrame([(1, "a" * 1000)], "doc_id long, text string")
    chunks = chunking.chunk_fixed(df, chunk_size=300, chunk_overlap=100).collect()
    # stride 200: starts 0,200,...,800 -> ceil((1000-100)/200)=5 chunks
    assert len(chunks) == 5
    joined = "".join(c.chunk_text[:200] for c in sorted(chunks, key=lambda c: c.chunk_no))
    assert joined == "a" * 1000  # strided prefixes reassemble the doc


def test_chunk_zero_means_whole_doc(spark):
    df = spark.createDataFrame([(1, "short doc")], "doc_id long, text string")
    chunks = chunking.chunk_fixed(df, chunk_size=0).collect()
    assert len(chunks) == 1 and chunks[0].chunk_text == "short doc"


def test_chunk_sentences_overlap(spark):
    text = "One sentence here. Two sentence here. Three sentence here. Four is last."
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = chunking.chunk_sentences(df, chunk_size=45, chunk_overlap=20).collect()
    assert len(chunks) >= 2
    full = " ".join(c.chunk_text for c in sorted(chunks, key=lambda c: c.chunk_no))
    for sent in ["One sentence here.", "Four is last."]:
        assert sent in full


# ---------- dedup ----------


def test_history_dedup_and_replay(spark, tmp_path):
    from unstract_spark.schemas import FILE_HISTORY
    from unstract_spark.sinks.history import FileHistoryStore

    files = spark.createDataFrame(
        [("h1", "/a.txt"), ("h2", "/b.txt"), ("h3", "/c.txt")],
        "file_hash string, file_path string",
    )
    store = FileHistoryStore(spark, str(tmp_path / "hist"))
    store.merge(spark.createDataFrame(
        [("h1", None, "/a.txt", "wf", "COMPLETED", "{}", None, 1),
         ("h2", None, "/b.txt", "wf", "ERROR", None, None, 1)],
        FILE_HISTORY,
    ))
    fresh = store.dedup_catalog(files).collect()
    # only COMPLETED dedups; ERROR rows re-process (file_history.py:21)
    assert {r.file_path for r in fresh} == {"/b.txt", "/c.txt"}
    assert [r.file_path for r in store.replay_results(files).collect()] == ["/a.txt"]


def test_minhash_identical_docs_match(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 5),
         (2, "the quick brown fox jumps over the lazy dog " * 5),
         (3, "completely different content about spark engines " * 5)],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(dedup.char_shingles(df)).persist()
    sigs.count()
    pairs = dedup.lsh_candidate_pairs(sigs)
    sim = {(r.id_a, r.id_b): r.est_jaccard for r in dedup.minhash_similarity(sigs, pairs).collect()}
    assert sim[(1, 2)] == 1.0
    assert (1, 3) not in sim or sim[(1, 3)] < 0.5


def test_simhash_near_duplicates_close(spark):
    base = "spark engines process large datasets with partitioned shuffles " * 8
    df = spark.createDataFrame(
        [(1, base), (2, base + " tiny suffix"), (3, "unrelated short text entirely")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in
           dedup.simhash_fingerprint(dedup.char_shingles(df)).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(fps[1], fps[2]) <= 4
    assert ham(fps[1], fps[3]) > 4


def test_ngram_jaccard_max_df_bounds_boilerplate(spark):
    """Boilerplate-skewed corpus: every doc shares one license header,
    so without the df cap every doc pairs with every other. With
    max_df, the shared grams drop out and only the true near-dup pair
    survives — candidate count goes from quadratic to O(dups)."""
    header = "licensed under the apache license version two point zero "
    rows = [(i, header + f"unique content body number {i} with words {i * 7}")
            for i in range(30)]
    rows.append((30, rows[0][1] + " tail"))  # true near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(df, min_jaccard=0.05).count()
    capped = dedup.ngram_jaccard_pairs(df, min_jaccard=0.05, max_df=5)
    capped_rows = capped.collect()
    assert uncapped >= 30 * 29 / 2  # boilerplate made it all-pairs
    assert len(capped_rows) < 10  # df cap collapsed the candidate set
    assert (0, 30) in {(r.id_a, r.id_b) for r in capped_rows}  # real dup kept


def test_lsh_max_bucket_drops_hot_bands(spark):
    """A template cluster (identical docs) lands in one hot band bucket;
    max_bucket drops it while distinct near-dup pairs still emerge."""
    template = "exactly the same boilerplate document body repeated " * 4
    rows = [(i, template) for i in range(20)]  # hot cluster: 190 pairs/band
    rows += [(100, "a genuinely distinct document about spark shuffles " * 4),
             (101, "a genuinely distinct document about spark shuffles " * 4 + " x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.char_shingles(df)).persist()
    sigs.count()
    uncapped = dedup.lsh_candidate_pairs(sigs).count()
    capped = {(r.id_a, r.id_b) for r in
              dedup.lsh_candidate_pairs(sigs, max_bucket=5).collect()}
    sigs.unpersist()
    assert uncapped >= 190  # hot bucket exploded quadratically
    assert (100, 101) in capped  # real near-dup survives the cap
    assert len(capped) <= 5  # hot template bucket was dropped


# ---------- similarity / ANN ----------


@pytest.fixture(scope="module")
def embedding_frames(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16)).astype(np.float32)
    # 10 queries = index vectors + small noise (guaranteed near-neighbors)
    queries = base[:10] + rng.normal(scale=0.05, size=(10, 16)).astype(np.float32)
    index = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)], "vec_id long, embedding array<float>"
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries)], "query_id long, query_vec array<float>"
    )
    return qdf, index


def test_lsh_recall_vs_bruteforce(embedding_frames):
    qdf, index = embedding_frames
    exact = similarity.brute_force_topk(qdf, index, k=3)
    approx = similarity.lsh_topk_join(qdf, index, dim=16, k=3, n_planes=4, n_tables=6)
    exact_top1 = {(r.query_id, r.vec_id) for r in exact.collect() if r.rank == 1}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_top1 & approx_pairs) / len(exact_top1)
    assert recall >= 0.8  # multi-table LSH should find ~all planted top-1s


def test_rrf_fusion_prefers_consensus(spark):
    r1 = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "vec_id long, rank long")
    r2 = spark.createDataFrame([(10, 2), (40, 1), (30, 3)], "vec_id long, rank long")
    fused = retrieval.rrf_fuse([r1, r2], k=4, id_col="vec_id").collect()
    assert fused[0].vec_id == 10  # appears highly in both rankings


# ---------- prompts / coercion ----------


def test_number_coercion_multipliers(spark):
    df = spark.createDataFrame(
        [("about 2.5 million units",), ("12 thousand",), ("plain 42",), ("none here",)],
        "raw string",
    )
    vals = [r.v for r in df.select(coerce_number(F.col("raw")).alias("v")).collect()]
    assert vals == [2_500_000.0, 12_000.0, 42.0, None]


def test_na_boolean_date_coercion(spark):
    df = spark.createDataFrame([(" NA ", "yes", "2024-03-05 10:00:00")], "a string, b string, c string")
    row = df.select(
        na_to_null(F.col("a")).alias("a"),
        coerce_boolean(F.col("b")).alias("b"),
        coerce_date(F.col("c")).alias("c"),
    ).collect()[0]
    assert row.a is None and row.b is True and row.c.year == 2024


def test_extract_structured_matches_python_mock(spark):
    df = spark.createDataFrame([(1, "doc body one"), (2, "doc body two")], "doc_id long, text string")
    out = {r.doc_id: r for r in
           extract_structured_mock(df, [{"prompt_key": "f1", "enforce_type": "text"}]).collect()}
    import hashlib
    fp = hashlib.md5(b"doc body one").hexdigest()
    expect = MockLLM._answer("f1", fp)
    expect = None if expect == "NA" else expect
    assert out[1].f1 == expect


def test_table_record_coercion_validates_structure(spark):
    from unstract_spark.operators.prompts import coerce

    df = spark.createDataFrame(
        [('[{"a":1},{"a":2}]',), ('{"a":1}',), ('not json [',), ("NA",), ("[broken",)],
        "raw string",
    )
    out = df.select(
        coerce(F.col("raw"), "table").alias("t"),
        coerce(F.col("raw"), "record").alias("r"),
    ).collect()
    # valid array -> table only; valid object -> record only; junk/NA -> neither
    assert out[0].t == '[{"a":1},{"a":2}]' and out[0].r is None
    assert out[1].t is None and out[1].r == '{"a":1}'
    assert all(o.t is None and o.r is None for o in out[2:])


def test_extract_table_mock_isolates_failures(spark):
    from unstract_spark.operators.prompts import extract_table_mock

    df = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(64)], "doc_id long, text string"
    )
    rows = extract_table_mock(df).collect()
    ok = [r for r in rows if r.status == "SUCCESS"]
    assert len(ok) > 0 and all(1 <= r.table_rows <= 3 for r in ok)
    for r in rows:
        if r.status == "ERROR":  # NA path -> null output, row survived
            assert r.table_json is None or r.record_json is None


def test_single_pass_one_call_id_per_doc(spark):
    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    out = single_pass_mock(df, ["x", "y", "z"]).collect()
    for r in out:
        assert r.call_id is not None and r.x and r.y and r.z  # one fused call id


# ---------- usage / status ----------


def test_execution_status_rollup(spark):
    rows = [
        ("e1", "f1", "COMPLETED", 1.0), ("e1", "f2", "ERROR", 2.0),
        ("e2", "f3", "ERROR", 1.5), ("e2", "f4", "ERROR", 0.5),
    ]
    df = spark.createDataFrame(
        rows, "execution_id string, file_execution_id string, status string, execution_time_s double"
    )
    agg = {r.execution_id: r for r in execution_status_rollup(df).collect()}
    assert agg["e1"].final_status == "COMPLETED"  # partial success
    assert agg["e2"].final_status == "ERROR"


# ---------- mock embedding ----------


def test_mock_embedding_deterministic_unit_norm():
    a = mock_embed_texts(["hello", "hello", "world"])
    assert np.allclose(a[0], a[1])
    assert not np.allclose(a[0], a[2])
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-5)


def test_usage_breakdown_by_model_drop_guard(spark):
    """Unlabeled LLM rows (producer bug) are dropped; embedding rows
    with empty reason keep a bare-type bucket; reasoned LLM rows key
    as reason_type (reference usage_v2/helper.py:107-186)."""
    from unstract_spark.operators.usage import usage_breakdown_by_model

    rows = [
        ("llm", "extraction", "m1", 10, 5, 15, 0, 0.001),
        ("llm", "extraction", "m1", 20, 5, 25, 0, 0.002),
        ("llm", "challenge", "m1", 1, 1, 2, 0, 0.0005),
        ("llm", None, "m1", 99, 99, 198, 0, 9.9),     # producer bug -> dropped
        ("embedding", "", "e1", 0, 0, 0, 64, 0.0001),
    ]
    usage = spark.createDataFrame(
        rows,
        "usage_type string, llm_usage_reason string, model_name string,"
        " prompt_tokens long, completion_tokens long, total_tokens long,"
        " embedding_tokens long, cost_in_dollars double",
    )
    out = {(r.bucket, r.model_name): r for r in usage_breakdown_by_model(usage).collect()}
    assert set(out) == {
        ("extraction_llm", "m1"),
        ("challenge_llm", "m1"),
        ("embedding", "e1"),
    }
    ext = out[("extraction_llm", "m1")]
    assert ext.sum_input_tokens == 30 and ext.sum_total_tokens == 40
    assert abs(ext.sum_cost - 0.003) < 1e-9
    assert out[("embedding", "e1")].sum_embedding_tokens == 64


# --- connected components / duplicate clusters -----------------------


def test_connected_components_long_chain_converges(spark):
    """A 200-node chain: plain min-label propagation needs ~200 rounds;
    the star algorithm must finish within its 25-round budget
    (O(log n)) and label every node with the chain head."""
    from unstract_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    out = {r.node: r.component
           for r in connected_components(edges, small_graph_threshold=0).collect()}
    assert set(out) == set(range(1, 201)) and set(out.values()) == {0} or (
        set(out) >= set(range(1, 201))
    )
    assert all(c == 0 for c in out.values())


def test_connected_components_hot_node_star(spark):
    """One doc near-duplicating 500 others (the skew case): no
    neighbor-list materialization, correct single component."""
    from unstract_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(7, i) for i in range(100, 600)], "id_a long, id_b long"
    )
    out = {r.node: r.component
           for r in connected_components(edges, small_graph_threshold=0).collect()}
    assert all(c == 7 for c in out.values())
    assert len(out) == 501  # 500 spokes + the hub's own root row


def test_duplicate_clusters_shapes(spark):
    from unstract_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.75), (4, 5, 0.25), (6, 7, 1.0)],
        "id_a long, id_b long, est_jaccard double",
    )
    rows = {r.doc_id: r for r in duplicate_clusters(docs, pairs, 0.5).collect()}
    assert rows[1].cluster_id == 1 and rows[3].cluster_id == 1
    assert rows[1].cluster_size == 3 and rows[1].is_keeper
    assert not rows[2].is_keeper and not rows[3].is_keeper
    # the 0.25 pair is below threshold: 4 and 5 stay singleton keepers
    assert rows[4].cluster_size == 1 and rows[4].is_keeper
    assert rows[6].is_keeper and rows[7].cluster_id == 6


def test_intra_corpus_overlap_zeros_and_fractions(spark):
    from unstract_spark.operators.dedup import intra_corpus_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # grams: "a b c", "b c d"
            (2, "a b c x"),          # shares "a b c"
            (3, "zz"),               # too short: zero grams
            (4, None),               # null text
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in intra_corpus_overlap(docs, n=3).collect()}
    assert rows[1].n_grams == 2 and rows[1].n_shared_grams == 1
    assert abs(rows[1].share_fraction - 0.5) < 1e-12
    assert rows[2].n_shared_grams == 1
    assert rows[3].n_grams == 0 and rows[3].share_fraction == 0.0
    assert rows[4].n_grams == 0 and rows[4].n_shared_grams == 0


def test_bm25_semantics(spark):
    """tf saturation, idf: rare-term matches outrank common-term
    matches; longer docs are penalized at equal tf."""
    from unstract_spark.operators.retrieval import bm25_retrieve

    docs = spark.createDataFrame(
        [
            (1, "rare word here"),
            (2, "common common common filler filler filler filler filler"),
            (3, "common word plus " + "pad " * 40),
            (4, "common word"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bm25_retrieve(docs, ["rare", "common"], k=4).collect()}
    # 'rare' appears in 1 doc of 4 -> higher idf than 'common' (3 docs)
    assert rows[1].rank == 1
    # same tf of 'common', doc 4 much shorter than doc 3 -> ranks higher
    assert rows[4].rank < rows[3].rank
    # tf saturation: doc 2 has tf=3 but no rare term; still below doc 1
    assert rows[2].bm25 < rows[1].bm25


def test_bm25_batch_matches_single(spark):
    """One query through the batch API equals the single-query path
    row-for-row; per-query isolation holds."""
    from unstract_spark.operators.retrieval import bm25_retrieve, bm25_retrieve_batch

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} " + "alpha " * (i % 4)) for i in range(20)],
        "doc_id long, text string",
    )
    single = [
        (r.doc_id, r.bm25, r.rank)
        for r in bm25_retrieve(docs, ["alpha", "doc3"], k=5).collect()
    ]
    q = spark.createDataFrame(
        [(7, ["alpha", "doc3"]), (8, ["gamma"])],
        "query_id int, terms array<string>",
    )
    batch = bm25_retrieve_batch(docs, q, k=5).collect()
    got7 = sorted(
        (r.doc_id, r.bm25, r.rank) for r in batch if r.query_id == 7
    )
    assert got7 == sorted(single)
    assert {r.query_id for r in batch} == {7, 8}
    assert all(r.rank <= 5 for r in batch)


def test_rollup_cascade_reads_raw_once_and_is_exact(spark):
    from unstract_spark.operators.timeseries import rollup_cascade

    df = spark.createDataFrame(
        [(f"2024-01-01 10:{m:02d}:{s:02d}", 0.1 * i)
         for i, (m, s) in enumerate((m, s) for m in range(3) for s in (0, 30))],
        "t string, value double",
    ).select(F.to_timestamp("t").alias("ts"), "value")
    out = rollup_cascade(df)
    rows = {(r.level, str(r.bucket_start)): r for r in out.collect()}
    assert sum(1 for k in rows if k[0] == "minute") == 3
    assert sum(1 for k in rows if k[0] == "hour") == 1
    hour = next(r for (lvl, _), r in rows.items() if lvl == "hour")
    assert hour.n_events == 6
    # decimal cascade is exact: sum of 0.1*i over i=0..5 = 1.5
    assert hour.total_value == 1.5
    day = next(r for (lvl, _), r in rows.items() if lvl == "day")
    assert day.n_events == 6 and day.total_value == 1.5
    # tiers are materialized: the presentation union never re-reads the
    # source (raw was scanned exactly once, at fine-tier checkpoint)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and plan.count("Scan ExistingRDD") >= 3


def test_connected_components_paths_agree(spark):
    """Driver union-find fast path and distributed star rounds produce
    identical labels on the same graph."""
    import random

    from unstract_spark.operators.dedup import connected_components

    rng = random.Random(11)
    rows = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = {(r.node, r.component)
            for r in connected_components(edges).collect()}
    dist = {(r.node, r.component)
            for r in connected_components(edges, small_graph_threshold=0).collect()}
    assert fast == dist


def test_remove_duplicated_spans_semantics(spark):
    """Crafted corpus: shared boilerplate is excised, unique text kept,
    a wholly-duplicated doc cleans to empty, overlapping windows merge
    into one span."""
    from unstract_spark.operators.dedup import remove_duplicated_spans

    boiler = "SUBSCRIBE TO OUR NEWSLETTER TODAY!"  # 34 chars, shared
    docs = spark.createDataFrame(
        [
            (1, "alpha unique text one. " + boiler),
            (2, boiler + " beta unique closing words."),
            (3, boiler),          # wholly duplicated -> empty
            (4, "totally original content without repeats"),
            (5, "short"),          # < k, untouched by construction
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicated_spans(docs, k=16).collect()}
    # unique doc and sub-k doc untouched
    assert out[4].n_spans == 0 and out[4].cleaned_text.startswith("totally")
    assert out[5].n_spans == 0 and out[5].cleaned_text == "short"
    # the boilerplate vanished from every carrier
    for i in (1, 2, 3):
        assert "SUBSCRIBE" not in out[i].cleaned_text
    # wholly-duplicated doc cleans to empty
    assert out[3].cleaned_text == "" and out[3].cleaned_len == 0
    # overlapping k-windows merged: one span per doc here, not many
    assert out[1].n_spans == 1 and out[2].n_spans == 1
    # removal is exact-span: unique prefix/suffix survive verbatim
    assert out[1].cleaned_text == "alpha unique text one. "
    assert out[2].cleaned_text == " beta unique closing words."
    # accounting holds
    for i in (1, 2, 3, 4, 5):
        assert out[i].cleaned_len == len(out[i].cleaned_text)


def test_bm25_store_matches_transient(spark, tmp_path):
    """Bm25IndexStore: persisted postings + scalars reproduce the
    transient bm25_retrieve row-for-row (same decimal-rounded scores,
    same ranks), and the word-bucket layout prunes to the query's
    partitions."""
    from unstract_spark.operators.retrieval import Bm25IndexStore, bm25_retrieve

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle merge join window"),
            (2, "spark spark spark window"),
            (3, "completely unrelated words here"),
            (4, "merge window merge shuffle"),
            (5, "the quick brown fox"),
        ],
        "doc_id long, text string",
    )
    terms = ["spark", "merge", "window"]
    want = {
        (r.doc_id, r.bm25, r.rank)
        for r in bm25_retrieve(docs, terms, k=4).collect()
    }
    store = Bm25IndexStore(spark, str(tmp_path / "bm25"))
    assert store.build(docs) == 5
    got_df = store.query(terms, k=4)
    got = {(r.doc_id, r.bm25, r.rank) for r in got_df.collect()}
    assert got == want
    # partition pruning reaches the scan: the postings read carries a
    # wb filter over the partition column
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "wb" in plan


def test_bm25_store_empty_build_round_trips(spark, tmp_path):
    """Empty corpus: build writes a schema-carrying store (the
    empty-partitionBy-write pitfall), query returns an empty frame
    with the standard columns instead of dying on schema inference."""
    from unstract_spark.operators.retrieval import Bm25IndexStore

    docs = spark.createDataFrame([], "doc_id long, text string")
    store = Bm25IndexStore(spark, str(tmp_path / "bm25"))
    assert store.build(docs) == 0
    out = store.query(["anything"], k=3)
    assert out.count() == 0
    assert {"doc_id", "bm25", "rank"} <= set(out.columns)


def test_opq_store_empty_build_round_trips(spark, tmp_path):
    """OpqIndexStore on an empty index: build persists schema + meta,
    query returns empty with the standard shape."""
    from unstract_spark.operators.similarity import (
        OpqIndexStore,
        pq_codebooks,
    )
    import numpy as np

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    store = OpqIndexStore(spark, str(tmp_path / "opq"), dim=16, n_sub=4,
                          n_codes=8)
    n = store.build(
        e, rotation=np.eye(16), codebooks=pq_codebooks(16, 4, 8)
    )
    assert n == 0
    q = spark.createDataFrame(
        [(0, [0.1] * 16)], "query_id long, query_vec array<float>"
    )
    out = store.query(q, k=3)
    assert out.count() == 0


def test_new_operators_empty_input_sanity(spark):
    """Empty-input contracts for the round-7 operator family: empty in,
    empty (or sane) out, never an exception — the row-level-isolation
    discipline extended to whole-frame degeneracy."""
    import numpy as np

    from unstract_spark.operators.dedup import (
        bloom_filter_bits,
        bloom_membership,
        remove_duplicated_spans,
    )
    from unstract_spark.operators.graph import pagerank_fixed
    from unstract_spark.operators.joins import salted_join
    from unstract_spark.operators.text_analysis import (
        bigram_logprob,
        count_min_sketch,
    )

    edocs = spark.createDataFrame([], "doc_id long, text string")
    assert remove_duplicated_spans(edocs).count() == 0
    assert count_min_sketch(edocs).count() == 0
    out = bigram_logprob(edocs)
    assert out.count() == 0 and "avg_logprob" in out.columns

    efp = spark.createDataFrame([], "doc_id long, fingerprint string")
    bits = bloom_filter_bits(efp)
    assert bits.count() == 0
    some = spark.createDataFrame(
        [(1, "abc")], "doc_id long, fingerprint string"
    )
    mem = {r.doc_id: r.maybe_seen for r in bloom_membership(some, bits).collect()}
    assert mem == {1: False}  # empty filter: nothing maybe_seen

    eedges = spark.createDataFrame([], "src string, dst string")
    assert pagerank_fixed(eedges, iters=1).count() == 0

    efacts = spark.createDataFrame([], "k long, v long")
    dim_df = spark.createDataFrame([(1, "a")], "k long, name string")
    assert salted_join(efacts, dim_df, "k").count() == 0


def test_label_propagation_bounded_rounds_and_convergence(spark):
    """3 rounds carry the min id within distance 3; run long enough it
    equals connected-components min labels. Path graph a-b-c-d-e plus
    an isolated pair x-y."""
    from unstract_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "src string, dst string",
    )
    one = {r.node: r.community for r in label_propagation(edges, iters=1).collect()}
    # one round: 'e' only sees 'd'
    assert one["e"] == "d" and one["a"] == "a" and one["y"] == "x"
    conv = {r.node: r.community for r in label_propagation(edges, iters=4).collect()}
    assert {conv[n] for n in "abcde"} == {"a"}
    assert conv["x"] == "x" and conv["y"] == "x"


def test_label_propagation_directed_keeps_sink_nodes(spark):
    """Code-review r9: with undirected=False a dst-only sink node must
    still emit a community row (labels flow along edge direction)."""
    from unstract_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = {
        r.node: r.community
        for r in label_propagation(edges, iters=1, undirected=False).collect()
    }
    assert rows == {"a": "a", "b": "a"}


def test_auto_band_params_tracks_threshold():
    """S-curve rule: higher Jaccard bar -> longer bands (fewer, more
    selective buckets); b*r always equals num_hashes."""
    from unstract_spark.operators.dedup import auto_band_params

    rs = []
    for t in (0.1, 0.5, 0.7, 0.95):
        r, b = auto_band_params(8, t)
        assert r * b == 8
        rs.append(r)
    assert rs == sorted(rs)  # monotone in the threshold
    assert auto_band_params(8, 0.5) == (2, 4)  # the classic default


def test_dispatcher_sq8_override(spark):
    """similarity_topk(strategy='sq8') routes through sq8_topk_join
    with a priced plan and the standard output shape."""
    import random

    from pyspark.sql import functions as F

    from unstract_spark.operators.similarity import similarity_topk

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got, plan = similarity_topk(q, e, dim=8, k=4, strategy="sq8")
    assert plan.strategy == "sq8" and plan.est_mults > 0
    out = got.collect()
    assert len(out) == 8 and all(r.rank <= 4 for r in out)
    # self-match survives the dispatcher path
    assert {(r.query_id, r.vec_id) for r in out if r.rank == 1} == {(0, 0), (1, 1)}


def test_sq8_codes_bounded_and_topk_matches_brute(spark):
    """SQ8 codes stay in [-127, 127] and the shortlist+re-rank returns
    the same top-k as brute force on a small corpus (refine covers the
    quantization error at this size)."""
    import random

    from pyspark.sql import functions as F

    from unstract_spark.operators.similarity import (
        brute_force_topk,
        sq8_topk_join,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in sq8_topk_join(q, e, dim=8, k=5, refine=4).collect()
    }
    want = {
        (r.query_id, r.rank): r.vec_id
        for r in brute_force_topk(q, e, dim=8, k=5).collect()
    }
    assert got == want

    from unstract_spark.operators.similarity import _sq8_cols

    scale, codes = _sq8_cols("embedding", "i")
    mx = e.select(codes).select(
        F.array_max(F.transform(F.col("i_codes"), lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert mx <= 127


def test_sq_bit_width_ladder_codes_and_topk(spark):
    """Verdict r10 #5: SQ4/SQ6 bit-width rungs. Codes at `bits` stay
    in [-qmax, qmax] with qmax = 2^(bits-1)-1 and actually USE the
    range (max |code| == qmax — the per-vector scale maps max|x| onto
    it exactly); on a small corpus a modest refine still recovers the
    brute-force top-k even at 4 bits (the quantization error is the
    candidate ORDER, which the exact re-rank repairs)."""
    import random

    from pyspark.sql import functions as F

    from unstract_spark.operators.similarity import (
        _sq8_cols,
        brute_force_topk,
        sq8_topk_join,
    )

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = {
        (r.query_id, r.rank): r.vec_id
        for r in brute_force_topk(q, e, dim=8, k=5).collect()
    }
    for bits, qmax in ((6, 31), (4, 7)):
        _scale, codes = _sq8_cols("embedding", "i", bits=bits)
        mx = e.select(codes).select(
            F.array_max(
                F.transform(F.col("i_codes"), lambda x: F.abs(x))
            ).alias("m")
        ).agg(F.max("m")).collect()[0][0]
        assert mx == qmax
        got = {
            (r.query_id, r.rank): r.vec_id
            for r in sq8_topk_join(
                q, e, dim=8, k=5, refine=8, bits=bits
            ).collect()
        }
        assert got == want


def test_auto_bloom_m_prevents_saturation(spark):
    """The r10 40x-rung lesson: a FIXED m=8192 saturates once the
    history outgrows it (every bit set -> every probe positive, the
    filter silently degenerates); auto_bloom_m sizes m to the history
    so occupancy and the false-positive rate stay bounded."""
    from pyspark.sql import functions as F

    from unstract_spark.operators.dedup import (
        auto_bloom_m,
        bloom_filter_bits,
        bloom_membership,
    )

    # exact integer sizing rule (the SQL oracle re-derives this)
    assert auto_bloom_m(1) == 1024
    assert auto_bloom_m(102) == 1024           # 1020 rounds up
    assert auto_bloom_m(103) == 2048           # 1030 crosses 1024
    assert auto_bloom_m(66_000) == 660_480     # the 40x-rung history
    assert auto_bloom_m(66_000) % 1024 == 0

    n = 20_000
    hist = spark.range(n).select(
        F.md5(F.concat(F.lit("h"), F.col("id"))).alias("fingerprint")
    )
    probes = spark.range(n, n + 2_000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.concat(F.lit("h"), F.col("id"))).alias("fingerprint"),
    )

    # fixed 8192 bits vs 20k keys: saturated -> all 2000 non-members
    # flagged maybe_seen (the degenerate filter)
    bits_fixed = bloom_filter_bits(hist, m=8192, k=4)
    assert bits_fixed.count() == 8192
    fp_fixed = (
        bloom_membership(probes, bits_fixed, m=8192, k=4)
        .filter(F.col("maybe_seen")).count()
    )
    assert fp_fixed == 2_000

    # auto-sized: occupancy bounded, FP rate ~ (1 - e^{-kn/m})^k ≈ 1.2%
    m = auto_bloom_m(n)
    bits_auto = bloom_filter_bits(hist, m=m, k=4)
    assert bits_auto.count() < m // 2          # not saturated
    fp_auto = (
        bloom_membership(probes, bits_auto, m=m, k=4)
        .filter(F.col("maybe_seen")).count()
    )
    assert fp_auto < 2_000 * 0.05              # loose 4x band on 1.2%


def test_profile_columns_one_pass_stats(spark):
    from unstract_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "aa", None), (2, "b", None), (2, None, None)],
        "k int, s string, dead string",
    )
    got = {r.col_name: r for r in profile_columns(df, ["k", "s", "dead"]).collect()}
    k = got["k"]
    assert (k.n_rows, k.n_null, k.n_distinct) == (3, 0, 2)
    assert (k.min_str, k.max_str, k.avg_len) == ("1", "2", 1.0)
    s = got["s"]
    assert (s.n_rows, s.n_null, s.n_distinct) == (3, 1, 2)
    assert (s.min_str, s.max_str, s.avg_len) == ("aa", "b", 1.5)
    dead = got["dead"]  # all-null: no min/max, avg_len NULL
    assert (dead.n_null, dead.n_distinct) == (3, 0)
    assert dead.min_str is None and dead.max_str is None
    assert dead.avg_len is None


def test_ohlc_bars_open_close_tiebreak(spark):
    from datetime import datetime

    from unstract_spark.operators.timeseries import ohlc_bars

    t0 = datetime(2024, 1, 1, 10, 5)
    t1 = datetime(2024, 1, 1, 10, 20)
    rows = [
        # same timestamp t0: event_id breaks the tie, so open = id 1
        (1, t0, "a", 5.0),
        (2, t0, "a", 9.0),
        (3, t1, "a", 2.0),
        (4, t1, "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {
        r.event_type: r for r in ohlc_bars(df, id_col="event_id").collect()
    }
    a = got["a"]
    assert (a.open, a.high, a.low, a.close, a.n_events) == (
        5.0, 9.0, 2.0, 2.0, 3,
    )
    b = got["b"]
    assert (b.open, b.close, b.n_events) == (7.0, 7.0, 1)


def test_ohlc_cascade_fold_equals_direct(spark):
    from datetime import datetime

    from unstract_spark.operators.timeseries import ohlc_bars, ohlc_cascade

    rows = [
        (1, datetime(2024, 1, 1, 9, 30), "a", 5.0),
        (2, datetime(2024, 1, 1, 10, 15), "a", 9.0),
        (3, datetime(2024, 1, 2, 8, 0), "a", 2.0),
        (4, datetime(2024, 1, 1, 9, 45), "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    cas = ohlc_cascade(df, levels=("hour", "day"))
    daily_direct = sorted(
        tuple(r) for r in ohlc_bars(df, level="day").collect()
    )
    daily_folded = sorted(
        tuple(r)[1:]
        for r in cas.filter(F.col("level") == "day").collect()
    )
    assert daily_folded == daily_direct
    # day 1 'a': open from 9:30 tick, close from 10:15 — across hours
    d1 = [r for r in daily_folded if r[0] == "a" and r[1].day == 1][0]
    assert (d1[2], d1[5], d1[6]) == (5.0, 9.0, 2)


def test_event_pattern_match_order_overlap_and_blockers(spark):
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_match

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: v c p v c p -> two non-overlapping matches
        (1, t(0), "view"), (2, t(1), "click"), (3, t(2), "purchase"),
        (4, t(3), "view"), (5, t(4), "click"), (6, t(5), "purchase"),
        # user 2: v ERROR c p -> error blocks the [^e] gap
        (7, t(0), "view"), (8, t(1), "error"),
        (9, t(2), "click"), (10, t(3), "purchase"),
        # user 3: arrives out of ingest order; ts ordering must win
        (12, t(1), "click"), (11, t(0), "view"), (13, t(2), "purchase"),
    ]
    df = spark.createDataFrame(
        [(u % 100, ts, et, u) for (u, ts, et) in rows],
        "event_id long, ts timestamp, event_type string, user_id long",
    ).selectExpr(
        "user_id div 7 + 1 as _drop", "event_id", "ts", "event_type",
        "case when event_id <= 6 then 1 when event_id <= 10 then 2 "
        "else 3 end as user_id",
    ).drop("_drop")
    got = {
        r.user_id: (r.seq_len, r.n_matches, r.first_match,
                    r.total_match_len)
        for r in event_pattern_match(
            df, "v[^e]*?c[^e]*?p",
            {"view": "v", "click": "c", "purchase": "p", "error": "e"},
        ).collect()
    }
    assert got[1] == (6, 2, "vcp", 6)
    assert got[2] == (4, 0, "", 0)
    assert got[3] == (3, 1, "vcp", 3)


def test_event_pattern_rows_positions_and_measures(spark):
    from datetime import datetime

    from unstract_spark.operators.timeseries import event_pattern_rows

    t = lambda m: datetime(2024, 1, 1, 10, m)  # noqa: E731
    # user 1: x v c p v s c p  -> matches 'vcp' @2 and 'vscp' @5
    # user 2: v e v c p        -> error blocks pos 1; match 'vcp' @3
    # user 3: v c              -> no match, no rows
    rows = [
        (1, 1, t(0), "other", 1.0), (1, 2, t(1), "view", 2.0),
        (1, 3, t(2), "click", 3.0), (1, 4, t(3), "purchase", 4.01),
        (1, 5, t(4), "view", 5.0), (1, 6, t(5), "signup", 6.0),
        (1, 7, t(6), "click", 7.0), (1, 8, t(7), "purchase", 8.0),
        (2, 11, t(0), "view", 1.0), (2, 12, t(1), "error", 1.0),
        (2, 13, t(2), "view", 2.5), (2, 14, t(3), "click", 2.5),
        (2, 15, t(4), "purchase", 5.0),
        (3, 21, t(0), "view", 1.0), (3, 22, t(1), "click", 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )
    out = {
        (r.user_id, r.match_idx): r
        for r in event_pattern_rows(
            df, "v[^e]*?c[^e]*?p",
            {"view": "v", "click": "c", "purchase": "p",
             "signup": "s", "error": "e"},
        ).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    m11 = out[(1, 1)]
    assert (m11.start_pos, m11.n_events, m11.codes) == (2, 3, "vcp")
    assert (m11.start_ts, m11.end_ts) == (t(1), t(3))
    assert m11.duration_us == 2 * 60 * 1_000_000
    assert m11.value_cents == 200 + 300 + 401
    m12 = out[(1, 2)]
    assert (m12.start_pos, m12.n_events, m12.codes) == (5, 4, "vscp")
    assert (m12.start_ts, m12.end_ts) == (t(4), t(7))
    assert m12.value_cents == 500 + 600 + 700 + 800
    m21 = out[(2, 1)]
    assert (m21.start_pos, m21.n_events, m21.codes) == (3, 3, "vcp")
    assert m21.value_cents == 250 + 250 + 500


def test_expectation_report_counts_violations(spark):
    from unstract_spark.operators.profile import expectation_report

    df = spark.createDataFrame(
        [
            (1, 1, 5.0), (1, 2, -1.0),        # one negative amount
            (2, 1, 3.0), (2, 1, 4.0),          # duplicate (k, line)
            (None, 1, 2.0),                    # null key
            (9, 1, 1.0),                       # dangling reference
        ],
        "k long, line int, amount double",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rk long")
    got = {
        r.check_name: (r.n_checked, r.n_violations, r.status)
        for r in expectation_report(
            df,
            [
                ("complete_k", F.col("k").isNull()),
                ("non_negative_amount", F.col("amount") < 0),
            ],
            unique_cols=["k", "line"],
            reference=(ref, "k", "rk"),
        ).collect()
    }
    assert got == {
        "complete_k": (6, 1, "fail"),
        "non_negative_amount": (6, 1, "fail"),
        "uniqueness_k_line": (6, 1, "fail"),
        # anti-join: the null key AND key 9 don't match ref
        "referential_k": (6, 2, "fail"),
    }

    clean = spark.createDataFrame([(1, 1, 5.0)], "k long, line int, amount double")
    st = {
        r.check_name: r.status
        for r in expectation_report(
            clean,
            [("non_negative_amount", F.col("amount") < 0)],
            unique_cols=["k", "line"],
        ).collect()
    }
    assert st == {"non_negative_amount": "pass", "uniqueness_k_line": "pass"}

    # the r13 shared-exchange keyed plan: identical report on the same
    # adversarial input (dup pair, null key, null line, dangling ref)
    df2 = df.unionByName(
        spark.createDataFrame(
            [(3, None, 1.0)], "k long, line int, amount double"
        )
    )
    for frame in (df, df2):
        default = {
            (r.check_name, r.n_checked, r.n_violations, r.status)
            for r in expectation_report(
                frame,
                [
                    ("complete_k", F.col("k").isNull()),
                    ("non_negative_amount", F.col("amount") < 0),
                ],
                unique_cols=["k", "line"],
                reference=(ref, "k", "rk"),
            ).collect()
        }
        keyed = {
            (r.check_name, r.n_checked, r.n_violations, r.status)
            for r in expectation_report(
                frame,
                [
                    ("complete_k", F.col("k").isNull()),
                    ("non_negative_amount", F.col("amount") < 0),
                ],
                unique_cols=["k", "line"],
                reference=(ref, "k", "rk"),
                key_col="k",
            ).collect()
        }
        assert keyed == default

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must lead unique_cols"):
        expectation_report(
            df, [], unique_cols=["line", "k"], key_col="k"
        ).collect()
    with _pytest.raises(ValueError, match="referential key"):
        expectation_report(
            df, [], reference=(ref, "line", "rk"), key_col="k"
        ).collect()


def test_attribution_credits_sum_to_one_million(spark):
    from unstract_spark.operators.timeseries import attribution_credits

    # user 1: touches at 10,20,30 before conv at 100 (n=3);
    #         touch at 40 is AFTER a window if window=50? no — use
    #         a touch outside the lookback to check the bound
    conv = spark.createDataFrame(
        [(1, 100, 900), (2, 100, 901)], "user_id long, us long, event_id long"
    )
    touch = spark.createDataFrame(
        [
            (1, 10, 1), (1, 20, 2), (1, 30, 3),
            (1, 100, 4),   # at conv instant: excluded (strict <)
            (2, 60, 5),    # only touch for user 2
            (2, 100 - 51, 6),  # outside window=50
        ],
        "user_id long, us long, event_id long",
    )
    out = attribution_credits(conv, touch, window_us=50).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r.conv_id, []).append(r)
    # user 1: only touches within (50, 100) -> none! us 10/20/30 are
    # outside window=50 (conv_us - 50 = 50). Adjust: touches must be
    # >= 50: none qualify -> conv 900 absent
    assert 900 not in by_conv
    assert [r.touch_id for r in by_conv[901]] == [5]
    assert by_conv[901][0].linear_ppm == 1_000_000
    assert by_conv[901][0].ushape_ppm == 1_000_000

    # n=3 and n=5 remainder rules: credits sum to exactly 1e6
    conv2 = spark.createDataFrame(
        [(7, 1000, 70), (8, 1000, 80)], "user_id long, us long, event_id long"
    )
    touch2 = spark.createDataFrame(
        [(7, 100 + i, 700 + i) for i in range(3)]
        + [(8, 100 + i, 800 + i) for i in range(5)],
        "user_id long, us long, event_id long",
    )
    rows = attribution_credits(conv2, touch2).collect()
    lin = {}
    ush = {}
    for r in rows:
        lin.setdefault(r.conv_id, []).append((r.touch_rank, r.linear_ppm))
        ush.setdefault(r.conv_id, []).append((r.touch_rank, r.ushape_ppm))
    assert sorted(lin[70]) == [(1, 333333), (2, 333333), (3, 333334)]
    assert sorted(ush[70]) == [(1, 400000), (2, 200000), (3, 400000)]
    assert sum(v for _, v in lin[80]) == 1_000_000
    assert sorted(ush[80]) == [
        (1, 400000 + 200000 - 66666 * 3), (2, 66666), (3, 66666),
        (4, 66666), (5, 400000),
    ]
    assert sum(v for _, v in ush[80]) == 1_000_000


def test_event_pattern_max_events_truncates_flagged(spark):
    """The CEP buffer bound (r11 verdict #5): a synthetic mega-user is
    truncated to its most recent `max_events` events WITH an
    n_dropped flag, every other user's output stays byte-identical to
    the uncapped run, and max_events=None leaves schema and results
    unchanged."""
    from datetime import datetime, timedelta

    from unstract_spark.operators.timeseries import (
        event_pattern_all_rows,
        event_pattern_match,
        event_pattern_rows,
    )

    t0 = datetime(2024, 1, 1, 10, 0)
    cm = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    pat = "v[^e]*?c[^e]*?p"
    cycle = ["view", "click", "purchase"]
    # mega-user 1: 300 events = 100 vcp matches; normal users 2 and 3
    rows = [
        (1, i + 1, t0 + timedelta(minutes=i), cycle[i % 3], 1.0)
        for i in range(300)
    ]
    rows += [
        (2, 1001, t0, "view", 1.0), (2, 1002, t0 + timedelta(minutes=1),
                                     "click", 2.0),
        (2, 1003, t0 + timedelta(minutes=2), "purchase", 3.0),
        (3, 2001, t0, "view", 1.0), (3, 2002, t0 + timedelta(minutes=1),
                                     "error", 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )

    full = {r.user_id: r for r in event_pattern_match(df, pat, cm).collect()}
    assert "n_dropped" not in event_pattern_match(df, pat, cm).columns
    assert full[1].n_matches == 100

    capped_df = event_pattern_match(df, pat, cm, max_events=30)
    got = {r.user_id: r for r in capped_df.collect()}
    # mega-user: last 30 events = 10 whole vcp cycles, flagged
    assert got[1].n_dropped == 270
    assert (got[1].seq_len, got[1].n_matches) == (30, 10)
    # everyone else: byte-identical measures, n_dropped == 0
    for u in (2, 3):
        assert got[u].n_dropped == 0
        assert (got[u].seq_len, got[u].n_matches, got[u].first_match,
                got[u].total_match_len) == (
            full[u].seq_len, full[u].n_matches, full[u].first_match,
            full[u].total_match_len)

    # per-match and per-event variants share the guard; the kept
    # matches are exactly the full run's LAST 10 for the mega-user
    full_rows = event_pattern_rows(df, pat, cm).collect()
    cap_rows = event_pattern_rows(df, pat, cm, max_events=30).collect()
    mega_full = sorted(
        (r.start_ts, r.end_ts, r.value_cents)
        for r in full_rows if r.user_id == 1
    )[-10:]
    mega_cap = sorted(
        (r.start_ts, r.end_ts, r.value_cents)
        for r in cap_rows if r.user_id == 1
    )
    assert mega_cap == mega_full
    assert all(r.n_dropped == 270 for r in cap_rows if r.user_id == 1)
    assert sorted(
        (r.start_ts, r.end_ts, r.value_cents)
        for r in cap_rows if r.user_id == 2
    ) == sorted(
        (r.start_ts, r.end_ts, r.value_cents)
        for r in full_rows if r.user_id == 2
    )

    all_rows = event_pattern_all_rows(df, pat, cm, max_events=30).collect()
    assert {r.user_id for r in all_rows} == {1, 2}
    assert len([r for r in all_rows if r.user_id == 1]) == 30
    assert all(r.n_dropped == 270 for r in all_rows if r.user_id == 1)
    assert all(r.n_dropped == 0 for r in all_rows if r.user_id == 2)
