"""J4/R1-R8 — retrieval: top-k similarity + strategy reshapes.

Reference: `query_index` does top-k cosine with a doc_id equality filter
and score>0 cutoff (sdk1/index.py:65-131, TOP_K=5); strategies live in
workers/executor/executors/retrievers/ (simple/subquestion/fusion/
recursive/router/keyword_table/automerging).

Spark-first: retrieval is a *join*, not a service call —
  score  = cosine(chunk.embedding, query.embedding)   (zip_with/aggregate)
  top-k  = row_number() over (partition by query order by score desc) <= k
For corpus-scale cross-retrieval the bucketed-LSH path in similarity.py
replaces the broadcast-cosine; both produce the same output shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60  # reciprocal-rank-fusion constant (reference fusion.py uses llama-index default)


def bounded_rank(
    df: DataFrame, order: list[Column], k: int, rank_name: str = "rank"
) -> DataFrame:
    """Global top-k that scales: TakeOrdered, then rank the survivors.

    `orderBy().limit(k)` compiles to TakeOrderedAndProject — a
    per-partition k-heap merged on the driver — instead of shuffling the
    whole scored corpus into ONE task the way an unpartitioned
    row_number() window does (WindowExec's 'No Partition Defined'
    degradation path; Spark 4's EliminateWindowPartitions strips any
    constant partition key, so no window over the survivors can dodge
    it). Rank is therefore derived windowless: the <=k survivors are
    coalesced into one explicitly re-sorted partition where
    monotonically_increasing_id() is exactly the 0-based row position
    (partition id 0 contributes no high bits). The total order must end
    in a unique tie-break column so the k-boundary cut and the rank
    sequence are deterministic.
    """
    top = df.orderBy(*order).limit(k).coalesce(1).sortWithinPartitions(*order)
    return top.withColumn(rank_name, (F.monotonically_increasing_id() + 1).cast("int"))


def dot(a: Column, b: Column) -> Column:
    """Raw inner product of two array<float/double> columns, JVM-side,
    double domain, left-to-right fold (oracle-parity order)."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side.

    Inputs are cast to array<double> BEFORE multiplication so every
    engine (and the SQL oracle) accumulates identical doubles —
    float32 intermediate products would diverge in the last bits.
    The dot product and both norms are left-to-right folds, the
    oracle's summation order. An unrolled element_at chain gives
    bitwise-identical doubles but measured about 3x slower on 64-dim
    vectors (codegen/JIT cost of the ~400-term tree; OPTIMIZATION_r13.md).
    """
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    dp = dot(a, b)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda s, x: s + x * x))
    return dp / (na * nb)


def topk_join(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    min_score: float | None = None,
) -> DataFrame:
    """Batch top-k similarity join: every query row gets its k nearest.

    Shape: broadcast(queries) x index -> score -> window per query.
    The window partitions by query_id so ranking shuffles on the query
    key only. Use when |queries| is small (per-prompt retrieval); for
    query sets at corpus scale use similarity.lsh_topk_join.
    """
    q = F.broadcast(queries.select(F.col(query_id), F.col(query_vec).alias("_qv")))
    scored = q.crossJoin(index.select(F.col(index_id), F.col(index_vec).alias("_iv"))).select(
        query_id,
        index_id,
        F.round(cosine(F.col("_iv"), F.col("_qv")), 6).alias("score"),
    )
    if min_score is not None:
        scored = scored.filter(F.col("score") > min_score)
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """R3 'fusion': reciprocal-rank fusion of N ranked retrievals.

    score = sum over rankings of 1/(60 + rank); final top-k re-rank.
    (reference: retrievers/fusion.py:12-104 — 3 retrievers x 4 query
    variations, fused the same way.)
    """
    unioned = rankings[0].select(id_col, rank_col)
    for r in rankings[1:]:
        unioned = unioned.unionByName(r.select(id_col, rank_col))
    fused = unioned.groupBy(id_col).agg(
        F.round(F.sum(1.0 / (F.lit(RRF_K) + F.col(rank_col))), 6).alias("rrf_score")
    )
    return bounded_rank(
        fused, [F.col("rrf_score").desc(), F.col(id_col).asc()], k, "fused_rank"
    )


def keyword_table_retrieve(
    docs: DataFrame,
    keywords: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """R6 'keyword_table': inverted-index retrieval.

    explode(words) -> semi-join against the keyword set -> docs ranked by
    distinct keyword hits. The inverted index is the explode+groupBy —
    at scale it is materialized once and reused across queries.
    """
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("word"),
    )
    kw = F.array(*[F.lit(w.lower()) for w in keywords])
    hits = (
        words.filter(F.array_contains(kw, F.col("word")))
        .groupBy(id_col)
        .agg(F.count_distinct("word").alias("kw_hits"))
    )
    return bounded_rank(hits, [F.col("kw_hits").desc(), F.col(id_col).asc()], k)


def automerging_retrieve(
    chunks: DataFrame,
    ranked_leaves: DataFrame,
    id_col: str = "vec_id",
    parent_col: str = "parent_id",
    merge_threshold: float = 0.5,
) -> DataFrame:
    """R7 'automerging': when enough of a parent's leaf chunks are
    retrieved, replace them with the parent (retrievers/automerging.py).

    Relational form: ranked leaves joined to the chunk hierarchy,
    per-parent hit ratio via count/total, parents above the threshold
    returned as merged units, orphan leaves passed through.
    Output: (unit_id, unit_kind 'parent'|'leaf').
    """
    hier = chunks.select(F.col(id_col), F.col(parent_col))
    totals = hier.groupBy(parent_col).agg(F.count(F.lit(1)).alias("n_leaves"))
    hits = (
        ranked_leaves.join(hier, id_col)
        .groupBy(parent_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(totals, parent_col)
        .withColumn("hit_ratio", F.col("n_hit") / F.col("n_leaves"))
    )
    merged_parents = hits.filter(F.col("hit_ratio") >= merge_threshold).select(
        F.col(parent_col).alias("unit_id"), F.lit("parent").alias("unit_kind")
    )
    kept_leaves = (
        ranked_leaves.join(hier, id_col)
        .join(
            hits.filter(F.col("hit_ratio") >= merge_threshold).select(parent_col),
            parent_col,
            "left_anti",
        )
        .select(F.col(id_col).alias("unit_id"), F.lit("leaf").alias("unit_kind"))
    )
    return merged_parents.unionByName(kept_leaves)


def router_retrieve(
    queries: DataFrame,
    index: DataFrame,
    docs: DataFrame | None = None,
    keyword_threshold: int = 2,
    k: int = 5,
    query_id: str = "query_id",
    query_text: str = "query_text",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """R5 'router': dispatch each query to a strategy by a cheap
    classifier (retrievers/router.py:14-173). Here: short keyword-ish
    queries (few tokens) route to keyword retrieval, the rest to
    vector top-k — a when() column dispatch, both branches computed as
    one unioned plan with a `strategy` tag (Catalyst prunes the branch
    each query doesn't take via the filter)."""
    n_tokens = F.size(F.split(F.coalesce(F.col(query_text), F.lit("")), "\\s+"))
    tagged = queries.withColumn(
        "strategy", F.when(n_tokens <= keyword_threshold, "keyword").otherwise("vector")
    )
    vector_part = topk_join(
        tagged.filter(F.col("strategy") == "vector"), index, k=k,
        query_id=query_id, query_vec=query_vec, index_id=index_id, index_vec=index_vec,
    ).select(query_id, index_id, "rank", F.lit("vector").alias("strategy"))
    kw_queries = tagged.filter(F.col("strategy") == "keyword")
    if docs is not None:
        words = docs.select(
            F.col(index_id), F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("word")
        )
        hits = (
            kw_queries.select(query_id, F.explode(F.split(F.lower(F.col(query_text)), "\\s+")).alias("word"))
            .join(words, "word")
            .groupBy(query_id, index_id)
            .agg(F.count(F.lit(1)).alias("kw_hits"))
        )
        w = Window.partitionBy(query_id).orderBy(F.col("kw_hits").desc(), F.col(index_id).asc())
        kw_part = (
            hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, index_id, "rank", F.lit("keyword").alias("strategy"))
        )
        return vector_part.unionByName(kw_part)
    return vector_part


def recursive_retrieve(
    queries: DataFrame,
    index: DataFrame,
    link_table: DataFrame,
    hops: int = 2,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """R4 'recursive': seed retrieval, then follow reference links for
    a bounded number of hops (retrievers/recursive.py). The loop is
    driver-controlled (bounded, default 2) but each hop is one
    distributed join — no per-row driver work. link_table:
    (src_id, dst_id) chunk references."""
    seeds = topk_join(
        queries, index, k=k, query_id=query_id, query_vec=query_vec,
        index_id=index_id, index_vec=index_vec,
    ).select(query_id, index_id)
    frontier = seeds
    seen = seeds
    for _ in range(hops):
        nxt = (
            frontier.join(
                link_table.withColumnRenamed("src_id", index_id), index_id
            )
            .select(query_id, F.col("dst_id").alias(index_id))
            .join(seen, [query_id, index_id], "left_anti")
            .distinct()
        )
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        frontier = nxt
    return seen


def bm25_retrieve(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 5,
    k1: float = 1.25,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranking (Robertson et al. — the public TREC formula):
    the real keyword retriever, upgrading keyword_table_retrieve's raw
    hit count with tf saturation, length normalization and idf.

        score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))

    Distribution shape: the (doc, term, tf) table is the inverted
    index (one explode + groupBy — the corpus-scale shuffle, built
    once and reusable across queries); doc lengths fold out of the
    same table; corpus scalars (N, total words) broadcast; per-term df
    is computed AFTER restricting to the query's terms, so the df pass
    touches a terms-sized slice, never the full index. Defaults k1 =
    1.25, b = 0.75 are standard AND exact binary fractions — every
    literal in the scoring expression is representable, so the DuckDB
    oracle reproduces the doubles bit-for-bit. Scores aggregate in the
    decimal domain (order-independent) and rank by the ROUNDED score
    with an id tie-break (the cross-engine ranking rules).
    """
    terms = sorted({t.lower() for t in query_terms})
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    scalars = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(tf.agg(F.sum("tf").alias("total_words")))
    )
    qtf = tf.filter(F.col("word").isin(terms))
    df_t = qtf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_words") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    per_term = idf * (F.col("tf") * (k1 + 1)) / denom
    scored = (
        qtf.join(F.broadcast(df_t), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(scalars))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(per_term.cast("decimal(28,10)")), 6)
            .cast("double")
            .alias("bm25")
        )
    )
    return bounded_rank(scored, [F.col("bm25").desc(), F.col(id_col).asc()], k)


def bm25_retrieve_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.25,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """BM25 for a BATCH of queries: `queries` is (query_id,
    terms array<string>); returns per-query top-k (query_id, doc_id,
    bm25, rank).

    The batch shape a retrieval service actually runs: the inverted
    index (doc, term, tf) and doc lengths are built ONCE and shared by
    every query; the union of all query terms (tiny) broadcasts to
    slice the index; scoring is one (term-sliced index) x (query,
    term) equi-join; ranking is a per-query window — partitioned by
    query_id, so no global sort and no driver involvement, unlike the
    single-query TakeOrdered. Same exact-binary constants and
    decimal-domain aggregation as bm25_retrieve, so the batch result
    for one query equals the single-query result row-for-row.
    """
    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(terms_col).alias("word"),
    ).select("query_id", F.lower(F.col("word")).alias("word")).distinct()
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    scalars = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(tf.agg(F.sum("tf").alias("total_words")))
    )
    vocab = q_terms.select("word").distinct()
    qtf = tf.join(F.broadcast(vocab), "word")
    df_t = qtf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_words") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    per_term = idf * (F.col("tf") * (k1 + 1)) / denom
    scored = (
        q_terms.join(qtf, "word")
        .join(F.broadcast(df_t), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(scalars))
        .groupBy("query_id", id_col)
        .agg(
            F.round(F.sum(per_term.cast("decimal(28,10)")), 6)
            .cast("double")
            .alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "bm25", "rank")
    )


class Bm25IndexStore:
    """Persistent inverted index for BM25 — build the corpus-scale
    shuffle ONCE, query many times (the Lucene segment flow).

    Layout: the (doc, word, tf) postings land as parquet partitioned
    by a 64-way md5-derived word bucket, so a query's term slice
    prunes to its terms' bucket DIRECTORIES before reading a posting;
    doc lengths are a side table; the two corpus scalars ride a tiny
    JSON. Scoring reuses the exact expressions bm25_retrieve gates —
    store results are row-identical to the transient call."""

    N_BUCKETS = 64

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    @staticmethod
    def _bucket(word_col):
        return (
            F.conv(F.substring(F.md5(word_col), 1, 8), 16, 10).cast("long")
            % Bm25IndexStore.N_BUCKETS
        )

    def build(self, docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> int:
        import json
        import os

        words = docs.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
        ).filter(F.col("word") != "")
        tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
        tf = tf.withColumn("wb", self._bucket(F.col("word")))
        if docs.select(id_col).isEmpty():
            # empty partitionBy writes produce ZERO parquet files and
            # every later read dies on schema inference — the exact
            # pitfall the IVF-PQ store documents; a plain write still
            # carries the schema (wb becomes a data column, which the
            # query filter reads identically)
            tf.write.mode("overwrite").parquet(
                os.path.join(self.path, "postings")
            )
        else:
            tf.write.mode("overwrite").partitionBy("wb").parquet(
                os.path.join(self.path, "postings")
            )
        stored = self.spark.read.parquet(os.path.join(self.path, "postings"))
        dl = stored.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        dl.write.mode("overwrite").parquet(os.path.join(self.path, "dl"))
        n_docs = docs.count()
        total_words = stored.agg(F.sum("tf")).collect()[0][0] or 0
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_meta.json"), "w") as f:
            json.dump(
                {"n_docs": n_docs, "total_words": int(total_words),
                 "id_col": id_col},
                f,
            )
        return n_docs

    def query(self, query_terms: list[str], k: int = 5, k1: float = 1.25,
              b: float = 0.75) -> DataFrame:
        import json
        import os

        with open(os.path.join(self.path, "_meta.json")) as f:
            meta = json.load(f)
        id_col = meta["id_col"]
        terms = sorted({t.lower() for t in query_terms})
        import hashlib

        buckets = sorted(
            {
                int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                % self.N_BUCKETS
                for t in terms
            }
        )
        postings = self.spark.read.parquet(
            os.path.join(self.path, "postings")
        )
        qtf = postings.filter(
            F.col("wb").isin(buckets) & F.col("word").isin(terms)
        ).drop("wb")
        dl = self.spark.read.parquet(os.path.join(self.path, "dl"))
        df_t = qtf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        n_docs = F.lit(meta["n_docs"])
        # max(n,1): an empty store would otherwise hit ANSI
        # DIVIDE_BY_ZERO before the (empty) join ever prunes the row
        avgdl = F.lit(float(meta["total_words"])) / F.lit(
            max(meta["n_docs"], 1)
        )
        idf = F.log(
            F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
        per_term = idf * (F.col("tf") * (k1 + 1)) / denom
        scored = (
            qtf.join(F.broadcast(df_t), "word")
            .join(dl, id_col)
            .groupBy(id_col)
            .agg(
                F.round(F.sum(per_term.cast("decimal(28,10)")), 6)
                .cast("double")
                .alias("bm25")
            )
        )
        return bounded_rank(
            scored, [F.col("bm25").desc(), F.col(id_col).asc()], k
        )


def prf_expand_retrieve(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    k1: float = 1.25,
    b: float = 0.75,
    expansion_weight: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance feedback (the RM3 recipe, Lavrenko & Croft's
    relevance models as run in every TREC baseline): retrieve once
    with BM25, mine expansion terms from the top `fb_docs` feedback
    documents, then retrieve again with the expanded weighted query —
    the zero-supervision recall booster keyword retrieval ships with.

    Determinism end to end so the whole chain hash-gates:
    - feedback docs: the standard rounded-score ranking (id
      tie-break);
    - expansion weights: the uniform-prior relevance model
      w(t) = sum over feedback docs of tf_td/dl_d — each term one
      IEEE division, summed in the decimal domain; original query
      terms excluded; top `fb_terms` by (rounded weight desc, term
      asc);
    - second pass: BM25 where expansion terms score scaled by
      `expansion_weight` (default 0.5 — exact binary, keep it so).

    Scale shape: the inverted (doc, term, tf) index and doc lengths
    are built once and shared by both passes; the feedback slice is
    fb_docs rows broadcast; the pass-2 vocabulary (|q| + fb_terms
    words) broadcasts to slice the index, so pass 2 never rescans
    more than a terms-sized slice. Output: (doc_id, rm3, rank).
    """
    terms = sorted({t.lower() for t in query_terms})
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    # materialize the inverted index and doc lengths: SIX consumers
    # (both passes' slices, feedback mining, scalars) would otherwise
    # each re-run the corpus explode + groupBy (union-of-tiers rule;
    # measured 53 -> ~20 static exchanges). This is the "built once,
    # reusable across queries" claim made literal.
    tf = words.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl")).localCheckpoint(
        eager=True
    )
    scalars = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(tf.agg(F.sum("tf").alias("total_words")))
    )

    def _bm25(qtf: DataFrame, weight_col=None) -> DataFrame:
        df_t = qtf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        avgdl = F.col("total_words") / F.col("n_docs")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
        per_term = idf * (F.col("tf") * (k1 + 1)) / denom
        if weight_col is not None:
            per_term = per_term * F.col(weight_col)
        return (
            qtf.join(F.broadcast(df_t), "word")
            .join(dl, id_col)
            .crossJoin(F.broadcast(scalars))
            .groupBy(id_col)
            .agg(
                F.round(F.sum(per_term.cast("decimal(28,10)")), 6)
                .cast("double")
                .alias("score")
            )
        )

    first = bounded_rank(
        _bm25(tf.filter(F.col("word").isin(terms))),
        [F.col("score").desc(), F.col(id_col).asc()],
        fb_docs,
    ).select(id_col)
    cand = (
        tf.join(F.broadcast(first), id_col)
        .join(dl, id_col)
        .filter(~F.col("word").isin(terms))
        .groupBy("word")
        .agg(
            F.round(
                F.sum(
                    (F.col("tf") * 1.0 / F.col("dl")).cast(
                        "decimal(28,10)"
                    )
                ),
                6,
            )
            .cast("double")
            .alias("w")
        )
    )
    expansion = bounded_rank(
        cand, [F.col("w").desc(), F.col("word").asc()], fb_terms
    ).select("word", F.lit(float(expansion_weight)).alias("qw"))
    spark = docs.sparkSession
    originals = spark.createDataFrame(
        [(t, 1.0) for t in terms], "word string, qw double"
    )
    vocab = originals.unionByName(expansion)
    qtf2 = tf.join(F.broadcast(vocab), "word")
    final = _bm25(qtf2, weight_col="qw").withColumnRenamed(
        "score", "rm3"
    )
    return bounded_rank(
        final, [F.col("rm3").desc(), F.col(id_col).asc()], k
    )
