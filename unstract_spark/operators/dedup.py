"""Deduplication operators.

Reference semantics (file-level):
- F1 listing dedup: first row per path wins (source.py:693-705)
- F2 history dedup: drop files whose (cache_key, file_path) has a
  COMPLETED history row (source.py:806-868) — the ledger's own join,
  sinks.history.FileHistoryStore.join_completed
- F3 in-flight dedup: drop files being processed elsewhere (source.py:559-661)

Training-data-scale extensions (first-class here, absent in reference):
exact content dedup, MinHash/LSH near-dup, SimHash, n-gram Jaccard,
embedding-cosine near-dup. All are shuffle-on-key group-bys or
bucket-joins — the shapes that survive 100 TB: candidate generation is
always a *bucketed* join (band key / hash prefix), never an all-pairs
cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------- reference file-pipeline dedup (F1-F3) ----------


def dedup_listing(files: DataFrame) -> DataFrame:
    """F1: one row per file_path within a listing."""
    return files.dropDuplicates(["file_path"])


def dedup_in_flight(files: DataFrame, active: DataFrame) -> DataFrame:
    """F3: drop files already EXECUTING/PENDING in another run."""
    live = active.filter(F.col("status").isin("EXECUTING", "PENDING")).select(
        F.col("cache_key").alias("file_hash"), "file_path"
    )
    return files.join(live, ["file_hash", "file_path"], "left_anti")


# ---------- exact + near-duplicate content dedup ----------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: per-group keeper + group size.

    hash-groupBy; partial aggregation map-side, one shuffle on the
    256-bit hash (uniform, skew-free).
    """
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def normalized_fingerprint(text: F.Column) -> F.Column:
    """Normalization-based near-dup key: lower, strip non-alnum, squash ws."""
    norm = F.regexp_replace(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""), " +", " ")
    return F.md5(F.trim(norm))


def char_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    stride: int = 8,
) -> DataFrame:
    """Explode documents into lowercase char k-gram shingles (strided).

    One row per (doc, position); computed entirely in codegen
    (sequence + substring), no Python. Strided sampling keeps the
    explode factor at len/stride, which is what makes this viable at
    100 TB (shingle rows ~= corpus bytes / stride).

    The input is re-spread across the cluster before the explode: a
    small parquet arrives as one split, and without this the k-gram
    inflation (and the md5 work above it) runs on one core. At real
    scale the scan already has many splits and AQE coalesces the tiny
    shuffle, so the repartition is ~free.
    """
    para = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < para:
        docs = docs.repartition(para, F.col(id_col))
    txt = F.lower(F.col(text_col))
    # explicit floor(): Spark's double->int cast truncates while other
    # engines round, so the shingle count must be floor()ed to stay
    # portable to the SQL oracle
    n = F.greatest(
        F.lit(1),
        (F.floor((F.length(txt) - F.lit(k)) / F.lit(stride)) + F.lit(1)).cast("int"),
    )
    pos = F.explode(F.sequence(F.lit(0), n - F.lit(1))).alias("pos_idx")
    return docs.select(F.col(id_col), txt.alias("_t"), pos).select(
        id_col,
        F.substring(F.col("_t"), F.col("pos_idx") * stride + 1, k).alias("shingle"),
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per document.

    The hash family is md5-derived for cross-engine portability: one
    md5 per 4 hash functions, split into 32-bit hex chunks
    (h_{4j+c} = bits of md5(seed_j || ':' || shingle)[8c .. 8c+8) as a
    BIGINT). Splitting one wide hash into independent chunks is the
    standard trick to avoid k full hash computations per shingle.
    SQL twin: ('0x' || substr(md5(...), 8c+1, 8))::BIGINT.

    The integer domain matters for the physical plan: min(long) gets a
    mutable fixed-width buffer -> HashAggregate; min(string) falls back
    to SortAggregate, which full-sorts the shingle explosion (~10x
    slower at bench scale). One shuffle: groupBy(doc).
    """
    # md5 materialized ONCE per row in a projection below the agg:
    # subexpression elimination does not reach across aggregate update
    # expressions, so leaving md5 inside each min() recomputes it 4x
    n_md5 = (num_hashes + 3) // 4
    hashed = shingles.select(
        F.col(id_col),
        *[
            F.md5(F.concat_ws(":", F.lit(f"seed{j}"), F.col("shingle"))).alias(f"h_{j}")
            for j in range(n_md5)
        ],
    )
    aggs = []
    for i in range(num_hashes):
        j, c = i // 4, i % 4
        aggs.append(
            F.min(
                F.conv(F.substring(F.col(f"h_{j}"), c * 8 + 1, 8), 16, 10).cast("long")
            ).alias(f"mh_{i}")
        )
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
    left_ids: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band become candidate pairs.

    Band key = md5 of the band's minhashes; self-equi-join on
    (band_no, band_key) — a *bucketed* join, never all-pairs. Dedups
    pairs that collide in multiple bands.

    `max_bucket` guards hot bands at scale: a band key shared by d docs
    yields d*(d-1)/2 pairs, and near-identical boilerplate clusters
    make d corpus-sized. Buckets larger than max_bucket are dropped
    before the self-join (their members are exact/near-exact template
    clusters better handled by exact_dedup_groups first); AQE skew-join
    splitting handles moderate skew below the cap.

    `left_ids` (a one-column frame of {id_col}) restricts the LEFT side
    of the band join to those ids — the incremental shape: new docs
    probe the accumulated corpus without regenerating corpus×corpus
    pairs every fire (streaming.incremental.streaming_neardup_pipeline).
    Pairs are then normalized to (least, greatest) so a both-new pair
    isn't emitted twice.
    """
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = signatures.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, F.col("band.band_no").alias("band_no"), F.col("band.band_key").alias("band_key")
    )
    if max_bucket is not None:
        # Flag-by-frequency via a window count, not groupBy +
        # join-back (r13, the span-removal-grams lesson): ONE shuffle
        # of banded by the band key — which is also the self-join key
        # below, so the join reuses the partitioning — instead of
        # re-executing the banding lineage for the count branch and
        # paying a second join. Kept rows are identical (same
        # per-bucket cardinality test).
        wb = Window.partitionBy("band_no", "band_key")
        banded = (
            banded.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    left = banded
    if left_ids is not None:
        left = banded.join(F.broadcast(left_ids.select(id_col)), id_col, "semi")
    a = left.alias("a")
    b = banded.alias("b")
    if left_ids is None:
        cond = (
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        )
        ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    else:
        cond = (
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        )
        ida = F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
        idb = F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
    return (
        a.join(b, cond)
        .select(ida.alias("id_a"), idb.alias("id_b"))
        .distinct()
    )


def minhash_similarity(
    signatures: DataFrame, pairs: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature positions."""
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)]
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
    )


def simhash_fingerprint(
    shingles: DataFrame, id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash as a `bits`-char '0'/'1' string per document.

    Bit b is the majority vote of hex digit b's high bit across the
    doc's shingle md5s. String representation keeps the operator
    portable to the SQL oracle; hamming distance = count of differing
    positions. One groupBy(doc) shuffle.
    """
    # one md5 per row (projection), not one per bit inside the agg
    hashed = shingles.select(F.col(id_col), F.md5(F.col("shingle")).alias("_h"))
    per_bit_sums = [
        F.sum(
            F.when(
                F.substring(F.col("_h"), b + 1, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                1,
            ).otherwise(0)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"), *per_bit_sums)
    bit_chars = [
        F.when(F.col(f"s_{b}") * 2 > F.col("n_sh"), F.lit("1")).otherwise(F.lit("0"))
        for b in range(bits)
    ]
    return agg.select(F.col(id_col), F.concat(*bit_chars).alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word n-gram Jaccard over candidate pairs.

    Candidates come from sharing at least one n-gram (bucketed join on
    the shingle itself); |A ∩ B| = count of shared distinct shingles,
    |A ∪ B| = |A| + |B| − |A ∩ B|. Three shuffles, all on uniform keys.

    `max_df` is the 100 TB guard: grams appearing in more than max_df
    documents (boilerplate headers, license text, templated phrases)
    are dropped from every document's gram set BEFORE the self-join —
    a gram shared by d docs contributes d*(d-1)/2 joined rows, so one
    corpus-wide phrase otherwise turns the bucketed join quadratic.
    Jaccard is then computed over the filtered sets on both sides
    (sizes and intersections see the same universe), keeping it a true
    Jaccard of the rare-gram representation.
    """
    words = F.split(F.lower(F.col(text_col)), "\\s+")
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ).alias("gram"),
    ).distinct()
    if max_df is not None:
        # flag-by-frequency via a window count on the gram key (the
        # batch-6 lsh_candidate_pairs shape): one exchange — which the
        # self-join below needs anyway — instead of a groupBy branch
        # plus a join-back; kept rows identical
        wg = Window.partitionBy("gram")
        grams = (
            grams.withColumn("_df", F.count(F.lit(1)).over(wg))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    inter = (
        a.join(b, (F.col("ga.gram") == F.col("gb.gram")) & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")))
        .groupBy(F.col(f"ga.{id_col}").alias("id_a"), F.col(f"gb.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word n-gram CONTAINMENT over candidate pairs — the
    asymmetric near-dup measure Jaccard cannot express: c(A→B) =
    |A∩B| / |A| is ~1 when A is a quote/excerpt/subset of a much
    larger B even though their Jaccard is tiny (Broder's containment,
    the dedup literature's quote detector). One row per unordered
    candidate pair carrying BOTH directions; a pair survives when
    either direction clears `min_containment`.

    Same plan shape and `max_df` quadratic-blowup guard as
    ngram_jaccard_pairs (shared-gram bucketed self-join on uniform
    keys, sizes and intersections over the same filtered universe)."""
    words = F.split(F.lower(F.col(text_col)), "\\s+")
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ).alias("gram"),
    ).distinct()
    if max_df is not None:
        # same window-count spelling as ngram_jaccard_pairs (batch 6)
        wg = Window.partitionBy("gram")
        grams = (
            grams.withColumn("_df", F.count(F.lit(1)).over(wg))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    inter = (
        a.join(
            b,
            (F.col("ga.gram") == F.col("gb.gram"))
            & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")),
        )
        .groupBy(
            F.col(f"ga.{id_col}").alias("id_a"),
            F.col(f"gb.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    c_ab = F.col("inter_size") / F.col("size_a")
    c_ba = F.col("inter_size") / F.col("size_b")
    return (
        inter.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= min_containment)
            | (F.col("containment_b_in_a") >= min_containment)
        )
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold.

    Brute-force all-pairs is quadratic — correct at test scale and the
    *oracle* for the LSH-bucketed path in `similarity.py`, which is the
    100 TB strategy. Cosine stays JVM-side; pass `dim` to unroll the
    dot product into codegen (interpreted HOFs otherwise).
    """
    # double-domain products: float32 intermediates would diverge from
    # any double-computing engine in the low bits
    vd = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    e = embeddings.select(F.col(id_col), vd.alias("v"), norm.alias("nrm"))
    a = e.alias("ea")
    b = e.alias("eb")
    if dim is not None:
        terms = [
            F.element_at(F.col("ea.v"), i + 1) * F.element_at(F.col("eb.v"), i + 1)
            for i in range(dim)
        ]
        dot = terms[0]
        for t in terms[1:]:
            dot = dot + t
    else:
        dot = F.aggregate(
            F.zip_with(F.col("ea.v"), F.col("eb.v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return (
        a.join(b, F.col(f"ea.{id_col}") < F.col(f"eb.{id_col}"))
        .select(
            F.col(f"ea.{id_col}").alias("id_a"),
            F.col(f"eb.{id_col}").alias("id_b"),
            (dot / (F.col("ea.nrm") * F.col("eb.nrm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def auto_band_params(num_hashes: int, threshold: float) -> tuple[int, int]:
    """Threshold-matched MinHash banding: (band_size r, n_bands b)
    with b*r = num_hashes, chosen so the S-curve's 50%%-collision
    point (1/b)^(1/r) sits closest to the target Jaccard threshold
    (Leskovec/Rajaraman/Ullman, MMDS ch.3). Frozen banding is the
    MinHash twin of the frozen-LSH scale trap: banding tuned for one
    threshold floods candidates when the dedup policy asks for a
    different similarity bar. Deterministic — a pure function of
    (num_hashes, threshold), so an oracle can pin the same choice."""
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        s50 = (1.0 / b) ** (1.0 / r)
        d = abs(s50 - threshold)
        if best is None or d < best[0]:
            best = (d, r, b)
    return best[1], best[2]


def auto_lsh_params(
    n: int,
    threshold: float,
    target_bucket: int = 32,
    recall: float = 0.9,
) -> tuple[int, int]:
    """Corpus-size-aware sign-LSH parameters: (n_planes, n_tables).

    Fixed-width LSH is a SCALE TRAP the sf1 rung measured directly:
    with n_planes frozen, bucket occupancy grows linearly in corpus
    size and the within-bucket candidate join grows QUADRATICALLY —
    10x vectors cost 16.4x wall-clock (SCALE.md sf1 rung).  The
    scale-correct parameterization holds expected bucket occupancy
    ~constant by growing planes with log2(n), and then re-sizes the
    table count to keep recall at the target: per-table collision
    probability for cosine theta is p = (1 - acos(theta)/pi)^planes
    (Goemans-Williamson / Charikar sign-LSH), so
    tables = ceil(ln(1-recall) / ln(1-p)).  More planes -> smaller,
    more selective buckets; more tables buy the recall back — total
    candidate work stays ~linear in n.
    """
    import math

    if n <= 0:
        return 1, 1
    n_planes = max(4, math.ceil(math.log2(max(n / target_bucket, 2))))
    p_plane = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = p_plane**n_planes
    if p_table >= 1.0 or p_table <= 0.0 or recall >= 1.0:
        # p_table == 0 (threshold <= -1: orthogonal-or-worse target)
        # would divide by log(1.0) below; no table count helps there
        return n_planes, 1
    n_tables = max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_table)))
    return n_planes, min(n_tables, 64)


def embedding_neardup_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | str = 6,
    n_tables: int = 4,
    max_bucket: int | None = None,
    term_limit: int | None = None,
    dedup_pairs: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed — the 100 TB path.

    The brute-force twin (`embedding_neardup_pairs`) is its oracle:
    every emitted pair passes the same exact-cosine threshold, so the
    output is a subset of the exact pair set whose recall grows with
    n_tables. Candidate generation is a self-equi-join on deterministic
    sign-LSH bucket keys (never all-pairs); above `term_limit`
    plane-matrix terms key generation switches to the broadcast-matrix
    pandas twin, exactly like `similarity.lsh_topk_join`. `max_bucket`
    drops degenerate hot buckets (near-constant embedding clusters —
    the boilerplate guard from the MinHash path).

    Two scoring spellings, picked by table count (`dedup_pairs`
    overrides): at high table counts the bare (id_a, id_b) pairs
    dedupe BEFORE scoring (fixed-width HashAggregate), vectors join
    back by id, and each surviving pair scores once — a near-dup
    collides in up to n_tables buckets and per-collision scoring
    multiplies the dot-product work by the collision count (measured
    3.3x at the 20x rung with 64 tables, 1.9x at sf0.1 with 42). At
    low table counts the two join-backs cost more than the saved
    re-scores (score-first wins up through 24 tables at sf0.1,
    1.7x at the frozen 4-table geometry), so pairs score in the
    bucket join and dedupe after on (ids, score) — still fixed-width.
    Crossover pinned at 32. Both spellings emit identical rows when
    ids are unique (the contract); duplicate-id inputs score
    deterministically in both (max cosine per pair), but the combo
    sets observed can differ — see the in-code notes.

    n_planes="auto" derives (planes, tables) from the corpus count via
    auto_lsh_params — the scale-correct mode (one count() job, scalar
    driver state).  The fixed default stays for oracle-pinned callers
    whose SQL twin hard-codes the hyperplanes.
    """
    from unstract_spark.operators import similarity

    if n_planes == "auto":
        n_planes, n_tables = auto_lsh_params(
            embeddings.count(), threshold
        )
    limit = similarity.SQL_TERM_LIMIT if term_limit is None else term_limit
    # single-split parquet inputs would compute every bucket key on one
    # core (the char_shingles local-mode caveat, SCALE.md); a real
    # cluster scan already has splits and AQE coalesces the no-op
    sc = embeddings.sparkSession.sparkContext
    src = embeddings.select(id_col, vec_col).repartition(sc.defaultParallelism)
    if n_tables * n_planes * dim > limit:
        b = similarity._lsh_buckets_pandas(src, id_col, vec_col, dim, n_planes, n_tables)
    else:
        buckets = F.array(
            *[similarity.lsh_bucket_key(vec_col, dim, n_planes, t) for t in range(n_tables)]
        )
        b = src.select(F.col(id_col), F.col(vec_col), F.explode(buckets).alias("bucket"))
    if max_bucket:
        ok = b.groupBy("bucket").count().filter(F.col("count") <= max_bucket)
        b = b.join(ok.select("bucket"), "bucket")
    if dedup_pairs is None:
        dedup_pairs = n_tables >= 32
    if dedup_pairs:
        # High-table regime: dedup the BARE (id_a, id_b) pairs before
        # scoring — per-collision scoring multiplies dot-product work
        # by the collision count (193 -> 58 s at the 20x rung, 64
        # tables). The dedup aggregates only two longs (HashAggregate —
        # the fixed-width lesson holds: carrying VECTORS through the
        # aggregate is what sort-spills); vectors join back by id and
        # each surviving pair scores ONCE.
        left = b.select("bucket", F.col(id_col).alias("id_a"))
        right = b.select("bucket", F.col(id_col).alias("id_b"))
        pairs = (
            left.join(right, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        ea = src.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        eb = src.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        return (
            pairs.join(ea, "id_a")
            .join(eb, "id_b")
            .select(
                "id_a",
                "id_b",
                # Higher-order fold, NOT the dim unroll: paired A/B at
                # dim=64 (r13, tools_r13/ab_cand_dim.py) measured the
                # unrolled ~190-term tree 1.5-2x SLOWER even on
                # candidate-scale sets — the giant generated method
                # loses JIT while zip_with/aggregate run the optimized
                # array path.
                (similarity.cosine(F.col("_va"), F.col("_vb"))).alias(
                    "cosine"
                ),
            )
            # duplicate ids in the INPUT fan the join back out; the
            # max-cosine aggregate (fixed-width HashAggregate, same
            # cost class as dropDuplicates) makes the surviving score
            # DETERMINISTIC — dropDuplicates would keep an arbitrary
            # row's cosine, flipping the threshold filter run to run.
            # With unique ids (the normal contract) each pair has
            # exactly one score and this is the identity. Under
            # duplicate ids the spellings still differ in WHICH vector
            # combos they observe (this one scores all combos of the
            # deduped pair; the low-table one scores only co-bucketed
            # combos) — unique ids are the precondition for exact
            # cross-spelling row parity.
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine").alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    # Low-table regime: score in the bucket join, dedupe after on
    # (ids, score) — still fixed-width; the two vector join-backs the
    # other spelling needs cost more than the few re-scores here.
    left = b.select("bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    right = b.select("bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            # higher-order fold on purpose — see the high-table
            # spelling's A/B note (unroll measured slower at dim=64)
            (similarity.cosine(F.col("_va"), F.col("_vb"))).alias("cosine"),
        )
        # max-cosine, not dropDuplicates: deterministic under
        # duplicate-id input (see the high-table spelling's note)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def word_ngrams(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) — distinct sliding word n-grams per document.

    The building block of train/eval decontamination (the published
    recipe: GPT-3 App. C / PaLM / Llama all drop training docs sharing
    long word n-grams with an eval set — public methodology). All
    JVM-side: split + sliding transform + explode; gram strings
    normalize to single spaces so whitespace runs can't hide overlap.
    """
    return (
        docs.select(F.col(id_col), F.explode(_gram_expr(text_col, n)).alias("gram"))
        .filter(F.col("gram") != "")
        .distinct()
    )


def _gram_expr(text_col: str, n: int):
    """Array of sliding word n-grams for one document, JVM-side.

    The split is BOUND once per row (element_at/transform `let`
    spelling): the previous expression re-ran split(trim(text))
    inside the per-gram lambda, i.e. O(words^2) regex splitting per
    document (r13 optimization round, guide §1.2 per-task work).
    Gram values are unchanged."""
    return F.expr(
        f"element_at(transform(array(split(trim({text_col}), '\\\\s+')), _ws -> "
        f"CASE WHEN size(_ws) >= {n} THEN "
        f"transform(sequence(1, size(_ws) - {n - 1}), "
        f"i -> array_join(slice(_ws, i, {n}), ' ')) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END), 1)"
    )


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-train-document contamination against a benchmark set: how
    many distinct word n-grams it shares, with how many bench docs.

    Shape that survives 100 TB: both sides explode to distinct
    (doc, gram) rows, the join is a gram-keyed equi-join (never
    all-pairs), and the bench side — eval suites are tiny next to a
    training corpus — broadcasts. Emits only contaminated docs; the
    caller anti-joins this against the corpus to scrub.
    """
    # Train side: NO distinct before the join (r13). The final agg
    # counts DISTINCT gram / bench_id per train doc, so duplicate
    # (train, gram) rows cannot change any output value — and the
    # pre-join dedup was the pipeline's only full-corpus shuffle
    # (guide §3.2: the broadcast bench join drops ~all rows for free,
    # so filter first, shuffle the survivors). The tiny bench side
    # keeps the distinct: it halves the broadcast and the join's
    # output multiset stays irrelevant to the countDistinct agg.
    tg = (
        train.select(
            F.col(id_col).alias("train_id"),
            F.explode(_gram_expr(text_col, n)).alias("gram"),
        )
        .filter(F.col("gram") != "")
    )
    bg = word_ngrams(bench, n, text_col, id_col).withColumnRenamed(id_col, "bench_id")
    return (
        tg.join(F.broadcast(bg), "gram")
        .groupBy("train_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) labels for the undirected graph in `edges` —
    component = the smallest node id reachable from `node`.

    The dedup stack's missing last step: near-dup PAIRS don't say which
    documents to keep; transitively-connected duplicate CLUSTERS do.

    Algorithm: alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — the public map-reduce CC algorithm), chosen over plain
    min-label propagation because it converges in O(log n) rounds
    instead of O(graph diameter) — a 1M-doc chain of near-dups
    finishes in ~20 rounds, not 1M. Each half-round is one
    groupBy(min) + one equi-join — no collect_list, so a hot node
    (one document near-duplicating a million others) never
    materializes its neighbor list in a single task.

    Per-round frames are localCheckpointed (truncated lineage — the
    iterative-plan blowup lesson) and convergence is detected with a
    one-job set fingerprint (count + sum of row hashes) instead of a
    two-subtract set equality.

    Nodes with no edges don't appear; callers left-join and default
    the label to the node itself (see duplicate_clusters).

    Small-graph fast path: when the distinct edge set fits
    `small_graph_threshold`, labels come from a driver-side union-find
    instead of ~5 Spark jobs per star round — the same bounded-driver-
    state pattern as the k-means centroids and BPE vocabulary (a
    100k-edge duplicate graph is a few MB). Identical min-label
    output; the distributed star rounds remain the unbounded path.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # ONE bounded fetch decides the path AND delivers the edges: take()
    # stops pulling partitions past the threshold, so the driver never
    # holds more than threshold+1 rows on the big-graph path (the old
    # count()-then-collect() spelling paid a separate full-scan job
    # just to decide — r13 optimization round, guide §1.2).
    head = e.take(small_graph_threshold + 1)
    if len(head) <= small_graph_threshold:
        parent: dict = {}
        nodes: set = set()

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in head:
            u, v = row["u"], row["v"]
            nodes.add(u)
            nodes.add(v)
            ra, rb = find(u), find(v)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # root stays the component min
        out = sorted((x, find(x)) for x in nodes)
        # schema derives from the input id type so string ids behave
        # identically on both paths
        id_t = e.schema["u"].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            out, f"node {id_t}, component {id_t}"
        )

    def fingerprint(df: DataFrame) -> tuple:
        # order-independent set digest; xor + decimal-domain sum avoid
        # ANSI long-overflow, count disambiguates xor self-cancelling
        h = F.xxhash64("u", "v")
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(h).alias("x"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["x"], row["s"])

    fp = None
    for _ in range(max_iter):
        # large-star: for every node u, hang each LARGER neighbor off
        # m(u) = min(neighbors(u) + u)
        bidir = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = bidir.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", "u").alias("m")
        )
        large = (
            bidir.filter(F.col("v") > F.col("u"))
            .join(mn, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are now (u > v); hang every smaller
        # neighbor (and u itself) off m(u) = min of u's smaller nbrs
        mn2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mn2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = small
        new_fp = fingerprint(e)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(edge-set fingerprint still changing) — pathological graph "
            f"or max_iter too low for its size"
        )
    # converged: every edge points a node at its component min
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    ).distinct()


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    score_col: str = "est_jaccard",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_keeper): transitive near-
    dup clusters over thresholded similarity pairs, keeper = smallest
    id per cluster (the deterministic convention the exact-dedup
    groups use). Singletons keep themselves. This is the standard
    MinHash-LSH -> connected-components -> one-per-cluster pipeline of
    production corpus dedup."""
    edges = pairs.filter(F.col(score_col) >= threshold).select("id_a", "id_b")
    cc = connected_components(edges)
    labeled = (
        docs.select(id_col)
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_keeper"),
    )


def intra_corpus_overlap(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics against the REST of the
    corpus: (id, n_grams, n_shared_grams, share_fraction) over distinct
    sliding word n-grams.

    The windowed-fingerprint approximation of suffix-based substring
    dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better" — public methodology): a span duplicated
    across documents shows up as its n-grams appearing in >= 2 docs,
    and `share_fraction` is the per-doc scrub/keep signal boilerplate
    filters threshold on.

    Two shuffles, both skew-safe: gram multiplicity via groupBy (the
    partial aggregate absorbs hot boilerplate grams map-side — a
    count-over-window spelling would materialize a hot gram's whole
    partition in one task), then a gram-keyed equi-join back (AQE
    splits skewed keys) and a per-doc rollup.
    """
    g = word_ngrams(docs, n, text_col, id_col)
    nd = g.groupBy("gram").agg(F.count(F.lit(1)).alias("_nd"))
    per_doc = (
        g.join(nd, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).alias(
                "n_shared_grams"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.col("n_shared_grams") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("share_fraction"),
        )
    )


def suffix_array(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """Per-document suffix array by PREFIX DOUBLING (Manber & Myers
    1990) — the exact-substring-dedup foundation (Lee et al. 2022 use
    suffix arrays to find duplicated spans; dd_intra_overlap is the
    windowed approximation, this is the exact structure).

    Prefix doubling is THE distributed suffix-array construction:
    round k sorts suffixes by their first 2^k characters using only
    (rank, rank-at-offset-2^(k-1)) pairs — ceil(log2(max_len)) rounds
    of one self-join + one per-document dense_rank each, never
    materializing or comparing actual substrings after round 0. A
    suffix ending before the offset takes pair-rank 0 (the sentinel:
    a proper prefix sorts first), matching plain lexicographic order.

    Scale shape: rows = corpus chars (bounded here by `max_len` per
    doc — the fingerprint window); every round shuffles on (doc, pos)
    for the join and (doc) for the rank window, whose partitions are
    bounded by max_len. localCheckpoint per round truncates the
    iterative lineage exactly like connected_components.

    Output: (id, pos, sa_rank) — sa_rank is the suffix's 1-based
    position in the doc's sorted suffix order (all ranks distinct:
    same-doc suffixes differ in length, so no ties exist).
    """
    t = F.substring(F.col(text_col), 1, max_len)
    base = docs.select(F.col(id_col), t.alias("_t")).filter(
        F.length("_t") > 0
    )
    pos = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.length("_t"))).alias("pos"),
        F.col("_t"),
    ).select(
        id_col, "pos", F.substring(F.col("_t"), F.col("pos"), 1).alias("_ch")
    )
    w0 = Window.partitionBy(id_col).orderBy("_ch")
    r = pos.select(
        id_col, "pos", F.dense_rank().over(w0).alias("rank")
    ).localCheckpoint(eager=True)
    k = 1
    while k < max_len:
        right = r.select(
            F.col(id_col),
            (F.col("pos") - k).alias("pos"),
            F.col("rank").alias("_rank2"),
        )
        paired = (
            r.join(right, [id_col, "pos"], "left")
            .na.fill({"_rank2": 0})
        )
        wk = Window.partitionBy(id_col).orderBy("rank", "_rank2")
        r = paired.select(
            id_col, "pos", F.dense_rank().over(wk).alias("rank")
        ).localCheckpoint(eager=True)
        k *= 2
    return r.select(id_col, "pos", F.col("rank").alias("sa_rank"))


def remove_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide exact duplicated-span REMOVAL — the end-to-end step
    of exact substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": excise every span that occurs
    verbatim elsewhere in the corpus, keep the remainder).  The
    detection side here is the k-gram formulation: a character belongs
    to a duplicated span iff it is covered by some k-char window whose
    content appears >= `min_count` times across the whole corpus
    (suffix-array adjacency — dd_suffix_arrays/dd_duplicated_spans —
    finds the same spans; grams join back to positions without
    driver-side suffix walks, which is what scales).

    Plan shape (all native, no Python):
      1. explode k-gram start positions, count per gram with ONE
         window over the gram partition (one shuffle on gram; uniform
         keys — a gram is 16 chars, so no hot-key fuse is needed the
         way raw tokens would);
      2. keep positions of duplicated grams, each start p covers the
         interval [p, p+k-1];
      3. merge overlapping/adjacent intervals per doc with the
         gaps-and-islands window (running max of interval end);
      4. per island row, emit BOTH the island itself (tag 'r') and its
         complement pieces (tag 'k': the gap before it via lag(), plus
         the tail after the LAST island via lead()) in one explode —
         islands are merged and sorted, so the last island by start
         also carries the max end;
      5. ONE per-doc aggregate folds the tagged rows into span stats
         AND the ordered-concat cleaned text.
    The single tagged explode replaces the r12 shape's 3-branch union
    (before/tail/untouched) + anti-join + tail re-join: the expensive
    gram window above the shared exchange now executes ONCE per
    consumer instead of once per branch (the untouched branch's column
    pruning defeated AQE stage reuse — r13 optimization round, guide
    §2.4), and with no union the Spark 4.1 unionOutputPartitioning
    zip-crash class (NOTES_NEXT_ROUND.md) cannot trigger here at all.
    Untouched docs (no duplicated span, or shorter than k) fall out of
    the final left join and keep their original text.
    At 100 TB: rows scale with corpus characters; every shuffle is on
    (gram) or (doc) keys, partition sizes stay bounded by doc length,
    and the reassembly is a per-doc sorted-array fold — no global sort
    and no driver state.

    Returns (id, n_spans, removed_chars, cleaned_len, cleaned_text).
    """
    t = docs.select(
        F.col(id_col), F.col(text_col).alias("_t"), F.length(text_col).alias("_len")
    ).filter(F.col("_len") > 0)
    # Repartition BY DOC before the position explode. Spark sizes scan
    # tasks by INPUT bytes, but this stage's work is ~L× amplified
    # (one row and one substring per character), so input-byte tasks
    # are ~L× too coarse: the 80x scale rung measured whole stages
    # serialized behind one doc-length-skewed scan split (a single
    # task pinned in UTF8String.substring for minutes while 31 cores
    # idled). One cheap exchange of the (id, text) projection buys
    # cluster-wide parallelism for the explode and every stage built
    # on it.
    par = docs.sparkSession.sparkContext.defaultParallelism
    pos = t.filter(F.col("_len") >= k).repartition(par, F.col(id_col)).select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.col("_len") - k + 1)).alias("p"),
        "_t",
    ).select(id_col, "p", F.substring("_t", F.col("p"), k).alias("_gram"))
    # Corpus gram counts via a WINDOW over the gram partition, not a
    # groupBy + join-back: one shuffle on gram and ONE derivation of
    # the position table (measured 3.2 s vs 9 s for the join-back at
    # 1.4 M positions — the join variant pays the explode+substring
    # twice plus a 1.4 M-row broadcast build). Re-validated at the
    # r13 80x rung against three challengers, same-session min-of-2
    # each: groupBy+join-back 187 s and groupBy-then-broadcast 148 s
    # (the dup-gram aggregate alone shuffles ~100M distinct strings)
    # vs window 110 s cold / 93 s warm; a repartition + exact
    # partition-local mapInPandas count wins the isolated marked stage
    # (63 s) but LOSES end-to-end (154 s vs 93 standalone, 146 vs 104
    # in the curation capstone) — Arrow round-trips of the ~25x-
    # amplified position table per chain execution cost more than the
    # JVM sort they avoid. The sort key leads with xxhash64(_gram) so
    # the big sort compares longs; the gram string only breaks the
    # rare hash tie (partitioning by (h, gram) == by gram: h is a
    # function of the gram — counts stay exact). Skew note: a hot
    # gram lands in one window partition; hot grams are by definition
    # duplicated boilerplate, and the partition buffer holds (id, p)
    # pairs only — at 100 TB add a max_df-style pre-cap if one gram
    # dominates a partition's memory.
    w_gram = Window.partitionBy(F.xxhash64("_gram"), F.col("_gram"))
    marked = (
        pos.withColumn("_cnt", F.count(F.lit(1)).over(w_gram))
        .filter(F.col("_cnt") >= min_count)
        .select(id_col, F.col("p").alias("s"), (F.col("p") + k - 1).alias("e"))
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ord = Window.partitionBy(id_col).orderBy("s")
    isl = marked.withColumn("_pmax", F.max("e").over(w_run)).withColumn(
        "_new",
        F.when(
            F.col("_pmax").isNull() | (F.col("s") > F.col("_pmax") + 1), 1
        ).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_new").over(
            Window.partitionBy(id_col).orderBy("s").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    rem = isl.groupBy(id_col, "_isl").agg(
        F.min("s").alias("rs"), F.max("e").alias("re")
    )
    w_rem = Window.partitionBy(id_col).orderBy("rs")
    # One tagged explode per island row: the island itself ('r', feeds
    # the span stats), the kept gap before it ('k'), and — on the last
    # island only — the kept tail ('k'). The tail's end is an INT_MAX
    # sentinel instead of the doc length (substr clamps at the string
    # end, and a tail starting past the end yields the empty piece,
    # which concatenates to the identical cleaned text), so `t` is not
    # joined in before the windows at all.
    tagged = (
        rem.select(
            id_col,
            "rs",
            "re",
            (F.coalesce(F.lag("re").over(w_rem), F.lit(0)) + 1).alias("_gs"),
            F.lead("rs").over(w_rem).alias("_nxt"),
        )
        .select(
            id_col,
            F.explode(
                F.array(
                    F.struct(
                        F.lit("r").alias("tg"),
                        F.col("rs").alias("ks"),
                        F.col("re").alias("ke"),
                    ),
                    F.struct(
                        F.lit("k").alias("tg"),
                        F.col("_gs").alias("ks"),
                        (F.col("rs") - 1).alias("ke"),
                    ),
                    F.struct(
                        F.lit("k").alias("tg"),
                        F.when(F.col("_nxt").isNull(), F.col("re") + 1).alias(
                            "ks"
                        ),
                        F.lit(2147483646).alias("ke"),
                    ),
                )
            ).alias("_iv"),
        )
        .select(id_col, "_iv.tg", "_iv.ks", "_iv.ke")
        .filter(F.col("ks").isNotNull() & (F.col("ke") >= F.col("ks")))
    )
    # ONE per-doc aggregate: span stats from the 'r' rows, cleaned text
    # from the ordered 'k' pieces (collect_list drops the null structs
    # of the other tag).
    combined = (
        tagged.join(t.select(id_col, "_t"), id_col)
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("tg") == "r", 1).otherwise(0)).alias("n_spans"),
            F.sum(
                F.when(F.col("tg") == "r", F.col("ke") - F.col("ks") + 1)
                .otherwise(0)
            ).alias("removed_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("tg") == "k",
                                F.struct(
                                    "ks",
                                    F.expr(
                                        "substr(_t, ks, ke - ks + 1)"
                                    ).alias("_piece"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["_piece"],
                ),
                "",
            ).alias("cleaned_text"),
        )
    )
    return (
        t.join(combined, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
            (F.col("_len") - F.coalesce("removed_chars", F.lit(0))).alias(
                "cleaned_len"
            ),
            F.when(F.col("n_spans").isNull(), F.col("_t"))
            .otherwise(F.col("cleaned_text"))
            .alias("cleaned_text"),
        )
    )


def auto_bloom_m(n_history: int, bits_per_key: int = 10) -> int:
    """History-sized Bloom capacity: `bits_per_key` bits per distinct
    history key, rounded UP to a multiple of 1024 in EXACT integer
    arithmetic — 1024 * ceil(bpk·n / 1024) is one integer division
    any SQL engine re-derives bit-identically (no float log2, whose
    rounding at exact-power edges is libm-dependent). At k=4 hashes
    and 10 bits/key the false-positive rate is ~1.2% and stays there
    as the history grows.

    Motivated by the r10 40x scale rung: a FIXED m=8192 saturates at
    ~66k history keys — every bit set, every probe positive, the
    filter silently degenerates to `maybe_seen = true`. m must scale
    with the HISTORY's cardinality, which grows with the corpus; one
    count() job (scalar driver state) buys the sizing, the same shape
    as auto_lsh_params."""
    return 1024 * ((bits_per_key * max(n_history, 1) + 1023) // 1024)


def bloom_filter_bits(
    history: DataFrame, fp_col: str = "fingerprint", m: int = 8192, k: int = 4
) -> DataFrame:
    """The set-bit table of a deterministic Bloom filter over history
    fingerprints — the at-scale membership primitive (Dolma's
    paragraph dedup, CCNet's URL dedup): m bits of state regardless of
    history size, no false negatives, bounded false-positive rate
    (1-e^{-kn/m})^k.  Bits are md5-derived (first 8 hex digits of
    md5(j:fp) mod m, j < k) so the filter is reproducible
    cross-engine; the relational form keeps it as a <= m-row table
    (distinct bit ids), which is broadcast at query time.  Spark's
    native BloomFilterAggregate is the drop-in at cluster scale — this
    is its oracle-gateable twin with identical semantics.
    """
    rows = F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j")
    hx = F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col(fp_col)))
    bit = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % m
    return (
        history.select(F.col(fp_col), rows)
        .select(bit.alias("bit"))
        .distinct()
    )


def bloom_membership(
    docs: DataFrame,
    bits: DataFrame,
    fp_col: str = "fingerprint",
    id_col: str = "doc_id",
    m: int = 8192,
    k: int = 4,
) -> DataFrame:
    """Test every doc's fingerprint against a Bloom bit table:
    maybe_seen iff ALL k derived bits are set.  One explode (k rows per
    doc), a broadcast join against the bit table, and a per-doc
    all-present aggregate — no shuffle wider than the doc keys."""
    rows = F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j")
    hx = F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col(fp_col)))
    bit = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % m
    probes = docs.select(F.col(id_col), rows, F.col(fp_col)).select(
        id_col, bit.alias("bit")
    )
    hits = probes.join(
        F.broadcast(bits.withColumn("present", F.lit(1))), "bit", "left"
    )
    return hits.groupBy(id_col).agg(
        (F.sum(F.coalesce("present", F.lit(0))) == k).alias("maybe_seen")
    )


def bloom_bitmap(bits: DataFrame) -> DataFrame:
    """Packed-word spelling of a `bloom_filter_bits` table: ONE row
    with a ``_bm`` map<long,long> of 64-bit words (word index ->
    OR of set-bit masks) — m/8 bytes of broadcast state, the layout a
    production Bloom broadcast actually ships (guide §3.2: ~1.2 GB per
    billion keys at 10 bits/key).

    Paired with `bloom_maybe_seen_expr`, membership becomes a pure
    per-row expression (crossJoin the broadcast single row, filter) —
    no probe explode, no join-back on the doc key, and, crucially, the
    probed frame's lineage executes ONCE instead of once for the
    membership aggregate and again for the payload join-back
    (the ex_curation_v2 double-execution, r13 optimization round)."""
    return (
        bits.select(
            F.expr("bit div 64").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))"
            ).alias("msk"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(msk)").alias("wd"))
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("wd")
            ).alias("_bm")
        )
    )


def bloom_maybe_seen_expr(
    fp_col: str = "fingerprint", m: int = 8192, k: int = 4,
    bm_col: str = "_bm",
) -> F.Column:
    """Boolean Column: ALL k Bloom probe bits of ``fp_col`` are set in
    the packed bitmap ``bm_col`` (a `bloom_bitmap` row crossJoined in).
    Bit derivation is IDENTICAL to bloom_filter_bits/bloom_membership
    (first 8 hex digits of md5(j:fp) mod m), so the decision matches
    bloom_membership's ``sum(present) == k`` row for row — including a
    null fingerprint, which yields false (never seen), not NULL: the
    probe conjunction is coalesced so that ``filter(~expr)`` KEEPS
    null-fp rows exactly like bloom_membership's maybe_seen=false did
    (r13 ADVICE: the bare AND chain propagated NULL and a future
    caller with nullable fingerprints would silently drop rows)."""
    probes = []
    for j in range(k):
        bit = (
            f"(CAST(conv(substring(md5(concat('{j}', ':', {fp_col})),"
            f" 1, 8), 16, 10) AS BIGINT) % {m})"
        )
        probes.append(
            f"((shiftright(coalesce(element_at({bm_col}, {bit} div 64),"
            f" CAST(0 AS BIGINT)), CAST({bit} % 64 AS INT)) & 1) = 1)"
        )
    return F.expr("coalesce(" + " AND ".join(probes) + ", false)")


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n\n",
    min_count: int = 2,
    hot_min: int | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet paragraph-hash step
    (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data"): a paragraph occurring >=
    `min_count` times across the corpus is boilerplate (cookie
    banners, footers, share widgets survive HTML extraction verbatim
    on every page of a site); remove EVERY occurrence and reassemble
    each document from the survivors.

    Complements remove_duplicated_spans: spans catch arbitrary-offset
    verbatim runs, paragraphs catch structural repetition at its
    natural boundary and are an order of magnitude cheaper (one
    explode on the delimiter vs per-character k-grams).

    Plan shape (all native expressions):
      1. posexplode the delimiter-split paragraphs,
      2. count() OVER (PARTITION BY xxhash64(paragraph)) — the
         flag-by-frequency idiom: ONE shuffle, no groupBy+join-back;
         partitioning by the 64-bit hash keeps shuffle keys fixed
         width no matter how long paragraphs get (hash collisions
         would only ever over-remove; at 2^64 the corpus-level risk
         is negligible and the exactness gate would catch it),
      3. one groupBy per doc reassembles survivors in position order
         (conditional aggregate over ALL paragraphs, so a document
         whose every paragraph is boilerplate still emits its row).
    Skew: the window spelling shuffles RAW paragraph rows by their
    hash, so a mega-frequency boilerplate paragraph (a cookie banner
    on 1% of a 100 TB crawl) concentrates its entire occurrence set
    in ONE window task. `hot_min` (must be >= min_count) arms the
    skew fuse, mirroring the MinHash hot-band guard:
      1. counts come from groupBy(hash) instead of the window —
         map-side partial aggregation absorbs the hot key (the
         reduce side sees at most one partial row per map task, never
         the occurrence set),
      2. hashes with count >= hot_min form a BROADCAST hot set (by
         definition few distinct mega-frequency paragraphs exist —
         driver state is bounded by corpus diversity, not size); hot
         rows short-circuit to keep=false through the broadcast
         anti/semi split and are never shuffled by hash at all,
      3. only the de-skewed cold remainder joins its counts through
         the hash shuffle.
    The fuse is semantics-preserving (hot_min >= min_count implies
    every hot paragraph is removed by rule anyway), so the same exact
    oracle gates both paths. Without hot_min the single-shuffle
    window spelling stays the default — it is ~3x cheaper under
    moderate skew (the span-removal grams measurement).
    """
    paras = docs.select(
        F.col(id_col),
        F.posexplode(
            # \Q...\E: split's pattern arg is a regex — quote the
            # delimiter so metacharacters split literally
            F.split(F.col(text_col), "\\Q" + delim + "\\E", -1)
        ).alias("pos", "para"),
    )
    if hot_min is not None:
        if hot_min < min_count:
            raise ValueError(
                "hot_min must be >= min_count (the fuse short-circuits "
                "hot paragraphs to removed)"
            )
        # paras feeds THREE consumers (counts, cold branch, hot
        # branch); without a materialization each re-runs the source
        # scan + explode — measured 12.2 s vs 5.2 s at the 20x rung.
        # localCheckpoint trades one exploded-rows write to executor
        # disks for two re-scans (the sigs_new precedent; persist
        # would leak through the CacheManager — SCALE.md lesson).
        paras = paras.withColumn(
            "_ph", F.xxhash64("para")
        ).localCheckpoint(eager=True)
        counts = paras.groupBy("_ph").agg(F.count(F.lit(1)).alias("_cnt"))
        hot = counts.filter(F.col("_cnt") >= hot_min).select("_ph")
        cold = (
            paras.join(F.broadcast(hot), "_ph", "left_anti")
            .join(
                counts.filter(F.col("_cnt") < hot_min),
                "_ph",
            )
            .withColumn("keep", F.col("_cnt") < F.lit(min_count))
        )
        hot_rows = paras.join(F.broadcast(hot), "_ph", "left_semi").withColumn(
            "keep", F.lit(False)
        )
        flagged = cold.select(id_col, "pos", "para", "keep").unionByName(
            hot_rows.select(id_col, "pos", "para", "keep")
        )
    else:
        w = Window.partitionBy(F.xxhash64("para"))
        flagged = paras.withColumn(
            "keep", F.count(F.lit(1)).over(w) < F.lit(min_count)
        )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para")).otherwise(
                            F.lit(None)
                        )
                    )
                ),
                lambda s: s["para"],
            ),
            delim,
        ).alias("cleaned_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed"),
    )


def semdedup(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings,
    compare pairs ONLY within a cluster, and collapse groups whose
    cosine exceeds the threshold to one keeper — semantic duplicates
    (same content, different words) that no lexical fingerprint
    catches.

    Plan shape: one-pass nearest-centroid assignment (the IVF assign
    expression — fitted centroids via kmeans_refine plug in through
    `centroids`), within-cell pair generation by a cell equi-join
    (NEVER corpus all-pairs: the cell bound is the whole point of the
    method at scale), rounded-cosine edges, then the large-star/
    small-star connected components already powering lexical
    clusters. Output: (id, cell, cluster_id, cluster_size,
    is_keeper) — keeper = min id per semantic group, singletons keep
    themselves.

    Skew note: a mega-cell degrades toward quadratic pair work — at
    production scale use MORE centroids (cells ~ sqrt(n) keeps
    per-cell pairs ~n) or kmeans_refine'd centroids that split dense
    regions; both ride the same assign expression.
    """
    import numpy as np

    from unstract_spark.operators import similarity as sim
    from unstract_spark.operators.retrieval import cosine

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        cents = sim._seeded_hyperplanes(dim, n_centroids, table=991)
    assigned = sim._argmax_cells(embeddings, id_col, vec_col, 1, cents, None)
    a = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("ia"),
        F.col(vec_col).alias("va"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("ib"),
        F.col(vec_col).alias("vb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    comps = connected_components(pairs)
    labeled = (
        assigned.select(F.col(id_col), "cell")
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )
    wsize = Window.partitionBy("cluster_id")
    return labeled.select(
        id_col,
        "cell",
        "cluster_id",
        F.count(F.lit(1)).over(wsize).cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_keeper"),
    )
