"""Approximate nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k (exact oracle). Scale path: random
hyperplane LSH — embed -> sign-bit bucket key -> candidates share a
bucket in any of `n_tables` tables -> exact cosine re-rank on the
candidate set. Candidate generation is a bucketed equi-join (shuffle on
bucket key), never an all-pairs product: at 1B vectors the join touches
~n_tables * bucket_size candidates per query instead of N.

Hyperplanes are deterministic (seeded from sha256) so results are
reproducible across runs and engines — no RNG at plan time.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass as _dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unstract_spark.operators.retrieval import cosine


def _seeded_hyperplanes(dim: int, n_planes: int, table: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from sha256 counter-mode."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim * n_planes:
        raw = hashlib.sha256(f"lsh:{table}:{i}".encode()).digest()
        for off in range(0, 32, 4):
            (u,) = struct.unpack(">I", raw[off : off + 4])
            vals.append((u / 2**31) - 1.0)  # [-1, 1)
        i += 1
    return np.array(vals[: dim * n_planes], dtype=np.float64).reshape(n_planes, dim)


def _dlit(x: float) -> str:
    """Spark-SQL double literal. A bare decimal parses as DECIMAL and
    would change the arithmetic domain; the CAST round-trips exactly
    (repr is shortest-round-trip, string->double is correctly rounded).
    """
    return f"CAST({float(x)!r} AS DOUBLE)"


def _matrix_lit(mat) -> str:
    """SQL literal for a 2-D double matrix: array(array(...), ...).

    Constant folding collapses the whole thing to ONE Literal node at
    optimization time, so an n x d matrix costs the analyzer a single
    shallow subtree instead of n separate d-literal argument lists
    (the r13 optimization-round lesson: at 16x64 and 8x16x8 shapes the
    per-expression spelling dominated bench time via driver-side
    build/analysis, not execution)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in row) + ")" for row in mat
        )
        + ")"
    )


def _bind1(val_sql: str, var: str, body_sql: str) -> str:
    """Bind `val_sql` to lambda variable `var` exactly once per row:
    element_at(transform(array(v), var -> body), 1). The standard SQL
    spelling of `let` — without it a subexpression referenced inside a
    per-element lambda is re-evaluated once per element."""
    return f"element_at(transform(array({val_sql}), {var} -> {body_sql}), 1)"


def lsh_bucket_key(vec_sql: str, dim: int, n_planes: int = 8, table: int = 0):
    """Sign-bit bucket key for one LSH table, as a Column expression.

    bit_p = 1 if dot(vec, plane_p) >= 0. Entirely JVM-side: ONE
    generated-SQL expr — a transform over the constant plane MATRIX
    (array-of-arrays literal, folded to a single Literal node) with
    the vector cast bound once via `_bind1`. The per-plane dot product
    keeps the exact zip_with/aggregate float-op order of the DuckDB
    twin; only the expression PACKAGING changed (n_planes separate
    64-literal argument lists made analysis + driver build dominate —
    the equivalent Column-API tree was dim*n_planes F.lit py4j round
    trips, ~4s of driver time per query at dim 64).
    `vec_sql` is the vector column's SQL name.
    """
    planes = _seeded_hyperplanes(dim, n_planes, table)
    vec_d = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    body = (
        f"array_join(transform({_matrix_lit(planes)}, _pl -> "
        f"CASE WHEN aggregate(zip_with(_v, _pl, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x) >= 0 "
        f"THEN '1' ELSE '0' END), '')"
    )
    return F.expr(f"concat('t{table}:', {_bind1(vec_d, '_v', body)})")


def brute_force_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast queries, score all, window rank. The oracle."""
    q = F.broadcast(queries.select(F.col(query_id), F.col(query_vec).alias("_qv")))
    scored = q.crossJoin(index.select(F.col(index_id), F.col(index_vec).alias("_iv"))).select(
        query_id, index_id, F.round(cosine(F.col("_iv"), F.col("_qv")), 6).alias("score")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mips_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """Maximum inner-product search (MIPS): top-k by raw dot product,
    UN-normalized — the scoring recommendation/retrieval models with
    learned-magnitude embeddings need (cosine's normalization erases
    the magnitude signal). Same physical shape as brute_force_topk:
    broadcast queries, score-all, per-query window rank on the rounded
    score with id tie-break. The LSH/IVF scale paths apply after the
    standard MIPS->cosine reduction (append sqrt(M^2-|x|^2) as an extra
    coordinate — Shrivastava & Li, NeurIPS 2014), which callers do
    upstream of those operators.
    """
    from unstract_spark.operators.retrieval import dot as _dot

    q = F.broadcast(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv"))
    )
    scored = q.crossJoin(
        index.select(F.col(index_id), F.col(index_vec).alias("_iv"))
    ).select(
        query_id,
        index_id,
        F.round(_dot(F.col("_iv"), F.col("_qv")), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(index_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def mips_augment(
    index: DataFrame,
    dim: int,
    index_vec: str = "embedding",
    is_query: bool = False,
) -> DataFrame:
    """Shrivastava & Li (NeurIPS 2014) MIPS->cosine reduction: append
    one coordinate so inner-product order becomes cosine order and the
    BUCKETED families (LSH/IVF/HNSW) apply to MIPS workloads.

    Index side: x' = [x, sqrt(M^2 - |x|^2)] with M = max |x| over the
    index — all augmented vectors share norm M, so cos(q', x') ranks
    exactly by <q, x>. Query side: q' = [q, 0]. M must be computed on
    the INDEX and passed through unchanged to the query augment (the
    query side ignores it but needs the same dim+1 layout).

    One aggregate over the index for M (driver scalar), then a pure
    projection — no shuffle beyond the agg. Returns the frame with
    `index_vec` replaced by the dim+1 array<double> column.
    """
    from unstract_spark.operators.retrieval import dot as _dot

    v = F.col(index_vec).cast("array<double>")
    if is_query:
        aug = F.concat(v, F.array(F.lit(0.0)))
        return index.withColumn(index_vec, aug)
    norm2 = _dot(F.col(index_vec), F.col(index_vec))
    m2 = index.agg(F.max(norm2).alias("m2")).collect()[0]["m2"]
    if m2 is None:
        return index.withColumn(
            index_vec, F.concat(v, F.array(F.lit(0.0)))
        )
    aug = F.concat(
        v,
        F.array(F.sqrt(F.greatest(F.lit(float(m2)) - norm2, F.lit(0.0)))),
    )
    return index.withColumn(index_vec, aug)


# Above this many matrix terms (n_exprs * dim), assignment expressions
# switch from generated-SQL double literals to a broadcast numpy matrix
# consumed by a pandas UDF. Generated SQL wins below it (the parser
# swallows a 64k-literal string in ms, while the Column-API tree costs
# seconds of py4j), but at production dims it stops scaling: 4096
# centroids x 768 dims is ~3M literals — tens of MB of SQL text and a
# catalyst tree to match. The broadcast matrix ships once per executor
# via torrent instead of once per task in the plan.
SQL_TERM_LIMIT = 65536


def _cell_scores(cents: np.ndarray, vec_sql: str) -> str:
    """Dot product of the vector column against every centroid, as ONE
    generated-SQL expr returning array<double> (score per centroid, in
    centroid order). Same per-centroid zip_with/aggregate float-op
    order as the per-column spelling it replaces — only the packaging
    changed: the centroid matrix is one constant-folded literal and the
    vector cast is bound once (_bind1), so analysis and driver build
    stop scaling with n_centroids*dim (the r13 measurement: the
    separate-expression spelling spent more bench time in Catalyst +
    py4j than in execution)."""
    vec_d = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    body = (
        f"transform({_matrix_lit(cents)}, _cw -> "
        f"aggregate(zip_with(_v, _cw, (a, b) -> a * b), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x))"
    )
    return _bind1(vec_d, "_v", body)


def _argmax_cells_pandas(
    df: DataFrame, id_c: str, vec_c: str, top_n: int, cents: np.ndarray
) -> DataFrame:
    """Broadcast-matrix twin of the SQL `_argmax_cells` path: one
    float64 matmul per Arrow batch against the torrent-broadcast
    centroid matrix, stable argsort on the negated scores (score desc,
    cell asc — the same deterministic tie-break as the SQL
    comparator)."""
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )
    keep = min(top_n, len(cents))
    id_t = df.schema[id_c].dataType.simpleString()
    vec_t = df.schema[vec_c].dataType.simpleString()
    out_schema = f"`{id_c}` {id_t}, `{vec_c}` {vec_t}, cell int"

    def run(batches):
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_c]]
            )
            S = V @ C.T  # (rows, n_centroids) float64
            # stable sort of -S: equal scores keep index order = cell asc
            idx = np.argsort(-S, axis=1, kind="stable")[:, :keep]
            reps = np.repeat(np.arange(len(pdf)), keep)
            yield pd.DataFrame(
                {
                    id_c: pdf[id_c].to_numpy()[reps],
                    vec_c: pdf[vec_c].to_numpy()[reps],
                    "cell": idx.reshape(-1).astype("int32"),
                }
            )

    return df.select(id_c, vec_c).mapInPandas(run, schema=out_schema)


def _argmax_cells(
    df: DataFrame,
    id_c: str,
    vec_c: str,
    top_n: int,
    cents: np.ndarray,
    term_limit: int | None = None,
):
    """(id, vec, cell) for each row's top_n nearest centroids by dot
    product, ties broken by cell id so the probe set is deterministic
    cross-engine (array_sort stability is not guaranteed for
    comparator ties). Dispatches to the broadcast/pandas twin when the
    centroid matrix exceeds `term_limit` terms (default
    SQL_TERM_LIMIT)."""
    limit = SQL_TERM_LIMIT if term_limit is None else term_limit
    if cents.size > limit:
        return _argmax_cells_pandas(df, id_c, vec_c, top_n, cents)
    n_centroids = len(cents)
    scored = df.select(
        F.col(id_c), F.col(vec_c), F.expr(_cell_scores(cents, vec_c)).alias("_sc")
    )
    cells = F.expr(
        f"transform(sequence(0, {n_centroids - 1}), _i -> "
        f"struct(element_at(_sc, _i + 1) AS score, CAST(_i AS INT) AS cell))"
    )
    top = F.slice(
        F.array_sort(
            cells,
            lambda a, b: F.when(a.score > b.score, -1)
            .when(a.score < b.score, 1)
            .when(a.cell < b.cell, -1)
            .when(a.cell > b.cell, 1)
            .otherwise(0),
        ),
        1,
        top_n,
    )
    return scored.select(id_c, vec_c, F.explode(top).alias("t")).select(
        id_c, vec_c, F.col("t.cell").alias("cell")
    )


def kmeans_refine(
    index: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    term_limit: int | None = None,
) -> np.ndarray:
    """Spherical k-means refinement of the IVF centroids (Lloyd
    iterations over the cluster), deterministic given the seeded init.

    Each iteration: assign every vector to its max-dot-product centroid
    (the SAME expression ivf_topk_join uses, so fitted centroids plug
    straight back in), then recompute each centroid as the normalized
    mean of its members. The update is the standard distributed k-means
    shape: posexplode the vectors, partial-sum per (cell, position),
    and only n_centroids*dim sums ever reach the driver — index size
    never does. Empty cells keep their previous centroid. Centroids are
    L2-normalized each round so max-dot assignment remains max-cosine
    assignment regardless of member magnitudes.
    """
    cents = _seeded_hyperplanes(dim, n_centroids, table=991)
    # normalize the seed too — assignment is scale-invariant per
    # centroid only when all centroids share a norm
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(max(iters, 0)):
        assigned = _argmax_cells(index, index_id, index_vec, 1, cents, term_limit)
        sums = (
            assigned.select(
                "cell",
                F.posexplode(
                    F.col(index_vec).cast("array<double>")
                ).alias("pos", "val"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_centroids, dim))
        cnt = np.zeros(n_centroids)
        for r in sums:
            acc[r.cell][r.pos] = r.s
            cnt[r.cell] = r.n  # same count repeated per pos
        for c in range(n_centroids):
            if cnt[c] > 0:
                mean = acc[c] / cnt[c]
                nrm = np.linalg.norm(mean)
                if nrm > 0:
                    new[c] = mean / nrm
        cents = new
    return cents


def ivf_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    centroids: np.ndarray | None = None,
    term_limit: int | None = None,
) -> DataFrame:
    """ANN via IVF (inverted-file) partitioning with deterministic
    seeded centroids.

    Index vectors are assigned to their nearest centroid (one pass,
    no iteration — "IVF-flat with random centroids"; `kmeans_refine`
    produces data-fitted centroids to pass via `centroids`, reusing
    this same assign expression). Queries probe their n_probe nearest
    centroids; candidates = index rows in probed cells — a bucketed
    equi-join on cell id, like LSH but with locality from the data's
    own geometry. Exact cosine re-ranks candidates. Recall tunes with
    n_probe/n_centroids; cost per query is n_probe cells ~
    n_probe/n_centroids of the index.
    """
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        if cents.shape != (n_centroids, dim):
            raise ValueError(
                f"centroids shape {cents.shape} != ({n_centroids}, {dim})"
            )
    else:
        cents = _seeded_hyperplanes(dim, n_centroids, table=991)  # seeded gen

    ib = _argmax_cells(index, index_id, index_vec, 1, cents, term_limit)
    qb = _argmax_cells(queries, query_id, query_vec, n_probe, cents, term_limit)
    cands = qb.join(ib, "cell").select(query_id, query_vec, index_id, index_vec)
    scored = cands.select(
        query_id,
        index_id,
        F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    ).dropDuplicates([query_id, index_id])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------
# Product quantization (PQ): the memory-side ANN scale lever. Vectors
# compress to n_sub byte-ish codes (64 dims -> 8 codes = 32x smaller
# than float32), and query scoring becomes n_sub table lookups per
# item instead of dim multiplies (asymmetric distance computation,
# Jegou et al. 2011, TPAMI — public). Exact cosine re-ranks the ADC
# shortlist, so PQ only generates candidates, never final ranks.
# ---------------------------------------------------------------------


def pq_codebooks(dim: int, n_sub: int = 8, n_codes: int = 16) -> list[np.ndarray]:
    """One seeded codebook per subspace ((n_codes, dim/n_sub) each) —
    deterministic like the IVF/LSH generators, so the SQL oracle can
    inline them as literals. Data-fitted codebooks (per-subspace
    k-means, the production move) drop in via the `codebooks` param of
    pq_encode/pq_topk_join without touching the plan shape."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d = dim // n_sub
    return [_seeded_hyperplanes(d, n_codes, table=600 + m) for m in range(n_sub)]


def _pq_sub_scores(cb_m: np.ndarray, vec_sql: str, m: int, d: int) -> str:
    """Per-code assignment scores for one subspace as ONE generated-SQL
    expr returning array<double>: dot(sub, c) - 0.5*||c||^2 per code
    (argmax == nearest-by-L2), same sequential float-op order per code
    as the DuckDB twin. The codebook is a constant-folded matrix
    literal and the subvector slice is bound once (_bind1) instead of
    being inlined into n_codes separate expressions — the packaging
    change that moved this family's bench cost out of Catalyst/py4j
    (see _matrix_lit)."""
    sub = f"slice(CAST({vec_sql} AS ARRAY<DOUBLE>), {m * d + 1}, {d})"
    halves = ", ".join(
        _dlit(0.5 * float((cb_m[c] * cb_m[c]).sum())) for c in range(len(cb_m))
    )
    body = (
        f"zip_with(transform({_matrix_lit(cb_m)}, _cw -> "
        f"aggregate(zip_with(_sv, _cw, (a, b) -> a * b), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)), "
        f"array({halves}), (_s, _h) -> _s - _h)"
    )
    return _bind1(sub, "_sv", body)


def pq_encode(
    index: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    codebooks: list[np.ndarray] | None = None,
    keep: tuple = (),
) -> DataFrame:
    """(id, vec, code_0..code_{n_sub-1}) — each code the argmin-L2
    codeword of its subvector, ties to the lowest code (measured min
    assignment gap on the corpus ~4e-5, so the argmax agrees
    cross-engine; same margin argument as the IVF cells)."""
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub
    # Two-step projection: score arrays first, then argmax. The score
    # arrays are non-cheap and referenced twice (array_position +
    # array_max), so CollapseProject leaves the stage split and each
    # array is computed ONCE per row — the single-select spelling
    # embedded every score array twice. argmax as
    # array_position(scores, array_max(scores)): first max -> lowest
    # code. (The greatest()+16-branch-CASE spelling is semantically
    # identical but CollapseProject inlines every score expression
    # into every branch — measured analyzer hang at 500 rows.)
    staged = index.select(
        F.col(index_id),
        F.col(index_vec),
        *[F.col(c) for c in keep],
        *[
            F.expr(_pq_sub_scores(cbs[m], index_vec, m, d)).alias(f"_sc_{m}")
            for m in range(n_sub)
        ],
    )
    code_cols = [
        (
            F.array_position(F.col(f"_sc_{m}"), F.array_max(F.col(f"_sc_{m}"))) - 1
        )
        .cast("int")
        .alias(f"code_{m}")
        for m in range(n_sub)
    ]
    return staged.select(
        F.col(index_id), F.col(index_vec), *[F.col(c) for c in keep], *code_cols
    )


def pq_kmeans_refine(
    index: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> list[np.ndarray]:
    """Per-subspace Lloyd refinement of the PQ codebooks (the
    production training step; seeded codebooks are the deterministic
    init). Same distributed shape as kmeans_refine: one assignment
    pass (pq_encode — the SAME expression the scorer uses, so fitted
    codebooks plug straight back in), then per-(subspace, code,
    position) partial sums; only n_sub*n_codes*d values reach the
    driver per iteration. PQ minimizes L2 within each subspace, so
    updates are plain means (no normalization — unlike the spherical
    IVF refine).
    """
    cbs = pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub
    for _ in range(max(iters, 0)):
        assigned = pq_encode(index, dim, n_sub, n_codes, index_id, index_vec, cbs)
        ex = assigned.select(
            F.array(*[F.col(f"code_{m}") for m in range(n_sub)]).alias("codes"),
            F.posexplode(F.col(index_vec).cast("array<double>")).alias("pos", "val"),
        )
        m_col = (F.col("pos") / d).cast("int")
        sums = (
            ex.select(
                m_col.alias("m"),
                F.element_at("codes", m_col + 1).alias("code"),
                (F.col("pos") % d).alias("j"),
                "val",
            )
            .groupBy("m", "code", "j")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [cb.copy() for cb in cbs]
        acc = np.zeros((n_sub, n_codes, d))
        cnt = np.zeros((n_sub, n_codes))
        for r in sums:
            acc[r.m][r.code][r.j] = r.s
            cnt[r.m][r.code] = r.n  # same count repeated per position
        for m in range(n_sub):
            for c in range(n_codes):
                if cnt[m][c] > 0:
                    new[m][c] = acc[m][c] / cnt[m][c]
        cbs = new
    return cbs


def _pq_lut_cols(cbs: list[np.ndarray], query_vec: str, d: int) -> list:
    """Per-subspace lookup tables for one query vector: dot(sub_q,
    codeword) per code, same sequential float-op order as the oracle's
    list_dot_product."""
    out = []
    for m in range(len(cbs)):
        sub = f"slice(CAST({query_vec} AS ARRAY<DOUBLE>), {m * d + 1}, {d})"
        body = (
            f"transform({_matrix_lit(cbs[m])}, _cw -> "
            f"aggregate(zip_with(_qv, _cw, (a, b) -> a * b), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x))"
        )
        out.append(F.expr(_bind1(sub, "_qv", body)).alias(f"lut_{m}"))
    return out


def _adc_expr(n_sub: int):
    """ADC score: lookup-table entries summed in fixed ascending
    subspace order — bit-identical cross-engine."""
    adc = None
    for m in range(n_sub):
        term = F.element_at(F.col(f"lut_{m}"), F.col(f"code_{m}") + 1)
        adc = term if adc is None else adc + term
    return adc


def pq_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    codebooks: list[np.ndarray] | None = None,
    term_limit: int | None = None,
) -> DataFrame:
    """ANN via PQ asymmetric-distance scan + exact re-rank.

    The index is encoded once (codes are reusable across queries — at
    production scale they live in the vector store next to the id, 32x
    smaller than the raw float32 vectors). Per query a lookup table of
    dot(sub_q, codeword) is computed on the tiny broadcast side; each
    (query, item) score is then n_sub array lookups summed in fixed
    subspace order — bit-identical cross-engine, so the ADC shortlist
    (top refine*k by raw score, id tie-break) is deterministic. Exact
    cosine re-ranks the shortlist by the ROUNDED score (the float
    parity rule).

    Above SQL_TERM_LIMIT LUT terms (n_sub*n_codes*d — e.g. the
    production 16x256 shape at dim 768) serving auto-routes to
    pq_topk_pandas: the generated-SQL LUT/encode expressions stop
    being analyzer-friendly there (same threshold contract as the
    IVF/LSH assignment paths)."""
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub
    limit = SQL_TERM_LIMIT if term_limit is None else term_limit
    if n_sub * n_codes * d > limit:
        return pq_topk_pandas(
            queries, index, dim, k=k, n_sub=n_sub, n_codes=n_codes,
            refine=refine, query_id=query_id, query_vec=query_vec,
            index_id=index_id, index_vec=index_vec, codebooks=cbs,
        )
    codes = pq_encode(index, dim, n_sub, n_codes, index_id, index_vec, cbs)
    q = queries.select(
        F.col(query_id), F.col(query_vec), *_pq_lut_cols(cbs, query_vec, d)
    )
    adc = _adc_expr(n_sub)
    paired = codes.crossJoin(F.broadcast(q)).select(
        query_id, query_vec, index_id, index_vec, adc.alias("adc")
    )
    wa = Window.partitionBy(query_id).orderBy(F.col("adc").desc(), F.col(index_id).asc())
    shortlist = (
        paired.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= refine * k)
    )
    scored = shortlist.select(
        query_id,
        index_id,
        F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sq8_cols(vec_col: str, prefix: str, bits: int = 8):
    """(scale, integer-code array) columns for scalar quantization at
    `bits` of signed precision: per vector scale = qmax/max|x| with
    qmax = 2^(bits-1) - 1 (127 for SQ8, 31 for SQ6, 7 for SQ4) and
    code_i = floor(x_i*scale + 0.5) — integer round-half-up, identical
    in any engine (no banker's rounding, no float-sum order
    anywhere)."""
    qmax = float((1 << (bits - 1)) - 1)
    xd = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    scale = F.lit(qmax) / F.greatest(maxabs, F.lit(1e-30))
    codes = F.transform(
        xd, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long")
    )
    return scale.alias(f"{prefix}_scale"), codes.alias(f"{prefix}_codes")


def sq8_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    refine: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """ANN via int8 SCALAR quantization (SQ8) + exact re-rank — the
    memory lever between raw floats and PQ: 4x smaller than float32
    with one multiply per dimension (PQ is 32x smaller but pays
    codebook training and lookup indirection; SQ8 is what FAISS
    ScalarQuantizer/Milvus SQ8 ship as the default compression).
    `bits` narrows the code width (6 -> 5.3x, 4 -> 8x smaller than
    float32 when bit-packed in the store) at the cost of coarser
    candidate scores — the SQ4/SQ6 ladder rungs in
    tools/ann_report_prod.py measure what that costs in recall.

    Determinism contract: codes are integer round-half-up of
    x*127/max|x| (floor(x*s + 0.5) — one float multiply + add per
    element, no summation), the candidate score is the pure BIGINT
    dot product of the two code arrays (order-free) divided by the
    index vector's scale (ONE IEEE division — bit-identical given
    identical integers), shortlist = top refine*k per query by that
    score with id tie-break, and exact cosine re-ranks the shortlist
    by the ROUNDED score (the float parity rule). At 100 TB the code
    arrays live in the store next to the id; the scan streams
    fixed-width int8 rows and only the shortlist touches floats."""
    iscale, icodes = _sq8_cols(index_vec, "i", bits=bits)
    _qscale, qcodes = _sq8_cols(query_vec, "q", bits=bits)
    codes = index.select(F.col(index_id), F.col(index_vec), iscale, icodes)
    # q_scale is constant within a query partition, so it cannot change
    # the per-query ADC ranking — not computed/broadcast at all
    q = queries.select(F.col(query_id), F.col(query_vec), qcodes)
    # The candidate ADC stays the higher-order fold ON PURPOSE: an
    # unrolled 64-term element_at chain was measured 3x SLOWER here
    # (r13 profile: runs 5.0-9.7 s vs the 1.6 s fold floor at sf0.1,
    # plus ~12 s of driver expression build) — the giant generated
    # method loses JIT compilation while zip_with/aggregate run the
    # optimized interpreted array path (same lesson as
    # retrieval.cosine's docstring, measured independently).
    adc_int = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("i_codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    paired = codes.crossJoin(F.broadcast(q)).select(
        query_id,
        query_vec,
        index_id,
        index_vec,
        (adc_int.cast("double") / F.col("i_scale")).alias("adc"),
    )
    wa = Window.partitionBy(query_id).orderBy(
        F.col("adc").desc(), F.col(index_id).asc()
    )
    shortlist = paired.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= refine * k
    )
    scored = shortlist.select(
        query_id,
        index_id,
        F.round(
            cosine(F.col(index_vec), F.col(query_vec)), 6
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(index_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: list[np.ndarray] | None = None,
    term_limit: int | None = None,
) -> DataFrame:
    """IVF-PQ: the production composition of both scale levers.

    Coarse IVF cells make candidate generation sublinear (the bucketed
    equi-join — each index row lives in exactly one cell, so no dedup
    is needed after the probe join); PQ codes make scoring those
    candidates memory-cheap (n_sub lookups against the query's tables
    instead of dim multiplies on float vectors the scan never has to
    read); exact cosine re-ranks only the refine*k shortlist. Both the
    cell assignment and the ADC sum are the SAME expressions the
    standalone IVF and PQ paths gate, composed.
    """
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _seeded_hyperplanes(dim, n_centroids, table=991)
    )
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub

    ib = _argmax_cells(index, index_id, index_vec, 1, cents, term_limit)
    codes = pq_encode(ib, dim, n_sub, n_codes, index_id, index_vec, cbs, keep=("cell",))
    qb = _argmax_cells(queries, query_id, query_vec, n_probe, cents, term_limit)
    q = qb.select(
        F.col(query_id), F.col(query_vec), F.col("cell"),
        *_pq_lut_cols(cbs, query_vec, d),
    )
    cands = codes.join(F.broadcast(q), "cell").select(
        query_id, query_vec, index_id, index_vec, _adc_expr(n_sub).alias("adc")
    )
    wa = Window.partitionBy(query_id).orderBy(F.col("adc").desc(), F.col(index_id).asc())
    shortlist = (
        cands.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= refine * k)
    )
    scored = shortlist.select(
        query_id,
        index_id,
        F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _lsh_buckets_pandas(
    df: DataFrame, id_c: str, vec_c: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """Broadcast-matrix twin of `lsh_bucket_key`: all tables' plane
    dots in one einsum per Arrow batch, identical key spelling
    ('t{table}:' + sign bits, dot >= 0 -> '1')."""
    import pandas as pd

    planes = np.stack(
        [_seeded_hyperplanes(dim, n_planes, t) for t in range(n_tables)]
    )  # (tables, planes, dim) float64
    bc = df.sparkSession.sparkContext.broadcast(np.ascontiguousarray(planes))
    id_t = df.schema[id_c].dataType.simpleString()
    vec_t = df.schema[vec_c].dataType.simpleString()
    out_schema = f"`{id_c}` {id_t}, `{vec_c}` {vec_t}, bucket string"

    def run(batches):
        P = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_c]]
            )
            bits = np.einsum("rd,tpd->rtp", V, P) >= 0  # (rows, tables, planes)
            keys = [
                f"t{t}:" + "".join("1" if b else "0" for b in bits[r, t])
                for r in range(len(pdf))
                for t in range(P.shape[0])
            ]
            reps = np.repeat(np.arange(len(pdf)), P.shape[0])
            yield pd.DataFrame(
                {
                    id_c: pdf[id_c].to_numpy()[reps],
                    vec_c: pdf[vec_c].to_numpy()[reps],
                    "bucket": keys,
                }
            )

    return df.select(id_c, vec_c).mapInPandas(run, schema=out_schema)


def lsh_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    term_limit: int | None = None,
) -> DataFrame:
    """ANN top-k via multi-table sign-LSH candidate join + exact re-rank.

    Recall grows with n_tables; cost per query is the matched-bucket
    size. Both sides compute the same deterministic bucket keys, the
    join is a plain shuffle-hash equi-join on (table, bucket), and only
    candidates get the exact cosine. Above `term_limit` plane-matrix
    terms (default SQL_TERM_LIMIT) key generation switches from
    generated-SQL literals to the broadcast/pandas twin.
    """
    limit = SQL_TERM_LIMIT if term_limit is None else term_limit
    use_pandas = n_tables * n_planes * dim > limit

    def with_buckets(df: DataFrame, id_c: str, vec_c: str) -> DataFrame:
        if use_pandas:
            return _lsh_buckets_pandas(df, id_c, vec_c, dim, n_planes, n_tables)
        buckets = F.array(
            *[lsh_bucket_key(vec_c, dim, n_planes, t) for t in range(n_tables)]
        )
        return df.select(F.col(id_c), F.col(vec_c), F.explode(buckets).alias("bucket"))

    qb = with_buckets(queries, query_id, query_vec)
    ib = with_buckets(index, index_id, index_vec)
    cands = qb.join(ib, "bucket").select(query_id, query_vec, index_id, index_vec)
    # score BEFORE deduplicating multi-table collisions: the dedup then
    # aggregates only fixed-width columns (ids + double score) and stays
    # a HashAggregate — deduping first would carry the array<float>
    # vectors through the aggregate buffer and fall back to
    # SortAggregate (a full sort of the candidate stream; the minhash
    # fixed-width lesson, caught by tools/plan_audit.py). A pair
    # colliding in t tables re-scores t<=n_tables times — cheaper than
    # sorting at scale.
    scored = cands.select(
        query_id,
        index_id,
        F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
    ).dropDuplicates([query_id, index_id])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(index_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# -- strategy selection (the engine-layer "similarity_top_k" planner) ----


@_dataclass(frozen=True)
class TopkPlan:
    """Chosen physical strategy for a similarity_top_k, with sized
    parameters and the cost estimate that won."""

    strategy: str  # brute_force | lsh | ivf
    params: dict
    est_mults: float  # estimated multiply-accumulates (the cost unit)


def _lsh_auto_params(index_rows: int, target_bucket: int = 1024) -> dict:
    """Size n_planes so the average bucket holds ~target_bucket vectors
    (each plane halves expected occupancy); more tables buy recall at
    linear cost."""
    import math

    n_planes = min(16, max(4, math.ceil(math.log2(max(index_rows, 2) / target_bucket))))
    return {"n_planes": n_planes, "n_tables": 4}


def _ivf_auto_params(index_rows: int, target_cell: int = 4096) -> dict:
    """Size n_centroids so the average cell holds ~target_cell vectors;
    probing 3 cells keeps recall while touching 3/n_centroids of the
    index."""
    import math

    n_centroids = min(4096, max(16, math.ceil(index_rows / target_cell)))
    return {"n_centroids": n_centroids, "n_probe": 3}


def _estimate_mults(strategy: str, params: dict, n: int, q: int, dim: int) -> float:
    """Multiply-accumulate estimate for one strategy — shared by the
    auto chooser and by explicit-strategy overrides so a TopkPlan's
    est_mults always prices the strategy it names."""
    if strategy == "brute_force":
        return float(n) * q * dim
    if strategy == "lsh":
        cand = params["n_tables"] * n / (2 ** params["n_planes"])
        return (n + q) * params["n_tables"] * params["n_planes"] * dim + q * cand * dim
    if strategy == "ivf":
        cand = params["n_probe"] * n / params["n_centroids"]
        return (n + q) * params["n_centroids"] * dim + q * cand * dim
    if strategy == "hnsw":
        # build n·efc·log2(n/shards) + search q·ef·log2(n/shards), each
        # "op" a dim-wide dot product. Mult counts undersell HNSW's real
        # cost (graph build is sequential per shard, vectors live
        # uncompressed in task memory), so like PQ it is explicit-
        # override only — the recall-bound choice, never auto-chosen.
        import math as _math

        per_shard = max(2.0, n / params["n_shards"])
        lg = _math.log2(per_shard)
        return (
            n * params["ef_construction"] * lg * dim
            + q * params["n_shards"] * params["ef_search"] * lg * dim
        )
    if strategy == "sq8":
        # encode (n+q)·dim (one multiply/element), integer-ADC full
        # scan q·n·dim (int multiplies — cheaper per op than float,
        # not priced separately), bounded re-rank. Like pq/hnsw it is
        # explicit-override only: its real win is 4x less memory
        # bandwidth (int8 codes instead of float32), which mult
        # counts don't price, and the full scan always loses to
        # sublinear candidate generation on this metric.
        return (
            (n + q) * dim
            + q * n * dim
            + q * params.get("refine", 3) * params.get("k", 10) * dim
        )
    if strategy == "pq":
        # encode n + lut q (n_codes*dim mults each), ADC full scan
        # (n_sub lookups/item charged as 1 op each), bounded re-rank.
        # On this metric the full scan loses to sublinear candidate
        # generation at any large N — PQ's real win is reading codes
        # instead of float vectors (32x less memory bandwidth), which
        # mult counts don't price; hence explicit-override only, never
        # auto-chosen.
        return (
            (n + q) * params["n_codes"] * dim
            + q * n * params["n_sub"]
            + q * params["refine"] * params.get("k", 10) * dim
        )
    if strategy == "opq":
        # pq cost + the rotation gemms ((n+q)·dim^2) + training's
        # iters·n·(dim^2 + n_codes·dim). Same explicit-override-only
        # status as pq: the measured win (+0.135 recall at the prod
        # shape, SCALE.md) is a quantization-accuracy property mult
        # counts don't price.
        return (
            (n + q) * dim * dim
            + params.get("iters", 4) * n * (dim * dim + params["n_codes"] * dim)
            + (n + q) * params["n_codes"] * dim
            + q * n * params["n_sub"]
            + q * params["refine"] * params.get("k", 10) * dim
        )
    if strategy == "ivfpq_residual":
        # cell assign (n+q) + residual encode n + per-(q, probed cell)
        # LUTs + ADC lookups on the sublinear candidate set + bounded
        # re-rank. Explicit-override only, like pq/hnsw: its real win
        # (codes instead of float vectors on clustered corpora) is a
        # memory-bandwidth/recall property mult counts don't price.
        cand = params["n_probe"] * n / params["n_centroids"]
        return (
            (n + q) * params["n_centroids"] * dim
            + n * params["n_codes"] * dim
            + q * params["n_probe"] * params["n_codes"] * dim
            + q * cand * params["n_sub"]
            + q * params["refine"] * params.get("k", 10) * dim
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def _hnsw_auto_params(n: int) -> dict:
    # sharded so one task's graph (full float vectors + adjacency)
    # stays bounded; ~64k rows per shard is comfortable task memory
    return {"m": 8, "ef_construction": 64, "ef_search": 64,
            "n_shards": max(1, n // 65536)}


def _pq_auto_params(dim: int) -> dict:
    # n_sub must divide dim (pq_codebooks splits the vector into equal
    # subspaces); take the largest divisor <= dim//8 so awkward dims
    # (65, 100) still get a valid split instead of a downstream
    # ValueError. Worst case (prime dim) falls back to 1 subspace.
    target = max(1, dim // 8)
    n_sub = next(d for d in range(target, 0, -1) if dim % d == 0)
    return {"n_sub": n_sub, "n_codes": 16, "refine": 3}


def choose_topk_strategy(
    index_rows: int,
    n_queries: int,
    dim: int,
    k: int = 10,
    exact_budget: float = 5e7,
) -> TopkPlan:
    """Pick the cheapest strategy by estimated multiply-accumulates —
    the engine-layer planning piece SURVEY §4 calls out (the reference
    has no optimizer; adapter choice is user config — sdk1/index.py:65-131
    always runs whatever store was configured). Deterministic in its
    inputs, so plans are stable across runs.

    Cost model (mults, the dominant term for array<float> cosine):
    - brute force: Q·N·dim scoring.
    - LSH: keygen (N+Q)·tables·planes·dim + re-rank of expected
      candidates Q·tables·N/2^planes·dim.
    - IVF: keygen (N+Q)·centroids·dim + re-rank Q·probe·(N/centroids)·dim.

    Exactness wins ties: brute force is chosen whenever its cost fits
    `exact_budget` (it is the oracle — approximate paths only pay off
    once the quadratic term dominates).
    """
    n, q = max(index_rows, 1), max(n_queries, 1)
    brute = _estimate_mults("brute_force", {}, n, q, dim)
    if brute <= exact_budget:
        return TopkPlan("brute_force", {}, brute)

    lp = _lsh_auto_params(n)
    lsh = _estimate_mults("lsh", lp, n, q, dim)

    ip = _ivf_auto_params(n)
    ivf = _estimate_mults("ivf", ip, n, q, dim)

    if lsh <= ivf:
        return TopkPlan("lsh", lp, lsh)
    return TopkPlan("ivf", ip, ivf)


def similarity_topk(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    index_rows: int | None = None,
    n_queries: int | None = None,
    exact_budget: float = 5e7,
    strategy: str = "auto",
    ivf_refine_iters: int = 0,
    term_limit: int | None = None,
    **col_names,
) -> tuple[DataFrame, TopkPlan]:
    """similarity_top_k with automatic physical-strategy selection.

    Row counts come from the caller when known (a catalog/stats lookup
    at scale); otherwise one count() job each — cheap metadata scans
    next to the quadratic work they avert. Returns (result, plan) so
    callers can log/assert what ran; all three strategies emit the same
    (query_id, vec_id, score, rank) shape with identical tie-breaks.

    `strategy` overrides the cost model ("brute_force"/"lsh"/"ivf");
    `ivf_refine_iters > 0` fits the IVF centroids with spherical
    k-means before probing (+recall at identical probe cost — measured
    in tools/ann_report.py; worth it when one centroid fit amortizes
    over a large query batch).
    """
    n = index_rows if index_rows is not None else index.count()
    q = n_queries if n_queries is not None else queries.count()
    plan = choose_topk_strategy(n, q, dim, k, exact_budget)
    if strategy != "auto":
        if strategy not in (
            "brute_force", "lsh", "ivf", "sq8", "pq", "opq", "hnsw",
            "ivfpq_residual"
        ):
            raise ValueError(f"unknown strategy {strategy!r}")
        params = (
            {}
            if strategy == "brute_force"
            else _lsh_auto_params(n)
            if strategy == "lsh"
            else _ivf_auto_params(n)
            if strategy == "ivf"
            else {"refine": 3, "k": k}
            if strategy == "sq8"
            else _pq_auto_params(dim)
            if strategy == "pq"
            else {**_pq_auto_params(dim), "iters": 4}
            if strategy == "opq"
            else {**_ivf_auto_params(n), **_pq_auto_params(dim), "refine": 5}
            if strategy == "ivfpq_residual"
            else _hnsw_auto_params(n)
        )
        plan = TopkPlan(strategy, params, _estimate_mults(strategy, params, n, q, dim))
    if plan.strategy == "brute_force":
        out = brute_force_topk(queries, index, k=k, **col_names)
    elif plan.strategy == "lsh":
        out = lsh_topk_join(
            queries, index, dim, k=k, term_limit=term_limit,
            **plan.params, **col_names,
        )
    elif plan.strategy == "pq":
        out = pq_topk_join(queries, index, dim, k=k, **plan.params, **col_names)
    elif plan.strategy == "sq8":
        out = sq8_topk_join(
            queries, index, dim, k=k, refine=plan.params.get("refine", 3),
            **col_names,
        )
    elif plan.strategy == "opq":
        out = opq_topk_join(queries, index, dim, k=k, **plan.params, **col_names)
    elif plan.strategy == "hnsw":
        from unstract_spark.operators.hnsw import hnsw_topk_join

        out = hnsw_topk_join(queries, index, dim, k=k, **plan.params, **col_names)
    elif plan.strategy == "ivfpq_residual":
        out = ivfpq_residual_topk(
            queries, index, dim, k=k, **plan.params, **col_names
        )
    else:
        centroids = None
        if ivf_refine_iters > 0:
            centroids = kmeans_refine(
                index,
                dim,
                n_centroids=plan.params["n_centroids"],
                iters=ivf_refine_iters,
                index_id=col_names.get("index_id", "vec_id"),
                index_vec=col_names.get("index_vec", "embedding"),
                term_limit=term_limit,
            )
        out = ivf_topk_join(
            queries, index, dim, k=k, centroids=centroids,
            term_limit=term_limit, **plan.params, **col_names,
        )
    return out, plan


class IvfPqIndexStore:
    """Persistent IVF-PQ index — encode once, query many.

    The transient ivfpq_topk_join recomputes the expensive index-side
    work (cell assignment + PQ codes over every vector) on every call;
    a production index is an immutable ARTIFACT (the FAISS flow):
    `build` runs the assignment+encode expressions once and lands
    (id, vec, cell, code_0..code_{n_sub-1}) as parquet partitioned by
    cell — so a query's probe join prunes to its n_probe cell
    DIRECTORIES before reading a row — with the centroid/codebook
    matrices saved beside it (driver-side .npz, centroid-sized).
    `query` rebuilds only the query-side expressions (LUTs, probes)
    and reuses the stored codes; results are identical to the
    transient call with the same parameters because both sides compose
    the SAME gated expressions.
    """

    def __init__(
        self,
        spark,
        path: str,
        dim: int,
        n_centroids: int = 16,
        n_sub: int = 8,
        n_codes: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_centroids = n_centroids
        self.n_sub = n_sub
        self.n_codes = n_codes

    def _meta_path(self) -> str:
        import os

        return os.path.join(self.path, "_meta.npz")

    def build(
        self,
        index: DataFrame,
        index_id: str = "vec_id",
        index_vec: str = "embedding",
        centroids: np.ndarray | None = None,
        codebooks: list[np.ndarray] | None = None,
        term_limit: int | None = None,
    ) -> int:
        import os

        cents = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else _seeded_hyperplanes(self.dim, self.n_centroids, table=991)
        )
        cbs = (
            codebooks
            if codebooks is not None
            else pq_codebooks(self.dim, self.n_sub, self.n_codes)
        )
        empty_input = index.select(index_id).isEmpty()
        ib = _argmax_cells(index, index_id, index_vec, 1, cents, term_limit)
        codes = pq_encode(
            ib, self.dim, self.n_sub, self.n_codes, index_id, index_vec,
            cbs, keep=("cell",),
        )
        if empty_input:
            # A partitionBy write of an empty frame produces ZERO
            # parquet files, so the read-back below (and every later
            # query()) dies on schema inference — same pitfall the HNSW
            # store documents. A plain write still carries the schema
            # (cell becomes a data column, which query()'s filter reads
            # identically).
            codes.write.mode("overwrite").parquet(
                os.path.join(self.path, "data")
            )
        else:
            codes.write.mode("overwrite").partitionBy("cell").parquet(
                os.path.join(self.path, "data")
            )
        os.makedirs(self.path, exist_ok=True)
        np.savez(
            self._meta_path(),
            centroids=cents,
            **{f"cb_{m}": cbs[m] for m in range(self.n_sub)},
        )
        return (
            self.spark.read.parquet(os.path.join(self.path, "data"))
            .select(index_id)
            .count()
        )

    def query(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 3,
        refine: int = 3,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        index_id: str = "vec_id",
        index_vec: str = "embedding",
        term_limit: int | None = None,
    ) -> DataFrame:
        import os

        meta = np.load(self._meta_path())
        cents = meta["centroids"]
        cbs = [meta[f"cb_{m}"] for m in range(self.n_sub)]
        d = self.dim // self.n_sub
        stored = self.spark.read.parquet(os.path.join(self.path, "data"))

        qb = _argmax_cells(queries, query_id, query_vec, n_probe, cents, term_limit)
        q = qb.select(
            F.col(query_id), F.col(query_vec), F.col("cell"),
            *_pq_lut_cols(cbs, query_vec, d),
        )
        cands = stored.join(F.broadcast(q), "cell").select(
            query_id, query_vec, index_id, index_vec,
            _adc_expr(self.n_sub).alias("adc"),
        )
        wa = Window.partitionBy(query_id).orderBy(
            F.col("adc").desc(), F.col(index_id).asc()
        )
        shortlist = (
            cands.withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") <= refine * k)
        )
        scored = shortlist.select(
            query_id,
            index_id,
            F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias("score"),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("score").desc(), F.col(index_id).asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )


def _residuals_pandas(
    index: DataFrame,
    cents: np.ndarray,
    id_c: str = "vec_id",
    vec_c: str = "embedding",
) -> DataFrame:
    """(id, cell, resid): assign each vector to its max-dot centroid and
    subtract it — the IVFADC residual frame (one matmul per Arrow
    batch against the broadcast centroid matrix)."""
    bc = index.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )
    id_t = index.schema[id_c].dataType.simpleString()

    def run(batches):
        import pandas as pd

        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_c]])
            cells = np.argmax(V @ C.T, axis=1)
            R = V - C[cells]
            yield pd.DataFrame(
                {
                    id_c: pdf[id_c],
                    "cell": cells.astype("int32"),
                    "resid": [r for r in R],
                }
            )

    return index.select(id_c, vec_c).mapInPandas(
        run, schema=f"`{id_c}` {id_t}, cell int, resid array<double>"
    )


def ivfpq_residual_topk(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: list[np.ndarray] | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ (Jegou et al. 2011's actual IVFADC): codes
    quantize (vector - cell centroid), not the raw vector. On clustered
    corpora — which embedding spaces are — raw-vector PQ fails exactly
    when it matters: intra-cluster distances sit below the quantization
    error, so ADC cannot order same-cluster members (the prod ladder
    measured recall 0.615 at refine 20). Residuals are small by
    construction, so the same code budget quantizes them finely and
    <q, v> = <q, c_cell> + <q, r_v> is approximated per candidate as
    coarse-term + sum_m LUT_m[code_m].

    This is the pandas scatter/gather path (per-(query, probed-cell)
    lookup tables don't fit the per-query generated-SQL LUT shape):
    the codes frame is hash-partitioned by cell; ONE mapInPandas task
    scores its cells' candidates against the broadcast probe set and
    emits only its local refine*k shortlist per query; a per-query
    window merges shards and exact cosine re-ranks the global
    shortlist. Queries ride a driver collect — the same documented
    small-side contract as HNSW (hnsw.py). Codebooks should be fitted
    on the residual frame (pq_kmeans_refine over _residuals_pandas);
    the seeded default is honest but loose.

    `rotation` composes OPQ into the residual frame (train with
    opq_train over _residuals_pandas, index_vec="resid"): codes then
    quantize r@R and the scorer builds LUTs from q@R — <q, r> =
    <q@R, r@R> by orthogonality, so the coarse term is untouched.
    Real embedding residuals are anisotropic (low-dim manifold), which
    is exactly the regime the learned rotation wins in.
    """
    spark = index.sparkSession
    cents = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _seeded_hyperplanes(dim, n_centroids, table=991)
    )
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub

    resid = _residuals_pandas(index, cents, index_id, index_vec)
    if rotation is not None:
        resid = rotate_vectors(resid, rotation, vec_col="resid")
    codes = pq_encode(
        resid, dim, n_sub, n_codes, index_id, "resid", cbs, keep=("cell",)
    ).drop("resid")

    # probe set: (cell -> [(qid, qvec)]) — queries are the small side
    qb = _argmax_cells_pandas(queries, query_id, query_vec, n_probe, cents)
    probes: dict[int, list] = {}
    for r in qb.collect():
        probes.setdefault(int(r["cell"]), []).append(
            (r[query_id], np.asarray(r[query_vec], dtype=np.float64))
        )
    R_b = (
        np.ascontiguousarray(np.asarray(rotation, dtype=np.float64))
        if rotation is not None
        else None
    )
    bc = spark.sparkContext.broadcast(
        (
            probes,
            np.ascontiguousarray(cents),
            [np.ascontiguousarray(c) for c in cbs],
            R_b,
        )
    )
    per_shard = refine * k

    def score(batches):
        import pandas as pd

        pr, C, CB, Rm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_i, out_s = [], [], []
            for cell, grp in pdf.groupby("cell"):
                qs = pr.get(int(cell))
                if not qs:
                    continue
                codes_m = np.stack(
                    [grp[f"code_{m}"].to_numpy() for m in range(n_sub)], axis=1
                )  # (rows, n_sub)
                ids = grp[index_id].to_numpy()
                for qid, qv in qs:
                    coarse = float(qv @ C[int(cell)])
                    # LUT[m][c] = <q_sub_m, codeword_mc>; with OPQ the
                    # LUT side rotates so <q,r> = <q@R, r@R>
                    qr = qv @ Rm if Rm is not None else qv
                    lut = np.stack(
                        [qr[m * d : (m + 1) * d] @ CB[m].T for m in range(n_sub)]
                    )  # (n_sub, n_codes)
                    adc = coarse + lut[np.arange(n_sub)[None, :], codes_m].sum(axis=1)
                    top = np.argsort(-adc, kind="stable")[:per_shard]
                    out_q.extend([qid] * len(top))
                    out_i.extend(ids[top])
                    out_s.extend(adc[top])
            yield pd.DataFrame(
                {query_id: out_q, index_id: out_i, "adc": out_s}
            )

    id_t = index.schema[index_id].dataType.simpleString()
    qid_t = queries.schema[query_id].dataType.simpleString()
    cands = (
        codes.repartition(F.col("cell"))
        .mapInPandas(
            score, schema=f"`{query_id}` {qid_t}, `{index_id}` {id_t}, adc double"
        )
    )
    wa = Window.partitionBy(query_id).orderBy(
        F.col("adc").desc(), F.col(index_id).asc()
    )
    shortlist = (
        cands.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= per_shard)
        .select(query_id, index_id)
    )
    q = F.broadcast(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv"))
    )
    scored = (
        shortlist.join(
            index.select(F.col(index_id), F.col(index_vec).alias("_iv")),
            index_id,
        )
        .join(q, query_id)
        .select(
            query_id,
            index_id,
            F.round(cosine(F.col("_iv"), F.col("_qv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(index_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge et al., CVPR 2013 / TPAMI
# 2014): learn an orthogonal rotation R that redistributes variance
# across PQ subspaces before quantizing, closing the quantization-noise
# gap plain PQ hits on correlated/anisotropic data (the SCALE.md
# ceiling).  Train = alternate {assign codes, update codebooks} with
# {Procrustes update R = U V^T from svd(X^T X_hat)}.
# ---------------------------------------------------------------------


def rotate_vectors(
    df: DataFrame, R: np.ndarray, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Apply an orthogonal rotation to a vector column (Arrow-batched
    matrix multiply — one BLAS gemm per batch, no per-row Python)."""
    out = out_col or vec_col
    Rb = np.asarray(R, dtype=np.float64)
    df2 = df.withColumn(out, F.col(vec_col).cast("array<double>"))
    schema = df2.schema

    def run(batches):
        for pdf in batches:
            if len(pdf):
                X = np.asarray(pdf[out].tolist(), dtype=np.float64)
                pdf[out] = list(X @ Rb)
            yield pdf

    return df2.mapInPandas(run, schema)


def opq_train(
    index: DataFrame,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 4,
    index_vec: str = "embedding",
    train_rotation: bool = True,
    R_init: "np.ndarray | None" = None,
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Fit (R, codebooks) by OPQ-NP alternation (Ge et al. 2013, §4).

    `R_init` seeds the rotation — pass opq_eigen_allocation's OPQ-P
    permuted-eigenvector frame to start the alternation from the
    balanced-variance solution instead of identity (the parametric
    initialization of Ge et al. §3; matters most at few iterations,
    where NP alternation cannot escape a bad frame).

    `train_rotation=False` skips every Procrustes step: the loop
    degenerates to distributed Lloyd iterations in the identity frame
    — the way to fit plain-PQ codebooks at code counts the generated
    SQL encoder (pq_kmeans_refine) cannot reasonably express.

    Each iteration is ONE distributed pass (mapInPandas over the
    vectors): rotate the batch by the current R, assign each subvector
    to its nearest codeword under the current codebooks, and
    accumulate TWO sufficient statistics — the per-(subspace, code)
    sum of the FULL ORIGINAL vectors, and the assignment counts.
    Everything else happens on the driver, exactly:

      * codebook update: the mean of a code's members in the current
        frame is (fullsum[m][c] @ R)[block m] / cnt — rotation of a
        sum equals the sum of rotations, so no second pass is needed;
      * Procrustes update: M = X^T X_hat factors per column block as
        sum_c fullsum[m][c] (x) new_cb[m][c] (X_hat rows are
        concatenated codewords, so members of one (m, c) share the
        block), giving R <- U V^T from svd(M) with codebooks updated
        BEFORE the rotation step — the ordering OPQ-NP requires.

    Scope: OPQ helps when the spectrum DECAYS but is not degenerate
    (measured: recall@10 0.44 -> 0.64 vs fitted PQ at equal budget on
    a 0.85-decay rotated Gaussian).  On rank-degenerate data the
    identity frame WINS (test_opq_low_rank_counter_regime_documented:
    identity PQ's subspaces each see an independent projection of the
    low-rank manifold and their product partitions it finer than any
    variance-concentrating rotation) — check the spectrum before
    enabling.  Cosine targets must L2-normalize before indexing: the
    ADC shortlist estimates INNER PRODUCT, which is only a cosine
    proxy at uniform norms (measured: perfect-quantization IP
    shortlist recalls 0.28 of cosine top-10 at a 4x norm spread).

    Partials leave the executors as (pos, val) rows combined by ONE
    keyed shuffle (n_sub*n_codes*(dim+1) rows); driver state is
    bounded by n_sub*n_codes*dim + dim^2 doubles regardless of corpus
    size — the same bounded-centroid contract as kmeans_refine.  The
    final iteration refits codebooks only (no trailing R update), so
    the returned codebooks are fitted in the returned R's frame.
    """
    import pandas as pd

    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d = dim // n_sub
    if R_init is not None:
        R = np.asarray(R_init, dtype=np.float64)
        if R.shape != (dim, dim):
            raise ValueError(f"R_init must be ({dim}, {dim})")
    else:
        R = np.eye(dim)
    cbs = pq_codebooks(dim, n_sub, n_codes)
    vecs = index.select(
        F.col(index_vec).cast("array<double>").alias("v")
    ).localCheckpoint(eager=True)

    n_fs = n_sub * n_codes * dim
    n_ct = n_sub * n_codes

    for it in range(max(iters, 1)):
        last = it == max(iters, 1) - 1
        Rb = R.copy()
        cbs_b = [c.copy() for c in cbs]

        def part(batches, Rb=Rb, cbs_b=cbs_b):
            fullsum = np.zeros((n_sub, n_codes, dim))
            ccnt = np.zeros((n_sub, n_codes))
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                Xr = X @ Rb
                for m in range(n_sub):
                    sub = Xr[:, m * d : (m + 1) * d]
                    scores = sub @ cbs_b[m].T - 0.5 * (cbs_b[m] ** 2).sum(1)
                    code = scores.argmax(1)
                    np.add.at(fullsum[m], code, X)
                    np.add.at(ccnt[m], code, 1)
            if not seen:
                return
            vals = np.concatenate([fullsum.ravel(), ccnt.ravel()])
            yield pd.DataFrame(
                {"pos": np.arange(len(vals), dtype=np.int64), "val": vals}
            )

        agg = (
            vecs.mapInPandas(part, "pos long, val double")
            .groupBy("pos")
            .agg(F.sum("val").alias("v"))
            .collect()
        )
        flat = np.zeros(n_fs + n_ct)
        for r in agg:
            flat[r.pos] = r.v
        fullsum = flat[:n_fs].reshape(n_sub, n_codes, dim)
        ccnt = flat[n_fs:].reshape(n_sub, n_codes)
        # codebook update in the CURRENT frame (exact, via rotated sums)
        new = [cb.copy() for cb in cbs]
        for m in range(n_sub):
            for c in range(n_codes):
                if ccnt[m][c] > 0:
                    new[m][c] = (fullsum[m][c] @ R)[m * d : (m + 1) * d] / ccnt[m][c]
        cbs = new
        if not last and train_rotation:
            # Procrustes with the UPDATED codebooks (block-factored M)
            M = np.zeros((dim, dim))
            for m in range(n_sub):
                for c in range(n_codes):
                    if ccnt[m][c] > 0:
                        M[:, m * d : (m + 1) * d] += np.outer(
                            fullsum[m][c], cbs[m][c]
                        )
            U, _, Vt = np.linalg.svd(M)
            R = U @ Vt
    return R, cbs


def opq_topk_join(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 3,
    iters: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    rotation: np.ndarray | None = None,
    codebooks: list[np.ndarray] | None = None,
) -> DataFrame:
    """PQ top-k in the learned OPQ frame: rotate index and queries by
    R (orthogonal — cosine and L2 neighborhoods are preserved exactly,
    so the exact re-rank stage is unchanged in meaning), then run the
    standard ADC scan with the fitted codebooks.  Pass (rotation,
    codebooks) from a prior opq_train to skip training (the production
    path: train once, persist next to the index artifact)."""
    if rotation is None or codebooks is None:
        rotation, codebooks = opq_train(
            index, dim, n_sub=n_sub, n_codes=n_codes, iters=iters,
            index_vec=index_vec,
        )
    if n_sub * n_codes * (dim // n_sub) > SQL_TERM_LIMIT:
        # high-code shape: one pandas scorer handles rotation + ADC
        # (rotating both frames through the SQL path would also pay
        # two extra Arrow passes)
        return pq_topk_pandas(
            queries, index, dim, k=k, n_sub=n_sub, n_codes=n_codes,
            refine=refine, query_id=query_id, query_vec=query_vec,
            index_id=index_id, index_vec=index_vec, codebooks=codebooks,
            rotation=rotation,
        )
    ri = rotate_vectors(index, rotation, vec_col=index_vec)
    rq = rotate_vectors(queries, rotation, vec_col=query_vec)
    return pq_topk_join(
        rq,
        ri,
        dim,
        k=k,
        n_sub=n_sub,
        n_codes=n_codes,
        refine=refine,
        query_id=query_id,
        query_vec=query_vec,
        index_id=index_id,
        index_vec=index_vec,
        codebooks=codebooks,
    )


class OpqIndexStore:
    """Persistent OPQ index — train the rotation + codebooks once,
    persist (codes, R, codebooks) as an immutable artifact, query
    many times (the FAISS OPQMatrix+IndexPQ flow).

    Storage layout: (id, ORIGINAL vector, code_0..code_{n_sub-1})
    parquet + a driver-side .npz with R and the codebooks.  The
    rotated vectors are NOT stored: codes encode the rotated frame,
    but the exact re-rank runs on original vectors against original
    queries — an orthogonal rotation preserves cosine, so only the
    ADC scan needs the learned frame (queries are rotated per call, a
    tiny gemm on the broadcast side).
    """

    def __init__(self, spark, path: str, dim: int, n_sub: int = 8,
                 n_codes: int = 16):
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_sub = n_sub
        self.n_codes = n_codes

    def _meta_path(self) -> str:
        import os

        return os.path.join(self.path, "_meta.npz")

    def build(
        self,
        index: DataFrame,
        index_id: str = "vec_id",
        index_vec: str = "embedding",
        rotation: np.ndarray | None = None,
        codebooks: list[np.ndarray] | None = None,
        iters: int = 4,
    ) -> int:
        import os

        if rotation is None or codebooks is None:
            rotation, codebooks = opq_train(
                index, self.dim, n_sub=self.n_sub, n_codes=self.n_codes,
                iters=iters, index_vec=index_vec,
            )
        ri = rotate_vectors(index, rotation, vec_col=index_vec, out_col="_rv")
        codes = pq_encode(
            ri, self.dim, self.n_sub, self.n_codes, index_id, "_rv",
            codebooks, keep=(index_vec,),
        ).drop("_rv")
        codes.write.mode("overwrite").parquet(os.path.join(self.path, "data"))
        os.makedirs(self.path, exist_ok=True)
        np.savez(
            self._meta_path(),
            rotation=np.asarray(rotation, dtype=np.float64),
            **{f"cb_{m}": codebooks[m] for m in range(self.n_sub)},
        )
        return (
            self.spark.read.parquet(os.path.join(self.path, "data"))
            .select(index_id)
            .count()
        )

    def query(
        self,
        queries: DataFrame,
        k: int = 10,
        refine: int = 3,
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        index_id: str = "vec_id",
        index_vec: str = "embedding",
    ) -> DataFrame:
        import os

        meta = np.load(self._meta_path())
        R = meta["rotation"]
        cbs = [meta[f"cb_{m}"] for m in range(self.n_sub)]
        d = self.dim // self.n_sub
        stored = self.spark.read.parquet(os.path.join(self.path, "data"))
        rq = rotate_vectors(queries, R, vec_col=query_vec, out_col="_rq")
        q = rq.select(
            F.col(query_id), F.col(query_vec), *_pq_lut_cols(cbs, "_rq", d)
        )
        cands = stored.crossJoin(F.broadcast(q)).select(
            query_id, query_vec, index_id, index_vec,
            _adc_expr(self.n_sub).alias("adc"),
        )
        wa = Window.partitionBy(query_id).orderBy(
            F.col("adc").desc(), F.col(index_id).asc()
        )
        shortlist = (
            cands.withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") <= refine * k)
        )
        scored = shortlist.select(
            query_id,
            index_id,
            F.round(cosine(F.col(index_vec), F.col(query_vec)), 6).alias(
                "score"
            ),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("score").desc(), F.col(index_id).asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )


def pq_topk_pandas(
    queries: DataFrame,
    index: DataFrame,
    dim: int,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 256,
    refine: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    codebooks: list[np.ndarray] | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ADC scan for HIGH code counts (the production 256-code shape):
    the generated-SQL LUT path emits n_sub*n_codes dot-product
    expressions per query — fine at 16 codes, analyzer-hostile at 256
    — so this path scores in ONE scatter/gather mapInPandas task per
    partition: encode the partition's vectors (numpy argmax, the same
    scoring formula pq_encode generates), gather ADC sums from the
    broadcast per-query LUTs, and emit only the local refine*k
    shortlist per query; a per-query window merges shards and exact
    cosine re-ranks in the ORIGINAL frame.  Pass `rotation` to serve
    OPQ at 256 codes (codes quantize x@R, LUTs use q@R).

    Contracts: queries ride a driver collect (the documented
    small-side contract shared with HNSW and the residual scorer);
    numpy's summation order differs from the SQL path in the last
    bits, so this path is pytest-gated (recall + rank-shape), not
    oracle-gated — same honest standing as HNSW.
    """
    spark = index.sparkSession
    cbs = codebooks if codebooks is not None else pq_codebooks(dim, n_sub, n_codes)
    d = dim // n_sub
    q_rows = queries.select(query_id, query_vec).collect()
    qs = [
        (r[query_id], np.asarray(r[query_vec], dtype=np.float64)) for r in q_rows
    ]
    Rm = (
        np.ascontiguousarray(np.asarray(rotation, dtype=np.float64))
        if rotation is not None
        else None
    )
    bc = spark.sparkContext.broadcast(
        (qs, [np.ascontiguousarray(cb) for cb in cbs], Rm)
    )
    per_shard = refine * k

    def score(batches):
        import pandas as pd

        Q, CB, R = bc.value
        if not Q:
            return
        Qm = np.stack([v for _, v in Q])
        Qr = Qm @ R if R is not None else Qm
        luts = [
            Qr[:, m * d : (m + 1) * d] @ CB[m].T for m in range(n_sub)
        ]  # each (n_q, n_codes)
        half = [0.5 * (CB[m] ** 2).sum(1) for m in range(n_sub)]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[index_vec].tolist(), dtype=np.float64)
            ids = pdf[index_id].to_numpy()
            Xr = X @ R if R is not None else X
            adc = np.zeros((len(Q), len(X)))
            for m in range(n_sub):
                sub = Xr[:, m * d : (m + 1) * d]
                codes = (sub @ CB[m].T - half[m]).argmax(1)
                adc += luts[m][:, codes]
            out_q, out_i, out_s = [], [], []
            for qi, (qid, _) in enumerate(Q):
                row = adc[qi]
                top = np.lexsort((ids, -row))[:per_shard]
                out_q.extend([qid] * len(top))
                out_i.extend(ids[top])
                out_s.extend(row[top])
            yield pd.DataFrame(
                {query_id: out_q, index_id: out_i, "adc": out_s}
            )

    id_t = index.schema[index_id].dataType.simpleString()
    qid_t = queries.schema[query_id].dataType.simpleString()
    cands = index.select(index_id, index_vec).mapInPandas(
        score, schema=f"`{query_id}` {qid_t}, `{index_id}` {id_t}, adc double"
    )
    wa = Window.partitionBy(query_id).orderBy(
        F.col("adc").desc(), F.col(index_id).asc()
    )
    shortlist = (
        cands.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= per_shard)
        .select(query_id, index_id)
    )
    q = F.broadcast(
        queries.select(F.col(query_id), F.col(query_vec).alias("_qv"))
    )
    scored = (
        shortlist.join(
            index.select(F.col(index_id), F.col(index_vec).alias("_iv")),
            index_id,
        )
        .join(q, query_id)
        .select(
            query_id,
            index_id,
            F.round(cosine(F.col("_iv"), F.col("_qv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(index_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def covariance_matrix(
    index: DataFrame, dim: int, index_vec: str = "embedding"
) -> np.ndarray:
    """Exact covariance of the vector column in ONE distributed pass:
    partials are per-task (sum of outer products, sum, count) flattened
    to (pos, val) rows and combined by a keyed shuffle — dim^2 + dim +
    1 doubles per task and on the driver, independent of corpus size
    (the opq_train sufficient-statistics idiom; at dim 768 that is a
    ~590k-row partial per task, one shot, still bounded)."""
    import pandas as pd

    n_xx = dim * dim

    def part(batches):
        xx = np.zeros((dim, dim))
        sx = np.zeros(dim)
        cnt = 0.0
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            xx += X.T @ X
            sx += X.sum(0)
            cnt += len(X)
        if not seen:
            return
        vals = np.concatenate([xx.ravel(), sx, [cnt]])
        yield pd.DataFrame(
            {"pos": np.arange(len(vals), dtype=np.int64), "val": vals}
        )

    agg = (
        index.select(F.col(index_vec).cast("array<double>").alias("v"))
        .mapInPandas(part, "pos long, val double")
        .groupBy("pos")
        .agg(F.sum("val").alias("v"))
        .collect()
    )
    flat = np.zeros(n_xx + dim + 1)
    for r in agg:
        flat[r.pos] = r.v
    n = max(flat[-1], 1.0)
    mean = flat[n_xx : n_xx + dim] / n
    return flat[:n_xx].reshape(dim, dim) / n - np.outer(mean, mean)


def opq_eigen_allocation(cov: np.ndarray, n_sub: int) -> np.ndarray:
    """OPQ-P dimension allocation (Ge et al. 2013, §3): eigendecompose
    the covariance and bucket eigenvectors into n_sub equal-size
    groups balancing the PRODUCT of eigenvalues per group (greedy on
    log-eigenvalues, largest first, into the least-loaded non-full
    bucket) — each subquantizer then faces comparable variance, which
    is the independence-balancing condition PQ distortion analysis
    wants. Returns the (dim, dim) orthogonal rotation whose output
    dimension blocks are the buckets; feed it to opq_train(R_init=…)
    or use directly as the parametric rotation. Driver-side O(dim^3)
    on a dim x dim input — bounded regardless of corpus size."""
    cov = np.asarray(cov, dtype=np.float64)
    dim = cov.shape[0]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    cap = dim // n_sub
    w, V = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1]
    w, V = w[order], V[:, order]
    logs = np.log(np.maximum(w, 1e-12))
    # balanced equal-size partition of the logs = LPT greedy on the
    # SHIFTED logs (non-negative; equal group sizes make the shift
    # cancel out of every group-sum comparison). The naive "min
    # product including empty buckets" greedy degenerates for
    # sub-unity eigenvalues: empty buckets (product 1) look richest,
    # so the first bucket hoards the d largest eigenvalues — the
    # worst possible allocation.
    shifted = logs - logs.min()
    order2 = np.argsort(shifted)[::-1]  # largest shifted weight first
    load = np.zeros(n_sub)
    fill = np.zeros(n_sub, dtype=int)
    buckets: list[list[int]] = [[] for _ in range(n_sub)]
    for i in order2:
        open_b = [b for b in range(n_sub) if fill[b] < cap]
        b = min(open_b, key=lambda j: load[j])
        buckets[b].append(int(i))
        load[b] += shifted[i]
        fill[b] += 1
    # within a bucket keep eigen-rank order (cosmetic, deterministic)
    perm = [i for b in buckets for i in sorted(b)]
    # rows of R map input -> rotated frame: R = P V^T with X_rot = X @ R
    # spelled as column permutation of V so (X @ R)[:, block m] sees
    # bucket m's eigendirections
    return V[:, perm]


def rocchio_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    fb_k: int = 4,
    alpha: float = 0.5,
    beta_over_fb: float = 0.125,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
) -> DataFrame:
    """Rocchio relevance feedback in the EMBEDDING domain — the
    vector-space sibling of retrieval.prf_expand_retrieve's lexical
    RM3: retrieve once by cosine, move each query toward the centroid
    of its top `fb_k` feedback vectors,

        q' = alpha * q + (beta / fb_k) * sum(feedback),

    and retrieve again with q'. Hash-gatable determinism, the part
    Rocchio implementations usually punt on: the feedback SUM is
    accumulated in integer MICRO-UNITS (round(v*1e6) per dimension —
    exact, order-free however the aggregation associates), and both
    blend constants must be exact binary fractions (0.5 and
    0.5/4 = 0.125 by default), so q' is bit-identical on any engine.

    Scale shape: pass 1 is brute_force_topk (broadcast queries);
    the per-dimension centroid is a (queries x fb_k x dim)-row
    groupBy — feedback-sized, never corpus-sized; q' folds back into
    per-query arrays (collect bounded by |queries|); pass 2 is the
    standard broadcast scoring. Output: (query_id, vec_id, score,
    rank) by the rounded-score ranking.
    """
    fb = brute_force_topk(
        queries, index, k=fb_k, query_id=query_id,
        query_vec=query_vec, index_id=index_id, index_vec=index_vec,
    ).select(query_id, index_id)
    fbv = fb.join(
        index.select(index_id, F.col(index_vec).alias("_v")), index_id
    )
    cint = fbv.select(
        query_id,
        F.posexplode(F.col("_v").cast("array<double>")).alias(
            "_d0", "_val"
        ),
    ).groupBy(query_id, (F.col("_d0") + 1).alias("_i")).agg(
        F.sum(F.round(F.col("_val") * 1000000).cast("long")).alias("_c")
    )
    qd = queries.select(
        query_id,
        F.posexplode(F.col(query_vec).cast("array<double>")).alias(
            "_d0", "_qval"
        ),
    ).select(query_id, (F.col("_d0") + 1).alias("_i"), "_qval")
    q2 = qd.join(cint, [query_id, "_i"]).select(
        query_id,
        "_i",
        (
            F.lit(float(alpha)) * F.col("_qval")
            + F.lit(float(beta_over_fb))
            * (F.col("_c").cast("double") / F.lit(1000000.0))
        ).alias("_q2"),
    )
    q2v = q2.groupBy(query_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_q2"))),
            lambda x: x["_q2"],
        ).alias(query_vec)
    )
    return brute_force_topk(
        q2v, index, k=k, query_id=query_id, query_vec=query_vec,
        index_id=index_id, index_vec=index_vec,
    )
