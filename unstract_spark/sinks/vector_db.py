"""External vector-DB adapters (T5/T6) behind the engine's vector-store
interface.

Reference: unstract/sdk1/src/unstract/sdk1/adapters/vectordb/ registers
six backends (postgres/pgvector, milvus, pinecone, qdrant, weaviate,
supabase) behind llama-index VectorStore objects; every one is used the
same way — upsert chunk nodes under a deterministic doc_id, then
doc_id-filtered top-k cosine queries (query semantics
sdk1/index.py:65-131, Constants.TOP_K; delete-then-add reindex
index.py:223-375).

Spark-first: `VectorStoreBackend` is that contract as an interface over
DataFrames, with the upsert prelude (validate, probe or delete) and the
ranking written once. Its implementations:

- `operators.index_store.VectorIndexStore` — the in-engine parquet/
  Delta-shaped index (partition-pruned, the 100 TB path);
- `JdbcVectorStore` (here) — an external relational vector store in the
  pgvector shape: one row per chunk, embedding stored as a
  `vector(dim)` column on PostgreSQL+pgvector, or as a JSON-array text
  column on any other JDBC dialect (the same '[x,y,z]' literal text
  works for both, because pgvector's input format IS a JSON-style
  array). DDL reuses the dialect machinery in sinks/jdbc.py; reads come
  back through Spark's JDBC source with the doc_id filter pushed into
  the remote query, so only one document's chunks ever cross the wire;
- four point-store services (Qdrant, Pinecone, Milvus, Weaviate) on one
  `_PointStore` body; each class keeps only its wire spelling.

Scoring parity: every backend ranks with the same rounded-cosine +
chunk_no tie-break, so swapping backends cannot reorder results. On a
real pgvector deployment the top-k itself can be pushed down —
`pgvector_topk_sql` emits that `ORDER BY embedding <=> q LIMIT k`
query; it is generated (and unit-tested) here, executed only where a
pgvector server exists. The point stores emit theirs with
`search_topk_request`.
"""

from __future__ import annotations

import abc
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstract_spark.operators.retrieval import cosine
from unstract_spark.providers import http_json_transport
from unstract_spark.schemas import CHUNKS
from unstract_spark.sinks.jdbc import _DIALECT_TYPES, _quote_ident, execute_ddl

CHUNK_COLS = ("doc_id", "file_hash", "chunk_no", "chunk_text", "embedding")

_DOC_ID_RE = re.compile(r"^[A-Za-z0-9_\-:.]+$")


def _safe_doc_id(doc_id: str) -> str:
    """doc_ids are deterministic sha256 hexes (sdk1/index.py:460-516);
    reject anything that couldn't be one before it reaches SQL text."""
    if not doc_id or not _DOC_ID_RE.match(doc_id):
        raise ValueError(f"unsafe doc_id literal: {doc_id!r}")
    return doc_id


class VectorStoreBackend(abc.ABC):
    """Storage contract for the chunk/vector index.

    Chunks carry (doc_id, file_hash, chunk_no, chunk_text, embedding)
    — schemas.CHUNKS. Upserts are idempotent on doc_id (probe before
    write; reindex = delete-then-add), queries are doc-scoped top-k
    cosine. Backends only supply storage through the hooks below; the
    upsert prelude and the ranking live here so every backend stores
    and returns identical rows.
    """

    @abc.abstractmethod
    def read_chunks(self) -> DataFrame:
        """Every stored chunk, in the CHUNKS column shape."""

    @abc.abstractmethod
    def existing_doc_ids(self) -> DataFrame:
        """Distinct doc_id single-column DataFrame."""

    @abc.abstractmethod
    def _chunks_for_doc(self, doc_id: str) -> DataFrame:
        """One document's chunks, with the doc_id filter pushed into
        storage (partition pruning / remote WHERE)."""

    def delete_docs(self, doc_ids: list[str]) -> None:
        """Drop every chunk of `doc_ids` (the reindex delete)."""
        raise NotImplementedError

    def _docs_present(self, doc_ids: list[str]) -> set[str]:
        """The stored subset of `doc_ids` (the upsert probe; the ids
        are already `_safe_doc_id`-checked)."""
        raise NotImplementedError

    def _write(self, incoming: DataFrame) -> int:
        """Store `incoming` chunks; returns rows written."""
        raise NotImplementedError

    def upsert(self, chunks: DataFrame, reindex: bool = False) -> int:
        """Idempotent write; returns rows written (0 when all probed).

        Every incoming doc_id must pass `_safe_doc_id`, on both paths,
        so no backend stores a document its delete and query refuse.
        reindex=True deletes the incoming documents first
        (index.py:408-418); otherwise documents already stored are
        skipped (the query-before-write probe, index.py:293-335).
        """
        incoming = chunks.select(*CHUNK_COLS)
        ids = [
            _safe_doc_id(r.doc_id)
            for r in incoming.select("doc_id").distinct().collect()
        ]
        if reindex:
            self.delete_docs(ids)
        else:
            present = self._docs_present(ids)
            if present:
                incoming = incoming.filter(~F.col("doc_id").isin(list(present)))
        return self._write(incoming)

    def query_topk(
        self,
        doc_id: str,
        query_vec: list[float],
        k: int = 5,
        min_score: float | None = 0.0,
    ) -> DataFrame:
        """T6: top-k chunks of ONE document by cosine to the query.

        score>0 cutoff mirrors sdk1/index.py:118-124; ranking is over
        the rounded score with a chunk_no tie-break so every backend
        (and the SQL oracle) agrees on boundary rows.
        """
        qv = F.array(*[F.lit(float(x)) for x in query_vec])
        scored = self._chunks_for_doc(_safe_doc_id(doc_id)).select(
            "doc_id",
            "chunk_no",
            "chunk_text",
            F.round(cosine(F.col("embedding"), qv), 6).alias("score"),
        )
        if min_score is not None:
            scored = scored.filter(F.col("score") > min_score)
        w = Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("chunk_no").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )


def vector_table_ddl(
    table: str, dialect: str, dim: int, pgvector: bool | None = None
) -> str:
    """CREATE TABLE for the chunk/vector table.

    PostgreSQL defaults to a pgvector `vector(dim)` embedding column
    (the reference's Postgres adapter is pgvector-backed); every other
    dialect stores the embedding as its JSON/document type. Key columns
    are VARCHAR (not the dialect's large-text type) so DISTINCT /
    equality pushdown work everywhere (Derby forbids CLOB comparisons).
    """
    if pgvector is None:
        pgvector = dialect == "postgresql"
    types = _DIALECT_TYPES[dialect]
    emb_type = f"vector({dim})" if pgvector else types["json"]
    q = lambda n: _quote_ident(n, dialect)  # noqa: E731
    cols = ", ".join(
        [
            f"{q('doc_id')} VARCHAR(256) NOT NULL",
            f"{q('file_hash')} VARCHAR(256) NOT NULL",
            f"{q('chunk_no')} {types['int']} NOT NULL",
            f"{q('chunk_text')} {types['string']}",
            f"{q('embedding')} {emb_type}",
        ]
    )
    return f"CREATE TABLE {q(table)} ({cols})"


def pgvector_topk_sql(
    table: str,
    doc_id: str,
    query_vec: list[float],
    k: int = 5,
    min_score: float | None = 0.0,
) -> str:
    """The fully-pushed-down pgvector top-k (runs ON the server).

    `<=>` is pgvector cosine *distance*; score = 1 - distance. Emitted
    for deployments with a live pgvector — the engine-side fallback in
    `JdbcVectorStore.query_topk` computes the identical ranking from
    the fetched chunks.
    """
    vec = "[" + ",".join(repr(float(x)) for x in query_vec) + "]"
    did = _safe_doc_id(doc_id)
    q = lambda n: _quote_ident(n, "postgresql")  # noqa: E731
    where = f"{q('doc_id')} = '{did}'"
    if min_score is not None:
        where += f" AND 1 - ({q('embedding')} <=> '{vec}') > {float(min_score)!r}"
    return (
        f"SELECT {q('doc_id')}, {q('chunk_no')}, {q('chunk_text')}, "
        f"1 - ({q('embedding')} <=> '{vec}') AS score "
        f"FROM {q(table)} WHERE {where} "
        f"ORDER BY {q('embedding')} <=> '{vec}' ASC, {q('chunk_no')} ASC LIMIT {int(k)}"
    )


class JdbcVectorStore(VectorStoreBackend):
    """pgvector-shaped external vector store over any JDBC dialect.

    Embeddings travel as '[x,y,z]' text — pgvector ingests that
    directly into `vector(dim)` (assignment cast), JSON dialects store
    it verbatim, and reads parse it back with from_json. Writes go
    through df.write.jdbc (one connection per partition, `batchsize`
    bounded); the upsert probe and per-doc reads push their predicates
    into the remote query so the driver never scans the index.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str = "vector_index",
        dialect: str = "postgresql",
        dim: int = 64,
        properties: dict[str, str] | None = None,
        pgvector: bool | None = None,
        ensure_table: bool = True,
        num_partitions: int = 8,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.dialect = dialect
        self.dim = dim
        self.properties = properties or {}
        self.pgvector = pgvector if pgvector is not None else dialect == "postgresql"
        self.num_partitions = num_partitions
        if ensure_table:
            execute_ddl(
                spark,
                url,
                [vector_table_ddl(table, dialect, dim, self.pgvector)],
                self.properties,
            )

    # -- storage plumbing ------------------------------------------------

    def _q(self, name: str) -> str:
        return _quote_ident(name, self.dialect)

    def _read_sql(self, sql: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", sql)
        )
        for key, val in self.properties.items():
            reader = reader.option(key, val)
        return reader.load()

    def _parse(self, raw: DataFrame) -> DataFrame:
        # positional rename: dialects case-fold / auto-name expression
        # columns, so the remote names are not trustworthy
        df = raw.toDF(*CHUNK_COLS)
        return df.select(
            "doc_id",
            "file_hash",
            F.col("chunk_no").cast("int").alias("chunk_no"),
            "chunk_text",
            F.from_json(F.col("embedding"), "array<float>").alias("embedding"),
        )

    def _select_cols(self) -> str:
        # pgvector's vector type reads back as its '[x,y,z]' literal via
        # a text cast; JSON dialects already store text
        emb = self._q("embedding")
        if self.pgvector:
            emb = f"CAST({emb} AS TEXT)"
        cols = [self._q(c) for c in ("doc_id", "file_hash", "chunk_no", "chunk_text")]
        return ", ".join(cols + [emb])

    # -- VectorStoreBackend ----------------------------------------------

    def read_chunks(self) -> DataFrame:
        return self._parse(
            self._read_sql(f"SELECT {self._select_cols()} FROM {self._q(self.table)}")
        )

    def existing_doc_ids(self) -> DataFrame:
        sql = f"SELECT DISTINCT {self._q('doc_id')} FROM {self._q(self.table)}"
        return self._read_sql(sql).toDF("doc_id")

    def _in_lists(self, doc_ids: list[str]):
        """`doc_id IN (...)` predicates over checked ids, 256 per list."""
        safe = [_safe_doc_id(d) for d in doc_ids]
        for i in range(0, len(safe), 256):
            in_list = ", ".join(f"'{d}'" for d in safe[i : i + 256])
            yield f"{self._q('doc_id')} IN ({in_list})"

    def delete_docs(self, doc_ids: list[str]) -> None:
        """Driver-side delete (reindex path, index.py:408-418). Bounded:
        one pipeline run touches at most its own batch of documents."""
        if not doc_ids:
            return
        stmts = [
            f"DELETE FROM {self._q(self.table)} WHERE {pred}"
            for pred in self._in_lists(doc_ids)
        ]
        execute_ddl(self.spark, self.url, stmts, self.properties, ignore_existing=False)

    def _docs_present(self, doc_ids: list[str]) -> set[str]:
        """Pushed-down per-batch probe: one remote query per 256
        incoming ids (O(batch) with a doc_id index), never a DISTINCT
        scan of the whole remote table."""
        present: set[str] = set()
        for pred in self._in_lists(doc_ids):
            sql = (
                f"SELECT DISTINCT {self._q('doc_id')} FROM {self._q(self.table)} "
                f"WHERE {pred}"
            )
            present.update(r.doc_id for r in self._read_sql(sql).toDF("doc_id").collect())
        return present

    def _write(self, incoming: DataFrame) -> int:
        incoming = incoming.localCheckpoint(eager=True)  # pin before the write mutates the probe
        n = incoming.count()
        if n == 0:
            return 0
        serialized = incoming.withColumn(
            "embedding", F.to_json(F.col("embedding").cast("array<float>"))
        )
        (
            serialized.repartition(min(self.num_partitions, max(n // 100, 1)))
            .write.jdbc(
                self.url,
                self._q(self.table),
                mode="append",
                properties=self.properties,
            )
        )
        return n

    def _chunks_for_doc(self, doc_id: str) -> DataFrame:
        sql = (
            f"SELECT {self._select_cols()} FROM {self._q(self.table)} "
            f"WHERE {self._q('doc_id')} = '{_safe_doc_id(doc_id)}'"
        )
        return self._parse(self._read_sql(sql))


def collection_name(prefix: str | None, dim: int) -> str:
    """Collection/table naming parity: `<prefix>_<embedding_dim>`,
    defaulting the prefix to `unstract_vector_db`
    (reference adapters/vectordb/helper.py:61-101 get_collection_name —
    one collection per (user prefix, embedding dimension) so indexes
    built with different embedding models never mix)."""
    return f"{prefix or 'unstract_vector_db'}_{int(dim)}"


class _PointStore(VectorStoreBackend):
    """The body the four point-store services share. Reference
    adapters/vectordb/{qdrant,pinecone,milvus,weaviate}/ all wrap the
    same access pattern: ensure a collection sized to the embedding
    dimension, upsert points `{id, vector, payload}` in batches, probe
    and delete per doc_id, and read one document's chunks back. The
    subclasses differ only in how the service spells those requests,
    which they supply through the hooks below.

    Scale shape: upserts run inside `mapInPandas`, one HTTP batch per
    `batch_size` rows per Arrow batch per partition — N executors post
    concurrently and nothing funnels through the driver. Probes and
    deletes are one request per incoming doc_id — O(batch docs), never
    a scan of the remote index (the reference probes per doc_id the
    same way, index.py:293-335). Reads are doc-scoped by contract (one
    document's chunks, the reference's only query shape), so a scoped
    read is bounded by one document regardless of index size; the
    unbounded reads (`read_chunks`, `existing_doc_ids`) page through
    the collection and exist for tests and small indexes — the 100 TB
    index lives in the in-engine store, with external stores fed
    doc-by-doc exactly like the reference feeds pgvector/Qdrant.

    Ranking runs engine-side through the shared `query_topk` so results
    are bit-identical across backends; `search_topk_request` emits the
    pushed-down server-side query for live deployments.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_url: str,
        transport,
        headers: dict,
        batch_size: int,
        dim: int | None = None,
    ):
        self.spark = spark
        self.base_url = base_url.rstrip("/")
        self.transport = transport or http_json_transport
        self.headers = headers
        self.batch_size = batch_size
        self.dim = dim

    def _call(self, path: str, payload: dict) -> dict:
        return self.transport(f"{self.base_url}/{path}", payload, self.headers)

    # -- wire spelling ---------------------------------------------------

    @abc.abstractmethod
    def _records(self, doc_id: str | None) -> list[tuple[dict, list]]:
        """(payload fields, vector) of every point, or of one doc's."""

    @abc.abstractmethod
    def _probe(self, doc_id: str) -> bool:
        """Whether any point of `doc_id` is stored (one small request)."""

    @abc.abstractmethod
    def _delete_request(self, doc_id: str) -> tuple[str, dict]:
        """(path, payload) deleting every point of `doc_id`."""

    @abc.abstractmethod
    def _upsert_request(self):
        """A `points -> (path, payload)` builder for one upsert batch. It
        runs inside Python workers, so it captures strings only, never
        `self` (which holds the SparkSession)."""

    # -- VectorStoreBackend ----------------------------------------------

    def _to_df(self, records: list[tuple[dict, list]]) -> DataFrame:
        rows = [
            (
                m["doc_id"],
                m["file_hash"],
                int(m["chunk_no"]),
                m["chunk_text"],
                [float(x) for x in vec],
            )
            for m, vec in records
        ]
        return self.spark.createDataFrame(rows, schema=CHUNKS)

    def read_chunks(self) -> DataFrame:
        return self._to_df(self._records(None))

    def existing_doc_ids(self) -> DataFrame:
        seen = sorted({m["doc_id"] for m, _ in self._records(None)})
        return self.spark.createDataFrame(
            [(d,) for d in seen], schema="doc_id string"
        )

    def _chunks_for_doc(self, doc_id: str) -> DataFrame:
        return self._to_df(self._records(doc_id))

    def delete_docs(self, doc_ids: list[str]) -> None:
        for doc_id in doc_ids:
            self._call(*self._delete_request(_safe_doc_id(doc_id)))

    def _docs_present(self, doc_ids: list[str]) -> set[str]:
        return {d for d in doc_ids if self._probe(d)}

    def _write(self, incoming: DataFrame) -> int:
        import pandas as pd

        url, transport, headers = self.base_url, self.transport, self.headers
        batch_size, build = self.batch_size, self._upsert_request()

        def post_batches(batches):
            for pdf in batches:
                for i in range(0, len(pdf), batch_size):
                    points = [
                        {
                            "id": f"{r.doc_id}:{int(r.chunk_no)}",
                            "vector": [float(x) for x in r.embedding],
                            "payload": {
                                "doc_id": r.doc_id,
                                "file_hash": r.file_hash,
                                "chunk_no": int(r.chunk_no),
                                "chunk_text": r.chunk_text,
                            },
                        }
                        for r in pdf.iloc[i : i + batch_size].itertuples()
                    ]
                    path, payload = build(points)
                    transport(f"{url}/{path}", payload, headers)
                    yield pd.DataFrame({"n": [len(points)]})

        written = incoming.mapInPandas(post_batches, schema="n long")
        return int(written.agg(F.sum("n")).collect()[0][0] or 0)


def _point_uuid(point_id: str) -> str:
    """Deterministic uuid5 of the generic `<doc_id>:<chunk_no>` id, for
    services that accept only UUID ids: the same chunk keeps the same
    id, so re-upserts stay idempotent (last write wins), while doc_id
    and chunk_no stay authoritative in the payload."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, point_id))


class RestVectorStore(_PointStore):
    """Qdrant-shaped point store over a JSON/REST transport:

    - `PUT  collections/<name>`                    — ensure collection
    - `PUT  collections/<name>/points`             — batched upsert
    - `POST collections/<name>/points/scroll`      — filtered read-back
    - `POST collections/<name>/points/delete`      — reindex delete
    - `POST collections/<name>/points/search`      — server-side top-k

    Live Qdrant accepts only unsigned-int or UUID point ids — the
    generic `<doc_id>:<chunk_no>` string would 400 — so points are
    stored under its `_point_uuid`.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_url: str,
        transport=None,
        collection: str | None = None,
        prefix: str | None = None,
        dim: int = 64,
        api_key: str | None = None,
        batch_size: int = 256,
        ensure: bool = True,
    ):
        headers = {"api-key": api_key} if api_key else {}
        super().__init__(spark, base_url, transport, headers, batch_size, dim)
        self.collection = collection or collection_name(prefix, dim)
        if ensure:
            self._call(
                f"collections/{self.collection}",
                {"vectors": {"size": dim, "distance": "Cosine"}},
            )

    @staticmethod
    def _doc_filter(doc_id: str) -> dict:
        return {
            "must": [{"key": "doc_id", "match": {"value": _safe_doc_id(doc_id)}}]
        }

    def _records(self, doc_id: str | None) -> list[tuple[dict, list]]:
        flt = None if doc_id is None else self._doc_filter(doc_id)
        points, offset = [], None
        while True:
            body = self._call(
                f"collections/{self.collection}/points/scroll",
                {
                    "filter": flt,
                    "with_payload": True,
                    "with_vector": True,
                    "limit": 1024,
                    "offset": offset,
                },
            )
            result = body.get("result") or {}
            points.extend(result.get("points") or [])
            offset = result.get("next_page_offset")
            if offset is None:
                return [(p["payload"], p["vector"]) for p in points]

    def _probe(self, doc_id: str) -> bool:
        body = self._call(
            f"collections/{self.collection}/points/scroll",
            {"filter": self._doc_filter(doc_id), "limit": 1, "with_payload": False},
        )
        return bool((body.get("result") or {}).get("points"))

    def _delete_request(self, doc_id: str) -> tuple[str, dict]:
        return (
            f"collections/{self.collection}/points/delete",
            {"filter": self._doc_filter(doc_id)},
        )

    def _upsert_request(self):
        path = f"collections/{self.collection}/points"

        def build(points: list[dict]) -> tuple[str, dict]:
            return path, {
                "points": [{**p, "id": _point_uuid(p["id"])} for p in points]
            }

        return build

    def search_topk_request(
        self, doc_id: str, query_vec: list[float], k: int = 5
    ) -> tuple[str, dict]:
        """The fully-pushed-down server-side top-k (runs ON the vector
        service — Qdrant ranks by cosine and applies the payload filter
        remotely). Emitted for live deployments; the engine-side
        `query_topk` computes the identical ranking from scrolled
        chunks."""
        return (
            f"collections/{self.collection}/points/search",
            {
                "vector": [float(x) for x in query_vec],
                "filter": self._doc_filter(doc_id),
                "limit": int(k),
                "with_payload": True,
            },
        )


class PineconeVectorStore(_PointStore):
    """Pinecone-shaped point store (data-plane API; same shape as
    Qdrant, different spelling):

    - `POST {host}/vectors/upsert`  {"vectors": [{id, values,
      metadata}], "namespace"} — batched upsert ({"upsertedCount"}).
    - `POST {host}/vectors/list`   {"prefix", "paginationToken"} —
      id listing; our point ids are `<doc_id>:<chunk_no>`, so a
      `<doc_id>:` prefix IS the doc filter (Pinecone's documented
      pattern for grouped vectors).
    - `POST {host}/vectors/fetch`  {"ids": [...]} — bodies for listed
      ids.
    - `POST {host}/vectors/delete` {"filter": {"doc_id": {"$eq": ...}}}.
    - `POST {host}/query` {"vector", "topK", "filter", ...} — the
      server-side top-k, emitted by `search_topk_request`.

    Index creation is control-plane (api.pinecone.io), out of band —
    like the reference, which assumes the index exists. The transport
    seam treats every endpoint as a JSON call; GET-styled endpoints are
    modeled as POST bodies (a real adapter shim accepts that).
    """

    def __init__(
        self,
        spark: SparkSession,
        host: str,
        transport=None,
        namespace: str = "",
        api_key: str | None = None,
        batch_size: int = 256,
    ):
        headers = {"Api-Key": api_key} if api_key else {}
        super().__init__(spark, host, transport, headers, batch_size)
        self.namespace = namespace

    def _call(self, path: str, payload: dict) -> dict:
        return super()._call(path, {**payload, "namespace": self.namespace})

    def _list_ids(self, prefix: str | None) -> list[str]:
        ids, token = [], None
        while True:
            body = self._call(
                "vectors/list",
                {"prefix": prefix, "limit": 100, "paginationToken": token},
            )
            ids.extend(v["id"] for v in body.get("vectors") or [])
            token = (body.get("pagination") or {}).get("next")
            if not token:
                return ids

    def _records(self, doc_id: str | None) -> list[tuple[dict, list]]:
        ids = self._list_ids(None if doc_id is None else f"{doc_id}:")
        vecs: list[dict] = []
        for i in range(0, len(ids), 100):
            body = self._call("vectors/fetch", {"ids": ids[i : i + 100]})
            vecs.extend((body.get("vectors") or {}).values())
        # exact-match guard: doc ids may legally contain ':', so the
        # prefix "a:" would also match doc "a:1"'s points — filter on
        # the metadata doc_id, which is authoritative
        return [
            (v["metadata"], v["values"])
            for v in vecs
            if doc_id is None or v["metadata"]["doc_id"] == doc_id
        ]

    def existing_doc_ids(self) -> DataFrame:
        """From the id listing alone (`<doc_id>:<chunk_no>` ids), with
        no vector fetch."""
        seen = sorted({pid.rsplit(":", 1)[0] for pid in self._list_ids(None)})
        return self.spark.createDataFrame(
            [(d,) for d in seen], schema="doc_id string"
        )

    def _probe(self, doc_id: str) -> bool:
        # the rsplit check keeps doc "a" from matching doc "a:1"'s
        # points ("a:1:0" also starts with "a:")
        body = self._call("vectors/list", {"prefix": f"{doc_id}:", "limit": 5})
        return any(
            v["id"].rsplit(":", 1)[0] == doc_id for v in body.get("vectors") or []
        )

    def _delete_request(self, doc_id: str) -> tuple[str, dict]:
        return "vectors/delete", {"filter": {"doc_id": {"$eq": doc_id}}}

    def _upsert_request(self):
        ns = self.namespace

        def build(points: list[dict]) -> tuple[str, dict]:
            vectors = [
                {"id": p["id"], "values": p["vector"], "metadata": p["payload"]}
                for p in points
            ]
            return "vectors/upsert", {"vectors": vectors, "namespace": ns}

        return build

    def search_topk_request(
        self, doc_id: str, query_vec: list[float], k: int = 5
    ) -> tuple[str, dict]:
        """Server-side top-k (Pinecone ranks by the index metric and
        applies the metadata filter remotely)."""
        return (
            "query",
            {
                "vector": [float(x) for x in query_vec],
                "topK": int(k),
                "filter": {"doc_id": {"$eq": _safe_doc_id(doc_id)}},
                "includeMetadata": True,
                "namespace": self.namespace,
            },
        )


class MilvusVectorStore(_PointStore):
    """Milvus-shaped point store (RESTful v2 data plane; reference
    adapters/vectordb/milvus wraps MilvusClient, milvus.py:24-60):

    - `POST /v2/vectordb/collections/create` — ensure collection
      (dimension + COSINE metric; string primary key, dynamic fields).
    - `POST /v2/vectordb/entities/upsert`    — batched {id, vector,
      payload-fields} rows under "data".
    - `POST /v2/vectordb/entities/query`     — filter-expression reads
      (`doc_id == "..."`), offset/limit paging.
    - `POST /v2/vectordb/entities/delete`    — filter-expression delete.
    - `POST /v2/vectordb/entities/search`    — server-side top-k
      (emitted by `search_topk_request` for live deployments).

    Milvus filters are expression STRINGS, so doc ids pass through
    `_safe_doc_id` before entering one (the same SQL-ish injection
    guard as the JDBC store).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_url: str,
        transport=None,
        collection: str | None = None,
        prefix: str | None = None,
        dim: int = 64,
        token: str | None = None,
        batch_size: int = 256,
        ensure: bool = True,
    ):
        headers = {"Authorization": f"Bearer {token}"} if token else {}
        super().__init__(spark, base_url, transport, headers, batch_size, dim)
        self.collection = collection or collection_name(prefix, dim)
        if ensure:
            self._call(
                "v2/vectordb/collections/create",
                {
                    "collectionName": self.collection,
                    "dimension": dim,
                    "metricType": "COSINE",
                    "idType": "VarChar",
                    "enableDynamicField": True,
                },
            )

    @staticmethod
    def _doc_filter(doc_id: str) -> str:
        return f'doc_id == "{_safe_doc_id(doc_id)}"'

    def _query(self, flt: str, fields: list[str], limit: int, offset: int) -> list:
        body = self._call(
            "v2/vectordb/entities/query",
            {
                "collectionName": self.collection,
                "filter": flt,
                "outputFields": fields,
                "limit": limit,
                "offset": offset,
            },
        )
        return body.get("data") or []

    def _records(self, doc_id: str | None) -> list[tuple[dict, list]]:
        flt = "" if doc_id is None else self._doc_filter(doc_id)
        rows, offset = [], 0
        while True:
            page = self._query(flt, list(CHUNK_COLS), 1024, offset)
            rows.extend(page)
            if len(page) < 1024:
                return [(r, r["embedding"]) for r in rows]
            offset += 1024

    def _probe(self, doc_id: str) -> bool:
        return bool(self._query(self._doc_filter(doc_id), ["doc_id"], 1, 0))

    def _delete_request(self, doc_id: str) -> tuple[str, dict]:
        return (
            "v2/vectordb/entities/delete",
            {"collectionName": self.collection, "filter": self._doc_filter(doc_id)},
        )

    def _upsert_request(self):
        coll = self.collection

        def build(points: list[dict]) -> tuple[str, dict]:
            data = [
                {"id": p["id"], "embedding": p["vector"], **p["payload"]}
                for p in points
            ]
            return "v2/vectordb/entities/upsert", {"collectionName": coll, "data": data}

        return build

    def search_topk_request(
        self, doc_id: str, query_vec: list[float], k: int = 5
    ) -> tuple[str, dict]:
        """Server-side top-k (Milvus ranks by the collection metric and
        applies the filter expression remotely)."""
        return (
            "v2/vectordb/entities/search",
            {
                "collectionName": self.collection,
                "data": [[float(x) for x in query_vec]],
                "filter": self._doc_filter(doc_id),
                "limit": int(k),
                "outputFields": ["doc_id", "chunk_no", "chunk_text"],
            },
        )


class WeaviateVectorStore(_PointStore):
    """Weaviate-shaped point store (REST objects + GraphQL; reference
    adapters/vectordb/weaviate wraps weaviate-client):

    - `POST /v1/schema`        — ensure class (vectorizer "none": the
      engine supplies vectors, matching the reference's use).
    - `POST /v1/batch/objects` — batched {class, id, properties,
      vector} objects. Weaviate REQUIRES UUID object ids, so ids are
      the same `_point_uuid` the Qdrant backend uses.
    - `POST /v1/graphql`       — reads: a Get query with a doc_id
      where-filter, paging via offset/limit, vectors via _additional.
    - `POST /v1/batch/delete`  — delete-by-where (match.class + where).

    Weaviate class names must start uppercase ([A-Z][A-Za-z0-9_]*);
    `_class_name` normalizes the shared collection naming. GraphQL
    strings embed only _safe_doc_id-validated literals.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_url: str,
        transport=None,
        collection: str | None = None,
        prefix: str | None = None,
        dim: int = 64,
        api_key: str | None = None,
        batch_size: int = 256,
        ensure: bool = True,
    ):
        headers = {"Authorization": f"Bearer {api_key}"} if api_key else {}
        super().__init__(spark, base_url, transport, headers, batch_size, dim)
        self.cls = self._class_name(collection or collection_name(prefix, dim))
        if ensure:
            self._call(
                "v1/schema",
                {
                    "class": self.cls,
                    "vectorizer": "none",
                    "properties": [
                        {"name": "doc_id", "dataType": ["text"]},
                        {"name": "file_hash", "dataType": ["text"]},
                        {"name": "chunk_no", "dataType": ["int"]},
                        {"name": "chunk_text", "dataType": ["text"]},
                    ],
                },
            )

    @staticmethod
    def _class_name(name: str) -> str:
        cleaned = re.sub(r"[^A-Za-z0-9_]", "_", name)
        return cleaned[:1].upper() + cleaned[1:]

    def _where(self, doc_id: str) -> str:
        return (
            '{path: ["doc_id"], operator: Equal, '
            f'valueText: "{_safe_doc_id(doc_id)}"}}'
        )

    def _get(self, args: str, fields: str) -> list[dict]:
        q = f"{{ Get {{ {self.cls}({args}) {{ {fields} }} }} }}"
        body = self._call("v1/graphql", {"query": q})
        return ((body.get("data") or {}).get("Get") or {}).get(self.cls) or []

    def _records(self, doc_id: str | None) -> list[tuple[dict, list]]:
        where = "" if doc_id is None else f", where: {self._where(doc_id)}"
        fields = "doc_id file_hash chunk_no chunk_text _additional { vector }"
        objs, offset = [], 0
        while True:
            page = self._get(f"limit: 1024, offset: {offset}{where}", fields)
            objs.extend(page)
            if len(page) < 1024:
                return [(o, o["_additional"]["vector"]) for o in objs]
            offset += 1024

    def _probe(self, doc_id: str) -> bool:
        return bool(self._get(f"limit: 1, where: {self._where(doc_id)}", "doc_id"))

    def _delete_request(self, doc_id: str) -> tuple[str, dict]:
        where = {"path": ["doc_id"], "operator": "Equal", "valueText": doc_id}
        return "v1/batch/delete", {"match": {"class": self.cls, "where": where}}

    def _upsert_request(self):
        cls = self.cls

        def build(points: list[dict]) -> tuple[str, dict]:
            objects = [
                {
                    "class": cls,
                    "id": _point_uuid(p["id"]),
                    "properties": p["payload"],
                    "vector": p["vector"],
                }
                for p in points
            ]
            return "v1/batch/objects", {"objects": objects}

        return build

    def search_topk_request(
        self, doc_id: str, query_vec: list[float], k: int = 5
    ) -> tuple[str, dict]:
        """Server-side top-k as a GraphQL nearVector query (Weaviate
        ranks by vector distance and applies the where-filter
        remotely)."""
        vec = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]"
        q = (
            f"{{ Get {{ {self.cls}(limit: {int(k)}, "
            f"nearVector: {{vector: {vec}}}, where: {self._where(doc_id)}) "
            "{ doc_id chunk_no chunk_text _additional { distance } } } }"
        )
        return "v1/graphql", {"query": q}


# -- backend registry (the adapters/vectordb registration surface) -------

_BACKENDS: dict[str, type] = {}


def register_backend(kind: str):
    """Reference parity: vector-db adapters self-register under an id
    (adapters/vectordb/register.py; e.g. qdrant's get_id 'qdrant|41f6...').
    Ours key on a plain kind string."""

    def deco(cls):
        if kind in _BACKENDS:
            raise ValueError(f"vector-store backend {kind!r} already registered")
        _BACKENDS[kind] = cls
        return cls

    return deco


def make_vector_store(kind: str, spark: SparkSession, **config) -> VectorStoreBackend:
    """Instantiate a vector store by kind.

    Mapping to the reference's six adapters: `postgres`/`supabase` are
    pgvector-over-JDBC (`jdbc` here — Supabase IS hosted Postgres with
    pgvector); the four point-store services each speak their own wire
    spelling behind the same transport seam — `rest` (Qdrant REST),
    `pinecone` (data-plane JSON), `milvus` (RESTful v2), `weaviate`
    (REST objects + GraphQL); `parquet` is the in-engine 100 TB path
    with no reference equivalent.
    """
    cls = _BACKENDS.get(kind)
    if cls is None:
        available = ", ".join(sorted(_BACKENDS)) or "(none)"
        raise KeyError(f"unknown vector store {kind!r}. Available: {available}")
    return cls(spark, **config)


def list_backends() -> list[str]:
    return sorted(_BACKENDS)


def _parquet_factory(spark: SparkSession, **config):
    # lazy: operators.index_store imports this module for the
    # VectorStoreBackend interface, so importing it at module load
    # would be circular
    from unstract_spark.operators.index_store import VectorIndexStore

    return VectorIndexStore(spark, **config)


register_backend("jdbc")(JdbcVectorStore)
register_backend("rest")(RestVectorStore)
register_backend("pinecone")(PineconeVectorStore)
register_backend("milvus")(MilvusVectorStore)
register_backend("weaviate")(WeaviateVectorStore)
register_backend("parquet")(_parquet_factory)
