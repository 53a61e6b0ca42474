"""T5/T6 — the vector index: idempotent upsert + doc-scoped top-k query.

Reference: chunks+vectors are upserted under a deterministic doc_id
(sha256 of file_hash + adapter configs + chunk params,
sdk1/index.py:460-516), probed before write, delete-then-add on
reindex (index.py:223-375); queries are top-k cosine with a doc_id
equality filter and score>0 cutoff (index.py:65-131).

Spark-first: the index is a sinks/manifest.py table; upsert is an
insert-only (or, on reindex, delete-then-add) MERGE committed as one
rewritten segment with optimistic retry (Delta MERGE at cluster
scale); the probe is an existence check on the deterministic key,
which is what makes re-runs idempotent. Retrieval is the J4 join from
operators/retrieval, scoped by the doc_id filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstract_spark.schemas import CHUNKS
from unstract_spark.sinks.manifest import CommitBackend, ManifestTable
from unstract_spark.sinks.vector_db import VectorStoreBackend


class VectorIndexStore(VectorStoreBackend):
    """Chunk/vector index with deterministic-id idempotent upserts —
    the in-engine parquet backend of the VectorStoreBackend contract
    (sinks/vector_db.py defines the interface; JdbcVectorStore is the
    pgvector-shaped external backend)."""

    STATS_TABLE = "vector_index"
    STATS_COLUMN = "doc_id"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        commit_backend: CommitBackend | None = None,
        stats=None,
    ):
        """`commit_backend`: where the manifest log commits (default:
        POSIX put-if-absent; e.g. an object store's conditional PUT).

        `stats`: optional `stats_store.TableStatsStore` — the same
        planner seam as FileHistoryStore: every upsert re-ANALYZEs the
        index's doc_id column, and the idempotence-probe anti-join
        (incoming vs the persisted id set) takes the stats-priced
        shape (broadcast the analyzed index ids when the persisted
        bound fits, hot-key split when one doc_id dominates, shuffle
        otherwise). The reindex branch keeps the default plan — there
        the analyzed table is the PROBE side and the per-run incoming
        frame has no stats to price."""
        self.spark = spark
        self.path = path
        self.stats = stats
        self._manifest = ManifestTable(spark, path, commit_backend)

    def read(self) -> DataFrame:
        """The committed index; its segments are immutable, so the
        snapshot is stable without pinning."""
        return self._manifest.snapshot(CHUNKS)[1]

    def read_chunks(self) -> DataFrame:
        return self.read()

    def existing_doc_ids(self) -> DataFrame:
        return self.read().select("doc_id").distinct()

    def upsert(self, chunks: DataFrame, reindex: bool = False) -> int:
        """Idempotent index write.

        Default: skip doc_ids already present (the reference's
        query-before-write probe). reindex=True: delete-then-add for
        incoming doc_ids (index.py:408-418). Returns rows written.
        At scale this is `MERGE ... WHEN NOT MATCHED INSERT` / a
        replaceWhere partition overwrite on Delta.
        """
        written: dict = {}

        def merge_fn(current: DataFrame, incoming_chunks: DataFrame):
            if reindex:
                keep = current.join(
                    incoming_chunks.select("doc_id").distinct(),
                    "doc_id",
                    "left_anti",
                )
                incoming = incoming_chunks
            else:
                keep = current
                ids = current.select("doc_id").distinct()
                if self.stats is not None and self.stats.has_stats(
                    self.STATS_TABLE, self.STATS_COLUMN
                ):
                    plan = self.stats.plan_against_unknown(
                        self.STATS_TABLE, self.STATS_COLUMN
                    )
                    incoming = self.stats.apply_using_join(
                        incoming_chunks, ids, ["doc_id"], plan,
                        "left_anti",
                    )
                else:
                    incoming = incoming_chunks.join(
                        ids, "doc_id", "left_anti"
                    )
            written["incoming"] = incoming
            return keep.unionByName(incoming)

        # a lost commit race re-runs merge_fn against the fresh
        # snapshot, so the idempotence probe composes with concurrent
        # writers
        self._manifest.merge(chunks, merge_fn, CHUNKS)
        self._analyze()
        return written["incoming"].count()

    def _analyze(self) -> None:
        """ANALYZE-on-write (the FileHistoryStore convention): refresh
        the index's persisted doc_id stats after each commit so the
        next upsert's probe join is priced from disk."""
        if self.stats is not None:
            self.stats.analyze(
                self.read(), self.STATS_TABLE, [self.STATS_COLUMN]
            )

    def _chunks_for_doc(self, doc_id: str) -> DataFrame:
        """The doc_id equality filter (pushed down into the segment
        scan) narrows to one document's chunks before any scoring (query_topk itself — rounding, score>0
        cutoff, chunk_no tie-break — is shared in VectorStoreBackend)."""
        return self.read().filter(F.col("doc_id") == doc_id)


def embed_chunks(
    chunks: DataFrame,
    text_col: str = "chunk_text",
    embed_factory=None,
) -> DataFrame:
    """T4 plumbing: attach embeddings via Arrow-batched mapInPandas.

    `embed_factory() -> (list[str] -> ndarray)` builds the per-task
    batch embedder (lazy init, like the LLM controller). Default is the
    deterministic mock; a real provider is
    `lambda: providers.OpenAICompatibleEmbedding(...).embed_batch`
    (reference fan-out: sdk1/embedding.py:137-196, 9 providers).

    Note: mapInPandas produces a NEW set of column attributes — refer
    to the output's columns via F.col("name"), never via the input
    DataFrame's attributes (that raises MISSING_ATTRIBUTES).
    """
    import pandas as pd

    from unstract_spark.mock import mock_embed_texts

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields)
    out_schema = fields + ", embedding array<float>"

    def run(batches):
        embed = embed_factory() if embed_factory is not None else mock_embed_texts
        for pdf in batches:
            emb = embed(pdf[text_col].fillna("").tolist())
            out = pdf.copy()
            out["embedding"] = [v.tolist() for v in emb]
            yield out

    return chunks.mapInPandas(run, schema=out_schema)
