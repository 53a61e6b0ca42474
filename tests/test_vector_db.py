"""Vector-store backends: DDL / pushdown SQL generation, a Derby
round-trip of the pgvector-shaped JDBC store, the four point stores
over the file-backed services of tests/fakes.py, and every backend
checked against the in-engine parquet index.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from tests import fakes
from unstract_spark.operators.index_store import VectorIndexStore, embed_chunks
from unstract_spark.sinks.vector_db import (
    JdbcVectorStore,
    MilvusVectorStore,
    PineconeVectorStore,
    RestVectorStore,
    WeaviateVectorStore,
    pgvector_topk_sql,
    vector_table_ddl,
)


@pytest.fixture()
def chunk_rows(spark):
    rows = [
        ("docA", "h1", i, f"chunk text {i} about spark engines") for i in range(4)
    ] + [("docB", "h2", i, f"other content {i} entirely") for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id string, file_hash string, chunk_no int, chunk_text string"
    )
    return embed_chunks(df)


def test_vector_table_ddl_pgvector_and_json():
    pg = vector_table_ddl("vidx", "postgresql", 64)
    assert '"embedding" vector(64)' in pg
    assert '"doc_id" VARCHAR(256) NOT NULL' in pg
    nopg = vector_table_ddl("vidx", "postgresql", 64, pgvector=False)
    assert '"embedding" JSONB' in nopg
    derby = vector_table_ddl("vidx", "derby", 8)
    assert '"embedding" CLOB' in derby  # json fallback, no pgvector on Derby
    snow = vector_table_ddl("vidx", "snowflake", 128)
    assert '"embedding" VARIANT' in snow


def test_pgvector_pushdown_sql():
    sql = pgvector_topk_sql("vidx", "a" * 64, [0.5, -1.0], k=3, min_score=0.0)
    assert "ORDER BY \"embedding\" <=> '[0.5,-1.0]' ASC" in sql
    assert "LIMIT 3" in sql
    assert "1 - (\"embedding\" <=> '[0.5,-1.0]') > 0.0" in sql
    assert f"\"doc_id\" = '{'a' * 64}'" in sql
    with pytest.raises(ValueError, match="unsafe doc_id"):
        pgvector_topk_sql("vidx", "x'; DROP TABLE--", [0.1])


def _derby_store(spark, tmp_path, **kw):
    url = f"jdbc:derby:{tmp_path}/vdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    return JdbcVectorStore(
        spark, url, table="vidx", dialect="derby", dim=64, properties=props, **kw
    )


def test_jdbc_vector_store_upsert_probe_and_roundtrip(spark, tmp_path, chunk_rows):
    store = _derby_store(spark, tmp_path)
    assert store.upsert(chunk_rows) == 7
    assert store.upsert(chunk_rows) == 0  # probe-before-write idempotency
    back = store.read_chunks()
    assert back.count() == 7
    row = back.filter(
        (F.col("doc_id") == "docA") & (F.col("chunk_no") == 2)
    ).collect()[0]
    orig = chunk_rows.filter(
        (F.col("doc_id") == "docA") & (F.col("chunk_no") == 2)
    ).collect()[0]
    assert row.chunk_text == orig.chunk_text
    assert row.embedding == orig.embedding  # float32 round-trip through JSON text
    assert {r.doc_id for r in store.existing_doc_ids().collect()} == {"docA", "docB"}


def test_jdbc_vector_store_reindex_replaces(spark, tmp_path, chunk_rows):
    store = _derby_store(spark, tmp_path)
    store.upsert(chunk_rows)
    reduced = chunk_rows.filter(F.col("doc_id") == "docA").limit(2)
    store.upsert(reduced, reindex=True)
    counts = {
        r.doc_id: r.n
        for r in store.read_chunks()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"docA": 2, "docB": 3}  # delete-then-add for docA only


def test_jdbc_backend_matches_parquet_backend(spark, tmp_path, chunk_rows):
    """The contract test: both VectorStoreBackend implementations return
    identical doc-scoped top-k rows for the same data."""
    from unstract_spark.mock import mock_embed_texts

    jdbc_store = _derby_store(spark, tmp_path)
    pq_store = VectorIndexStore(spark, str(tmp_path / "idx"))
    jdbc_store.upsert(chunk_rows)
    pq_store.upsert(chunk_rows)
    qv = mock_embed_texts(["chunk text 2 about spark engines"])[0].tolist()
    a = [tuple(r) for r in jdbc_store.query_topk("docA", qv, k=3).collect()]
    b = [tuple(r) for r in pq_store.query_topk("docA", qv, k=3).collect()]
    assert a == b
    assert a[0][1] == 2  # identical text -> cosine 1.0 wins (chunk_no 2)


def test_jdbc_vector_store_rejects_unsafe_doc_id(spark, tmp_path, chunk_rows):
    store = _derby_store(spark, tmp_path)
    store.upsert(chunk_rows)
    with pytest.raises(ValueError, match="unsafe doc_id"):
        store.query_topk("doc'; DELETE FROM vidx--", [0.1] * 64).collect()
    with pytest.raises(ValueError, match="unsafe doc_id"):
        store.delete_docs(["ok_id", "bad id with spaces"])


# -- point stores ---------------------------------------------------------


def _rest_store(spark, tmp_path, **kw):
    transport = fakes.make_fake_qdrant_transport(str(tmp_path / "qdrant_state"))
    return RestVectorStore(
        spark,
        "http://vectors.local:6333",
        transport=transport,
        prefix="t",
        dim=64,
        **kw,
    )


def _pinecone_store(spark, tmp_path, **kw):
    transport = fakes.make_fake_pinecone_transport(str(tmp_path / "pinecone_state"))
    return PineconeVectorStore(
        spark, "http://idx-abc.svc.pinecone.local", transport=transport, **kw
    )


def _milvus_store(spark, tmp_path, **kw):
    transport = fakes.make_fake_milvus_transport(str(tmp_path / "milvus_state"))
    return MilvusVectorStore(
        spark, "http://milvus.local:19530", transport=transport, prefix="t", **kw
    )


def _weaviate_store(spark, tmp_path, **kw):
    transport = fakes.make_fake_weaviate_transport(str(tmp_path / "weaviate_state"))
    return WeaviateVectorStore(
        spark, "http://weaviate.local:8080", transport=transport, prefix="t", **kw
    )


POINT_STORES = {
    "qdrant": _rest_store,
    "pinecone": _pinecone_store,
    "milvus": _milvus_store,
    "weaviate": _weaviate_store,
}


def test_rest_collection_naming(spark, tmp_path):
    from unstract_spark.sinks.vector_db import collection_name

    assert collection_name("mydb", 384) == "mydb_384"
    assert collection_name(None, 64) == "unstract_vector_db_64"
    assert _rest_store(spark, tmp_path).collection == "t_64"
    assert _milvus_store(spark, tmp_path).collection == "t_64"
    assert _weaviate_store(spark, tmp_path).cls == "T_64"  # class names start uppercase


def _check_upsert_probe_and_roundtrip(store, chunk_rows):
    assert store.upsert(chunk_rows) == 7
    assert store.upsert(chunk_rows) == 0  # probe-before-write idempotency
    back = store.read_chunks()
    assert back.count() == 7
    row = back.filter(
        (F.col("doc_id") == "docA") & (F.col("chunk_no") == 2)
    ).collect()[0]
    orig = chunk_rows.filter(
        (F.col("doc_id") == "docA") & (F.col("chunk_no") == 2)
    ).collect()[0]
    assert row.chunk_text == orig.chunk_text
    assert [round(x, 5) for x in row.embedding] == [
        round(x, 5) for x in orig.embedding
    ]
    assert {r.doc_id for r in store.existing_doc_ids().collect()} == {"docA", "docB"}


def _check_reindex_replaces(store, chunk_rows):
    store.upsert(chunk_rows)
    reduced = chunk_rows.filter(F.col("doc_id") == "docA").limit(2)
    store.upsert(reduced, reindex=True)
    counts = {
        r.doc_id: r.n
        for r in store.read_chunks()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"docA": 2, "docB": 3}  # delete-then-add for docA only


def test_rest_vector_store_upsert_probe_and_roundtrip(spark, tmp_path, chunk_rows):
    _check_upsert_probe_and_roundtrip(_rest_store(spark, tmp_path), chunk_rows)


def test_rest_vector_store_reindex_replaces(spark, tmp_path, chunk_rows):
    _check_reindex_replaces(_rest_store(spark, tmp_path), chunk_rows)


@pytest.mark.parametrize("kind", ["pinecone", "milvus", "weaviate"])
def test_point_store_roundtrip_probe_and_reindex(spark, tmp_path, chunk_rows, kind):
    store = POINT_STORES[kind](spark, tmp_path)
    _check_upsert_probe_and_roundtrip(store, chunk_rows)
    _check_reindex_replaces(store, chunk_rows)


@pytest.mark.parametrize("kind", ["jdbc", *POINT_STORES])
def test_upsert_refuses_unsafe_doc_id(spark, tmp_path, chunk_rows, kind):
    """Both upsert paths check every incoming doc_id, so no store writes
    a document that its delete and query paths would refuse."""
    store = {"jdbc": _derby_store, **POINT_STORES}[kind](spark, tmp_path)
    bad = chunk_rows.withColumn("doc_id", F.lit("bad id"))
    for reindex in (False, True):
        with pytest.raises(ValueError, match="unsafe doc_id"):
            store.upsert(bad, reindex=reindex)
    assert store.read_chunks().count() == 0


def test_rest_search_request_shape(spark, tmp_path):
    store = _rest_store(spark, tmp_path)
    path, body = store.search_topk_request("a" * 64, [0.5, -1.0], k=3)
    assert path == "collections/t_64/points/search"
    assert body["limit"] == 3
    assert body["filter"]["must"][0] == {
        "key": "doc_id",
        "match": {"value": "a" * 64},
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsafe doc_id"):
        store.search_topk_request("bad id", [0.1])


def test_backend_registry(spark, tmp_path):
    from unstract_spark.sinks import vector_db as V

    assert set(V.list_backends()) >= {"jdbc", "rest", "parquet"}
    store = V.make_vector_store("parquet", spark, path=str(tmp_path / "idx"))
    assert isinstance(store, V.VectorStoreBackend) or hasattr(store, "query_topk")
    with pytest.raises(KeyError, match="Available:"):
        V.make_vector_store("milvusx", spark)
    with pytest.raises(ValueError, match="already registered"):
        V.register_backend("rest")(V.RestVectorStore)


def test_pinecone_query_request_shape(spark, tmp_path):
    store = _pinecone_store(spark, tmp_path, namespace="ns1")
    path, body = store.search_topk_request("a" * 64, [0.5], k=4)
    assert path == "query"
    assert body["topK"] == 4 and body["namespace"] == "ns1"
    assert body["filter"] == {"doc_id": {"$eq": "a" * 64}}
    with pytest.raises(ValueError, match="unsafe doc_id"):
        store.search_topk_request("bad id", [0.1])


def test_rest_store_concurrent_writers_no_duplicates(spark, tmp_path, chunk_rows):
    """Point stores are natively multi-writer safe: deterministic
    `doc:chunk` ids make concurrent upserts of the same content
    last-write-wins instead of duplicating (the manifest commit's
    analog for external stores)."""
    import threading

    transport = fakes.make_fake_qdrant_transport(str(tmp_path / "qshared"))
    mk = lambda: RestVectorStore(  # noqa: E731
        spark, "http://vectors.local:6333", transport=transport, prefix="t", dim=64
    )
    pinned = chunk_rows.localCheckpoint(eager=True)

    errs = []

    def writer():
        try:
            # reindex=True skips the probe: both writers race the raw write
            mk().upsert(pinned, reindex=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    back = mk().read_chunks()
    assert back.count() == 7  # no duplicate points despite racing writers
    assert back.select("doc_id", "chunk_no").distinct().count() == 7


@pytest.mark.parametrize("kind", ["qdrant", "weaviate"])
def test_point_ids_are_uuids(spark, tmp_path, chunk_rows, kind):
    """Live Qdrant accepts only unsigned-int or UUID point ids and
    Weaviate requires UUID object ids: every stored id must parse as a
    UUID and be the deterministic uuid5 of `doc:chunk`, so the same
    chunk keeps its id on re-upsert (idempotent writes)."""
    POINT_STORES[kind](spark, tmp_path).upsert(chunk_rows)
    ids = set(fakes.BatchFiles(str(tmp_path / f"{kind}_state")).merged())
    assert len(ids) == 7
    for pid in ids:
        uuid.UUID(pid)  # raises if not a real UUID
    assert str(uuid.uuid5(uuid.NAMESPACE_URL, "docA:2")) in ids


def test_milvus_filter_injection_guard(spark, tmp_path):
    store = _milvus_store(spark, tmp_path)
    with pytest.raises(ValueError, match="unsafe doc_id"):
        store.delete_docs(['x" || doc_id != "'])
    path, body = store.search_topk_request("a" * 64, [0.25], k=2)
    assert path == "v2/vectordb/entities/search"
    assert body["filter"] == f'doc_id == "{"a" * 64}"'
    assert body["limit"] == 2


def test_weaviate_near_vector_request_shape(spark, tmp_path):
    store = _weaviate_store(spark, tmp_path)
    path, body = store.search_topk_request("a" * 64, [0.5, -1.0], k=3)
    assert path == "v1/graphql"
    q = body["query"]
    assert "nearVector" in q and "limit: 3" in q
    assert f'valueText: "{"a" * 64}"' in q
    with pytest.raises(ValueError, match="unsafe doc_id"):
        store.search_topk_request("bad id", [0.1])


def test_six_backends_agree_on_topk(spark, tmp_path, chunk_rows):
    """Every registered VectorStoreBackend — parquet, pgvector-JDBC,
    qdrant-REST, pinecone, milvus, weaviate — returns identical
    doc-scoped top-k rows (the reference's full adapter matrix)."""
    from unstract_spark.mock import mock_embed_texts
    from unstract_spark.sinks import vector_db as V

    assert set(V.list_backends()) == {
        "jdbc", "rest", "pinecone", "milvus", "weaviate", "parquet",
    }
    stores = [
        VectorIndexStore(spark, str(tmp_path / "idx")),
        _derby_store(spark, tmp_path),
        _rest_store(spark, tmp_path),
        _pinecone_store(spark, tmp_path),
        _milvus_store(spark, tmp_path),
        _weaviate_store(spark, tmp_path),
    ]
    qv = mock_embed_texts(["chunk text 2 about spark engines"])[0].tolist()
    results = []
    for store in stores:
        store.upsert(chunk_rows)
        results.append(
            [tuple(r) for r in store.query_topk("docA", qv, k=3).collect()]
        )
    assert all(r == results[0] for r in results[1:])
    assert results[0][0][1] == 2


def test_vector_index_upsert_priced_by_stats(spark, tmp_path):
    """The index's idempotence-probe anti-join consults a configured
    stats store: after an analyzed commit, the persisted-id side is
    broadcast-hinted iff the stats plan says so, and the upsert
    semantics (skip existing doc_ids) are byte-identical either way."""
    from unstract_spark.operators.index_store import VectorIndexStore
    from unstract_spark.operators.stats_store import TableStatsStore

    def chunks(ids):
        return spark.createDataFrame(
            [(d, f"h-{d}", 0, f"text {d}", [1.0, 0.0]) for d in ids],
            "doc_id string, file_hash string, chunk_no int,"
            " chunk_text string, embedding array<float>",
        )

    store = VectorIndexStore(
        spark, str(tmp_path / "vidx"),
        stats=TableStatsStore(spark, str(tmp_path / "stats")),
    )
    assert store.upsert(chunks(["a", "b"])) == 2  # analyze runs here
    assert store.stats.has_stats("vector_index", "doc_id")

    # second upsert: the probe join is stats-priced; existing ids skip
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert store.upsert(chunks(["b", "c"])) == 1  # only c is new
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got = {r.doc_id for r in store.read_chunks().collect()}
    assert got == {"a", "b", "c"}

    # plain store, same inputs -> same final index
    plain = VectorIndexStore(spark, str(tmp_path / "vidx2"))
    plain.upsert(chunks(["a", "b"]))
    plain.upsert(chunks(["b", "c"]))
    assert {r.doc_id for r in plain.read_chunks().collect()} == got
