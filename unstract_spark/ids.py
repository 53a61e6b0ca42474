"""Deterministic identity helpers.

The reference keys its idempotency on deterministic hashes:
- doc_id = sha256 over (file_hash + instance-id-less adapter configs +
  chunk params)  (reference: unstract/sdk1/src/unstract/sdk1/index.py:460-516)
- file cache_key = sha256 of content (reference: endpoint_v2/source.py:938-954)

We express the same keys as Column expressions so they are computed
JVM-side inside codegen, never in Python.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def doc_id(
    file_hash: Column,
    *,
    embedding_config: str = "mock-embedding",
    x2text_config: str = "mock-x2text",
    chunk_size: int = 512,
    chunk_overlap: int = 128,
) -> Column:
    """Deterministic index-document id.

    Mirrors `generate_index_key`: sha256 over the sorted json of
    {file_hash, embedding, x2text, chunk_size, chunk_overlap}
    (reference: sdk1/index.py:460-516). Same inputs -> same id, which is
    what makes index upserts idempotent under task retry.
    """
    cfg = json.dumps(
        {
            "embedding": embedding_config,
            "x2text": x2text_config,
            "chunk_size": chunk_size,
            "chunk_overlap": chunk_overlap,
        },
        sort_keys=True,
    )
    return F.sha2(F.concat_ws("|", file_hash, F.lit(cfg)), 256)
