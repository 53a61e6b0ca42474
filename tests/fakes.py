"""Test doubles for the external services the engine talks to: the four
point-store vector databases, the OCR / LLMWhisperer / Unstructured /
LlamaParse extraction services, and an object-store commit log.

Transports passed to a Spark job run inside Python workers, which
import this module (as `tests.fakes`) from their working directory, the
same way they import `unstract_spark`: run the tests from the
repository root.
"""

from __future__ import annotations

import base64
import contextlib
import hashlib
import json
import os
import re
import threading
import uuid

from unstract_spark.sinks.manifest import CommitBackend

# -- vector stores ---------------------------------------------------------


class BatchFiles:
    """Records (dicts with an "id") kept as atomically renamed JSON
    batch files in one directory. Every write lands as one file, so
    posts from many Spark worker processes compose without locks —
    which is what lets the distributed mapInPandas upsert run for real
    (an in-memory dict would vanish across the executor process
    boundary). Reads merge all batches, one record per id.

    `delete` approximates a service's atomic delete-by-filter: it lands
    the merged survivors as a new batch first, then unlinks only the
    files listed before, skipping any a racing delete already removed.
    Readers never see an empty store, and a file unlinked between a
    reader's listdir and its open is skipped the same way."""

    def __init__(self, state_dir: str):
        os.makedirs(state_dir, exist_ok=True)
        self.dir = state_dir

    def merged(self) -> dict[str, dict]:
        records: dict[str, dict] = {}
        for name in sorted(os.listdir(self.dir)):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.dir, name)) as fh:
                    batch = json.load(fh)
            except FileNotFoundError:
                continue
            for r in batch:
                records[str(r["id"])] = r
        return records

    def write(self, records: list[dict]) -> None:
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(records, fh)
        os.replace(tmp, os.path.join(self.dir, f"batch-{uuid.uuid4().hex}.json"))

    def delete(self, drop) -> None:
        old = [n for n in os.listdir(self.dir) if n.endswith(".json")]
        self.write([r for r in self.merged().values() if not drop(r)])
        for name in old:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.dir, name))


def _page(hits: list, offset, limit) -> tuple[list, int | None]:
    """One offset/limit page of `hits` and the next offset (None at the
    end)."""
    start, limit = int(offset or 0), int(limit or 1024)
    nxt = start + limit if start + limit < len(hits) else None
    return hits[start : start + limit], nxt


def make_fake_qdrant_transport(state_dir: str):
    """Qdrant REST stand-in: points upsert, filtered scroll with offset
    paging, delete-by-filter; ensure-collection is a no-op."""
    store = BatchFiles(state_dir)

    def matches(p: dict, flt: dict | None) -> bool:
        return all(
            p["payload"].get(c["key"]) == c["match"]["value"]
            for c in (flt or {}).get("must", [])
        )

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/points"):
            store.write(payload["points"])
            return {"result": {"status": "acknowledged"}}
        if url.endswith("/points/scroll"):
            flt = payload.get("filter")
            hits = sorted(
                (p for p in store.merged().values() if matches(p, flt)),
                key=lambda p: str(p["id"]),
            )
            page, nxt = _page(hits, payload.get("offset"), payload.get("limit"))
            return {"result": {"points": page, "next_page_offset": nxt}}
        if url.endswith("/points/delete"):
            store.delete(lambda p: matches(p, payload.get("filter")))
            return {"result": {"status": "acknowledged"}}
        if "/collections/" in url:
            return {"result": True}
        raise ValueError(f"unexpected qdrant endpoint: {url}")

    return transport


def make_fake_pinecone_transport(state_dir: str):
    """Pinecone data-plane stand-in: vectors upsert, prefix listing with
    token paging, fetch by id, delete by metadata filter."""
    store = BatchFiles(state_dir)

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/vectors/upsert"):
            store.write(payload["vectors"])
            return {"upsertedCount": len(payload["vectors"])}
        if url.endswith("/vectors/list"):
            prefix = payload.get("prefix") or ""
            hits = sorted(i for i in store.merged() if i.startswith(prefix))
            page, nxt = _page(
                hits, payload.get("paginationToken"), payload.get("limit") or 100
            )
            out = {"vectors": [{"id": i} for i in page]}
            if nxt is not None:
                out["pagination"] = {"next": str(nxt)}
            return out
        if url.endswith("/vectors/fetch"):
            merged = store.merged()
            ids = payload.get("ids") or []
            return {"vectors": {i: merged[i] for i in ids if i in merged}}
        if url.endswith("/vectors/delete"):
            want = ((payload.get("filter") or {}).get("doc_id") or {}).get("$eq")
            store.delete(lambda v: v["metadata"].get("doc_id") == want)
            return {}
        raise ValueError(f"unexpected pinecone endpoint: {url}")

    return transport


def make_fake_milvus_transport(state_dir: str):
    """Milvus v2 REST stand-in: entities upsert, query and delete with
    `doc_id == "..."` filter expressions (any other expression raises)."""
    store = BatchFiles(state_dir)

    def filter_doc(flt: str) -> str | None:
        if not flt:
            return None
        m = re.fullmatch(r'doc_id == "([^"]*)"', flt)
        if not m:
            raise ValueError(f"fake milvus only supports doc_id filters: {flt}")
        return m.group(1)

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/collections/create"):
            return {"code": 0}
        if url.endswith("/entities/upsert"):
            store.write(payload["data"])
            return {"code": 0, "data": {"upsertCount": len(payload["data"])}}
        if url.endswith("/entities/query"):
            want = filter_doc(payload.get("filter") or "")
            rows = sorted(
                (
                    r
                    for r in store.merged().values()
                    if want is None or r.get("doc_id") == want
                ),
                key=lambda r: str(r["id"]),
            )
            page, _ = _page(rows, payload.get("offset"), payload.get("limit"))
            return {"code": 0, "data": page}
        if url.endswith("/entities/delete"):
            want = filter_doc(payload["filter"])
            store.delete(lambda r: r.get("doc_id") == want)
            return {"code": 0}
        raise ValueError(f"unexpected milvus endpoint: {url}")

    return transport


def make_fake_weaviate_transport(state_dir: str):
    """Weaviate stand-in: batch/objects, batch/delete and a small
    GraphQL Get interpreter (enough grammar for the queries the backend
    emits — class, limit/offset, where doc_id Equal,
    _additional.vector)."""
    store = BatchFiles(state_dir)

    def run_graphql(query: str) -> dict:
        m = re.search(r"Get \{ (\w+)\(([^)]*)\)", query)
        if not m:
            raise ValueError(f"fake weaviate can't parse: {query}")
        cls, args = m.group(1), m.group(2)
        lim = re.search(r"limit: (\d+)", args)
        off = re.search(r"offset: (\d+)", args)
        want = re.search(r'valueText: "([^"]*)"', args)
        objs = sorted(
            (
                o
                for o in store.merged().values()
                if o["class"] == cls
                and (want is None or o["properties"]["doc_id"] == want.group(1))
            ),
            key=lambda o: str(o["id"]),
        )
        page, _ = _page(objs, off and off.group(1), lim and lim.group(1))
        return {
            "data": {
                "Get": {
                    cls: [
                        {**o["properties"], "_additional": {"vector": o["vector"]}}
                        for o in page
                    ]
                }
            }
        }

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/v1/schema"):
            return {"class": payload["class"]}
        if url.endswith("/v1/batch/objects"):
            store.write(payload["objects"])
            return {"results": [{"status": "SUCCESS"}] * len(payload["objects"])}
        if url.endswith("/v1/graphql"):
            return run_graphql(payload["query"])
        if url.endswith("/v1/batch/delete"):
            match = payload["match"]
            want = match["where"]["valueText"]
            store.delete(
                lambda o: o["class"] == match["class"]
                and o["properties"]["doc_id"] == want
            )
            return {"results": {"successful": 1}}
        raise ValueError(f"unexpected weaviate endpoint: {url}")

    return transport


# -- extraction services ---------------------------------------------------


def fake_ocr_transport(url: str, payload: dict, headers: dict) -> dict:
    """Deterministic OCR stand-in: 'recognized' text is a pure function
    of the image bytes (the Spark-side plumbing — dispatch, batching,
    error rows — is the same as against the real service)."""
    content = base64.b64decode(payload["rawDocument"]["content"])
    if not content:
        raise ValueError("empty image payload")
    sha = hashlib.sha256(content).hexdigest()
    n_pages = max(1, len(content) // 1024)
    return {
        "document": {
            "text": f"ocr:{sha[:12]}:{len(content)}b",
            "pages": [{"pageNumber": i + 1} for i in range(n_pages)],
        }
    }


def make_fake_whisperer_transport(polls_until_processed: int = 2):
    """Whisperer service stand-in: deterministic text from the document
    bytes, async accept + N status polls before `processed` (exercises
    the full submit/poll/retrieve path without a network). Returns
    (transport, state) — state records call counts so tests can assert
    the polling discipline."""
    state = {"submits": 0, "polls": 0, "retrieves": 0, "docs": {}}

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/whisper"):
            state["submits"] += 1
            content = base64.b64decode(payload["content_b64"])
            wh = hashlib.sha256(content).hexdigest()[:16]
            sep = payload.get("page_seperator", "<<<")
            n_pages = max(1, len(content) // 512)
            text = sep.join(
                f"whisper:{wh}:page{i + 1}" for i in range(n_pages)
            )
            state["docs"][wh] = {"polls_left": polls_until_processed, "text": text}
            return {"status_code": 202, "whisper_hash": wh, "status": "processing"}
        if url.endswith("/whisper-status"):
            state["polls"] += 1
            doc = state["docs"][payload["whisper_hash"]]
            if doc["polls_left"] > 0:
                doc["polls_left"] -= 1
                return {"status": "processing"}
            return {"status": "processed"}
        if url.endswith("/whisper-retrieve"):
            state["retrieves"] += 1
            doc = state["docs"][payload["whisper_hash"]]
            return {"result_text": doc["text"]}
        raise ValueError(f"unexpected whisperer endpoint: {url}")

    return transport, state


def make_fake_llamaparse_transport(polls_until_done: int = 2):
    """LlamaParse stand-in: upload -> PENDING polls -> SUCCESS ->
    deterministic text from the bytes. Returns (transport, state) with
    call accounting, like the whisperer fake."""
    state = {"uploads": 0, "polls": 0, "results": 0, "jobs": {}}

    def transport(url: str, payload: dict, headers: dict) -> dict:
        if url.endswith("/parsing/upload"):
            state["uploads"] += 1
            content = base64.b64decode(payload["content_b64"])
            jid = hashlib.sha256(content).hexdigest()[:12]
            n_pages = max(1, len(content) // 800)
            state["jobs"][jid] = {
                "polls_left": polls_until_done,
                "text": f"llamaparse:{jid}:{len(content)}b",
                "pages": n_pages,
            }
            return {"id": jid, "status": "PENDING"}
        m = re.search(r"/parsing/job/([0-9a-f]+)$", url)
        if m:
            state["polls"] += 1
            job = state["jobs"][m.group(1)]
            if job["polls_left"] > 0:
                job["polls_left"] -= 1
                return {"status": "PENDING"}
            return {"status": "SUCCESS"}
        m = re.search(r"/parsing/job/([0-9a-f]+)/result/(\w+)$", url)
        if m:
            state["results"] += 1
            job = state["jobs"][m.group(1)]
            return {
                m.group(2): job["text"],
                "job_metadata": {"job_pages": job["pages"]},
            }
        raise ValueError(f"unexpected llamaparse endpoint: {url}")

    return transport, state


def make_fake_unstructured_transport():
    """Unstructured partition stand-in: splits the decoded bytes into
    deterministic paragraph elements (double-newline boundaries) with
    alternating Title/NarrativeText types and page_number metadata
    every 2 elements — enough structure to exercise the element-join
    and page-count paths. Returns (transport, state) with request
    accounting."""
    state = {"requests": 0, "auth_headers": []}

    def transport(url: str, payload: dict, headers: dict):
        if not url.endswith("/general/v0/general"):
            raise ValueError(f"unexpected unstructured endpoint: {url}")
        state["requests"] += 1
        state["auth_headers"].append(headers.get("unstructured-api-key"))
        content = base64.b64decode(payload["content_b64"])
        paras = [
            p.strip()
            for p in content.decode("utf-8", errors="replace").split("\n\n")
            if p.strip()
        ]
        if not paras:
            raise ValueError("nothing to partition")
        return [
            {
                "type": "Title" if i % 2 == 0 else "NarrativeText",
                "text": p,
                "metadata": {"page_number": i // 2 + 1},
            }
            for i, p in enumerate(paras)
        ]

    return transport, state


# -- commit log ------------------------------------------------------------


class FakeObjectStoreBackend(CommitBackend):
    """Object-store-shaped commit log: a flat key->bytes bucket whose
    conditional PUT rejects existing keys — the exact semantics of S3
    `If-None-Match: *` / GCS `ifGenerationMatch=0`. The internal lock
    models the atomicity the store's API guarantees (each PUT is one
    all-or-nothing request); there is NO rename, NO link, NO directory
    — proving the commit protocol needs nothing POSIX."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def list_manifests(self) -> list[str]:
        with self._lock:
            return list(self._objects)

    def read_manifest(self, name: str) -> bytes:
        with self._lock:
            return self._objects[name]

    def put_if_absent(self, name: str, payload: bytes) -> bool:
        with self._lock:
            if name in self._objects:
                return False
            self._objects[name] = payload
            return True
