"""Seeded input generation for the three workloads.

Everything here is a pure function of the seed: the same seed gives the
same inbox files, table rows and streaming drops. The program under test
only ever sees the files written here.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- inbox_etl -----------------------------------------------------------

PROMPT_SPECS = [
    {"prompt_key": "invoice_no", "prompt": "id", "enforce_type": "text"},
    {"prompt_key": "total", "prompt": "total of {{invoice_no}}", "enforce_type": "number"},
    {"prompt_key": "vendor", "prompt": "vendor", "enforce_type": "text"},
]

_WORDS = (
    "invoice total vendor amount due paid net tax order line item part "
    "customer shipping payment account balance credit debit ledger"
).split()


@dataclass(frozen=True)
class InboxFile:
    name: str
    content: bytes
    text: str | None  # what a correct extractor returns; None = ERROR row


def _pdf(lines: list[str]) -> bytes:
    """One-page PDF with one text line per `Tj`, Helvetica, no filters."""
    stream = "BT /F1 12 Tf 72 720 Td 14 TL " + " ".join(
        f"({ln}) Tj T*" for ln in lines
    ) + " ET"
    objs = [
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R"
        " /Resources << /Font << /F1 5 0 R >> >> >>",
        f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = b"%PDF-1.4\n"
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n{body}\nendobj\n".encode()
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    out += b"".join(f"{o:010d} 00000 n \n".encode() for o in offsets)
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n"
    ).encode()
    return out


def inbox_file(seed: int, seq: int) -> InboxFile:
    """File number `seq` of the inbox: about 80 % .txt, 10 % .json,
    7 % .csv, 3 % invalid-UTF-8 .txt, and one .pdf in every 100."""
    rng = random.Random(seed * 1_000_003 + seq)
    lines = [
        f"Invoice {seq} " + " ".join(rng.choices(_WORDS, k=rng.randint(6, 14)))
        for _ in range(rng.randint(3, 8))
    ]
    stem = f"f{seq:07d}"
    if seq % 100 == 37:
        return InboxFile(stem + ".pdf", _pdf(lines), "\n".join(lines))
    u = rng.random()
    if u < 0.03:
        bad = "\n".join(lines).encode() + b"\xff\xfe\xc3\x28" + bytes([rng.randrange(128, 256)])
        return InboxFile(stem + ".txt", bad, None)
    if u < 0.13:
        doc = {"id": f"INV-{seq}", "lines": lines, "meta": {"vendor": f"V{seq % 17}"}}
        text = "\n".join([doc["id"], *lines, doc["meta"]["vendor"]])
        return InboxFile(stem + ".json", json.dumps(doc).encode(), text)
    if u < 0.20:
        rows = [ln.split(" ") for ln in lines]
        body = "\n".join(",".join(r) for r in rows) + "\n"
        return InboxFile(stem + ".csv", body.encode(), "\n".join(" ".join(r) for r in rows))
    text = "\n".join(lines)
    return InboxFile(stem + ".txt", text.encode(), text)


def write_inbox_files(root: str, seed: int, seqs) -> list[InboxFile]:
    files = [inbox_file(seed, s) for s in seqs]
    for f in files:
        with open(os.path.join(root, f.name), "wb") as fh:
            fh.write(f.content)
    return files


def remove_inbox_files(root: str, files: list[InboxFile]) -> None:
    for f in files:
        os.remove(os.path.join(root, f.name))


_NUM = re.compile(r"(-?\d+(?:\.\d+)?)")


def mock_fields(text: str) -> dict:
    """The typed field values `run_extraction` must produce for a
    document whose extracted text is `text`: the repo's deterministic
    mock LLM (unstract_spark.mock) recomputed in plain Python, then
    NA -> null and the per-type coercion."""
    fp = hashlib.md5(text.encode()).hexdigest()
    out = {}
    for spec in PROMPT_SPECS:
        key = spec["prompt_key"]
        h = hashlib.md5(f"{key}:{fp}".encode()).hexdigest()
        raw = None if h.startswith("0") else f"ans-{h[:12]}"
        if raw is not None and spec["enforce_type"] == "number":
            m = _NUM.search(raw)
            raw = float(m.group(1)) if m else None
        out[key] = raw
    return out


# --- corpus tables ---------------------------------------------------------

_DOC_VOCAB = (
    "a the data row column table query scan filter join group agg sort hash "
    "merge window stream batch spark key value part line order customer "
    "vector fast slow big small"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
_EVENT_P = [0.45, 0.3, 0.12, 0.05, 0.08]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path,
        coerce_timestamps="us",
    )


def documents(seed: int, n: int) -> pd.DataFrame:
    """Short word-salad documents; one in eight is a light edit of an
    earlier one, so the near-duplicate queries find real pairs."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            src = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(src)))
            src[j] = _DOC_VOCAB[int(rng.integers(0, len(_DOC_VOCAB)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 80))
            texts.append(" ".join(_DOC_VOCAB[j] for j in rng.integers(0, len(_DOC_VOCAB), k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_corpus(root: str, seed: int, scale: float) -> None:
    """The tables the corpus_queries mix reads,
    in the registry's parquet layout. `scale` 1.0 is 5000 documents,
    2000 embeddings and 600k lineitem rows."""
    rng = np.random.default_rng(seed + 7)
    os.makedirs(root, exist_ok=True)
    n_doc, n_vec = int(5000 * scale), int(2000 * scale)
    n_cust, n_ord, n_li = int(15000 * scale), int(150000 * scale), int(600000 * scale)
    _write(documents(seed, n_doc), f"{root}/documents.parquet")

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] * 0.15 + rng.normal(0, 0.1, (n_vec, 64))).astype(np.float32)
    _write(
        pd.DataFrame({
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }),
        f"{root}/embeddings.parquet",
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
    )
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
           f"{root}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{root}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"], n_cust),
    }), f"{root}/customer.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(800, 500000, n_ord), 2),
        "o_orderdate": pd.Timestamp("1992-01-01") + pd.to_timedelta(rng.integers(0, 2400, n_ord), "D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{root}/orders.parquet")
    write_lineitem(root, seed, n_li, n_ord, int(20000 * scale), int(1000 * scale))


def write_lineitem(root: str, seed: int, n_li: int, n_ord: int, n_part: int, n_supp: int) -> None:
    """The TPC-H-shaped fact table: the q5 join's big side and the host
    calibration's scan."""
    rng = np.random.default_rng(seed + 19)
    os.makedirs(root, exist_ok=True)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(1, n_ord + 1, n_li).astype(np.int64),
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pd.Timestamp("1992-01-02") + pd.to_timedelta(rng.integers(0, 2500, n_li), "D"),
    }), f"{root}/lineitem.parquet")


# --- streaming drops ------------------------------------------------------

def doc_drop(seed: int, i: int, n: int) -> pd.DataFrame:
    """Drop `i` of the `documents` stream: n (doc_id, text) rows with
    ids disjoint from every other drop's."""
    docs = documents(seed * 7919 + i, n)[["doc_id", "text"]]
    docs["doc_id"] += i * n
    return docs


def event_drop(seed: int, i: int, n: int, n_users: int) -> pd.DataFrame:
    """Drop `i` of the `events` stream: n events inside the i-th time
    slice, so every user's events arrive in (ts, event_id) order
    across drops."""
    rng = np.random.default_rng(seed * 7907 + i)
    slice_s = 3600
    ts = np.sort(rng.integers(0, slice_s * 1_000_000, n)) + (i * slice_s + 1_700_000_000) * 1_000_000
    return pd.DataFrame({
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "ts": pd.to_datetime(ts, unit="us", utc=True),
        "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n, p=_EVENT_P),
    })


def write_drop(df: pd.DataFrame, src_dir: str, i: int, schema: pa.Schema) -> None:
    """Land drop `i` atomically: written under a dot-name, which Spark's
    file stream source skips, then renamed into view."""
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, f".drop-{i:05d}.parquet")
    _write(df, tmp, schema)
    os.rename(tmp, os.path.join(src_dir, f"drop-{i:05d}.parquet"))


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
EVENT_SCHEMA = pa.schema([("user_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                          ("event_id", pa.int64()), ("event_type", pa.string())])
