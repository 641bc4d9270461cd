"""Seeded input generator for the benchmark workloads.

Every table is written in the engine's ``sf_dir`` layout (one
``<table>.parquet`` per table, the same column names and Arrow types as
the synthetic star schema the registry queries read), so registry
queries run unchanged on the generated directory. The same
(workload, seed) always yields byte-identical files; ``content_hash``
fingerprints them and is stamped into every benchmark result.

Generated inputs are cached per (workload, seed, generator parameters)
under the cache root (see ``inputs_for``): repeated runs with one seed
skip generation. The least recently used sets beyond CACHE_KEEP are
deleted.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# Per-workload table sizes. Read side (alignments = lineitem, reads =
# events) is large relative to the annotation side (part) on the
# genomics mix; the corpus mix is text/vector heavy with a small
# basket graph; the ingest mix holds a base alignment table plus a
# sequence of increments handed over one at a time.
SIZES = {
    "genomics_batch": dict(
        lineitem=120_000, orders=30_000, part=2_000, events=60_000,
        users=1_000, documents=0, embeddings=0,
    ),
    "corpus_curation": dict(
        lineitem=40_000, orders=10_000, part=2_000, events=0,
        users=0, documents=2_500, embeddings=1_500,
    ),
    "ingest_stream": dict(
        lineitem=50_000, orders=12_500, part=2_000, events=0,
        users=0, documents=0, embeddings=0,
    ),
}
NEAR_DUP_SHARE = 0.05  # corpus_curation: lightly edited copies, no exact copies
INGEST_BATCHES = 48  # increments generated per seed (a run drains what fits)
INGEST_DOCS = 250  # documents per increment
INGEST_ALIGN = 4_000  # alignment rows per increment
INGEST_RESEND = 0.40  # share of an increment re-sending earlier content
CACHE_KEEP = 12  # cached input sets kept (generation takes about a second)

_VOCAB = (
    "a batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window agg the index shard read write gene peak align "
    "mate bin chunk cell"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["O", "F"])
_ORDER_STATUS = np.array(["F", "O", "P"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _lineitem_cols(rng, n: int, n_orders: int, n_parts: int, key0: int = 0) -> dict:
    return {
        "l_orderkey": pa.array(key0 + rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(_STATUS[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2_500, n) * _DAY_US),
    }


def _orders_cols(rng, n: int) -> dict:
    return {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n), pa.int64()),
        "o_orderstatus": pa.array(_ORDER_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng, 1_000.0, 500_000.0, n)),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2_400, n) * _DAY_US),
        "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n)]),
    }


def _part_cols(rng, n: int) -> dict:
    keys = np.arange(n)
    words = np.array(_VOCAB)
    return {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(words[rng.integers(0, len(words), n)],
                                        words[rng.integers(0, len(words), n)])]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(
            np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"])[
                rng.integers(0, 5, n)
            ]
        ),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1_000) / 10.0),
    }


def _events_cols(rng, n: int, n_users: int) -> dict:
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _text(rng) -> str:
    n = int(rng.integers(10, 90))
    return " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n))


def _edit(rng, text: str) -> str:
    """A light edit: one or two words replaced (a near-duplicate)."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
    return " ".join(words)


def _documents_cols(rng, texts: list[str], id0: int = 0) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _corpus_texts(rng, n: int, near_dup_share: float) -> list[str]:
    texts = [_text(rng) for _ in range(n)]
    for i in rng.choice(n, int(n * near_dup_share), replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = _edit(rng, texts[src])
    return texts


def _embeddings_cols(rng, n: int, dim: int = 64, n_labels: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    }


def _ingest_batches(rng, out_dir: str, size: dict) -> None:
    """Increments for the closed-loop ingest: batch i holds INGEST_DOCS
    documents and INGEST_ALIGN alignment rows; INGEST_RESEND of each
    re-sends earlier content (documents: half exact copies, half light
    edits of an earlier text; alignments: exact copies of earlier
    rows). Document ids are unique across batches."""
    history: list[str] = []
    base = pq.read_table(os.path.join(out_dir, "lineitem.parquet"))
    prior = [base]
    for b in range(INGEST_BATCHES):
        texts = []
        for _ in range(INGEST_DOCS):
            if history and rng.random() < INGEST_RESEND:
                src = history[int(rng.integers(0, len(history)))]
                texts.append(src if rng.random() < 0.5 else _edit(rng, src))
            else:
                texts.append(_text(rng))
        history.extend(texts)
        n_resend = int(INGEST_ALIGN * INGEST_RESEND)
        fresh = pa.table(_lineitem_cols(
            rng, INGEST_ALIGN - n_resend, size["orders"], size["part"],
            key0=size["orders"] * (b + 1),
        ))
        pool = pa.concat_tables(prior)
        resent = pool.take(pa.array(rng.integers(0, pool.num_rows, n_resend)))
        align = pa.concat_tables([fresh, resent])
        prior.append(fresh)
        bdir = os.path.join(out_dir, "batches", f"{b:03d}")
        os.makedirs(bdir)
        _write(bdir, "documents", _documents_cols(rng, texts, id0=b * INGEST_DOCS))
        pq.write_table(align, os.path.join(bdir, "lineitem.parquet"))


def generate(workload: str, seed: int, out_dir: str) -> None:
    """Write every table of ``workload`` for ``seed`` into ``out_dir``."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(SIZES).index(workload)])
    os.makedirs(out_dir)
    _write(out_dir, "lineitem", _lineitem_cols(rng, size["lineitem"], size["orders"], size["part"]))
    _write(out_dir, "orders", _orders_cols(rng, size["orders"]))
    _write(out_dir, "part", _part_cols(rng, size["part"]))
    if size["events"]:
        _write(out_dir, "events", _events_cols(rng, size["events"], size["users"]))
    if size["documents"]:
        texts = _corpus_texts(rng, size["documents"], NEAR_DUP_SHARE)
        _write(out_dir, "documents", _documents_cols(rng, texts))
    if size["embeddings"]:
        _write(out_dir, "embeddings", _embeddings_cols(rng, size["embeddings"]))
    if workload == "ingest_stream":
        _ingest_batches(rng, out_dir, size)


def content_hash(root: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            if f == "MANIFEST.json":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def inputs_for(workload: str, seed: int, cache_root: str) -> tuple[str, str]:
    """(sf_dir, content hash) for ``workload``/``seed``, generating
    into ``cache_root`` on first use. A directory only counts as
    cached once its manifest is written, so an interrupted generation
    is redone rather than reused."""
    params = json.dumps([GEN_VERSION, SIZES[workload], NEAR_DUP_SHARE, INGEST_BATCHES,
                         INGEST_DOCS, INGEST_ALIGN, INGEST_RESEND])
    tag = hashlib.sha256(params.encode()).hexdigest()[:8]
    out = os.path.join(cache_root, f"{workload}-{tag}-s{seed}")
    manifest = os.path.join(out, "MANIFEST.json")
    if os.path.exists(manifest):
        os.utime(manifest)
        with open(manifest) as f:
            return out, json.load(f)["content_hash"]
    if os.path.exists(out):
        shutil.rmtree(out)
    generate(workload, seed, out)
    digest = content_hash(out)
    with open(manifest, "w") as f:
        json.dump({"workload": workload, "seed": seed, "content_hash": digest}, f)
    _prune(cache_root)
    return out, digest


def _prune(cache_root: str) -> None:
    """Keep the CACHE_KEEP most recently used input sets."""
    used = []
    for d in os.listdir(cache_root):
        m = os.path.join(cache_root, d, "MANIFEST.json")
        used.append((os.path.getmtime(m) if os.path.exists(m) else 0.0, d))
    for _, d in sorted(used, reverse=True)[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)
