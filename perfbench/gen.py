"""Seeded input generators for the three benchmark workloads.

Every generator takes the workload seed and returns plain Python/numpy
data; the ``write_*`` helpers store it as parquet for the program to read.
Nothing here imports Spark: the program under test only ever sees the
parquet files, and the oracles compare its output against the values
returned here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Cassandra-shaped export table, in SELECT order (the render order)
EXPORT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("pos", pa.int32()),
        ("body", pa.string()),
        ("mem", pa.string()),
        ("tags", pa.list_(pa.string())),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("score", pa.float64()),
        ("blob", pa.binary()),
    ]
)
EXPORT_KEYS = ("url", "pos")

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
# text with every character the XML escaper must handle, plus non-ASCII
# so the UTF-16 doc-key hash sees multi-byte code units
_SPECIALS = ["&", "<", ">", "a&b", "x<y>z", "&amp;", "café", "naïve", "日本"]
# strings the <mem> transform must fall back on: not bracketed, or
# bracketed but not valid JSON
_BAD_MEM = ["{\"a\": [1, 2]}", "[[1,2]", "[[1, 2],", "[not json & <x>]", "plain <mem> & text", "]["]
_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


def _words(rng: np.random.Generator, n_words: int, min_len: int = 3, max_len: int = 9) -> list[str]:
    lens = rng.integers(min_len, max_len + 1, size=n_words)
    return ["".join(rng.choice(_LETTERS, size=int(n))) for n in lens]


def export_rows(seed: int, n_rows: int) -> list[dict]:
    """``n_rows`` rows of the ``pages`` table with a unique (url, pos) key.

    Four rows share each url with distinct pos values (0 included, which
    drives the hash-base branch of the doc-id rule). Every nullable
    column is null in about 5 % of rows; half of the non-null ``mem``
    values are well-formed ``[[i,j],…]`` lists and half are not."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_words(rng, 2000) + _SPECIALS, dtype=object)
    hosts = _words(rng, 50, 4, 8)
    idx = np.arange(n_rows)
    url_word = vocab[rng.integers(0, len(vocab), n_rows)]
    pos = (idx % 4) * 25 + rng.integers(0, 25, n_rows)
    null = rng.random((n_rows, 6)) < 0.05
    body_words = np.split(vocab[rng.integers(0, len(vocab), 30 * n_rows)], np.arange(1, n_rows) * 30)
    body_len = rng.integers(5, 30, n_rows)
    mem_ok = rng.random(n_rows) < 0.5
    mem_bad = rng.integers(0, len(_BAD_MEM), n_rows)
    mem_shape = rng.integers(1, 4, (n_rows, 4))
    mem_arrays = rng.integers(1, 5, n_rows)
    mem_vals = rng.integers(-1000, 1000, (n_rows, 4, 3))
    tag_len = rng.integers(0, 5, n_rows)
    tag_words = vocab[rng.integers(0, len(vocab), (n_rows, 4))]
    tag_null = np.where(rng.random(n_rows) < 0.1, rng.integers(0, 4, n_rows), -1)
    ts_us = rng.integers(0, 5 * 365 * 86400 * 10**6, n_rows)
    # multiples of 1/8 below 1e4: exact in binary, and rendered the same
    # by Java's Double.toString and Python's repr
    score = rng.integers(-80000, 80000, n_rows) / 8
    blob_len = rng.integers(0, 17, n_rows)
    blob_bytes = rng.bytes(16 * n_rows)
    rows = []
    for i in range(n_rows):
        u = i // 4
        if null[i, 1]:
            mem = None
        elif mem_ok[i]:
            arrs = ("[" + ",".join(map(str, mem_vals[i, j, : mem_shape[i, j]])) + "]" for j in range(mem_arrays[i]))
            mem = "[" + ", ".join(arrs) + "]"
        else:
            mem = _BAD_MEM[mem_bad[i]]
        tags = None
        if not null[i, 2]:
            tags = list(tag_words[i, : tag_len[i]])
            if tag_null[i] >= 0 and tag_null[i] < len(tags):
                tags[tag_null[i]] = None
        rows.append(dict(
            url=f"https://{hosts[u % len(hosts)]}.example/{u}/{url_word[i]}",
            pos=int(pos[i]),
            body=None if null[i, 0] else " ".join(body_words[i][: body_len[i]]),
            mem=mem,
            tags=tags,
            ts=None if null[i, 3] else _EPOCH + dt.timedelta(microseconds=int(ts_us[i])),
            score=None if null[i, 4] else float(score[i]),
            blob=None if null[i, 5] else blob_bytes[16 * i : 16 * i + blob_len[i]],
        ))
    return rows


def write_export(rows: list[dict], data_dir: str) -> None:
    """Store the rows as ``<data_dir>/pages.parquet`` (one file, like the testdata)."""
    os.makedirs(data_dir, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=EXPORT_SCHEMA)
    pq.write_table(table, os.path.join(data_dir, "pages.parquet"))


def dedup_corpus(
    seed: int, n_families: int, n_singletons: int, edit_rate: float = 0.03
) -> tuple[list[int], list[str], dict[int, int]]:
    """A text corpus with planted near-duplicate families.

    Each family is a random base text of 60-120 words and 2-5 copies of
    it, each copy replacing ``edit_rate`` of the words at random
    (3-shingle Jaccard to the base about 0.8). Singletons are unrelated
    texts. Returns ``(doc_ids, texts, family)``, where ``family`` maps a
    doc id to its family number; singletons get a family of their own.
    Doc ids are shuffled so families are not contiguous."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_words(rng, 20000))
    texts, fams = [], []
    for f in range(n_families + n_singletons):
        base = rng.integers(0, len(vocab), size=int(rng.integers(60, 121)))
        copies = int(rng.integers(2, 6)) if f < n_families else 1
        for c in range(copies):
            toks = base.copy()
            if c:
                n_edit = max(1, round(edit_rate * len(toks)))
                toks[rng.choice(len(toks), size=n_edit, replace=False)] = rng.integers(0, len(vocab), size=n_edit)
            texts.append(" ".join(vocab[toks]))
            fams.append(f)
    ids = rng.permutation(len(texts)).astype(np.int64) * 7 + 1
    return ids.tolist(), texts, {int(i): f for i, f in zip(ids, fams)}


def write_dedup(doc_ids: list[int], texts: list[str], data_dir: str) -> None:
    """Store the corpus as ``<data_dir>/documents.parquet`` (doc_id, text)."""
    os.makedirs(data_dir, exist_ok=True)
    table = pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(data_dir, "documents.parquet"))


DIM = 64
N_CENTERS = 32


def _centers(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 3]).normal(size=(N_CENTERS, DIM))


def search_corpus(seed: int, n_vectors: int) -> tuple[np.ndarray, np.ndarray]:
    """``(vec_ids, vectors)``: float32 64-d vectors around 32 cluster centres."""
    rng = np.random.default_rng([seed, 4])
    centers = _centers(seed)
    assign = rng.integers(0, N_CENTERS, size=n_vectors)
    vecs = (centers[assign] + rng.normal(scale=0.6, size=(n_vectors, DIM))).astype(np.float32)
    return np.arange(n_vectors, dtype=np.int64), vecs


#: query ids sit far above every corpus id: the top-k operators drop the
#: corpus row whose id equals the query id
QUERY_ID_BASE = 1_000_000_000


def search_queries(seed: int, request: int, n_queries: int = 16) -> tuple[np.ndarray, np.ndarray]:
    """``(q_ids, vectors)`` of one request: queries near random centres."""
    rng = np.random.default_rng([seed, 5, request])
    centers = _centers(seed)
    assign = rng.integers(0, N_CENTERS, size=n_queries)
    q = (centers[assign] + rng.normal(scale=0.6, size=(n_queries, DIM))).astype(np.float32)
    q_ids = QUERY_ID_BASE + request * n_queries + np.arange(n_queries, dtype=np.int64)
    return q_ids, q


def _vector_table(id_name: str, vec_name: str, ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({id_name: pa.array(ids, pa.int64()), vec_name: pa.ListArray.from_arrays(offsets, flat)})


def write_search_corpus(ids: np.ndarray, vecs: np.ndarray, data_dir: str) -> None:
    """Store ``<data_dir>/embeddings.parquet`` (vec_id, embedding)."""
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(_vector_table("vec_id", "embedding", ids, vecs), os.path.join(data_dir, "embeddings.parquet"))


def write_queries(q_ids: np.ndarray, q: np.ndarray, path: str) -> None:
    """Store one request as a (q_id, q_emb) parquet file."""
    pq.write_table(_vector_table("q_id", "q_emb", q_ids, q), path)
