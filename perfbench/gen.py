"""Seeded input generator for the benchmark.

The base data are copies of the sf0.1 ``documents`` (5000 docs) and
``embeddings`` (2000 unit vectors of dim 64) fixtures, kept in
``fixtures/`` beside this file, so every run measures the same base data.
``--seed`` picks everything the client does with it: the order of the
corpus copies, the query batches, the commit sequence (ids, sizes, delete
targets).

Everything here is NumPy/pyarrow: no Spark job runs while inputs are made.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
DIM = 64
ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def _rot(s: str, k: int) -> str:
    return s[k % len(s):] + s[: k % len(s)]


def base_documents() -> pa.Table:
    """The sf0.1 ``documents`` fixture (doc_id, text, lang, source, n_chars)."""
    return pq.read_table(os.path.join(FIXTURES, "documents.parquet"))


def base_embeddings() -> pa.Table:
    """The sf0.1 ``embeddings`` fixture (vec_id, embedding, label)."""
    return pq.read_table(os.path.join(FIXTURES, "embeddings.parquet"))


def vocabulary(docs: pa.Table) -> list[str]:
    """The sorted distinct words of the corpus texts."""
    return sorted({w for t in docs.column("text").to_pylist() for w in t.split()})


def vector_array(mat: np.ndarray) -> pa.Array:
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    offsets = np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(mat.ravel()))


def vectors_of(table: pa.Table) -> np.ndarray:
    """(n, dim) float64 matrix of an embeddings table's vectors."""
    col = table.column("embedding").combine_chunks()
    return col.flatten().to_numpy().astype(np.float64).reshape(len(col), -1)


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for f in range(n_files):
        part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
        pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


# ------------------------------------------------------------------ corpus_batch


def corpus_copies(rng: np.random.Generator, copies: int) -> tuple[pa.Table, pa.Table]:
    """K key-shifted, letter-rotated copies of the base tables, with the
    scale-bench synthesis semantics: copy k shifts keys by k * (max + 1),
    rotates letters and digits of the text by k, and circularly shifts each
    embedding by k positions (an orthogonal map, so within-copy cosine
    structure is kept and cross-copy pairs stay far apart). The seed picks
    the order the copies are laid out in and shuffles rows across files."""
    docs, emb = base_documents(), base_embeddings()
    doc_off = pc.max(docs.column("doc_id")).as_py() + 1
    vec_off = pc.max(emb.column("vec_id")).as_py() + 1
    mat = vectors_of(emb).astype(np.float32)
    order = rng.permutation(copies)
    d_parts, e_parts = [], []
    for k in (int(c) for c in order):
        table = str.maketrans(ALPHA + DIGITS, _rot(ALPHA, k) + _rot(DIGITS, k))
        d_parts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + k * doc_off),
            "text": pa.array([t.translate(table) for t in docs.column("text").to_pylist()]),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": docs.column("n_chars"),
        }))
        e_parts.append(pa.table({
            "vec_id": pa.array(emb.column("vec_id").to_numpy() + k * vec_off),
            "embedding": vector_array(np.roll(mat, -k, axis=1)),
            "label": emb.column("label"),
        }))
    d = pa.concat_tables(d_parts)
    e = pa.concat_tables(e_parts)
    return d.take(rng.permutation(d.num_rows)), e.take(rng.permutation(e.num_rows))


# ------------------------------------------------------------------- serve_batch


def query_texts(rng: np.random.Generator, vocab: list[str], n: int, words: int = 3) -> list[str]:
    """``n`` queries of ``words`` distinct vocabulary words. A fixed length
    keeps the pruned postings a batch reads about the same across seeds."""
    return [" ".join(vocab[j] for j in rng.choice(len(vocab), words, replace=False)) for _ in range(n)]


def query_vectors(rng: np.random.Generator, emb: pa.Table, n: int) -> list[tuple[int, list[float]]]:
    """``n`` (vec_id, vector) rows drawn from the table itself, so the exact
    twin sees the same inputs."""
    idx = rng.choice(emb.num_rows, n, replace=False)
    ids = emb.column("vec_id").to_numpy()[idx]
    mat = vectors_of(emb)[idx]
    return [(int(i), [float(x) for x in v.astype(np.float32)]) for i, v in zip(ids, mat)]


# ---------------------------------------------------------------- store_maintain


def commit_plan(rng: np.random.Generator, n_commits: int) -> list[dict]:
    """The seeded commit sequence for ``store_maintain``.

    Commits cycle bm25-upsert, ivf-upsert, bm25-delete, ivf-delete. Upserts
    carry fresh ids (a tenth overwrite live rows) with 150-160 docs or
    vectors; deletes target 20-24 live ids. ``draw`` seeds each commit's
    ids, texts, vectors and read-after-write query."""
    kinds = ["bm25_upsert", "ivf_upsert", "bm25_delete", "ivf_delete"]
    seq = []
    for i in range(n_commits):
        kind = kinds[i % 4]
        size = int(rng.integers(150, 161)) if kind.endswith("upsert") else int(rng.integers(20, 25))
        seq.append({"kind": kind, "size": size, "draw": int(rng.integers(0, 2**31))})
    return seq
