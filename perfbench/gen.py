"""Seeded benchmark inputs and the numpy oracle that scores them.

Everything here is plain numpy/pyarrow: the inputs are made without the
engine, and the exact answers are computed without it too, so a defect
shared by the engine's layers cannot hide in the oracle.

Vectors come from an anisotropic Gaussian mixture (per-cluster,
per-dimension spreads); queries are held-out draws of the same mixture.
The spread is wide enough that the default HNSW search misses some true
neighbours, so recall@10 sits measurably below 1.0 and a quality loss
can show.

Documents are Zipfian word sequences. A share of them are planted
near-duplicate clusters: copies of one original with a small per-token
substitution rate, which the repo's default MinHash LSH (8 hashes,
4 bands x 2 rows over word 3-grams) is meant to catch.
"""

from __future__ import annotations

import functools
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class VectorSpec:
    n_base: int
    n_queries: int
    dim: int
    n_clusters: int
    spread: float


@dataclass(frozen=True)
class DocSpec:
    n_docs: int
    n_dup_clusters: int
    dup_cluster_size: int
    vocab: int
    min_len: int
    max_len: int
    edit_rate: float
    zipf_a: float = 1.0


def gaussian_mixture(spec: VectorSpec, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(base, queries) float32 matrices drawn from one seeded mixture."""
    rng = np.random.default_rng(seed)
    n = spec.n_base + spec.n_queries
    centers = rng.standard_normal((spec.n_clusters, spec.dim))
    scales = spec.spread * np.exp(rng.normal(0.0, 0.5, (spec.n_clusters, spec.dim)))
    labels = rng.integers(0, spec.n_clusters, n)
    x = centers[labels] + rng.standard_normal((n, spec.dim)) * scales[labels]
    x = x.astype(np.float32)
    return x[: spec.n_base], x[spec.n_base :]


def exact_topk(base: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the exact cosine top-k of each query, nearest first (float64)."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    bn = np.linalg.norm(b, axis=1)
    qn = np.linalg.norm(q, axis=1)
    b = b / np.where(bn == 0, 1.0, bn)[:, None]
    q = q / np.where(qn == 0, 1.0, qn)[:, None]
    d = -(q @ b.T)
    part = np.argpartition(d, k - 1, axis=1)[:, :k]
    order = np.argsort(np.take_along_axis(d, part, axis=1), axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


def recall_at_k(found: dict[int, list[int]], truth: dict[int, list[int]], k: int) -> float:
    """Share of the true top-k ids found, over every query in ``truth``."""
    hits = sum(len(set(found.get(q, [])[:k]) & set(t[:k])) for q, t in truth.items())
    return hits / float(k * len(truth))


@functools.lru_cache(maxsize=None)
def _words(n: int) -> tuple[str, ...]:
    """``n`` distinct lower-case words, shorter the more frequent (rank
    order), as in natural text. The vocabulary is fixed; seeds vary the
    documents drawn from it."""
    rng = np.random.default_rng(0)
    letters = np.array(list(string.ascii_lowercase))
    out: list[str] = []
    seen: set[str] = set()
    for rank in range(n):
        length = int(np.clip(round(2 + 0.7 * np.log(rank + 1) + rng.normal(0.0, 1.0)), 1, 14))
        while True:
            w = "".join(rng.choice(letters, length))
            if w not in seen:
                break
            length += 1
        seen.add(w)
        out.append(w)
    return tuple(out)


def documents(spec: DocSpec, seed: int) -> tuple[np.ndarray, list[str], np.ndarray]:
    """(doc_id, text, planted cluster label) for ``spec.n_docs`` documents.

    Doc ids are a seeded permutation, unique by construction. Every doc
    outside a planted cluster has a label of its own."""
    rng = np.random.default_rng(seed)
    words = np.array(_words(spec.vocab), dtype=object)
    p = 1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf_a
    p /= p.sum()

    def draw(length: int) -> np.ndarray:
        return rng.choice(spec.vocab, size=length, p=p)

    n_planted = spec.n_dup_clusters * spec.dup_cluster_size
    if n_planted > spec.n_docs:
        raise ValueError("planted clusters exceed n_docs")
    # one original per planted cluster, then one text per singleton doc
    n_texts = spec.n_dup_clusters + spec.n_docs - n_planted
    lengths = rng.integers(spec.min_len, spec.max_len + 1, n_texts)
    texts = np.split(draw(int(lengths.sum())), np.cumsum(lengths)[:-1])
    docs: list[np.ndarray] = []
    for orig in texts[: spec.n_dup_clusters]:
        for _ in range(spec.dup_cluster_size):
            copy = orig.copy()
            hit = rng.random(len(copy)) < spec.edit_rate
            copy[hit] = draw(int(hit.sum()))
            docs.append(copy)
    docs.extend(texts[spec.n_dup_clusters :])
    labels = np.concatenate([
        np.repeat(np.arange(spec.n_dup_clusters), spec.dup_cluster_size),
        np.arange(spec.n_dup_clusters, n_texts),
    ])
    order = rng.permutation(spec.n_docs)
    doc_ids = rng.permutation(spec.n_docs * 4)[: spec.n_docs].astype(np.int64)
    text = [" ".join(words[docs[i]]) for i in order]
    return doc_ids, text, labels.astype(np.int64)[order]


def pair_scores(pred: np.ndarray, truth: np.ndarray) -> tuple[float, float]:
    """(recall, precision) of same-cluster document pairs: ``pred`` and
    ``truth`` are cluster labels aligned by document."""
    def pairs(counts: np.ndarray) -> int:
        return int((counts * (counts - 1) // 2).sum())

    _, joint = np.unique(np.stack([pred, truth]), axis=1, return_counts=True)
    tp = pairs(joint)
    true_pairs = pairs(np.unique(truth, return_counts=True)[1])
    pred_pairs = pairs(np.unique(pred, return_counts=True)[1])
    recall = tp / true_pairs if true_pairs else 1.0
    precision = tp / pred_pairs if pred_pairs else 1.0
    return recall, precision


def write_embeddings(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """``embeddings.parquet`` in the repo's table layout (vec_id, embedding, label)."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(len(ids), np.int32), pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(path, "embeddings.parquet"))


def write_documents(path: str, doc_ids: np.ndarray, text: list[str]) -> None:
    """``documents.parquet`` in the repo's table layout."""
    os.makedirs(path, exist_ok=True)
    n = len(doc_ids)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["bench"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "documents.parquet"))

