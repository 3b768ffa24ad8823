"""Seeded inputs for the benchmark workloads.

The engine sees only the parquet written here. The ground truth (exact
top-k) is computed by this module in float64 numpy, never through the
engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10
# corpus shape shared by both workloads: 32-d Gaussian blobs whose radius
# is half the distance between unit-norm centers — clustered enough for
# kmeans routing, and scan-all recall@10 stays above 0.95 at beam 512
DIM = 32
SPREAD = 0.5


def clustered_corpus(
    rng: np.random.Generator, n: int, clusters: int, n_queries: int
) -> tuple[np.ndarray, np.ndarray]:
    """(corpus, queries), float32: isotropic Gaussian blobs of radius
    about ``SPREAD`` around random unit-norm centers. Queries are fresh
    draws from the same mixture, so none of them is a corpus point."""
    centers = rng.standard_normal((clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(m: int) -> np.ndarray:
        lab = rng.integers(0, clusters, m)
        pts = centers[lab] + SPREAD * rng.standard_normal((m, DIM)) / np.sqrt(DIM)
        return pts.astype(np.float32)

    return draw(n), draw(n_queries)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """(n_q, k) corpus row ids of the exact L2 top-k, float64 arithmetic,
    ties broken by id (the engine's (dist, id) order)."""
    c = corpus.astype(np.float64)
    cn = (c * c).sum(axis=1)
    out = np.empty((len(queries), k), dtype=np.int64)
    for s in range(0, len(queries), 512):
        q = queries[s : s + 512].astype(np.float64)
        d = cn[None, :] - 2.0 * q @ c.T + (q * q).sum(axis=1)[:, None]
        part = np.argpartition(d, k, axis=1)[:, : k + 1]
        for i in range(len(q)):
            cand = part[i]
            order = np.lexsort((cand, d[i, cand]))
            out[s + i] = cand[order[:k]]
    return out


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray, id_col: str,
                  vec_col: str) -> None:
    """(id BIGINT, vec ARRAY<FLOAT>) parquet, the engine's input schema."""
    vecs = pa.FixedSizeListArray.from_arrays(
        pa.array(mat.reshape(-1).astype(np.float32)), mat.shape[1])
    pq.write_table(pa.table({
        id_col: pa.array(ids.astype(np.int64)),
        vec_col: vecs.cast(pa.list_(pa.float32())),
    }), path)


def ann_inputs(root: str, seed: int, n: int, clusters: int,
               n_queries: int) -> dict:
    """Corpus parquet, query vectors and their exact ground truth for an
    ANN workload."""
    rng = np.random.default_rng(seed)
    corpus, queries = clustered_corpus(rng, n, clusters, n_queries)
    os.makedirs(root, exist_ok=True)
    vpath = os.path.join(root, "corpus.parquet")
    write_vectors(vpath, np.arange(n), corpus, "id", "vec")
    return {"corpus_path": vpath, "queries": queries,
            "gt": exact_topk(corpus, queries)}
