"""Independent recomputation of the served hybrid search, outside Spark.

Reads the store's parquet files with pyarrow and ranks with numpy, following
the search contract: a cosine vector leg and a BM25 leg, each cut to
``top_k * refine_factor`` candidates, fused by reciprocal rank
(1 / (k0 + rank)), ties broken by ascending chunk id.  Leg ranks use the
score rounded to 6 decimals, as the engine's rank contract states.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np


@dataclass
class StoreSnapshot:
    ids: np.ndarray  # chunk id strings
    library: np.ndarray
    file_type: np.ndarray
    tokens: list[list[str]]
    emb: np.ndarray  # float64 (n, dim)

    def __len__(self) -> int:
        return len(self.ids)


def load_store(path: str) -> StoreSnapshot:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["id", "library", "file_type", "content", "embedding"])
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    return StoreSnapshot(
        ids=np.array(t.column("id").to_pylist(), dtype=object),
        library=np.array([str(x) for x in t.column("library").to_pylist()], dtype=object),
        file_type=np.array(t.column("file_type").to_pylist(), dtype=object),
        tokens=[c.lower().split() for c in t.column("content").to_pylist()],
        emb=emb,
    )


def in_scope(store: StoreSnapshot, library: str | None, filters: dict | None) -> np.ndarray:
    mask = np.ones(len(store), dtype=bool)
    if library is not None:
        mask &= store.library == library
    for key, value in (filters or {}).items():
        if key != "file_type":
            raise ValueError(f"reference supports file_type filters only, not {key}")
        mask &= store.file_type == value
    return np.nonzero(mask)[0]


def _ranks(ids: list[str], scores: list[float]) -> dict[str, int]:
    order = sorted(range(len(ids)), key=lambda i: (-round(scores[i], 6), ids[i]))
    return {ids[i]: r + 1 for r, i in enumerate(order)}


def hybrid_ids(store: StoreSnapshot, query: str, query_vec, top_k: int,
               library: str | None = None, filters: dict | None = None,
               k1: float = 1.2, b: float = 0.75, k0: int = 60, refine: int = 10) -> list[str]:
    rows = in_scope(store, library, filters)
    if len(rows) == 0:
        return []
    cand = max(top_k, top_k * refine)
    ids = [store.ids[i] for i in rows]

    q = np.asarray(query_vec, dtype=np.float64)
    m = store.emb[rows]
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    vec = sorted(range(len(rows)), key=lambda i: (-cos[i], ids[i]))[:cand]
    vec_rank = _ranks([ids[i] for i in vec], [float(cos[i]) for i in vec])

    terms = sorted({t for t in query.lower().split() if t})
    toks = [store.tokens[i] for i in rows]
    n = float(len(toks))
    avgdl = sum(len(t) for t in toks) / n
    dfreq = Counter(t for doc in toks for t in set(doc) if t in terms)
    bm_ids, bm_scores = [], []
    for doc_id, doc in zip(ids, toks):
        tf = Counter(t for t in doc if t in terms)
        if not tf:
            continue
        score = 0.0
        for term, f in tf.items():
            idf = math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
            score += idf * (f * (k1 + 1.0)) / (f + k1 * (1.0 - b + b * len(doc) / avgdl))
        bm_ids.append(doc_id)
        bm_scores.append(score)
    bm = sorted(range(len(bm_ids)), key=lambda i: (-round(bm_scores[i], 6), bm_ids[i]))[:cand]
    bm_rank = _ranks([bm_ids[i] for i in bm], [bm_scores[i] for i in bm])

    fused = {}
    for doc_id in set(vec_rank) | set(bm_rank):
        r0, r1 = bm_rank.get(doc_id), vec_rank.get(doc_id)
        fused[doc_id] = ((1.0 / (k0 + r0) if r0 else 0.0)
                         + (1.0 / (k0 + r1) if r1 else 0.0))
    return sorted(fused, key=lambda d: (-fused[d], d))[:top_k]
