"""Seeded vectors for the IVF churn workload.

A Gaussian mixture (so coarse cells are meaningful), a base corpus, a
fixed query panel and a list of append deltas. Every delta plants one
near-duplicate for each query of its own slice of the panel; after that
delta is appended, the planted vector must be the query's top-1 result.
The same (seed, shape) gives the same vectors.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    n_base: int
    dim: int
    n_clusters: int
    n_queries: int
    n_deltas: int
    delta_size: int

    def key(self) -> str:
        return "-".join(f"{v}" for v in asdict(self).values())


def _write(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    table = pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": emb,
        "label": pa.array((ids % 7).astype(np.int32)),
    })
    pq.write_table(table, path)


def generate(root: str, seed: int, shape: Shape) -> dict:
    """Write base.parquet, queries.parquet and delta_{i}.parquet under
    `root`; return the planted (delta index, query id, planted id)."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    centers = rng.normal(0.0, 1.0, (shape.n_clusters, shape.dim))

    def draw(n):
        c = rng.integers(0, shape.n_clusters, n)
        return centers[c] + rng.normal(0.0, 0.35, (n, shape.dim))

    _write(os.path.join(root, "base.parquet"),
           np.arange(shape.n_base, dtype=np.int64), draw(shape.n_base))
    q_ids = 10_000_000 + np.arange(shape.n_queries, dtype=np.int64)
    q_vecs = draw(shape.n_queries)
    _write(os.path.join(root, "queries.parquet"), q_ids, q_vecs)
    per = max(1, shape.n_queries // shape.n_deltas)
    planted = []
    next_id = shape.n_base
    for d in range(shape.n_deltas):
        ids = np.arange(next_id, next_id + shape.delta_size, dtype=np.int64)
        next_id += shape.delta_size
        vecs = draw(shape.delta_size)
        slot = rng.permutation(shape.delta_size)[:per]
        for j, qi in enumerate(range(d * per, min((d + 1) * per, shape.n_queries))):
            # a near-duplicate: the query plus noise three orders smaller
            # than the cluster spread
            vecs[slot[j]] = q_vecs[qi] + rng.normal(0.0, 1e-3, shape.dim)
            planted.append((d, int(q_ids[qi]), int(ids[slot[j]])))
        _write(os.path.join(root, f"delta_{d}.parquet"), ids, vecs)
    return {"planted": planted}
