"""The one k-means of the vector stack: fit on the driver over a
bounded deterministic sample, then assign every row in one Arrow pass.

MLlib's KMeans runs every Lloyd step as its own Spark job, so a fit
costs ~20 driver<->executor rounds and PQ's 8 codebooks cost ~130.  A
k-centroid model saturates long before corpus size (16 centers on an
8-dim subspace, 16 cells on 64 dims), so the fit reads a vec_id-stride
sample of at most ``TRAIN_CAP`` rows once and iterates in numpy; each
caller then assigns (or encodes) the whole corpus with ``nearest``
inside one ``mapInPandas`` scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRAIN_CAP = 65536


def train_sample(df: DataFrame, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """``(vec_ids, X)`` for the rows with ``vec_id % stride == 0``, the
    stride sized so at most ``TRAIN_CAP`` rows survive: one count plus
    one Arrow fetch.  Sorted by vec_id on the driver, so the sample (and
    every fit on it) is independent of partitioning.  vec_id 0 — the
    query row of every caller — is always in it."""
    stride = max(1, -(-df.count() // TRAIN_CAP))
    pdf = (
        df.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
        .sort_values("vec_id", kind="stable")
    )
    return pdf["vec_id"].to_numpy(np.int64), np.vstack(pdf["v"].to_numpy())


def kmeans(X: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Lloyd's algorithm from ``k`` seeded rows (all distinct rows first
    when there are fewer than ``k``).  A center that loses all its points
    keeps its place, so the result is always exactly ``k`` centers."""
    rng = np.random.RandomState(seed)
    idx = rng.permutation(len(X))[:k]
    if len(idx) < k:
        idx = np.concatenate([idx, rng.randint(len(X), size=k - len(idx))])
    C = X[idx].astype(np.float64)
    for _ in range(iters):
        a = nearest(X, C)
        counts = np.bincount(a, minlength=k)
        sums = (a[:, None] == np.arange(k)).T.astype(np.float64) @ X
        moved = C.copy()
        hit = counts > 0
        moved[hit] = sums[hit] / counts[hit, None]
        if np.array_equal(moved, C):
            break
        C = moved
    return C


def nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the squared-L2 nearest center per row; ties go to the
    lower index (``argmin`` returns the first minimum)."""
    d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
    return d.argmin(axis=1).astype(np.int32)
