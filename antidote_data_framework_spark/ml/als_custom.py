"""Driver-local ALS with WARM START: one Arrow fetch of the ratings,
then every half-step in numpy on the driver.

MLlib's ALS has no public API to seed ``userFactors``/``itemFactors``,
so a refit after new ratings starts from scratch, and like any
distributed alternation it pays a driver<->executor round trip per
half-step.  The fits this engine runs outside the contract keys (the
antidote loop's cohort, the warm-start refit's cohort) hold tens of
thousands of ratings at sf0.1 and a few million at 27x, so the table
comes to the driver once as ``(user_id, item_id, rating)`` and the
alternation runs there.

Each half-step is the closed-form ridge solve the antidote gradient
differentiates through (ml/antidote.py): for fixed V,

    u_i = (Σ_{j∈Ω_i} v_j v_jᵀ + λ·n_i·I)⁻¹ · Σ_{j∈Ω_i} x_ij v_j,

with n_i = |Ω_i| (ALS-WR, the way Spark's ALS scales ``regParam``).
The Gram and right-hand sums are r(r+1)/2 + r ``np.bincount`` passes
over the rating rows, then one batched ``np.linalg.solve``; nothing is
ever user×item dense.  Factors are plain arrays, so 'warm' is passing
the previous ones back in.

A fit over more than ``MAX_RATINGS`` rating rows raises ``ValueError``;
there is no degraded path to fall back to.  Peak arrays are about 64
bytes per rating row (the gathered factors) plus r²·8 = 512 bytes per
solved entity (the ridge systems): the antidote loop at 27× sf0.1
(5.9M rows, 0.54M items) peaked at 0.79 GB above its 0.14 GB of
index and rating arrays.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.local import local_frame
from ..registry import spark_query
from .recsys_data import ratings_df

RANK = 8
LAM = 0.1
MAX_RATINGS = 1 << 23


class Ratings(NamedTuple):
    """Rating rows indexed for the fit: ``u``/``i`` are row positions
    into the ``users``/``items`` id arrays, ``x`` the ratings."""

    users: np.ndarray
    items: np.ndarray
    u: np.ndarray
    i: np.ndarray
    x: np.ndarray


def fetch_ratings(df: DataFrame) -> Ratings:
    """One Arrow fetch of ``(user_id, item_id, rating)``, indexed with
    ``np.unique`` (ids ascending, so the index is independent of
    partitioning)."""
    pdf = df.select(
        "user_id", "item_id", F.col("rating").cast("double")
    ).toPandas()
    users, u = np.unique(pdf["user_id"].to_numpy(np.int64), return_inverse=True)
    items, i = np.unique(pdf["item_id"].to_numpy(np.int64), return_inverse=True)
    return Ratings(users, items, u, i, pdf["rating"].to_numpy(np.float64))


def _det_factors(ids: np.ndarray, rank: int = RANK) -> np.ndarray:
    """Deterministic unit-scale init: f_p(key) = 0.5 + ((key*31 + p*17)
    mod 97)/970 — seed-free, engine-independent, no RNG."""
    return 0.5 + ((ids[:, None] * 31 + np.arange(rank) * 17) % 97) / 970.0


def normal_equations(
    rows: np.ndarray, cols: np.ndarray, x: np.ndarray, W: np.ndarray, n: int, lam: float
) -> tuple[np.ndarray, np.ndarray]:
    """The ridge system of one half-step for the ``n`` entities indexed
    by ``rows``, against the fixed factors ``W`` indexed by ``cols``:
    A = Σ f fᵀ + λ·n_obs·I (n×r×r) and b = Σ x f (n×r)."""
    r = W.shape[1]
    G = np.ascontiguousarray(W.T)[:, cols]  # r × rows, one gather
    A = np.empty((n, r, r))
    for p in range(r):
        for q in range(p, r):
            A[:, p, q] = A[:, q, p] = np.bincount(rows, G[p] * G[q], n)
    d = np.arange(r)
    A[:, d, d] += lam * np.bincount(rows, minlength=n)[:, None]
    b = np.stack([np.bincount(rows, x * G[p], n) for p in range(r)], axis=1)
    return A, b


def half_step(
    rows: np.ndarray, cols: np.ndarray, x: np.ndarray, W: np.ndarray, n: int, lam: float
) -> np.ndarray:
    """Re-solve the ``rows`` side's factors against fixed ``W``."""
    A, b = normal_equations(rows, cols, x, W, n, lam)
    return np.linalg.solve(A, b[..., None])[..., 0]


def als(
    R: Ratings,
    alternations: int,
    lam: float = LAM,
    U: np.ndarray | None = None,
    V: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Run ``alternations`` two-half-step rounds, optionally warm-
    starting from factors aligned with ``R.users`` / ``R.items``.

    Half-step ORDER depends on the seed (r6 ADVICE: a fixed U-first
    order silently discarded a passed-in U — the first half-step
    re-solved it from V, so only V actually seeded the refit):

    - cold / V-only seed → (U-step, V-step): U is re-derived from the
      (possibly seeded) V, and the last half-step solves V;
    - U seeded → (V-step, U-step): the first solve CONSUMES the seeded
      U, so both factor tables genuinely warm-start the refit.
    """
    if len(R.x) > MAX_RATINGS:
        raise ValueError(
            f"{len(R.x)} rating rows exceed the driver-local ALS cap {MAX_RATINGS}"
        )
    nu, ni = len(R.users), len(R.items)
    u_seeded = U is not None
    if V is None:
        V = _det_factors(R.items)
    for _ in range(alternations):
        if u_seeded:
            V = half_step(R.i, R.u, R.x, U, ni, lam)
            U = half_step(R.u, R.i, R.x, V, nu, lam)
        else:
            U = half_step(R.u, R.i, R.x, V, nu, lam)
            V = half_step(R.i, R.u, R.x, U, ni, lam)
    return U, V


def als_rmse(R: Ratings, U: np.ndarray, V: np.ndarray) -> float:
    """Train RMSE of u·v over the rating rows."""
    err = np.einsum("nr,nr->n", U[R.u], V[R.i]) - R.x
    return float(np.sqrt(np.mean(err * err)))


def _add_new_day(R: Ratings) -> Ratings:
    """A deterministic 'new day' of ratings: every cohort user whose id
    is a multiple of 50 rates the 3 lowest item ids with 1 + (user +
    item) mod 5; a (user, item) pair rated twice keeps the average.
    Users and items are unchanged, so factors fitted on ``R`` align."""
    nu_new = np.flatnonzero(R.users % 50 == 0)
    ni_new = np.arange(min(3, len(R.items)))
    u_new = np.repeat(nu_new, len(ni_new))
    i_new = np.tile(ni_new, len(nu_new))
    x_new = (1 + (R.users[u_new] + R.items[i_new]) % 5).astype(np.float64)
    m = len(R.items)
    pairs, inv = np.unique(
        np.concatenate([R.u * m + R.i, u_new * m + i_new]), return_inverse=True
    )
    x = np.concatenate([R.x, x_new])
    return R._replace(
        u=pairs // m, i=pairs % m, x=np.bincount(inv, x) / np.bincount(inv)
    )


@spark_query("q_als_warmstart_refit")  # rows-only: float fixpoint trajectory
def q_als_warmstart_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warm-start story, measured end to end on a deterministic 5%
    user cohort: (1) cold-fit 2 alternations on the base ratings;
    (2) a 'new day' of ratings arrives (deterministic synthetic rows
    for a slice of users); (3) WARM refit — ONE alternation starting
    from the previous factors.  Emits one row per phase with its
    alternation count and train RMSE.  The quality claim — a warm
    refit lands at or below the RMSE of a COLD refit of the updated
    table at the same alternation budget — is pinned by
    tests/test_round13_ops.py, which runs the cold-refit baseline this
    query deliberately omits.

    One Arrow fetch of the cohort; the new day, both fits and both
    RMSEs run on the driver."""
    base = fetch_ratings(
        ratings_df(spark, sf_dir)
        .filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id", "item_id")
        .agg(F.avg("rating").alias("rating"))
    )
    U0, V0 = als(base, alternations=2)
    updated = _add_new_day(base)
    Uw, Vw = als(updated, alternations=1, U=U0, V=V0)
    return local_frame(
        spark,
        [
            ("cold_fit_base", 2, round(als_rmse(base, U0, V0), 6)),
            ("warm_refit_updated", 1, round(als_rmse(updated, Uw, Vw), 6)),
        ],
        "phase STRING, alternations INT, rmse DOUBLE",
    )
