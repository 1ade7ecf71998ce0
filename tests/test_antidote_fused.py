"""Pins for the antidote loop's array gradient (ml/antidote.bilevel_grad
and polarization_rows):

- against a PURE-NUMPY row-by-row replay of the paper's math
  (grad[a,j] = (2/(m·n_j))·g_jᵀ·A_j⁻¹·u_a with
  g_j = Σ_{i∈Ω_j}(x̂_ij − μ_j)·u_i, A_j = λ·n_j·I + Σ_obs u·uᵀ + Σ_ant u·uᵀ,
  n_j counting the antidote observers) computed from the same inputs;
- against finite differences of the polarization after a fixed-U
  V-half-step of the fit (ml/als_custom.half_step): the gradient must
  be the derivative of the model the fit actually trains.
"""

from __future__ import annotations

import numpy as np

from antidote_data_framework_spark.ml.als_custom import half_step, normal_equations
from antidote_data_framework_spark.ml.antidote import (
    bilevel_grad,
    polarization_rows,
)

RANK = 3
LAM = 0.1
K = 2
N_ORIG = 5
M = 4

# Partial observation by the original users (item 3 has a single
# observer), so the 1/n_j scale and var_pop edge cases are exercised.
PRED_ROWS = [
    (0, 0, 3.2), (0, 1, 4.1), (0, 2, 2.7),
    (1, 0, 1.9), (1, 1, 3.3),
    (2, 0, 4.8), (2, 2, 3.9), (2, 3, 2.2),
    (3, 1, 2.8), (3, 2, 4.4),
    (4, 0, 3.0), (4, 1, 3.7), (4, 2, 1.5),
]


def _feats() -> np.ndarray:
    """Deterministic factor rows: N_ORIG original users, then K antidote."""
    return np.array(
        [[((u * 3 + p * 7) % 11) / 7.0 - 0.5 for p in range(RANK)] for u in range(N_ORIG + K)]
    )


def _combined_rows(x_orig: np.ndarray, X_tilde: np.ndarray):
    """Original rows plus the K fully-observing antidote users."""
    u = np.array([r[0] for r in PRED_ROWS] + [N_ORIG + a for a in range(K) for _ in range(M)])
    i = np.array([r[1] for r in PRED_ROWS] + [j for _ in range(K) for j in range(M)])
    return u, i, np.concatenate([x_orig, X_tilde.ravel()])


def test_fused_equals_pure_numpy_replay():
    """The array path reproduces a row-by-row numpy replay of the
    paper's unrearranged math — gradient AND measured polarization."""
    U = _feats()
    u = np.array([r[0] for r in PRED_ROWS])
    i = np.array([r[1] for r in PRED_ROWS])
    pred = np.array([r[2] for r in PRED_ROWS])
    cu, ci, cx = _combined_rows(pred, np.ones((K, M)))
    A, _ = normal_equations(ci, cu, cx, U, M, LAM)
    grad = bilevel_grad(u, i, pred, U, A, U[N_ORIG:])
    pol = polarization_rows(i, pred, M)

    obs: dict[int, list[tuple[int, float]]] = {j: [] for j in range(M)}
    for uu, j, p in PRED_ROWS:
        obs[j].append((uu, p))
    grad_np = np.zeros((K, M))
    variances = []
    for j in range(M):
        preds = np.array([p for _, p in obs[j]])
        mu = preds.mean()
        variances.append(float(((preds - mu) ** 2).mean()))
        g = np.zeros(RANK)
        A_j = LAM * (len(preds) + K) * np.eye(RANK)
        for a in range(K):
            A_j += np.outer(U[N_ORIG + a], U[N_ORIG + a])
        for uu, p in obs[j]:
            g += (p - mu) * U[uu]
            A_j += np.outer(U[uu], U[uu])
        core = np.linalg.solve(A_j, g)
        for a in range(K):
            grad_np[a, j] = (2.0 / (M * len(preds))) * core @ U[N_ORIG + a]
    assert np.allclose(grad, grad_np, rtol=1e-10, atol=1e-14)
    assert abs(pol - float(np.mean(variances))) < 1e-12


def test_bilevel_grad_matches_finite_differences_of_v_step():
    """Perturb x̃_aj, redo the fixed-U V-half-step (λ·n_j regulariser)
    and re-measure the original users' polarization.  V is linear in
    X̃ and R_pol quadratic in V, so central differences are exact up to
    rounding and the tolerance is tight."""
    U = _feats()
    u = np.array([r[0] for r in PRED_ROWS])
    i = np.array([r[1] for r in PRED_ROWS])
    x_orig = np.array([r[2] for r in PRED_ROWS])
    X_tilde = 1.0 + (np.arange(K * M).reshape(K, M) * 7 % 5)

    def polarization_after_v_step(X):
        cu, ci, cx = _combined_rows(x_orig, X)
        V = half_step(ci, cu, cx, U, M, LAM)
        return polarization_rows(i, np.einsum("nr,nr->n", U[u], V[i]), M)

    cu, ci, cx = _combined_rows(x_orig, X_tilde)
    V = half_step(ci, cu, cx, U, M, LAM)
    A, _ = normal_equations(ci, cu, cx, U, M, LAM)
    pred = np.einsum("nr,nr->n", U[u], V[i])
    grad = bilevel_grad(u, i, pred, U, A, U[N_ORIG:])

    h = 1e-3
    fd = np.zeros((K, M))
    for a in range(K):
        for j in range(M):
            Xp, Xm = X_tilde.copy(), X_tilde.copy()
            Xp[a, j] += h
            Xm[a, j] -= h
            fd[a, j] = (polarization_after_v_step(Xp) - polarization_after_v_step(Xm)) / (2 * h)
    assert np.abs(grad).max() > 1e-4  # a non-trivial gradient
    assert np.allclose(grad, fd, rtol=1e-7, atol=1e-11), (grad, fd)
