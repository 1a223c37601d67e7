"""Dense-numpy reference implementation of Frey–Dueck Affinity
Propagation (SURVEY.md §5.2.2) — the algorithmic oracle the distributed
engine is cross-checked against.  Mirrors the engine's exact semantics:
damping from the zero state, top-2 "max excluding self" with duplicate-max
handling, exemplars {k : a(kk)+r(kk) > 0}, argmax assignment with
lowest-k tie-break, exemplars labeled as themselves.

This is NOT a port of the reference repo (empty checkout — SURVEY.md §0);
it is the published update equations [AP eqs. 1-3] in ~40 lines, used only
in tests.
"""

from __future__ import annotations

import numpy as np


def similarity(mat: np.ndarray, pref: str = "median") -> np.ndarray:
    """S[i,k] = -||x_i-x_k||^2, diagonal = median (or min) of off-diag."""
    sq = ((mat[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    s = -sq
    n = len(mat)
    off = s[~np.eye(n, dtype=bool)]
    p = np.median(off) if pref == "median" else off.min()
    np.fill_diagonal(s, p)
    return s


def _step(s: np.ndarray, r: np.ndarray, a: np.ndarray, lam: float):
    """One damped iteration: responsibilities, then availabilities."""
    n = s.shape[0]
    idx = np.arange(n)
    # responsibility: r = s - max_{k'!=k}(a + s)
    asv = a + s
    arg1 = asv.argmax(1)
    m1 = asv[idx, arg1]
    m2 = np.partition(asv, n - 2, axis=1)[:, n - 2]  # 2nd largest incl dups
    excl = np.repeat(m1[:, None], n, axis=1)
    excl[idx, arg1] = m2  # at the (first) argmax, exclude it
    r = lam * r + (1 - lam) * (s - excl)
    # availability
    rp = np.maximum(r, 0.0)
    np.fill_diagonal(rp, 0.0)
    colsum = rp.sum(0)
    a_hat = np.minimum(0.0, r[idx, idx][None, :] + colsum[None, :] - rp)
    a_hat[idx, idx] = colsum
    return r, lam * a + (1 - lam) * a_hat


def iterate(s: np.ndarray, iterations: int, lam: float = 0.5):
    r = np.zeros_like(s)
    a = np.zeros_like(s)
    for _ in range(iterations):
        r, a = _step(s, r, a, lam)
    return r, a


def _exemplars(r: np.ndarray, a: np.ndarray) -> np.ndarray:
    idx = np.arange(r.shape[0])
    return idx[(r[idx, idx] + a[idx, idx]) > 0]


def _labels(s: np.ndarray, ex: np.ndarray) -> np.ndarray:
    if len(ex) == 0:
        return np.full(s.shape[0], -1)
    labels = ex[s[:, ex].argmax(1)]  # argmax first-occurrence == lowest k (ex sorted)
    labels[ex] = ex
    return labels


def cluster(mat: np.ndarray, iterations: int = 5, lam: float = 0.5,
            pref: str = "median"):
    """Returns (exemplar_ids, labels) with the engine's tie-breaks."""
    s = similarity(mat, pref)
    ex = _exemplars(*iterate(s, iterations, lam))
    return ex, _labels(s, ex)


def cluster_converged(mat: np.ndarray, max_iter: int = 200,
                      convergence_iter: int = 15, lam: float = 0.5):
    """Frey & Dueck's stop rule (sklearn's semantics): stop once the
    exemplar set has been non-empty and unchanged for
    ``convergence_iter`` consecutive iterations, else at ``max_iter``.
    Returns (exemplar_ids, labels, iterations_run)."""
    s = similarity(mat)
    r = np.zeros_like(s)
    a = np.zeros_like(s)
    prev, stable, it = None, 0, 0
    for it in range(1, max_iter + 1):
        r, a = _step(s, r, a, lam)
        ex = _exemplars(r, a)
        if prev is not None and len(ex) and np.array_equal(ex, prev):
            stable += 1
            if stable >= convergence_iter:
                break
        else:
            stable = 0
        prev = ex
    return ex, _labels(s, ex), it
