"""Numpy references and the per-operation correctness checks.

Every check is a pure function of the program's output and a reference
computed here from the generated inputs, so the self-tests can feed it
corrupted outputs and see it reject them.
"""

from __future__ import annotations

import numpy as np


# --- dense AP reference --------------------------------------------------------

def similarity_blockwise(mat: np.ndarray, block: int = 256) -> np.ndarray:
    """S[i,k] = -sum_d (x_id - x_kd)^2, accumulated sequentially over the
    dimensions (the engine's fold, so the doubles are bitwise equal),
    built one row block at a time instead of an N×N×d tensor.  The
    diagonal is left at -0.0, as in the engine's state."""
    n, d = mat.shape
    s = np.empty((n, n), dtype="f8")
    diff = np.empty((min(block, n), n), dtype="f8")
    for lo in range(0, n, block):
        hi = min(n, lo + block)
        acc = np.zeros((hi - lo, n), dtype="f8")
        dv = diff[: hi - lo]
        for j in range(d):
            np.subtract(mat[lo:hi, j, None], mat[None, :, j], out=dv)
            np.multiply(dv, dv, out=dv)
            np.add(acc, dv, out=acc)
        np.negative(acc, out=s[lo:hi])
    return s


def spark_median(values: np.ndarray) -> float:
    """``percentile(x, 0.5)`` as Spark interpolates it:
    ``lower + (upper - lower) * (pos - floor(pos))``, pos = 0.5·(m-1)."""
    m = len(values)
    pos = 0.5 * (m - 1)
    lo, hi = int(np.floor(pos)), int(np.ceil(pos))
    part = np.partition(values, [lo, hi])
    lower, upper = float(part[lo]), float(part[hi])
    return lower + (upper - lower) * (pos - lo)


def dense_ap_labels(mat: np.ndarray, iterations: int, lam: float) -> np.ndarray:
    """Labels (exemplar vec index per point) of T damped AP iterations
    with the median preference — ``ap_numpy_oracle``'s update equations
    and tie-breaks over a blockwise-built S."""
    from affinity_propagation_mapreduce_spark.operators import ap_numpy_oracle

    s = similarity_blockwise(mat)
    n = len(s)
    off = s[~np.eye(n, dtype=bool)]
    np.fill_diagonal(s, spark_median(off))
    del off
    r, a = ap_numpy_oracle.iterate(s, iterations, lam)
    idx = np.arange(n)
    ex = idx[(r[idx, idx] + a[idx, idx]) > 0]
    if len(ex) == 0:
        return np.full(n, -1)
    labels = ex[s[:, ex].argmax(1)]
    labels[ex] = ex
    return labels


def check_dense_labels(got: dict[int, int], ref: np.ndarray) -> bool:
    """Point-for-point equality with the reference labels."""
    return len(got) == len(ref) and all(
        got.get(i) == int(e) for i, e in enumerate(ref)
    )


# --- sparse AP ------------------------------------------------------------------

def check_sparse_labels(got: dict[int, int], n: int,
                        previous: dict[int, int] | None) -> bool:
    """Every point labelled, every exemplar labels itself, and the labels
    equal the previous repeat's."""
    if len(got) != n or set(got) != set(range(n)):
        return False
    if any(e < 0 for e in got.values()):
        return False
    if any(got.get(e) != e for e in set(got.values())):
        return False
    return previous is None or got == previous


def purity(labels: dict[int, int], truth: np.ndarray) -> float:
    """Share of points whose cluster's majority planted label is their own."""
    clusters: dict[int, list[int]] = {}
    for i, e in labels.items():
        clusters.setdefault(e, []).append(int(truth[i]))
    hit = sum(np.bincount(m).max() for m in clusters.values())
    return hit / max(1, len(labels))


# --- ANN serving ----------------------------------------------------------------

def fold_norm(mat: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(mat), dtype="f8")
    for j in range(mat.shape[1]):  # sequential over dims, as the engine
        acc += mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, cnorm: np.ndarray,
               qmat: np.ndarray, qnrm: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-k per query (ties to the lower id)."""
    cos = (qmat @ corpus.T) / (qnrm[:, None] * cnorm[None, :])
    out = []
    for row in cos:
        top = np.lexsort((corpus_ids, -row))[:k]
        out.append([int(corpus_ids[j]) for j in top])
    return out


def check_serve(rows, qids: np.ndarray, k: int, live: set[int],
                exact: list[list[int]], floor: float) -> tuple[bool, float]:
    """``rows``: (query_id, neighbor_id) pairs.  Each query needs exactly
    k rows of live neighbours, and the serve's mean recall@k against the
    exact top-k must reach ``floor``.  Returns (ok, recall)."""
    per_q: dict[int, list[int]] = {int(q): [] for q in qids}
    for q, nb in rows:
        if int(q) not in per_q:
            return False, 0.0
        per_q[int(q)].append(int(nb))
    ok = all(len(v) == k and len(set(v)) == k for v in per_q.values())
    ok = ok and all(nb in live for v in per_q.values() for nb in v)
    recall = float(np.mean([
        len(set(per_q[int(q)]) & set(exact[j])) / k for j, q in enumerate(qids)
    ]))
    return ok and recall >= floor, recall
