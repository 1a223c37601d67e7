"""Shared IVF coarse-quantizer sizing and training for the approximate
vector paths (sparse AP candidates, knn_cosine_ivf, dedup_embed_cosine_ivf).

Cost model.  An IVF pass has two stages:

* coarse scoring: every point scores against all ``nlist`` centroids —
  O(N · nlist) similarity evaluations;
* within-cell verify: every point meets the members of its ``nprobe``
  probed cells — O(N · nprobe · N/nlist) pair evaluations at the
  expected cell size N/nlist.

The total is minimized where the two terms balance,
``nlist = sqrt(nprobe · N)``, giving cells of ~sqrt(N/nprobe) members
and O(N^1.5 · sqrt(nprobe)) total work — sub-quadratic in N.  (The
previous sizing, ``nlist = N/64``, made the *pair count* linear but the
coarse-scoring step O(N²/64) — a constant-factor reduction, not an
asymptotic one.  A fixed nlist has the dual flaw: cells grow O(N) and
within-cell work is O(N²/nlist).)  Beyond ~10⁹ points the next step is
a two-level quantizer (score sqrt(nlist) super-cells, then the cells
under the best super-cells), which brings coarse scoring to O(N·N^0.25)
— implemented below (build_two_level / two_level_cells) and used by the
trained production paths once nlist crosses TWO_LEVEL_MIN; the
single-level scan remains the oracle-mirrorable declared variant.

The centroid *broadcast* is O(nlist · d) = O(sqrt(N)) bytes — e.g.
10⁹ points × 64 dims ⇒ ~63k centroids ≈ 32 MB, within executor budget.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Embeddings row count at the driver's oracle scale (sf0.01).  Oracle SQL
# strings are static, so they embed nlist evaluated at this N; the Spark
# side computes the same function of the actual count and the two agree
# at the only sf the oracle ever runs at.
ORACLE_SF_N = 500

# cached corpus row counts per (application, sf_dir, table, file
# fingerprint): several IVF queries need N to size nlist, and each
# .count() is a full-scan job.  The fingerprint (parquet mtime+size)
# invalidates the cache if the testdata directory is regenerated while a
# Spark application stays alive — otherwise nlist would be computed from
# the stale count and the IVF-family oracles silently diverge.
_n_cache: dict = {}


def _dir_fingerprint(sf_dir: str, table_name: str) -> tuple:
    import os

    path = os.path.join(sf_dir, f"{table_name}.parquet")
    try:
        if os.path.isdir(path):
            parts = sorted(
                e.path for e in os.scandir(path) if e.name.endswith(".parquet")
            )
            return tuple(
                (os.path.basename(p), os.stat(p).st_mtime_ns, os.path.getsize(p))
                for p in parts
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def corpus_rows(spark, sf_dir: str, table_name: str = "embeddings") -> int:
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        table_name,
        _dir_fingerprint(sf_dir, table_name),
    )
    if key not in _n_cache:
        from ..sources.tables import table_rows

        # evict superseded fingerprints for the same table so
        # regenerations don't accumulate dead entries
        for old in [k for k in _n_cache if k[:3] == key[:3]]:
            del _n_cache[old]
        # footer-metadata count: same exact number as a metadata-only
        # df.count(), no Spark job (r15)
        _n_cache[key] = table_rows(sf_dir, table_name)
    return _n_cache[key]


def cost_balanced_nlist(n: int, nprobe: int) -> int:
    """Coarse-quantizer size balancing coarse scoring against within-cell
    verification: nlist = sqrt(nprobe·N), floored at 16 so tiny inputs
    keep a meaningful quantizer."""
    return max(16, int(round(math.sqrt(nprobe * n))))


SAMPLE_PER_CELL = 8  # centroid training sample per coarse cell


def md5_sample(emb: DataFrame, k: int, n: int | None = None) -> list:
    """The first ``k`` rows of ``emb`` in (md5(vec_id), vec_id) order,
    returned in that order: one Spark job, scale-safe.

    The naive ``orderBy(md5).limit(k).collect()`` makes EVERY scan task
    ship its own partial top-k to the driver — at 10M × d=768 that is
    ~9 GiB of serialized results (72 tasks × 71k wide rows) and trips
    spark.driver.maxResultSize before a byte of training runs.  A
    hash-prefix threshold pre-filter bounds the candidate set first:
    rows whose 32-bit md5 prefix falls below ~2k/n of the hash space
    (expected ~2·k rows — the margin itself is driver-bound through the
    limit's partial results, so it stays small).  Prefix order dominates
    full-string order, so if the filtered set holds ≥ k rows it provably
    contains the true top-k by full md5 — the selected sample is
    IDENTICAL to the unfiltered formulation.  The filtered top-k is
    collected directly: fewer than k rows back means the filter
    under-selected (Chernoff ~e^{-k/4} at 2× margin), and the unfiltered
    formulation runs as the fallback.  ``n`` is the row count of
    ``emb`` when the caller already holds it (a footer read); it only
    sizes the threshold, so a stale ``n`` costs at most the fallback,
    never a different sample.

    A prefix of this order is exactly the smaller sample, so callers
    that train several quantizers draw the largest sample once and
    take each one's prefix (``md5_prefix``)."""
    order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    if n is None:
        n = emb.count()
    if n > 4 * k > 0:
        t = min(1 << 32, int((1 << 32) * 2.0 * k / n) + 1)
        pref = (
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                16, 10,
            ).cast("long")
        )
        rows = emb.where(pref < t).orderBy(*order).limit(k).collect()
        if len(rows) >= k:
            return rows
    return emb.orderBy(*order).limit(k).collect()


def md5_prefix(sample: list, k: int) -> list:
    """The md5-ordered sample of ``k`` rows taken from a larger
    ``md5_sample``, sorted by vec_id (the training order)."""
    return sorted(sample[:k], key=lambda r: r.vec_id)


def md5_sample_rows(emb: DataFrame, k: int, n: int | None = None) -> list:
    """Deterministic md5-ordered sample of ``k`` rows, sorted by vec_id
    (see ``md5_sample``)."""
    return md5_prefix(md5_sample(emb, k, n), k)


def lloyd_update(pts: np.ndarray, assign: np.ndarray, cent: np.ndarray) -> None:
    """One Lloyd mean step in place: ``cent[c]`` becomes the mean of the
    rows of ``pts`` assigned to ``c``; empty cells keep their row.  The
    per-cell sums are ``np.bincount`` folds, which add in ascending row
    order exactly as ``pts[assign == c].mean(axis=0)`` does for d ≥ 2
    (at d = 1 numpy's mean switches to pairwise summation), so the
    result is bitwise that of the per-cell loop."""
    k, d = cent.shape
    counts = np.bincount(assign, minlength=k)
    sums = np.stack(
        [np.bincount(assign, weights=pts[:, j], minlength=k) for j in range(d)],
        axis=1,
    )
    live = counts > 0
    cent[live] = sums[live] / counts[live, None]


def train_centroids(
    emb: DataFrame | None,
    nlist: int,
    sample_per_cell: int = SAMPLE_PER_CELL,
    iters: int = 2,
    n: int | None = None,
    sample: list | None = None,
) -> np.ndarray:
    """Deterministic sampled Lloyd refinement (the k-means|| shortcut:
    train on a bounded sample, not the corpus).

    A deterministic md5-ordered sample of ~``sample_per_cell · nlist``
    points is collected to the driver — O(nlist · d) = O(sqrt(N)) bytes,
    the same order as the centroid broadcast itself — initialized from
    the ``nlist`` lowest-vec_id sampled points, and refined with
    ``iters`` Lloyd steps in numpy.  Empty cells keep their previous
    centroid.  Everything is a pure function of (vec_id, embedding), so
    retries and re-runs reproduce the same quantizer.  ``sample`` is a
    larger ``md5_sample`` the caller already drew (its prefix is this
    sample); ``n`` is the row count of ``emb`` when known.

    On clustered data this tracks the density modes the lowest-id
    pseudo-centroids miss (recall comparison in tests/test_ann_recall.py);
    the lowest-id scheme remains the declared oracle-mirrorable variant.
    """
    k = nlist * sample_per_cell
    if sample is None:
        sample = md5_sample(emb.select("vec_id", "embedding"), k, n)
    rows = md5_prefix(sample, k)
    pts = np.array([r.embedding for r in rows], dtype="f8")
    nlist = min(nlist, len(pts))
    cent = pts[:nlist].copy()
    for _ in range(iters):
        d2 = (
            (pts * pts).sum(axis=1, keepdims=True)
            - 2.0 * pts @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )
        lloyd_update(pts, d2.argmin(axis=1), cent)
    return cent


# --- two-level coarse assignment --------------------------------------------

SUPER_PROBE = 2  # super-cells probed per point
TWO_LEVEL_MIN = 64  # below this many cells a flat scan is cheaper


def build_two_level(cent_mat: np.ndarray, iters: int = 2):
    """Cluster the centroids themselves into ~sqrt(nlist) super-cells
    (deterministic Lloyd, init = first centroids).  Returns
    (super_mat, children) where children[s] lists the centroid indices
    under super-cell s.  Pure function of cent_mat — same broadcast
    everywhere."""
    nsup = max(4, int(round(math.sqrt(len(cent_mat)))))
    nsup = min(nsup, len(cent_mat))
    sup = cent_mat[:nsup].copy()
    for _ in range(iters + 1):
        d2 = (
            (cent_mat * cent_mat).sum(axis=1, keepdims=True)
            - 2.0 * cent_mat @ sup.T
            + (sup * sup).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        if _ < iters:
            lloyd_update(cent_mat, assign, sup)
    children = [np.flatnonzero(assign == s) for s in range(nsup)]
    return sup, children


def two_level_cells(
    pts: np.ndarray,
    cent_mat: np.ndarray,
    sup: np.ndarray,
    children: list[np.ndarray],
    nprobe: int,
    super_probe: int = SUPER_PROBE,
):
    """Top-``nprobe`` cell indices per point, scanning only the centroids
    under each point's ``super_probe`` nearest super-cells: per-point
    work O(nsup + super_probe·nlist/nsup) = O(sqrt(nlist)) instead of
    O(nlist) — in MEMORY too: candidates live as sparse
    (row, cell, d2) triples, never an (n × nlist) matrix, so a 10k-row
    Arrow batch against a 63k-cell quantizer holds ~MBs, not the ~5 GB
    a dense inf-filled table would (review finding).  A point whose
    probed supers hold fewer than ``nprobe`` children in total (skewed
    child counts — hypothesis-found edge) falls back to a full scan for
    that point alone, so every returned cell is always a genuinely
    scored one.  Returns (order, probe_d2, scanned): the top-k cell
    indices per point, their d2 values, and the number of
    point×centroid evaluations (cost-model tests)."""
    n, nlist = len(pts), len(cent_mat)
    nsup = len(sup)
    d2s = (
        (pts * pts).sum(axis=1, keepdims=True)
        - 2.0 * pts @ sup.T
        + (sup * sup).sum(axis=1)[None, :]
    )
    sp = min(super_probe, nsup)
    sup_top = np.argpartition(d2s, sp - 1, axis=1)[:, :sp]
    scanned = n * nsup
    rows_l, cells_l, vals_l = [], [], []
    for s in range(nsup):
        idx = children[s]
        if not len(idx):
            continue
        mask = (sup_top == s).any(axis=1)
        if not mask.any():
            continue
        sub = pts[mask]
        c = cent_mat[idx]
        d2 = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ c.T
            + (c * c).sum(axis=1)[None, :]
        )
        r = np.flatnonzero(mask)
        rows_l.append(np.repeat(r, len(idx)))
        cells_l.append(np.tile(idx, len(r)))
        vals_l.append(d2.ravel())
        scanned += len(r) * len(idx)
    k = min(nprobe, nlist)
    order = np.zeros((n, k), dtype="i8")
    probe_d2 = np.full((n, k), np.inf)
    if rows_l:
        rows = np.concatenate(rows_l)
        cells = np.concatenate(cells_l)
        vals = np.concatenate(vals_l)
        # children partition the centroids, so (row, cell) pairs are
        # unique; rank within row by d2 and keep the first k
        o = np.lexsort((vals, rows))
        rows, cells, vals = rows[o], cells[o], vals[o]
        start = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
        counts = np.diff(np.r_[start, len(rows)])
        rank = np.arange(len(rows)) - np.repeat(start, counts)
        keep = rank < k
        order[rows[keep], rank[keep]] = cells[keep]
        probe_d2[rows[keep], rank[keep]] = vals[keep]
    bad = np.isinf(probe_d2).any(axis=1)
    if bad.any():
        sub = pts[bad]
        d2b = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ cent_mat.T
            + (cent_mat * cent_mat).sum(axis=1)[None, :]
        )
        order[bad] = np.argpartition(d2b, k - 1, axis=1)[:, :k]
        probe_d2[bad] = np.take_along_axis(d2b, order[bad], axis=1)
        scanned += int(bad.sum()) * nlist
    return order, probe_d2, scanned
