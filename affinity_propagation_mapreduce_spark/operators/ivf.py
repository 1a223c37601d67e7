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
within-cell work is O(N²/nlist).)

Coarse assignment is exact: ``nearest_cells`` scores every point
against every centroid, in row strips of at most ``D2_STRIP_VALUES``
d2 values, so no rows × nlist matrix is ever held whole.  A two-level
quantizer (score sqrt(nlist) super-cells, then only their children)
is the next step only past a measured crossover: on one 10k-row batch
with one BLAS thread (4-core x86 host) it was slower than the exact
strips at every nlist measured at d=64 (up to 20,000) and at d=768 up
to nlist 8,944 (10M vectors at this sizing), and faster, by 1.2–1.8×
on the assignment step alone, only at d=768 from nlist 12,649 (20M
vectors) on, while it filed 3.2–4.3% of the rows outside their
nearest cell.

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


# d2 values one strip of ``nearest_cells`` holds: 32 MB of float64.  A
# 10k-row Arrow batch stays one strip up to nlist 419, and
# train_centroids' 8·nlist-row sample up to nlist 724.
D2_STRIP_VALUES = 1 << 22


def nearest_cells(pts: np.ndarray, cent: np.ndarray, nprobe: int = 1):
    """Each row's ``nprobe`` nearest centroids and its nearest one,
    exactly: ``(order, home)``, ``order`` an (n, min(nprobe, nlist))
    array of row positions into ``cent`` (unordered past one column)
    and ``home`` each row's nearest cell.  Squared distances are
    ``|x|² - 2x·c + |c|²`` over row strips of at most
    ``D2_STRIP_VALUES`` values; a matrix within the budget is one
    strip, the whole call, since BLAS results depend on the product's
    shape.  Ties: with one probe, ``home`` is ``d2.argmin`` (the lowest
    cell); with more, ``order`` is an ``argpartition`` and ``home`` the
    first of its columns at the least d2."""
    n, nlist = len(pts), len(cent)
    k = min(nprobe, nlist)
    step = max(1, D2_STRIP_VALUES // max(nlist, 1))
    order = np.empty((n, k), dtype="i8")
    home = np.empty(n, dtype="i8")
    for s in range(0, n, step):
        x = pts[s : s + step]
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * x @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )
        if k == 1:
            home[s : s + step] = order[s : s + step, 0] = d2.argmin(axis=1)
            continue
        o = np.argpartition(d2, k - 1, axis=1)[:, :k]
        near = np.take_along_axis(d2, o, axis=1).argmin(axis=1)
        order[s : s + step] = o
        home[s : s + step] = o[np.arange(len(x)), near]
    return order, home


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
        lloyd_update(pts, nearest_cells(pts, cent)[1], cent)
    return cent
