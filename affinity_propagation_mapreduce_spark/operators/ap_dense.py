"""Blocked dense Affinity-Propagation engine (the MR-AP row/column jobs
as Arrow-vectorized block kernels).

The coordinate-format passes in ``ap.py`` are the semantic reference: each
is relational algebra the DuckDB oracle mirrors CTE-for-CTE.  Run as a
dense loop they were job-heavy: three full scans of the O(N²) coordinate
state per iteration, ~3 s/iteration at N=2000 of which <0.1 s was
arithmetic.  That loop is deleted; ``ap.cluster`` and
``ap.cluster_converged`` run here too.

This module is the SAME algorithm in the shape the MR-AP paper actually
describes — a row-parallel responsibility update and a column-stats
reduce — with the matrix stored as row blocks:

* state = one row per point i: ``(i, s[N], r[N], a[N])`` (arrays ordered
  by ascending vec_id), cut into ``nb`` id-contiguous blocks
  (``_n_blocks``/``_block_bounds``) whose size is bounded by
  ``_TARGET_BLOCK_BYTES``;
* the responsibility update is row-local (``_r_block`` — bitwise the
  formulation of ``ap_numpy_oracle.iterate``, itself proven equal to the
  coordinate passes in tests/test_ap_numpy.py);
* the availability update needs only two N-vectors of column statistics:
  per-block partials (rows sorted by i → deterministic numpy pairwise
  sums) combined in block order — the classic MR column job.  The block
  cut fixes that summation order, and so the output bits;
* the whole query is ONE single-task job over the embeddings broadcast
  (``_one_task_chain``): the task folds S, takes both preference
  scalars, runs all T iterations with the blocks spread over the
  host's cores (``_chain_blocks``) and labels every
  point by ``assign``'s rule; labels, preferences, exemplar set, the
  exemplar count and the convergence delta max|r_t − r_{t−1}| of each
  iteration ride an accumulator.  ``DenseAP.record`` runs that job for
  the records alone, so ``ap.q_ap_assign`` and ``ap.cluster`` are that
  job plus their own action and nothing N² leaves the task;
  ``DenseAP.chain`` also emits the final state and checkpoints it, for
  the one reader of a state (the T=1 coordinate view) and tests.  With
  a ``convergence_iter`` the task stops at Frey & Dueck's rule instead
  of at T (``ap.cluster_converged``).

Float parity: s is computed by one fold (``_fold_s``) with the same
sequential per-dimension accumulation as ``ap.similarity_off_diagonal``
(bitwise equal to DuckDB's ``list_reduce`` fold), the responsibility
update is selection arithmetic (bitwise), and availability depends on
group sums whose ordering already differs between any two engines —
outputs that expose it are rounded to 3 decimals on both sides (ap.py
module docstring).  The median preference is ``ap._interp_median``,
bitwise-equal to ``percentile(s, 0.5)``.

Scale gate: ``BLOCKED_MAX_N`` bounds the dense N² regime.  Below it
every dense AP query iterates in the one-task chain.  The gate is NOT
driver-memory-bound — the N² matrix lives in one task, and the driver
only sees O(N) labels and deltas.  The binding costs are the N² kernel
work per iteration and the task's resident N² arrays (s, r and a;
measured at ``BLOCKED_MAX_N``).  Above the gate the dense
queries, ``ap.cluster`` and ``ap.cluster_converged`` are refused
(``ap._dense`` raises): ``ap.cluster_sparse`` is the scale path.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import table
from ..sources.tables import parquet_data_files
from .ap import _ckpt, _interp_median

DAMPING = 0.5
# The dense gate: N² kernel work and the chain task's resident N² arrays
# (s, r, a: 3·N²·8 B, 2.4 GB at N=10,000) bound it.  Warm
# q_ap_assign().count() and peak RSS of the process tree
# (perfbench/spans.Poller, over a cold and a warm op), generated corpora
# (perfbench gen.write_embeddings: seed 7, 16 centres, spread 1.0,
# d=32), T=5, 4-core host, 4 GB driver heap, 3 alternating fresh
# processes per side, labels md5-equal at every N.  "state emitted" is
# the earlier chain, which shipped and localCheckpointed its final
# state, kept the next r resident and ran its blocks on one core;
# "records only" is this one:
#   N       warm op: state emitted / records only   peak RSS: emitted / records only
#   3,000   3.33–4.38 s / 1.43–1.67 s                1.44–1.48 GB / 1.05–1.07 GB
#   7,500   18.5–20.4 s / 6.57–7.75 s                4.31–5.21 GB / 2.56–2.70 GB
#   10,000  39.1–39.7 s / 11.9–12.7 s                6.95–7.39 GB / 4.08–4.16 GB
# The value stays at 10,000: perfbench's ap_sparse workload (N=10,500)
# must lie above it, so moving it waits for a change to the benchmark.
BLOCKED_MAX_N = 10_000
# ap.cluster_sparse's one gate.  At or below it the sparse ragged state
# (~n·k·24 B, ~3 MB at 4k points, k=32) fits ONE task: build + T
# iterations + assignment run as a single job (cluster_sparse_blocked);
# above it the coordinate loop.  At N=4,000 on a 4-core host (T=5, warm):
# one-task 4.5–5.2 s, coordinate loop 9.1–9.3 s (36 jobs), the deleted
# distributed ragged loop 9.7–11.0 s (20 jobs).
SPARSE_FUSED_MAX_N = 4_000
# NOTE (dense one-task query, measured): the r15 "fused-small" dense
# branch ran similarity + preference + T iterations in one task and lost
# to the distributed loop (N=2,000, 32 cores: 8.5 s bench reading vs
# ~4.4 s), so it was reverted.  DenseAP._one_task_chain runs those steps
# and the labels in one task again and wins, because that loss was the
# old kernel's own work: it took the 2nd max with np.partition (1.7 s vs
# 0.04 s per 2000² block for _r_block's masked max) and ran _r_block
# twice per iteration.  Without that, a job boundary costs more than the
# work it spreads: the one-core fold is ~0.24 s at N=1,500, while a
# separate state0 job paid a job floor and shipped S three ways (54 MB
# to the JVM, 18 MB back through an accumulator, 18 MB into the loop
# task), and a separate assignment job read (i, s) a third time.  Warm
# q_ap_assign per Spark job, the three-job path (state0, loop task,
# assign) against the one-task query (query task, label count),
# generated d=32 corpora, T=5, 4-core host, 6 ops (3 processes × 2) each:
#   N      job                          three jobs    one-task query
#   1,500  state0 (nb tasks)            0.60–0.75 s   —
#          loop task / query task       0.73–0.88 s   0.94–1.43 s
#          assign / label count         0.21–0.45 s   0.02–0.04 s
#          op wall                      1.91–2.43 s   1.20–1.84 s
#   5,000  state0 (nb tasks)            3.1–4.5 s     —
#          loop task / query task       6.8–8.2 s     8.7–10.7 s
#          assign / label count         0.9–1.1 s     0.02–0.04 s
#          op wall                      12.1–14.3 s   8.9–10.9 s
# At N=5,000 the task's one-core fold and preferences alone take
# 3.9–4.2 s and 0.5–0.7 s, about state0's job wall, and the op is still
# ~3 s faster.  The 32-core side of the r15 result was not re-measured.
# _TARGET_BLOCK_BYTES and _MIN_BLOCK_BYTES size state0's tasks, and the
# same cut (_n_blocks) is the chain's block order for the column sums:
# changing either changes the output bits.
_TARGET_BLOCK_BYTES = 64 << 20  # per-task state footprint bound (3 N-arrays/row)
# Work floor per block: the JVM↔Python handshake is paid per TASK, so
# splitting a small state across every core is a net loss (measured on
# local[32]: a tiny-payload mapInPandas round trip costs ~0.44 s at 32
# tasks vs ~0.28 s at 8 — the kernel compute at that size is microseconds).
# A block must carry at least this much state before we split further;
# the cap stays defaultParallelism and the memory bound still wins at
# large N, so the choice is problem-size-adaptive, not a core-count tune.
_MIN_BLOCK_BYTES = 8 << 20
# Rows per strip of _fold_s: a strip's accumulator and difference rows
# (2 × 64 × N × 8 B, 1.5 MB at N=1,500) stay cache-resident across the
# d passes.  N=1,500, d=32, one core, 7 runs each: 0.31–0.38 s
# unstripped, 0.22–0.25 s in 64-row strips (32 and 128 rows within
# 0.03 s of 64), bitwise equal.
_FOLD_STRIP = 64

_STATE_SCHEMA = "i long, s array<double>, r array<double>, a array<double>"


def _load_embeddings_arrow(sf_dir: str):
    """Driver-side (ids, matrix) load of the O(N·d) embeddings dimension
    table via pyarrow — the same doubles the Spark collect produced (the
    f4→f8 widening is exact), without the collect's Spark job (guide §5:
    the table is driver-resident model input either way — it is broadcast
    whole).  Only ever called below BLOCKED_MAX_N (≤10k rows).  Returns
    None when the source is not a locally readable parquet file/dir, and
    the caller falls back to the Spark collect."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = parquet_data_files(f"{sf_dir}/embeddings.parquet")
        if not files:
            return None
        tbl = pa.concat_tables(
            [pq.read_table(f, columns=["vec_id", "embedding"]) for f in files]
        )
        ids = tbl.column("vec_id").to_numpy()
        col = tbl.column("embedding").combine_chunks()
        n = len(ids)
        flat = col.values.to_numpy(zero_copy_only=False)
        if n == 0 or flat.size % n != 0:
            return None  # ragged/empty: let the Spark path decide
        mat = flat.astype("f8", copy=False).reshape(n, flat.size // n)
        order = np.argsort(ids)
        return ids[order].astype("i8", copy=False), np.ascontiguousarray(
            mat[order]
        )
    except Exception:
        return None


def _decode_state(batches, cols=(1, 2, 3)):
    """Decode (i, s, r, a) Arrow record batches to numpy: the list
    columns' flat values buffers reshaped to (rows, n) — the same
    doubles ``np.stack`` over the pandas object column produced, without
    the per-row boxing (guide §4.2; measured ~0.16 s/job on the 96 MB
    state round trip).  Returns (iv, [matrix per requested col]) over
    ALL batches concatenated, or None when the partition is empty.
    Raises on a ragged row — the state is fixed-width by construction,
    and silent misalignment must fail loud."""
    ivs: list[np.ndarray] = []
    mats: dict[int, list[np.ndarray]] = {c: [] for c in cols}
    for b in batches:
        nr = b.num_rows
        if nr == 0:
            continue
        ivs.append(b.column(0).to_numpy(zero_copy_only=False))
        for c in cols:
            flat = b.column(c).flatten().to_numpy(zero_copy_only=False)
            if flat.size % nr != 0:
                raise ValueError("ragged state row in blocked AP state")
            mats[c].append(flat.reshape(nr, flat.size // nr))
    if not ivs:
        return None
    iv = np.concatenate(ivs) if len(ivs) > 1 else ivs[0]
    out = []
    for c in cols:
        m = mats[c]
        out.append(np.concatenate(m) if len(m) > 1 else m[0])
    return iv, out


def _encode_state(iv, s, r, a):
    """(i, s, r, a) numpy → one Arrow record batch matching
    ``_STATE_SCHEMA`` — list arrays built over the matrices' flat
    buffers (same doubles the pandas path shipped)."""
    import pyarrow as pa

    n_, w = s.shape
    offs = pa.array(np.arange(0, (n_ + 1) * w, w, dtype="i4"))

    def lst(m):
        return pa.ListArray.from_arrays(offs, pa.array(np.ascontiguousarray(m).ravel()))

    return pa.RecordBatch.from_arrays(
        [pa.array(np.asarray(iv, dtype="i8")), lst(s), lst(r), lst(a)],
        names=["i", "s", "r", "a"],
    )


def _n_blocks(spark: SparkSession, n: int) -> int:
    par = spark.sparkContext.defaultParallelism
    row_bytes = 3 * n * 8
    total = n * row_bytes
    by_mem = (total + _TARGET_BLOCK_BYTES - 1) // _TARGET_BLOCK_BYTES
    by_work = max(1, total // _MIN_BLOCK_BYTES)
    return min(n, max(int(by_mem), min(par, int(by_work))))


def _block_bounds(n: int, nb: int) -> np.ndarray:
    """Row bounds of the ``nb`` near-equal id-contiguous blocks of the
    sorted ids: block b is rows [bounds[b], bounds[b+1]).  State0's
    partitions and the chain's blocks are both cut here; the cut fixes
    the order the column sums are combined in, and so the output bits."""
    return np.linspace(0, n, nb + 1).astype("i8")


def _fold_s(av: np.ndarray, m: np.ndarray, workers: int = 1) -> np.ndarray:
    """s(i, k) = −Σ_d (av[i, d] − m[k, d])² for every row of ``av``
    against every row of ``m`` (RAW diagonal: −0.0), folded sequentially
    per dimension in f8 — the fold of ``ap.similarity_off_diagonal``.
    The one copy of it: state0's blocks, the chain's and
    ``pref_value``'s matrix.

    Rows are independent, so folding in ``_FOLD_STRIP``-row strips, on
    ``workers`` threads (the ufuncs release the GIL), changes no bit;
    the in-place subtract/square/add is the same elementwise op sequence
    with less memory traffic (the fold is bandwidth-bound on a 4-core
    host, not flop-bound).  A single-task job passes the host's cores:
    at N=7,500, d=32 the one-core fold took 12.8 s of the chain task,
    and 4 threads fold the same rows ~4× faster.  ``m`` is transposed
    once so each pass reads dimension d contiguously, not as a
    row-strided column.

    The square matrix (``av is m``) is bitwise symmetric, since
    (x − y)² = (y − x)² exactly: each strip folds only the columns at
    or after its first row, and a second pass copies the transposed
    upper blocks into the lower triangle (N=7,500, d=32, 4 threads:
    1.43 → 0.97 s).  A row block of state0 keeps the full fold."""
    from concurrent.futures import ThreadPoolExecutor

    out = np.empty((len(av), len(m)))
    mT = np.ascontiguousarray(m.T)
    square = av is m

    def strip(lo):
        c0 = lo if square else 0
        acc = out[lo : lo + _FOLD_STRIP, c0:]
        dv = np.empty_like(acc)
        acc.fill(0.0)
        for d in range(len(mT)):
            np.subtract(av[lo : lo + len(acc), d, None], mT[d][None, c0:], out=dv)
            np.multiply(dv, dv, out=dv)
            np.add(acc, dv, out=acc)
        np.negative(acc, out=acc)

    def mirror(lo):
        out[lo : lo + _FOLD_STRIP, :lo] = out[:lo, lo : lo + _FOLD_STRIP].T

    with ThreadPoolExecutor(workers) as pool:
        strips = range(0, len(av), _FOLD_STRIP)
        list(pool.map(strip, strips))
        if square:
            list(pool.map(mirror, strips))
    return out


def _pref_scalars(s: np.ndarray) -> dict[str, float]:
    """Both preference scalars of a full RAW-diagonal s that is bitwise
    symmetric, as ``_fold_s`` makes it: the exact min and the
    interpolated median (bitwise ``percentile(s, 0.5)``) of its N²−N
    off-diagonal values, taken over the N(N−1)/2 values of the strict
    upper triangle (one concatenation of the row tails, which the
    median partitions in place).  Every off-diagonal value appears
    exactly twice in the full list, so its two middle order statistics
    are the upper list's middle pair (even count) or its middle value
    twice (odd count), and ``_interp_median`` returns the same double
    for both."""
    n = len(s)
    upper = np.concatenate([s[i, i + 1 :] for i in range(n - 1)])
    return {"min": float(upper.min()), "median": _interp_median(upper)}


def _assign_rows(iv: np.ndarray, s: np.ndarray, ids: np.ndarray, ex: np.ndarray):
    """``assign``'s rule for the rows ``iv`` of s (columns in ``ids``
    order) and a non-empty sorted exemplar set ``ex``: argmax over
    exemplars k of s(i, k), first occurrence == lowest k, and exemplars
    label themselves."""
    lab = ex[s[:, np.searchsorted(ids, ex)].argmax(1)]
    member = np.isin(iv, ex)
    lab[member] = iv[member]
    return lab


def _r_block(s: np.ndarray, r: np.ndarray, a: np.ndarray, lam: float) -> np.ndarray:
    """Damped responsibility update for a block of rows — the exact
    ``ap_numpy_oracle.iterate`` formulation (row-local, so identical on
    blocks and on the full matrix).

    The 2nd-largest-including-duplicates is a masked max (blank the
    argmax slot, take the row max again) rather than the previous
    ``np.partition(asv, n-2, axis=1)``: both SELECT the same element, so
    the value is bitwise identical (pinned by the round-8 equality
    tests), but the partition materializes a full sorted-split copy of
    the block per call — measured 1.7 s vs 0.04 s on a 2000² block
    (guide §1.2 "per-task work"; ``asv`` is local, so the in-place
    blanking is safe).  s − excl is the broadcast s − m1 written over
    ``asv`` with the argmax slots then set to s − m2, and the damping
    runs in place: the same elementwise operations, so the same bits,
    with one block-sized temporary besides the result."""
    asv = a + s
    arg1 = asv.argmax(1)
    rows = np.arange(s.shape[0])
    m1 = asv[rows, arg1]
    asv[rows, arg1] = -np.inf
    m2 = asv.max(1)  # 2nd largest incl dups (max is blanked at ONE slot)
    d = np.subtract(s, m1[:, None], out=asv)
    d[rows, arg1] = s[rows, arg1] - m2
    out = np.multiply(r, lam)
    out += np.multiply(d, 1 - lam, out=d)
    return out


def _r_pass(s, r, a, rows, di, iv, lam: float):
    """A block's responsibility pass of one damped iteration: r_new =
    ``_r_block(s, r, a)`` → (r_new, partial).  ``partial`` is the
    block's ``_combine_partials`` entry: the clipped column sum Σ_i
    max(0, r_new) with the diagonal excluded (pairwise over the
    id-sorted rows), the block's ids, its diagonal r_new and max|r_new −
    r| (a max is exact and order-free, so the combined delta is bitwise
    the coordinate join's).  The delta is written over the clipped
    copy once its sum is taken."""
    r_new = _r_block(s, r, a, lam)
    rp = np.maximum(r_new, 0.0)
    rp[rows, di] = 0.0
    colsum = rp.sum(0)
    dr = np.subtract(r_new, r, out=rp)
    return r_new, (colsum, iv, r_new[rows, di], float(np.abs(dr, out=dr).max()))


def _a_pass(r, a, rows, di, colsum, rkk, lam: float) -> np.ndarray:
    """A block's availability pass of one damped iteration, given its
    responsibilities r and their combined column stats (colsum, rkk) →
    a_new = λ·a + (1 − λ)·a_hat, with a_hat(i, k) = min(0, r(k, k) +
    Σ_{i'≠k} max(0, r(i', k)) − max(0, r(i, k))) off the diagonal and
    Σ_{i'≠k} max(0, r(i', k)) on it.

    The clipped r is recomputed here rather than kept from ``_r_pass``,
    and a_hat and its damping are written over it.  Keeping it would
    hold one more N² array for no time won: measured at N=7,500 (d=32,
    T=5, 4 threads), kept cost 0.6 GB more peak RSS and the loop was no
    faster (3.4–3.9 s kept, 3.1–3.2 s recomputed)."""
    rp = np.maximum(r, 0.0)
    rp[rows, di] = 0.0
    a_hat = np.subtract(rkk + colsum, rp, out=rp)
    np.minimum(0.0, a_hat, out=a_hat)
    a_hat[rows, di] = colsum[di]
    a_new = np.multiply(a, lam)
    a_new += np.multiply(a_hat, 1 - lam, out=a_hat)
    return a_new


def _chain_blocks(
    s: np.ndarray,
    ids: np.ndarray,
    nb: int,
    p: float,
    lam: float,
    iterations: int,
    convergence_iter: int | None = None,
    workers: int = 1,
):
    """The chain task's loop over the full RAW-diagonal s (rows and
    columns in ``ids`` order): patch the diagonal to the preference
    ``p``, cut the rows into ``nb`` blocks (``_block_bounds``), run the
    damped iterations from r = a = 0 and label the final state by
    ``assign``'s rule → (final state blocks ``[(iv, s, r, a)]``,
    exemplar ids, deltas, exemplar count per iteration, labels — one per
    point in ids order, none when no exemplar was elected).

    An iteration is the MR-AP pair of passes: ``_r_pass`` on every
    block, the column stats combined by ``_combine_partials`` in block
    order, then ``_a_pass`` on every block and its exemplar candidates
    a(k,k) + r(k,k) > 0.  Each pass maps the blocks over ``workers``
    threads (numpy releases the GIL); a block's pass touches only its
    own rows, arrays and list, so no bit depends on ``workers``.  A
    block's old r or a is dropped as soon as its pass ends, so the
    resident N² arrays are s, r and a (fold plus this loop alone in one
    process at N=7,500, d=32, T=5, 4 threads: 1.8–1.9 GB peak RSS).
    With ``convergence_iter`` the loop stops early by Frey & Dueck's
    rule: once the exemplar set has been non-empty and equal to the
    previous iteration's for ``convergence_iter`` consecutive
    iterations; ``iterations`` is then the cap.  One delta and one count
    are recorded per iteration run."""
    from concurrent.futures import ThreadPoolExecutor

    bounds = _block_bounds(len(ids), nb)
    blocks = []  # [iv, s, r, a, rows, diagonal columns] per block
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if lo < hi:
            biv, sb = ids[lo:hi], s[lo:hi]
            rows = np.arange(hi - lo)
            di = np.searchsorted(ids, biv)
            sb[rows, di] = p
            z = np.zeros(sb.shape)
            blocks.append([biv, sb, z, z, rows, di])

    def r_step(blk):
        biv, sb, r, a, rows, di = blk
        blk[2], part = _r_pass(sb, r, a, rows, di, biv, lam)
        return part

    def a_step(blk):
        biv, _, r, a, rows, di = blk
        blk[3] = _a_pass(r, a, rows, di, colsum, rkk, lam)
        return biv[(blk[3][rows, di] + r[rows, di]) > 0]

    deltas, counts, prev, stable = [], [], None, 0
    with ThreadPoolExecutor(workers) as pool:
        for _ in range(iterations):
            parts = {int(part[1][0]): part for part in pool.map(r_step, blocks)}
            colsum, rkk = _combine_partials(parts, ids)
            deltas.append(max(part[3] for part in parts.values()))
            ex = np.sort(np.concatenate(list(pool.map(a_step, blocks))))
            counts.append(ex.size)
            if convergence_iter is None:
                continue
            if prev is not None and ex.size and np.array_equal(ex, prev):
                stable += 1
                if stable >= convergence_iter:
                    break
            else:
                stable = 0
            prev = ex
    lab = _assign_rows(ids, s, ids, ex) if ex.size else ex
    final = [tuple(blk[:4]) for blk in blocks]
    return final, ex, np.array(deltas, dtype="f8"), np.array(counts, dtype="i8"), lab


class _PartialsAcc(AccumulatorParam):
    """The chain task's result (exemplar set, deltas, exemplar counts,
    labels, preferences) under key 0.  Merge is key-OVERWRITE: the task is
    deterministic, so a retried or speculative attempt re-adds the
    identical value under the same key — the accumulator stays correct
    without relying on Spark's exactly-once-per-result-task
    bookkeeping."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _combine_partials(parts: dict, ids: np.ndarray):
    """Combine the per-block column-stats partials (colsum, diag_i,
    diag_r, ...) in deterministic (min_i-sorted) block order → (colsum,
    rkk).

    Completeness invariant: the diag_i ids across all partials must cover
    every id exactly once.  A partial that was silently dropped (a future
    refactor skipping a block) would otherwise corrupt every later
    iteration without any symptom — this one O(N) check turns that into
    a loud failure."""
    keys = sorted(parts)
    colsum = np.sum(
        np.stack([np.asarray(parts[k][0], dtype="f8") for k in keys]), axis=0
    )
    rkk = np.zeros(len(ids), dtype="f8")
    cover: list[np.ndarray] = []
    for k in keys:
        di = np.asarray(parts[k][1], dtype="i8")
        cover.append(di)
        rkk[np.searchsorted(ids, di)] = np.asarray(parts[k][2], dtype="f8")
    got = np.sort(np.concatenate(cover)) if cover else np.empty(0, dtype="i8")
    if not np.array_equal(got, ids):
        raise RuntimeError(
            f"AP stats partials incomplete: {len(got)} diagonal ids from "
            f"{len(keys)} blocks, expected {len(ids)} distinct points — "
            "a partition's partial was dropped or duplicated"
        )
    return colsum, rkk


class DenseAP:
    """Per-(application, sf_dir) blocked engine instance.  Owns the
    embedding broadcast and the preference scalars; chains are run on
    demand and record their results here."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        loaded = _load_embeddings_arrow(sf_dir)
        if loaded is None:  # non-local / unreadable source: Spark collect
            emb = table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
            rows = emb.collect()  # the small O(N·d) dimension table
            order = np.argsort(np.array([r.vec_id for r in rows], dtype="i8"))
            self.ids = np.array([rows[j].vec_id for j in order], dtype="i8")
            mat = np.array([rows[j].embedding for j in order], dtype="f8")
        else:
            self.ids, mat = loaded
        self.n = len(self.ids)
        self.bc = spark.sparkContext.broadcast((self.ids, mat))
        self.nb = _n_blocks(spark, self.n)
        self._state0: DataFrame | None = None
        self._prefs: dict[str, float] = {}
        # per chain run, keyed (pref, lam, T, convergence_iter): the final
        # state's exemplar set, the convergence deltas max|r_t − r_{t−1}|
        # and exemplar count of each iteration it ran, and the final
        # state's labels
        self._runs: dict[tuple, tuple[np.ndarray, ...]] = {}

    def destroy(self) -> None:
        """Release executor-side state when this instance is evicted from
        ap._cache (testdata regenerated mid-application): the embeddings
        broadcast blocks and the checkpointed zero state would otherwise
        stay pinned for the application's lifetime."""
        try:
            self.bc.destroy()
        except Exception:
            pass
        if self._state0 is not None:
            try:
                # py4j cannot fill RDD.unpersist's Scala default argument
                self._state0._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass
            self._state0 = None

    # -- zero state ----------------------------------------------------

    def state0(self) -> DataFrame:
        """(i, s row, r=0, a=0) with the RAW diagonal (s(i,i) = -0.0),
        checkpointed once per instance, ``nb`` blocks of ``_fold_s``
        rows: the state before iteration 1, for its coordinate view.  No
        chain reads it: each folds S inside its one task."""
        if self._state0 is not None:
            return self._state0
        bc = self.bc
        nb = self.nb

        def sim_kernel(batches):
            ids_b, m_b = bc.value
            nn = len(ids_b)
            # nb near-equal CONTIGUOUS slices of the sorted-id row range;
            # every embedding the kernel needs is already in the broadcast,
            # so the job is a single stage over `range(nb)` — no parquet
            # re-scan and no repartition exchange (guide §2.4: the old
            # `emb.repartition(nb, "vec_id")` was a shuffle whose only
            # purpose was to deal rows to blocks the broadcast can deal
            # for free)
            bounds = _block_bounds(nn, nb)
            for b in batches:
                for blk in b.column(0).to_numpy(zero_copy_only=False):
                    lo, hi = int(bounds[blk]), int(bounds[blk + 1])
                    if lo >= hi:
                        continue
                    z = np.zeros((hi - lo, nn), dtype="f8")
                    yield _encode_state(
                        ids_b[lo:hi], _fold_s(m_b[lo:hi], m_b), z, z
                    )

        blocks = self.spark.range(0, nb, 1, nb)
        self._state0 = _ckpt(
            blocks.mapInArrow(sim_kernel, schema=_STATE_SCHEMA),
            eager=True,
        )
        return self._state0

    # -- preference ----------------------------------------------------

    def pref_value(self, kind: str = "median") -> float:
        """Exact preference scalar: interpolated median — bitwise equal
        to ``percentile(s, 0.5)`` — or exact min of the N²−N off-diagonal
        similarities.

        A chain records both as it runs, so no query calls this.  A call
        before any chain runs one single-task job over the embeddings
        broadcast that folds S with ``_fold_s`` and takes both scalars
        with ``_pref_scalars`` — the chain task's own code — so the
        driver only ever receives the two doubles.  (A JVM
        ``percentile(v, 0.5)`` + ``min(v)`` aggregate over the exploded
        values was measured 5-10× slower: exact percentile buffers a
        value→count map over ~N² mostly-distinct doubles.)"""
        if kind not in self._prefs:
            bc = self.bc

            def pref_kernel(batches):
                import pyarrow as pa

                for _ in batches:  # the one driving row of spark.range
                    pass
                _, m_b = bc.value
                p = _pref_scalars(_fold_s(m_b, m_b, os.cpu_count() or 1))
                yield pa.RecordBatch.from_pydict({k: [v] for k, v in p.items()})

            row = (
                self.spark.range(0, 1, 1, 1)
                .mapInArrow(pref_kernel, schema="min double, median double")
                .first()
            )
            self._prefs.update(row.asDict())
        return self._prefs[kind]

    # -- iteration -----------------------------------------------------

    def _one_task_chain(
        self,
        iterations: int,
        pref: str,
        lam: float,
        convergence_iter: int | None,
        emit: bool,
    ) -> DataFrame | None:
        """The whole dense query in ONE single-task job over the
        embeddings broadcast.  The task folds S with ``_fold_s`` on the
        host's cores (state0's rows, bitwise), takes both preference
        scalars from its off-diagonal as ``pref_value`` does, and runs
        ``_chain_blocks`` on as many threads (the iterations, the stop
        rule of ``convergence_iter`` and labels).  The run's
        exemplar set, deltas, exemplar counts, labels and both
        preferences ride an accumulator and are recorded here under
        (pref, lam, T, convergence_iter).

        With ``emit`` the task also yields the final state, one Arrow
        batch per block, and the job is its checkpoint → that state.
        Without it the job is a collect of an empty result → None: no N²
        byte crosses into the JVM and nothing is persisted.  Only the
        T=1 coordinate view reads a state."""
        bc = self.bc
        nb = self.nb
        acc = self.spark.sparkContext.accumulator({}, _PartialsAcc())

        def loop_kernel(batches):
            for _ in batches:  # the one driving row of spark.range
                pass
            ids_b, m_b = bc.value
            workers = os.cpu_count() or 1
            s = _fold_s(m_b, m_b, workers)
            prefs = _pref_scalars(s)
            blocks, *run = _chain_blocks(
                s, ids_b, nb, prefs[pref], lam, iterations, convergence_iter, workers
            )
            acc.add({0: (tuple(run), prefs)})
            if emit:
                for blk in blocks:
                    yield _encode_state(*blk)

        job = self.spark.range(0, 1, 1, 1).mapInArrow(loop_kernel, schema=_STATE_SCHEMA)
        if emit:
            state = _ckpt(job, eager=True)
        else:
            job.collect()  # empty: the run's records ride the accumulator
            state = None
        run, prefs = acc.value[0]
        self._runs[(pref, lam, iterations, convergence_iter)] = run
        self._prefs.update(prefs)
        return state

    def chain(
        self,
        iterations: int,
        lam: float = DAMPING,
        pref: str = "median",
        retain: bool = True,
        convergence_iter: int | None = None,
    ) -> list[DataFrame]:
        """States after iterations 1..T, each from one ``_one_task_chain``
        job that emits its final state and records that run (see
        ``record``).

        ``retain=False`` runs the T-iteration job once and returns only
        its final state.  ``retain=True`` runs one job per t = 1..T and
        returns all T states (bitwise the states after t iterations of
        the T-run; only tests read them).  ``convergence_iter`` turns T
        into a cap (see ``_chain_blocks``).  Raises ValueError for
        T < 1: there is no state to return."""
        if iterations < 1:
            raise ValueError(f"chain needs T >= 1 iterations, got {iterations}")
        return [
            self._one_task_chain(t, pref, lam, convergence_iter, emit=True)
            for t in range(1 if retain else iterations, iterations + 1)
        ]

    def record(
        self,
        iterations: int,
        lam: float = DAMPING,
        pref: str = "median",
        convergence_iter: int | None = None,
    ) -> None:
        """Run the chain for its records alone, unless that run is
        recorded already: its exemplar set, convergence deltas, exemplar
        counts and labels (``ex_hint``/``deltas``/``exemplar_counts``/
        ``labels``, keyed by the stop rule too) and both preferences.
        One single-task job that emits no state — what every dense query
        but the T=1 coordinate view reads.  Raises ValueError for T < 1."""
        if iterations < 1:
            raise ValueError(f"chain needs T >= 1 iterations, got {iterations}")
        if (pref, lam, iterations, convergence_iter) not in self._runs:
            self._one_task_chain(iterations, pref, lam, convergence_iter, emit=False)

    # -- consumers -----------------------------------------------------

    def _run_field(self, j: int, pref, lam, T, convergence_iter):
        run = self._runs.get((pref, lam, T, convergence_iter))
        return None if run is None else run[j]

    def ex_hint(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None,
        convergence_iter: int | None = None,
    ) -> np.ndarray | None:
        """Exemplar set {k : a(k,k) + r(k,k) > 0} of the final state of
        the chain run with (pref, lam, T, convergence_iter), sorted; None
        if none ran."""
        return self._run_field(0, pref, lam, T, convergence_iter)

    def deltas(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None,
        convergence_iter: int | None = None,
    ) -> np.ndarray | None:
        """max|r_t − r_{t−1}| over all (i, k) for each iteration t that
        chain run ran (unrounded; T of them unless the stop rule ended it
        early); None if none ran."""
        return self._run_field(1, pref, lam, T, convergence_iter)

    def exemplar_counts(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None,
        convergence_iter: int | None = None,
    ) -> np.ndarray | None:
        """|{k : a(k,k) + r(k,k) > 0}| after each iteration t that chain
        run ran, one per delta; None if none ran."""
        return self._run_field(2, pref, lam, T, convergence_iter)

    def labels(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None,
        convergence_iter: int | None = None,
    ) -> np.ndarray | None:
        """``assign``'s labels of the final state of the chain run with
        (pref, lam, T, convergence_iter): the exemplar of each point in
        ``ids`` order, empty when no exemplar was elected; None if none
        ran."""
        return self._run_field(3, pref, lam, T, convergence_iter)

    def assign(self, state: DataFrame, ex: np.ndarray) -> DataFrame:
        """label(i) = argmax over exemplars k of s(i,k), ties to lowest k,
        exemplars labeled as themselves (the ap.assign semantics); an
        empty ``ex`` yields no rows at all (sparse emits −1 instead —
        see cluster_sparse_blocked).  The chain's exemplar set ``ex`` is
        broadcast into a row-local kernel — no N² relation is rebuilt for
        the final argmax."""
        bc = self.bc
        ex_bc = self.spark.sparkContext.broadcast(ex)

        def assign_kernel(batches):
            import pyarrow as pa

            ids_b, _ = bc.value
            exb = ex_bc.value
            if len(exb) == 0:
                return
            for b in batches:
                got = _decode_state([b], cols=(1,))
                if got is None:
                    continue
                iv, (s,) = got
                yield pa.RecordBatch.from_arrays(
                    [pa.array(iv), pa.array(_assign_rows(iv, s, ids_b, exb))],
                    names=["vec_id", "exemplar"],
                )

        # only (i, s) cross into Python: the kernel never reads r or a
        return state.select("i", "s").mapInArrow(
            assign_kernel, schema="vec_id long, exemplar long"
        )

    def coordinate_view(self, state: DataFrame) -> DataFrame:
        """Explode a blocked state to the coordinate relation
        (i, k, s, r, a) for consumers written against the reference
        engine (A4/A5 and the parity pins).  A chain state is one
        partition; the explode runs over ``nb`` hash partitions of it.
        Counting the T=1 view at N=7,500 (nb=21) on a 4-core host took
        12.2–12.4 s so, against 13.1–14.1 s over the one partition and
        15.1–17.0 s over round-robin partitions (which sort the rows
        first)."""
        bc = self.bc

        def explode_kernel(batches):
            import pyarrow as pa

            ids_b, _ = bc.value
            for b in batches:
                got = _decode_state([b])
                if got is None:
                    continue
                iv, (s, r, a) = got
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(iv, len(ids_b))),
                        pa.array(np.tile(ids_b, len(iv))),
                        pa.array(s.ravel()),
                        pa.array(r.ravel()),
                        pa.array(a.ravel()),
                    ],
                    names=["i", "k", "s", "r", "a"],
                )

        return state.repartition(self.nb, "i").mapInArrow(
            explode_kernel, schema="i long, k long, s double, r double, a double"
        )


# ---------------------------------------------------------------------------
# One-task ragged sparse loop: the MR-AP row update and column-stats reduce
# over the k-NN candidate graph (ap.cluster_sparse at N <= SPARSE_FUSED_MAX_N)
# ---------------------------------------------------------------------------


def _sparse_r_row(s, r, a, lam):
    """Ragged responsibility update for ONE point's candidate row —
    mirrors the coordinate window semantics: single-entry rows get
    excl = m1 (the coordinate m2 is NULL there), duplicated maxima get
    m1 everywhere."""
    asv = a + s
    if len(s) == 1:
        return lam * r + (1 - lam) * (s - asv)
    arg1 = int(asv.argmax())
    m1 = asv[arg1]
    m2 = np.partition(asv, len(asv) - 2)[len(asv) - 2]
    excl = np.full(len(s), m1)
    excl[arg1] = m2
    return lam * r + (1 - lam) * (s - excl)


def _sparse_build_row(i_val, nbrs, pref: float):
    """One point's ragged row (ks, s): its candidates in ascending k
    (ties → lowest k downstream) with the preference inserted at its own
    id; a point without candidates gets the diagonal alone."""
    if nbrs is None or len(nbrs) == 0:
        return np.array([i_val], dtype="i8"), np.array([pref], dtype="f8")
    kk = np.array([x["k"] for x in nbrs], dtype="i8")
    vv = np.array([x["s"] for x in nbrs], dtype="f8")
    order = np.argsort(kk)
    pos = np.searchsorted(kk[order], i_val)
    return np.insert(kk[order], pos, i_val), np.insert(vv[order], pos, pref)


def _sparse_iterate(iv, ksc, sc, iterations: int, lam: float) -> np.ndarray:
    """T damped iterations over ragged rows (``iv`` ascending, one row
    per point, each holding its diagonal) → the elected exemplar ids.

    Each iteration computes every row's r once, then the clipped
    off-diagonal column sums — one sequential ``np.add.at`` over the
    rows in ascending-i order — and the diagonal r(k,k), then a:
    the coordinate ``responsibility_pass``/``availability_pass`` algebra
    with a fixed summation order."""
    idx = [np.searchsorted(iv, ks) for ks in ksc]
    own = [ks == i for ks, i in zip(ksc, iv)]
    flat_idx = np.concatenate(idx)
    rc = [np.zeros(len(ks), dtype="f8") for ks in ksc]
    ac = rc
    for _ in range(iterations):
        rc = [_sparse_r_row(s, r, a, lam) for s, r, a in zip(sc, rc, ac)]
        rp = [np.where(o, 0.0, np.maximum(r, 0.0)) for r, o in zip(rc, own)]
        colsum = np.zeros(len(iv), dtype="f8")
        np.add.at(colsum, flat_idx, np.concatenate(rp))
        rkk = np.array([r[o][0] for r, o in zip(rc, own)], dtype="f8")
        ac = [
            lam * a
            + (1 - lam)
            * np.where(o, colsum[ix], np.minimum(0.0, rkk[ix] + colsum[ix] - p))
            for a, p, ix, o in zip(ac, rp, idx, own)
        ]
    elected = [(a[o][0] + r[o][0]) > 0 for r, a, o in zip(rc, ac, own)]
    return iv[np.array(elected, dtype=bool)]


def _sparse_labels(iv, ksc, sc, exb: np.ndarray) -> np.ndarray:
    """Row-local assignment over ragged rows: exemplars label
    themselves, every other point its most similar exemplar among its
    candidates (ks ascending: ties → lowest k), or -1 with none."""
    lab = np.empty(len(iv), dtype="i8")
    for j in range(len(iv)):
        if len(exb) and iv[j] in exb:
            lab[j] = iv[j]
            continue
        ks = np.asarray(ksc[j], dtype="i8")
        sv = np.asarray(sc[j], dtype="f8")
        mask = np.isin(ks, exb) & (ks != iv[j])
        lab[j] = ks[mask][int(sv[mask].argmax())] if mask.any() else -1
    return lab


def cluster_sparse_blocked(
    spark: SparkSession,
    cand: DataFrame,
    ids_df: DataFrame,
    iterations: int,
    lam: float = DAMPING,
) -> DataFrame:
    """Sparse AP over a symmetric deduped candidate graph ``cand``
    (i, k, s) in ONE task: the ragged relation ``ids LEFT JOIN nbrs``
    (one row per point: its candidate list, plus the preference
    diagonal) is coalesced to a single partition, and the kernel
    computes the median preference from the candidate s values it holds
    (``ap._interp_median``, bitwise ``percentile(s, 0.5)``), runs the T
    iterations (``_sparse_iterate``) and labels every point — identical
    semantics to ``ap.responsibility_pass``/``availability_pass`` over
    the coordinate candidate relation (the loop ``ap.cluster_sparse``
    runs above SPARSE_FUSED_MAX_N), with one job instead of several per
    iteration.

    Emits (vec_id, exemplar) for EVERY point; points with no elected
    exemplar among their candidates get -1 (the honest sparse
    semantics, same as the coordinate loop).  Dense differs:
    ``DenseAP.assign`` emits NO row for a point with no exemplar, which
    happens only when the chain elects none at all (then the result is
    empty) — that row set is in the DuckDB hashes, so it stays."""
    import pandas as pd

    ragged = ids_df.selectExpr(f"{ids_df.columns[0]} as i").join(
        cand.groupBy("i").agg(
            F.collect_list(F.struct("k", "s")).alias("nbrs")
        ),
        "i",
        "left",
    )

    def kernel(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values("i", ignore_index=True)
        iv = pdf["i"].to_numpy(dtype="i8")
        chunks = [
            np.array([x["s"] for x in nbrs], dtype="f8")
            for nbrs in pdf["nbrs"]
            if nbrs is not None and len(nbrs) > 0
        ]
        if not chunks:  # empty candidate graph: nobody can elect an
            # exemplar it has no declared similarity to
            yield pd.DataFrame(
                {"vec_id": iv, "exemplar": np.full(len(iv), -1, "i8")}
            )
            return
        pref = _interp_median(np.concatenate(chunks))
        rows = [
            _sparse_build_row(i_val, nbrs, pref)
            for i_val, nbrs in zip(pdf["i"], pdf["nbrs"])
        ]
        ksc = [ks for ks, _ in rows]
        sc = [sv for _, sv in rows]
        exb = _sparse_iterate(iv, ksc, sc, iterations, lam)
        yield pd.DataFrame(
            {"vec_id": iv, "exemplar": _sparse_labels(iv, ksc, sc, exb)}
        )

    return ragged.coalesce(1).mapInPandas(
        kernel, schema="vec_id long, exemplar long"
    )
