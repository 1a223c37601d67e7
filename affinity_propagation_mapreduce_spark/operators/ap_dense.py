"""Blocked dense Affinity-Propagation engine (the MR-AP row/column jobs
as Arrow-vectorized block kernels).

The coordinate-format engine in ``ap.py`` is the semantic reference: every
pass is relational algebra the DuckDB oracle mirrors CTE-for-CTE.  It is
also job-heavy — each damped iteration costs three full scans of the O(N²)
coordinate state (top-2 window aggregate, column-stats aggregate, checkpoint
projection), and at bench scale (N=2000 → 4M rows × 5 iterations) the
per-job fixed costs dominate: ~3 s/iteration of which <0.1 s is arithmetic.

This module is the SAME algorithm in the shape the MR-AP paper actually
describes — a row-parallel responsibility job and a column-stats reduce —
with the matrix stored as row blocks:

* state = one DataFrame row per point i: ``(i, s[N], r[N], a[N])``
  (arrays ordered by ascending vec_id), hash-partitioned into blocks whose
  size is bounded by ``_TARGET_BLOCK_BYTES`` — block *count* grows as N²,
  block *size* stays constant, so the layout scales like any other
  fixed-split relation;
* the responsibility update is row-local (``_r_block`` — bitwise the
  formulation of ``ap_numpy_oracle.iterate``, itself proven equal to the
  coordinate passes in tests/test_ap_numpy.py);
* the availability update needs only two N-vectors of column statistics:
  per-partition partials (rows sorted by i → deterministic numpy pairwise
  sums) ride an accumulator (O(blocks·N) bytes), are combined on the
  driver in block order, and broadcast back — the classic MR column job;
* one iteration = ONE Arrow-vectorized update/checkpoint job
  (``DenseAP.chain``): the kernel applies the update and side-channels
  the next iteration's column stats, the exemplar set of the state it
  produced and the iteration's convergence delta max|r_t − r_{t−1}|.

Float parity: s is computed with the same sequential per-dimension
accumulation as ``ap.similarity_off_diagonal`` (bitwise equal to DuckDB's
``list_reduce`` fold), the responsibility update is selection arithmetic
(bitwise), and availability depends on group sums whose ordering already
differs between any two engines — outputs that expose it are rounded to 3
decimals on both sides (ap.py module docstring).  The median preference
reuses the interpolation formula proven bitwise-equal to
``percentile(s, 0.5)`` (ap._median_preference_fast).

Scale gate: ``BLOCKED_MAX_N`` bounds the dense N² regime.  Below it
every dense AP query iterates with the one fused loop of
``DenseAP.chain``.  The gate is NOT driver-memory-bound — above
ap._FAST_MEDIAN_MAX_N the preference is a rank-narrowing median and the
bootstrap column stats a job, so the driver only ever sees O(blocks·N)
accumulator payloads.  The binding costs are the N² kernel work per
iteration and the two resident 3·N²·8 B checkpointed states (measured:
N=12k blocked exceeds 10 min while the coordinate loop takes 661 s —
PLANS.md "blocked-gate probe").  Above the gate the dense queries are
refused (``ap._dense`` raises): ``ap.cluster_sparse`` is the scale path
and ``ap.cluster`` the coordinate reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import table
from ..sources.tables import parquet_data_files
from .ap import _ckpt, _release_ckpt

DAMPING = 0.5
BLOCKED_MAX_N = 10_000  # N² kernel work + 2 resident N² states bound this
# sparse ragged state (~n·k·24 B) small enough for ONE task: the whole
# build + T iterations + assignment fuses into a single job (~3 MB at
# 4k points, k=32) — see cluster_sparse_blocked's fused-small branch
SPARSE_FUSED_MAX_N = 4_000
# NOTE (r15 optimization round, measured negative): a dense fused-small
# branch — the whole retain=False chain (similarity + preference + T
# iterations) as ONE single-task job, bitwise-emulating the per-block
# column-sum order — was implemented, proven row-identical at sf0.1 on
# all 8 ap_* declared queries, and REVERTED: at N=2000 the single-core
# kernel is ~3.7 s and shipping the 96 MB state out of one Python
# worker adds ~2.5 s single-threaded Arrow/JVM work, vs ~4.4 s for the
# whole distributed fused loop (bench reading with the branch: 8.5 s).
# Unlike the sparse ragged state (~3 MB at the SPARSE_FUSED_MAX_N gate),
# the dense N² state is big enough that per-task parallelism still pays
# at the N it was measured at.  The surviving piece is the masked-max _r_block below, which the fused
# experiment surfaced.
_TARGET_BLOCK_BYTES = 64 << 20  # per-task state footprint bound (3 N-arrays/row)
# Work floor per block: the JVM↔Python handshake is paid per TASK, so
# splitting a small state across every core is a net loss (measured on
# local[32]: a tiny-payload mapInPandas round trip costs ~0.44 s at 32
# tasks vs ~0.28 s at 8 — the kernel compute at that size is microseconds).
# A block must carry at least this much state before we split further;
# the cap stays defaultParallelism and the memory bound still wins at
# large N, so the choice is problem-size-adaptive, not a core-count tune.
_MIN_BLOCK_BYTES = 8 << 20

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
    blanking is safe)."""
    asv = a + s
    arg1 = asv.argmax(1)
    rows = np.arange(s.shape[0])
    m1 = asv[rows, arg1].copy()
    asv[rows, arg1] = -np.inf
    m2 = asv.max(1)  # 2nd largest incl dups (max is blanked at ONE slot)
    excl = np.repeat(m1[:, None], s.shape[1], axis=1)
    excl[rows, arg1] = m2
    return lam * r + (1 - lam) * (s - excl)


def _sorted_block(batches, ids_b: np.ndarray, pref: float):
    """One partition's state with rows in ascending id (deterministic
    partial sums) and the s diagonal patched to the preference →
    (iv, s, r, a, rows, di), or None for an empty partition.  The
    fancy-indexed matrices are fresh writable copies of the immutable
    Arrow buffers."""
    got = _decode_state(batches)
    if got is None:
        return None
    iv, (s, r, a) = got
    order = np.argsort(iv)
    iv, s, r, a = iv[order], s[order], r[order], a[order]
    rows = np.arange(len(iv))
    di = np.searchsorted(ids_b, iv)
    s[rows, di] = pref
    return iv, s, r, a, rows, di


def _stats_partial(s, r, a, rows, di, lam: float):
    """A block's column-stats partial of the NEXT responsibilities
    r_new = ``_r_block(s, r, a)``: (clipped column sum Σ_i max(0, r_new)
    with the diagonal excluded — pairwise over the id-sorted rows — and
    the diagonal r_new).  The one implementation behind the driver
    bootstrap, the bootstrap job and the fused kernel, so their stats
    agree bitwise."""
    r_new = _r_block(s, r, a, lam)
    diag_r = r_new[rows, di].copy()
    rp = np.maximum(r_new, 0.0)
    rp[rows, di] = 0.0
    return rp.sum(0), diag_r


class _PartialsAcc(AccumulatorParam):
    """Per-partition stats partials keyed by the partition's min row id.
    Merge is key-OVERWRITE: each partition's partial is deterministic
    (rows sorted by id inside the kernel), so a retried or speculative
    task re-adds the identical value under the same key — the
    accumulator stays correct without relying on Spark's
    exactly-once-per-result-task bookkeeping."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _combine_partials(parts: dict, ids: np.ndarray):
    """Driver-side combine of accumulator partials in deterministic
    (min_i-sorted) block order → (colsum, rkk, exemplar_ids).

    Completeness invariant: the diag_i ids across all partials must cover
    every id exactly once.  The fused loop's column stats ride a task
    side-channel; a partial that was silently dropped (a future refactor
    yielding early, a kernel filtering all rows) would otherwise corrupt
    every later iteration without any symptom — this one O(N) check turns
    that into a loud failure."""
    keys = sorted(parts)
    colsum = np.sum(
        np.stack([np.asarray(parts[k][0], dtype="f8") for k in keys]), axis=0
    )
    rkk = np.zeros(len(ids), dtype="f8")
    ex: list[np.ndarray] = []
    cover: list[np.ndarray] = []
    for k in keys:
        diag_i, diag_r, ex_ids = parts[k][1:4]  # [4]: the fused delta
        di = np.asarray(diag_i, dtype="i8")
        cover.append(di)
        rkk[np.searchsorted(ids, di)] = np.asarray(diag_r, dtype="f8")
        ex.append(np.asarray(ex_ids, dtype="i8"))
    got = np.sort(np.concatenate(cover)) if cover else np.empty(0, dtype="i8")
    if not np.array_equal(got, ids):
        raise RuntimeError(
            f"AP stats partials incomplete: {len(got)} diagonal ids from "
            f"{len(keys)} blocks, expected {len(ids)} distinct points — "
            "a partition's partial was dropped or duplicated"
        )
    ex_all = np.sort(np.concatenate(ex)) if ex else np.array([], dtype="i8")
    return colsum, rkk, ex_all


class DenseAP:
    """Per-(application, sf_dir) blocked engine instance.  Owns the
    embedding broadcast, the checkpointed zero state, and the preference
    scalars; iteration chains are built on demand."""

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
        # full s matrix (rows in ids order), held once the preference
        # collect has paid for it (small-N only) — feeds the driver-side
        # bootstrap column stats (see _bootstrap_stats)
        self._s_full: np.ndarray | None = None
        self.bc = spark.sparkContext.broadcast((self.ids, mat))
        self.nb = _n_blocks(spark, self.n)
        self._state0: DataFrame | None = None
        self._prefs: dict[str, float] = {}
        # per chain run, keyed (pref, lam, T): the final state's exemplar
        # set and the T convergence deltas max|r_t − r_{t−1}|
        self._ex_hint: dict[tuple, np.ndarray] = {}
        self._deltas: dict[tuple, np.ndarray] = {}

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
                self._state0._jdf.queryExecution().analyzed().rdd().unpersist()
            except Exception:
                pass
            self._state0 = None
        self._s_full = None

    # -- zero state ----------------------------------------------------

    def state0(self) -> DataFrame:
        """(i, s row, r=0, a=0) with the RAW diagonal (s(i,i) = -0.0);
        kernels patch the diagonal to the preference at use, so one zero
        state serves every (pref, lam) chain.

        Below the small-N collect gate the eager checkpoint job ALSO
        side-channels each block's s matrix through an accumulator
        (r16): the preference / bootstrap consumers then assemble the
        full matrix driver-side from the exact f8 arrays the kernel
        yielded — the separate ``toArrow`` collect job disappears.  The
        bytes moved are the same ~N²·8 the collect moved; above the gate
        no accumulator is attached and nothing is shipped."""
        if self._state0 is not None:
            return self._state0
        from .ap import _FAST_MEDIAN_MAX_N

        bc = self.bc
        s_acc = (
            self.spark.sparkContext.accumulator({}, _PartialsAcc())
            if self.n <= _FAST_MEDIAN_MAX_N
            else None
        )

        nb = self.nb

        def sim_kernel(batches):
            ids_b, m_b = bc.value
            nd = m_b.shape[1]
            nn = len(ids_b)
            # nb near-equal CONTIGUOUS slices of the sorted-id row range;
            # every embedding the kernel needs is already in the broadcast,
            # so the job is a single stage over `range(nb)` — no parquet
            # re-scan and no repartition exchange (guide §2.4: the old
            # `emb.repartition(nb, "vec_id")` was a shuffle whose only
            # purpose was to deal rows to blocks the broadcast can deal
            # for free)
            bounds = np.linspace(0, nn, nb + 1).astype("i8")
            for b in batches:
                for blk in b.column(0).to_numpy(zero_copy_only=False):
                    lo, hi = int(bounds[blk]), int(bounds[blk + 1])
                    if lo >= hi:
                        continue
                    ai = ids_b[lo:hi]
                    av = m_b[lo:hi]
                    acc = np.zeros((hi - lo, nn), dtype="f8")
                    diff = np.empty_like(acc)
                    for d in range(nd):  # sequential over dims == the fold
                        # in-place subtract/square/add: the same
                        # elementwise op sequence (bitwise equal), ~40%
                        # less memory traffic — the fold is
                        # bandwidth-bound on this host, not flop-bound
                        np.subtract(av[:, d, None], m_b[None, :, d], out=diff)
                        np.multiply(diff, diff, out=diff)
                        np.add(acc, diff, out=acc)
                    np.negative(acc, out=acc)
                    if s_acc is not None:
                        s_acc.add({int(blk): acc.copy()})
                    z = np.zeros((hi - lo, nn), dtype="f8")
                    yield _encode_state(ai, acc, z, z)

        blocks = self.spark.range(0, nb, 1, nb)
        self._state0 = _ckpt(
            blocks.mapInArrow(sim_kernel, schema=_STATE_SCHEMA),
            eager=True,
        )
        if s_acc is not None and self._s_full is None:
            parts = s_acc.value
            rows = sum(p.shape[0] for p in parts.values())
            if rows == self.n and all(
                p.shape[1] == self.n for p in parts.values()
            ):  # complete cover: blocks ascend, so key order == ids order
                self._s_full = np.ascontiguousarray(
                    np.concatenate([parts[b] for b in sorted(parts)])
                )
            # else: leave None — _collect_s_full's toArrow collect is the
            # fallback and bitwise-identical
        return self._state0

    # -- preference ----------------------------------------------------

    def _collect_s_full(self) -> np.ndarray:
        """Collect the checkpointed s rows via ``toArrow`` and reshape
        the list column's flat values buffer — same doubles as the old
        toPandas path without the per-row object boxing (measured 0.27 s
        → 0.15 s warm at N=2000; r15, guide §6 Arrow driver transfers).
        The full matrix (rows in ids order, RAW -0.0 diagonal) is kept on
        the instance: it feeds both preference scalars AND the
        driver-side bootstrap column stats (r16 — one collect, zero
        further bootstrap jobs).  Small-N only (the caller gates on
        ap._FAST_MEDIAN_MAX_N, the same gate the transient preference
        collect always had)."""
        state = self.state0()  # may populate _s_full (the eager job's
        # accumulator side-channel) — then no collect job runs at all
        if self._s_full is not None:
            return self._s_full
        tbl = state.select("i", "s").toArrow()
        iv = tbl.column("i").to_numpy()
        scol = tbl.column("s").combine_chunks()
        flat = scol.values.to_numpy(zero_copy_only=False)
        if flat.size != len(iv) * self.n:  # ragged guard: fall back
            s = np.stack(scol.to_numpy(zero_copy_only=False))
        else:
            s = flat.reshape(len(iv), self.n)
        order = np.argsort(iv)
        self._s_full = np.ascontiguousarray(s[order])
        return self._s_full

    def _offdiag(self) -> np.ndarray:
        s = self._collect_s_full()
        mask = np.ones(s.shape, dtype=bool)
        mask[np.arange(self.n), np.arange(self.n)] = False
        return s[mask]

    def _offdiag_df(self) -> DataFrame:
        """The N²−N off-diagonal s values as a DISTRIBUTED one-column
        relation (``v``): posexplode each state row's s array and drop
        the diagonal position via a broadcast (id → column index) map.
        Reads the checkpointed zero state; nothing is collected."""
        idx = self.spark.createDataFrame(
            [(int(i), int(j)) for j, i in enumerate(self.ids)],
            "i long, di int",
        )
        return (
            self.state0()
            .select("i", F.posexplode("s"))
            .withColumnRenamed("col", "v")
            .join(F.broadcast(idx), "i")
            .where(F.col("pos") != F.col("di"))
            .select("v")
        )

    def pref_value(self, kind: str = "median") -> float:
        """Exact preference scalar: interpolated median — bitwise equal
        to ``percentile(s, 0.5)`` — or exact min.

        Below ap._FAST_MEDIAN_MAX_N both derive from one driver collect
        whose value array is dropped immediately (~200 MB at the 5k
        gate).  Above it the driver never sees the N² values at all:
        min is a plain aggregate and the median runs
        ``ap.exact_median_distributed`` (rank-narrowing histogram,
        bounded collect, bitwise-equal — the same routing every other
        large-N preference uses since round 8).  This removed the last
        O(N²) driver allocation in the engine; BLOCKED_MAX_N is now
        bounded by executor state size + O(blocks·N) accumulator
        payloads, not driver memory.

        (Optimization-round negative result, guide §1: routing the
        small-N branch through one JVM ``percentile(v,0.5)+min(v)`` agg
        job instead of the collect was tried and is 5-10× SLOWER — exact
        percentile buffers a value→count map over ~N² mostly-distinct
        doubles.  The Arrow collect + np.partition stays.)"""
        if kind not in self._prefs:
            from .ap import _FAST_MEDIAN_MAX_N, exact_median_distributed

            if self.n <= _FAST_MEDIAN_MAX_N:
                vals = self._offdiag()
                self._prefs["min"] = float(vals.min())
                m = vals.size
                pos = 0.5 * (m - 1)
                lo = int(pos)
                part = np.partition(
                    vals, [lo, lo + 1] if lo + 1 < m else [lo]
                )
                lower, upper = part[lo], part[min(lo + 1, m - 1)]
                self._prefs["median"] = float(
                    lower + (upper - lower) * (pos - lo)
                )
            elif kind == "min":
                # only the requested scalar: a min chain never pays the
                # multi-pass median narrowing (review finding r8)
                self._prefs["min"] = float(
                    self._offdiag_df().agg(F.min("v")).first()[0]
                )
            else:
                self._prefs["median"] = float(
                    exact_median_distributed(self._offdiag_df(), col="v")
                )
        return self._prefs[kind]

    # -- iteration -----------------------------------------------------

    def _bootstrap_stats(self, pref: float, lam: float):
        """Column stats of r_1 computed ON THE DRIVER from the held s
        matrix — bitwise the ``_col_stats(state0, ...)`` job (r16, guide
        §4.1/§5: the bootstrap is a planning-sized computation — at the
        small-N gate the driver already holds every input, so the job +
        collect bought nothing but a task handshake).

        Bitwise argument: state0's partition p is exactly the contiguous
        ids slice [bounds[p], bounds[p+1]) in ascending-i order, so the
        per-partition kernel ran the identical ``_stats_partial`` on the
        identical C-contiguous arrays; the partials feed the SAME
        ``_combine_partials``.  Pinned by tests/test_round16_opt.py
        against the job path.  Returns None above the preference-collect
        gate (then the job runs)."""
        from .ap import _FAST_MEDIAN_MAX_N

        if self.n > _FAST_MEDIAN_MAX_N:
            return None
        s_full = self._collect_s_full()
        bounds = np.linspace(0, self.n, self.nb + 1).astype("i8")
        parts: dict[int, tuple] = {}
        for b in range(self.nb):
            lo, hi = int(bounds[b]), int(bounds[b + 1])
            if lo >= hi:
                continue
            iv = self.ids[lo:hi]
            s = s_full[lo:hi].copy()
            rows = np.arange(hi - lo)
            di = np.arange(lo, hi)
            s[rows, di] = pref
            z = np.zeros_like(s)
            colsum, diag_r = _stats_partial(s, z, z, rows, di, lam)
            parts[int(iv.min())] = (colsum, iv, diag_r, [])
        colsum, rkk, _ = _combine_partials(parts, self.ids)
        return self.spark.sparkContext.broadcast((colsum, rkk))

    def _col_stats(self, state: DataFrame, pref: float, lam: float):
        """The MR column job, run only as the bootstrap above
        ap._FAST_MEDIAN_MAX_N, where the driver must never hold the N² s
        values: per-partition partials of r_1 collected (O(blocks·N)
        bytes) and combined on the driver in deterministic block order."""
        bc = self.bc

        def stats_kernel(batches):
            import pyarrow as pa

            blk = _sorted_block(batches, bc.value[0], pref)
            if blk is None:
                return
            iv, s, r, a, rows, di = blk
            colsum, diag_r = _stats_partial(s, r, a, rows, di, lam)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([int(iv.min())], pa.int64()),
                    pa.array([colsum]),
                    pa.array([iv]),
                    pa.array([diag_r]),
                ],
                names=["min_i", "colsum", "diag_i", "diag_r"],
            )

        parts = state.mapInArrow(
            stats_kernel,
            schema="min_i long, colsum array<double>, "
            "diag_i array<long>, diag_r array<double>",
        ).collect()
        colsum, rkk, _ = _combine_partials(
            {p.min_i: (p.colsum, p.diag_i, p.diag_r, []) for p in parts},
            self.ids,
        )
        return self.spark.sparkContext.broadcast((colsum, rkk))

    def _step(
        self, state: DataFrame, stats_bc, pref: float, lam: float, acc
    ) -> DataFrame:
        """One damped iteration given the broadcast column stats: the
        (r, a) update, plus — through ``acc`` — the NEXT iteration's
        column-stat partials, the exemplar candidates of the state just
        produced and the block's max|r_new − r| (max is exact and
        order-free, so the combined delta is bitwise the coordinate
        join's).  Emits the next state with the diagonal s patched to
        the preference."""
        bc = self.bc

        def step_kernel(batches):
            ids_b, _ = bc.value
            colsum, rkk = stats_bc.value
            blk = _sorted_block(batches, ids_b, pref)
            if blk is None:
                return
            iv, s, r, a, rows, di = blk
            r_new = _r_block(s, r, a, lam)
            rp = np.maximum(r_new, 0.0)
            rp[rows, di] = 0.0
            a_hat = np.minimum(0.0, rkk[None, :] + colsum[None, :] - rp)
            a_hat[rows, di] = colsum[di]
            a_new = lam * a + (1 - lam) * a_hat
            colsum_n, diag_rn = _stats_partial(s, r_new, a_new, rows, di, lam)
            ex_ids = iv[(a_new[rows, di] + r_new[rows, di]) > 0]
            delta = float(np.abs(r_new - r).max())
            acc.add({int(iv.min()): (colsum_n, iv, diag_rn, ex_ids, delta)})
            yield _encode_state(iv, s, r_new, a_new)

        return state.mapInArrow(step_kernel, schema=_STATE_SCHEMA)

    def chain(
        self,
        iterations: int,
        lam: float = DAMPING,
        pref: str = "median",
        retain: bool = True,
    ) -> list[DataFrame]:
        """States after iterations 1..T.  After the bootstrap column stats
        (driver-side below ap._FAST_MEDIAN_MAX_N, one job above), every
        iteration is ONE eager update job whose accumulator side-channel
        carries the next iteration's column stats, the exemplar set and
        the convergence delta.  The final exemplar set and the T deltas
        are recorded (``ex_hint``/``deltas``), so no consumer scans a
        state for them.  ``retain=False`` releases each previous state's
        blocks (the ap.iterate() discipline) and returns only the final
        state; ``retain=True`` keeps and returns every state."""
        p = self.pref_value(pref)
        sc = self.spark.sparkContext
        state = self.state0()
        stats_bc = self._bootstrap_stats(p, lam) or self._col_stats(
            state, p, lam
        )
        states: list[DataFrame] = []
        deltas: list[float] = []
        ex: np.ndarray | None = None
        spent: list = []  # consumed stats broadcasts, destroyed after the loop
        for it in range(iterations):
            acc = sc.accumulator({}, _PartialsAcc())
            prev = state
            state = _ckpt(self._step(state, stats_bc, p, lam, acc), eager=True)
            # the eager job consumed the stats; the checkpoint's truncated
            # lineage can never recompute.  Destroy AFTER the loop, not
            # here: a mid-loop RemoveBroadcast RPC contends with the next
            # iteration's task launches (warm A/B: ~0.3 s over T
            # iterations), while T pinned stats broadcasts are only
            # 2·N·8 B each — ≤160 KB at the BLOCKED_MAX_N gate.
            spent.append(stats_bc)
            if not retain and it > 0:
                _release_ckpt(prev)
            states.append(state)
            colsum, rkk, ex = _combine_partials(acc.value, self.ids)
            deltas.append(max(part[4] for part in acc.value.values()))
            if it < iterations - 1:  # the final combine only feeds ex
                stats_bc = sc.broadcast((colsum, rkk))
        for bc in spent:
            try:
                bc.destroy()
            except Exception:
                pass
        self._ex_hint[(pref, lam, iterations)] = ex
        self._deltas[(pref, lam, iterations)] = np.array(deltas, dtype="f8")
        return states if retain else [state]

    # -- consumers -----------------------------------------------------

    def ex_hint(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None
    ) -> np.ndarray | None:
        """Exemplar set {k : a(k,k) + r(k,k) > 0} of the final state of
        the chain run with (pref, lam, T), sorted; None if none ran."""
        return self._ex_hint.get((pref, lam, T))

    def deltas(
        self, pref: str = "median", lam: float = DAMPING, T: int | None = None
    ) -> np.ndarray | None:
        """max|r_t − r_{t−1}| over all (i, k) for t = 1..T of that chain
        run (unrounded); None if none ran."""
        return self._deltas.get((pref, lam, T))

    def assign(self, state: DataFrame, ex: np.ndarray) -> DataFrame:
        """label(i) = argmax over exemplars k of s(i,k), ties to lowest k,
        exemplars labeled as themselves (the ap.assign semantics).  The
        chain's exemplar set ``ex`` is broadcast into a row-local kernel —
        no N² relation is rebuilt for the final argmax."""
        bc = self.bc
        ex_bc = self.spark.sparkContext.broadcast(ex)

        def assign_kernel(batches):
            import pyarrow as pa

            ids_b, _ = bc.value
            exb = ex_bc.value
            if len(exb) == 0:
                return
            e_di = np.searchsorted(ids_b, exb)
            for b in batches:
                got = _decode_state([b], cols=(1,))
                if got is None:
                    continue
                iv, (s,) = got
                vals = s[:, e_di]
                lab = exb[vals.argmax(1)]  # first occurrence == lowest k
                member = np.isin(iv, exb)
                lab[member] = iv[member]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(iv), pa.array(lab)],
                    names=["vec_id", "exemplar"],
                )

        return state.mapInArrow(
            assign_kernel, schema="vec_id long, exemplar long"
        )

    def coordinate_view(self, state: DataFrame) -> DataFrame:
        """Explode a blocked state to the coordinate relation
        (i, k, s, r, a) for consumers written against the reference
        engine (A4/A5 and the parity pins)."""
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

        return state.mapInArrow(
            explode_kernel, schema="i long, k long, s double, r double, a double"
        )


# ---------------------------------------------------------------------------
# Ragged-blocked sparse loop: the same two-job iteration applied to the
# k-NN candidate graph (ap.cluster_sparse's small-N accelerator)
# ---------------------------------------------------------------------------

_SPARSE_SCHEMA = (
    "i long, ks array<long>, s array<double>, "
    "r array<double>, a array<double>"
)


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


def _sparse_partial(iv, ksc, sc, rc, ac, ids_b, lam):
    """Deterministic column-stat partial of a set of ragged rows: the
    NEXT responsibilities' clipped column sum (diagonal excluded) and
    diagonal, rows processed in ascending-i order → (colsum, diag_i,
    diag_r)."""
    order = np.argsort(iv)
    colsum = np.zeros(len(ids_b), dtype="f8")
    diag_i, diag_r = [], []
    for j in order:
        ks = np.asarray(ksc[j], dtype="i8")
        r_next = _sparse_r_row(
            np.asarray(sc[j], dtype="f8"),
            np.asarray(rc[j], dtype="f8"),
            np.asarray(ac[j], dtype="f8"),
            lam,
        )
        own = ks == iv[j]
        diag_i.append(iv[j])
        diag_r.append(float(r_next[own][0]))
        rp = np.maximum(r_next, 0.0)
        rp[own] = 0.0
        np.add.at(colsum, np.searchsorted(ids_b, ks), rp)
    return (
        colsum,
        np.array(diag_i, dtype="i8"),
        np.array(diag_r, dtype="f8"),
    )


def _sparse_step(iv, ksc, sc, rc, ac, colsum, rkk, ids_b, lam):
    """One damped iteration of a set of ragged rows given the column
    stats → (r rows, a rows, elected exemplar ids, the next iteration's
    ``_sparse_partial``) — the row update both loop branches run."""
    out_r, out_a, ex_ids = [], [], []
    for j in range(len(iv)):
        ks = np.asarray(ksc[j], dtype="i8")
        av = np.asarray(ac[j], dtype="f8")
        r_new = _sparse_r_row(
            np.asarray(sc[j], dtype="f8"), np.asarray(rc[j], dtype="f8"), av, lam
        )
        idx = np.searchsorted(ids_b, ks)
        own = ks == iv[j]
        rp = np.maximum(r_new, 0.0)
        rp[own] = 0.0
        a_hat = np.minimum(0.0, rkk[idx] + colsum[idx] - rp)
        a_hat[own] = colsum[idx[own]]
        a_new = lam * av + (1 - lam) * a_hat
        out_r.append(r_new)
        out_a.append(a_new)
        if (a_new[own][0] + r_new[own][0]) > 0:
            ex_ids.append(iv[j])
    nxt = _sparse_partial(iv, ksc, sc, out_r, out_a, ids_b, lam)
    return out_r, out_a, np.array(ex_ids, dtype="i8"), nxt


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
    pref: float | None,
    iterations: int,
    lam: float = DAMPING,
) -> DataFrame:
    """Sparse AP over a symmetric deduped candidate graph ``cand``
    (i, k, s) with the FUSED blocked iteration: state is one ragged row
    per point (its candidate list + the preference diagonal), the
    responsibility update is row-local, and each damped iteration is a
    single update/checkpoint job whose accumulator side-channel carries
    the next iteration's availability column stats (bootstrap stats ride
    the build job; the final exemplar set rides the last update) —
    identical semantics to running ``ap.responsibility_pass``/
    ``availability_pass`` over the coordinate candidate relation (the
    >BLOCKED_MAX_N path), at a fraction of the per-iteration job cost.

    Emits (vec_id, exemplar) for EVERY point; points with no elected
    exemplar among their candidates get -1 (the honest sparse
    semantics, same as the coordinate ``ap.cluster_sparse``).

    Both branches — fused-small (one task) and distributed (one job per
    iteration) — run the same row construction, row update and labeller.

    ``pref=None`` (fused-small branch only, r16): the median preference
    is computed INSIDE the fused kernel from the candidate s values it
    already holds — Spark's own interpolation formula on the same
    doubles (the ``_median_preference_fast`` equivalence, bitwise equal
    to ``percentile(s, 0.5)``) — so the separate single-reducer
    percentile job disappears.  The distributed branch still requires
    the scalar up front (its per-row build kernels each see only a
    partition of the graph)."""
    import pandas as pd

    id_rows = ids_df.collect()
    ids = np.sort(np.array([r[0] for r in id_rows], dtype="i8"))
    n = len(ids)
    ids_bc = spark.sparkContext.broadcast(ids)

    ragged = ids_df.selectExpr(f"{ids_df.columns[0]} as i").join(
        cand.groupBy("i").agg(
            F.collect_list(F.struct("k", "s")).alias("nbrs")
        ),
        "i",
        "left",
    )

    if n <= SPARSE_FUSED_MAX_N:
        # -- fused-small path: ONE job for build + T iterations + assign.
        # At this size the ragged state is a single AQE-coalesced
        # partition anyway, so the distributed loop's per-iteration
        # accumulator is a single partial — the arithmetic below is the
        # SAME code on the same single block, so labels are identical
        # while T eager-checkpoint jobs, T broadcasts, and the separate
        # build/assign jobs collapse into one task (bench sf0.1: the
        # blocked phase drops ~2.6 s → ~0.4 s).
        def fused_kernel(batches):
            frames = [p for p in batches if len(p)]
            if not frames:
                return
            pdf = pd.concat(frames).sort_values("i", ignore_index=True)
            iv = pdf["i"].to_numpy(dtype="i8")
            pref_ = pref
            if pref_ is None:
                # exact median preference from the candidate s values
                # this task already holds — Spark's percentile
                # interpolation on the same doubles (bitwise equal; the
                # _median_preference_fast formula), selection via
                # np.partition is input-order-independent
                chunks = [
                    np.array([x["s"] for x in nbrs], dtype="f8")
                    for nbrs in pdf["nbrs"]
                    if nbrs is not None and len(nbrs) > 0
                ]
                all_s = (
                    np.concatenate(chunks)
                    if chunks
                    else np.empty(0, dtype="f8")
                )
                if all_s.size == 0:  # empty candidate graph: nobody can
                    # elect an exemplar it has no declared similarity to
                    yield pd.DataFrame(
                        {"vec_id": iv, "exemplar": np.full(len(iv), -1, "i8")}
                    )
                    return
                m = all_s.size
                ppos = 0.5 * (m - 1)
                lo_r = int(ppos)
                part = np.partition(
                    all_s, [lo_r, lo_r + 1] if lo_r + 1 < m else [lo_r]
                )
                lower, upper = part[lo_r], part[min(lo_r + 1, m - 1)]
                pref_ = float(lower + (upper - lower) * (ppos - lo_r))
            rows = [
                _sparse_build_row(i_val, nbrs, pref_)
                for i_val, nbrs in zip(pdf["i"], pdf["nbrs"])
            ]
            ksc = [ks for ks, _ in rows]
            sc = [sv for _, sv in rows]
            rc = [np.zeros(len(ks), dtype="f8") for ks in ksc]
            ac = rc
            # bootstrap: stats of r_1 (identical to acc0 in the loop path)
            nxt = _sparse_partial(iv, ksc, sc, rc, ac, ids, lam)
            exb = np.array([], dtype="i8")
            for _ in range(iterations):
                colsum, diag_i, diag_r = nxt
                rkk = np.zeros(len(ids), dtype="f8")
                rkk[np.searchsorted(ids, diag_i)] = diag_r
                rc, ac, exb, nxt = _sparse_step(
                    iv, ksc, sc, rc, ac, colsum, rkk, ids, lam
                )
            yield pd.DataFrame(
                {"vec_id": iv, "exemplar": _sparse_labels(iv, ksc, sc, exb)}
            )

        return ragged.coalesce(1).mapInPandas(
            fused_kernel, schema="vec_id long, exemplar long"
        )

    if pref is None:
        raise ValueError(
            "pref=None (in-kernel median) is fused-small-branch-only; "
            "the distributed loop needs the scalar preference up front"
        )
    sc_ctx = spark.sparkContext
    acc0 = sc_ctx.accumulator({}, _PartialsAcc())

    def build_kernel(batches):
        ids_b = ids_bc.value
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        iv = pdf["i"].to_numpy(dtype="i8")
        rows = [
            _sparse_build_row(i_val, nbrs, pref)
            for i_val, nbrs in zip(pdf["i"], pdf["nbrs"])
        ]
        ksc = [ks for ks, _ in rows]
        sc = [sv for _, sv in rows]
        z = [np.zeros(len(ks), dtype="f8") for ks in ksc]
        # bootstrap: stats of r_1 ride the build job's accumulator
        colsum, diag_i, diag_r = _sparse_partial(iv, ksc, sc, z, z, ids_b, lam)
        acc0.add(
            {int(iv.min()): (colsum, diag_i, diag_r, np.array([], dtype="i8"))}
        )
        yield pd.DataFrame({"i": iv, "ks": ksc, "s": sc, "r": z, "a": z})

    # eager checkpoint runs the build job synchronously → acc0 populated
    state = _ckpt(
        ragged.mapInPandas(build_kernel, schema=_SPARSE_SCHEMA), eager=True
    )

    def _rows(pdf):
        return (
            pdf["i"].to_numpy(dtype="i8"),
            pdf["ks"].to_numpy(),
            pdf["s"].to_numpy(),
            pdf["r"].to_numpy(),
            pdf["a"].to_numpy(),
        )

    def update_kernel_factory(stats_bc, acc):
        def update_kernel(batches):
            ids_b = ids_bc.value
            colsum, rkk = stats_bc.value
            frames = [p for p in batches if len(p)]
            if not frames:
                return
            iv, ksc, sc, rc, ac = _rows(pd.concat(frames))
            out_r, out_a, ex_ids, (colsum_n, diag_i, diag_r) = _sparse_step(
                iv, ksc, sc, rc, ac, colsum, rkk, ids_b, lam
            )
            # next iteration's stats ride this job's accumulator
            acc.add({int(iv.min()): (colsum_n, diag_i, diag_r, ex_ids)})
            yield pd.DataFrame(
                {"i": iv, "ks": list(ksc), "s": list(sc), "r": out_r, "a": out_a}
            )

        return update_kernel

    # the build checkpoint is released by the first iteration so only ONE
    # state copy stays pinned across the loop (the ap.iterate()
    # discipline); the final state must stay — the assignment result
    # reads it lazily
    colsum, rkk, ex = _combine_partials(acc0.value, ids)
    spent: list = []  # consumed stats broadcasts, destroyed after the loop
    for _ in range(iterations):
        stats_bc = sc_ctx.broadcast((colsum, rkk))
        acc = sc_ctx.accumulator({}, _PartialsAcc())
        prev = state
        state = _ckpt(
            state.mapInPandas(
                update_kernel_factory(stats_bc, acc), schema=_SPARSE_SCHEMA
            ),
            eager=True,
        )
        # consumed by the eager job; truncated lineage never recomputes.
        # Destroyed after the loop — mid-loop RemoveBroadcast RPCs contend
        # with the next iteration's task launches (warm A/B ~0.2 s), and T
        # pinned stats broadcasts are ≤160 KB each at the gate.
        spent.append(stats_bc)
        _release_ckpt(prev)
        colsum, rkk, ex = _combine_partials(acc.value, ids)
    for bc in spent:
        try:
            bc.destroy()
        except Exception:
            pass

    # ``ex`` is the exemplar set of the FINAL state (accumulated by the
    # last update job) — broadcast into the row-local assignment
    ex_bc = sc_ctx.broadcast(ex)

    def assign_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            iv, ksc, sc, _, _ = _rows(pdf)
            yield pd.DataFrame(
                {"vec_id": iv, "exemplar": _sparse_labels(iv, ksc, sc, ex_bc.value)}
            )

    return state.mapInPandas(assign_kernel, schema="vec_id long, exemplar long")
