"""Affinity-Propagation core (SURVEY.md §2 rows A1–A10).

The reference (``dam-grassman/Affinity-Propagation-MapReduce``) executes
Frey–Dueck Affinity Propagation [AP] as alternating MapReduce passes over
``(row, col, value)`` matrix triples: a row-keyed responsibility job, a
re-key (shuffle) by column, a column-keyed availability job, with damping,
iterated to convergence [MR-AP].  (Checkout at /root/reference was empty —
SURVEY.md §0 — so semantics derive from the published algorithm, not file
citations.)

Here the whole algorithm is relational algebra over a coordinate-format
matrix DataFrame ``(i, k, s, r, a)``:

* similarity  s(i,k) = -||x_i - x_k||^2 as a self cross-join + a
  *sequential* float64 fold over the vector dims (bitwise-reproducible in
  DuckDB via ``list_reduce`` — verified, which is why no rounding is needed
  on A1/A2/A3 outputs);
* the responsibility pass is ``Window.partitionBy("i")`` (the MR row job),
  the availability pass ``Window.partitionBy("k")`` (the MR column job);
  the re-key shuffle between them is planned by Catalyst;
* per-iteration ``localCheckpoint()`` truncates lineage — the in-memory
  analogue of the reference's write-matrices-to-HDFS-per-iteration, minus
  the I/O tax.  That loop (``iterate``) now serves the coordinate and
  sparse queries only: ``cluster``, ``cluster_converged`` and every
  multi-iteration dense query run the blocked engine's one-task chain
  (``ap_dense.DenseAP.chain``).

Scale notes (100 TB): the dense N^2 similarity is the wall (SURVEY.md §7).
The exact kernel here is the oracle-checked path; ``knn_candidate_pairs``
below provides the IVF-bucketed sub-N^2 sparse path for large N (same
coarse-cell scheme as vector.q_knn_cosine_ivf; the cell id is the shuffle
key, so no task ever sees the full corpus).  Within a pass, state is
hash-partitioned on the pass key, groups are O(N) rows, and both window
aggregates are single-pass — no driver-side matrix ever materializes.

Float-parity engineering (for the DuckDB value-hash gate):
* s and the first responsibility pass are bitwise identical across engines
  (difference/max of identical values, sequential fold).
* availability introduces engine-ordered group sums → outputs that depend
  on it are rounded to 3 decimals on BOTH sides (drift ~1e-12 vs grid 1e-3).
* every argmax is tie-broken by lowest id; thresholds compare to 0 after
  ~O(1)-magnitude message values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import table

DAMPING = 0.5
T_DEFAULT = 5  # unrolled iteration count for hashed t2 results (BASELINE.md)

# ---------------------------------------------------------------------------
# Checkpoint discipline: local (fast) vs reliable (executor-loss tolerant)
# ---------------------------------------------------------------------------

_RELIABLE = [False]  # process-wide mode flag; see reliable_checkpoints()


def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage on an iteration-chain DataFrame.

    Default is ``localCheckpoint`` — blocks live only in executor
    memory/disk, which is the fast choice but loses the chain if an
    executor dies (a localCheckpoint cannot be recomputed: the lineage
    is gone WITH the blocks).  Under ``reliable_checkpoints`` the same
    sites write a reliable ``checkpoint()`` to the configured
    fault-tolerant directory (HDFS/S3 on a real cluster), so a
    multi-hour AP chain survives executor loss — the round-6/7 verdict's
    "reliable-checkpoint mode for cluster runs"."""
    if _RELIABLE[0]:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


class reliable_checkpoints:
    """Context manager: route every AP-chain lineage truncation through
    reliable ``checkpoint()`` files under ``checkpoint_dir``.

    Usage (or pass ``checkpoint_dir=`` to :func:`cluster_sparse`, which
    wraps itself in this)::

        with ap.reliable_checkpoints(spark, "hdfs://nn/ap-ckpt"):
            ap.cluster_sparse(spark, sf_dir)

    Spark never auto-deletes reliable checkpoint files; callers own the
    directory's lifecycle (set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to have
    the ContextCleaner reap them on GC)."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.dir = checkpoint_dir

    def __enter__(self):
        self.spark.sparkContext.setCheckpointDir(self.dir)
        _RELIABLE[0] = True
        return self

    def __exit__(self, *exc):
        _RELIABLE[0] = False
        return False


# ---------------------------------------------------------------------------
# Spark-side kernel
# ---------------------------------------------------------------------------

def similarity_off_diagonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: s(i,k) = -||x_i-x_k||^2 for i != k over `embeddings`.

    Blocked Arrow kernel: each partition of the i-side computes its block
    of rows against the broadcast embedding matrix with one float64
    accumulator updated dimension-by-dimension — the SAME IEEE add order
    as the sequential fold / DuckDB's ``list_reduce``, so results stay
    bitwise identical (verified at sf0.01) while running ~50× faster
    than the interpreted higher-order-function fold.

    s is symmetric and (x_i-x_k)² = (x_k-x_i)² bitwise, so the kernel
    emits only the upper triangle (i < k) and the lower half is the
    checkpointed upper half with (i,k) swapped — halving the
    Python→JVM Arrow transfer (measured 2.2× at sf0.1; equality of the
    mirrored values verified bitwise).

    Scale: the broadcast side is O(N·d) (64-dim floats: 12.8 MB at
    N=50k); beyond that the same kernel runs per LSH/centroid bucket so
    no executor ever sees the full N² (SURVEY.md §7 hard-part a).
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()  # N×(id + 64 float32): the *small* dimension table
    ids = np.array([r.vec_id for r in rows], dtype="i8")
    mat = np.array([r.embedding for r in rows], dtype="f8")
    bc = spark.sparkContext.broadcast((ids, mat))
    n_dims = mat.shape[1]

    def block_kernel(batches):
        ids_b, m_b = bc.value
        n = len(ids_b)
        for pdf in batches:
            ai = pdf["vec_id"].to_numpy(dtype="i8")
            a = np.stack(pdf["embedding"].to_numpy()).astype("f8")
            acc = np.zeros((len(ai), n), dtype="f8")
            for d in range(n_dims):  # sequential over dims == the fold
                diff = a[:, d, None] - m_b[None, :, d]
                acc += diff * diff
            i_col = np.repeat(ai, n)
            k_col = np.tile(ids_b, len(ai))
            keep = i_col < k_col  # upper triangle only; mirrored below
            yield pd.DataFrame(
                {"i": i_col[keep], "k": k_col[keep], "s": -acc.ravel()[keep]}
            )

    # the i-side arrives as one small parquet split: spread the blocks
    # across the cluster so the kernel parallelizes (at real scale the
    # i-side is naturally partitioned and this repartition is a no-op
    # cost-wise relative to the O(N²/P) work per block)
    par = spark.sparkContext.defaultParallelism
    half = _ckpt(
        emb.repartition(par).mapInPandas(
            block_kernel, schema="i long, k long, s double"
        ),
        eager=False,
    )
    return half.unionByName(
        half.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
    )


# exact-median scale path: per narrowing level, the candidate band must
# shrink below this before the final Arrow collect (~32 MB of doubles)
_MEDIAN_COLLECT_MAX = 4_000_000
_MEDIAN_HIST_BUCKETS = 8192


def exact_median_distributed(
    df: DataFrame,
    col: str = "s",
    collect_max: int | None = None,
    buckets: int | None = None,
) -> float | None:
    """Exact interpolated median of a huge numeric column with NO
    single-task value buffering.

    Spark's exact ``percentile`` is a TypedImperativeAggregate that
    materializes EVERY value on one reducer — the round-8 above-gate run
    (N=12k dense → 144M s-values) OOM'd the executor heap in exactly the
    regime the >BLOCKED_MAX_N paths exist for.  This computes the same
    ``lower + (upper-lower)*(pos-lo)`` interpolation by distributed rank
    narrowing instead: histogram the surviving band into
    _MEDIAN_HIST_BUCKETS per level, keep the bucket range covering the
    two target ranks, and only Arrow-collect once the band holds
    ≤ _MEDIAN_COLLECT_MAX values.  Each level's filter reuses the SAME
    bucket-index expression that produced the counts (driver-constant lo
    and width), so float rounding can never shift a value across the
    counted boundary between passes.  Cost: O(levels) scans of the
    (checkpointed) column, each with full predicate pushdown — two
    levels cover 3×10¹¹ values.
    """
    import numpy as np

    collect_max = collect_max or _MEDIAN_COLLECT_MAX
    buckets = buckets or _MEDIAN_HIST_BUCKETS
    first = df.agg(
        F.count(col).alias("m"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
    ).first()
    m = first.m
    if m == 0:
        return None
    pos = 0.5 * (m - 1)
    k_lo = int(pos)  # 0-indexed global ranks wanted
    k_hi = min(k_lo + 1, m - 1)
    band = df.select(F.col(col).alias("_v"))
    rank_before = 0  # values strictly below the current band
    in_band, band_mn, band_mx = m, first.mn, first.mx
    while in_band > collect_max:
        if band_mn == band_mx:  # degenerate: every survivor identical
            return float(band_mn)
        width = (band_mx - band_mn) / buckets
        if not (width > 0.0):  # band narrower than float resolution:
            break              # survivors differ by ulps — collect them
        bexpr = _median_bucket_expr(band_mn, width, buckets)
        hist, stats = _median_level_hist(band, bexpr)
        run = rank_before
        b_start = b_end = None
        for b in range(buckets):
            c = hist.get(b, 0)
            if b_start is None and run + c > k_lo:
                b_start, rank_before = b, run
            if b_start is not None and run + c > k_hi:
                b_end = b
                break
            run += c
        if b_start is None or b_end is None:  # counting hole: fail loud
            raise RuntimeError("median narrowing lost the target rank")
        new_in_band = sum(hist.get(b, 0) for b in range(b_start, b_end + 1))
        if new_in_band >= in_band:
            # Joint-narrowing stall: the two target ranks straddle the
            # band's extremes (e.g. two point masses at min and max with
            # the median between them), so the covering bucket range IS
            # the whole band.  Each rank alone always narrows to a single
            # bucket, which strictly excludes at least one extreme —
            # solve the two ranks independently (guaranteed progress).
            lower = _kth_value_in_band(
                band, k_lo - rank_before, in_band, band_mn, band_mx,
                collect_max, buckets,
            )
            upper = (
                lower
                if k_hi == k_lo
                else _kth_value_in_band(
                    band, k_hi - rank_before, in_band, band_mn, band_mx,
                    collect_max, buckets,
                )
            )
            return float(lower + (upper - lower) * (pos - k_lo))
        band = band.where((bexpr >= b_start) & (bexpr <= b_end))
        in_band = new_in_band
        band_mn = min(stats[b][0] for b in range(b_start, b_end + 1) if b in stats)
        band_mx = max(stats[b][1] for b in range(b_start, b_end + 1) if b in stats)
    vals = np.sort(band.toPandas()["_v"].to_numpy())
    lower = vals[k_lo - rank_before]
    upper = vals[k_hi - rank_before]
    return float(lower + (upper - lower) * (pos - k_lo))


def _median_bucket_expr(band_mn: float, width: float, buckets: int):
    return F.least(
        F.lit(buckets - 1),
        F.floor((F.col("_v") - F.lit(band_mn)) / F.lit(width)),
    ).cast("int")


def _median_level_hist(band: DataFrame, bexpr):
    rows = (
        band.groupBy(bexpr.alias("b"))
        .agg(
            F.count("*").alias("c"),
            F.min("_v").alias("mn"),
            F.max("_v").alias("mx"),
        )
        .collect()
    )
    return {r.b: r.c for r in rows}, {r.b: (r.mn, r.mx) for r in rows}


def _kth_value_in_band(
    band: DataFrame,
    k: int,
    in_band: int,
    band_mn: float,
    band_mx: float,
    collect_max: int,
    buckets: int,
) -> float:
    """Exact k-th smallest (0-indexed) within ``band`` by single-bucket
    narrowing.  Terminates unconditionally: whenever mn < mx the min and
    max land in different buckets, so the one selected bucket strictly
    excludes at least one extreme value — the band always shrinks."""
    import numpy as np

    while in_band > collect_max:
        if band_mn == band_mx:
            return float(band_mn)
        width = (band_mx - band_mn) / buckets
        if not (width > 0.0):
            break
        bexpr = _median_bucket_expr(band_mn, width, buckets)
        hist, stats = _median_level_hist(band, bexpr)
        run = 0
        for b in range(buckets):
            c = hist.get(b, 0)
            if run + c > k:
                band = band.where(bexpr == b)
                k -= run
                in_band = c
                band_mn, band_mx = stats[b]
                break
            run += c
        else:
            raise RuntimeError("rank narrowing lost the target rank")
    vals = np.sort(band.toPandas()["_v"].to_numpy())
    return float(vals[k])


def _interp_median(vals) -> float:
    """Spark's exact ``percentile(v, 0.5)`` of a non-empty float64 array:
    ``lower + (upper-lower)*(pos-lo)`` over the two middle order
    statistics.  The partition selects them independently of input
    order, so the result is bitwise the Spark aggregate's.  It runs IN
    PLACE: ``vals`` comes back reordered (both callers pass a fresh
    copy, so no N²-sized second copy is made)."""
    m = vals.size
    pos = 0.5 * (m - 1)
    lo = int(pos)
    vals.partition([lo, lo + 1] if lo + 1 < m else [lo])
    lower, upper = vals[lo], vals[min(lo + 1, m - 1)]
    return float(lower + (upper - lower) * (pos - lo))


def init_state(smat: DataFrame) -> DataFrame:
    """Coordinate-format message state: (i, k, s, r=0, a=0)."""
    return smat.select(
        "i", "k", "s", F.lit(0.0).alias("r"), F.lit(0.0).alias("a")
    )


def responsibility_pass(state: DataFrame, lam: float = DAMPING) -> DataFrame:
    """One damped responsibility update — the MR *row* job [MR-AP].

    r(i,k) <- lam*r + (1-lam)*(s(i,k) - max_{k'!=k}(a(i,k') + s(i,k')))

    "max excluding self" uses the top-2 trick: for the (unique) argmax
    row the excluded max is the second value m2; everywhere else —
    including a duplicated max — it is m1 itself.

    The per-row top-2 comes from ONE rank-limited window job
    (row_number <= 2 → Catalyst's WindowGroupLimit pushes a per-map-task
    top-2 heap BELOW the exchange, so the shuffle carries <= 2 rows per
    (input partition × i), never the O(N²) state) aggregated to N rows
    and broadcast back.  One job instead of the two chained max /
    second-max hash aggregations — per-iteration job count is the
    dominant wall cost of the dense loop at bench scale.  The O(N²)
    state itself is still scanned but never shuffled or sorted.  Values
    are selection-based → identical to the oracle's window formulation.
    """
    stage = state.withColumn("asv", F.col("a") + F.col("s"))
    w = Window.partitionBy("i").orderBy(F.desc("asv"))
    top2 = (
        stage.select("i", "asv")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("i")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("asv"))).alias("m1"),
            F.max(F.when(F.col("rn") == 2, F.col("asv"))).alias("m2"),
        )
    )
    stage = stage.join(F.broadcast(top2), "i")
    # m2 == m1 ⟺ the max is duplicated (row_number breaks the tie but
    # both top rows carry the same value), in which case every row's
    # excluded max is m1.  m2 is null only for single-row groups, which
    # cannot occur (every i has N >= 2 state rows incl. the diagonal).
    excl_max = F.when(
        (F.col("asv") == F.col("m1")) & (F.col("m2") != F.col("m1")), F.col("m2")
    ).otherwise(F.col("m1"))
    new_r = F.lit(lam) * F.col("r") + F.lit(1 - lam) * (F.col("s") - excl_max)
    return stage.select("i", "k", "s", new_r.alias("r"), "a")


def availability_pass(state: DataFrame, lam: float = DAMPING) -> DataFrame:
    """One damped availability update — the MR *column* job [MR-AP].

    a(i,k) <- lam*a + (1-lam)*min(0, r(k,k) + sum_{i' not in {i,k}} max(0, r(i',k)))
    a(k,k) <- lam*a + (1-lam)*sum_{i'!=k} max(0, r(i',k))

    Same agg+broadcast-join shape as the responsibility pass (the MR
    column re-key becomes a map-side combine, not a state shuffle).
    """
    rp = F.greatest(F.col("r"), F.lit(0.0))
    col_stats = state.groupBy("k").agg(
        F.sum(F.when(F.col("i") != F.col("k"), rp).otherwise(F.lit(0.0))).alias(
            "sum_rp"
        ),
        F.max(F.when(F.col("i") == F.col("k"), F.col("r"))).alias("rkk"),
    )
    stage = state.join(F.broadcast(col_stats), "k")
    a_hat = F.when(F.col("i") == F.col("k"), F.col("sum_rp")).otherwise(
        F.least(
            F.lit(0.0),
            F.col("rkk") + F.col("sum_rp") - F.greatest(F.col("r"), F.lit(0.0)),
        )
    )
    new_a = F.lit(lam) * F.col("a") + F.lit(1 - lam) * a_hat
    return stage.select("i", "k", "s", "r", new_a.alias("a"))


def iterate(state: DataFrame, iterations: int, lam: float = DAMPING) -> DataFrame:
    """The coordinate loop: T damped passes, each state checkpointed to
    truncate lineage (the reference's per-iteration FS round-trip —
    SURVEY.md §3.2) LAZILY and retained, so it materializes inside the
    next pass's first job.  Its readers — the sparse coordinate loop and
    the checked twin — hold O(N·k) rows per state; dense AP runs on
    ``ap_dense.DenseAP.chain``.  The R state is not checkpointed: its two
    consumers each re-run one scan and broadcast probe of the last state."""
    for _ in range(iterations):
        state = _ckpt(
            availability_pass(responsibility_pass(state, lam), lam), eager=False
        )
    return state


def exemplars_from_state(state: DataFrame) -> DataFrame:
    """Exemplar set {k : a(k,k) + r(k,k) > 0} [AP]."""
    return (
        state.where((F.col("i") == F.col("k")) & (F.col("a") + F.col("r") > 0))
        .select(F.col("k").alias("exemplar"))
    )


def assign(smat_off: DataFrame, exemplar_set: DataFrame) -> DataFrame:
    """A7: label(i) = argmax over exemplars k of s(i,k); ties broken by
    lowest k; exemplars labeled as themselves.  Exemplar set is tiny →
    broadcast join prunes the candidate pairs before the window.

    Exemplar self-labels are emitted as their own block rather than
    derived from the argmax rows: on a sparse graph an exemplar may have
    no candidate edge to any *other* exemplar and would otherwise drop
    out of the argmax entirely — labeled -1 while other points are
    assigned to it (the r4 advice finding).  Dense graphs are unaffected
    (every exemplar has every edge)."""
    cand = smat_off.join(
        F.broadcast(exemplar_set), smat_off["k"] == exemplar_set["exemplar"]
    ).select("i", "k", "s")
    w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("i").alias("vec_id"), F.col("k").alias("assigned"))
    )
    non_ex = (
        best.join(
            F.broadcast(exemplar_set),
            best["vec_id"] == exemplar_set["exemplar"],
            "left_anti",
        )
        .select("vec_id", F.col("assigned").alias("exemplar"))
    )
    return non_ex.unionByName(
        exemplar_set.select(F.col("exemplar").alias("vec_id"), "exemplar")
    )


def cluster(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = T_DEFAULT,
    lam: float = DAMPING,
    pref: str = "median",
) -> DataFrame:
    """End-to-end dense AP: similarity → T iterations → exemplars →
    assignment, returned as (vec_id, exemplar) — the labels the blocked
    engine's one-task chain records (``_labels``, shared with
    ``q_ap_assign``).  No rows when no exemplar was elected.  Refused,
    as every dense query is, below 2 and above ``BLOCKED_MAX_N`` points
    (``_dense``); ``cluster_sparse`` is the scale path.

    The result persists nothing and reads no persisted block: the chain
    job emits no state, and the labels are driver-side rows, so losing
    an executor's blocks cannot lose it (no checkpoint mode to pick)."""
    return _labels(spark, sf_dir, pref=pref, lam=lam, T=iterations)


# ---------------------------------------------------------------------------
# Sparse AP — the 100 TB path (SURVEY.md §7 hard-part a)
# ---------------------------------------------------------------------------

SPARSE_NPROBE = 4  # coarse cells probed per query point
SUBCELL_CAP = 4096       # bipartite tile edge: kernel task work <= cap^2
_SUBCELL_MIN_N = 100_000  # below this, skip the occupancy-count job


def _BLOCKED():
    """Late import of the blocked engine module (avoids import cycles)."""
    from . import ap_dense

    return ap_dense


def _sparse_nlist(n: int, nprobe: int = SPARSE_NPROBE) -> int:
    """Cost-balanced coarse-quantizer size (see operators/ivf.py):
    nlist = sqrt(nprobe·N) balances the O(N·nlist) coarse-scoring step
    against the O(N·nprobe·N/nlist) within-cell verify, so the whole
    candidate pass is O(N^1.5) — sub-quadratic, unlike the earlier
    nlist ∝ N sizing whose coarse step was O(N²/64)."""
    from .ivf import cost_balanced_nlist

    return cost_balanced_nlist(n, nprobe)


def _coarse_probes(pts, c_mat, nprobe, sup_ch=None):
    """Each point's ``nprobe`` nearest centroids (row positions into
    ``c_mat``, unordered) and its home: the true argmin among them.
    ``sup_ch`` switches to the two-level assignment (operators/ivf.py)."""
    import numpy as np

    if sup_ch is not None:
        from .ivf import two_level_cells

        order, probe_d2, _ = two_level_cells(
            pts, c_mat, sup_ch[0], sup_ch[1], nprobe
        )
    else:
        d2 = (
            (pts * pts).sum(axis=1, keepdims=True)
            - 2.0 * pts @ c_mat.T
            + (c_mat * c_mat).sum(axis=1)[None, :]
        )
        order = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
        probe_d2 = np.take_along_axis(d2, order, axis=1)
    home = order[np.arange(len(pts)), np.argmin(probe_d2, axis=1)]
    return order, home


def _cell_pairs(p_ids, p_mat, m_ids, m_mat):
    """One cell's candidate block: every probe × member pair as canonical
    (lo < hi, s = -squared distance), self-pairs dropped and the two
    orientations of a pair deduped (they carry bitwise-equal s).  The
    distance accumulates sequentially over dims, as the dense kernel
    does, so a pair present in both engines is bitwise identical."""
    import numpy as np

    acc = np.zeros((len(p_ids), len(m_ids)), dtype="f8")
    for j in range(p_mat.shape[1]):
        diff = p_mat[:, j, None] - m_mat[None, :, j]
        acc += diff * diff
    lo = np.repeat(p_ids, len(m_ids))
    hi = np.tile(m_ids, len(p_ids))
    keep = lo != hi
    lo, hi, s = lo[keep], hi[keep], -acc.ravel()[keep]
    swap = lo > hi
    lo[swap], hi[swap] = hi[swap], lo[swap]
    # one int64 key per pair: exact while vec_ids stay below ~3·10⁹
    m_key = max(int(hi.max()), int(lo.max())) + 1 if len(lo) else 1
    _, first = np.unique(lo * m_key + hi, return_index=True)
    return lo[first], hi[first], s[first]


def _top_k_rows(ep, other, s, k):
    """The rows ranking below ``k`` per ``ep`` under (s DESC, other ASC)
    — the comparator of the downstream window; lexsort keys are
    last-key-primary."""
    import numpy as np

    o = np.lexsort((other, -s, ep))
    ep, other, s = ep[o], other[o], s[o]
    idx = np.arange(len(ep))
    grp_start = np.where(np.r_[True, ep[1:] != ep[:-1]], idx, 0)
    keep = idx - np.maximum.accumulate(grp_start) < k
    return ep[keep], other[keep], s[keep]


def ivf_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    trained: bool = False,
    emb: DataFrame | None = None,
    n: int | None = None,
    per_point_topk: int | None = None,
    subcell_cap: int | None | str = "auto",
) -> DataFrame:
    """Deduplicated candidate pairs (i < k, s) from an IVF coarse
    quantizer, WITHOUT materializing the dense N² kernel.

    The nlist lowest-id vectors stand in for trained centroids by
    default (deterministic, no training pass — same scheme as
    vector.q_knn_cosine_ivf, and what the hash-checked twin mirrors);
    ``trained=True`` swaps in the sampled-Lloyd quantizer from
    operators/ivf.py instead.  Standard IVF asymmetry: every point is
    INDEXED in exactly its home (nearest) cell, and PROBES its
    SPARSE_NPROBE nearest cells — so pair (x, y) is considered when
    either point's home cell is probed by the other.  Pairwise work is
    O(N · nprobe · cell_size); the cell id is the shuffle key, so no
    task ever sees the full corpus.

    Values use the same dimension-sequential float64 accumulation as the
    dense kernel, so any pair present in both is bitwise identical; the
    graph is approximate only in which pairs are *considered*
    (rows-only contract — ap_assign_sparse).

    ``emb``/``n`` override the testdata source with a caller-supplied
    (vec_id, embedding) frame and its row count — used by the measured
    growth-law test (tests/test_growth_law.py) to drive the REAL
    candidate generator over a synthetic N-sweep, since the driver's
    testdata only ships two distinct corpus sizes.

    ``per_point_topk``: when set, each cell task emits only the DIRECTED
    per-endpoint top-k rows (i, k, s) under the (s DESC, k ASC) order —
    both orientations, across-cell duplicates NOT yet removed — instead
    of the canonical all-pairs relation.  Any candidate in a point's
    GLOBAL top-k ranks ≤ k within every cell that contains it (within-
    cell rank over a subset can only be lower), so downstream
    dedup + per-i top-k over this reduced relation is provably identical
    to running it over the full pair set — while the shuffled candidate
    volume drops from O(N·nprobe·cell_size) = O(N^1.5) rows to
    O(N·nprobe·k).  At N=1M the full relation is ~2×10⁹ rows (~100 GB
    spill — it filled this host's disk); the top-k relation is ~128M.
    Below cell_size ≈ k the mode emits the same rows as the all-pairs
    path (nothing to truncate), so small-N plans are unchanged.
    Bitwise equivalence is pinned in tests/test_round8.py.

    ``subcell_cap``: adaptive skew mitigation (motivated by the measured
    N=2M straggler — one over-full cell ran ~12 min past its 31 peers;
    per-cell kernel cost is occupancy² and AQE cannot split an
    `applyInPandas` group).  When set, cell occupancies are counted
    (one extra pass over the checkpointed role relation) and any cell
    whose member/probe count exceeds the cap is tiled bipartitely:
    members hash into ``ceil(members/cap)`` md5-style buckets, probes
    into ``ceil(probes/cap)`` buckets, and every (member-bucket,
    probe-bucket) tile becomes its own task — each row is replicated
    across the opposite dimension, so the UNION of tile outputs is
    exactly the unsplit cell's pair set (members partition, probes
    partition, every member×probe combination lands in exactly one
    tile; duplicate emissions carry bitwise-equal s and are deduped
    downstream — and per-tile top-k truncation keeps a superset of the
    per-cell top-k, by the same rank-over-subset argument).  Task work
    is bounded by cap² regardless of how skewed the quantizer cells
    are.  Cells under the cap keep 1×1 tiles: plans and outputs are
    byte-identical to subcell_cap=None there.  The default "auto"
    resolves to SUBCELL_CAP above _SUBCELL_MIN_N points and None below
    (the counting pass isn't worth a job at bench scale)."""
    import numpy as np
    import pandas as pd

    if emb is None:
        emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = _n_points(spark, sf_dir)
    if subcell_cap == "auto":
        subcell_cap = SUBCELL_CAP if n > _SUBCELL_MIN_N else None
    nlist = _sparse_nlist(n)
    if trained:
        from .ivf import TWO_LEVEL_MIN, build_two_level, train_centroids

        cent_mat = train_centroids(emb, nlist, n=n)
        cent_ids = np.arange(len(cent_mat), dtype="i8")
        # two-level assignment once the cell count justifies it:
        # coarse work per point drops O(nlist) → O(sqrt(nlist))
        sup_ch = build_two_level(cent_mat) if len(cent_mat) >= TWO_LEVEL_MIN else None
    else:
        cent_rows = emb.where(F.col("vec_id") < nlist).collect()
        cent_ids = np.array([r.vec_id for r in cent_rows], dtype="i8")
        cent_mat = np.array([r.embedding for r in cent_rows], dtype="f8")
        sup_ch = None
    bc = spark.sparkContext.broadcast((cent_ids, cent_mat, sup_ch))
    nprobe = min(SPARSE_NPROBE, len(cent_ids))

    def assign_cells(batches):
        c_ids, c_mat, sc = bc.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype="i8")
            pts = np.stack(pdf["embedding"].to_numpy()).astype("f8")
            order, home = _coarse_probes(pts, c_mat, nprobe, sc)
            yield pd.DataFrame(
                {
                    "cell": c_ids[order].ravel(),
                    "vec_id": np.repeat(ids, nprobe),
                    "is_home": (order == home[:, None]).ravel(),
                    "embedding": np.repeat(pdf["embedding"].to_numpy(), nprobe),
                }
            )

    par = spark.sparkContext.defaultParallelism
    roles = emb.repartition(par).mapInPandas(
        assign_cells,
        schema="cell long, vec_id long, is_home boolean, embedding array<float>",
    )

    group_keys = ["cell"]
    if subcell_cap is not None:
        # one assignment compute feeds both the occupancy count and the
        # kernel scan
        roles = roles.localCheckpoint(eager=False)
        stats = (
            roles.groupBy("cell")
            .agg(
                F.count("*").alias("n_probes"),
                F.sum(F.col("is_home").cast("long")).alias("n_members"),
            )
            .collect()
        )
        tiles = [
            (
                int(r.cell),
                -(-int(r.n_members) // subcell_cap) or 1,
                -(-int(r.n_probes) // subcell_cap) or 1,
            )
            for r in stats
            if r.n_members > subcell_cap or r.n_probes > subcell_cap
        ]
        if tiles:
            nsub_df = F.broadcast(
                spark.createDataFrame(
                    tiles, "cell long, nmsub int, npsub int"
                )
            )
            r = roles.join(nsub_df, "cell", "left").na.fill(
                {"nmsub": 1, "npsub": 1}
            )
            msub_id = F.pmod(F.xxhash64("vec_id"), F.col("nmsub")).cast("int")
            psub_id = F.pmod(F.xxhash64("vec_id"), F.col("npsub")).cast("int")
            base_cols = ["cell", "vec_id", "is_home", "embedding"]
            as_probe = (
                r.withColumn("is_home", F.lit(False))
                .withColumn(
                    "msub",
                    F.explode(F.sequence(F.lit(0), F.col("nmsub") - 1)),
                )
                .withColumn("psub", psub_id)
                .select(*base_cols, "msub", "psub")
            )
            as_member = (
                r.where(F.col("is_home"))
                .withColumn("msub", msub_id)
                .withColumn(
                    "psub",
                    F.explode(F.sequence(F.lit(0), F.col("npsub") - 1)),
                )
                .select(*base_cols, "msub", "psub")
            )
            roles = as_probe.unionByName(as_member)
            group_keys = ["cell", "msub", "psub"]

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["is_home"]]
        if not len(mem) or not len(pdf):
            return pd.DataFrame({"i": [], "k": [], "s": []})
        lo, hi, s = _cell_pairs(
            pdf["vec_id"].to_numpy(dtype="i8"),
            np.stack(pdf["embedding"].to_numpy()).astype("f8"),
            mem["vec_id"].to_numpy(dtype="i8"),
            np.stack(mem["embedding"].to_numpy()).astype("f8"),
        )
        return pd.DataFrame({"i": lo, "k": hi, "s": s})

    def cell_topk_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = cell_kernel(pdf)
        if not len(out):
            return out
        lo = out["i"].to_numpy(dtype="i8")
        hi = out["k"].to_numpy(dtype="i8")
        s = out["s"].to_numpy(dtype="f8")
        # both directed orientations of the deduped canonical pairs
        ep, other, ss = _top_k_rows(
            np.concatenate([lo, hi]),
            np.concatenate([hi, lo]),
            np.concatenate([s, s]),
            per_point_topk,
        )
        return pd.DataFrame({"i": ep, "k": other, "s": ss})

    if per_point_topk is not None:
        # directed, per-cell-truncated; caller dedups across cells
        return roles.groupBy(*group_keys).applyInPandas(
            cell_topk_kernel, schema="i long, k long, s double"
        )

    return (
        roles.groupBy(*group_keys)
        .applyInPandas(cell_kernel, schema="i long, k long, s double")
        .dropDuplicates(["i", "k"])  # a pair may meet in several cells
    )


def _knn_candidate_pairs_fused(
    spark: SparkSession, sf_dir: str, k: int, n: int
) -> DataFrame:
    """Fused-small candidate graph (optimization r15, guide §2.4/§4.1):
    at N ≤ ap_dense.SPARSE_FUSED_MAX_N the whole IVF candidate pipeline
    — coarse assign → per-cell pair kernels → cross-cell dedup →
    per-point top-k → symmetrize → dedup — runs as ONE mapInPandas task
    over the embeddings, the same numpy operations the distributed path
    applies per cell in the same order, so the output RELATION is
    bitwise identical (pinned by tests/test_round15_opt.py).  Only the
    physical shape changes: one python crossing and zero exchanges
    instead of two crossings and four exchanges (repartition, groupBy
    cell, dedup, window) — the distributed path's per-stage overhead
    dominated at this scale (~2.4 s → ~0.6 s warm at N=2000).  This is
    the same fused-small pattern as the one-task sparse LOOP
    (cluster_sparse_blocked, same gate)."""
    import numpy as np
    import pandas as pd

    nlist = _sparse_nlist(n)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def kernel(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        ids = pdf["vec_id"].to_numpy(dtype="i8")
        pts = np.stack(pdf["embedding"].to_numpy()).astype("f8")
        sel = ids < nlist  # same centroid choice as the distributed path
        c_ids = ids[sel]
        c_mat = pts[sel]
        if len(c_ids) == 0:
            return
        nprobe = min(SPARSE_NPROBE, len(c_ids))
        order, home_col = _coarse_probes(pts, c_mat, nprobe)
        out_i, out_k, out_s = [], [], []
        for c in np.unique(order):
            probe_rows = np.nonzero((order == c).any(axis=1))[0]
            member_rows = probe_rows[home_col[probe_rows] == c]
            if not len(member_rows) or not len(probe_rows):
                continue
            lo, hi, s = _cell_pairs(
                ids[probe_rows], pts[probe_rows],
                ids[member_rows], pts[member_rows],
            )
            ep, other, ss = _top_k_rows(
                np.concatenate([lo, hi]),
                np.concatenate([hi, lo]),
                np.concatenate([s, s]),
                k,
            )
            out_i.append(ep)
            out_k.append(other)
            out_s.append(ss)
        if not out_i:
            return
        ii = np.concatenate(out_i)
        kk = np.concatenate(out_k)
        ss = np.concatenate(out_s)
        if ii.size == 0:  # every cell emitted zero kept pairs (e.g. N=1:
            # the only pair is a self-pair) — mirror the distributed
            # path's empty relation instead of ii.max() raising
            # (advice r15 #3)
            return
        # cross-cell dedup (a pair may meet in several cells; duplicate
        # rows carry bitwise-equal s) — dropDuplicates(["i","k"])
        m_key = max(int(ii.max()), int(kk.max())) + 1
        _, first = np.unique(ii * m_key + kk, return_index=True)
        ii, kk, ss = ii[first], kk[first], ss[first]
        # global per-point top-k — the window (s DESC, k ASC), rn <= k
        ii, kk, ss = _top_k_rows(ii, kk, ss, k)
        # symmetrize + final dedup
        ei = np.concatenate([ii, kk])
        ek = np.concatenate([kk, ii])
        es = np.concatenate([ss, ss])
        _, first = np.unique(ei * m_key + ek, return_index=True)
        yield pd.DataFrame(
            {"i": ei[first], "k": ek[first], "s": es[first]}
        )

    return emb.coalesce(1).mapInPandas(kernel, schema="i long, k long, s double")


def knn_candidate_pairs(
    spark: SparkSession, sf_dir: str, k: int = 32, trained: bool = False
) -> DataFrame:
    """Symmetric k-NN candidate graph (i, k, s): per-point top-k over the
    IVF candidates, symmetrized.  The cell kernels emit per-endpoint
    top-k directly (``per_point_topk`` — provably the same survivors,
    see ivf_candidate_pairs), so the shuffled relation is O(N·nprobe·k)
    rows, never the O(N^1.5) all-pairs set; the window then reduces the
    ≤ nprobe·k rows per point to the global top-k.  Below the
    fused-small gate the whole pipeline runs as one task instead
    (bitwise-identical relation, see _knn_candidate_pairs_fused)."""
    n = _n_points(spark, sf_dir)
    if not trained and n <= _BLOCKED().SPARSE_FUSED_MAX_N:
        return _knn_candidate_pairs_fused(spark, sf_dir, k, n)
    pairs = ivf_candidate_pairs(
        spark, sf_dir, trained=trained, per_point_topk=k
    )
    # already directed (both orientations); dedup pairs that met in
    # several cells — duplicate rows carry bitwise-equal s
    sym = pairs.dropDuplicates(["i", "k"])
    w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
    topk = (
        sym.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("i", "k", "s")
    )
    back = topk.unionByName(
        topk.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
    )
    return back.dropDuplicates(["i", "k"])


def cluster_sparse(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = T_DEFAULT,
    lam: float = DAMPING,
    k: int = 32,
    trained: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Sparse Affinity Propagation over the k-NN candidate graph.

    The coordinate-format passes are sparse-correct AS IS: a pair absent
    from the relation has s = -inf for the responsibility max (it simply
    never appears among the row's candidates) and contributes 0 to the
    availability sum — exactly Frey–Dueck's sparse formulation.  Message
    state is O(N·k) rows; per-iteration cost scales linearly in N.

    Two engines split at one gate, ``ap_dense.SPARSE_FUSED_MAX_N``: at or
    below it the one-task ragged loop
    (``ap_dense.cluster_sparse_blocked``: build, in-kernel median, T
    iterations and assignment in ONE task); above it the coordinate loop
    (``_coordinate_sparse_labels``) with the rank-narrowing exact median.
    A distributed ragged loop (one job per iteration, column stats
    combined on the driver) used to serve the band up to
    ``ap_dense.BLOCKED_MAX_N``.  Measured on a 4-core host (T=5, warm,
    equal labels) it lost to the coordinate loop at every N it served —
    9.7–11.0 s vs 9.1–9.3 s at N=4,000, 15.3–18.3 s vs 12.0–15.1 s at
    6,000, 20.9–21.1 s vs 14.7 s at 10,500 — so it was deleted.

    Points none of whose candidates became exemplars are emitted with
    exemplar = -1 (honest sparse semantics: a point can only elect an
    exemplar it has a declared similarity to).

    ``checkpoint_dir`` switches the chain to reliable ``checkpoint()``
    files (executor-loss-tolerant mode for real-cluster runs) — see
    :class:`reliable_checkpoints`.
    """
    if checkpoint_dir is not None:
        with reliable_checkpoints(spark, checkpoint_dir):
            return cluster_sparse(spark, sf_dir, iterations, lam, k, trained)
    cand = _ckpt(
        knn_candidate_pairs(spark, sf_dir, k, trained=trained), eager=False
    )
    ids = table(spark, sf_dir, "embeddings").select("vec_id")
    if _n_points(spark, sf_dir) <= _BLOCKED().SPARSE_FUSED_MAX_N:
        return _BLOCKED().cluster_sparse_blocked(spark, cand, ids, iterations, lam)
    # exact median of the O(N^1.5) candidate similarities via rank
    # narrowing — `percentile` would buffer all of them on one reducer
    # (~10⁹ values at N=10⁶, the OOM found by the above-gate run).  The
    # graph is never empty here: nlist = max(16, √(4N)) < N puts two
    # points in some cell, and every point probes its home cell.
    return _coordinate_sparse_labels(
        cand, ids, exact_median_distributed(cand), iterations, lam
    )


def _coordinate_sparse_labels(
    cand: DataFrame, ids: DataFrame, pref: float, iterations: int, lam: float
) -> DataFrame:
    """The coordinate sparse loop: the candidate graph plus the ``pref``
    diagonal, T damped passes (``iterate``), exemplars, assignment over
    declared edges; every ``ids`` point without an exemplar among its
    candidates gets -1."""
    diag = ids.select(
        F.col("vec_id").alias("i"), F.col("vec_id").alias("k"),
        F.lit(pref).alias("s"),
    )
    state = iterate(
        init_state(_ckpt(cand.unionByName(diag), eager=False)), iterations, lam
    )
    best = assign(cand, exemplars_from_state(state))
    return (
        ids.join(best, ids["vec_id"] == best["vec_id"], "left")
        .select(
            ids["vec_id"],
            F.coalesce(best["exemplar"], F.lit(-1).cast("long")).alias("exemplar"),
        )
    )


# In-query agreement gate for the rows-only flagship (r7 verdict #5):
# floor far below the measured value (label agreement vs the hash-checked
# twin is 1.000 at sf0.001/0.01/0.1, round-8 testdata) so testdata
# regeneration can't flake it, but a broken kernel/candidate change that
# diverges the production path from the oracle-anchored twin raises
# inside the driver's correctness run instead of passing rows-only.
SPARSE_AGREEMENT_FLOOR = 0.9
# the gate doubles the query's cost (it runs the checked twin too), so it
# runs at the driver's verification scale only — the benched sf0.1 corpus
# (N=2000) exercises the identical code path, verified at this gate's
# scale and in tests
_SPARSE_GATE_MAX_N = 1_000


def q_ap_assign_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: approximate by construction (candidate pruning) — but
    SELF-VERIFYING at verification scale (≤ _SPARSE_GATE_MAX_N points):
    labels must agree with ``q_ap_assign_sparse_checked`` — the same
    pruning semantics in fold arithmetic, itself value-hashed against
    DuckDB — on ≥ SPARSE_AGREEMENT_FLOOR of points, else this query
    RAISES and the driver row turns red."""
    res = cluster_sparse(spark, sf_dir)
    if 0 < _n_points(spark, sf_dir) <= _SPARSE_GATE_MAX_N:  # empty: no check
        res = _ckpt(res, eager=False)  # gate + returned result: one compute
        checked = q_ap_assign_sparse_checked(spark, sf_dir).select(
            "vec_id", F.col("exemplar").alias("exemplar_chk")
        )
        row = (
            res.join(checked, "vec_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("exemplar") == F.col("exemplar_chk")).cast("long")
                ).alias("agree"),
            )
            .first()
        )
        if row.n == 0 or row.agree / row.n < SPARSE_AGREEMENT_FLOOR:
            raise AssertionError(
                f"sparse AP diverged from the hash-checked twin: "
                f"{row.agree}/{row.n} labels agree "
                f"(floor {SPARSE_AGREEMENT_FLOOR})"
            )
    return res


# ---------------------------------------------------------------------------
# Hash-checked sparse AP: the same IVF-pruned pipeline with every stage in
# oracle-mirrorable fold arithmetic (upgrades the flagship scale path from
# rows-only to a full DuckDB value-hash check, like knn_cosine_ivf)
# ---------------------------------------------------------------------------

SPARSE_CHECKED_K = 32


def _fold_sq_l2(a, b):
    """Sequential-fold squared L2 — bitwise identical to DuckDB's
    list_reduce over the zipped squared diffs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sparse_candidates_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, oracle-mirrorable IVF candidate graph: coarse cells
    are the nlist lowest-id vectors, every point ranks cells by
    sequential-fold d² (ties → lowest cell id), is indexed in its
    nearest cell and probes its SPARSE_NPROBE nearest; probe×home pairs
    per cell become candidates, then the symmetric per-point top-k
    subgraph.  Identical pruning semantics to ivf_candidate_pairs /
    knn_candidate_pairs, but fold-based throughout so DuckDB replays the
    exact float bits (the numpy-gram production kernel reorders the d²
    accumulation and is therefore rows-only)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nlist = _sparse_nlist(_n_points(spark, sf_dir))
    nprobe = min(SPARSE_NPROBE, nlist)
    coarse = emb.where(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("c_emb")
    )
    scored = emb.crossJoin(F.broadcast(coarse)).select(
        "vec_id", "emb", "cell",
        _fold_sq_l2(F.col("emb"), F.col("c_emb")).alias("d2"),
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    ranked = scored.withColumn("crn", F.row_number().over(w_cell))
    home = ranked.where(F.col("crn") == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cand_emb"), "cell"
    )
    probes = ranked.where(F.col("crn") <= nprobe).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb"), "cell"
    )
    raw = (
        probes.join(home, "cell")
        .where(F.col("probe_id") != F.col("cand_id"))
        .select(
            F.least("probe_id", "cand_id").alias("i"),
            F.greatest("probe_id", "cand_id").alias("k"),
            (-_fold_sq_l2(F.col("probe_emb"), F.col("cand_emb"))).alias("s"),
        )
        .dropDuplicates(["i", "k"])
    )
    sym = raw.unionByName(
        raw.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
    )
    w_top = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
    topk = (
        sym.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= SPARSE_CHECKED_K)
        .select("i", "k", "s")
    )
    back = topk.unionByName(
        topk.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
    )
    return back.dropDuplicates(["i", "k"])


def q_ap_assign_sparse_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked sparse AP assignment: candidate graph above, median
    preference over candidate similarities, T damped iterations of the
    SAME coordinate-format passes (sparse-correct as-is), exemplars,
    assignment restricted to declared edges; unreachable points emit
    exemplar = -1."""
    cand = _ckpt(sparse_candidates_checked(spark, sf_dir), eager=False)
    ids = table(spark, sf_dir, "embeddings").select("vec_id")
    p = cand.agg(F.expr("percentile(s, 0.5)")).first()[0]
    return _coordinate_sparse_labels(cand, ids, p, T_DEFAULT, DAMPING)


def oracle_ap_assign_sparse_checked(
    T: int = T_DEFAULT, nlist: int | None = None, nprobe: int = SPARSE_NPROBE
) -> str:
    """Full SQL mirror of the checked sparse pipeline.  nlist defaults to
    the sf0.01 value (_sparse_nlist(ORACLE_SF_N)) — the oracle only ever
    runs at the driver's sf0.01, where the Spark side computes the same
    function of the actual row count."""
    if nlist is None:
        from .ivf import ORACLE_SF_N

        nlist = _sparse_nlist(ORACLE_SF_N)
    sqd = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " z -> (z[1]-z[2])*(z[1]-z[2])), (x, y) -> x + y)"
    )
    body, final = _iteration_ctes(T, suffix="_sp")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
        " FROM embeddings),\n"
        f"cells AS (SELECT vec_id AS cell, emb AS c_emb FROM e"
        f" WHERE vec_id < {nlist}),\n"
        "scored AS (SELECT e.vec_id, e.emb, c.cell, "
        + sqd.format(a="e.emb", b="c.c_emb")
        + " AS d2 FROM e CROSS JOIN cells c),\n"
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id"
        " ORDER BY d2 ASC, cell ASC) AS crn FROM scored),\n"
        "home AS (SELECT vec_id AS cand_id, emb AS cand_emb, cell"
        " FROM ranked WHERE crn = 1),\n"
        f"probes AS (SELECT vec_id AS probe_id, emb AS probe_emb, cell"
        f" FROM ranked WHERE crn <= {nprobe}),\n"
        "rawpairs AS (SELECT DISTINCT least(probe_id, cand_id) AS i,"
        " greatest(probe_id, cand_id) AS k, -("
        + sqd.format(a="probe_emb", b="cand_emb")
        + ") AS s FROM probes JOIN home USING (cell)"
        " WHERE probe_id <> cand_id),\n"
        "sym AS (SELECT i, k, s FROM rawpairs"
        " UNION ALL SELECT k, i, s FROM rawpairs),\n"
        f"topk AS (SELECT i, k, s FROM (SELECT *, row_number() OVER"
        f" (PARTITION BY i ORDER BY s DESC, k ASC) AS rn FROM sym)"
        f" WHERE rn <= {SPARSE_CHECKED_K}),\n"
        "cand AS (SELECT DISTINCT i, k, s FROM"
        " (SELECT i, k, s FROM topk UNION ALL SELECT k, i, s FROM topk)),\n"
        "pref_sp AS (SELECT median(s) AS p FROM cand),\n"
        "smat_sp AS (SELECT i, k, s FROM cand UNION ALL"
        " SELECT vec_id, vec_id, p FROM e CROSS JOIN pref_sp),\n"
        "st0_sp AS (SELECT i, k, s, CAST(0 AS DOUBLE) AS r,"
        " CAST(0 AS DOUBLE) AS a FROM smat_sp)"
        + body
        + f""",
ex_sp AS (SELECT k AS exemplar FROM {final} WHERE i = k AND a + r > 0),
acand AS (SELECT c.i, c.k, c.s FROM cand c JOIN ex_sp x ON c.k = x.exemplar),
abest AS (
  SELECT i AS vec_id, k AS assigned
  FROM acand
  QUALIFY row_number() OVER (PARTITION BY i ORDER BY s DESC, k ASC) = 1),
labels_sp AS (
  SELECT b.vec_id, b.assigned AS exemplar
  FROM abest b ANTI JOIN ex_sp x ON b.vec_id = x.exemplar
  UNION ALL
  SELECT exemplar AS vec_id, exemplar FROM ex_sp)
SELECT e.vec_id,
       CAST(coalesce(l.exemplar, -1) AS BIGINT) AS exemplar
FROM e LEFT JOIN labels_sp l ON e.vec_id = l.vec_id"""
    )


def cluster_converged(
    spark: SparkSession,
    sf_dir: str,
    max_iter: int = 200,
    convergence_iter: int = 15,
    lam: float = DAMPING,
) -> tuple[DataFrame, int]:
    """Convergence-driven dense AP (Frey & Dueck's stop rule, sklearn's
    semantics: stop once the exemplar set has been non-empty and
    unchanged for ``convergence_iter`` consecutive iterations, else at
    ``max_iter``).  Reported but not hashed (BASELINE.md): the
    t2-declared queries unroll a fixed T for determinism.

    One chain job: the one-task chain applies the rule to the exemplar
    set it computes each iteration and records how many iterations ran
    (its delta count).  Refused like ``cluster``.
    Returns (labels DataFrame, iterations_run)."""
    labels = _labels(
        spark, sf_dir, lam=lam, T=max_iter, convergence_iter=convergence_iter
    )
    d = _dense_chain(spark, sf_dir, lam=lam, T=max_iter, convergence_iter=convergence_iter)
    return labels, d.deltas("median", lam, max_iter, convergence_iter).size


# ---------------------------------------------------------------------------
# Per-(application, sf_dir) kernel/state cache
# ---------------------------------------------------------------------------
# Every declared A-row derives from ONE similarity kernel and ONE damped
# iteration chain.  Without sharing, each of the ~10 queries rebuilds the
# N² kernel and re-runs T iterations — at the driver's sf0.01 gate that
# multiplied to minutes and starved the later operator families of their
# correctness budget (round 1: 27 queries never got a CORRECTNESS row).
# The cache holds lazily-checkpointed DataFrames keyed by
# (applicationId, sf_dir): the kernel materializes once, and every A-row
# reuses the same RDD blocks.  The multi-iteration A-rows and ``cluster``
# read the one-task chain's records (one run per stop rule).

_cache: dict[tuple, object] = {}


def clear_cache() -> None:
    """Drop all cached kernel/state references.  MUST be called by any
    harness that unpersists RDD blocks wholesale (bench.py does, between
    queries): a localCheckpoint whose blocks are dropped cannot be
    recomputed — its lineage is truncated — so stale cache entries would
    fail, not rebuild."""
    _cache.clear()
    _fp_memo.clear()
    _fp_seen.clear()


# The filesystem fingerprint (os.scandir + per-file stat) runs several
# times per query on the hot path; memoize it per sf_dir with a short TTL
# so a query burst pays one directory scan, while a testdata regeneration
# is still detected within _FP_TTL_SEC (between rounds the application
# restarts anyway; harnesses that regenerate in-process call clear_cache).
_fp_memo: dict[str, tuple[float, tuple]] = {}
_fp_seen: dict[tuple, tuple] = {}  # (app, sf_dir) -> last fingerprint
_FP_TTL_SEC = 1.0


def _emb_fingerprint(sf_dir: str) -> tuple:
    import time

    from .ivf import _dir_fingerprint

    now = time.monotonic()
    hit = _fp_memo.get(sf_dir)
    # never serve a memoized "directory missing/empty" fingerprint: a
    # regeneration that just recreated the dir must be seen immediately
    # (ADVICE r7 — the memo would otherwise mask the recreation for the
    # TTL and serve kernels keyed to the vanished state)
    if hit is not None and hit[1] != () and now - hit[0] < _FP_TTL_SEC:
        return hit[1]
    fp = _dir_fingerprint(sf_dir, "embeddings")
    _fp_memo[sf_dir] = (now, fp)
    return fp


def _ckey(spark: SparkSession, sf_dir: str, *parts) -> tuple:
    """Cache key: (application, sf_dir, embeddings-file fingerprint, ...).
    The fingerprint (parquet mtime_ns+size, same scheme as
    ivf.corpus_rows) invalidates every cached AP artifact — counts,
    kernels, chains, the DenseAP instance — if the testdata directory is
    regenerated while a Spark application stays alive; without it the
    stale similarity kernel would silently hash-diverge from the oracle.

    Caveat (ADVICE r7): the fingerprint is memoized for _FP_TTL_SEC
    (1 s), so an in-process regeneration followed by a query inside that
    window can still serve the pre-regeneration key — EXCEPT when the
    memoized fingerprint is () (dir missing/empty), which is always
    re-scanned.  Harnesses that regenerate testdata in-process should
    call clear_cache() (which also clears the memo) for a hard cut."""
    app = spark.sparkContext.applicationId
    fp = _emb_fingerprint(sf_dir)
    # Evict entries keyed under a superseded fingerprint — but only scan
    # the cache when the fingerprint actually changed (the common path is
    # a dict lookup).  Evicted DenseAP instances destroy their embeddings
    # broadcast explicitly; checkpointed kernels/chains are plain
    # DataFrames whose storage blocks Spark's ContextCleaner reclaims once
    # the driver references drop.
    if _fp_seen.get((app, sf_dir)) != fp:
        stale = [k for k in _cache if k[:2] == (app, sf_dir) and k[2] != fp]
        for k in stale:
            v = _cache.pop(k)
            if hasattr(v, "destroy"):
                v.destroy()
        _fp_seen[(app, sf_dir)] = fp
    return (app, sf_dir, fp) + parts


def _n_points(spark: SparkSession, sf_dir: str) -> int:
    key = _ckey(spark, sf_dir, "n")
    if key not in _cache:
        from ..sources.tables import table_rows

        # footer-metadata count (exact, no Spark job — r15): the bench
        # clears caches between queries, so this ran as a fresh count
        # job on every AP query
        _cache[key] = table_rows(sf_dir, "embeddings")
    return _cache[key]


def cached_off(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The off-diagonal similarity relation, kernel run at most once per
    (application, sf_dir)."""
    key = _ckey(spark, sf_dir, "off")
    if key not in _cache:
        _cache[key] = similarity_off_diagonal(spark, sf_dir)
    return _cache[key]


def cached_smat(spark: SparkSession, sf_dir: str, pref: str = "median") -> DataFrame:
    """Full S (off-diagonal + preference diagonal), checkpointed, cached.
    The preference is the dense engine's (``DenseAP.pref_value``: bitwise
    ``percentile(s, 0.5)`` or ``min(s)``), so S is refused over the same
    N range as every dense query."""
    key = _ckey(spark, sf_dir, "smat", pref)
    if key not in _cache:
        p = _dense(spark, sf_dir).pref_value(pref)
        off = cached_off(spark, sf_dir)
        ids = table(spark, sf_dir, "embeddings").select("vec_id")
        diag = ids.select(
            F.col("vec_id").alias("i"),
            F.col("vec_id").alias("k"),
            F.lit(p).cast("double").alias("s"),
        )
        _cache[key] = off.unionByName(diag).localCheckpoint(eager=False)
    return _cache[key]


def _dense(spark: SparkSession, sf_dir: str):
    """Blocked dense engine instance (operators/ap_dense.py) behind
    ``cluster``, ``cluster_converged`` and every multi-iteration dense
    query.  Refused below 2 points (no off-diagonal similarity, so no
    preference) and above its size gate: the dense N² loop is the wrong
    tool there (the deleted coordinate loop took 661 s at N=12k —
    PLANS.md "blocked-gate probe")."""
    key = _ckey(spark, sf_dir, "dense")
    if key not in _cache:
        from . import ap_dense

        n = _n_points(spark, sf_dir)
        if n < 2:
            raise ValueError(
                f"dense AP needs at least 2 points, got N={n}: there is no "
                "off-diagonal similarity to take a preference from"
            )
        if n > ap_dense.BLOCKED_MAX_N:
            raise ValueError(
                f"dense AP refused at N={n} > BLOCKED_MAX_N="
                f"{ap_dense.BLOCKED_MAX_N}: use ap.cluster_sparse, the scale "
                "path (ap.cluster runs this dense engine)"
            )
        _cache[key] = ap_dense.DenseAP(spark, sf_dir)
    return _cache[key]


def _dense_chain(
    spark: SparkSession,
    sf_dir: str,
    pref: str = "median",
    lam: float = DAMPING,
    T: int = T_DEFAULT,
    convergence_iter: int | None = None,
):
    """The ``_dense`` instance, with the one-task chain of (pref, lam, T,
    convergence_iter) run once for its records (``DenseAP.record``: the
    exemplar set, convergence deltas, exemplar counts and labels).  No
    state: the job emits none and nothing is cached here."""
    d = _dense(spark, sf_dir)
    d.record(T, lam=lam, pref=pref, convergence_iter=convergence_iter)
    return d


def _exemplar_ids(
    spark: SparkSession, sf_dir: str, pref: str = "median", lam: float = DAMPING
):
    """Sorted exemplar ids after T_DEFAULT iterations (the chain's
    record — no state scan)."""
    return _dense_chain(spark, sf_dir, pref=pref, lam=lam).ex_hint(pref, lam, T_DEFAULT)


def _exemplar_df(spark: SparkSession, ex) -> DataFrame:
    return spark.createDataFrame([(int(e),) for e in ex], "exemplar long")


def _labels(
    spark: SparkSession,
    sf_dir: str,
    pref: str = "median",
    lam: float = DAMPING,
    T: int = T_DEFAULT,
    convergence_iter: int | None = None,
) -> DataFrame:
    """Final (vec_id, exemplar) assignment of the chain run with (pref,
    lam, T, convergence_iter) — A7/A8 and ``cluster``/``cluster_converged``
    read it: the chain's task already labelled every point, so the
    relation is those recorded labels in one partition (its count is one
    job with no exchange)."""
    key = _ckey(spark, sf_dir, "labels", pref, lam, T, convergence_iter)
    if key not in _cache:
        import pyarrow as pa

        d = _dense_chain(spark, sf_dir, pref, lam, T, convergence_iter)
        lab = d.labels(pref, lam, T, convergence_iter)
        rows = pa.table({"vec_id": d.ids[: lab.size], "exemplar": lab})
        _cache[key] = spark.createDataFrame(rows).coalesce(1)
    return _cache[key]


# ---------------------------------------------------------------------------
# Declared queries (SURVEY.md §2 A-rows)
# ---------------------------------------------------------------------------

def q_ap_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_off(spark, sf_dir)


def q_ap_preference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_off(spark, sf_dir).select(
        F.expr("percentile(s, 0.5)").alias("preference")
    )


def q_ap_responsibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First damped responsibility pass from the zero state (bit-exact)."""
    state = init_state(cached_smat(spark, sf_dir))
    return responsibility_pass(state).select("i", "k", "r")


def q_ap_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First full iteration's availabilities (group sums → round 3)."""
    state = _one_iteration_state(spark, sf_dir)
    return state.select("i", "k", F.round("a", 3).alias("a"))


def _one_iteration_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate view (i, k, s, r, a) of the T=1 fused chain — the one
    dense reader of a chain state, whose checkpoint is cached per
    (application, sf_dir)."""
    d = _dense(spark, sf_dir)
    key = _ckey(spark, sf_dir, "state1")
    if key not in _cache:
        _cache[key] = d.chain(1, retain=False)[-1]
    return d.coordinate_view(_cache[key])


def q_ap_iterate_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full damped iteration.  r is emitted UNROUNDED: the first-pass
    responsibility is selection arithmetic over bitwise-identical inputs
    (same reason ap_responsibility hash-passes raw), and rounding it can
    only introduce half-boundary divergence (Spark BigDecimal HALF_UP vs
    DuckDB — the round-1 driver hash FAIL).  a depends on engine-ordered
    group sums → rounded at 3 on both sides, as in ap_availability."""
    state = _one_iteration_state(spark, sf_dir)
    return state.select("i", "k", "r", F.round("a", 3).alias("a"))


def q_ap_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exemplar_df(spark, _exemplar_ids(spark, sf_dir))


def q_ap_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _labels(spark, sf_dir)


def q_ap_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-cluster size + net similarity sum s(i, label(i)) including
    the exemplar's own preference term [AP fig.2 quality metric]."""
    smat = cached_smat(spark, sf_dir)
    labels = _labels(spark, sf_dir)
    joined = labels.join(
        smat,
        (labels["vec_id"] == smat["i"]) & (labels["exemplar"] == smat["k"]),
    )
    return (
        joined.groupBy("exemplar")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("s"), 3).alias("net_similarity"),
        )
    )


def q_ap_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: max |r_t - r_{t-1}| per iteration t = 1..T — the deltas the
    fused chain's kernels recorded (a max is exact and order-free, so
    they are bitwise the coordinate join's), rounded by Spark."""
    deltas = _dense_chain(spark, sf_dir).deltas("median", DAMPING, T_DEFAULT)
    return spark.createDataFrame(
        [(t, float(x)) for t, x in enumerate(deltas, 1)],
        "iter int, max_delta_r double",
    ).select("iter", F.round("max_delta_r", 3).alias("max_delta_r"))


def q_ap_pref_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: exemplar count under median vs min preference (T=5)."""
    return spark.createDataFrame(
        [
            (kind, len(_exemplar_ids(spark, sf_dir, pref=kind)))
            for kind in ("median", "min")
        ],
        "pref_kind string, n_exemplars long",
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generation (chained CTEs mirroring the passes exactly)
# ---------------------------------------------------------------------------

_PRELUDE_OFF = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
offd AS (
  SELECT a.vec_id AS i, b.vec_id AS k,
         -list_reduce(
            list_transform(list_zip(a.emb, b.emb),
                           p -> (p[1]-p[2])*(p[1]-p[2])),
            (x, y) -> x + y) AS s
  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
"""


def _prelude(pref: str = "median") -> str:
    """CTEs: e, offd, pref, smat, st0 (the zero message state)."""
    pref_expr = "median(s)" if pref == "median" else "min(s)"
    return (
        _PRELUDE_OFF
        + f""",
pref AS (SELECT {pref_expr} AS p FROM offd),
smat AS (SELECT i, k, s FROM offd
         UNION ALL
         SELECT vec_id AS i, vec_id AS k, p AS s FROM e CROSS JOIN pref),
st0 AS (SELECT i, k, s, CAST(0 AS DOUBLE) AS r, CAST(0 AS DOUBLE) AS a FROM smat)
"""
    )


def _r_pass_sql(prev: str, out: str, lam: float = DAMPING) -> str:
    """SQL mirror of responsibility_pass (same top-2 + tie-count trick)."""
    return f"""
{out} AS (
  SELECT i, k, s,
         {lam}*r + {1 - lam}*(s - CASE WHEN asv = m1 AND cnt1 = 1
                                       THEN m2 ELSE m1 END) AS r,
         a
  FROM (
    SELECT i, k, s, r, a, asv, m1,
           max(CASE WHEN asv < m1 THEN asv END) OVER (PARTITION BY i) AS m2,
           sum(CASE WHEN asv = m1 THEN 1 ELSE 0 END) OVER (PARTITION BY i) AS cnt1
    FROM (
      SELECT i, k, s, r, a, a + s AS asv,
             max(a + s) OVER (PARTITION BY i) AS m1
      FROM {prev}) t1) t2)
"""


def _a_pass_sql(prev: str, out: str, lam: float = DAMPING) -> str:
    """SQL mirror of availability_pass."""
    return f"""
{out} AS (
  SELECT i, k, s, r,
         {lam}*a + {1 - lam}*(CASE WHEN i = k THEN sum_rp
                              ELSE least(CAST(0 AS DOUBLE),
                                         rkk + sum_rp - greatest(r, CAST(0 AS DOUBLE)))
                              END) AS a
  FROM (
    SELECT i, k, s, r, a,
           sum(CASE WHEN i <> k THEN greatest(r, CAST(0 AS DOUBLE))
                    ELSE CAST(0 AS DOUBLE) END) OVER (PARTITION BY k) AS sum_rp,
           max(CASE WHEN i = k THEN r END) OVER (PARTITION BY k) AS rkk
    FROM {prev}) t)
"""


def _iteration_ctes(T: int, lam: float = DAMPING, suffix: str = "") -> tuple[str, str]:
    """Chained CTEs for T full iterations; returns (sql, final_state_name).

    Generated programmatically (SURVEY.md §7: do not hand-write nested CTEs).
    """
    parts = []
    prev = f"st0{suffix}" if suffix else "st0"
    for t in range(1, T + 1):
        rp, st = f"rp{t}{suffix}", f"st{t}{suffix}"
        parts.append("," + _r_pass_sql(prev, rp, lam))
        parts.append("," + _a_pass_sql(rp, st, lam))
        prev = st
    return "".join(parts), prev


def _exemplar_cte(state: str, out: str = "ex") -> str:
    return f""",
{out} AS (SELECT k AS exemplar FROM {state} WHERE i = k AND a + r > 0)
"""


_ASSIGN_SQL = """,
cand AS (SELECT o.i, o.k, o.s FROM offd o JOIN ex ON o.k = ex.exemplar),
best AS (
  SELECT i AS vec_id, k AS assigned
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY i ORDER BY s DESC, k ASC) = 1),
labels AS (
  SELECT b.vec_id, b.assigned AS exemplar
  FROM best b ANTI JOIN ex e ON b.vec_id = e.exemplar
  UNION ALL
  SELECT exemplar AS vec_id, exemplar FROM ex)
"""


def oracle_ap_similarity() -> str:
    return f"WITH {_PRELUDE_OFF} SELECT i, k, s FROM offd"


def oracle_ap_preference() -> str:
    return f"WITH {_PRELUDE_OFF} SELECT median(s) AS preference FROM offd"


def oracle_ap_responsibility() -> str:
    return (
        "WITH "
        + _prelude()
        + ","
        + _r_pass_sql("st0", "rp1")
        + "SELECT i, k, r FROM rp1"
    )


def oracle_ap_availability() -> str:
    body, final = _iteration_ctes(1)
    return "WITH " + _prelude() + body + f"SELECT i, k, ROUND(a, 3) AS a FROM {final}"


def oracle_ap_iterate_once() -> str:
    body, final = _iteration_ctes(1)
    return (
        "WITH "
        + _prelude()
        + body
        + f"SELECT i, k, r, ROUND(a, 3) AS a FROM {final}"
    )


def oracle_ap_exemplars(T: int = T_DEFAULT) -> str:
    body, final = _iteration_ctes(T)
    return (
        "WITH "
        + _prelude()
        + body
        + _exemplar_cte(final)
        + "SELECT exemplar FROM ex"
    )


def oracle_ap_assign(T: int = T_DEFAULT) -> str:
    body, final = _iteration_ctes(T)
    return (
        "WITH "
        + _prelude()
        + body
        + _exemplar_cte(final)
        + _ASSIGN_SQL
        + "SELECT vec_id, exemplar FROM labels"
    )


def oracle_ap_cluster_stats(T: int = T_DEFAULT) -> str:
    body, final = _iteration_ctes(T)
    return (
        "WITH "
        + _prelude()
        + body
        + _exemplar_cte(final)
        + _ASSIGN_SQL
        + """
SELECT l.exemplar,
       count(*) AS n_members,
       ROUND(sum(m.s), 3) AS net_similarity
FROM labels l JOIN smat m ON l.vec_id = m.i AND l.exemplar = m.k
GROUP BY l.exemplar"""
    )


def oracle_ap_convergence(T: int = T_DEFAULT) -> str:
    body, _ = _iteration_ctes(T)
    deltas = []
    for t in range(1, T + 1):
        prev = "st0" if t == 1 else f"st{t - 1}"
        deltas.append(
            f"""SELECT {t} AS iter,
       ROUND(max(abs(c.r - p.r)), 3) AS max_delta_r
FROM st{t} c JOIN {prev} p ON c.i = p.i AND c.k = p.k"""
        )
    return "WITH " + _prelude() + body + "\nUNION ALL\n".join(deltas)


def oracle_ap_pref_sweep(T: int = T_DEFAULT) -> str:
    # two independent stacks: median-preference and min-preference
    med_body, med_final = _iteration_ctes(T)
    min_pref = """,
pref_min AS (SELECT min(s) AS p FROM offd),
smat_min AS (SELECT i, k, s FROM offd
             UNION ALL
             SELECT vec_id AS i, vec_id AS k, p AS s FROM e CROSS JOIN pref_min),
st0_min AS (SELECT i, k, s, CAST(0 AS DOUBLE) AS r, CAST(0 AS DOUBLE) AS a FROM smat_min)
"""
    min_body, min_final = _iteration_ctes(T, suffix="_min")
    return (
        "WITH "
        + _prelude()
        + med_body
        + min_pref
        + min_body
        + f"""
SELECT 'median' AS pref_kind, count(*) AS n_exemplars
FROM {med_final} WHERE i = k AND a + r > 0
UNION ALL
SELECT 'min' AS pref_kind, count(*) AS n_exemplars
FROM {min_final} WHERE i = k AND a + r > 0"""
    )


def q_ap_soft_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(⊕ r4) Soft assignment: each point's top-2 exemplars by similarity
    with raw scores — the fuzzy-membership view of A7 (rank 1 is the hard
    label for non-exemplar points).  Selection-only arithmetic over the
    shared cached kernel → bitwise parity; the exemplar set is broadcast
    and the per-point rank uses the same WindowGroupLimit-pushed top-k
    shape as the hard assignment."""
    ex = _exemplar_df(spark, _exemplar_ids(spark, sf_dir))
    off = cached_off(spark, sf_dir)
    cand = off.join(F.broadcast(ex), off["k"] == ex["exemplar"]).select(
        "i", "k", "s"
    )
    w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select(
            F.col("i").alias("vec_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("k").alias("exemplar"),
            "s",
        )
    )


def q_ap_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(⊕ r4) Per-cluster silhouette quality of the AP labeling:
    s(i) = (b-a)/max(a,b) with a = mean distance to own cluster
    (excluding self), b = min over foreign clusters of the mean
    distance; singletons score 0 by convention.  Distances come from
    the cached kernel (d = sqrt(-s)); the pairwise relation aggregates
    to (point, cluster) means — O(N·C) — before any comparison, so the
    N² relation is scanned once and never joined to itself."""
    labels = _labels(spark, sf_dir)
    off = cached_off(spark, sf_dir)
    dists = off.select("i", "k", F.sqrt(-F.col("s")).alias("dist"))
    lab_k = labels.select(
        F.col("vec_id").alias("k"), F.col("exemplar").alias("ck")
    )
    pairagg = (
        dists.join(F.broadcast(lab_k), "k")
        .groupBy("i", "ck")
        .agg(F.avg("dist").alias("ad"))
    )
    lab_i = labels.select(
        F.col("vec_id").alias("i"), F.col("exemplar").alias("ci")
    )
    scored = pairagg.join(F.broadcast(lab_i), "i")
    a_side = scored.where(F.col("ck") == F.col("ci")).select(
        "i", F.col("ad").alias("a_dist")
    )
    b_side = (
        scored.where(F.col("ck") != F.col("ci"))
        .groupBy("i")
        .agg(F.min("ad").alias("b_dist"))
    )
    sil = (
        lab_i.join(a_side, "i", "left")
        .join(b_side, "i", "left")
        .select(
            "i",
            "ci",
            F.when(
                F.col("a_dist").isNull() | F.col("b_dist").isNull(), F.lit(0.0)
            )
            .otherwise(
                (F.col("b_dist") - F.col("a_dist"))
                / F.greatest("a_dist", "b_dist")
            )
            .alias("sil"),
        )
    )
    return sil.groupBy(F.col("ci").alias("exemplar")).agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("sil"), 4).alias("avg_silhouette"),
    )


DAMPING_SWEEP_ALT = 0.9  # canonical high-damping contrast to the 0.5 default


def q_ap_damping_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(⊕ r4) Exemplar count under damping 0.5 vs 0.9 (T=5) — the other
    AP hyperparameter knob next to the preference (A10).  Heavier
    damping slows message movement, so fewer self-elected exemplars
    emerge within a fixed unrolled T.  Both counts are the fused chains'
    recorded exemplar sets."""
    return spark.createDataFrame(
        [
            (lam, len(_exemplar_ids(spark, sf_dir, lam=lam)))
            for lam in (DAMPING, DAMPING_SWEEP_ALT)
        ],
        "damping double, n_exemplars long",
    )


def oracle_ap_damping_sweep(T: int = T_DEFAULT) -> str:
    body_05, final_05 = _iteration_ctes(T)
    body_09, final_09 = _iteration_ctes(T, lam=DAMPING_SWEEP_ALT, suffix="_d9")
    # the λ=0.9 stack starts from the same zero state: alias st0_d9 → st0
    st0_alias = ",\nst0_d9 AS (SELECT * FROM st0)"
    return (
        "WITH "
        + _prelude()
        + body_05
        + st0_alias
        + body_09
        + f"""
SELECT {DAMPING} AS damping, count(*) AS n_exemplars
FROM {final_05} WHERE i = k AND a + r > 0
UNION ALL
SELECT {DAMPING_SWEEP_ALT} AS damping, count(*) AS n_exemplars
FROM {final_09} WHERE i = k AND a + r > 0"""
    )


def oracle_ap_soft_assign(T: int = T_DEFAULT) -> str:
    body, final = _iteration_ctes(T)
    return (
        "WITH "
        + _prelude()
        + body
        + _exemplar_cte(final)
        + """,
cand AS (SELECT o.i, o.k, o.s FROM offd o JOIN ex ON o.k = ex.exemplar)
SELECT i AS vec_id,
       CAST(row_number() OVER w AS BIGINT) AS rank,
       k AS exemplar, s
FROM cand
WINDOW w AS (PARTITION BY i ORDER BY s DESC, k ASC)
QUALIFY row_number() OVER w <= 2"""
    )


def oracle_ap_silhouette(T: int = T_DEFAULT) -> str:
    body, final = _iteration_ctes(T)
    return (
        "WITH "
        + _prelude()
        + body
        + _exemplar_cte(final)
        + _ASSIGN_SQL
        + """,
dists AS (SELECT i, k, sqrt(-s) AS dist FROM offd),
pairagg AS (
  SELECT d.i, lk.exemplar AS ck, avg(d.dist) AS ad
  FROM dists d JOIN labels lk ON d.k = lk.vec_id
  GROUP BY 1, 2),
a_side AS (
  SELECT p.i, p.ad AS a_dist
  FROM pairagg p JOIN labels li ON p.i = li.vec_id AND p.ck = li.exemplar),
b_side AS (
  SELECT p.i, min(p.ad) AS b_dist
  FROM pairagg p JOIN labels li ON p.i = li.vec_id AND p.ck <> li.exemplar
  GROUP BY p.i),
sil AS (
  SELECT li.vec_id, li.exemplar AS ci,
         CASE WHEN a.a_dist IS NULL OR b.b_dist IS NULL THEN 0.0
              ELSE (b.b_dist - a.a_dist) / greatest(a.a_dist, b.b_dist)
         END AS sil
  FROM labels li
  LEFT JOIN a_side a ON li.vec_id = a.i
  LEFT JOIN b_side b ON li.vec_id = b.i)
SELECT ci AS exemplar, count(*) AS n_members,
       ROUND(avg(sil), 4) AS avg_silhouette
FROM sil GROUP BY ci"""
    )


QUERIES = {
    "ap_similarity": q_ap_similarity,
    "ap_soft_assign": q_ap_soft_assign,
    "ap_silhouette": q_ap_silhouette,
    "ap_damping_sweep": q_ap_damping_sweep,
    "ap_preference": q_ap_preference,
    "ap_responsibility": q_ap_responsibility,
    "ap_availability": q_ap_availability,
    "ap_iterate_once": q_ap_iterate_once,
    "ap_exemplars": q_ap_exemplars,
    "ap_assign": q_ap_assign,
    "ap_cluster_stats": q_ap_cluster_stats,
    "ap_convergence": q_ap_convergence,
    "ap_pref_sweep": q_ap_pref_sweep,
    "ap_assign_sparse": q_ap_assign_sparse,  # rows-only (pruned candidates)
    "ap_assign_sparse_checked": q_ap_assign_sparse_checked,
}

ORACLES = {
    "ap_similarity": oracle_ap_similarity(),
    "ap_soft_assign": oracle_ap_soft_assign(),
    "ap_silhouette": oracle_ap_silhouette(),
    "ap_damping_sweep": oracle_ap_damping_sweep(),
    "ap_assign_sparse_checked": oracle_ap_assign_sparse_checked(),
    "ap_preference": oracle_ap_preference(),
    "ap_responsibility": oracle_ap_responsibility(),
    "ap_availability": oracle_ap_availability(),
    "ap_iterate_once": oracle_ap_iterate_once(),
    "ap_exemplars": oracle_ap_exemplars(),
    "ap_assign": oracle_ap_assign(),
    "ap_cluster_stats": oracle_ap_cluster_stats(),
    "ap_convergence": oracle_ap_convergence(),
    "ap_pref_sweep": oracle_ap_pref_sweep(),
}
