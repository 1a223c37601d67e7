"""The one dense AP iteration loop: the chain's recorded convergence
deltas and exemplar sets against the coordinate passes, its outputs
against bits pinned from the per-iteration loop it replaced (in the
task and in the driver on 1 and 3 threads), its recorded labels,
preferences and exemplar counts, its stop rule, the job counts and
persisted RDDs of the dense entry points, the T=1 state's DuckDB
parity, both sides of the sparse gate, and the one similarity fold."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL, SF_T2


def test_chain_deltas_bitwise_equal_coordinate_join(spark):
    """The in-kernel deltas (unrounded) must be bitwise the max|r_t −
    r_{t−1}| joined over the coordinate views of the retained chain —
    the relation q_ap_convergence used to aggregate."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense

    T = 5
    d = ap_dense.DenseAP(spark, SF_SMALL)
    try:
        states = d.chain(T, retain=True)
        got = d.deltas("median", ap_dense.DAMPING, T)
        assert len(states) == T and got.shape == (T,)
        prev = d.coordinate_view(d.state0())
        for t, st in enumerate(states):
            cur = d.coordinate_view(st)
            want = (
                cur.select("i", "k", "r")
                .join(prev.select("i", "k", F.col("r").alias("r_prev")), ["i", "k"])
                .agg(F.max(F.abs(F.col("r") - F.col("r_prev"))))
                .first()[0]
            )
            assert got[t] == want, (t, got[t], want)
            prev = cur
    finally:
        d.destroy()


def test_high_damping_exemplars_equal_coordinate_iterate(spark):
    """The λ=0.9 side of ap_damping_sweep reads the fused chain's
    exemplar set; it must equal the coordinate iterate() chain's (empty
    at this size: heavy damping elects nobody within T=5)."""
    from affinity_propagation_mapreduce_spark.operators import ap

    lam = ap.DAMPING_SWEEP_ALT
    blocked = ap._exemplar_ids(spark, SF_SMALL, lam=lam)
    st = ap.iterate(
        ap.init_state(ap.cached_smat(spark, SF_SMALL)), ap.T_DEFAULT, lam=lam
    )
    coord = sorted(r.exemplar for r in ap.exemplars_from_state(st).collect())
    assert blocked.tolist() == coord
    sweep = {
        r.damping: r.n_exemplars
        for r in ap.q_ap_damping_sweep(spark, SF_SMALL).collect()
    }
    assert sweep[lam] == len(coord)


def test_sparse_coordinate_loop_equals_fused_small(spark, monkeypatch):
    """Both sides of cluster_sparse's one gate, SPARSE_FUSED_MAX_N: the
    one-task ragged loop's labels must equal the coordinate loop's (same
    candidate graph, same update algebra, same median)."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    def labels():
        ap.clear_cache()
        return sorted(
            (r.vec_id, r.exemplar) for r in ap.cluster_sparse(spark, SF_T2).collect()
        )

    small = labels()
    monkeypatch.setattr(ap_dense, "SPARSE_FUSED_MAX_N", 0)
    coord = labels()
    assert len(small) == ap._n_points(spark, SF_T2)
    assert np.unique([e for _, e in small if e != -1]).size > 0
    assert coord == small


# md5 of the dense chain's outputs at sf0.01, T=5, median preference, cut
# into 6 blocks (``_TARGET_BLOCK_BYTES`` = 1 MB with the 6 MB state; the
# 8 MB ``_MIN_BLOCK_BYTES`` work floor keeps the cut off the core count),
# recorded from the per-iteration loop (one bootstrap column-stats job,
# then one update job per iteration over state0's blocks) that served
# 5,000 < N ≤ 10,000 before the one-task chain served every N.
CHAIN_PINS = {
    "labels": "7a9a11fd673ebe96f37ef00febeabacc",
    "ex_hint": "f0f20add3a19c75bbaf1b1024cbfc7da",
    "deltas": "9c16b52d2a8c36577a6a699b4c85f1f6",
    "state": "5aa48668fabd0a9e17b889b69fc5ea71",
    "median": "-0x1.ffd9ad0cec50dp+0",
    "min": "-0x1.8c726801da5f4p+1",
}


def _md5(b: bytes) -> str:
    import hashlib

    return hashlib.md5(b).hexdigest()


def test_chain_outputs_equal_pinned_bits(spark, monkeypatch):
    """At sf0.01 cut into several blocks the chain's labels, exemplar
    set, deltas, preferences and final (i, s, r, a) arrays are bitwise
    the per-iteration loop's (``CHAIN_PINS``), from one single-partition
    state."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    T = ap.T_DEFAULT
    monkeypatch.setattr(ap_dense, "_TARGET_BLOCK_BYTES", 1 << 20)
    d = ap_dense.DenseAP(spark, SF_T2)
    try:
        assert d.nb == 6
        st = d.chain(T, retain=False)[-1]
        ex = d.ex_hint("median", ap_dense.DAMPING, T)
        deltas = d.deltas("median", ap_dense.DAMPING, T)
        labels = sorted(tuple(r) for r in d.assign(st, ex).collect())
        tbl = st.toArrow()
        iv = tbl.column("i").to_numpy()
        order = np.argsort(iv)
        arrays = [iv[order]] + [
            np.stack(tbl.column(c).to_numpy(zero_copy_only=False))[order]
            for c in ("s", "r", "a")
        ]
        assert st.rdd.getNumPartitions() == 1
        assert len(labels) == d.n and ex.size > 0 and deltas.shape == (T,)
        got = {
            "labels": _md5(np.array(labels, dtype="i8").tobytes()),
            "ex_hint": _md5(ex.astype("i8").tobytes()),
            "deltas": _md5(deltas.tobytes()),
            "state": _md5(b"".join(a.tobytes() for a in arrays)),
            "median": d.pref_value("median").hex(),
            "min": d.pref_value("min").hex(),
        }
        assert got == CHAIN_PINS
    finally:
        d.destroy()


def test_chain_blocks_threads_equal_pinned_bits():
    """``_chain_blocks`` run in the driver over the same 6 blocks, on 1
    thread and on 3, gives the pinned labels, exemplar set, deltas and
    final (i, s, r, a) arrays bit for bit: a thread touches only its
    blocks' rows, and the partials are combined in block order."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    ids, m = ap_dense._load_embeddings_arrow(SF_T2)
    T = ap.T_DEFAULT
    for workers in (1, 3):
        s = ap_dense._fold_s(m, m, workers)
        prefs = ap_dense._pref_scalars(s)
        blocks, ex, deltas, counts, lab = ap_dense._chain_blocks(
            s, ids, 6, prefs["median"], ap_dense.DAMPING, T, workers=workers
        )
        assert len(blocks) == 6 and counts.tolist()[-1] == ex.size > 0
        arrays = [np.concatenate([blk[j] for blk in blocks]) for j in range(4)]
        got = {
            "labels": _md5(np.stack([ids, lab], 1).astype("i8").tobytes()),
            "ex_hint": _md5(ex.astype("i8").tobytes()),
            "deltas": _md5(deltas.tobytes()),
            "state": _md5(b"".join(a.tobytes() for a in arrays)),
            "median": prefs["median"].hex(),
            "min": prefs["min"].hex(),
        }
        assert got == CHAIN_PINS, workers


def test_chain_records_equal_assign_and_coordinate_prefs(spark, monkeypatch):
    """The chain's recorded labels are ``assign``'s over its final state,
    row for row, and its recorded preferences are bitwise the coordinate
    engine's: ``exact_median_distributed`` and ``min`` over
    ``ap.similarity_off_diagonal`` — at sf0.01 cut into several blocks,
    for both preference kinds."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    T = ap.T_DEFAULT
    monkeypatch.setattr(ap_dense, "_TARGET_BLOCK_BYTES", 1 << 20)
    d = ap_dense.DenseAP(spark, SF_T2)
    try:
        assert d.nb > 1
        for pref in ("median", "min"):
            st = d.chain(T, pref=pref, retain=False)[-1]
            ex = d.ex_hint(pref, ap_dense.DAMPING, T)
            lab = d.labels(pref, ap_dense.DAMPING, T)
            want = [tuple(r) for r in d.assign(st, ex).collect()]
            assert ex.size > 0 and len(want) == d.n
            assert list(zip(d.ids.tolist(), lab.tolist())) == want
        off = ap.similarity_off_diagonal(spark, SF_T2)
        assert d._prefs == {
            "median": ap.exact_median_distributed(off),
            "min": off.agg(F.min("s")).first()[0],
        }
    finally:
        d.destroy()


def test_chain_refuses_no_iterations(spark):
    """T < 1 has no state to return."""
    from affinity_propagation_mapreduce_spark.operators import ap

    d = ap._dense(spark, SF_SMALL)
    for retain in (True, False):
        with pytest.raises(ValueError, match="T >= 1"):
            d.chain(0, retain=retain)


# md5 of q_ap_assign's sorted (vec_id, exemplar) rows on the generated
# N=5,200, d=8 corpus below (10 blocks), recorded from the per-iteration
# loop, which served it in 17 Spark jobs.
N5200_LABELS = "c501dfe478d2b9e7b006c1e26c70ebe7"


def test_q_ap_assign_above_old_gate_in_two_jobs(spark, tmp_path, monkeypatch):
    """Above the 5,000 points where the one-task chain used to stop,
    ``q_ap_assign`` is still the chain's one job plus the label count,
    with the per-iteration loop's labels."""
    from perfbench import gen

    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    n = 5_200
    data = gen.write_embeddings(str(tmp_path), 7, n, 8, 16, 1.0)
    # the work floor out of the cut: nb is the memory bound's 10 blocks
    # on any core count
    monkeypatch.setattr(ap_dense, "_MIN_BLOCK_BYTES", 1 << 40)
    ap.clear_cache()
    sc = spark.sparkContext
    sc.setJobGroup("ap-assign-5200", "q_ap_assign job-count pin")
    try:
        got = ap.q_ap_assign(spark, data).count()
        jobs = sc.statusTracker().getJobIdsForGroup("ap-assign-5200")
    finally:
        sc.setJobGroup(None, None)
    try:
        assert got == n and ap._dense(spark, data).nb == 10
        assert len(jobs) <= 2, f"expected <= 2 jobs, got {len(jobs)}"
        rows = sorted(tuple(r) for r in ap.q_ap_assign(spark, data).collect())
        assert _md5(np.array(rows, dtype="i8").tobytes()) == N5200_LABELS
    finally:
        ap._dense(spark, data).destroy()
        ap.clear_cache()


# ``cluster_converged(max_iter=60, convergence_iter=5)`` at sf0.001,
# recorded from the coordinate loop (one exemplar collect per iteration)
# that served it before the one-task chain: iterations run and the md5
# of the sorted (vec_id, exemplar) rows.
CONVERGED_PIN = (32, "2c8f216853b8879c087db24d710485b2")


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cluster_converged_in_one_chain_job(spark):
    """``cluster_converged`` is the chain's one job, which applies the
    stop rule in its task, with the coordinate loop's iteration count
    and labels; its record is keyed by the stop rule, so the fixed-T
    entry of the same T stays empty."""
    from affinity_propagation_mapreduce_spark.operators import ap

    ap.clear_cache()
    (labels, iters), jobs = _jobs_of(
        spark,
        "ap-converged",
        lambda: ap.cluster_converged(spark, SF_SMALL, max_iter=60, convergence_iter=5),
    )
    assert jobs == 1
    rows = sorted(tuple(r) for r in labels.collect())
    assert len(rows) == 500
    assert (iters, _md5(np.array(rows, dtype="i8").tobytes())) == CONVERGED_PIN
    d = ap._dense(spark, SF_SMALL)
    assert d.deltas("median", ap.DAMPING, 60, 5).size == iters
    assert d.deltas("median", ap.DAMPING, 60) is None


def test_exemplar_counts_per_iteration(spark):
    """The chain records the exemplar count of every iteration it ran:
    the last is the final exemplar set's size, and a converged run has
    one count per delta."""
    from affinity_propagation_mapreduce_spark.operators import ap

    ap.clear_cache()
    d = ap._dense_chain(spark, SF_SMALL)
    counts = d.exemplar_counts("median", ap.DAMPING, ap.T_DEFAULT)
    assert counts.shape == (ap.T_DEFAULT,)
    assert counts[-1] == d.ex_hint("median", ap.DAMPING, ap.T_DEFAULT).size > 0
    _, iters = ap.cluster_converged(spark, SF_SMALL, max_iter=60, convergence_iter=5)
    counts = d.exemplar_counts("median", ap.DAMPING, 60, 5)
    assert counts.size == d.deltas("median", ap.DAMPING, 60, 5).size == iters
    assert counts[-1] == d.ex_hint("median", ap.DAMPING, 60, 5).size


def test_dense_entry_points_persist_nothing(spark):
    """``q_ap_assign(...).count()`` and ``cluster(...).collect()`` run the
    chain for its records alone: each is at most 2 jobs and leaves no
    more persisted RDDs than there were before the call."""
    from affinity_propagation_mapreduce_spark.operators import ap

    sc = spark.sparkContext
    for name, fn in (
        ("ap-assign-persist", lambda: ap.q_ap_assign(spark, SF_SMALL).count()),
        ("ap-cluster-persist", lambda: len(ap.cluster(spark, SF_SMALL).collect())),
    ):
        ap.clear_cache()
        before = len(sc._jsc.getPersistentRDDs())
        got, jobs = _jobs_of(spark, name, fn)
        assert got == 500
        assert jobs <= 2, f"{name}: expected <= 2 jobs, got {jobs}"
        assert len(sc._jsc.getPersistentRDDs()) <= before, name


@pytest.mark.parametrize("name", ["ap_availability", "ap_iterate_once"])
def test_one_iteration_view_matches_duckdb(spark, name):
    """The T=1 coordinate view, the one reader of an emitted chain
    state, still hashes equal to its DuckDB oracle (at sf0.001)."""
    from affinity_propagation_mapreduce_spark import registry
    from affinity_propagation_mapreduce_spark.operators import ap
    from affinity_propagation_mapreduce_spark.plans.verify import compare

    ap.clear_cache()
    rep = compare(
        name, registry.queries()[name](spark, SF_SMALL), registry.oracle_sql()[name], SF_SMALL
    )
    assert rep.ok, f"{name}: {rep.detail} {rep.mismatches[:2]}"


def test_entry_job_budget(spark):
    """The flagship ``entry()`` is ``cluster``'s chain job plus the
    collect of its recorded labels."""
    import __spark_entry__

    from affinity_propagation_mapreduce_spark.operators import ap

    ap.clear_cache()
    rows, jobs = _jobs_of(
        spark, "ap-entry", lambda: __spark_entry__.entry(spark).collect()
    )
    assert len(rows) == 500
    assert jobs <= 3, f"expected <= 3 jobs, got {jobs}"


def test_fold_strips_equal_untiled_fold():
    """``_fold_s`` in row strips, on one thread and on several, is
    bitwise the untiled sequential per-dimension fold, at a row count
    that is not a multiple of the strip and for a block of rows against
    all of them."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense

    n = 2 * ap_dense._FOLD_STRIP + 7
    m = np.random.default_rng(3).normal(size=(n, 11)).astype("f4").astype("f8")

    def untiled(av):
        acc = np.zeros((len(av), n))
        for d in range(m.shape[1]):
            acc += (av[:, d, None] - m[None, :, d]) ** 2
        return -acc

    for av in (m, m[5 : ap_dense._FOLD_STRIP + 9]):
        for workers in (1, 3):
            got = ap_dense._fold_s(av, m, workers)
            assert got.shape == (len(av), n)
            assert got.tobytes() == untiled(av).tobytes()
