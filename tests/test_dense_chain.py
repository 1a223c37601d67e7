"""The one dense AP iteration kernel: the fused chain's recorded
convergence deltas and exemplar sets against the coordinate reference,
both sides of the dense one-task gate and of the sparse gate, the
one-task chain's recorded labels and preferences, and the one
similarity fold."""

from __future__ import annotations

import numpy as np
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


def test_one_task_chain_bitwise_equals_per_iteration_loop(spark, monkeypatch):
    """Both sides of the one-task gate, ap._FAST_MEDIAN_MAX_N, at sf0.01
    with the rows cut into several blocks: the one-task loop's labels,
    exemplar set, deltas and final (i, s, r, a) arrays must be bitwise
    the per-iteration loop's."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    T = ap.T_DEFAULT
    monkeypatch.setattr(ap_dense, "_MIN_BLOCK_BYTES", 1 << 20)

    def run():
        d = ap_dense.DenseAP(spark, SF_T2)
        try:
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
            return d.nb, st.rdd.getNumPartitions(), labels, ex, deltas, arrays
        finally:
            d.destroy()

    nb, parts_one, *one = run()
    monkeypatch.setattr(ap, "_FAST_MEDIAN_MAX_N", ap._n_points(spark, SF_T2) - 1)
    _, parts_loop, *loop = run()
    assert parts_one == 1 and parts_loop == nb
    assert nb > 1 or spark.sparkContext.defaultParallelism == 1
    labels, ex, deltas, arrays = one
    assert len(labels) == len(arrays[0]) and ex.size > 0
    assert labels == loop[0]
    assert np.array_equal(ex, loop[1])
    assert deltas.shape == (T,) and deltas.tobytes() == loop[2].tobytes()
    for got, want in zip(arrays, loop[3]):
        assert got.shape == want.shape and got.tobytes() == want.tobytes()


def test_one_task_records_equal_assign_and_collected_prefs(spark, monkeypatch):
    """The one-task chain's recorded labels are ``assign``'s over its
    final state, row for row, and its recorded preferences are the
    scalars of state0's collected matrix — at sf0.01 cut into several
    blocks, for both preference kinds."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    T = ap.T_DEFAULT
    monkeypatch.setattr(ap_dense, "_MIN_BLOCK_BYTES", 1 << 20)
    d = ap_dense.DenseAP(spark, SF_T2)
    try:
        assert d.nb > 1 or spark.sparkContext.defaultParallelism == 1
        for pref in ("median", "min"):
            st = d.chain(T, pref=pref, retain=False)[-1]
            ex = d.ex_hint(pref, ap_dense.DAMPING, T)
            lab = d.labels(pref, ap_dense.DAMPING, T)
            want = [tuple(r) for r in d.assign(st, ex).collect()]
            assert ex.size > 0 and len(want) == d.n
            assert list(zip(d.ids.tolist(), lab.tolist())) == want
        recorded = dict(d._prefs)
        s = d._collect_s_full()
        off = s[~np.eye(d.n, dtype=bool)]
        assert recorded["min"] == float(off.min())
        assert recorded["median"] == ap._interp_median(off)
    finally:
        d.destroy()


def test_fold_strips_equal_untiled_fold():
    """``_fold_s`` in row strips is bitwise the untiled sequential
    per-dimension fold, at a row count that is not a multiple of the
    strip and for a block of rows against all of them."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense

    n = 2 * ap_dense._FOLD_STRIP + 7
    m = np.random.default_rng(3).normal(size=(n, 11)).astype("f4").astype("f8")

    def untiled(av):
        acc = np.zeros((len(av), n))
        for d in range(m.shape[1]):
            acc += (av[:, d, None] - m[None, :, d]) ** 2
        return -acc

    for av in (m, m[5 : ap_dense._FOLD_STRIP + 9]):
        got = ap_dense._fold_s(av, m)
        assert got.shape == (len(av), n)
        assert got.tobytes() == untiled(av).tobytes()
