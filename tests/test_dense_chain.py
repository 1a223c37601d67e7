"""The one dense AP iteration kernel: the fused chain's recorded
convergence deltas and exemplar sets against the coordinate reference,
and both sides of the ragged sparse loop's fused-small gate."""

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


def test_sparse_distributed_branch_equals_fused_small(spark, monkeypatch):
    """Both sides of SPARSE_FUSED_MAX_N run the same row construction, row
    update and labeller: with the scalar median preference, the
    distributed branch's labels must equal the fused-small branch's."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense
    from affinity_propagation_mapreduce_spark.sources import table

    cand = ap._ckpt(ap.knn_candidate_pairs(spark, SF_T2, 32), eager=False)
    ids = table(spark, SF_T2, "embeddings").select("vec_id")
    p_val = cand.agg(F.expr("percentile(s, 0.5)")).first()[0]

    def labels():
        return sorted(
            (r.vec_id, r.exemplar)
            for r in ap_dense.cluster_sparse_blocked(
                spark, cand, ids, p_val, ap.T_DEFAULT
            ).collect()
        )

    small = labels()
    monkeypatch.setattr(ap_dense, "SPARSE_FUSED_MAX_N", 0)
    dist = labels()
    assert len(small) == ap._n_points(spark, SF_T2)
    assert np.unique([e for _, e in small if e != -1]).size > 0
    assert dist == small
