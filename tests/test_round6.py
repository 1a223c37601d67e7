"""Round-6 additions: driver-visible quality gates for the approximate
paths and the stream≡batch twins (r5 verdict #4/#5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from affinity_propagation_mapreduce_spark.operators import events as ev_ops
from affinity_propagation_mapreduce_spark.operators import vector

from .conftest import SF_SMALL


def test_ann_recall_gate_green(spark):
    """The gate passes on real data and reports one row per method with
    recall at or above its floor."""
    rows = vector.q_ann_recall_gate(spark, SF_SMALL).collect()
    assert {r.method for r in rows} == set(vector.RECALL_FLOORS)
    for r in rows:
        assert r.recall >= vector.RECALL_FLOORS[r.method]
        assert 0 < r.n_hit <= r.n_exact


def test_ann_recall_gate_raises_below_floor(spark, monkeypatch):
    """An impossible floor must turn the gate into a raise — the driver
    row goes red on recall collapse instead of silently passing."""
    monkeypatch.setitem(vector.RECALL_FLOORS, "knn_cosine_ivf", 1.01)
    with pytest.raises(AssertionError, match="below floor"):
        vector.q_ann_recall_gate(spark, SF_SMALL)


def test_ivf_dup_subset_gate_green(spark):
    row = vector.q_ivf_dup_subset_gate(spark, SF_SMALL).collect()[0]
    assert row.n_not_subset == 0
    assert row.n_bitwise_mismatch == 0
    assert row.recall >= vector.IVF_DUP_RECALL_FLOOR


def test_stream_batch_equiv_gate_raises_on_divergence(spark, monkeypatch):
    """Corrupting one batch operator must make the combined gate raise:
    proves the multiset comparison actually bites (the green path is
    covered per-twin in test_streaming.py and by the driver row)."""

    real = ev_ops.q_win_tumbling

    def corrupted(spark_, sf_dir):
        return real(spark_, sf_dir).withColumn(
            "n_events", F.col("n_events") + 1
        )

    monkeypatch.setattr(ev_ops, "q_win_tumbling", corrupted)
    with pytest.raises(AssertionError, match="diverged"):
        ev_ops.q_stream_batch_equiv_gate(spark, SF_SMALL)


# ---------------------------------------------------------------------------
# Blocked dense engine (operators/ap_dense.py) — r6 verdict #3
# ---------------------------------------------------------------------------


def test_blocked_first_iteration_bitwise_equals_coordinate(spark):
    """The T=1 chain's coordinate view must be BITWISE equal to one coordinate
    responsibility+availability pass: the blocked row kernel is selection
    arithmetic and the column-stat combine reproduces the same values, so
    the engine swap may never move a number at iteration 1 (where the
    driver's unrounded r hash bites)."""
    from affinity_propagation_mapreduce_spark.operators import ap

    view = ap._one_iteration_state(spark, SF_SMALL)
    coord = ap.availability_pass(
        ap.responsibility_pass(ap.init_state(ap.cached_smat(spark, SF_SMALL)))
    )
    row = (
        view.alias("b")
        .join(coord.alias("c"), ["i", "k"])
        .agg(
            F.count("*").alias("n"),
            F.max(F.abs(F.col("b.s") - F.col("c.s"))).alias("ds"),
            F.max(F.abs(F.col("b.r") - F.col("c.r"))).alias("dr"),
            F.max(F.abs(F.col("b.a") - F.col("c.a"))).alias("da"),
        )
        .collect()[0]
    )
    assert row.n == 500 * 500
    # s and iteration-1 r are selection arithmetic — bitwise guaranteed.
    # a is a group sum: the blocked engine's deterministic block-order
    # combine and the coordinate hash-agg CAN differ in summation order
    # (observed 0.0 here, but not guaranteed across hosts/parallelism),
    # so a gets the same ~1e-12 tolerance class the oracle rounding
    # absorbs rather than a bitwise pin.
    assert (row.ds, row.dr) == (0.0, 0.0)
    assert row.da < 1e-9


def _numpy_labels(spark, sf_dir) -> dict[int, int]:
    """The dense numpy reference's labels (T_DEFAULT, median preference)
    over the embeddings — an engine independent of both Spark ones."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_numpy_oracle

    from .test_ap_numpy import _embedding_matrix

    mat, _ = _embedding_matrix(spark, sf_dir)
    _, lab = ap_numpy_oracle.cluster(mat, ap.T_DEFAULT, ap.DAMPING)
    return dict(enumerate(lab.tolist()))


def test_blocked_labels_equal_coordinate_cluster(spark):
    """End-to-end: the blocked assignment (``_labels``, which
    ``cluster()`` also returns) must agree exactly with the dense numpy
    reference."""
    from affinity_propagation_mapreduce_spark.operators import ap

    blocked = {r.vec_id: r.exemplar for r in ap._labels(spark, SF_SMALL).collect()}
    clustered = {r.vec_id: r.exemplar for r in ap.cluster(spark, SF_SMALL).collect()}
    assert blocked == clustered == _numpy_labels(spark, SF_SMALL)
    assert len(blocked) == 500


def test_blocked_gate_refuses_dense_above_gate(spark, monkeypatch):
    """Above BLOCKED_MAX_N the dense queries are refused loudly, naming
    the scale path and that ``cluster`` runs the same engine — there is
    no silent fallback (the coordinate loop took 661 s at N=12k)."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    ap.clear_cache()
    monkeypatch.setattr(ap_dense, "BLOCKED_MAX_N", 0)
    try:
        with pytest.raises(ValueError, match="cluster_sparse.*cluster"):
            ap._dense(spark, SF_SMALL)
        with pytest.raises(ValueError, match="BLOCKED_MAX_N"):
            ap.q_ap_assign(spark, SF_SMALL)
    finally:
        ap.clear_cache()


def test_blocked_pref_matches_oracle_formula(spark):
    """Blocked median/min preference scalars equal the distributed
    percentile / min over the coordinate off-diagonal (bitwise)."""
    from affinity_propagation_mapreduce_spark.operators import ap

    d = ap._dense(spark, SF_SMALL)
    off = ap.cached_off(spark, SF_SMALL)
    dist = off.agg(
        F.expr("percentile(s, 0.5)").alias("med"), F.min("s").alias("mn")
    ).collect()[0]
    assert d.pref_value("median") == dist.med
    assert d.pref_value("min") == dist.mn


def test_fused_dense_loop_equals_coordinate(spark):
    """The one-task dense chain (retain=False, the bench-scale path) must
    produce the dense numpy reference's labels, and its
    accumulator-carried exemplar hint must equal the label set."""
    from affinity_propagation_mapreduce_spark.operators import ap

    ap.clear_cache()
    fused = {r.vec_id: r.exemplar for r in ap._labels(spark, SF_SMALL).collect()}
    ex_hint = {r.exemplar for r in ap.q_ap_exemplars(spark, SF_SMALL).collect()}
    ap.clear_cache()
    ref = _numpy_labels(spark, SF_SMALL)
    assert fused == ref
    assert ex_hint == set(ref.values())


def test_blocked_sparse_loop_equals_coordinate(spark, monkeypatch):
    """The fused ragged-blocked sparse loop must agree with the
    coordinate sparse loop (same candidate graph, same update algebra;
    only group-sum ORDER differs, so labels may diverge at most on
    threshold knife-edges — none on this data)."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    blocked = {
        r.vec_id: r.exemplar for r in ap.cluster_sparse(spark, SF_SMALL).collect()
    }
    monkeypatch.setattr(ap_dense, "SPARSE_FUSED_MAX_N", 0)
    ap.clear_cache()
    coord = {
        r.vec_id: r.exemplar for r in ap.cluster_sparse(spark, SF_SMALL).collect()
    }
    ap.clear_cache()
    assert blocked == coord and len(blocked) == 500


def test_fused_loop_is_run_deterministic(spark):
    """Two independent fused-chain runs must agree BITWISE on the final
    availability values: partials are keyed and combined in sorted block
    order over id-sorted rows, so the floating-point sum order cannot
    vary with task scheduling — the property that keeps knife-edge
    exemplar thresholds (a+r>0) stable across reruns."""
    from affinity_propagation_mapreduce_spark.operators import ap

    def final_view():
        ap.clear_cache()
        d = ap._dense(spark, SF_SMALL)
        st = d.chain(ap.T_DEFAULT, retain=False)[-1]
        return d.coordinate_view(st).localCheckpoint(eager=True)

    v1, v2 = final_view(), final_view()
    row = (
        v1.alias("x")
        .join(v2.alias("y"), ["i", "k"])
        .agg(
            F.count("*").alias("n"),
            F.max(F.abs(F.col("x.r") - F.col("y.r"))).alias("dr"),
            F.max(F.abs(F.col("x.a") - F.col("y.a"))).alias("da"),
        )
        .collect()[0]
    )
    ap.clear_cache()
    assert row.n == 500 * 500
    assert (row.dr, row.da) == (0.0, 0.0)
