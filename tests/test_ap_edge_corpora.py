"""Edge corpora, N = 0, 1, 2, 3, through every AP entry point: the dense
queries, ``cluster`` and ``cluster_converged`` refuse N < 2 by name and
serve N = 2, 3 on the one-task loop (one block); the sparse query serves
every N, labelling each point."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_POINTS = [[0.0, 0.0], [1.0, 0.0], [0.0, 3.0]]


def _corpus(tmp_path, n: int) -> str:
    root = tmp_path / f"n{n}"
    (root / "embeddings.parquet").mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(_POINTS[:n], pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        str(root / "embeddings.parquet" / "part-00000.parquet"),
    )
    return str(root)


@pytest.mark.parametrize("n", [0, 1])
def test_dense_queries_refuse_fewer_than_two_points(spark, tmp_path, n):
    from affinity_propagation_mapreduce_spark.operators import ap

    sf = _corpus(tmp_path, n)
    for q in (
        ap.q_ap_assign,
        ap.q_ap_exemplars,
        ap.q_ap_convergence,
        ap.q_ap_responsibility,
        ap.cluster,
    ):
        with pytest.raises(ValueError, match=f"N={n}"):
            q(spark, sf).collect()
    with pytest.raises(ValueError, match=f"N={n}"):
        ap.cluster_converged(spark, sf, max_iter=20, convergence_iter=3)


@pytest.mark.parametrize("n", [2, 3])
def test_dense_queries_serve_two_and_three_points(spark, tmp_path, n):
    """Exemplars and labels equal the numpy reference's; with no
    exemplar elected, q_ap_assign emits no row (the sparse twin's −1
    instead)."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_numpy_oracle

    sf = _corpus(tmp_path, n)
    assert ap._dense(spark, sf).nb == 1
    ex_ref, lab_ref = ap_numpy_oracle.cluster(
        np.array(_POINTS[:n]), ap.T_DEFAULT, ap.DAMPING
    )
    ex = sorted(r.exemplar for r in ap.q_ap_exemplars(spark, sf).collect())
    assert ex == ex_ref.tolist()
    labels = sorted(tuple(r) for r in ap.q_ap_assign(spark, sf).collect())
    assert labels == ([] if len(ex) == 0 else list(enumerate(lab_ref.tolist())))
    assert (labels == []) == (n == 2)  # two points elect no exemplar
    conv = ap.q_ap_convergence(spark, sf).collect()
    assert [r.iter for r in conv] == list(range(1, ap.T_DEFAULT + 1))
    assert sorted(tuple(r) for r in ap.cluster(spark, sf).collect()) == labels


@pytest.mark.parametrize("n", [2, 3])
def test_cluster_converged_serves_two_and_three_points(spark, tmp_path, n):
    """The stop rule equals the numpy reference's: at N=2 no exemplar is
    ever elected, so the chain runs all ``max_iter`` iterations and the
    labels are empty."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_numpy_oracle

    sf = _corpus(tmp_path, n)
    ex_ref, lab_ref, it_ref = ap_numpy_oracle.cluster_converged(
        np.array(_POINTS[:n]), max_iter=20, convergence_iter=3, lam=ap.DAMPING
    )
    labels, iters = ap.cluster_converged(spark, sf, max_iter=20, convergence_iter=3)
    got = sorted(tuple(r) for r in labels.collect())
    assert iters == it_ref
    assert got == ([] if len(ex_ref) == 0 else list(enumerate(lab_ref.tolist())))
    if n == 2:
        assert (iters, got) == (20, [])


@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_sparse_assign_serves_every_small_corpus(spark, tmp_path, n):
    """Every point gets one row — its exemplar or −1 — and an empty
    corpus an empty result, not a false agreement failure."""
    from affinity_propagation_mapreduce_spark.operators import ap

    sf = _corpus(tmp_path, n)
    rows = ap.q_ap_assign_sparse(spark, sf).collect()
    assert sorted(r.vec_id for r in rows) == list(range(n))
    assert all(r.exemplar == -1 or 0 <= r.exemplar < n for r in rows)
