"""Edge corpora, N = 0, 1, 2, 3, through every AP entry point: the dense
queries refuse N < 2 by name and serve N = 2, 3 on the one-task loop
(one block); the sparse query serves every N, labelling each point."""

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
    for q in (ap.q_ap_assign, ap.q_ap_exemplars, ap.q_ap_convergence):
        with pytest.raises(ValueError, match=f"N={n}"):
            q(spark, sf).collect()


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


@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_sparse_assign_serves_every_small_corpus(spark, tmp_path, n):
    """Every point gets one row — its exemplar or −1 — and an empty
    corpus an empty result, not a false agreement failure."""
    from affinity_propagation_mapreduce_spark.operators import ap

    sf = _corpus(tmp_path, n)
    rows = ap.q_ap_assign_sparse(spark, sf).collect()
    assert sorted(r.vec_id for r in rows) == list(range(n))
    assert all(r.exemplar == -1 or 0 <= r.exemplar < n for r in rows)
