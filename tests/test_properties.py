"""Property tests (SURVEY.md §5.2.3) — fast invariants on the numpy
oracle (many examples), plus numpy↔Spark equivalence on small random
similarity matrices (few examples; a Spark roundtrip per example)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from affinity_propagation_mapreduce_spark.operators import ap, ap_numpy_oracle


def _rand_points(seed: int, n: int, d: int = 4) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, d))


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(3, 12))
def test_availability_nonpositive_offdiag(seed, n):
    """[AP eq.2] a(i,k) ≤ 0 for i != k after any iteration count."""
    s = ap_numpy_oracle.similarity(_rand_points(seed, n))
    _, a = ap_numpy_oracle.iterate(s, iterations=3)
    off = ~np.eye(n, dtype=bool)
    assert (a[off] <= 1e-12).all()


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(3, 12))
def test_full_damping_freezes_messages(seed, n):
    """λ=1 keeps messages at their initial zero state."""
    s = ap_numpy_oracle.similarity(_rand_points(seed, n))
    r, a = ap_numpy_oracle.iterate(s, iterations=4, lam=1.0)
    assert np.abs(r).max() == 0.0
    assert np.abs(a).max() == 0.0


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 10))
def test_permutation_equivariance(seed, n):
    """Permuting point order permutes exemplars/labels accordingly."""
    pts = _rand_points(seed, n)
    perm = np.random.default_rng(seed + 1).permutation(n)
    ex1, lab1 = ap_numpy_oracle.cluster(pts, iterations=3)
    ex2, lab2 = ap_numpy_oracle.cluster(pts[perm], iterations=3)
    # position j of permuted run corresponds to original point perm[j]
    inv = np.empty(n, dtype=int)
    inv[perm] = np.arange(n)
    assert sorted(perm[e] for e in ex2) == sorted(ex1.tolist())
    if len(ex1):  # with no exemplars both labelings are the -1 sentinel
        assert (perm[lab2[inv]] == lab1).all()


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_spark_matches_numpy_on_random_matrix(spark, seed):
    """The distributed passes and the dense oracle agree on arbitrary S
    (not just the testdata): same exemplars after T iterations."""
    n = 12
    s = ap_numpy_oracle.similarity(_rand_points(seed, n))
    triples = [
        (int(i), int(k), float(s[i, k])) for i in range(n) for k in range(n)
    ]
    smat = spark.createDataFrame(triples, "i long, k long, s double")
    state = ap.iterate(ap.init_state(smat), iterations=3)
    ex_spark = sorted(r.exemplar for r in ap.exemplars_from_state(state).collect())
    r_np, a_np = ap_numpy_oracle.iterate(s, iterations=3)
    idx = np.arange(n)
    ex_np = sorted(idx[(r_np[idx, idx] + a_np[idx, idx]) > 0].tolist())
    assert ex_spark == ex_np


def test_sample_hash_invariant_under_repartition(spark):
    """The deterministic sample's keep-set must not depend on physical
    layout: repartitioning the input cannot change which rows survive
    (the property that makes the sample retry- and cluster-stable)."""
    from affinity_propagation_mapreduce_spark.operators import sampling
    from .conftest import SF_SMALL

    base = sampling.q_sample_hash(spark, SF_SMALL)
    ids = {r.doc_id for r in base.collect()}
    assert ids, "sample is empty at test sf"
    shuffled = (
        sampling.q_sample_hash(spark, SF_SMALL).repartition(7).collect()
    )
    assert {r.doc_id for r in shuffled} == ids


def test_split_is_partition_and_stable_prefix(spark):
    """Every doc lands in exactly one split, and restricting to a subset
    of docs never reassigns anyone (split is a pure function of doc_id,
    independent of what else is in the corpus)."""
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.operators.sampling import _bucket
    from affinity_propagation_mapreduce_spark.sources import table
    from .conftest import SF_SMALL

    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", _bucket(F.col("doc_id")).alias("b")
    )
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n
    full = {r.doc_id: r.b for r in docs.collect()}
    half = {
        r.doc_id: r.b
        for r in docs.filter(F.col("doc_id") % 2 == 0).collect()
    }
    assert all(full[k] == v for k, v in half.items())
    assert all(0 <= b < 1000 for b in full.values())


@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 200),
    nlist=st.integers(1, 300),
    nprobe=st.integers(1, 8),
    budget=st.integers(1, 4_000),
    dup=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_nearest_cells_properties(seed, n, nlist, nprobe, budget, dup):
    """``ivf.nearest_cells`` over random points and centroids, with the
    strip budget cut so several strips run: no cell outside a row's
    ``order`` is nearer than one inside it, ``home`` is a nearest cell
    and one of ``order``'s, up to rounding (duplicate centroids make
    exact ties)."""
    from unittest import mock

    from affinity_propagation_mapreduce_spark.operators import ivf

    rng = np.random.default_rng(seed)
    cent = rng.normal(size=(nlist, 8))
    if dup and nlist > 1:
        cent[nlist // 2 :] = cent[: nlist - nlist // 2]
    pts = rng.normal(size=(n, 8))
    with mock.patch.object(ivf, "D2_STRIP_VALUES", budget):
        order, home = ivf.nearest_cells(pts, cent, nprobe)
    k = min(nprobe, nlist)
    assert order.shape == (n, k) and home.shape == (n,)
    d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    tol = 1e-9 * (1.0 + d2.max())
    rows = np.arange(n)
    inside = np.zeros_like(d2, dtype=bool)
    inside[rows[:, None], order] = True
    assert (inside.sum(axis=1) == k).all()  # k distinct cells per row
    far_in = np.where(inside, d2, -np.inf).max(axis=1)
    near_out = np.where(inside, np.inf, d2).min(axis=1)
    assert (far_in <= near_out + tol).all()
    assert (d2[rows, home] <= d2.min(axis=1) + tol).all()
    assert inside[rows, home].all()
