"""Round-16 optimization pins: driver-side bootstrap stats, pyarrow
model/dimension loads (bitwise vs the Spark collect paths they replace),
the size-gated dup-cut policy, and the AP job-count budget."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL, SF_T2


def test_dense_ap_arrow_embeddings_match_collect(spark):
    """DenseAP's pyarrow embeddings load must be bitwise the Spark
    collect it replaced (f4→f8 widening is exact)."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense
    from affinity_propagation_mapreduce_spark.sources import table

    loaded = ap_dense._load_embeddings_arrow(SF_T2)
    assert loaded is not None
    ids_a, mat_a = loaded
    rows = table(spark, SF_T2, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    order = np.argsort(np.array([r.vec_id for r in rows], dtype="i8"))
    ids_c = np.array([rows[j].vec_id for j in order], dtype="i8")
    mat_c = np.array([rows[j].embedding for j in order], dtype="f8")
    assert np.array_equal(ids_a, ids_c)
    assert mat_a.shape == mat_c.shape and np.array_equal(mat_a, mat_c)


def test_bootstrap_stats_bitwise_equals_col_stats_job(spark):
    """The driver-side bootstrap column stats must be bitwise the
    _col_stats(state0) job they replace, for median AND min preferences
    and a non-default damping."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense

    d = ap_dense.DenseAP(spark, SF_T2)
    try:
        for pref_kind, lam in (("median", 0.5), ("min", 0.5), ("median", 0.7)):
            p = d.pref_value(pref_kind)
            bc_drv = d._bootstrap_stats(p, lam)
            assert bc_drv is not None
            bc_job = d._col_stats(d.state0(), p, lam)
            cd, rd = bc_drv.value
            cj, rj = bc_job.value
            assert cd.shape == cj.shape and np.array_equal(cd, cj)
            assert np.array_equal(rd, rj)
    finally:
        d.destroy()


def test_bootstrap_stats_gated_above_fast_median(spark, monkeypatch):
    """Above the small-N collect gate the bootstrap returns None and the
    chain falls back to the _col_stats job (scale adaptivity)."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

    d = ap_dense.DenseAP(spark, SF_SMALL)
    try:
        monkeypatch.setattr(ap, "_FAST_MEDIAN_MAX_N", d.n - 1)
        assert d._bootstrap_stats(-1.0, 0.5) is None
    finally:
        d.destroy()


def test_dense_ap_assign_job_count_budget(spark):
    """The fused retain=False chain + assignment must stay within its
    job budget: state0 + preference collect + T update jobs + the
    assignment action — the bootstrap stats job and the embeddings
    collect job are gone (r16, verdict r15 #4)."""
    from affinity_propagation_mapreduce_spark.operators import ap_dense

    T = 5
    d = ap_dense.DenseAP(spark, SF_SMALL)
    try:
        sc = spark.sparkContext
        group = "r16-ap-jobcount"
        sc.setJobGroup(group, "ap job-count pin")
        try:
            st = d.chain(T, retain=False)[-1]
            hint = d.ex_hint("median", ap_dense.DAMPING, T)
            n = d.assign(st, ex=hint).count()
        finally:
            sc.setJobGroup(None, None)
        assert n == d.n
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        # state0 (1) + T fused updates + the assign count (1, AQE may
        # split it in 2); the preference collect, bootstrap stats job
        # and embeddings collect job are all gone (r16) — never the old
        # budget of T + 6
        assert len(jobs) <= T + 3, f"expected <= {T + 3} jobs, got {len(jobs)}"
    finally:
        d.destroy()


def test_query_rows_arrow_matches_collect(spark):
    """_query_rows' pyarrow path must be bitwise the Spark collect —
    including the norm (sequential left fold of squares in f8)."""
    from affinity_propagation_mapreduce_spark.operators import ann_index as ann

    for sf in (SF_SMALL, SF_T2):
        got = ann._query_rows_arrow(sf, ann.N_QUERIES)
        assert got is not None
        rows = (
            ann._norms(spark, sf)
            .where(F.col("vec_id") < ann.N_QUERIES)
            .select("vec_id", "emb", "nrm")
            .collect()
        )
        rows.sort(key=lambda r: r.vec_id)
        assert np.array_equal(
            got[0], np.array([r.vec_id for r in rows], dtype="i8")
        )
        assert np.array_equal(
            got[1], np.array([list(r.emb) for r in rows], dtype="f8")
        )
        assert np.array_equal(
            got[2], np.array([r.nrm for r in rows], dtype="f8")
        )


def test_model_arrays_arrow_match_collect(spark, tmp_path):
    """load_ann_model's pyarrow table reads must be bitwise the Spark
    orderBy+collect they replace, and the memoized arrays read-only."""
    from affinity_propagation_mapreduce_spark.operators import ann_index as ann
    from affinity_propagation_mapreduce_spark.sources import table

    path = str(tmp_path / "arrow-model-layout")
    ann.build_ann_index(
        spark, SF_SMALL, path=path,
        emb_raw=table(spark, SF_SMALL, "embeddings"),
    )
    meta = ann._read_meta(path)
    arrays = ann._read_model_arrays_arrow(path, meta)
    assert arrays is not None
    cent_a, books_a = arrays
    crows = (
        spark.read.parquet(ann._model_table_path(path, "centroids", meta))
        .orderBy("cell")
        .collect()
    )
    cent_s = np.array([list(r.c_emb) for r in crows], dtype="f8")
    brows = (
        spark.read.parquet(ann._model_table_path(path, "codebooks", meta))
        .orderBy("m", "code")
        .collect()
    )
    books_s = np.array([list(r.vec) for r in brows], dtype="f8").reshape(
        meta["m"], meta["ksub"], meta["dsub"]
    )
    assert np.array_equal(cent_a, cent_s)
    assert np.array_equal(books_a, books_s)
    got = ann.load_ann_model(spark, path)
    assert not got[1].flags.writeable and not got[2].flags.writeable
    with pytest.raises(ValueError):
        got[1][0, 0] = 0.0


def test_dup_cut_gate(spark):
    """dup_cut checkpoints below the gate (the dup-subtree cut), returns
    the relation UNCUT above it (recompute = the 100 TB-safe default),
    and keeps the cut when the source size is unknown."""
    from affinity_propagation_mapreduce_spark.sources.tables import (
        DUP_CUT_MAX_SRC_ROWS,
        dup_cut,
    )

    def analyzed(d):
        return d._jdf.queryExecution().analyzed().toString()

    df = spark.range(10)
    cut = dup_cut(df, 100)
    uncut = dup_cut(df, DUP_CUT_MAX_SRC_ROWS + 1)
    # the checkpoint replaces the plan by a LogicalRDD over its blocks
    assert "LogicalRDD" in analyzed(cut)
    assert "LogicalRDD" not in analyzed(uncut)
    assert uncut is df
    assert "LogicalRDD" in analyzed(dup_cut(df, None))


def test_sparse_in_kernel_median_equals_percentile_job(spark):
    """cluster_sparse_blocked(pref=None) — the fused-small in-kernel
    median — must produce the identical label set as the old flow
    (Spark percentile(s, 0.5) job + scalar pref)."""
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense
    from affinity_propagation_mapreduce_spark.sources import table

    cand = ap._ckpt(ap.knn_candidate_pairs(spark, SF_T2, 32), eager=False)
    ids = table(spark, SF_T2, "embeddings").select("vec_id")
    p_val = cand.agg(F.expr("percentile(s, 0.5)").alias("p")).first()[0]
    old = sorted(
        (r.vec_id, r.exemplar)
        for r in ap_dense.cluster_sparse_blocked(
            spark, cand, ids, p_val, 5
        ).collect()
    )
    new = sorted(
        (r.vec_id, r.exemplar)
        for r in ap_dense.cluster_sparse_blocked(
            spark, cand, ids, None, 5
        ).collect()
    )
    assert old == new


def test_sparse_distributed_branch_refuses_pref_none(spark, monkeypatch):
    """Above the fused-small gate the in-kernel median is unavailable —
    the distributed loop must refuse pref=None loudly."""
    from affinity_propagation_mapreduce_spark.operators import ap, ap_dense
    from affinity_propagation_mapreduce_spark.sources import table

    cand = ap.knn_candidate_pairs(spark, SF_SMALL, 32)
    ids = table(spark, SF_SMALL, "embeddings").select("vec_id")
    monkeypatch.setattr(ap_dense, "SPARSE_FUSED_MAX_N", 0)
    with pytest.raises(ValueError):
        ap_dense.cluster_sparse_blocked(spark, cand, ids, None, 1)


def test_fused_candidate_pairs_empty_corpus_guard(spark, tmp_path):
    """A corpus where every cell emits zero kept pairs (N=1: the only
    pair is a self-pair) must yield an empty relation, mirroring the
    distributed path — not an ii.max() ValueError (advice r15 #3)."""
    import os

    from affinity_propagation_mapreduce_spark.operators import ap

    sf_dir = str(tmp_path / "sf-one-point")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(0, [0.0, 1.0], 0)], "vec_id long, embedding array<float>, label long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/embeddings.parquet"
    )
    out = ap._knn_candidate_pairs_fused(spark, sf_dir, k=32, n=1)
    assert out.count() == 0
