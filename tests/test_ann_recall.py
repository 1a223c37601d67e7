"""Recall of the approximate scale paths vs their exact counterparts."""

from __future__ import annotations

from affinity_propagation_mapreduce_spark.operators import textops, vector

from .conftest import SF_T2, SF_T3


def test_ivf_recall_vs_exact(spark):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in vector.q_knn_cosine_topk(spark, SF_T2).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in vector.q_knn_cosine_ivf(spark, SF_T2).collect()
    }
    recall = len(exact & approx) / len(exact)
    # nprobe=4 of 16 cells on unclustered data: expect most true
    # neighbors probed; assert a floor that catches structural breakage
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_minhash_recall_vs_exact(spark):
    """dedup_near_minhash is the banded-LSH twin of dedup_ngram_jaccard
    (MinHash over the same word-bigram shingle sets, exact shingle-
    Jaccard verify): every emitted pair must be in the exact operator's
    output, and band recall at j>=0.8 must hold (theory ≈ 0.985)."""
    exact = {
        (r.doc_lo, r.doc_hi)
        for r in textops.q_dedup_ngram_jaccard(spark, SF_T2).collect()
    }
    approx = {
        (r.doc_lo, r.doc_hi)
        for r in textops.q_dedup_near_minhash(spark, SF_T2).collect()
    }
    assert approx <= exact  # every emitted pair is exact-verified
    recall = len(approx) / len(exact)
    assert recall >= 0.95, f"MinHash recall {recall:.3f}"


def test_embed_cosine_ivf_subset_and_recall(spark):
    """The IVF scale twin emits a strict subset of the exact operator's
    pairs (bitwise-identical cosine for shared pairs — same fold order)
    with structural recall."""
    exact = {
        (r.i, r.k): r.cosine
        for r in vector.q_dedup_embed_cosine(spark, SF_T2).collect()
    }
    approx = {
        (r.i, r.k): r.cosine
        for r in vector.q_dedup_embed_cosine_ivf(spark, SF_T2).collect()
    }
    assert set(approx) <= set(exact)
    for pair, cos in approx.items():
        assert cos == exact[pair]  # bitwise, not approximate
    recall = len(approx) / len(exact) if exact else 1.0
    assert recall >= 0.5, f"IVF embed-dup recall {recall:.2f}"


def test_sparse_ap_assigns_everyone(spark):
    """Sparse AP over the k-NN candidate graph: every point gets a label
    (k=32 keeps the graph connected enough here) and exemplars
    self-label."""
    from affinity_propagation_mapreduce_spark.operators import ap

    from .conftest import SF_SMALL as _sf  # noqa: F401

    rows = ap.cluster_sparse(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    labels = {r.vec_id: r.exemplar for r in rows}
    exemplars = {e for e in labels.values() if e != -1}
    assert exemplars, "no exemplars elected"
    assert all(labels[e] == e for e in exemplars)
    assert sum(1 for v in labels.values() if v == -1) == 0


def test_trained_centroids_recall_vs_lowid_on_clustered(spark):
    """The failure mode trained centroids exist for: a clustered corpus
    whose ingestion order correlates with content (vec_id sorted by
    cluster — common in real pipelines).  There the nlist lowest-id
    vectors all come from the same few clusters, cells are meaningless
    for the rest of the space, and recall collapses; the md5-sampled
    Lloyd quantizer (operators/ivf.py) is ingestion-order-independent
    and keeps the cells aligned with the clusters.

    (On the repo's unclustered synthetic embeddings the two quantizers
    are not comparable: query ids < nlist are their *own* lowid
    centroids, which rigs recall in lowid's favor by construction.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.operators.ivf import (
        cost_balanced_nlist,
        train_centroids,
    )

    rng = np.random.default_rng(7)
    k_true, per_cluster, d = 24, 125, 16
    centers = rng.normal(size=(k_true, d))
    # noise must be large enough that cluster members don't all tie to
    # the same far-away lowid cell (tiny noise maps a cluster wholesale
    # into one cell and hides the degradation): 0.8 → measured recall
    # lowid 0.72 vs trained 0.96
    pts = np.repeat(centers, per_cluster, axis=0) + 0.8 * rng.normal(
        size=(k_true * per_cluster, d)
    )
    n = len(pts)  # vec_id == row index: sorted by cluster, the bad case
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    norms = emb.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("nrm"),
    )
    nlist = cost_balanced_nlist(n, vector.N_PROBE)
    query_ids = [c * per_cluster + 1 for c in range(10)]  # one per cluster
    is_query = F.col("vec_id").isin(query_ids)

    lowid_coarse = norms.where(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cell"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cent = train_centroids(emb, nlist)
    trained_coarse = spark.createDataFrame(
        [
            (i, [float(x) for x in c], float(np.sqrt((c * c).sum())))
            for i, c in enumerate(cent)
        ],
        "cell long, c_emb array<double>, c_nrm double",
    )

    normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    sims = normed[query_ids] @ normed.T
    exact = set()
    for qi, q in enumerate(query_ids):
        sims[qi, q] = -np.inf
        for nb in np.argsort(-sims[qi])[: vector.TOP_K]:
            exact.add((q, int(nb)))

    def recall(coarse):
        got = {
            (r.query_id, r.neighbor_id)
            for r in vector._ivf_knn_frames(norms, coarse, is_query).collect()
        }
        return len(exact & got) / len(exact)

    r_lowid, r_trained = recall(lowid_coarse), recall(trained_coarse)
    assert r_trained >= 0.9, f"trained recall {r_trained:.2f}"
    assert r_trained >= r_lowid + 0.1, (
        f"trained {r_trained:.2f} should beat lowid {r_lowid:.2f} on "
        "ingestion-ordered clustered data"
    )


def test_ivf_cost_model_subquadratic():
    """nlist = sqrt(nprobe·N): coarse scoring N·nlist and within-cell
    verify N·nprobe·N/nlist are both O(N^1.5) — the r4 verdict's
    quadratic coarse step (nlist ∝ N ⇒ N²/64) is structurally gone."""
    from affinity_propagation_mapreduce_spark.operators.ivf import (
        cost_balanced_nlist,
    )

    for nprobe in (4, 8):
        for n in (10**4, 10**6, 10**8):
            nlist = cost_balanced_nlist(n, nprobe)
            coarse = n * nlist
            within = n * nprobe * (n / nlist)
            bound = 2 * nprobe**0.5 * n**1.5
            assert coarse <= bound, (n, nprobe, coarse, bound)
            assert within <= bound, (n, nprobe, within, bound)
        # sqrt growth: 100x the data -> ~10x the quantizer
        ratio = cost_balanced_nlist(10**8, nprobe) / cost_balanced_nlist(
            10**6, nprobe
        )
        assert 9 <= ratio <= 11, ratio


def test_train_centroids_deterministic(spark):
    """Same input → bitwise-identical quantizer (retry/replan safety:
    a re-run task must bucket points identically)."""
    import numpy as np

    from affinity_propagation_mapreduce_spark.operators.ivf import (
        train_centroids,
    )
    from affinity_propagation_mapreduce_spark.sources import table

    emb = table(spark, SF_T2, "embeddings").select("vec_id", "embedding")
    a = train_centroids(emb, 32)
    b = train_centroids(emb, 32)
    assert a.shape == b.shape == (32, 64)
    assert np.array_equal(a, b)


def test_sparse_ap_trained_quantizer_assigns_everyone(spark):
    """The trained-quantizer variant of the sparse AP flagship must also
    label every point and self-label exemplars."""
    from affinity_propagation_mapreduce_spark.operators import ap

    rows = ap.cluster_sparse(spark, "/root/testdata/sf0.001", trained=True).collect()
    assert len(rows) == 500
    labels = {r.vec_id: r.exemplar for r in rows}
    exemplars = {e for e in labels.values() if e != -1}
    assert exemplars and all(labels[e] == e for e in exemplars)
    assert sum(1 for v in labels.values() if v == -1) == 0


def test_nearest_cells_memory_stays_within_strips():
    """``ivf.nearest_cells`` holds a few d2 strips at a time, never the
    rows × nlist matrix: 10k rows against 20,000 cells would be 1.6 GB
    of float64 unstripped; the traced peak stays within 5 strips of
    ``D2_STRIP_VALUES`` values, for the home cell and for 8 probes."""
    import tracemalloc

    import numpy as np

    from affinity_propagation_mapreduce_spark.operators import ivf

    rng = np.random.default_rng(3)
    pts = rng.normal(size=(10_000, 8))
    cent = rng.normal(size=(20_000, 8))
    strip_bytes = ivf.D2_STRIP_VALUES * 8
    for nprobe in (1, 8):
        tracemalloc.start()
        try:
            order, home = ivf.nearest_cells(pts, cent, nprobe)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert order.shape == (len(pts), nprobe) and home.shape == (len(pts),)
        assert peak <= 5 * strip_bytes, (nprobe, peak / strip_bytes)


def test_dedup_ivf_pairs_at_sf01(spark):
    """At sf0.1 (nlist 126) the dedup path produces well-formed,
    threshold-respecting pairs end to end."""
    rows = vector.q_dedup_embed_cosine_ivf(spark, SF_T3).collect()
    assert rows
    for r in rows:
        assert r.i < r.k
        assert r.cosine >= vector.COSINE_DUP_TAU


def test_coarse_assign_kernel_bitwise_equals_declarative(spark):
    """The Arrow coarse-assignment kernel (vector._coarse_topn_cells)
    must stay BITWISE-equal to the declarative crossJoin + fold-dot +
    row_number formulation the DuckDB oracle mirrors — same float64
    op sequence, same (cos DESC, cell ASC) tie-break.  Compares the
    full end-to-end top-k row sets, doubles unrounded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    from affinity_propagation_mapreduce_spark.operators.ivf import (
        corpus_rows,
        cost_balanced_nlist,
    )

    nlist = cost_balanced_nlist(corpus_rows(spark, sf), vector.N_PROBE)
    emb = vector._emb(spark, sf)
    norms = emb.select(
        "vec_id",
        "emb",
        F.sqrt(vector._fold_sum(F.transform("emb", lambda x: x * x))).alias(
            "nrm"
        ),
    )
    coarse = vector._lowid_coarse(spark, sf, nlist)
    is_q = F.col("vec_id") < vector.N_QUERIES

    # the pre-kernel declarative formulation, inlined verbatim
    cos_to_cell = vector._dot(F.col("emb"), F.col("c_emb")) / (
        F.col("nrm") * F.col("c_nrm")
    )
    scored = norms.crossJoin(F.broadcast(coarse)).select(
        "vec_id", "emb", "nrm", "cell", cos_to_cell.alias("cell_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cell_cos"), F.asc("cell"))
    declarative = (
        scored.withColumn("crn", F.row_number().over(w))
        .where(F.col("crn") <= vector.N_PROBE)
        .select("vec_id", "cell", "cell_cos", "crn")
    )
    kernel = vector._coarse_topn_cells(norms, coarse, vector.N_PROBE).select(
        "vec_id", "cell", "cell_cos", "crn"
    )
    a = sorted(map(tuple, declarative.collect()))
    b = sorted(map(tuple, kernel.collect()))
    assert a == b and len(a) > 0

    # and end-to-end: the full pipeline equals the declarative fine
    # stage built from the declarative coarse assignment (value-level,
    # doubles unrounded — not just a row count)
    ranked_d = scored.withColumn("crn", F.row_number().over(w))
    assignment_d = ranked_d.where(F.col("crn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        "cell",
    )
    probes_d = ranked_d.where(
        (F.col("crn") <= vector.N_PROBE) & is_q
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cell",
    )
    cosine = vector._dot(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    declarative_full = (
        probes_d.join(assignment_d, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= vector.TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rn").cast("long").alias("rn"),
        )
    )
    full = sorted(
        map(tuple, vector._ivf_knn_frames(norms, coarse, is_q).collect())
    )
    expect = sorted(map(tuple, declarative_full.collect()))
    assert full == expect
    assert len(full) == vector.N_QUERIES * vector.TOP_K
