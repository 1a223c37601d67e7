"""Round-8 verdict items: reliable-checkpoint mode (#4), above-gate
execution sanity (#1), and multi-process layout-lock stress (#6)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from affinity_propagation_mapreduce_spark.operators import ap

from .conftest import SF_SMALL


def _labels(df) -> dict[int, int]:
    return {r.vec_id: r.exemplar for r in df.collect()}


class TestReliableCheckpointMode:
    """Executor loss: dense ``cluster`` must not depend on any persisted
    block, and cluster_sparse(checkpoint_dir=...) must (a) produce the
    same labels as the localCheckpoint mode, (b) actually write reliable
    checkpoint files (the executor-loss-tolerant artifact), and (c)
    reset the mode flag afterwards."""

    def test_cluster_survives_dropped_blocks(self, spark):
        """Dense ``cluster`` persists nothing it reads back: after every
        persisted RDD is unpersisted — what executor loss does to
        ``localCheckpoint`` blocks — its result still collects, with the
        first run's labels."""
        ap.clear_cache()
        base = _labels(ap.cluster(spark, SF_SMALL))
        ap.clear_cache()
        df = ap.cluster(spark, SF_SMALL)  # a fresh run, not yet collected
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
            assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
            assert _labels(df) == base
        finally:
            ap.clear_cache()  # other cached artifacts lost their blocks

    def test_cluster_sparse_reliable_equals_local(self, spark):
        base = _labels(ap.cluster_sparse(spark, SF_SMALL))
        ap.clear_cache()
        with tempfile.TemporaryDirectory() as tmp:
            rel = _labels(ap.cluster_sparse(spark, SF_SMALL, checkpoint_dir=tmp))
            assert any(fs for _, _, fs in os.walk(tmp)), (
                "no reliable checkpoint files written"
            )
        assert rel == base
        assert ap._RELIABLE[0] is False

    def test_flag_reset_on_error(self, spark):
        with tempfile.TemporaryDirectory() as tmp:
            with pytest.raises(RuntimeError):
                with ap.reliable_checkpoints(spark, tmp):
                    assert ap._RELIABLE[0] is True
                    raise RuntimeError("boom")
        assert ap._RELIABLE[0] is False


class TestExactMedianDistributed:
    """The rank-narrowing exact median that replaced Spark's
    single-reducer `percentile` on the >gate paths (the N=12k above-gate
    run OOM'd the executor heap in PercentileBase.getPercentiles).  Must
    be BITWISE equal to percentile(s, 0.5) wherever both can run."""

    def test_bitwise_equals_percentile_on_similarities(self, spark):
        from pyspark.sql import functions as F

        off = ap.similarity_off_diagonal(spark, SF_SMALL)
        want = off.agg(F.expr("percentile(s, 0.5)")).first()[0]
        assert ap.exact_median_distributed(off) == want  # no tolerance

    def test_bitwise_equal_under_forced_narrowing(self, spark, monkeypatch):
        from pyspark.sql import functions as F

        # shrink the gates so sf0.001 (249 500 values) exercises multiple
        # histogram levels instead of the direct collect
        monkeypatch.setattr(ap, "_MEDIAN_COLLECT_MAX", 500)
        monkeypatch.setattr(ap, "_MEDIAN_HIST_BUCKETS", 16)
        off = ap.similarity_off_diagonal(spark, SF_SMALL)
        want = off.agg(F.expr("percentile(s, 0.5)")).first()[0]
        assert ap.exact_median_distributed(off) == want

    @pytest.mark.parametrize(
        "vals",
        [
            [1.0],
            [2.0, 1.0],
            [3.0, 1.0, 2.0, 2.0],
            [5.0] * 999 + [1.0],          # point mass: degenerate band
            [float(x % 7) for x in range(1000)],  # heavy duplicates
            [1e-300, 1e300, -1e300, 0.0, -0.0, 1.5],
            [-10.0] * 200 + [10.0] * 200,  # straddle: masses at both
                                           # extremes, median between —
                                           # the joint-narrowing stall
            [-10.0] * 200 + [10.0] * 201,  # straddle, odd count
        ],
        ids=["one", "two", "even-dup", "mass", "mod7", "extremes",
             "straddle-even", "straddle-odd"],
    )
    def test_matches_percentile_on_edge_distributions(
        self, spark, monkeypatch, vals
    ):
        from pyspark.sql import functions as F

        monkeypatch.setattr(ap, "_MEDIAN_COLLECT_MAX", 4)
        monkeypatch.setattr(ap, "_MEDIAN_HIST_BUCKETS", 8)
        df = spark.createDataFrame([(v,) for v in vals], "s double")
        want = df.agg(F.expr("percentile(s, 0.5)")).first()[0]
        assert ap.exact_median_distributed(df) == want

    def test_empty_returns_none(self, spark):
        df = spark.createDataFrame([], "s double")
        assert ap.exact_median_distributed(df) is None

    def test_property_random_distributions(self, spark, monkeypatch):
        """Hypothesis-style sweep: random mixtures (uniform, lognormal,
        point masses, negatives) under forced narrowing must match
        percentile bitwise on every draw."""
        import numpy as np
        from pyspark.sql import functions as F

        monkeypatch.setattr(ap, "_MEDIAN_COLLECT_MAX", 16)
        monkeypatch.setattr(ap, "_MEDIAN_HIST_BUCKETS", 7)
        rng = np.random.default_rng(17)
        for trial in range(12):
            kind = trial % 4
            n = int(rng.integers(1, 400))
            if kind == 0:
                vals = rng.uniform(-1e6, 1e6, n)
            elif kind == 1:
                vals = rng.lognormal(0, 5, n)  # heavy skew
            elif kind == 2:
                vals = np.repeat(rng.uniform(-10, 10, max(1, n // 20)), 20)[:n]
            else:
                vals = -np.abs(rng.normal(0, 1e3, n))  # all-negative (s-like)
            df = spark.createDataFrame([(float(v),) for v in vals], "s double")
            want = df.agg(F.expr("percentile(s, 0.5)")).first()[0]
            got = ap.exact_median_distributed(df)
            assert got == want, f"trial {trial} kind {kind} n {n}: {got} != {want}"


class TestSelfVerifyingGates:
    """r7 verdict #5: the formerly silent rows-only keys now raise
    in-query when the approximation breaks.  Tripping the floor proves
    the gate is live on the driver's exact code path (the green case is
    every parity run)."""

    def test_sparse_agreement_gate_raises_below_floor(self, spark, monkeypatch):
        monkeypatch.setattr(ap, "SPARSE_AGREEMENT_FLOOR", 1.01)
        ap.clear_cache()
        with pytest.raises(AssertionError, match="diverged"):
            ap.q_ap_assign_sparse(spark, SF_SMALL).count()
        ap.clear_cache()

    def test_trained_recall_gate_raises_below_floor(self, spark, monkeypatch):
        from affinity_propagation_mapreduce_spark.operators import vector

        monkeypatch.setitem(
            vector.RECALL_FLOORS, "knn_cosine_ivf_trained", 1.01
        )
        with pytest.raises(AssertionError, match="recall collapsed"):
            vector.q_knn_cosine_ivf_trained(spark, SF_SMALL).count()


class TestLayoutLockMultiprocess:
    """Verdict r7 #6: prove the layout write-once protocol under REAL
    concurrency — separate OS processes racing `_layout_write_once` on
    one path, with the first lock holder SIGKILLed mid-write.  No Spark,
    no monkeypatching: the subprocesses run the exact production code
    with a plain-file writer."""

    _WORKER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from affinity_propagation_mapreduce_spark.operators import events

path = {path!r}
ident = sys.argv[1]

def write_fn(tmp):
    os.makedirs(tmp)
    if ident == "victim":
        print("writing", flush=True)   # parent SIGKILLs us now
        time.sleep(30)
    time.sleep(0.2)                    # a non-instant write: real window
    with open(os.path.join(tmp, "payload"), "w") as fh:
        fh.write(ident)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
        pass

events._layout_write_once(path, write_fn)
with open(os.path.join(path, "payload")) as fh:
    print("sees", fh.read(), flush=True)
"""

    def test_racing_writers_one_sigkilled(self, tmp_path):
        import signal

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = str(tmp_path / "layout" / "events_by_type")
        script = self._WORKER.format(repo=repo, path=path)

        victim = subprocess.Popen(
            [sys.executable, "-c", script, "victim"], stdout=subprocess.PIPE
        )
        assert victim.stdout.readline().strip() == b"writing"  # holds the lock
        racers = [
            subprocess.Popen(
                [sys.executable, "-c", script, f"w{i}"], stdout=subprocess.PIPE
            )
            for i in range(3)
        ]
        time.sleep(0.5)  # racers are queued on the flock
        os.kill(victim.pid, signal.SIGKILL)
        victim.wait(timeout=10)
        seen = set()
        for p in racers:
            out, _ = p.communicate(timeout=60)
            assert p.returncode == 0, out
            seen.add(out.decode().strip())
        # exactly ONE complete layout won; every racer read the same one
        assert len(seen) == 1 and next(iter(seen)).startswith("sees w")
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))
        # the victim's abandoned temp dir is still age-gated (fresh), but
        # no OTHER debris: no .dead-* corpses, exactly one .tmp-* orphan
        parent = os.path.dirname(path)
        debris = [n for n in os.listdir(parent) if ".dead-" in n]
        assert debris == []
        orphans = [n for n in os.listdir(parent) if ".tmp-" in n]
        assert len(orphans) <= 1  # the SIGKILLed victim's, reaped at age


@pytest.mark.slow
class TestAboveGate:
    """A REAL above-gate execution (N > BLOCKED_MAX_N): the coordinate
    sparse loop — not the monkeypatched-gate small-N cliff tests.  Wall
    ~40 s at N=12k on local[32]; the measured N=25k/50k runs live in
    BASELINE.md §above-gate (tools/above_gate_run.py)."""

    def test_sparse_above_gate_completes_with_sane_labels(self, spark):
        from tools.above_gate_run import synth_dir

        n = ap._BLOCKED().BLOCKED_MAX_N + 2_000
        sf_dir = synth_dir(n)
        try:
            assert ap._n_points(spark, sf_dir) == n > ap._BLOCKED().BLOCKED_MAX_N
            rows = ap.cluster_sparse(spark, sf_dir, iterations=2).collect()
            labels = {r.vec_id: r.exemplar for r in rows}
            assert len(labels) == n  # every point labeled exactly once
            exemplars = {v for v in labels.values() if v != -1}
            assert exemplars, "no exemplars elected"
            # every elected exemplar labels itself
            assert all(labels[e] == e for e in exemplars)
            # assignment targets are real points
            assert exemplars <= set(labels)
        finally:
            ap.clear_cache()
            shutil.rmtree(sf_dir, ignore_errors=True)


class TestBlockedPrefInTask:
    """The blocked engine's preference is one single-task job over the
    embeddings broadcast: the driver receives only the two scalars, and
    both are bitwise the coordinate engine's — the rank-narrowing
    ``ap.exact_median_distributed`` and ``min`` over
    ``ap.similarity_off_diagonal``."""

    def test_in_task_pref_equals_coordinate_engine(self, spark):
        from affinity_propagation_mapreduce_spark.operators import ap_dense

        off = ap.similarity_off_diagonal(spark, SF_SMALL)
        want = {
            "median": ap.exact_median_distributed(off),
            "min": off.agg(F.min("s")).first()[0],
        }
        d = ap_dense.DenseAP(spark, SF_SMALL)
        sc = spark.sparkContext
        sc.setJobGroup("blocked-pref", "in-task preference pin")
        try:
            got = {k: d.pref_value(k) for k in ("median", "min")}
            jobs = sc.statusTracker().getJobIdsForGroup("blocked-pref")
        finally:
            sc.setJobGroup(None, None)
            d.destroy()
        assert got == want  # bitwise, no tolerance
        assert len(jobs) == 1, f"one job fills both scalars, got {len(jobs)}"


class TestPerCellTopkCandidates:
    """The fused per-endpoint top-k cell kernel (``per_point_topk``)
    must reproduce the all-pairs formulation BITWISE: any global top-k
    candidate ranks <= k within its own cell, so per-cell truncation
    cannot change the survivors.  Checked where truncation is inactive
    (testdata: cell_size < k) AND on a synthetic corpus where cells are
    ~2x larger than k (truncation live)."""

    @staticmethod
    def _topk_chain(pairs_directed, k):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
        topk = (
            pairs_directed.dropDuplicates(["i", "k"])
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("i", "k", "s")
        )
        back = topk.unionByName(
            topk.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
        )
        return back.dropDuplicates(["i", "k"])

    def _assert_equal(self, spark, k, **src):
        from pyspark.sql import functions as F

        full = ap.ivf_candidate_pairs(spark, **src)
        sym = full.unionByName(
            full.select(F.col("k").alias("i"), F.col("i").alias("k"), "s")
        )
        old = self._topk_chain(sym, k)
        new = self._topk_chain(
            ap.ivf_candidate_pairs(spark, per_point_topk=k, **src), k
        )
        o = sorted((r.i, r.k, r.s) for r in old.collect())
        n = sorted((r.i, r.k, r.s) for r in new.collect())
        assert o == n  # bitwise: s compared by float equality

    def test_equal_on_testdata(self, spark):
        self._assert_equal(spark, 32, sf_dir=SF_SMALL)

    def test_equal_with_live_truncation(self, spark):
        import numpy as np

        n, d = 6000, 8
        rng = np.random.default_rng(7)
        centers = rng.normal(size=(24, d))
        pts = centers[np.arange(n) % 24] + 0.5 * rng.normal(size=(n, d))
        emb = spark.createDataFrame(
            [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        # cost-balanced nlist = sqrt(4*6000) ~ 155 -> cell_size ~ 39 > 8:
        # per-cell truncation is live at k=8
        self._assert_equal(spark, 8, sf_dir=SF_SMALL, emb=emb, n=n)


class TestPQ:
    """knn_cosine_pq (ADC shortlist + exact re-rank): the distributed
    pipeline must reproduce a single-process numpy reference of the SAME
    recipe exactly (codebooks are deterministic, per-partition shortlist
    truncation is provably survivor-safe), and the in-query recall gate
    must be live."""

    def test_pq_matches_numpy_reference(self, spark):
        import numpy as np

        from affinity_propagation_mapreduce_spark.operators import vector as V
        from affinity_propagation_mapreduce_spark.sources import table

        rows = (
            table(spark, SF_SMALL, "embeddings")
            .select("vec_id", "embedding")
            .collect()
        )
        rows.sort(key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in rows], dtype="i8")
        x = np.array([list(r.embedding) for r in rows], dtype="f8")
        nrm = np.sqrt((x * x).sum(axis=1))

        books = V._pq_train_codebooks(spark, SF_SMALL)
        m_, k_, dsub = books.shape
        xs = x.reshape(len(x), m_, dsub)
        codes = np.empty((len(x), m_), dtype="i8")
        for m in range(m_):
            d2 = (
                (xs[:, m] * xs[:, m]).sum(axis=1, keepdims=True)
                - 2.0 * xs[:, m] @ books[m].T
                + (books[m] * books[m]).sum(axis=1)[None, :]
            )
            codes[:, m] = d2.argmin(axis=1)

        got = {
            (r.query_id, r.rn): r.neighbor_id
            for r in V.knn_cosine_pq(spark, SF_SMALL).collect()
        }
        for q in range(V.N_QUERIES):
            qi = int(np.where(ids == q)[0][0])
            lut = np.einsum(
                "md,mcd->mc", xs[qi], books
            )  # (M, KSUB) query table
            adc = np.zeros(len(x), dtype="f8")
            for m in range(m_):
                adc += lut[m, codes[:, m]]
            adc = adc / (nrm[qi] * nrm)
            mask = ids != q
            cand_ids, cand = ids[mask], adc[mask]
            short = cand_ids[np.lexsort((cand_ids, -cand))[: V.PQ_SHORTLIST]]
            # exact re-rank of the shortlist
            sel = np.isin(ids, short)
            exact = (x[sel] @ x[qi]) / (nrm[sel] * nrm[qi])
            eids = ids[sel]
            order = np.lexsort((eids, -exact))[: V.TOP_K]
            for rank, j in enumerate(order, start=1):
                assert got[(q, rank)] == eids[j], (q, rank)

    def test_pq_recall_gate_raises_below_floor(self, spark, monkeypatch):
        from affinity_propagation_mapreduce_spark.operators import vector

        monkeypatch.setitem(vector.RECALL_FLOORS, "knn_cosine_pq", 1.01)
        with pytest.raises(AssertionError, match="PQ recall collapsed"):
            vector.q_knn_cosine_pq(spark, SF_SMALL).count()

    def test_pq_recall_high_at_test_scale(self, spark):
        from affinity_propagation_mapreduce_spark.operators import vector as V

        exact = V.q_knn_cosine_topk(spark, SF_SMALL).select(
            "query_id", "neighbor_id"
        )
        n = exact.count()
        hit = exact.join(
            V.knn_cosine_pq(spark, SF_SMALL).select(
                "query_id", "neighbor_id"
            ),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        assert n > 0 and hit / n >= 0.9  # measured 0.98


class TestMergeAndBucketedJoin:
    """r8c3 additions: MERGE upsert semantics invariants and liveness of
    the join_bucketed in-plan zero-Exchange gate (the green path is every
    parity run — hashed vs the plain-join oracle)."""

    def test_merge_upsert_branches(self, spark):
        from affinity_propagation_mapreduce_spark.operators import relational as R
        from affinity_propagation_mapreduce_spark.sources import table

        out = R.q_merge_upsert(spark, SF_SMALL)
        by_src = {r.src: r.n for r in
                  out.groupBy("src").agg(F.count("*").alias("n")).collect()}
        n_cust = table(spark, SF_SMALL, "customer").count()
        # every insert targets a key above the offset, and vice versa
        n_off = out.where(F.col("custkey") >= R.MERGE_NEW_KEY_OFFSET).count()
        assert by_src.get("inserted", 0) == n_off and n_off > 0
        assert by_src.get("updated", 0) > 0
        # kept + updated + deleted partitions the original snapshot
        deleted = n_cust - by_src.get("kept", 0) - by_src.get("updated", 0)
        assert deleted > 0
        # deleted keys are really gone
        assert out.count() == n_cust - deleted + n_off

    def test_join_bucketed_gate_raises_on_shuffled_plan(self, spark, monkeypatch):
        from affinity_propagation_mapreduce_spark.operators import relational as R

        def unbucketed(spark_, sf_dir):
            R._t(spark_, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ).createOrReplaceTempView("ub_orders")
            R._t(spark_, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o_orderkey"),
                "l_extendedprice",
                "l_discount",
            ).createOrReplaceTempView("ub_lineitem")
            return "ub_orders", "ub_lineitem"

        monkeypatch.setattr(R, "_bucketed_layout", unbucketed)
        with pytest.raises(AssertionError, match="bucketed join plan"):
            R.q_join_bucketed(spark, SF_SMALL)

    def test_join_bucketed_zero_exchange_and_values(self, spark):
        from affinity_propagation_mapreduce_spark.operators import relational as R

        got = {
            r.o_orderpriority: (r.n_items, r.revenue)
            for r in R.q_join_bucketed(spark, SF_SMALL).collect()
        }
        li = R._t(spark, SF_SMALL, "lineitem")
        orders = R._t(spark, SF_SMALL, "orders")
        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        want = {
            r.o_orderpriority: (r.n_items, r.revenue)
            for r in li.join(
                orders, li.l_orderkey == orders.o_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum(cents) / 100, 2).alias("revenue"),
            )
            .collect()
        }
        assert got == want


class TestIVFPQ:
    """knn_cosine_ivfpq (coarse-cell pruning x PQ/ADC x exact re-rank):
    candidate containment, gate liveness, and the probe contract."""

    def test_ivfpq_results_subset_of_probed_cells(self, spark):
        """Every returned neighbor's home cell must be one the query
        probes — the structural claim of the coarse stage."""
        import numpy as np

        from affinity_propagation_mapreduce_spark.operators import vector as V
        from affinity_propagation_mapreduce_spark.operators.ivf import (
            corpus_rows,
            cost_balanced_nlist,
            train_centroids,
        )
        from affinity_propagation_mapreduce_spark.sources import table

        emb_raw = table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding"
        )
        nlist = cost_balanced_nlist(corpus_rows(spark, SF_SMALL), V.N_PROBE)
        cent = train_centroids(emb_raw, nlist)
        rows = emb_raw.collect()
        rows.sort(key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in rows], dtype="i8")
        x = np.array([list(r.embedding) for r in rows], dtype="f8")

        def d2_to_cells(p):
            return (
                (p * p).sum(axis=1, keepdims=True)
                - 2.0 * p @ cent.T
                + (cent * cent).sum(axis=1)[None, :]
            )

        home = {int(i): int(c) for i, c in zip(ids, d2_to_cells(x).argmin(1))}
        res = V.knn_cosine_ivfpq(spark, SF_SMALL).collect()
        assert len(res) == V.N_QUERIES * V.TOP_K
        n_probe = min(V.IVFPQ_QUERY_PROBE, len(cent))
        for r in res:
            qx = x[np.where(ids == r.query_id)[0][0]][None, :]
            probed = set(
                np.argsort(d2_to_cells(qx)[0], kind="stable")[:n_probe]
            )
            assert home[r.neighbor_id] in probed, r

    def test_ivfpq_recall_gate_raises_below_floor(self, spark, monkeypatch):
        from affinity_propagation_mapreduce_spark.operators import vector

        monkeypatch.setitem(vector.RECALL_FLOORS, "knn_cosine_ivfpq", 1.01)
        with pytest.raises(AssertionError, match="IVF-PQ recall collapsed"):
            vector.q_knn_cosine_ivfpq(spark, SF_SMALL).count()

    def test_ivfpq_recall_above_floor(self, spark):
        from affinity_propagation_mapreduce_spark.operators import vector as V

        exact = V.q_knn_cosine_topk(spark, SF_SMALL).select(
            "query_id", "neighbor_id"
        )
        n = exact.count()
        hit = exact.join(
            V.knn_cosine_ivfpq(spark, SF_SMALL).select(
                "query_id", "neighbor_id"
            ),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        # near-random test embeddings are the adversarial case for cell
        # pruning: measured 0.74 at sf0.001 (clustered scale corpora
        # measure far higher — BASELINE.md)
        assert n > 0 and hit / n >= 0.5


class TestSubcellTiling:
    """Adaptive bipartite sub-cell tiling (the 2M skew-straggler fix):
    tiled output must equal the untiled pair relation EXACTLY — same
    pairs, bitwise-same s — on a corpus engineered so several cells
    exceed the cap, in both emission modes."""

    @staticmethod
    def _skewed_emb(spark, n=3000, d=8):
        import numpy as np

        rng = np.random.default_rng(23)
        # 2/3 of all points pile into one tight blob -> one giant cell
        blob = rng.normal(size=(1, d))
        pts = np.where(
            (np.arange(n) % 3 < 2)[:, None],
            blob + 0.01 * rng.normal(size=(n, d)),
            rng.normal(size=(n, d)),
        )
        return spark.createDataFrame(
            [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )

    def _pairs(self, spark, emb, n, cap, topk=None):
        df = ap.ivf_candidate_pairs(
            spark,
            SF_SMALL,
            emb=emb,
            n=n,
            per_point_topk=topk,
            subcell_cap=cap,
        )
        if topk is not None:
            df = df.dropDuplicates(["i", "k"])
        return sorted((r.i, r.k, r.s) for r in df.collect())

    def test_tiled_equals_untiled_all_pairs(self, spark):
        n = 3000
        emb = self._skewed_emb(spark, n)
        base = self._pairs(spark, emb, n, cap=None)
        tiled = self._pairs(spark, emb, n, cap=200)  # far below blob size
        assert tiled == base  # bitwise: float equality on s

    def test_tiled_topk_same_survivors(self, spark):
        from pyspark.sql import Window

        n = 3000
        emb = self._skewed_emb(spark, n)

        def survivors(cap):
            pairs = ap.ivf_candidate_pairs(
                spark, SF_SMALL, emb=emb, n=n,
                per_point_topk=8, subcell_cap=cap,
            ).dropDuplicates(["i", "k"])
            w = Window.partitionBy("i").orderBy(F.desc("s"), F.asc("k"))
            top = (
                pairs.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= 8)
                .select("i", "k", "s")
            )
            return sorted((r.i, r.k, r.s) for r in top.collect())

        assert survivors(200) == survivors(None)

    def test_auto_gate_off_at_small_n(self, spark):
        """The declared sparse queries at sf scale must not pay the
        occupancy job: auto resolves to None below _SUBCELL_MIN_N."""
        import affinity_propagation_mapreduce_spark.operators.ap as apm

        assert apm._SUBCELL_MIN_N > 10_000  # sf0.1 corpus is far below
