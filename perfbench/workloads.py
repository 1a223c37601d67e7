"""The four benchmark workloads.

Each workload is a closed loop with one caller: the next operation starts
only after the previous one returned and was consumed.  A workload

* ``generate``s its inputs from the seed into its own directory and
  computes what references it can without the program (untimed);
* ``prepare``s what a user pays once per session (the ANN index build,
  the lakehouse table) — timed, part of ``setup_s``;
* runs ``op`` repeatedly; each op times only the program's call and
  checks the output afterwards;
* ``finish``es with the once-per-run checks (untimed).

Only the program's public functions are called.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

import checks
import gen

T_ITER = 5  # AP iterations (the engine's T_DEFAULT)


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    traced: bool = False


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _cleanup(spark) -> None:
    """Drop cached and checkpointed state between AP repeats, as
    bench._cleanup does."""
    from affinity_propagation_mapreduce_spark.operators import ap

    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    ap.clear_cache()


class Workload:
    name = ""
    primary = ""  # op kind whose walls give op_p50_s / op_tail_s
    min_ops = 1
    coverage_spans: tuple = ()  # layer spans inside an op's timed wall
    probes: tuple = ()  # workloads whose layers the traced run also probes

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")

    def sizes(self) -> dict:
        raise NotImplementedError

    def gates(self) -> dict:
        return {}

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark, tr) -> None:
        """Per-session set-up, paid once before the first op."""

    def describe(self) -> dict:
        """Facts about the prepared state for the run record."""
        return {}

    def op(self, spark, tr, i: int) -> Op:
        raise NotImplementedError

    def finish(self, spark, tr) -> tuple[int, int]:
        """Once-per-run checks; returns (attempted, failed)."""
        return 0, 0

    def quality(self) -> float:
        raise NotImplementedError

    def layers(self, tr) -> dict:
        """Per-layer metrics from the traced spans."""
        return {}


class GateError(RuntimeError):
    pass


# --- ap_dense -------------------------------------------------------------------

class ApDense(Workload):
    """``ap.q_ap_assign(...).count()``: dense AP, T=5, median preference,
    on the fused blocked loop.  Traced ops call ``DenseAP`` step by step."""

    name = "ap_dense"
    primary = "cluster"
    min_ops = 3
    coverage_spans = ("ap_dense.init", "ap_dense.state0", "ap_dense.pref",
                      "ap_dense.chain", "ap_dense.assign")
    N, D, K, SPREAD = 1500, 32, 16, 1.0

    def sizes(self):
        return {"N": self.N, "d": self.D, "k_planted": self.K, "T": T_ITER}

    def gates(self):
        from affinity_propagation_mapreduce_spark.operators import ap, ap_dense

        lo = getattr(ap, "_CHAIN_RETAIN_MAX_N", None)
        hi = getattr(ap, "_FAST_MEDIAN_MAX_N", None)
        top = getattr(ap_dense, "BLOCKED_MAX_N", None)
        rec = {"ap._CHAIN_RETAIN_MAX_N": lo, "ap._FAST_MEDIAN_MAX_N": hi,
               "ap_dense.BLOCKED_MAX_N": top,
               "side": "_CHAIN_RETAIN_MAX_N < N <= min(_FAST_MEDIAN_MAX_N, BLOCKED_MAX_N)"}
        if (lo is not None and self.N <= lo) or (hi is not None and self.N > hi) or (
            top is not None and self.N > top
        ):
            raise GateError(f"ap_dense N={self.N} left its gate side: {rec}")
        return rec

    def generate(self):
        gen.write_embeddings(self.data, self.seed, self.N, self.D, self.K, self.SPREAD)
        self.pts, self.truth, _ = gen.clustered(self.seed, self.N, self.D, self.K, self.SPREAD)
        from affinity_propagation_mapreduce_spark.operators import ap

        self.ref = checks.dense_ap_labels(self.pts.astype("f8"), T_ITER, ap.DAMPING)
        self.labels: dict[int, int] = {}

    def op(self, spark, tr, i):
        from affinity_propagation_mapreduce_spark.operators import ap

        dense = None
        if tr.enabled:
            wall, df, dense = self._traced_op(spark, tr)
        else:
            t0 = time.perf_counter()
            ap.q_ap_assign(spark, self.data).count()
            wall = time.perf_counter() - t0
            df = ap.q_ap_assign(spark, self.data)  # cached: no recompute
        self.labels = {int(r[0]): int(r[1]) for r in df.collect()}
        if dense is not None:
            dense.destroy()
        _cleanup(spark)
        return Op("cluster", wall, checks.check_dense_labels(self.labels, self.ref),
                  tr.enabled)

    def _traced_op(self, spark, tr):
        from affinity_propagation_mapreduce_spark.operators import ap
        from affinity_propagation_mapreduce_spark.operators.ap_dense import DenseAP

        t0 = time.perf_counter()
        with tr.span("ap_dense.op"):
            with tr.span("ap_dense.init"):
                d = DenseAP(spark, self.data)
            with tr.span("ap_dense.state0"):
                d.state0()
            with tr.span("ap_dense.pref"):
                d.pref_value("median")
            with tr.span("ap_dense.chain"):
                st = d.chain(T_ITER, lam=ap.DAMPING, retain=False)[-1]
            with tr.span("ap_dense.assign"):
                df = d.assign(st, ex=d.ex_hint("median", ap.DAMPING, T_ITER))
                df = df.localCheckpoint(eager=True)
        wall = time.perf_counter() - t0
        return wall, df, d

    def quality(self):
        return checks.purity(self.labels, self.truth)

    def layers(self, tr):
        out = {}
        for step in ("init", "state0", "pref", "chain", "assign"):
            out[f"ap_dense.{step}_s"] = _median([s.wall for s in tr.warm(f"ap_dense.{step}")])
        tops = [tr.totals(s) for s in tr.warm("ap_dense.op")]
        chains = [tr.totals(s) for s in tr.warm("ap_dense.chain")]
        out["ap_dense.jobs"] = _median([t["jobs"] for t in tops])
        out["ap_dense.jobs_per_iter"] = _median([t["jobs"] for t in chains]) / T_ITER
        out["ap_dense.driver_gap_s"] = _median([t["driver_gap_s"] for t in tops])
        out["ap_dense.exec_run_s"] = _median([t["exec_run_s"] for t in tops])
        # computed: the 3·N² f8 state crosses JVM↔Python once per job of
        # the state-building, iteration and assignment kernels
        state_mb = 3 * self.N * self.N * 8 / 1e6
        crossing_jobs = _median([
            sum(tr.totals(s)["jobs"] for s in tr.spans if s.name in (
                "ap_dense.state0", "ap_dense.chain", "ap_dense.assign")
                and s.parent == top.span_id)
            for top in tr.warm("ap_dense.op")
        ])
        out["ap_dense.crossing_mb"] = state_mb * crossing_jobs
        return out


# --- ap_sparse ------------------------------------------------------------------

class ApSparse(Workload):
    """``ap.cluster_sparse(...).count()`` above the blocked gate: IVF
    candidates, distributed exact median, coordinate-SQL loop."""

    name = "ap_sparse"
    primary = "cluster"
    min_ops = 1
    coverage_spans = ("ap.cluster_sparse",)
    N, D, K, SPREAD = 10_500, 8, 16, 1.0

    def sizes(self):
        return {"N": self.N, "d": self.D, "k_planted": self.K, "T": T_ITER, "knn_k": 32}

    def gates(self):
        from affinity_propagation_mapreduce_spark.operators import ap_dense

        top = getattr(ap_dense, "BLOCKED_MAX_N", None)
        rec = {"ap_dense.BLOCKED_MAX_N": top, "side": "N > BLOCKED_MAX_N"}
        if top is not None and self.N <= top:
            raise GateError(f"ap_sparse N={self.N} left its gate side: {rec}")
        return rec

    def generate(self):
        gen.write_embeddings(self.data, self.seed, self.N, self.D, self.K, self.SPREAD)
        _, self.truth, _ = gen.clustered(self.seed, self.N, self.D, self.K, self.SPREAD)
        self.labels: dict[int, int] | None = None
        self.first: dict[int, int] | None = None

    def op(self, spark, tr, i):
        from affinity_propagation_mapreduce_spark.operators import ap

        with tr.span("ap.cluster_sparse"):
            t0 = time.perf_counter()
            df = ap.cluster_sparse(spark, self.data)
            df.count()
            wall = time.perf_counter() - t0
        labels = {int(r[0]): int(r[1]) for r in df.collect()}
        ok = checks.check_sparse_labels(labels, self.N, self.first)
        if self.first is None:
            self.first = labels
        self.labels = labels
        _cleanup(spark)
        return Op("cluster", wall, ok, tr.enabled)

    def finish(self, spark, tr):
        if not tr.enabled:
            return 0, 0
        # the layers the cluster call runs, each timed alone on the input
        from affinity_propagation_mapreduce_spark.operators import ap

        with tr.span("ivf.candidates") as sp:
            cand = ap.knn_candidate_pairs(spark, self.data, 32).localCheckpoint(eager=True)
            sp.attrs["pairs"] = cand.count()
        with tr.span("ap.median"):
            p = ap.exact_median_distributed(cand)
        _cleanup(spark)
        return 1, int(p is None)

    def quality(self):
        return checks.purity(self.labels or {}, self.truth)

    def layers(self, tr):
        tops = [tr.totals(s) for s in tr.by_name("ap.cluster_sparse")]
        walls = [s.wall for s in tr.by_name("ap.cluster_sparse")]
        cand = tr.by_name("ivf.candidates")
        med = tr.by_name("ap.median")
        cand_s = cand[0].wall if cand else 0.0
        med_s = med[0].wall if med else 0.0
        return {
            "ivf.candidates_s": cand_s,
            "ivf.candidate_pairs": cand[0].attrs.get("pairs", 0) if cand else 0,
            "ap.median_s": med_s,
            # the coordinate loop: the cluster call minus the two layers
            # it runs first, each timed alone above
            "ap.loop_s": max(0.0, _median(walls) - cand_s - med_s),
            "ap.jobs": _median([t["jobs"] for t in tops]),
            "ap.shuffle_read_mb": _median([t["shuffle_read_mb"] for t in tops]),
            "ap.shuffle_write_mb": _median([t["shuffle_write_mb"] for t in tops]),
            "ap.exec_run_s": _median([t["exec_run_s"] for t in tops]),
            "ap.driver_gap_s": _median([t["driver_gap_s"] for t in tops]),
        }


# --- ann_serve ------------------------------------------------------------------

class AnnServe(Workload):
    """``serve_topk`` with |Q|=10 over a ``store_raw`` index, with an
    ``append_ann_index`` batch after every APPEND_EVERY-1 serves."""

    name = "ann_serve"
    primary = "serve"
    min_ops = 3
    coverage_spans = ("ann_index.serve", "ann_index.append")
    N, D, K, SPREAD = 6_000, 32, 64, 1.0
    Q, BATCH, APPEND_EVERY, REGION = 10, 2_000, 3, 4

    def sizes(self):
        return {"N": self.N, "d": self.D, "k_planted": self.K, "Q": self.Q,
                "append_batch": self.BATCH, "append_every": self.APPEND_EVERY}

    def generate(self):
        pts, self.truth, self.centers = gen.clustered(
            self.seed, self.N, self.D, self.K, self.SPREAD)
        gen.write_table(gen.embeddings_table(np.arange(self.N), pts, self.truth),
                   os.path.join(self.data, "embeddings.parquet"))
        self.ids = np.arange(self.N, dtype="i8")
        self.vecs = pts.astype("f8")
        self.norms = checks.fold_norm(self.vecs)
        self.recalls: list[float] = []
        self.n_appends = 0

    def _near(self, rng, n, region_share):
        """n points, ``region_share`` of them around the query region's
        centres, the rest around any centre."""
        near = rng.random(n) < region_share
        c = np.where(near, rng.integers(0, self.REGION, n), rng.integers(0, self.K, n))
        return (self.centers[c] + self.SPREAD * rng.normal(size=(n, self.D))).astype("f4")

    def prepare(self, spark, tr):
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        self.path = os.path.join(self.work, "ann_index")
        with tr.span("ann_index.build"):
            ann.build_ann_index(spark, self.data, path=self.path, store_raw=True)

    def describe(self):
        """The search path the program picks for this index and |Q|
        (meta.json read from disk: loading the model would warm its memo
        before the cold serve)."""
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        with open(os.path.join(self.path, "meta.json")) as fh:
            meta = json.load(fh)
        n_probe = ann.plan_n_probe(meta["nlist"], meta["n"], self.Q)
        return {"ann_search": {"nlist": meta["nlist"], "n_probe": n_probe,
                               "mode": ann.choose_search_mode(meta["nlist"], n_probe)}}

    def op(self, spark, tr, i):
        if i % self.APPEND_EVERY == self.APPEND_EVERY - 1:
            return self._append(spark, tr, i)
        return self._serve(spark, tr, i)

    def _queries(self, i: int, salt: int = 100):
        rng = np.random.default_rng((self.seed, salt, i))
        qmat = self._near(rng, self.Q, 1.0).astype("f8")
        qids = np.arange(self.Q, dtype="i8") + 10**12  # disjoint from corpus ids
        return qids, qmat, checks.fold_norm(qmat)

    def _serve(self, spark, tr, i):
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann
        from affinity_propagation_mapreduce_spark.operators.vector import TOP_K

        qids, qmat, qnrm = self._queries(i)
        with tr.span("ann_index.serve", first=not self.recalls):
            t0 = time.perf_counter()
            rows = ann.serve_topk(spark, self.path, qids, qmat, qnrm).select(
                "query_id", "neighbor_id").collect()
            wall = time.perf_counter() - t0
        if tr.enabled:
            # the model load and the shortlist alone, on a fresh query set
            # so the shortlist pays its own listing like a serve does
            pq, pm, pn = self._queries(i, salt=101)
            with tr.span("ann_index.load_model"):
                ann.load_ann_model(spark, self.path)
            with tr.span("ann_index.shortlist"):
                ann.search_auto(spark, self.path, pq, pm, pn)[0].count()
        exact = checks.exact_topk(self.ids, self.vecs, self.norms, qmat, qnrm, TOP_K)
        ok, recall = checks.check_serve(
            [(r[0], r[1]) for r in rows], qids, TOP_K, set(self.ids.tolist()),
            exact, ann.BULK_RECALL_FLOOR)
        self.recalls.append(recall)
        return Op("serve", wall, ok, tr.enabled)

    def _append(self, spark, tr, i):
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        rng = np.random.default_rng((self.seed, 200, i))
        pts = self._near(rng, self.BATCH, 0.5)
        start = self.N + self.n_appends * self.BATCH
        ids = np.arange(start, start + self.BATCH, dtype="i8")
        bpath = os.path.join(self.work, "batches", f"b{i}.parquet")
        gen.write_table(gen.embeddings_table(ids, pts, np.zeros(self.BATCH, "i4")), bpath)
        emb = spark.read.parquet(bpath)
        with tr.span("ann_index.append"):
            t0 = time.perf_counter()
            added = ann.append_ann_index(spark, self.path, emb, f"b{i}")
            wall = time.perf_counter() - t0
        self.n_appends += 1
        v = pts.astype("f8")
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.concatenate([self.vecs, v])
        self.norms = np.concatenate([self.norms, checks.fold_norm(v)])
        return Op("append", wall, added == self.BATCH, tr.enabled)

    def quality(self):
        return float(np.mean(self.recalls)) if self.recalls else 0.0

    def layers(self, tr):
        serves = tr.warm("ann_index.serve")
        warm = [tr.totals(s) for s in serves]
        cold = [tr.totals(s) for s in tr.by_name("ann_index.serve") if s.attrs.get("first")]
        builds = tr.by_name("ann_index.build")
        appends = [tr.totals(s) for s in tr.warm("ann_index.append")]
        shortlist = _median([s.wall for s in tr.warm("ann_index.shortlist")])
        serve_wall = _median([s.wall for s in serves])
        from affinity_propagation_mapreduce_spark.operators import ann_index as ann

        croot = ann.codes_root(self.path)
        batch_dirs = [d for d in os.listdir(croot) if d.startswith("batch=")] if os.path.isdir(croot) else []
        codes_files = sum(
            1 for _r, _d, fs in os.walk(croot) for f in fs if f.endswith(".parquet"))
        return {
            "ann_index.build_s": _median([s.wall for s in builds]),
            "ann_index.build_jobs": _median([tr.totals(s)["jobs"] for s in builds]),
            "ann_index.load_model_s": _median([s.wall for s in tr.warm("ann_index.load_model")]),
            "ann_index.shortlist_s": shortlist,
            "ann_index.serve_jobs": _median([t["jobs"] for t in warm]),
            "ann_index.serve_driver_gap_s": _median([t["driver_gap_s"] for t in warm]),
            "ann_index.cold_driver_gap_s": _median([t["driver_gap_s"] for t in cold]),
            "ann_index.serve_input_mb": _median([
                sum(x.input_b for x in tr.subtree(s)) / 1e6 for s in serves]),
            "ann_index.append_s": _median([t["wall_s"] for t in appends]),
            "ann_index.append_jobs": _median([t["jobs"] for t in appends]),
            "ann_index.batch_dirs": len(batch_dirs),
            "ann_index.codes_files": codes_files,
            "vector.rerank_s": max(0.0, serve_wall - shortlist),
        }


# --- sql_mix --------------------------------------------------------------------

MIX = [
    "pricing_summary", "join_broadcast_star", "win_rank_topk_per_group",
    "join_asof", "sessionize", "dedup_exact", "dedup_near_minhash",
    "knn_cosine_topk", "udtf_grouped_map", "table_lifecycle",
]


class SqlMix(Workload):
    """One op = one round of the ten non-AP, non-served headline queries,
    each forced with ``count()``, in a seed-shuffled order."""

    name = "sql_mix"
    primary = "round"
    min_ops = 1
    coverage_spans = tuple(f"sql.{q}" for q in MIX)
    SCALE = 0.1  # × sf0.1 row counts

    def sizes(self):
        return {"scale_of_sf0.1": self.SCALE, "lineitem_rows": int(gen.SF_ROWS["lineitem"] * self.SCALE),
                "queries": len(MIX)}

    def generate(self):
        from affinity_propagation_mapreduce_spark import registry
        from affinity_propagation_mapreduce_spark.plans.verify import duck_connection

        gen.write_sf_tables(self.data, self.seed, self.SCALE)
        self.queries = registry.queries()
        self.oracles = {q: registry.oracle_sql()[q] for q in MIX}
        con = duck_connection(self.data)
        try:
            self.expected = {
                q: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                for q, sql in self.oracles.items()
            }
        finally:
            con.close()
        self.rng = np.random.default_rng((self.seed, 300))
        self.parity: dict[str, bool] = {}

    def prepare(self, spark, tr):
        """The lifecycle table of ``table_lifecycle`` (create → append →
        compact), built with the lakehouse API at a benchmark-owned path."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import lakehouse as lh
        from affinity_propagation_mapreduce_spark.sources import table

        base = os.path.join(self.work, "lakehouse_lineitem")
        with tr.span("lakehouse.build"):
            li = table(spark, self.data, "lineitem").select(
                "l_shipdate", "l_orderkey", "l_returnflag", "l_linestatus",
                "l_quantity", "l_extendedprice")
            lh.create_table(li.where(F.col("l_orderkey") % 3 != 0), base,
                            "l_shipdate", bloom_for=["l_orderkey"], n_files=8)
            lh.append_table(li.where(F.col("l_orderkey") % 3 == 0), base, n_files=4)
            st = lh.head_stats(base)
            lh.compact_table(spark, base, target_bytes=st["bytes"] // 6 + 1)
        self.lh_base = base

    def _table_lifecycle(self, spark, sf_dir):
        """``q_table_lifecycle``'s read side at the benchmark's table: the
        pruned head range scan, the bloom point lookup, the rollup."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.operators.relational import LH_HI, LH_LO
        from affinity_propagation_mapreduce_spark.sources import lakehouse as lh
        from affinity_propagation_mapreduce_spark.sources import table

        df, st = lh.read_table(spark, self.lh_base, lower=LH_LO, upper=LH_HI)
        key = table(spark, sf_dir, "lineitem").agg(F.min("l_orderkey").alias("k")).first().k
        _pt, pst = lh.read_table_point(spark, self.lh_base, "l_orderkey", key)
        if st["files_kept"] >= st["files_total"] or pst["files_kept"] >= pst["files_total"]:
            raise AssertionError(f"lakehouse skipping did not engage: {st} {pst}")
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )

    def _fn(self, q):
        return self._table_lifecycle if q == "table_lifecycle" else self.queries[q]

    def op(self, spark, tr, i):
        order = [MIX[j] for j in self.rng.permutation(len(MIX))]
        ok, wall = True, 0.0
        for q in order:
            fn = self._fn(q)
            with tr.span(f"sql.{q}"):
                t0 = time.perf_counter()
                n = fn(spark, self.data).count()
                wall += time.perf_counter() - t0
            ok = ok and n == self.expected[q]
        return Op("round", wall, ok, tr.enabled)

    def finish(self, spark, tr):
        """Full result parity against the DuckDB oracle, once per run."""
        from affinity_propagation_mapreduce_spark.plans.verify import compare

        for q in MIX:
            rep = compare(q, self._fn(q)(spark, self.data), self.oracles[q], self.data)
            self.parity[q] = rep.ok
        return len(MIX), sum(1 for v in self.parity.values() if not v)

    def quality(self):
        return sum(self.parity.values()) / len(MIX) if self.parity else 0.0

    def layers(self, tr):
        out = {}
        gaps = []
        for q in MIX:
            spans = tr.by_name(f"sql.{q}")
            tots = [tr.totals(s) for s in spans]
            out[f"sql.{q}_s"] = _median([s.wall for s in spans])
            out[f"sql.{q}.jobs"] = _median([t["jobs"] for t in tots])
            gaps.append(_median([t["driver_gap_s"] for t in tots]))
        out["sql.driver_gap_s"] = float(sum(gaps))
        return out


ApDense.probes = (ApSparse,)
AnnServe.probes = (SqlMix,)
WORKLOADS = {w.name: w for w in (ApDense, ApSparse, AnnServe, SqlMix)}
