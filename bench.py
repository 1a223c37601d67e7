"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": <defaultParallelism>, "passes": {query: timed runs}}

Each query is forced with a count() (no driver-side row materialization
beyond the aggregate — the cost measured is the distributed plan)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from affinity_propagation_mapreduce_spark import registry
from affinity_propagation_mapreduce_spark.operators import ap
from affinity_propagation_mapreduce_spark.session import get_spark

# Headline mix: the flagship AP kernel + one representative per family
# (scan/agg, star join, window, asof, sessions, dedup, knn, UDF path).
HEADLINE = [
    "ap_assign",
    "ap_assign_sparse",
    "pricing_summary",
    "join_broadcast_star",
    "win_rank_topk_per_group",
    "join_asof",
    "sessionize",
    "dedup_exact",
    "dedup_near_minhash",
    "knn_cosine_topk",
    "udtf_grouped_map",
    # r13: persisted-index SERVING row — the driver series now catches
    # serving-path regressions automatically (previously only the
    # BASELINE.md §ann-serving ladders tracked them).  Pass 1 pays the
    # one-time index build (content-addressed, shared); min-of-passes
    # keeps the recorded number the warm serve.  Adding this row grows
    # the suite total vs the ≤r12 series by the serve wall — the
    # per-query timings are the comparable units.
    "knn_cosine_served",
    # r14: FILTERED serving row (predicate pushdown path — meta_cols
    # layout, filter_expr evaluated scan-side, sample-based
    # selectivity).  Same convention as knn_cosine_served: pass 1 pays
    # the one-time dedicated-layout build, min-of-passes records the
    # warm filtered serve; per-query timings remain the comparable
    # units across rounds.
    "knn_cosine_filtered_served",
    # r15: LAKEHOUSE row — the composed create→append→compact lifecycle
    # with manifest-pruned range scan + sidecar-bloom point lookup.
    # Pass 1 pays the one-time layout build (persisted per app/sf);
    # min-of-passes records the warm pruned-scan + pin-validation wall.
    "table_lifecycle",
]


# this host shows heavy exogenous run-to-run variance (same query
# measured 7s and 38s minutes apart under neighbor load) — a single
# pass can misstate the engine by 3×.  Two passes, min per query,
# measures the code rather than the neighbors; the deadline guard keeps
# the whole bench inside a conservative budget if pass 1 crawled.
N_PASSES = 2
PASS2_DEADLINE_SEC = 210.0
# r16 (verdict r15 next-round #7, noise control): the two AP rows are
# the heaviest and the ones the r15 driver sample mis-read 1.5× under
# neighbor load — they alone get a third min-pass, bounded by the same
# deadline guard.  Additions-only: no row removed/renamed, methodology
# (count()-forced, min over passes) unchanged.
EXTRA_PASS_QUERIES = ["ap_assign", "ap_assign_sparse"]


def _cleanup(spark) -> None:
    """Drop checkpointed iteration state between queries: the AP queries
    leave multi-GB localCheckpoint RDDs pinned otherwise, and the
    resulting memory pressure taxes every later query."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()
    # checkpointed blocks are gone → cached references to them must go
    # too (a truncated-lineage RDD cannot rebuild)
    ap.clear_cache()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(registry.queries())
    # bench the SERVE, not the self-verifying gate wrapped around it
    # (q_knn_cosine_served adds an exact brute-force recall pass at
    # verification scale — correctness cost, not serving cost)
    from affinity_propagation_mapreduce_spark.operators import ann_index as ann

    qs["knn_cosine_served"] = ann.knn_cosine_served

    def _filtered_served(spark_, sf_dir_):
        from affinity_propagation_mapreduce_spark.operators.vector import (
            FILTER_LABEL_MOD,
        )
        from affinity_propagation_mapreduce_spark.sources import table

        path = ann.ann_index_path(sf_dir_) + "-fbench"
        ann.build_ann_index(
            spark_, sf_dir_, path=path,
            emb_raw=table(spark_, sf_dir_, "embeddings"),
            store_raw=True, meta_cols=("label",),
        )
        qids, qmat, qnrm = ann._query_rows(spark_, sf_dir_)
        res, _used = ann.serve_topk_filtered(
            spark_, path, qids, qmat, qnrm,
            filter_expr=f"label % {FILTER_LABEL_MOD} = 0",
        )
        return res

    qs["knn_cosine_filtered_served"] = _filtered_served
    # warm the JVM / codegen / Arrow paths so the first timed query isn't
    # billed for session startup
    qs["pricing_summary"](spark, sf_dir).count()
    qs["udf_scalar_pandas"](spark, sf_dir).count()
    t_bench = time.time()
    timings: dict[str, float] = {}
    passes: dict[str, int] = {}
    for pass_i in range(N_PASSES):
        if pass_i > 0 and time.time() - t_bench > PASS2_DEADLINE_SEC:
            break
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            passes[name] = passes.get(name, 0) + 1
            _cleanup(spark)
    if time.time() - t_bench <= PASS2_DEADLINE_SEC:
        for name in EXTRA_PASS_QUERIES:  # third min-pass, AP rows only
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            passes[name] = passes.get(name, 0) + 1
            _cleanup(spark)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "cpus": spark.sparkContext.defaultParallelism,
                "passes": passes,
            }
        )
    )


if __name__ == "__main__":
    main()
