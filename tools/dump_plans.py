"""Regenerate EXPLAINS.md: `.explain("formatted")` output for a
representative query per family, so the plan properties PLANS.md claims
are inspectable without running Spark.

Usage: python tools/dump_plans.py          (writes EXPLAINS.md at repo root)
       python tools/dump_plans.py NAME ...  (rewrites only those sections)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from affinity_propagation_mapreduce_spark import registry
from affinity_propagation_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# one representative per family, chosen for the property its plan proves
SHOWCASE = [
    ("scan_project_filter", "parquet pushdown + column pruning (PushedFilters, ReadSchema)"),
    ("pricing_summary", "partial+final hash aggregation around one exchange"),
    ("join_broadcast_star", "broadcast dims, shuffle join only on the fact key"),
    ("join_asof", "partial_max_by below the exchange: 1 candidate/key/mapper"),
    ("join_skew_salted", "salted join keys (orderkey, salt) spreading hot keys"),
    ("ap_responsibility", "AP first responsibility pass: the r column of the T=1 chain state's coordinate view, no N^2 relation built in Spark"),
    ("rollup_timeseries", "ROLLUP grouping sets expanded in one aggregation"),
    ("dedup_near_minhash", "banded-LSH equi-join candidates, no cross join"),
    ("ann_lsh_cosine", "hyperplane-LSH band-bucket equi-join, JVM-codegen fold dots"),
    ("freq_cms", "sketch counters reduced map-side, broadcast probe joins"),
    ("sample_hash", "zero-shuffle deterministic sampling (no Exchange)"),
    ("ap_assign_sparse_checked", "IVF-pruned sparse AP: candidate generation + passes, no N^2 relation"),
    ("partition_prune_readback", "PartitionFilters on the read-back scan: directory-level pruning"),
    ("media_decode_features", "Arrow-batched mapInPandas decode, per-dim explode"),
    ("media_decode_bmp", "REAL pure-numpy BMP decode round trip inside mapInPandas"),
    ("knn_cosine_ivf", "cost-balanced IVF: Arrow coarse-assign kernel (bitwise = fold), no quadratic stage"),
    ("doc_chunk", "overlapping-window chunking: generate+explode, zero Exchange"),
    ("span_dedup", "duplicated-span detection: span-keyed groupBy + equi-join, no all-pairs"),
    ("event_transitions", "one user-keyed shuffle feeds lag window + alphabet-bounded aggregate"),
    ("bm25_topk", "posting-list-bounded BM25 scoring, TakeOrderedAndProject top-N"),
    ("merge_upsert", "CDC MERGE: WindowGroupLimit change compaction + one full outer join apply"),
    ("join_bucketed", "bucketed co-located join: shuffle-free SortMergeJoin, zero Exchange below the rollup"),
    ("knn_cosine_pq", "flat PQ as the ANN index's IVF-PQ scan over one cell: mapInArrow encode, coalesced mapInArrow ADC scan, shortlist-bounded shuffle, exact re-rank join"),
    ("layout_compaction", "compacted-layout read-back rollup (the compaction itself is write-side)"),
    ("knn_cosine_served", "persisted-index serving: the driver plans the probed cells' files, the ADC tasks read them with pyarrow (no Spark scan), search-only + exact re-rank join"),
    ("win_ntile_pctrank", "range-partitioned exact global ranks: no SinglePartition sort, no Window"),
    ("merge_upsert_chain", "3 sequential MERGE applications, all shuffles on the merge key"),
    ("media_phash_neardup", "map-side decode + block-mean perceptual hash; only (id, 64-bit hash) shuffles to the group stage"),
    ("knn_cosine_filtered", "filtered exact top-k: candidate side filtered BEFORE the broadcast-join scoring, filter pushed to the scan"),
    ("scan_clustered_skip", "manifest file skipping: only range-overlapping files reach the reader; predicate + rollup above"),
    ("scan_zorder_skip", "z-order multi-column skipping: Morton layout prunes on every clustered dimension"),
    ("scan_bloom_skip", "Bloom point-lookup skipping: only bloom-admitted files reach the reader"),
    ("table_time_travel", "versioned snapshot read: one immutable v=N dir scan, no reconstruction"),
    ("pipeline_curation_report", "the composed curation DAG: six single-row aggregates cross-joined, no driver collect"),
    ("table_lifecycle", "lakehouse lifecycle head scan: manifest-pruned file list (survives append+compact), rollup above"),
    ("table_merge_cow", "post-COW-merge head scan: carried + rewritten batches unioned by the manifest, no reconstruction"),
    ("scan_zorder_string_skip", "z-order STRING dim skipping: dictionary-rank bucketed layout prunes on the name band alone"),
    ("table_zorder_lifecycle", "z-ordered lakehouse head scan: per-dimension bounding boxes survive append+compaction, 2-D pruned file list"),
]


def _section(spark, qs, overrides, name: str, why: str) -> list[str]:
    df = overrides.get(name, qs[name])(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return [f"## {name}", f"*{why}*", "", "```", plan.strip(), "```", ""]


def main(names: list[str]) -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    # gated wrappers localCheckpoint their result (the dumped plan would
    # be a bare ExistingRDD scan) — dump the inner pipeline instead; the
    # B19 showcase dumps the pre-checkpoint range stage for the same
    # reason (the scale claim lives in the rangepartitioning exchange)
    from affinity_propagation_mapreduce_spark.operators import ann_index
    from affinity_propagation_mapreduce_spark.operators import relational, vector

    overrides = {
        "knn_cosine_served": ann_index.knn_cosine_served,
        "knn_cosine_pq": vector.knn_cosine_pq,
        "win_ntile_pctrank": relational.ntile_ranked_parts,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dest = os.path.join(root, "EXPLAINS.md")
    if names:
        # splice: each named section runs from its heading to the next
        with open(dest) as fh:
            out = fh.read().split("\n")
        for name, why in SHOWCASE:
            if name not in names:
                continue
            lo = out.index(f"## {name}")
            hi = next(
                (i for i in range(lo + 1, len(out)) if out[i].startswith("## ")),
                len(out),
            )
            out[lo : hi - 1] = _section(spark, qs, overrides, name, why)[:-1]
    else:
        out = [
            "# EXPLAINS — formatted physical plans (generated by tools/dump_plans.py)",
            "",
            f"Scale factor dir: `{SF_DIR}`.  One representative query per family;",
            "the property each plan demonstrates is asserted in tests/test_plans.py",
            "or tests/test_round4.py where marked in PLANS.md.",
            "",
        ]
        for name, why in SHOWCASE:
            out += _section(spark, qs, overrides, name, why)
    with open(dest, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(names) or len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main(sys.argv[1:])
