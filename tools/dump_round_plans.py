"""Dump `.explain("formatted")` for every headline bench query into
plans/r<round>/<query>_<tag>.txt (tag = before/after — the
optimization-round evidence files).

Usage: python tools/dump_round_plans.py <round> before|after [name ...]
       SPARK_GRAFT_SF_DIR overrides the sf dir (default sf0.1, the bench sf).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from affinity_propagation_mapreduce_spark import registry
from affinity_propagation_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def bench_queries():
    """The exact callables bench.py times (incl. its serve-path swaps)."""
    import bench
    from affinity_propagation_mapreduce_spark.operators import ann_index as ann

    qs = dict(registry.queries())
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
    headline = {name: qs[name] for name in bench.HEADLINE}
    # non-headline names (touched non-bench operators) resolve from the
    # full registry so their evidence plans can be dumped too
    headline.update(
        {k: v for k, v in qs.items() if k not in headline}
    )
    return headline


def main() -> None:
    rnd, tag = int(sys.argv[1]), sys.argv[2]
    assert tag in ("before", "after"), "tag must be before|after"
    import bench
    names = sys.argv[3:] or list(bench.HEADLINE)
    out_dir = os.path.join(PLANS_DIR, f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump-r{rnd}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in bench_queries().items():
        if names and name not in names:
            continue
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {SF_DIR} ({tag})\n\n{plan}")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
