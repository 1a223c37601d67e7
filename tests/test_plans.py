"""Physical-plan regression tests: the scale properties documented in
PLANS.md are asserted here so a refactor can't silently lose pushdown,
pruning, broadcast strategy, or rank-limit pushdown."""

from __future__ import annotations

from affinity_propagation_mapreduce_spark import registry

from .conftest import SF_T2


def _plan(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF_T2)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "scan_project_filter")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual" in plan
    # projection reaches the reader: untouched wide columns absent
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "join_broadcast_star")
    assert plan.count("BroadcastHashJoin") >= 2  # nation+region at minimum
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed into its scan


def test_pricing_summary_partial_aggregates(spark):
    plan = _plan(spark, "pricing_summary")
    # partial (map-side) + final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2


def test_asof_join_partial_aggregation(spark):
    plan = _plan(spark, "join_asof")
    # max_by partial-aggregates map-side: one candidate per event per
    # mapper crosses the exchange (r9; replaced the row_number window
    # whose WindowGroupLimit pushdown this test previously pinned).
    # Struct-buffered max_by plans as SortAggregate, so pin the partial
    # marker itself rather than the aggregate flavor.
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_sparse_ap_candidates_sub_n2(spark):
    """The sparse-AP candidate generator must be genuinely sub-N²: no
    all-pairs join shape in the plan, and the materialized candidate set
    must be a small fraction of the N(N-1) dense pair count."""
    from affinity_propagation_mapreduce_spark.operators import ap
    from affinity_propagation_mapreduce_spark.sources import table

    cand = ap.ivf_candidate_pairs(spark, SF_T2)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n = table(spark, SF_T2, "embeddings").count()
    half_dense = n * (n - 1) / 2
    assert cand.count() <= 0.5 * half_dense, "candidate set is ~dense"


def test_simhash_candidates_keyed_join(spark):
    """SimHash candidate generation must be the half-fingerprint
    equi-join, never an all-pairs nested loop."""
    plan = _plan(spark, "dedup_simhash")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_verify_broadcast_gate(spark):
    """The minhash verify stage broadcasts the shingle-set dimension only
    under the size gate; above it the join must degrade to a keyed
    shuffle (an unconditional broadcast OOMs at corpus scale)."""
    from affinity_propagation_mapreduce_spark.operators import textops

    def plan_of(broadcast_verify):
        df = textops.q_dedup_near_minhash(
            spark, SF_T2, broadcast_verify=broadcast_verify
        )
        return df._jdf.queryExecution().executedPlan().toString()

    # disable auto-broadcast so the plans show the GATE's decision, not
    # Catalyst's size estimate (at test sf everything is broadcast-sized)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        on = plan_of(True)
        assert "BroadcastNestedLoopJoin" not in on
        off = plan_of(False)
        # the shingle-set dimension joins must not broadcast when gated
        assert off.count("BroadcastHashJoin") < on.count("BroadcastHashJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ap_pass_state_never_sorted(spark):
    """The agg+broadcast AP formulation must never globally sort or
    shuffle the O(N^2) state.  The one permitted Sort is the top-2
    selector's: a 2-column (i, asv) projection sorted under a
    WindowGroupLimit whose partial mode caps the exchange at <= 2 rows
    per (i, input partition) — map-side CPU, O(N) network.  Any Sort
    over the full 5-column state, or a SortMergeJoin, means the
    formulation regressed to shuffling the matrix."""
    from affinity_propagation_mapreduce_spark.operators import ap

    state = ap.init_state(ap.cached_smat(spark, SF_T2))
    one_iter = ap.availability_pass(ap.responsibility_pass(state))
    plan = one_iter._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "state join became a shuffle join"
    assert "WindowGroupLimit" in plan and "Partial" in plan
    for line in plan.splitlines():
        if "Sort [" in line:
            keys = line.split("Sort [", 1)[1]
            assert "asv" in keys, f"sort beyond the top-2 selector: {line}"


def test_sampling_ops_are_map_side(spark):
    """sample_hash / split assignment must stay narrow: the md5-bucket
    predicate is a pure projection+filter over the scan — no Exchange
    before the (tiny) final aggregate, and the text column is pruned."""
    plan = _plan(spark, "sample_hash")
    assert "Exchange" not in plan, "deterministic sample introduced a shuffle"
    read = plan.split("ReadSchema")[1][:400]
    assert "text" not in read, "sample reads the wide text column"

    plan = _plan(spark, "split_train_val_test")
    # split label is map-side; only the 3-row aggregate shuffles
    assert plan.count("Exchange") <= 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_pack_sharded_window_is_partitioned(spark):
    """The sharded packing twin must not run a global single-partition
    sort: its window carries a partition spec, so the Exchange ahead of
    the Sort is a hashpartitioning, not SinglePartition."""
    plan = _plan(spark, "pack_sequences_sharded")
    assert "SinglePartition" not in plan, "sharded packing sorts globally"
    assert "hashpartitioning(shard" in plan
    # the global (oracle-scale) formulation IS single-partition — the twin
    # exists precisely to shed that
    assert "SinglePartition" in _plan(spark, "pack_sequences")


def test_doc_chunk_is_shuffle_free(spark):
    plan = _plan(spark, "doc_chunk")
    assert "Exchange" not in plan  # pure generate-and-explode, no shuffle
    assert "Generate explode" in plan


def test_span_dedup_no_cartesian(spark):
    plan = _plan(spark, "span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # document frequency joins back on the span key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_lm_unigram_vocab_joins_broadcast(spark):
    plan = _plan(spark, "lm_unigram_score")
    # the (tiny) unigram table and the 1-row total reach the doc-token
    # side as broadcasts, never a shuffled join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_event_sequence_ops_single_user_shuffle(spark):
    # lag/island windows partition by user_id: exactly one hash
    # repartitioning by the user key feeds all window work
    for name in ("event_transitions", "scd2_user_tiers"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "hashpartitioning(user_id" in plan


def test_bm25_topk_plan_is_topn_not_global_sort(spark):
    plan = _plan(spark, "bm25_topk")
    # the final ranking is a streaming top-N, not a materialized global sort
    assert "TakeOrderedAndProject" in plan
    # df/stats sides reach the postings as broadcasts, never a shuffled join
    assert "SortMergeJoin" not in plan


def test_dedup_incremental_broadcast_probe_no_self_join(spark):
    plan = _plan(spark, "dedup_incremental")
    # the new-batch side (band buckets + shingle sets) probes the index
    # via broadcast joins; the index is never self-joined or sort-merged
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_change_compaction_rank_pushdown(spark):
    """The CDC latest-change window must carry WindowGroupLimit (top-1
    per key partial before the exchange — shuffle volume is 1 row/key/
    mapper, not the whole change feed), and the snapshot must never be
    re-aggregated (values pass through per-row)."""
    plan = _plan(spark, "merge_upsert")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_bucketed_plan_is_shuffle_free_smj(spark):
    """The co-located join must sort-merge with ZERO Exchange before the
    aggregate (the in-query gate raises otherwise; this pins the plan
    from the test suite too).  The only exchange in the whole query is
    the one the 5-group rollup needs."""
    plan = _plan(spark, "join_bucketed")
    join_part = plan.split("HashAggregate")[-1]  # below the aggregates
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part


def test_filtered_serve_pre_mode_semijoins_the_scan(spark):
    """Filtered ANN pre-mode (r13): the qualifying-id filter must land
    on the CODES SCAN as a semi-join BELOW the shortlist truncation —
    a post-hoc filter of an unfiltered shortlist would not be the exact
    top-k over qualifying survivors.  Post-mode must instead rewindow
    an unfiltered overfetch through one final semi-join."""
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.operators import ann_index as ai
    from affinity_propagation_mapreduce_spark.operators.vector import (
        FILTER_LABEL_MOD,
    )
    from affinity_propagation_mapreduce_spark.sources import table

    path = ai.build_ann_index(spark, SF_T2)
    qids, qmat, qnrm = ai._query_rows(spark, SF_T2)
    fids = (
        table(spark, SF_T2, "embeddings")
        .where(F.col("label") % FILTER_LABEL_MOD == 0)
        .select("vec_id")
    )
    norms = ai._norms(spark, SF_T2)
    pre, used = ai.serve_topk_filtered(
        spark, path, qids, qmat, qnrm, fids, mode="pre", norms_df=norms
    )
    assert used == "pre"
    plan = pre._jdf.queryExecution().executedPlan().toString()
    # the semi-join sits below the python ADC kernel (scan side), so it
    # appears between the parquet scan and the MapInArrow stage
    scan_side = plan.split("MapInArrow")[-1]
    assert "LeftSemi" in scan_side, plan
    post, used = ai.serve_topk_filtered(
        spark, path, qids, qmat, qnrm, fids, mode="post", norms_df=norms
    )
    assert used == "post"
    plan_post = post._jdf.queryExecution().executedPlan().toString()
    # post-mode: the final rewindow filters via one semi-join ABOVE the
    # rerank window; the codes scan below the kernel stays unfiltered
    above_kernel = plan_post.split("MapInArrow")[0]
    assert "LeftSemi" in above_kernel, plan_post
    assert "LeftSemi" not in plan_post.split("MapInArrow")[-1], plan_post


def test_filtered_serve_expr_pushes_predicate_into_codes_scan(
    spark, tmp_path
):
    """r14 (r13 verdict "missing" #2): on a meta_cols layout the
    filter_expr path must evaluate the predicate SCAN-SIDE as a pushed
    parquet filter — no qualifying-id relation is produced or
    semi-joined below the kernel.  Post-mode must broadcast the tiny
    overfetched result against the qualifying metadata scan, never
    shuffle the qualifying ids."""
    from affinity_propagation_mapreduce_spark.operators import ann_index as ai
    from affinity_propagation_mapreduce_spark.sources import table

    path = str(tmp_path / "layout")
    ai.build_ann_index(
        spark, SF_T2, path=path,
        emb_raw=table(spark, SF_T2, "embeddings"),
        store_raw=True, meta_cols=("label",),
    )
    qids, qmat, qnrm = ai._query_rows(spark, SF_T2)
    pre, used = ai.serve_topk_filtered(
        spark, path, qids, qmat, qnrm, filter_expr="label = 0", mode="pre"
    )
    assert used == "pre"
    plan = pre._jdf.queryExecution().executedPlan().toString()
    scan_side = plan.split("MapInArrow")[-1]
    assert "EqualTo(label,0)" in scan_side, plan
    assert "LeftSemi" not in scan_side, plan
    post, used = ai.serve_topk_filtered(
        spark, path, qids, qmat, qnrm, filter_expr="label = 0", mode="post"
    )
    assert used == "post"
    plan_post = post._jdf.queryExecution().executedPlan().toString()
    above_kernel = plan_post.split("MapInArrow")[0]
    assert "EqualTo(label,0)" in above_kernel, plan_post
    assert "BroadcastHashJoin" in above_kernel, plan_post
    # the codes scan below the kernel stays unfiltered in post-mode
    assert "EqualTo(label,0)" not in plan_post.split("MapInArrow")[-1]


def test_lakehouse_pruned_scan_still_pushes_predicate(spark):
    """Manifest pruning is ABOVE the reader; the semantic guard must
    still reach it — the kept files' parquet scan shows PushedFilters
    on the cluster key (row-group pruning below the file level), and
    the reader's file list stays within the manifest's."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.sources import lakehouse as lh

    base = f"/tmp/spark_graft_tests/plans_lh_{uuid.uuid4().hex[:8]}"
    li = spark.read.parquet(f"{SF_T2}/lineitem.parquet").select(
        "l_shipdate", "l_orderkey", "l_quantity"
    )
    lh.create_table(li, base, "l_shipdate", n_files=6)
    df, st = lh.read_table(
        spark, base,
        lower="1995-07-01 00:00:00", upper="1995-12-31 00:00:00",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200]
    assert st["files_kept"] < st["files_total"]
    assert len(df.inputFiles()) <= st["files_kept"]
    shutil.rmtree(base)
