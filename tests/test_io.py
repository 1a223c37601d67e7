"""Source/sink round-trips (sources/io.py) + partition-pruning layout."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from affinity_propagation_mapreduce_spark.sources import io as eio
from affinity_propagation_mapreduce_spark.sources import table

from .conftest import SF_SMALL


def test_points_csv_roundtrip(spark):
    emb = (
        table(spark, SF_SMALL, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .limit(50)
    )
    with tempfile.TemporaryDirectory() as d:
        eio.write_points_csv(emb, f"{d}/pts")
        back = eio.read_points_csv(spark, f"{d}/pts", dims=64)
        want = {(r.vec_id, tuple(r.embedding)) for r in emb.collect()}
        got = {(r.vec_id, tuple(r.embedding)) for r in back.collect()}
        assert got == want


def test_jsonl_roundtrip(spark):
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "lang", "n_chars")
    with tempfile.TemporaryDirectory() as d:
        eio.write_jsonl(docs, f"{d}/docs")
        back = eio.read_jsonl(
            spark, f"{d}/docs", "doc_id LONG, lang STRING, n_chars LONG"
        )
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, docs.collect())
        )


def test_partitioned_parquet_prunes(spark):
    docs = table(spark, SF_SMALL, "documents")
    with tempfile.TemporaryDirectory() as d:
        eio.write_partitioned_parquet(
            docs, f"{d}/bylang", partition_by=["lang"], sort_within=["doc_id"]
        )
        back = spark.read.parquet(f"{d}/bylang")
        sub = back.where(F.col("lang") == "en")
        plan = sub._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan, not a post-filter
        assert "PartitionFilters: [isnotnull(lang" in plan, plan
        want = docs.where(F.col("lang") == "en").count()
        assert sub.count() == want


def test_labels_export(spark):
    from affinity_propagation_mapreduce_spark.operators import ap

    # T=1 yields an empty exemplar set on this data (messages still near
    # zero) and hence an empty labeling — use T=3 like entry()
    labels = ap.cluster(spark, SF_SMALL, iterations=3)
    with tempfile.TemporaryDirectory() as d:
        eio.write_labels(labels, f"{d}/labels")
        back = spark.read.option("header", True).csv(
            f"{d}/labels", inferSchema=True
        )
        assert back.count() == 500
        assert set(back.columns) == {"vec_id", "exemplar"}


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed on the same key/count must sort-merge join with
    ZERO Exchange — the co-located-join layout for 100 TB fact⋈fact."""
    orders = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    with tempfile.TemporaryDirectory() as d:
        eio.write_bucketed_table(orders, "b_orders", f"{d}/o", "o_orderkey", 8)
        eio.write_bucketed_table(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem",
            f"{d}/l",
            "o_orderkey",
            8,
        )
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bo.join(bl, "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            want = orders.join(
                lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
            ).count()
            assert joined.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_aggregate_matches_plain(spark):
    from affinity_propagation_mapreduce_spark.functions import salted_aggregate

    li = table(spark, SF_SMALL, "lineitem")
    got = salted_aggregate(
        li,
        "l_returnflag",
        {"qty": "sum:l_quantity", "n": "count:*", "mx": "max:l_extendedprice"},
        salt_by=["l_orderkey", "l_linenumber"],
        n_salts=8,
    )
    want = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.count("*").alias("n"),
        F.max("l_extendedprice").alias("mx"),
    )
    a = {(r.l_returnflag, float(r.qty), r.n, float(r.mx)) for r in got.collect()}
    b = {(r.l_returnflag, float(r.qty), r.n, float(r.mx)) for r in want.collect()}
    assert a == b


def test_salted_join_matches_plain(spark):
    from affinity_propagation_mapreduce_spark.functions import salted_join

    orders = table(spark, SF_SMALL, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    got = salted_join(
        orders, cust, "o_custkey", salt_by=["o_totalprice"], n_salts=4
    )
    want = orders.join(cust, "o_custkey")
    assert got.count() == want.count()
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in want.collect()}
    assert a == b


def test_orc_roundtrip_and_pushdown(spark):
    """ORC sink/source must round-trip exactly AND keep predicate
    pushdown + column pruning at the reader (the scan properties that
    make a 100 TB ORC corpus scannable)."""
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"
    )
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/li_orc"
        eio.write_orc(li, path, sort_within=["l_shipdate"])
        back = eio.read_orc(spark, path)
        assert back.count() == li.count()
        q = back.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThan(l_quantity" in plan  # pushed to the ORC reader
        read = plan.split("ReadSchema")[1][:200]
        assert "l_returnflag" not in read  # pruned
        got = q.count()
        want = li.filter(F.col("l_quantity") > 40).count()
        assert got == want


def test_range_partitioned_files_are_disjoint(spark):
    """write_range_partitioned must produce files whose sort-key spans
    do not overlap — the property that makes file-level min/max pruning
    effective for range predicates."""
    li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/li_range"
        eio.write_range_partitioned(li, path, "l_orderkey", n_files=8)
        back = spark.read.parquet(path)
        assert back.count() == li.count()
        spans = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
            .collect()
        )
        spans = sorted((r.lo, r.hi) for r in spans)
        assert len(spans) > 1
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev <= lo_next, "file key spans overlap"


def test_compact_small_files_reduces_files_preserves_rows(spark):
    import os
    import tempfile

    from affinity_propagation_mapreduce_spark.sources import io as eio
    from affinity_propagation_mapreduce_spark.sources import table

    ev = table(spark, SF_SMALL, "events")
    with tempfile.TemporaryDirectory() as d:
        frag = f"{d}/frag"
        ev.repartition(32).write.parquet(frag)
        stats = eio.compact_small_files(spark, frag, f"{d}/out")
        assert stats["files_before"] == 32
        assert stats["files_after"] < stats["files_before"]
        assert spark.read.parquet(f"{d}/out").count() == ev.count()


def test_layout_compaction_gate_raises_on_row_drift(spark, monkeypatch):
    """The self-check must be live: losing rows in the compacted layout
    turns the query into a raise, not a silently different hash."""
    import os
    import shutil

    import pytest as _pytest

    from affinity_propagation_mapreduce_spark.operators import events as E
    from affinity_propagation_mapreduce_spark.sources import io as eio

    def lossy(spark_, path, out_path, target_bytes=128 * 1024 * 1024):
        df = spark_.read.parquet(path)
        df.limit(df.count() - 7).repartition(1).write.mode(
            "overwrite"
        ).parquet(out_path)
        return {}

    monkeypatch.setattr(eio, "compact_small_files", lossy)
    app = spark.sparkContext.applicationId
    safe = SF_SMALL.strip("/").replace("/", "_")
    base = f"/tmp/spark_graft_{app}/{safe}"
    compacted = f"{base}/events_compacted"
    # force the (lossy) compaction to actually run, and clean the
    # poisoned layout up afterwards so later green calls rewrite it
    shutil.rmtree(compacted, ignore_errors=True)
    try:
        with _pytest.raises(AssertionError, match="compaction round-trip"):
            E.q_layout_compaction(spark, SF_SMALL).count()
    finally:
        shutil.rmtree(compacted, ignore_errors=True)


def test_clustered_manifest_scan_skips_files(spark, tmp_path):
    """r14 file-skipping: a selective key predicate over a clustered
    layout must read ONLY the manifest-overlapping files, and the
    pruned scan must return exactly the rows the unpruned filter
    returns (the manifest is a performance structure, never a
    semantics one)."""
    from affinity_propagation_mapreduce_spark.sources.io import (
        scan_clustered,
        write_clustered_table,
    )
    from affinity_propagation_mapreduce_spark.sources import table

    li = table(spark, SF_SMALL, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_quantity"
    )
    path = str(tmp_path / "clustered")
    res = write_clustered_table(li, path, "l_shipdate", n_files=8)
    assert res["n_files"] == 8
    lo, hi = "1996-01-01 00:00:00", "1996-06-30 00:00:00"
    df, stats = scan_clustered(spark, path, lower=lo, upper=hi)
    assert stats["files_kept"] < stats["files_total"] == 8
    assert len(df.inputFiles()) <= stats["files_kept"]
    expect = li.where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi)
    )
    assert df.count() == expect.count() > 0
    # the manifest bound is an upper bound on the kept rows
    assert df.count() <= stats["rows_kept_bound"]
    # an out-of-range band prunes everything and still answers
    empty, st0 = scan_clustered(
        spark, path, lower="2030-01-01 00:00:00", upper="2031-01-01 00:00:00"
    )
    assert st0["files_kept"] == 0 and empty.count() == 0


def test_zordered_scan_prunes_on_every_dimension(spark, tmp_path):
    """r14 z-order: the Morton layout must prune files for a predicate
    on EITHER clustered column, and the pruned scan must return exactly
    the rows the raw filter returns."""
    from affinity_propagation_mapreduce_spark.sources.io import (
        scan_zordered,
        write_zordered_table,
    )

    li = table(spark, SF_SMALL, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_orderkey"
    )
    path = str(tmp_path / "zordered")
    res = write_zordered_table(
        li, path, ["l_shipdate", "l_extendedprice"], n_files=8
    )
    assert res["n_files"] == 8
    date_rng = ("1996-01-01 00:00:00", "1996-12-31 00:00:00")
    price_rng = (1000.0, 20000.0)
    for ranges in (
        {"l_shipdate": date_rng},
        {"l_extendedprice": price_rng},
        {"l_shipdate": date_rng, "l_extendedprice": price_rng},
    ):
        df, stats = scan_zordered(spark, path, ranges)
        assert stats["files_kept"] < stats["files_total"] == 8, ranges
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            cond = cond & (F.col(c) >= lo) & (F.col(c) <= hi)
        assert df.count() == li.where(cond).count() > 0
    # disjoint box prunes everything
    empty, st0 = scan_zordered(
        spark, path, {"l_extendedprice": (1e12, 2e12)}
    )
    assert st0["files_kept"] == 0 and empty.count() == 0
    # unknown column is an error, not a silent no-op
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not z-ordered"):
        scan_zordered(spark, path, {"l_quantity": (0, 1)})


def test_bloom_point_lookup_prunes_files(spark, tmp_path):
    """r14 Bloom skipping: a point lookup on a high-cardinality
    non-clustered key prunes to the file(s) actually containing it,
    while the range manifest alone would keep everything."""
    import pytest as _pytest

    from affinity_propagation_mapreduce_spark.sources.io import (
        scan_clustered_point,
        write_clustered_table_with_blooms,
    )

    li = table(spark, SF_SMALL, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_quantity"
    )
    path = str(tmp_path / "bloomed")
    res = write_clustered_table_with_blooms(
        li, path, "l_shipdate", bloom_for=["l_orderkey"], n_files=8
    )
    assert res["n_files"] == 8 and res["bloom_for"] == ["l_orderkey"]
    keys = [r.l_orderkey for r in li.select("l_orderkey").distinct().limit(5).collect()]
    for k in keys:
        df, stats = scan_clustered_point(spark, path, "l_orderkey", k)
        assert stats["files_kept"] < stats["files_total"] == 8, (k, stats)
        assert df.count() == li.where(F.col("l_orderkey") == k).count() > 0
    # a key that cannot exist prunes (near-)everything and returns zero
    df0, st0 = scan_clustered_point(spark, path, "l_orderkey", -12345)
    assert st0["files_kept"] <= 1 and df0.count() == 0  # FP tolerance
    with _pytest.raises(ValueError, match="no bloom"):
        scan_clustered_point(spark, path, "l_quantity", 1)


def test_parquet_listers_skip_uncommitted_files(spark, tmp_path):
    """A stray `_temporary/` attempt file and a hidden `.`-file hold rows
    Spark never reads: the footer count and the driver-side embeddings
    load must see only the committed part files, like spark.read."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from affinity_propagation_mapreduce_spark.operators.ap_dense import (
        _load_embeddings_arrow,
    )
    from affinity_propagation_mapreduce_spark.sources.tables import table_rows

    def part(path, ids):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [[float(i), 1.0] for i in ids], pa.list_(pa.float32())
                    ),
                    "label": pa.array([0] * len(ids), pa.int32()),
                }
            ),
            path,
        )

    root = tmp_path / "embeddings.parquet"
    part(str(root / "part-00000.parquet"), [3, 1, 2])
    part(str(root / "_temporary" / "0" / "part-00000.parquet"), [7, 8])
    part(str(root / ".part-00001.parquet"), [9])
    assert table_rows(str(tmp_path), "embeddings") == 3
    assert table_rows(str(tmp_path), "embeddings") == (
        spark.read.parquet(str(root)).count()
    )
    ids, mat = _load_embeddings_arrow(str(tmp_path))
    assert ids.tolist() == [1, 2, 3]
    assert np.array_equal(mat[:, 0], [1.0, 2.0, 3.0])
