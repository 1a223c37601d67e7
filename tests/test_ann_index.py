"""Persisted ANN index (operators/ann_index.py): build/serve split.

The serving claim is structural — search must not retrain or re-encode —
so these tests pin (a) layout integrity and idempotent builds, (b) the
serving result's quality vs the exact reference, (c) that the flat-PQ
and IVF serving paths share one persisted artifact, and (d) that the
probed scan actually prunes partitions (the physical IVF claim)."""

from __future__ import annotations

import hashlib
import itertools
import os

import numpy as np
import pytest

from affinity_propagation_mapreduce_spark.operators import ann_index as ai
from affinity_propagation_mapreduce_spark.operators.vector import (
    N_QUERIES,
    TOP_K,
    q_knn_cosine_topk,
)
from affinity_propagation_mapreduce_spark.sources.tables import parquet_data_files

from .conftest import SF_SMALL, SF_T2, SF_T3


def _recall(exact_rows, approx_rows) -> float:
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    return len(exact & approx) / len(exact)


def test_build_idempotent_and_complete(spark):
    p1 = ai.build_ann_index(spark, SF_SMALL)
    p2 = ai.build_ann_index(spark, SF_SMALL)
    assert p1 == p2
    for part in ("_SUCCESS", "meta.json",
                 "centroids.parquet", "codebooks.parquet"):
        assert os.path.exists(os.path.join(p1, part)), part
    # the codes tree resolves through the generation pointer (v3)
    assert os.path.isdir(ai.codes_root(p1))


def test_index_path_is_content_addressed():
    assert ai.ann_index_path(SF_SMALL) != ai.ann_index_path(SF_T2)


def test_index_stats_gate_green(spark):
    row = ai.q_ann_index_stats(spark, SF_SMALL).first()
    assert row.n_vectors == 500
    assert row.bytes_per_vector == row.pq_m + 8
    assert 0 < row.n_cells_used <= row.nlist


def test_served_schema_and_recall(spark):
    res = ai.q_knn_cosine_served(spark, SF_SMALL)
    assert res.columns == ["query_id", "neighbor_id", "cosine", "rn"]
    rows = res.collect()
    assert len(rows) == N_QUERIES * TOP_K
    exact = q_knn_cosine_topk(spark, SF_SMALL).collect()
    # in-query floor is 0.3 (structural); the measured value on this
    # corpus should be comfortably above it
    assert _recall(exact, rows) >= 0.5


def test_flat_pq_shares_artifact_and_beats_floor(spark):
    path = ai.build_ann_index(spark, SF_SMALL)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    nlist = ai._read_meta(path)["nlist"]
    shortlist = ai.search_ann_index(spark, path, qids, qmat, qnrm, n_probe=nlist)
    res = ai._exact_rerank(
        spark, ai._norms(spark, SF_SMALL), shortlist, qids, qmat, qnrm
    ).collect()
    exact = q_knn_cosine_topk(spark, SF_SMALL).collect()
    # flat scan prunes nothing, so its recall dominates the IVF path's
    assert _recall(exact, res) >= 0.5
    assert len(res) == N_QUERIES * TOP_K


def test_served_scan_is_partition_pruned(spark):
    """The physical IVF claim: the serving scan must carry the probed
    cells as PartitionFilters — unprobed cell directories are never
    read.  Asserted on the plan of the pruned codes scan itself."""
    path = ai.build_ann_index(spark, SF_T2)
    qids, qmat, qnrm = ai._query_rows(spark, SF_T2)
    meta, cent_mat, _books = ai.load_ann_model(spark, path)
    cell_to_q = ai._probe_map(cent_mat, qmat, ai.IVFPQ_QUERY_PROBE)
    from pyspark.sql import functions as F

    codes = spark.read.parquet(ai.codes_root(path)).where(
        F.col("cell").isin([int(c) for c in cell_to_q])
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # probing 10 queries x 8 cells can touch at most 80 distinct cells
    n_cells = codes.select("cell").distinct().count()
    assert n_cells <= min(len(cell_to_q), meta["nlist"])
    assert len(cell_to_q) <= N_QUERIES * ai.IVFPQ_QUERY_PROBE


def test_batch_scan_cell_filter_prunes_cell_dirs(spark):
    """``_batch_scan``'s one-expression ``cell IN (…)`` filter is an
    INSET partition filter of the executed scan, which reads exactly
    the probed cells' dirs."""
    path = ai.build_ann_index(spark, SF_T2)
    qids, qmat, qnrm = ai._query_rows(spark, SF_T2)
    meta, cent_mat, _books = ai.load_ann_model(spark, path)
    cell_to_q = ai._probe_map(cent_mat, qmat, ai.IVFPQ_QUERY_PROBE)
    croot = ai._codes_root_gen(path, ai._gen_of(meta))
    codes = ai._batch_scan(spark, croot, cell_to_q)
    rows = codes.select("cell").collect()
    scan = codes._jdf.queryExecution().executedPlan().collectLeaves().head()
    assert "PartitionFilters: [cell#" in scan.toString()
    assert " INSET " in scan.toString().split("PartitionFilters")[1]
    occupied = {
        int(n.split("=", 1)[1])
        for b in os.listdir(croot) if b.startswith("batch=")
        for n in os.listdir(os.path.join(croot, b)) if n.startswith("cell=")
    }
    probed = occupied & set(cell_to_q)
    assert 0 < len(probed) < len(occupied)
    assert scan.selectedPartitions().partitionCount() == len(probed)
    assert {r.cell for r in rows} == probed
    assert ai._batch_scan(spark, croot, {}) is None


def test_incremental_append_roundtrip(spark):
    """Build-on-base + append-delta must hold every corpus vector
    exactly once, be idempotent per batch tag, and clear the recall
    floor — all enforced inside the declared query (raises otherwise)."""
    row = ai.q_ann_index_incremental(spark, SF_SMALL).first()
    assert row.n_base + row.n_delta == 500
    assert row.n_delta > 0
    # r10: the gate also runs the deletion round trip (tombstone + fold
    # + one re-insert-after-delete, hence the +1)
    assert row.n_live == 500 - row.n_deleted + 1 and row.n_deleted > 0
    # run it twice: second pass must hit the idempotence path cleanly
    row2 = ai.q_ann_index_incremental(spark, SF_SMALL).first()
    assert row2 == row


def test_append_rejects_duplicate_batch_tag(spark):
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.sources import table

    path = ai.build_ann_index(spark, SF_SMALL)
    delta = table(spark, SF_SMALL, "embeddings").where(F.col("vec_id") < 0)
    # empty frame: applying any tag twice must return 0 the second time
    assert ai.append_ann_index(spark, path, delta, "t-empty") == 0
    assert ai.append_ann_index(spark, path, delta, "t-empty") == 0


def test_compaction_folds_batches_and_keeps_ledger(spark):
    """After compaction the per-batch dirs are gone, rows survive
    exactly, and the replayed batch stays a no-op via the meta ledger."""
    import json

    row = ai.q_ann_index_incremental(spark, SF_SMALL).first()  # built+appended+deleted
    path = ai.ann_index_path(SF_SMALL) + "-incr"
    gen = ai._gen_of(ai._read_meta(path))
    comp = ai.compact_ann_index(spark, path)
    assert comp["rows"] == row.n_live  # the r10 gate already folded its takedown slice
    assert comp["rows_tombstoned"] == 0
    batch_dirs = [
        n for n in os.listdir(ai.codes_root(path)) if n.startswith("batch=")
    ]
    assert batch_dirs == [f"batch=fold-g{gen + 1}"]
    with open(os.path.join(path, "meta.json")) as fh:
        assert "delta-bucket-0" in json.load(fh)["batches"]


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """A 500-row layout after build → append → delete: two batch dirs
    and pending tombstones spread over several cells.  Tests copy it."""
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.sources import table

    raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    delta = raw.where(F.col("vec_id") % 10 == 0)
    dead = raw.where(F.col("vec_id") % 7 == 2).select("vec_id")
    path = str(tmp_path_factory.mktemp("churned") / "layout")
    ai.build_ann_index(
        spark, SF_SMALL, path=path, emb_raw=raw.where(F.col("vec_id") % 10 != 0)
    )
    ai.append_ann_index(spark, path, delta, "d1")
    ai.delete_ann_index(spark, path, dead, "del-7-2")
    return path, delta, dead


def _live_rows(spark, path):
    codes = spark.read.parquet(ai.codes_root(path))
    return sorted(
        (r.vec_id, r.cell, bytes(r.code), r.nrm)
        for r in ai._live_codes(spark, path, codes)
        .select("vec_id", "cell", "code", "nrm")
        .collect()
    )


def _inodes(root, skip_cell):
    return {
        os.path.relpath(f, root): os.stat(f).st_ino
        for f in parquet_data_files(root)
        if f"{os.sep}cell={skip_cell}{os.sep}" not in f
    }


def test_fold_every_cell_and_one_cell(spark, churned, tmp_path):
    """Both selections of the one fold body and the shared meta commit:
    the every-cell fold (no selection) leaves exactly the live set in
    one ``batch=fold-g<G+1>``, no tombstones, merged ledgers and no-op
    replays; a one-cell fold hard-links every other cell's files."""
    import shutil

    src, delta, dead = churned
    path, one = str(tmp_path / "every"), str(tmp_path / "one")
    shutil.copytree(src, path)
    shutil.copytree(src, one)
    live = _live_rows(spark, path)
    assert [r[0] for r in live] == [i for i in range(500) if i % 7 != 2]

    gen = ai._gen_of(ai._read_meta(path))
    res = ai.compact_ann_index(spark, path)
    meta = ai._read_meta(path)
    assert ai._gen_of(meta) == gen + 1
    assert res["garbage_cleared"] and res["rows"] == len(live) == meta["n"]
    assert res["rows_tombstoned"] == sum(1 for i in range(500) if i % 7 == 2)
    assert _live_rows(spark, path) == live
    assert not ai._tombstone_dirs(path)
    assert [
        n for n in os.listdir(ai.codes_root(path)) if n.startswith("batch=")
    ] == [f"batch=fold-g{gen + 1}"]
    assert meta["batches"] == ["d1"] and meta["deletes"] == ["del-7-2"]
    assert meta["delete_cover"] == {}
    assert ai.append_ann_index(spark, path, delta, "d1") == 0
    assert ai.delete_ann_index(spark, path, dead, "del-7-2") == 0

    stats = ai.ann_cell_stats(spark, one)
    target = min(c for c, s in stats.items() if s["dead"] > 0)
    before = _inodes(ai.codes_root(one), target)
    res = ai.compact_ann_index(spark, one, cells=[target])
    assert res["cells_folded"] == 1 and not res["garbage_cleared"]
    assert before and _inodes(ai.codes_root(one), target) == before
    assert _live_rows(spark, one) == live


def test_listers_skip_uncommitted_files(spark, churned, tmp_path):
    """A stray ``_temporary/0/part-*.parquet`` (an uncommitted write
    attempt, which Spark never reads) inside a cell dir and inside a
    tombstone dir must not change the cell stats or tombstone counts."""
    import shutil

    path = str(tmp_path / "layout")
    shutil.copytree(churned[0], path)
    croot, tombs = ai.codes_root(path), ai._tombstone_dirs(path)
    clean_stats = ai.ann_cell_stats(spark, path)
    clean_rows = ai._tombstone_rows(tombs)
    base = os.path.join(croot, "batch=base")
    cell = min(c for c in os.listdir(base) if c.startswith("cell="))
    for d in (os.path.join(base, cell), tombs[0]):
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.makedirs(os.path.join(d, "_temporary", "0"))
        shutil.copy(
            os.path.join(d, part), os.path.join(d, "_temporary", "0", part)
        )
    assert ai.ann_cell_stats(spark, path) == clean_stats
    assert ai._tombstone_rows(tombs) == clean_rows


def test_landed_rows_read_from_footers(spark, churned, tmp_path, monkeypatch):
    """A fold and a migrate count the rows they wrote from the parquet
    footers: each count equals ``spark.read.parquet(out).count()``, and a
    two-batch migrate runs no listing, schema or count job per batch."""
    import shutil

    from affinity_propagation_mapreduce_spark.sources import table

    emb = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    timed = str(tmp_path / "timed")
    shutil.copytree(churned[0], timed)
    res, jobs = _jobs_in_group(
        spark, "ann-migrate",
        lambda: ai.migrate_ann_index(spark, timed, emb_source=emb),
    )
    assert res["rows"] == sum(1 for i in range(500) if i % 7 != 2)
    # 34 with a listing, schema and count job per landed batch
    assert len(jobs) <= 27, f"expected <= 27 jobs, got {len(jobs)}"

    landed = []
    real = ai._landed_rows

    def checked(out):
        want = spark.read.parquet(out).count() if parquet_data_files(out) else 0
        landed.append((real(out), want))
        return landed[-1][0]

    monkeypatch.setattr(ai, "_landed_rows", checked)
    for name, mutate in (
        ("fold", lambda p: ai.compact_ann_index(spark, p)),
        ("migrate", lambda p: ai.migrate_ann_index(spark, p, emb_source=emb)),
    ):
        path = str(tmp_path / name)
        shutil.copytree(churned[0], path)
        mutate(path)
    # one fold batch, then the migrate's two re-encoded batches
    assert len(landed) == 3 and all(n > 0 for n, _ in landed)
    assert [n for n, _ in landed] == [want for _, want in landed]


def test_reap_superseded_indexes(tmp_path):
    """Same-corpus layouts with a different fingerprint are removed;
    the current layout and a flock-held sibling survive."""
    import fcntl

    import time

    parent = tmp_path / "v2"
    parent.mkdir()
    # r10: names must match the layout structure (16-hex fingerprint)
    # and victims must have quiesced past the read grace window
    current = parent / ("corpus-" + "a" * 16)
    stale = parent / ("corpus-" + "b" * 16)
    held = parent / ("corpus-" + "c" * 16)
    other = parent / ("other-" + "d" * 16)
    for d in (current, stale, held, other):
        d.mkdir()
        old = time.time() - ai._REAP_GRACE_SEC - 60
        os.utime(d, (old, old))
    fd = os.open(f"{held}.lock", os.O_CREAT | os.O_WRONLY, 0o644)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        ai._reap_superseded_indexes(str(current))
    finally:
        os.close(fd)
    assert current.is_dir()
    assert not stale.exists()
    assert held.is_dir()  # live writer held the flock
    assert other.is_dir()  # different corpus prefix untouched


def test_direct_path_read_equals_root_scan(spark):
    """The serving scan — the union of the memoized per-batch relations
    (``_batch_scan``), pruned by ``cell IN (probed)`` — must return
    exactly the shortlist the root-scan + partition-filter formulation
    does."""
    from pyspark.sql import functions as F

    path = ai.build_ann_index(spark, SF_T2)
    qids, qmat, qnrm = ai._query_rows(spark, SF_T2)
    direct = ai.search_ann_index(spark, path, qids, qmat, qnrm)
    meta, cent_mat, books = ai.load_ann_model(spark, path)
    shortlist = max(ai.PQ_SHORTLIST, meta["n"] // ai.PQ_SHORTLIST_FRAC)
    # the reference probe map must mirror the serve default (r10: auto)
    cell_to_q = ai._probe_map(cent_mat, qmat, ai.auto_n_probe(meta["nlist"]))
    root = spark.read.parquet(ai.codes_root(path)).where(
        F.col("cell").isin([int(c) for c in cell_to_q])
    )
    ref = ai._adc_scan(
        spark, root, meta, books, qids, qmat, qnrm, shortlist, cell_to_q
    )
    assert direct.exceptAll(ref).count() == 0
    assert ref.exceptAll(direct).count() == 0


def test_probe_map_covers_every_query():
    rng = np.random.default_rng(3)
    cent = rng.normal(size=(16, 4))
    q = rng.normal(size=(7, 4))
    c2q = ai._probe_map(cent, q, 3)
    seen = sorted({p for lst in c2q.values() for p in lst})
    assert seen == list(range(7))
    counts = {}
    for lst in c2q.values():
        for p in lst:
            counts[p] = counts.get(p, 0) + 1
    assert all(v == 3 for v in counts.values())


# --- one-pass raw serve: bitwise pins and job budget ----------------------

RAW_PROBE = 8  # explicit width: IVF mode on the 63-cell SF_SMALL layout


@pytest.fixture(scope="module")
def raw_layout(spark, tmp_path_factory):
    """A store_raw layout of SF_SMALL; tests copy it before mutating."""
    from affinity_propagation_mapreduce_spark.sources import table

    path = str(tmp_path_factory.mktemp("raw") / "layout")
    raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    ai.build_ann_index(spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True)
    return path


def _copy_layout(src, tmp_path):
    import shutil

    dst = str(tmp_path / "layout")
    shutil.copytree(src, dst)
    return dst


def _store(emb_frame):
    """(vec_id, emb, nrm) over an embeddings frame, as ``_norms``."""
    from pyspark.sql import functions as F

    emb = F.col("embedding").cast("array<double>")
    return emb_frame.select(
        "vec_id",
        emb.alias("emb"),
        F.sqrt(ai._fold_sum(F.transform(emb, lambda x: x * x))).alias("nrm"),
    )


def _near_copies(spark, qmat, first_id: int, seed: int):
    """One f4 near-copy of every query, ids from ``first_id``."""
    rng = np.random.default_rng(seed)
    pts = (qmat + 1e-3 * rng.normal(size=qmat.shape)).astype("f4")
    rows = [
        (first_id + i, [float(v) for v in p]) for i, p in enumerate(pts)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _served(df):
    return sorted(
        (r.query_id, r.rn, r.neighbor_id, r.cosine.hex()) for r in df.collect()
    )


_GROUP_IDS = itertools.count()


def _one_pass_serve(spark, path, qids, qmat, qnrm, width=RAW_PROBE, jobs=1):
    """A serve that must run the one-pass shape.  Its result is a
    driver-side relation, so collecting it runs no job.  The serve ran
    ``jobs`` Spark jobs (any number when None), each of one stage, so
    no exchange and no rerank join ran."""
    one, ran = _jobs_in_group(
        spark, f"one-pass-{next(_GROUP_IDS)}",
        lambda: ai.serve_topk(spark, path, qids, qmat, qnrm, n_probe=width),
    )
    assert one._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    st = spark.sparkContext.statusTracker()
    stages = [len(st.getJobInfo(j).stageIds) for j in ran]
    assert stages == [1] * (len(ran) if jobs is None else jobs), stages
    return one


def _assert_one_pass_equals_two_pass(
    spark, path, store, qids, qmat, qnrm, width=RAW_PROBE
):
    # with pending tombstones the job count depends on the scan memo
    # (test_tombstoned_serve_job_budget pins it)
    one = _one_pass_serve(
        spark, path, qids, qmat, qnrm, width,
        jobs=None if ai._tombstone_dirs(path) else 1,
    )
    two = ai.serve_topk(
        spark, path, qids, qmat, qnrm, n_probe=width, norms_df=store
    )
    got, want = _served(one), _served(two)
    assert got == want and len(got) == N_QUERIES * TOP_K
    return got


@pytest.mark.parametrize("mode", ["ivf", "flat"])
def test_raw_serve_equals_two_pass_bitwise(spark, raw_layout, tmp_path, mode):
    """The one-pass raw serve (exact cosine inside the ADC kernel) must
    equal the two-pass serve over the same corpus bitwise on (query_id,
    rn, neighbor_id, cosine): after the build, after an append of
    near-copies (which must be served), and after a delete inside a
    numeric-looking batch tag (deleted ids are never served).  Flat mode
    (every cell probed) is the same serve at width nlist, so it too runs
    one pass and sees the appended batch."""
    from affinity_propagation_mapreduce_spark.sources import table

    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    corpus = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    nlist = ai._read_meta(path)["nlist"]
    width = RAW_PROBE if mode == "ivf" else nlist
    assert ai.choose_search_mode(nlist, width) == mode

    def check(store):
        return _assert_one_pass_equals_two_pass(
            spark, path, store, qids, qmat, qnrm, width
        )

    check(_store(corpus))
    b1 = _near_copies(spark, qmat, 10_000, seed=1)
    assert ai.append_ann_index(spark, path, b1, "b1") == N_QUERIES
    got = check(_store(corpus.unionByName(b1)))
    assert {r[2] for r in got} >= set(range(10_000, 10_000 + N_QUERIES))

    # inferred as a partition value from this batch alone, tag "007"
    # would read back as the integer 7 and its tombstones would miss
    b7 = _near_copies(spark, qmat, 20_000, seed=7)
    assert ai.append_ann_index(spark, path, b7, "007") == N_QUERIES
    dead = list(range(20_000, 20_000 + N_QUERIES, 2))
    ai.delete_ann_index(
        spark, path, spark.createDataFrame([(i,) for i in dead], "vec_id long"),
        "d-007",
    )
    got = check(_store(corpus.unionByName(b1).unionByName(b7)))
    served = {r[2] for r in got}
    assert not served & set(dead)
    assert served & set(range(20_001, 20_000 + N_QUERIES, 2))


def test_selectivity_fallback_counts_an_appended_batch(spark, tmp_path):
    """With the layout's selectivity sample gone, a filtered serve
    estimates selectivity from the live rows of the codes tree.  Rows
    appended since the last serve must count: once qualifying rows are
    the majority, the planner turns from the pre-filter to the
    post-filter plan."""
    import shutil

    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.sources import table

    path = str(tmp_path / "layout")
    raw = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ai.build_ann_index(
        spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True,
        meta_cols=("label",),
    )
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)

    def filtered_serve_mode():
        shutil.rmtree(os.path.join(path, "sample.parquet"))
        return ai.serve_topk_filtered(
            spark, path, qids, qmat, qnrm, filter_expr="label = 0"
        )[1]

    assert filtered_serve_mode() == "pre"
    qualifying = raw.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding",
        F.lit(0).cast(raw.schema["label"].dataType).alias("label"),
    )
    assert ai.append_ann_index(spark, path, qualifying, "q1") == 500
    assert filtered_serve_mode() == "post"


def test_raw_serves_agree_for_a_twice_live_id(
    spark, raw_layout, tmp_path, monkeypatch
):
    """append_ann_index does not dedupe ids, so one vec_id can be live
    in two batch dirs.  The one-pass serve, the raw two-pass serve and
    the two-pass serve over the corpus store then return the same rows:
    one per live copy that survives the shortlist."""
    from affinity_propagation_mapreduce_spark.sources import table

    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    corpus = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    b1 = _near_copies(spark, qmat, 10_000, seed=1)
    assert ai.append_ann_index(spark, path, b1, "b1") == N_QUERIES
    assert ai.append_ann_index(spark, path, b1, "b1-again") == N_QUERIES
    got = _assert_one_pass_equals_two_pass(
        spark, path, _store(corpus.unionByName(b1)), qids, qmat, qnrm
    )
    # each query's near-copy is live twice and served twice
    twice = [r for r in got if r[2] >= 10_000]
    assert len(twice) == 2 * N_QUERIES
    # past the crossing bound the raw layout reranks against its own
    # store, which holds both copies of every near-copy id
    monkeypatch.setattr(ai, "_ONE_PASS_MAX_VALUES", 0)
    raw_two = ai.serve_topk(spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE)
    assert "q_emb" in raw_two._jdf.queryExecution().executedPlan().toString()
    assert _served(raw_two) == got


def test_one_pass_stays_inside_the_measured_crossing(
    spark, raw_layout, monkeypatch
):
    """The one-pass serve runs only while the kernel's estimated vector
    values (scored rows × d) fit _ONE_PASS_MAX_VALUES; one value past
    it, the serve keeps the two passes."""
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    meta, cent_mat, _books = ai.load_ann_model(spark, raw_layout)
    c2q = ai._probe_map(cent_mat, qmat, RAW_PROBE)
    values = sum(len(q) for q in c2q.values()) * meta["n"] * (
        meta["m"] * meta["dsub"]
    ) / meta["nlist"]
    assert values <= ai._ONE_PASS_MAX_VALUES

    def plan(bound):
        monkeypatch.setattr(ai, "_ONE_PASS_MAX_VALUES", bound)
        df = ai.serve_topk(spark, raw_layout, qids, qmat, qnrm, n_probe=RAW_PROBE)
        return df._jdf.queryExecution().executedPlan()

    assert plan(int(values) + 1).nodeName() == "LocalTableScan"
    assert "q_emb" in plan(int(values) - 1).toString()


def test_one_pass_band_counts_the_adc_tasks(spark, raw_layout, monkeypatch):
    """The one-pass serve's driver holds up to one shortlist per query
    from each ADC task: T·|Q|·shortlist rows, T = defaultParallelism.
    At RERANK_BROADCAST_MAX_ROWS = T·|Q|·shortlist the serve runs as
    one job; one row below, it runs the two passes.  Both serve the
    same rows bitwise."""
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    n = ai.load_ann_model(spark, raw_layout)[0]["n"]
    bound = (
        spark.sparkContext.defaultParallelism * len(qids)
        * max(ai.PQ_SHORTLIST, n // ai.PQ_SHORTLIST_FRAC)
    )
    monkeypatch.setattr(ai, "RERANK_BROADCAST_MAX_ROWS", bound)
    one = _served(_one_pass_serve(spark, raw_layout, qids, qmat, qnrm))
    monkeypatch.setattr(ai, "RERANK_BROADCAST_MAX_ROWS", bound - 1)
    two = ai.serve_topk(spark, raw_layout, qids, qmat, qnrm, n_probe=RAW_PROBE)
    assert "q_emb" in two._jdf.queryExecution().executedPlan().toString()
    assert _served(two) == one and len(one) == len(qids) * TOP_K


def _jobs_in_group(spark, group, fn):
    """``fn()``'s result and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _serve_jobs(spark, path, qids, qmat, qnrm, group):
    rows, jobs = _jobs_in_group(
        spark, group,
        lambda: ai.serve_topk(
            spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE
        ).collect(),
    )
    assert len(rows) == len(qids) * TOP_K
    return len(jobs)


def test_warm_raw_serve_job_budget(spark, raw_layout, tmp_path):
    """A warm raw IVF serve runs one job, the ADC tasks' — no listing,
    schema, query-frame, broadcast, second-scan or result job.  So does
    the first serve after an append: the ADC tasks read the new batch's
    planned files with pyarrow, so nothing lists it."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL, n_queries=2 * N_QUERIES)
    first = (qids[:N_QUERIES], qmat[:N_QUERIES], qnrm[:N_QUERIES])
    second = (qids[N_QUERIES:], qmat[N_QUERIES:], qnrm[N_QUERIES:])
    _serve_jobs(spark, path, *first, "raw-serve-cold")
    # a different query set probes a different cell set
    warm = _serve_jobs(spark, path, *second, "raw-serve-warm")
    assert warm <= 1, f"expected <= 1 job, got {warm}"
    b1 = _near_copies(spark, first[1], 10_000, seed=1)
    assert ai.append_ann_index(spark, path, b1, "b1") == N_QUERIES
    after = _serve_jobs(spark, path, *first, "raw-serve-append")
    assert after <= 1, f"expected <= 1 job, got {after}"


def test_batch_scan_relists_a_layout_rebuilt_in_place(
    spark, raw_layout, churned, tmp_path
):
    """A layout removed and rebuilt at the same path in one process must
    not be scanned through the removed layout's memoized listing."""
    import shutil

    path = _copy_layout(raw_layout, tmp_path)
    croot = ai.codes_root(path)
    cells = range(64)  # covers the nlist of both layouts
    assert ai._batch_scan(spark, croot, cells).count() == 500
    shutil.rmtree(path)
    shutil.copytree(churned[0], path)  # base (450 rows) + batch d1 (50)
    assert ai.codes_root(path) == croot
    got = ai._batch_scan(spark, croot, cells).select("vec_id").collect()
    assert sorted(r.vec_id for r in got) == list(range(500))


def test_listing_runs_one_task_per_core(spark):
    """A listing past Spark's 32-path threshold runs one task per core
    (the shuffle partition count), not one task per listed dir."""
    get = spark.conf.get
    assert get("spark.sql.sources.parallelPartitionDiscovery.parallelism") == get(
        "spark.sql.shuffle.partitions"
    )


def _wide_batch(spark, first_id: int, shift: int):
    """A perturbed copy of the whole SF_SMALL corpus, ids from
    ``first_id``: its rows land in most of the layout's cells, so its
    batch dir holds more than 32 cell dirs and is listed by a job."""
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.sources import table

    return table(spark, SF_SMALL, "embeddings").select(
        (F.col("vec_id") + first_id).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x + cast(((vec_id + i + "
            f"{shift}) % 5 - 2) as float) * 0.01 as float))"
        ).alias("embedding"),
    )


def _md5_served(rows) -> str:
    key = sorted((r.query_id, r.neighbor_id, r.cosine.hex(), r.rn) for r in rows)
    return hashlib.md5(repr(key).encode()).hexdigest()


def _stage_tasks(spark, jobs):
    """(name, task count) of every stage the jobs ran."""
    st = spark.sparkContext.statusTracker()
    infos = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
    return [(i.name, i.numTasks) for i in infos if i is not None]


# md5 of the served (query_id, neighbor_id, cosine.hex(), rn) at 1, 2 and
# 3 batch dirs, recorded before the ADC scan was coalesced to one wave:
# as served, and with the emission cap engaged below the shortlist; and
# of the sorted (query_id, neighbor_id) shortlist with that cap, recorded
# from search_ann_index then, when each scan partition held one batch dir
WIDE_SERVE_PINS = {
    1: "141d804516885e53db9c1e411008ca6b",
    "1-capped": "10baa1ba0f69f1282aaa6dd438b3da6d",
    "1-shortlist": "622541a1d44d4d5250f0f7fcd9fc8436",
    2: "1273a8a2583c77ff045cc216e7f8e88b",
    "2-capped": "fd64649d89a077e57324c9ca95959039",
    "2-shortlist": "8339669091f271731aa710d9f5eef743",
    3: "702e1b80e4ed8c442ea60a48c1774603",
    "3-capped": "702e1b80e4ed8c442ea60a48c1774603",
    "3-shortlist": "aee2f29b7ba4f625d15efd2ad316e17c",
}


def test_wide_batch_serves_run_one_wave(spark, raw_layout, tmp_path, monkeypatch):
    """Serves over batch dirs of more than 32 cell dirs each run every
    layer in one wave of tasks.  Every serve, the first after an append
    included, runs at most one job of one stage, the ADC tasks', and no
    Spark parquet read (no listing or schema job).  With 3 batch
    dirs, whose union splits into more partitions than cores, the ADC
    stage still runs at most one task per core.  The served rows
    equal the pins at every batch-dir count, also with the emission cap
    engaged and below the shortlist (both patched down, so that the cap
    truncates cells of this corpus).  With that cap, the ADC scan over
    ONE partition — every probed cell's rows from every batch dir in one
    Arrow batch — keeps the shortlist of per-batch-dir truncation."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    dp = spark.sparkContext.defaultParallelism

    def serve():
        return ai.serve_topk(spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE)

    got = {}
    for n_dirs in (1, 2, 3):
        if n_dirs > 1:
            tag = f"w{n_dirs}"
            wide = _wide_batch(spark, 10_000 * n_dirs, n_dirs)
            assert ai.append_ann_index(spark, path, wide, tag) == 500
            bdir = os.path.join(ai.codes_root(path), f"batch={tag}")
            assert sum(n.startswith("cell=") for n in os.listdir(bdir)) > 32
        rows, jobs = _jobs_in_group(
            spark, f"wide-serve-{n_dirs}", lambda: serve().collect()
        )
        assert len(rows) == len(qids) * TOP_K
        got[n_dirs] = _md5_served(rows)
        stages = _stage_tasks(spark, jobs)
        assert max(t for _n, t in stages) <= dp, stages
        assert len(jobs) <= 1 and len(stages) == 1, stages
        # a listing or schema job reads at the parquet call site
        assert not [n for n, _t in stages if n.startswith("parquet at")], stages
        meta, cent, books = ai.load_ann_model(spark, path)
        cells = ai._probe_map(cent, qmat, RAW_PROBE)
        scan = ai._batch_scan(spark, ai.codes_root(path), cells)
        if n_dirs == 3:
            assert scan.rdd.getNumPartitions() > dp
        with monkeypatch.context() as mp:
            mp.setattr(ai, "_CAP_ENGAGE_ROWS", 0)
            mp.setattr(ai, "PQ_SHORTLIST", 2)
            mp.setattr(ai, "PQ_SHORTLIST_FRAC", 50)
            shortlist = meta["n"] // 50
            cap = ai._per_cell_cap(len(qids), RAW_PROBE, shortlist, n_dirs)
            assert cap is not None and cap < shortlist
            got[f"{n_dirs}-capped"] = _md5_served(serve().collect())
            short = ai._adc_scan(
                spark, scan.coalesce(1), meta, books, qids, qmat, qnrm,
                shortlist, cells, per_cell_cap=cap,
            ).collect()
            got[f"{n_dirs}-shortlist"] = hashlib.md5(
                repr(sorted(tuple(r) for r in short)).encode()
            ).hexdigest()
    assert got == WIDE_SERVE_PINS


def _md5_shortlist(rows) -> str:
    return hashlib.md5(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def test_file_plan_scores_as_the_batch_scan(spark, raw_layout, tmp_path):
    """The ADC kernel over the driver's file plan returns what it
    returns over the ``_batch_scan`` DataFrame of the same cells: the
    served rows and the shortlist, at 1 to 4 batch dirs, as served and
    with the emission cap below the shortlist.  The served rows are the
    plan's.  The plan run as one task returns what it returns as one
    task per core: each task's per-query shortlist over the fragments
    it scored keeps every row of the global shortlist."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    dp = spark.sparkContext.defaultParallelism
    for n_dirs in (1, 2, 3, 4):
        if n_dirs > 1:
            wide = _wide_batch(spark, 10_000 * n_dirs, n_dirs)
            assert ai.append_ann_index(spark, path, wide, f"e{n_dirs}") == 500
        meta, cent, books = ai.load_ann_model(spark, path)
        cells = ai._probe_map(cent, qmat, RAW_PROBE)
        croot = ai.codes_root(path)
        plan = ai._plan_cell_files(croot, cells, dp)
        assert 0 < len(plan) <= dp
        one_task = ai._plan_cell_files(croot, cells, 1)
        scan = ai._batch_scan(spark, croot, cells)
        served_sl = max(ai.PQ_SHORTLIST, meta["n"] // ai.PQ_SHORTLIST_FRAC)
        capped_sl = meta["n"] // 50
        settings = {
            "served": (
                served_sl,
                ai._per_cell_cap(len(qids), RAW_PROBE, served_sl, n_dirs),
            ),
            "capped": (capped_sl, max(2, -(-2 * capped_sl // RAW_PROBE))),
        }
        assert settings["served"][1] is None
        assert settings["capped"][1] < capped_sl
        for name, (sl, cap) in settings.items():
            for k in (TOP_K, None):
                md5 = _md5_served if k else _md5_shortlist
                by_plan, by_one_task, by_scan = (
                    md5(ai._adc_scan(
                        spark, codes, meta, books, qids, qmat, qnrm, sl,
                        cells, per_cell_cap=cap, k=k,
                    ).collect())
                    for codes in (plan, one_task, scan)
                )
                assert by_plan == by_one_task == by_scan, (n_dirs, name, k)
                if name == "served" and k:
                    served = ai.serve_topk(
                        spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE
                    ).collect()
                    assert _md5_served(served) == by_plan, n_dirs


def test_file_plan_skips_stray_files_and_unprobed_cells(spark, raw_layout, tmp_path):
    """A dot-prefixed part file and a ``_temporary/`` attempt dir inside
    a probed cell dir, a ``_SUCCESS``-only batch dir and every unprobed
    cell stay out of the file plan, so the served rows do not change.
    A serve that probes no file returns the empty frame of its
    schema."""
    import shutil

    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    _meta, cent, _books = ai.load_ann_model(spark, path)
    cells = ai._probe_map(cent, qmat, RAW_PROBE)
    croot = ai.codes_root(path)
    base = os.path.join(croot, "batch=base")

    def serve():
        return _md5_served(
            ai.serve_topk(spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE).collect()
        )

    before = serve()
    occupied = {
        int(n.split("=", 1)[1]) for n in os.listdir(base) if n.startswith("cell=")
    }
    probed = sorted(occupied & set(cells))
    assert probed and occupied - set(cells)
    cdir = os.path.join(base, f"cell={probed[0]}")
    part = parquet_data_files(cdir)[0]
    shutil.copy(part, os.path.join(cdir, ".part-hidden.parquet"))
    os.makedirs(os.path.join(cdir, "_temporary", "0"))
    shutil.copy(part, os.path.join(cdir, "_temporary", "0", "part-0.parquet"))
    empty = os.path.join(croot, "batch=empty")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()

    plan = ai._plan_cell_files(croot, cells, spark.sparkContext.defaultParallelism)
    groups = [g for task in plan for g in task]
    assert sorted((tag, cell) for tag, cell, _f in groups) == [
        ("base", c) for c in probed
    ]
    for _tag, cell, files in groups:
        assert files == parquet_data_files(os.path.join(base, f"cell={cell}"))
        assert all("/." not in f and "_temporary" not in f for f in files)
    assert serve() == before

    assert ai._plan_cell_files(croot, {}, 4) == []
    unprobed = {max(occupied) + 1: [0]}
    for k, schema in (
        (None, "query_id long, neighbor_id long"),
        (TOP_K, "query_id long, neighbor_id long, cosine double, rn long"),
    ):
        got = ai.search_ann_index(
            spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE, cell_to_q=unprobed, k=k
        )
        assert got.schema == spark.createDataFrame([], schema).schema
        assert got.count() == 0


def test_cold_serve_over_three_batch_dirs_runs_one_job(spark, raw_layout, tmp_path):
    """With the scan memo empty, a serve over 3 batch dirs runs 1 job of
    1 stage, the ADC tasks': no listing, schema, exchange or result
    job."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    for i, tag in enumerate(("c1", "c2")):
        batch = _near_copies(spark, qmat, 30_000 + 1_000 * i, seed=3 + i)
        assert ai.append_ann_index(spark, path, batch, tag) == len(qids)
    assert sum(b.startswith("batch=") for b in os.listdir(ai.codes_root(path))) == 3
    ai._scan_memo.clear()
    rows, jobs = _jobs_in_group(
        spark, "cold-serve-3",
        lambda: ai.serve_topk(
            spark, path, qids, qmat, qnrm, n_probe=RAW_PROBE
        ).collect(),
    )
    assert len(rows) == len(qids) * TOP_K
    stages = _stage_tasks(spark, jobs)
    assert len(jobs) == 1 and len(stages) == 1, stages
    assert not [n for n, _t in stages if n.startswith("parquet at")], stages


# Spark jobs of a one-pass serve over a layout with pending tombstones,
# measured on a 4-core host: the broadcast of the (vec_id, batch) pairs
# the tombstones suppress (one scan of their dirs) and the ADC tasks,
# plus, with the scan memo empty, the listing of the base batch dir's
# cell dirs
TOMBSTONED_SERVE_JOBS = {"cold": 3, "warm": 2}


def test_tombstoned_serve_job_budget(spark, raw_layout, tmp_path):
    """A one-pass serve with pending tombstones scans the per-batch
    relations under the anti-join; cold and warm it runs the pinned
    number of jobs, each of one stage, and never serves a deleted id."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    dead = list(range(0, 500, 7))
    ai.delete_ann_index(
        spark, path, spark.createDataFrame([(i,) for i in dead], "vec_id long"),
        "d1",
    )
    ai._scan_memo.clear()
    for memo, jobs in TOMBSTONED_SERVE_JOBS.items():
        rows = _one_pass_serve(spark, path, qids, qmat, qnrm, jobs=jobs).collect()
        assert len(rows) == len(qids) * TOP_K, memo
        assert not {r.neighbor_id for r in rows} & set(dead), memo


def test_numeric_delete_tag_suppresses(spark, raw_layout, tmp_path):
    """A delete tag that reads as a number ("0070") still suppresses its
    ids: the tombstone dirs are read as ``del string``, so the partition
    value is not inferred as the integer 70 and then missed by the
    cover's "0070"."""
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
    dead = list(range(0, 500, 7))
    ai.delete_ann_index(
        spark, path, spark.createDataFrame([(i,) for i in dead], "vec_id long"),
        "0070",
    )
    rows = _one_pass_serve(spark, path, qids, qmat, qnrm, jobs=None).collect()
    assert len(rows) == len(qids) * TOP_K
    assert not {r.neighbor_id for r in rows} & set(dead)


def _spark_windows(spark, rows, shortlist: int, k: int):
    """The two ``row_number`` windows the one-pass serve ran before its
    merge moved to the driver, over hand-built ADC rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, pq_cosine double, cosine double"
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("pq_cosine"), F.asc("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        df.withColumn("prn", F.row_number().over(w_adc))
        .where(F.col("prn") <= shortlist)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").cast("long"))
        .collect()
    )


def test_driver_merge_ranks_as_spark_windows(spark):
    """``_merge_topk`` keeps and numbers the rows Spark's shortlist and
    top-k windows keep, with bitwise-equal cosines: on tied scores, an
    id present twice in a query (two batch dirs), NaN, ±inf and ±0.0
    scores, queries with fewer rows than the shortlist or k, and no
    rows at all."""
    import pyarrow as pa

    nan, inf = float("nan"), float("inf")
    rng = np.random.default_rng(5)
    rows = [
        (q, 100 * q + i, float(rng.integers(0, 4)) / 4, float(rng.integers(0, 4)) / 4)
        for q in range(3) for i in range(30)
    ]
    # one id twice: an exact copy, and the same vector under two codes
    rows += [(3, 7, 0.5, 0.25), (3, 7, 0.5, 0.25), (3, 8, 0.75, 0.5), (3, 8, 0.1, 0.5)]
    special = [nan, inf, -inf, 0.0, -0.0, 1.0, -1.0, nan, 0.0, -0.0]
    rows += [
        (4, i, s, special[(i + 3) % len(special)]) for i, s in enumerate(special)
    ]
    rows += [(5, 1, 0.1, 0.2)]  # fewer rows than k

    def key(got):
        return sorted((q, n, c.hex(), rn) for q, n, c, rn in got)

    for data in (rows, []):
        tbl = pa.table(
            {
                name: pa.array([r[i] for r in data], typ)
                for i, (name, typ) in enumerate(
                    (("query_id", pa.int64()), ("neighbor_id", pa.int64()),
                     ("pq_cosine", pa.float64()), ("cosine", pa.float64()))
                )
            }
        )
        for shortlist, k in ((6, 4), (2, 5), (50, 50)):
            out = ai._merge_topk(tbl, shortlist, k)
            assert out.column_names == ["query_id", "neighbor_id", "cosine", "rn"]
            got = key(zip(*(out.column(c).to_pylist() for c in out.column_names)))
            want = key(tuple(r) for r in _spark_windows(spark, data, shortlist, k))
            assert got == want, (shortlist, k)
            assert bool(data) == bool(want)


# --- build: one sample, driver-written model tables, Arrow encode -----------


def test_fresh_build_job_budget(spark, tmp_path):
    """A fresh build from a table runs 4 Spark jobs: schema, the one
    quantizer sample, the encode map and the cell-tree write (11 before
    the sample was shared and the model tables left Spark).  The write
    runs one task per shuffle partition, each cell in one file."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "layout")
    _, jobs = _jobs_in_group(
        spark, "ann-build-fresh",
        lambda: ai.build_ann_index(spark, SF_SMALL, path=path, store_raw=True),
    )
    assert len(jobs) <= 4, f"expected <= 4 jobs, got {len(jobs)}"
    sc = spark.sparkContext
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write = sc.statusTracker().getJobInfo(max(jobs))
    tasks = [sc.statusTracker().getStageInfo(s).numTasks for s in write.stageIds]
    assert max(tasks) == parts, (tasks, parts)
    base = os.path.join(ai.codes_root(path), "batch=base")
    cells = [d for d in os.listdir(base) if d.startswith("cell=")]
    assert len(cells) > 1
    for c in cells:
        files = parquet_data_files(os.path.join(base, c))
        assert len(files) == 1, (c, files)
        ids = pq.read_table(files[0], columns=["vec_id"]).column(0).to_numpy()
        assert (np.diff(ids) > 0).all()


def test_build_files_every_row_in_its_nearest_cell(spark, tmp_path):
    """Every row of a fresh sf0.1 layout (N=2,000, nlist 126) lands in
    the cell of its nearest centroid, read back with pyarrow from the
    codes tree's (vec_id, cell) and the centroid table."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    path = ai.build_ann_index(spark, SF_T3, path=str(tmp_path / "l"))
    cent = np.stack(
        pq.read_table(os.path.join(path, "centroids.parquet"))
        .sort_by("cell").column("c_emb").to_pylist()
    )
    assert len(cent) == 126
    codes = ds.dataset(
        ai.codes_root(path), format="parquet", partitioning="hive"
    ).to_table(columns=["vec_id", "cell"])
    emb = pq.read_table(
        os.path.join(SF_T3, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    x = dict(zip(
        emb.column("vec_id").to_pylist(),
        np.asarray(emb.column("embedding").to_pylist(), dtype="f8"),
    ))
    ids = codes.column("vec_id").to_numpy()
    cells = codes.column("cell").to_numpy()
    assert sorted(ids) == sorted(x)
    pts = np.stack([x[i] for i in ids])
    d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    tol = 1e-9 * (1.0 + d2.max())
    far = d2[np.arange(len(ids)), cells] > d2.min(axis=1) + tol
    assert not far.any(), ids[far][:10]


def test_append_job_budget(spark, raw_layout, tmp_path):
    path = _copy_layout(raw_layout, tmp_path)
    qids, qmat, _qnrm = ai._query_rows(spark, SF_SMALL)
    batch = _near_copies(spark, qmat, 20_000, seed=2)
    n, jobs = _jobs_in_group(
        spark, "ann-append",
        lambda: ai.append_ann_index(spark, path, batch, "j1"),
    )
    assert n == len(qids)
    assert len(jobs) <= 5, f"expected <= 5 jobs, got {len(jobs)}"


def _md5_order_ids(ids, k):
    import hashlib

    key = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    return sorted(key[:k])


@pytest.mark.parametrize("inflate_n", [False, True], ids=["filtered", "fallback"])
def test_shared_sample_prefix_equals_md5_sample_rows(spark, inflate_n):
    """The md5-order prefix of ``train_quantizers``' one sample is the
    sample each trainer drew alone, on the hash pre-filter branch
    (n > 4k) and on its under-selection fallback (an inflated n drives
    the threshold below every row: the filtered top-k comes back short
    and the unfiltered formulation runs as a second job)."""
    from affinity_propagation_mapreduce_spark.operators import ivf, vector

    n = 20_000
    emb = spark.range(n).selectExpr(
        "id as vec_id",
        "array(cast(id % 7 as float), cast(id % 11 as float)) as embedding",
    )
    nlist = ivf.cost_balanced_nlist(n, vector.IVFPQ_QUERY_PROBE)
    k_cent, k_pq = nlist * ivf.SAMPLE_PER_CELL, vector.PQ_TRAIN_SAMPLE
    assert n > 4 * max(k_cent, k_pq) and k_cent != k_pq
    n_arg = 10**12 if inflate_n else n
    sample, jobs = _jobs_in_group(
        spark, f"md5-sample-{inflate_n}",
        lambda: ivf.md5_sample(emb, max(k_cent, k_pq), n_arg),
    )
    assert len(jobs) == (2 if inflate_n else 1)
    ids = list(range(n))
    for k in (k_cent, k_pq):
        prefix = ivf.md5_prefix(sample, k)
        alone = ivf.md5_sample_rows(emb, k, n)
        assert prefix == alone
        assert [r.vec_id for r in prefix] == _md5_order_ids(ids, k)


def _loop_lloyd(pts, cent, iters):
    """The per-cell Lloyd loop the bincount update replaced."""
    for _ in range(iters):
        d2 = (
            (pts * pts).sum(axis=1, keepdims=True)
            - 2.0 * pts @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = pts[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def _sample_rows(pts):
    from pyspark.sql import Row

    return [Row(vec_id=i, embedding=[float(v) for v in p]) for i, p in enumerate(pts)]


def test_bincount_lloyd_equals_per_cell_loop():
    """``lloyd_update`` (bincount sums) is bitwise the per-cell
    ``members.mean(axis=0)`` loop, for the coarse centroids and the PQ
    codebooks, on a seeded sample whose duplicated rows leave cells
    empty (an empty cell keeps its row)."""
    from affinity_propagation_mapreduce_spark.operators import ivf, vector

    rng = np.random.default_rng(11)
    pts = rng.normal(size=(600, 8)).astype("f4").astype("f8")
    pts[1] = pts[0]  # two equal initial centroids: the second stays empty
    pts[300:310] = pts[5]
    cent = pts[:40].copy()
    assign = (
        (pts * pts).sum(axis=1, keepdims=True) - 2.0 * pts @ cent.T
        + (cent * cent).sum(axis=1)[None, :]
    ).argmin(axis=1)
    assert 1 not in set(assign.tolist())  # cell 1 is empty
    got = cent.copy()
    ivf.lloyd_update(pts, assign, got)
    want = _loop_lloyd(pts, cent.copy(), 1)
    assert got.tobytes() == want.tobytes() and (got[1] == pts[1]).all()

    rows = _sample_rows(pts)  # in id order, so md5 prefixes are id prefixes
    cent_new = ivf.train_centroids(None, 40, sample=rows)
    head = pts[: 40 * ivf.SAMPLE_PER_CELL]
    assert cent_new.tobytes() == _loop_lloyd(head, head[:40].copy(), 2).tobytes()

    books = vector._pq_train_codebooks(None, None, sample=rows)
    m_, k, dsub = books.shape
    assert (m_, k, dsub) == (4, 256, 2)
    for m in range(m_):
        sub = pts[:, m * dsub : (m + 1) * dsub]
        want = _loop_lloyd(sub, sub[:k].copy(), 4)
        assert books[m].tobytes() == want.tobytes(), m


def test_driver_written_model_tables_round_trip(spark, tmp_path, monkeypatch):
    """pyarrow-written model tables read back bitwise through the pyarrow
    loader and through ``load_ann_model``'s Spark fallback, with the
    Spark schema the ``createDataFrame(...).coalesce(1)`` writer gave."""
    import json

    rng = np.random.default_rng(5)
    cent = rng.normal(size=(10, 6))
    books = rng.normal(size=(3, 4, 2))
    path = str(tmp_path / "layout")
    os.makedirs(path)
    meta = {"m": 3, "ksub": 4, "dsub": 2}
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    ai._write_model_tables(path, cent, books)
    for name in ("centroids", "codebooks"):
        assert os.path.isfile(os.path.join(path, f"{name}.parquet", "_SUCCESS"))
    c2, b2 = ai._read_model_arrays_arrow(path, meta)
    assert c2.tobytes() == cent.tobytes() and b2.tobytes() == books.tobytes()

    monkeypatch.setattr(ai, "_read_model_arrays_arrow", lambda p, m: None)
    _meta, c3, b3 = ai.load_ann_model(spark, path)
    assert c3.tobytes() == cent.tobytes() and b3.tobytes() == books.tobytes()

    for name, ddl in (
        ("centroids", "cell long, c_emb array<double>"),
        ("codebooks", "m long, code long, vec array<double>"),
    ):
        got = spark.read.parquet(os.path.join(path, f"{name}.parquet")).schema
        assert got == spark.createDataFrame([], ddl).schema, name


def test_encode_cells_filter_keeps_only_probed_rows(spark):
    """``_encode_codes(..., cells=S)`` emits exactly the unfiltered
    encode's rows whose home cell is in S, with the same code bytes,
    norm and pass-through metadata."""
    rng = np.random.default_rng(5)
    n, d = 400, 8
    pts = rng.normal(size=(n, d))
    cent = rng.normal(size=(6, d))
    books = rng.normal(size=(4, 16, 2))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in pts[i]], f"t{i % 3}") for i in range(n)],
        "vec_id long, emb array<double>, tenant string",
    ).repartition(3)

    def encode(cells):
        enc, bc = ai._encode_codes(
            spark, emb, cent, books, meta_cols=("tenant",), cells=cells
        )
        try:
            return sorted(
                (r.vec_id, r.cell, bytes(r.code), r.nrm, r.tenant)
                for r in enc.collect()
            )
        finally:
            bc.destroy(blocking=False)

    full = encode(None)
    assert len(full) == n and len({r[1] for r in full}) > 3
    for cells in ([1, 4], [0], []):
        assert encode(cells) == [r for r in full if r[1] in cells], cells


def test_encode_rejects_ragged_or_null_embedding(spark):
    """The Arrow encode kernel reshapes the flat values buffer, so a
    ragged row — even one whose batch total still divides by d — or a
    null row must raise instead of shifting the vectors after it."""
    import pyarrow as pa
    from pyspark.errors import PythonException

    t = pa.list_(pa.float64())
    ok = pa.array([[1.0, 2.0, 3.0, 4.0], [5.0, 6.0, 7.0, 8.0]], t)
    assert ai._embedding_matrix(ok, 4).shape == (2, 4)
    for bad in (
        pa.array([[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.0]], t),
        pa.array([[1.0, 2.0, 3.0, 4.0], None], t),
    ):
        with pytest.raises(ValueError):
            ai._embedding_matrix(bad, 4)

    cent = np.eye(2, 4)
    books = np.zeros((2, 2, 2))
    rows = [(0, [0.0, 1.0, 2.0, 3.0]), (1, [0.0, 1.0, 2.0, 3.0, 4.0]),
            (2, [0.0, 1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    encoded, bc = ai._encode_codes(spark, emb, cent, books)
    try:
        with pytest.raises(PythonException, match="ragged embedding row"):
            encoded.collect()
    finally:
        bc.destroy(blocking=False)
