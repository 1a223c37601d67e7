"""Round-14 tests, part 1: the three advice-r13 fixes.

1. (medium) A partial fold whose selected cells are 100% dead used to
   crash on the read-back of a _SUCCESS-only directory — the folded
   cells must simply vanish from the new generation.
2. (low) The emission-cap engagement estimate must scale with batch-dir
   fragmentation (truncation is per (batch dir, cell, query)).
3. (low) A second migration must utime-stamp the superseded gen-scoped
   model tables so the reaper's grace window protects in-flight readers
   of the OLD quantizers.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from affinity_propagation_mapreduce_spark.operators import ann_index as ai
from affinity_propagation_mapreduce_spark.sources import table
from affinity_propagation_mapreduce_spark.sources.tables import parquet_data_files

from .conftest import SF_SMALL


class TestFullyDeadFold:
    def test_fold_of_fully_dead_cell_vanishes(self, spark, tmp_path):
        """plan_compaction_cells orders garbage-ratio DESC, so a tight
        budget round selects 100%-dead cells FIRST; the fold must not
        crash on them (advice r13 #1) and the cell must vanish."""
        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding"
        )
        ai.build_ann_index(spark, SF_SMALL, path=path, emb_raw=raw)
        meta = ai._read_meta(path)
        gen0 = ai._gen_of(meta)
        codes = spark.read.parquet(ai.codes_root(path))
        # kill EVERY vector of one populated cell
        target = int(codes.groupBy("cell").count().first().cell)
        ai.delete_ann_index(
            spark,
            path,
            codes.where(F.col("cell") == target).select("vec_id"),
            "kill-cell",
        )
        live_before = sorted(
            r.vec_id
            for r in ai._live_codes(
                spark, path, spark.read.parquet(ai.codes_root(path))
            ).select("vec_id").collect()
        )
        res = ai.compact_ann_index(spark, path, cells=[target])
        assert res["cells_folded"] == 1
        assert res["rows_tombstoned"] > 0
        meta1 = ai._read_meta(path)
        assert ai._gen_of(meta1) == gen0 + 1
        # the dead cell vanished from the new generation's stats
        stats = ai.ann_cell_stats(spark, path, meta1)
        assert target not in stats
        # and the live set is untouched
        live_after = sorted(
            r.vec_id
            for r in ai._live_codes(
                spark, path, spark.read.parquet(ai.codes_root(path)), meta1
            ).select("vec_id").collect()
        )
        assert live_after == live_before
        assert res["rows"] == len(live_after) == meta1["n"]
        # the layout still serves
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        assert ai.search_ann_index(spark, path, qids, qmat, qnrm).count() > 0

    def test_incremental_loop_survives_all_dead_selection(
        self, spark, tmp_path
    ):
        """The r13 gate shape: a tiny budget makes each round select the
        single worst cell — when that cell is fully dead the loop must
        fold it away and continue, not crash."""
        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding"
        )
        ai.build_ann_index(spark, SF_SMALL, path=path, emb_raw=raw)
        codes = spark.read.parquet(ai.codes_root(path))
        cells = [int(r.cell) for r in codes.select("cell").distinct().collect()]
        dead_cells = sorted(cells)[:2]
        ai.delete_ann_index(
            spark,
            path,
            codes.where(F.col("cell").isin(dead_cells)).select("vec_id"),
            "kill-two",
        )
        agg = ai.compact_ann_index_incremental(spark, path, 1)
        assert agg["rounds"] >= 1
        stats = ai.ann_cell_stats(spark, path)
        assert not (set(dead_cells) & set(stats))
        assert all(s["dead"] == 0 for s in stats.values())


class TestCapFragmentScaling:
    def test_interactive_serve_stays_lossless_single_fragment(self):
        assert ai._per_cell_cap(10, 34, 4000, n_fragments=1) is None

    def test_fragmentation_engages_the_cap(self):
        # same interactive shape, but a hot cell smeared across 200
        # batch dirs: worst-case emission is 200x the clean estimate
        # (1.36M -> 272M rows) and the cap must engage (advice r13 #2)
        assert ai._per_cell_cap(10, 34, 4000, n_fragments=200) is not None

    def test_default_matches_single_fragment(self):
        assert ai._per_cell_cap(10_000, 34, 4000) == ai._per_cell_cap(
            10_000, 34, 4000, n_fragments=1
        )


class TestMigrationLifecycle:
    def test_migrate_folds_a_fully_tombstoned_batch(self, spark, tmp_path):
        """A batch whose every row is deleted re-encodes to zero rows;
        the migration must drop it (not crash on a schema-less dir) and
        the new generation must carry no empty batch directory."""
        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding"
        )
        base = raw.where(F.col("vec_id") % 10 != 0)
        delta = raw.where(F.col("vec_id") % 10 == 0)
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=base, store_raw=True
        )
        ai.append_ann_index(spark, path, delta, "d1")
        ai.delete_ann_index(spark, path, delta.select("vec_id"), "kill-d1")
        n_base = base.count()
        res = ai.migrate_ann_index(spark, path)
        assert res["rows"] == n_base
        meta = ai._read_meta(path)
        croot = ai._codes_root_gen(path, ai._gen_of(meta))
        for b in os.listdir(croot):
            if b.startswith("batch="):
                assert parquet_data_files(os.path.join(croot, b)), (
                    f"schema-less batch dir survived migration: {b}"
                )
        live = ai._live_codes(
            spark, path, spark.read.parquet(ai.codes_root(path)), meta
        )
        assert live.count() == n_base

    def test_second_migration_stamps_superseded_model_tables(
        self, spark, tmp_path
    ):
        """advice r13 #3: the cutover must utime the OUTGOING gen-scoped
        quantizer tables, or a months-old mtime lets the reaper collect
        them instantly — inside the grace window a reader that loaded
        its model snapshot just before the flip still needs them."""
        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding"
        )
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True
        )
        ai.migrate_ann_index(spark, path)
        mg1 = ai._read_meta(path)["model_gen"]
        old_tables = [
            os.path.join(path, f"centroids.g{mg1}.parquet"),
            os.path.join(path, f"codebooks.g{mg1}.parquet"),
        ]
        for p in old_tables:
            assert os.path.isdir(p)
            os.utime(p, (1.0, 1.0))  # months-old mtime
        before = time.time()
        ai.migrate_ann_index(spark, path)
        meta = ai._read_meta(path)
        assert meta["model_gen"] == mg1 + 1
        for p in old_tables:
            # stamped at the cutover: the grace window now protects it
            assert os.path.getmtime(p) >= before - 60
        # reaper with the normal grace window leaves the fresh-stamped
        # superseded tables in place...
        ai._reap_layout_scratch(path)
        for p in old_tables:
            assert os.path.isdir(p)
        # ...and still collects them once quiesced past the window
        for p in old_tables:
            os.utime(p, (1.0, 1.0))
        ai._reap_layout_scratch(path)
        for p in old_tables:
            assert not os.path.isdir(p)


class TestMetaColsLayout:
    """Round-14 predicate-pushdown substrate: filterable metadata
    columns persisted in the codes layout survive every lifecycle
    transition, and the serve-time selectivity comes from the layout's
    hash-sample — never an exact count."""

    def test_meta_cols_survive_append_fold_migrate(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings")
        base = raw.where(F.col("vec_id") % 10 != 0)
        delta = raw.where(F.col("vec_id") % 10 == 0)
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=base, store_raw=True,
            meta_cols=("label",),
        )
        ai.append_ann_index(spark, path, delta, "d1")

        def mismatches():
            codes = spark.read.parquet(ai.codes_root(path)).select(
                "vec_id", F.col("label").alias("l_codes")
            )
            return (
                codes.join(raw.select("vec_id", "label"), "vec_id")
                .where(F.col("l_codes") != F.col("label"))
                .count()
            )

        assert "label" in spark.read.parquet(ai.codes_root(path)).columns
        assert mismatches() == 0
        ai.delete_ann_index(
            spark, path, raw.where(F.col("vec_id") % 9 == 1), "d9"
        )
        ai.compact_ann_index(spark, path)
        assert "label" in spark.read.parquet(ai.codes_root(path)).columns
        assert mismatches() == 0
        ai.migrate_ann_index(spark, path)
        assert "label" in spark.read.parquet(ai.codes_root(path)).columns
        assert mismatches() == 0
        # the sample survives and the estimator still answers
        est = ai.estimate_selectivity(spark, path, "label >= 0")
        assert est is not None and est > 0.9

    def test_estimator_within_2x_and_no_sample_returns_none(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        raw = table(spark, SF_SMALL, "embeddings")
        path = str(tmp_path / "with-sample")
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, meta_cols=("label",)
        )
        n = raw.count()
        for expr in ("label = 0", "label % 3 = 0", "label < 2"):
            true = raw.where(F.expr(expr)).count() / n
            est = ai.estimate_selectivity(spark, path, expr)
            assert 0.5 * true <= est <= 2.0 * true, (expr, est, true)
        bare = str(tmp_path / "no-sample")
        ai.build_ann_index(spark, SF_SMALL, path=bare, emb_raw=raw)
        assert ai.estimate_selectivity(spark, bare, "label = 0") is None

    def test_filtered_serve_stable_under_estimate_error(
        self, spark, tmp_path
    ):
        """The planner's mode choice and probe widening must hold the
        contract under a ±2x-wrong selectivity: only qualifying
        neighbors, recall at-or-above the shared floor either way."""
        import numpy as np
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.operators.vector import (
            RECALL_FLOORS,
            TOP_K,
        )
        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings")
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True,
            meta_cols=("label",),
        )
        expr = "label % 3 = 0"
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        rows = raw.select("vec_id", "embedding", "label").collect()
        ids = np.array([r.vec_id for r in rows], dtype="i8")
        X = np.array([list(r.embedding) for r in rows], dtype="f8")
        qual = np.array([r.label % 3 == 0 for r in rows], dtype=bool)
        nrm_x = np.sqrt((X * X).sum(axis=1))
        keep = np.flatnonzero(qual)
        ex_pairs = set()
        for qi in range(len(qids)):
            cos = (X @ qmat[qi]) / (nrm_x * qnrm[qi] + 1e-300)
            order = sorted(keep, key=lambda j: (-cos[j], ids[j]))
            ex_pairs |= {(int(qids[qi]), int(ids[j])) for j in order[:TOP_K]}
        true_sel = float(qual.mean())
        floor = RECALL_FLOORS["knn_cosine_served"]
        nonq = set(ids[~qual].tolist())
        for err in (0.5, 1.0, 2.0):
            res, _used = ai.serve_topk_filtered(
                spark, path, qids, qmat, qnrm, filter_expr=expr,
                selectivity=min(1.0, err * true_sel), mode="auto",
            )
            got = [
                (r.query_id, r.neighbor_id)
                for r in res.select("query_id", "neighbor_id").collect()
            ]
            assert not [p for p in got if p[1] in nonq], (err, got[:3])
            hit = sum(1 for p in got if p in ex_pairs)
            assert hit / len(ex_pairs) >= floor, (err, hit, len(ex_pairs))

    def test_migration_backfills_metadata_and_rebuilds_sample(
        self, spark, tmp_path
    ):
        """add_meta: a layout built BEFORE meta_cols existed gains its
        filterable columns at migration (the only moment the corpus
        streams anyway), and the selectivity sample is rebuilt from the
        new generation."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings")
        ai.build_ann_index(
            spark, SF_SMALL, path=path,
            emb_raw=raw.select("vec_id", "embedding"), store_raw=True,
        )
        assert ai.estimate_selectivity(spark, path, "label = 0") is None
        ai.migrate_ann_index(spark, path, add_meta={"label": "pmod(vec_id, 5)"})
        assert ai._read_meta(path)["meta_cols"] == ["label"]
        codes = spark.read.parquet(ai.codes_root(path))
        assert (
            codes.where(
                F.col("label") != F.pmod(F.col("vec_id"), F.lit(5))
            ).count()
            == 0
        )
        est = ai.estimate_selectivity(spark, path, "label = 0")
        assert 0.1 <= est <= 0.4  # true 0.2, ±2x band
        # a SECOND migration (no add_meta) carries the columns forward
        # and refreshes the sample from the new generation
        ai.delete_ann_index(
            spark, path, raw.where(F.col("vec_id") % 5 == 0), "kill-l0"
        )
        ai.migrate_ann_index(spark, path)
        assert "label" in spark.read.parquet(ai.codes_root(path)).columns
        est2 = ai.estimate_selectivity(spark, path, "label = 0")
        assert est2 < 0.05  # deleted rows left the rebuilt sample


class TestJpegCodec:
    """r14: from-scratch baseline JPEG (numpy + stdlib), same
    discipline as the PNG codec — plus the lossy-aware gates."""

    def test_roundtrip_error_bounds(self):
        import numpy as np

        from affinity_propagation_mapreduce_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        h, w = 24, 40
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [
                xx * 255 / (w - 1),
                yy * 255 / (h - 1),
                (xx + yy) * 255 / (w + h - 2),
            ],
            axis=-1,
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        err = np.abs(dec.astype("i4") - img.astype("i4"))
        assert err.max() <= 12 and err.mean() <= 4

    def test_flat_tiles_exact_and_odd_sizes(self):
        import numpy as np

        from affinity_propagation_mapreduce_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.zeros((16, 16, 3), np.uint8)
        img[:8, :8] = 32
        img[:8, 8:] = 224
        img[8:, :8] = 224
        img[8:, 8:] = 96
        dec = decode_jpeg(encode_jpeg(img))
        # flat blocks are DC-only: error bounded by the DC quant step
        assert np.abs(dec.astype("i4") - img.astype("i4")).max() <= 2
        # non-multiple-of-8 geometry: edge-replicate pad + crop
        rng = np.random.default_rng(3)
        odd = rng.integers(0, 255, (17, 19, 3), dtype=np.uint8)
        assert decode_jpeg(encode_jpeg(odd)).shape == odd.shape

    def test_dispatch_and_declared_seams(self):
        import numpy as np
        import pytest as _pytest

        from affinity_propagation_mapreduce_spark.operators import multimodal as mm

        img = np.full((8, 8, 3), 77, np.uint8)
        dec = mm.decode_image(mm.encode_jpeg(img))
        assert np.abs(dec.astype("i4") - img.astype("i4")).max() <= 2
        # progressive SOF2 raises the declared seam
        payload = bytearray(mm.encode_jpeg(img))
        idx = payload.find(b"\xff\xc0")
        payload[idx + 1] = 0xC2
        with _pytest.raises(NotImplementedError, match="SOF0"):
            mm.decode_jpeg(bytes(payload))
        with _pytest.raises(NotImplementedError):
            mm.decode_image(b"\x00\x00\x00\x18ftypmp42")  # MP4 stays a seam


class TestSampleLifecycle:
    def test_fold_rebuilds_sample_after_deletes(self, spark, tmp_path):
        """The fold that clears the last tombstone also resets the
        estimator's sample staleness — deleted rows leave the sample."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings")
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, meta_cols=("label",)
        )
        est0 = ai.estimate_selectivity(spark, path, "label = 0")
        assert est0 > 0.1  # labels ~uniform over ~5 values at this sf
        ai.delete_ann_index(
            spark, path, raw.where(F.col("label") == 0), "kill-l0"
        )
        # pending tombstones: sample still stale (documented, ±2x band)
        ai.compact_ann_index(spark, path)
        # garbage cleared -> sample rebuilt from the new generation
        est1 = ai.estimate_selectivity(spark, path, "label = 0")
        assert est1 < 0.02, (est0, est1)

    def test_multi_column_meta_and_compound_predicate(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings").withColumn(
            "tenant", F.pmod(F.col("vec_id"), F.lit(4)).cast("int")
        )
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True,
            meta_cols=("label", "tenant"),
        )
        codes = spark.read.parquet(ai.codes_root(path))
        assert {"label", "tenant"} <= set(codes.columns)
        expr = "tenant = 1 AND label % 3 = 0"
        true = raw.where(F.expr(expr)).count() / raw.count()
        est = ai.estimate_selectivity(spark, path, expr)
        assert 0.5 * true <= est <= 2.0 * true
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        res, used = ai.serve_topk_filtered(
            spark, path, qids, qmat, qnrm, filter_expr=expr
        )
        assert used == "pre"
        ok = {
            r.vec_id
            for r in raw.where(F.expr(expr)).select("vec_id").collect()
        }
        got = res.select("neighbor_id").collect()
        assert got and all(r.neighbor_id in ok for r in got)


class TestReviewRegressions:
    """Round-14 review findings, runtime-verified then fixed."""

    def test_post_mode_stale_tombstone_metadata_never_qualifies(
        self, spark, tmp_path
    ):
        """A deleted row's STALE metadata must not qualify a
        re-inserted neighbor whose current metadata does not: the
        post-mode qualifying scan anti-joins tombstones like every
        other read of the codes tree."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = str(tmp_path / "layout")
        raw = table(spark, SF_SMALL, "embeddings")
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True,
            meta_cols=("label",),
        )
        expr = "label % 2 = 0"
        # kill every even-label vector, then re-add the SAME vectors
        # with an odd label (the takedown-then-reindex shape)
        evens = raw.where(F.col("label") % 2 == 0)
        ai.delete_ann_index(spark, path, evens.select("vec_id"), "kill-even")
        ai.append_ann_index(
            spark, path,
            evens.withColumn("label", F.lit(1).cast("int")), "readd-odd",
        )
        readded = {r.vec_id for r in evens.select("vec_id").collect()}
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        for mode in ("pre", "post"):
            res, _ = ai.serve_topk_filtered(
                spark, path, qids, qmat, qnrm, filter_expr=expr, mode=mode
            )
            bad = [
                r.neighbor_id
                for r in res.select("neighbor_id").collect()
                if r.neighbor_id in readded
            ]
            assert not bad, (mode, bad[:5])

    def test_clustered_manifest_handles_all_null_key_files(
        self, spark, tmp_path
    ):
        """An output file whose cluster key is entirely NULL records
        None min/max; bounded scans must prune it (NULL satisfies no
        range predicate), not crash comparing str to the bound."""
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources.io import (
            scan_clustered,
            write_clustered_table,
        )

        df = spark.range(1000).select(
            F.when(F.col("id") % 5 != 0, F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        path = str(tmp_path / "clustered")
        write_clustered_table(df, path, "k", n_files=6)
        out, stats = scan_clustered(spark, path, lower=500, upper=600)
        assert stats["files_kept"] < stats["files_total"]
        assert out.count() == df.where(
            (F.col("k") >= 500) & (F.col("k") <= 600)
        ).count() > 0


class TestTimeTravel:
    def test_versions_are_immutable_isolated_snapshots(self, spark):
        import pytest as _pytest

        from affinity_propagation_mapreduce_spark.operators import (
            relational as R,
        )
        from affinity_propagation_mapreduce_spark.sources import table

        base = R._versioned_merge_table(spark, SF_SMALL)
        v0 = R.read_table_version(spark, base, 0)
        cust = table(spark, SF_SMALL, "customer")
        assert v0.count() == cust.count()
        # pinned-version isolation: v2 differs from head v3 (batch 2
        # applied changes), and both reads are stable across calls
        v2 = R.read_table_version(spark, base, R.TT_READ_VERSION)
        v3 = R.read_table_version(spark, base, R.MERGE_CHAIN_BATCHES)
        assert v2.exceptAll(v3).count() > 0
        assert (
            R.read_table_version(spark, base, R.TT_READ_VERSION)
            .exceptAll(v2)
            .count()
            == 0
        )
        with _pytest.raises(ValueError, match="not in committed"):
            R.read_table_version(spark, base, 99)
