"""Round-13 tests: budgeted per-cell ANN compaction (r12 verdict #1),
emission-cap engagement (advice r12 #2), and the partial-fold
correctness invariants (fold-batch never covered, hard-linked carry,
partial∘full ≡ full).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from affinity_propagation_mapreduce_spark.operators import ann_index as ai
from affinity_propagation_mapreduce_spark.sources import table

from .conftest import SF_SMALL


class TestPerCellCap:
    """The per-(batch,cell,query) emission cap is a measured-recall
    trade for the bulk-shuffle failure mode ONLY — interactive serves
    must stay lossless (advice r12 #2)."""

    def test_interactive_serve_is_lossless(self):
        # |Q|=10, width 34, shortlist 4000 (the 10M warm-serve shape):
        # worst case 1.36M rows — cap must NOT engage
        assert ai._per_cell_cap(10, 34, 4000) is None

    def test_bulk_serve_engages_the_cap(self):
        # the measured 10M×768 disaster shape: |Q|=10k, width 17,
        # shortlist 4000 → worst case 680M rows > threshold
        cap = ai._per_cell_cap(10_000, 17, 4000)
        assert cap == max(ai.PQ_SHORTLIST, -(-2 * 4000 // 17))

    def test_mid_batch_stays_lossless(self):
        # |Q|=1000 at width 32, shortlist 4000 → 128M < the threshold:
        # medium batches keep exact per-cell emission
        assert ai._per_cell_cap(1_000, 32, 4000) is None


class TestPlanCompactionCells:
    @staticmethod
    def _s(files=1, byts=100, rows=100, dead=0):
        return {"files": files, "bytes": byts, "rows": rows, "dead": dead}

    def test_clean_layout_selects_nothing(self):
        stats = {0: self._s(), 1: self._s(files=2)}
        assert ai.plan_compaction_cells(stats) == []

    def test_garbage_ratio_orders_selection(self):
        stats = {
            0: self._s(dead=10, rows=100, byts=100),   # 10% garbage
            1: self._s(dead=90, rows=100, byts=100),   # 90% garbage
            2: self._s(dead=50, rows=100, byts=100),   # 50% garbage
        }
        picked = ai.plan_compaction_cells(stats, scratch_budget_bytes=100)
        assert picked == [1]  # highest ratio wins the bounded round

    def test_budget_packs_smaller_cells(self):
        stats = {
            0: self._s(dead=50, rows=100, byts=300),
            1: self._s(dead=50, rows=100, byts=100),
            2: self._s(dead=50, rows=100, byts=100),
        }
        # equal ratios → bytes ASC ordering; budget 250 fits the two
        # small cells, the 300-byte cell waits for the next round
        assert ai.plan_compaction_cells(stats, scratch_budget_bytes=250) == [1, 2]

    def test_first_cell_taken_even_over_budget(self):
        stats = {7: self._s(dead=1, rows=10, byts=10_000)}
        assert ai.plan_compaction_cells(stats, scratch_budget_bytes=1) == [7]

    def test_fragmented_cells_qualify_without_garbage(self):
        stats = {
            0: self._s(files=ai.COMPACT_FRAG_FILES),
            1: self._s(files=ai.COMPACT_FRAG_FILES - 1),
        }
        assert ai.plan_compaction_cells(stats) == [0]
        assert ai.plan_compaction_cells(stats, frag_files=None) == []


class TestFilteredServe:
    """Filtered ANN search (r12 verdict "missing" #2): the pre/post
    choice is a CODED rule, pinned here like choose_search_mode; the
    end-to-end recall/containment gate lives in q_knn_cosine_filtered
    (runs in the parity sweep)."""

    def test_choose_filter_mode_crossover(self):
        assert ai.choose_filter_mode(0.01) == "pre"
        assert ai.choose_filter_mode(0.49) == "pre"
        assert ai.choose_filter_mode(0.50) == "post"
        assert ai.choose_filter_mode(0.95) == "post"

    def test_both_modes_serve_only_qualifying(self, spark):
        from affinity_propagation_mapreduce_spark.operators.vector import (
            FILTER_LABEL_MOD,
        )

        path = ai.build_ann_index(spark, SF_SMALL)
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        emb = ai._emb(spark, SF_SMALL)
        fids = emb.where(F.col("label") % FILTER_LABEL_MOD == 0).select(
            "vec_id"
        )
        qualifying = {r.vec_id for r in fids.collect()}
        norms = ai._norms(spark, SF_SMALL)
        for mode, expect in (("pre", "pre"), ("post", "post"), ("auto", "pre")):
            res, used = ai.serve_topk_filtered(
                spark, path, qids, qmat, qnrm, fids, mode=mode,
                norms_df=norms,
            )
            assert used == expect
            rows = res.collect()
            assert rows and all(r.neighbor_id in qualifying for r in rows)
            # per-query rn is dense 1..k
            byq = {}
            for r in rows:
                byq.setdefault(r.query_id, []).append(r.rn)
            assert all(sorted(v) == list(range(1, len(v) + 1)) for v in byq.values())


class TestEconomicsConstant:
    """The in-place-vs-join crossover constant is calibrated on three
    measured anchors (BASELINE §mid-d): d=16 join, d=128 tie, d=768
    in-place.  Pin the rule's side for each anchor shape."""

    @staticmethod
    def _inplace(n_store, d, pairs):
        from affinity_propagation_mapreduce_spark.operators.vector import (
            _PAIR_RERANK_MAX_PAIRS,
            _PAIR_RERANK_PAIR_COST_BYTES,
        )

        return (
            pairs > 8_000_000
            and pairs <= _PAIR_RERANK_MAX_PAIRS
            and n_store * (8 * d + 32) > pairs * _PAIR_RERANK_PAIR_COST_BYTES
        )

    def test_narrow_d_keeps_the_join(self):
        assert not self._inplace(20_000_000, 16, 80_000_000)  # 20M×16 bulk

    def test_crossover_d128_lands_join_side(self):
        # the measured TIE — shipped on the join side (its leg read
        # marginally faster; either side is within host noise)
        assert not self._inplace(10_000_000, 128, 40_000_000)

    def test_wide_d_takes_the_pair_band(self):
        assert self._inplace(10_000_000, 768, 40_000_000)  # 10M×768 bulk


class TestMigrationModelResolution:
    def test_compaction_after_migration_keeps_migrated_model(
        self, spark, tmp_path, monkeypatch
    ):
        """A generation bump that does NOT retrain (compaction) must
        keep resolving the MIGRATED quantizers: model_gen carries
        forward, the gen-scoped model tables survive the reaper, and
        serving still answers."""
        from affinity_propagation_mapreduce_spark.operators.vector import (
            RECALL_FLOORS,
            _exact_rerank,
        )

        path = str(tmp_path / "mig-layout")
        raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
        ai.build_ann_index(
            spark, SF_SMALL, path=path, emb_raw=raw, store_raw=True
        )
        ai.migrate_ann_index(spark, path)
        meta = ai._read_meta(path)
        mg = meta["model_gen"]
        assert mg == ai._gen_of(meta) == 1
        # now a non-retraining maintenance pass bumps the generation
        ai.delete_ann_index(
            spark, path, raw.where(F.col("vec_id") % 31 == 7), "d31"
        )
        ai.compact_ann_index(spark, path)
        meta2 = ai._read_meta(path)
        assert ai._gen_of(meta2) == 2
        assert meta2["model_gen"] == mg  # carried, not reset
        # resolution points at the MIGRATED tables, which still exist
        for name in ("centroids", "codebooks"):
            p = ai._model_table_path(path, name, meta2)
            assert p.endswith(f"{name}.g{mg}.parquet") and os.path.isdir(p)
        # the reaper must never collect the in-force model tables —
        # zero the grace window so superseded gen trees ARE collected
        # (proving the reap ran) while centroids/codebooks.g<model_gen>
        # survive because model_gen pins them
        monkeypatch.setattr(ai, "_REAP_GRACE_SEC", -1)
        ai._reap_layout_scratch(path)
        assert not os.path.isdir(ai._codes_root_gen(path, 0))  # reap ran
        for name in ("centroids", "codebooks"):
            assert os.path.isdir(os.path.join(path, f"{name}.g{mg}.parquet"))
        # and the layout still serves above the shared floor
        qids, qmat, qnrm = ai._query_rows(spark, SF_SMALL)
        res = _exact_rerank(
            spark,
            ai._norms(spark, SF_SMALL),
            ai.search_ann_index(spark, path, qids, qmat, qnrm),
            qids, qmat, qnrm,
        )
        assert res.count() > 0


@pytest.fixture(scope="module")
def churned_layout(spark, tmp_path_factory):
    """A store_raw-free layout with an append and a pending delete —
    the state every partial-fold invariant is probed against."""
    path = str(tmp_path_factory.mktemp("r13") / "layout")
    raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    base = raw.where(F.col("vec_id") % 10 != 0)
    delta = raw.where(F.col("vec_id") % 10 == 0)
    ai.build_ann_index(spark, SF_SMALL, path=path, emb_raw=base)
    ai.append_ann_index(spark, path, delta, "d1")
    ai.delete_ann_index(
        spark, path, raw.where(F.col("vec_id") % 7 == 2), "del-7-2"
    )
    # re-insert one deleted vector AFTER the delete: the sequenced-cover
    # leg every fold shape must preserve
    x = raw.where(F.col("vec_id") % 7 == 2).agg(F.min("vec_id")).first()[0]
    ai.append_ann_index(
        spark, path, raw.where(F.col("vec_id") == x), "reins"
    )
    return path, int(x)


class TestPartialFold:
    def test_partial_fold_preserves_live_set_and_links(self, spark, churned_layout):
        path, x = churned_layout
        meta = ai._read_meta(path)
        gen0 = ai._gen_of(meta)
        stats = ai.ann_cell_stats(spark, path, meta)
        garbage = sorted(c for c, s in stats.items() if s["dead"] > 0)
        assert len(garbage) >= 2, "fixture must leave multi-cell garbage"
        live_before = sorted(
            (r.vec_id, r.cell)
            for r in ai._live_codes(
                spark, path, spark.read.parquet(ai.codes_root(path)), meta
            ).select("vec_id", "cell").collect()
        )

        target = garbage[0]
        res = ai.compact_ann_index(spark, path, cells=[target])
        assert res["cells_folded"] == 1 and not res["garbage_cleared"]
        meta1 = ai._read_meta(path)
        assert ai._gen_of(meta1) == gen0 + 1

        # live set identical across the fold (tombstone semantics intact)
        live_after = sorted(
            (r.vec_id, r.cell)
            for r in ai._live_codes(
                spark, path, spark.read.parquet(ai.codes_root(path)), meta1
            ).select("vec_id", "cell").collect()
        )
        assert live_after == live_before

        # the fold output landed under an UNCOVERED batch name: no
        # retained cover may list it (invariant (a) — a stale cover
        # re-suppressing folded rows is the corruption the name avoids)
        fold_batch = f"fold-g{gen0 + 1}"
        assert os.path.isdir(
            os.path.join(ai.codes_root(path), f"batch={fold_batch}")
        )
        for tag, cover in meta1.get("delete_cover", {}).items():
            assert fold_batch not in cover, (tag, cover)

        # unfolded cells are HARD LINKS of the previous generation's
        # files — zero bytes copied
        old_root = ai._codes_root_gen(path, gen0)
        new_root = ai._codes_root_gen(path, gen0 + 1)
        linked = 0
        for b in os.listdir(old_root):
            if not b.startswith("batch="):
                continue
            for c in os.listdir(os.path.join(old_root, b)):
                if not c.startswith("cell=") or c == f"cell={target}":
                    continue
                nd = os.path.join(new_root, b, c)
                if not os.path.isdir(nd):
                    continue
                for f in os.listdir(nd):
                    if f.startswith("part-"):
                        s_ino = os.stat(
                            os.path.join(old_root, b, c, f)
                        ).st_ino
                        assert os.stat(os.path.join(nd, f)).st_ino == s_ino
                        linked += 1
        assert linked > 0, "no unfolded cell files were carried by link"

    def test_budgeted_loop_matches_full_fold(self, spark, tmp_path):
        """partial∘…∘partial ≡ every-cell: two identical layouts, one
        folded by the budgeted loop, one by the every-cell fold — the
        live (vec_id, cell, code, nrm) sets must be IDENTICAL."""
        raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
        base = raw.where(F.col("vec_id") % 10 != 0)
        delta = raw.where(F.col("vec_id") % 10 == 0)
        paths = {}
        for kind in ("part", "full"):
            p = str(tmp_path / kind)
            ai.build_ann_index(spark, SF_SMALL, path=p, emb_raw=base)
            ai.append_ann_index(spark, p, delta, "d1")
            ai.delete_ann_index(
                spark, p, raw.where(F.col("vec_id") % 5 == 1), "del-5-1"
            )
            paths[kind] = p

        stats = ai.ann_cell_stats(spark, paths["part"])
        budget = max(
            1, sum(s["bytes"] for s in stats.values() if s["dead"] > 0) // 3
        )
        agg = ai.compact_ann_index_incremental(spark, paths["part"], budget)
        assert agg["rounds"] >= 2, agg  # the budget actually bounded rounds
        full = ai.compact_ann_index(spark, paths["full"])

        got = {}
        for kind, p in paths.items():
            assert not ai._tombstone_dirs(p)
            got[kind] = sorted(
                (r.vec_id, r.cell, bytes(r.code), r.nrm)
                for r in spark.read.parquet(ai.codes_root(p))
                .select("vec_id", "cell", "code", "nrm")
                .collect()
            )
        assert got["part"] == got["full"] and len(got["part"]) > 0
        assert agg["rows"] == full["rows"]

    def test_replays_noop_after_partial_folds(self, spark, churned_layout):
        path, x = churned_layout
        # finish the budgeted loop on the shared fixture layout, then
        # every historical feed must stay a no-op
        ai.compact_ann_index_incremental(spark, path, 1)
        raw = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
        assert ai.append_ann_index(
            spark, path, raw.where(F.col("vec_id") % 10 == 0), "d1"
        ) == 0
        assert ai.delete_ann_index(
            spark, path, raw.where(F.col("vec_id") % 7 == 2), "del-7-2"
        ) == 0
        assert ai.append_ann_index(
            spark, path, raw.where(F.col("vec_id") == x), "reins"
        ) == 0
        # the re-inserted vector survived every fold; its dead twins did not
        codes = spark.read.parquet(ai.codes_root(path))
        assert codes.where(F.col("vec_id") == x).count() == 1
        assert (
            codes.where(
                (F.col("vec_id") % 7 == 2) & (F.col("vec_id") != x)
            ).count()
            == 0
        )
