"""Persisted-ANN serving measurements — round-9 verdict items #2/#3.

Separates index BUILD from SEARCH on a 1M-scale clustered corpus (same
generator as tools/above_gate_run.py) and measures the large-|Q|
crossover between the cell-pruned IVF serving scan and the flat ADC scan
over the SAME persisted codes:

  python tools/ann_serve_run.py build 1000000
  python tools/ann_serve_run.py serve 1000000 10
  python tools/ann_serve_run.py serve 1000000 10000
  python tools/ann_serve_run.py flat  1000000 10000

Prints one JSON line per run: wall seconds, result rows, and recall@k of
the first 10 queries vs the exact brute-force top-k (|Q|-independent
cost, so the quality check stays affordable at any batch size).
Results recorded in BASELINE.md §ann-serving.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from above_gate_run import synth_dir  # noqa: E402


def _recall_first10(spark, sf_dir, res):
    """Recall of result rows for query ids 0..9 vs the exact top-k."""
    from affinity_propagation_mapreduce_spark.operators import vector as V

    exact = V.q_knn_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    n_exact = exact.count()
    hit = exact.join(
        res.select("query_id", "neighbor_id").where(res.query_id < 10),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).count()
    return round(hit / n_exact, 4) if n_exact else None


def main():
    mode, n = sys.argv[1], int(sys.argv[2])
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    n_probe = int(sys.argv[4]) if len(sys.argv) > 4 else None
    d = int(os.environ.get("ANN_SERVE_DIM", "16"))  # realistic-dim rows
    sf_dir = synth_dir(n, d=d)

    from affinity_propagation_mapreduce_spark.operators import ann_index as ai
    from affinity_propagation_mapreduce_spark.session import get_spark

    spark = get_spark(f"ann-serve-{mode}-{n}")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"mode": mode, "n": n}
    if d != 16:
        out["d"] = d

    if mode == "crossd":
        # mid-d rerank-crossover measurement (r12 advice #4 / verdict
        # #7): the in-place-vs-join economics rule was calibrated at
        # exactly two anchors (20M×16 join wins; 10M×768 in-place wins)
        # — run the SAME bulk serve at the uncovered mid-d with the rule
        # deciding, then with the alternative FORCED, and record both
        # walls so the 48 B/pair vs (8d+32) B/row constants are
        # validated (or corrected) where they interpolate.
        from affinity_propagation_mapreduce_spark.operators import vector as V

        path = ai.ann_index_path(sf_dir) + "-raw"
        assert os.path.isfile(os.path.join(path, "_SUCCESS")), "build first"
        meta = ai._read_meta(path)
        qids, qmat, qnrm = ai._query_rows(spark, sf_dir, n_queries=n_q)
        d_dim = len(qmat[0])
        sl = n_q * max(ai.PQ_SHORTLIST, meta["n"] // ai.PQ_SHORTLIST_FRAC)
        rule_inplace = (
            sl > 8_000_000
            and sl <= V._PAIR_RERANK_MAX_PAIRS
            and meta["n"] * (8 * d_dim + 32)
            > sl * V._PAIR_RERANK_PAIR_COST_BYTES
        )
        walls = {}
        saved = V._PAIR_RERANK_MAX_PAIRS
        for leg in ("chosen", "alternative"):
            force_join = (leg == "alternative") == rule_inplace
            V._PAIR_RERANK_MAX_PAIRS = 0 if force_join else saved
            try:
                t0 = time.monotonic()
                res = ai.serve_topk(
                    spark, path, qids, qmat, qnrm
                ).localCheckpoint(eager=True)
                rows = res.count()
                walls[leg] = round(time.monotonic() - t0, 1)
            finally:
                V._PAIR_RERANK_MAX_PAIRS = saved
        out.update(
            d=d_dim,
            n_queries=n_q,
            rule_picked="inplace" if rule_inplace else "join",
            chosen_wall_sec=walls["chosen"],
            alternative_wall_sec=walls["alternative"],
            rule_correct=walls["chosen"] <= walls["alternative"],
            rows=rows,
        )
        print(json.dumps(out), flush=True)
        return
    if mode == "filtered":
        # filtered-ANN scale measurement (r12 verdict "missing" #2):
        # top-k WHERE label % 3 == 0 (~1/3 selectivity — pre-filter
        # side of the coded rule) served BOTH ways at scale, recall vs
        # a driver-side numpy exact-filtered oracle, every returned
        # neighbor asserted qualifying.
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        path = ai.ann_index_path(sf_dir)
        ai.build_ann_index(spark, sf_dir)
        emb = table(spark, sf_dir, "embeddings")
        fids = emb.where(F.col("label") % 3 == 0).select("vec_id")
        qids, qmat, qnrm = ai._query_rows(spark, sf_dir, n_queries=n_q)
        norms = ai._norms(spark, sf_dir)
        # numpy exact filtered oracle (first 10 queries)
        tbl = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding", "label"],
        )
        ids = tbl["vec_id"].to_numpy()
        lab = tbl["label"].to_numpy()
        import numpy as np

        x = np.asarray(tbl["embedding"].to_pylist(), dtype="f8")
        qmask = lab % 3 == 0
        cn = np.linalg.norm(x[qmask], axis=1)
        c_ids = ids[qmask]
        exact = {}
        for i in range(min(10, len(qids))):
            cos = (x[qmask] @ qmat[i]) / (cn * qnrm[i])
            cos[c_ids == qids[i]] = -np.inf
            keep = np.lexsort((c_ids, -cos))[:5]
            exact[int(qids[i])] = {int(v) for v in c_ids[keep]}
        sel = float(qmask.mean())
        out.update(selectivity=round(sel, 3), n_queries=n_q,
                   auto_rule=ai.choose_filter_mode(sel))
        for m in ("pre", "post"):
            t0 = time.monotonic()
            res, used = ai.serve_topk_filtered(
                spark, path, qids, qmat, qnrm, fids,
                selectivity=sel, mode=m, norms_df=norms,
            )
            res = res.localCheckpoint(eager=True)
            rows = res.count()
            wall = round(time.monotonic() - t0, 1)
            bad = res.join(
                fids.select(F.col("vec_id").alias("neighbor_id")),
                "neighbor_id", "left_anti",
            ).count()
            if bad:
                raise AssertionError(f"{m}: {bad} non-qualifying served")
            got: dict[int, set] = {}
            for r in res.where(F.col("query_id").isin(
                [int(q) for q in qids[:10]]
            )).collect():
                got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
            hits = sum(len(got.get(q, set()) & e) for q, e in exact.items())
            out[f"{m}_wall_sec"] = wall
            out[f"{m}_rows"] = rows
            out[f"{m}_recall_at5_first10"] = round(
                hits / (5 * len(exact)), 3
            )
        print(json.dumps(out), flush=True)
        return
    if mode == "delete":
        # deletion cost (r9 verdict #3): tombstone a 5% slice of an
        # existing index (delta-scaled id-list write), then fold it at
        # compaction (corpus-scaled maintenance rewrite) — the numbers
        # to compare against append (delta-scaled) and rebuild
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        src_path = ai.ann_index_path(sf_dir)
        assert os.path.isfile(os.path.join(src_path, "_SUCCESS")), "build first"
        # mutate a COPY (the codes layout is ~24 B/vector, ~27 MB at 1M)
        # so the shared content-addressed index stays pristine
        path = f"{src_path}-delbench"
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.remove(f"{path}.lock")
        except OSError:
            pass
        shutil.copytree(src_path, path)
        raw = table(spark, sf_dir, "embeddings").select("vec_id")
        victims = raw.where(F.col("vec_id") % 20 == 11)
        t0 = time.monotonic()
        n_del = ai.delete_ann_index(spark, path, victims, "bench-del-20-11")
        del_sec = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        qids, qmat, qnrm = ai._query_rows(spark, sf_dir, n_queries=n_q)
        res = ai._exact_rerank(
            spark,
            ai._norms(spark, sf_dir),
            ai.search_ann_index(spark, path, qids, qmat, qnrm),
            qids,
            qmat,
            qnrm,
        )
        bad = res.where(F.col("neighbor_id") % 20 == 11).count()
        serve_tombstoned_sec = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        comp = ai.compact_ann_index(spark, path)
        compact_sec = round(time.monotonic() - t0, 1)
        out.update(
            n_deleted=n_del,
            delete_sec=del_sec,
            serve_with_pending_tombstones_sec=serve_tombstoned_sec,
            tombstoned_neighbors_served=bad,
            compact_sec=compact_sec,
            rows_after_fold=comp["rows"],
            rows_tombstoned=comp["rows_tombstoned"],
        )
        if bad:
            raise AssertionError(f"{bad} tombstoned neighbors served")
    elif mode == "append":
        # incremental-maintenance cost: build a base index on a 90% md5
        # split, then time appending the 10% delta with frozen
        # quantizers — the number to compare against a full rebuild
        from pyspark.sql import functions as F

        from affinity_propagation_mapreduce_spark.sources import table

        raw = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
            ).cast("long") % 10
        )
        base, delta = raw.where(bucket != 0), raw.where(bucket == 0)
        path = ai.ann_index_path(sf_dir) + "-incr"
        if os.path.isdir(path):
            import shutil as sh

            sh.rmtree(path)
            try:
                os.remove(f"{path}.lock")
            except OSError:
                pass
        t0 = time.monotonic()
        ai.build_ann_index(spark, sf_dir, path=path, emb_raw=base)
        base_wall = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        n_new = ai.append_ann_index(spark, path, delta, "delta-bucket-0")
        out.update(
            base_build_sec=base_wall,
            append_sec=round(time.monotonic() - t0, 1),
            n_appended=n_new,
        )
    elif mode == "build":
        store_raw = bool(int(os.environ.get("ANN_STORE_RAW", "0")))
        path = ai.ann_index_path(sf_dir)
        if store_raw:
            path += "-raw"
        if os.path.isdir(path):  # timed builds are cold builds
            shutil.rmtree(path)
            try:
                os.remove(f"{path}.lock")
            except OSError:
                pass
        t0 = time.monotonic()
        path = ai.build_ann_index(spark, sf_dir, path=path if store_raw else None,
                                  store_raw=store_raw)
        out["wall_sec"] = round(time.monotonic() - t0, 1)
        if store_raw:
            out["store_raw"] = True
        meta, cent, _books = ai.load_ann_model(spark, path)
        sz = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        )
        out.update(nlist=meta["nlist"], pq_m=meta["m"], index_bytes=sz)
    elif mode == "warm":
        # persistent-session serving ladder (r10 verdict #5): the 12-17 s
        # small-|Q| walls are session-startup-dominated — a production
        # deployment keeps the session and sees the steady state.  Serve
        # `n_probe`-many batches (default 5) of |Q|=n_q in ONE session
        # with distinct query slices so no Spark-side result cache can
        # flatter the number, and report per-batch walls.
        store_raw = bool(int(os.environ.get("ANN_STORE_RAW", "0")))
        path = ai.ann_index_path(sf_dir) + ("-raw" if store_raw else "")
        assert os.path.isfile(os.path.join(path, "_SUCCESS")), "build first"
        if store_raw:
            out["store_raw"] = True
        meta = ai._read_meta(path)
        n_batches = n_probe or 5
        walls = []
        for b in range(n_batches):
            t0 = time.monotonic()
            qids, qmat, qnrm = ai._query_rows(spark, sf_dir, n_queries=n_q * (b + 1))
            sel = slice(b * n_q, (b + 1) * n_q)
            qids, qmat, qnrm = qids[sel], qmat[sel], qnrm[sel]
            res = ai.serve_topk(
                spark, path, qids, qmat, qnrm,
                norms_df=None if meta.get("raw") else ai._norms(spark, sf_dir),
            ).localCheckpoint(eager=True)
            rows = res.count()
            walls.append(round(time.monotonic() - t0, 1))
        w = ai.plan_n_probe(meta["nlist"], meta["n"], n_q)
        out.update(
            n_queries=n_q,
            batch_walls_sec=walls,
            cold_sec=walls[0],
            # a single-batch run has no steady window — report its one
            # wall instead of raising after the serves already ran
            steady_sec=round(min(walls[1:]) if len(walls) > 1 else walls[0], 1),
            serve_mode=ai.choose_search_mode(meta["nlist"], w),
            rows_last=rows,
        )
    else:
        path = ai.ann_index_path(sf_dir)
        if mode == "auto" and bool(int(os.environ.get("ANN_STORE_RAW", "0"))):
            path += "-raw"
        assert os.path.isfile(os.path.join(path, "_SUCCESS")), "build first"
        t0 = time.monotonic()
        qids, qmat, qnrm = ai._query_rows(spark, sf_dir, n_queries=n_q)
        if mode == "serve":
            kw = {"n_probe": n_probe} if n_probe else {}
            shortlist = ai.search_ann_index(spark, path, qids, qmat, qnrm, **kw)
        elif mode == "auto":
            # the r11 |Q|-aware default: plan_n_probe narrows for bulk
            # batches; record the width the schedule actually resolved.
            # serve_topk reranks from the layout's own raw column when
            # present, else from the corpus.
            meta = ai._read_meta(path)
            pmode = os.environ.get("ANN_PROBE_MODE", "auto")
            w = ai.plan_n_probe(meta["nlist"], meta["n"], n_q, mode=pmode)
            res = ai.serve_topk(
                spark, path, qids, qmat, qnrm, mode=pmode,
                norms_df=None if meta.get("raw") else ai._norms(spark, sf_dir),
            ).localCheckpoint(eager=True)
            rows = res.count()
            out.update(
                probe_mode=pmode,
                serve_mode=ai.choose_search_mode(meta["nlist"], w),
                planned_n_probe=w,
                n_queries=n_q,
                wall_sec=round(time.monotonic() - t0, 1),
                rows=rows,
                recall_first10=_recall_first10(spark, sf_dir, res),
            )
            print(json.dumps(out), flush=True)
            return
        else:  # flat: every query probes every cell
            shortlist = ai.search_ann_index(
                spark, path, qids, qmat, qnrm,
                n_probe=ai._read_meta(path)["nlist"],
            )
        meta_sl = ai._read_meta(path)
        res = ai._exact_rerank(
            spark, ai._norms(spark, sf_dir), shortlist, qids, qmat, qnrm,
            shortlist_rows=n_q * max(
                ai.PQ_SHORTLIST, meta_sl["n"] // ai.PQ_SHORTLIST_FRAC
            ),
        ).localCheckpoint(eager=True)
        rows = res.count()
        out.update(
            n_queries=n_q,
            wall_sec=round(time.monotonic() - t0, 1),
            rows=rows,
            recall_first10=_recall_first10(spark, sf_dir, res),
        )
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
