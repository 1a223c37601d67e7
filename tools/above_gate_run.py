"""Above-gate AP execution — round-8 verdict item #1.

The paths above the dense refusal (``BLOCKED_MAX_N = 10_000``) — the
coordinate sparse loop and the distributed exact-median preference — had
only ever been exercised via monkeypatched gates at small N.  This runner
synthesizes a clustered corpus at real above-gate sizes (same generator
as tests/test_growth_law.py), writes it as a testdata-shaped sf dir, and
runs the REAL entry points end-to-end:

  python tools/above_gate_run.py sparse 25000
  python tools/above_gate_run.py sparse 50000

Prints one JSON line per run: wall seconds, label sanity (rows, exemplar
count, unassigned count, max-cluster share) and peak persisted-state
bytes (polled from the JVM RDD storage registry at 4 Hz).  Measured
results are recorded in BASELINE.md §above-gate.
"""
from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

BASE = "/tmp/above_gate"


def synth_dir(n: int, d: int = 16, k_true: int = 32) -> str:
    """Clustered corpus, testdata-shaped (vec_id, embedding, label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(BASE, f"n{n}" + (f"-d{d}" if d != 16 else ""))
    path = os.path.join(out, "embeddings.parquet")
    if os.path.exists(path):
        return out
    os.makedirs(out, exist_ok=True)
    if n * d > 500_000_000:
        # one-shot generation allocates several n×d f8 arrays (61 GB
        # EACH at 10M×768) — stream the corpus in ~1 GB chunks instead
        _synth_chunked(path, n, d, k_true)
        return out
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(k_true, d))
    lab = np.arange(n) % k_true
    pts = centers[lab] + 0.6 * rng.normal(size=(n, d))
    perm = rng.permutation(n)  # ids uncorrelated with content (lowid regime)
    pts, lab = pts[perm], lab[perm]
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="i8")),
            "embedding": pa.array(
                [row.astype("f4") for row in pts], type=pa.list_(pa.float32())
            ),
            "label": pa.array(lab.astype("i4")),
        }
    )
    pq.write_table(tbl, path)
    return out


def _synth_chunked(path: str, n: int, d: int, k_true: int) -> None:
    """Chunk-streamed variant of the corpus synth for n·d beyond what
    one-shot numpy can hold (the 50M×16 run peaked ~90 GB RSS with
    every intermediate resident; 10M×768 would OOM outright).  Same
    clustered shape and lowid regime (labels drawn per-chunk from a
    chunk-seeded rng are uncorrelated with vec_id); f4 end-to-end and a
    ListArray built from one flat buffer — no per-row python lists.
    ~5 GB peak RSS regardless of corpus size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_rng = np.random.default_rng(11)
    centers = base_rng.normal(size=(k_true, d)).astype("f4")
    chunk = max(1, 250_000_000 // d)
    writer = None
    try:
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            m = hi - lo
            crng = np.random.default_rng((11, lo))
            lab = crng.integers(0, k_true, size=m)
            pts = centers[lab] + 0.6 * crng.standard_normal(
                (m, d), dtype="f4"
            )
            offsets = np.arange(0, (m + 1) * d, d, dtype="i4")
            emb = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(pts.reshape(-1))
            )
            tbl = pa.table(
                {
                    "vec_id": pa.array(np.arange(lo, hi, dtype="i8")),
                    "embedding": emb,
                    "label": pa.array(lab.astype("i4")),
                }
            )
            if writer is None:
                writer = pq.ParquetWriter(path, tbl.schema)
            # cap row groups so a group's embedding column chunk stays
            # ~100 MB: writing one group per 1 GB chunk made 32
            # concurrent scan tasks buffer ~1 GB each and OOM'd the
            # executor heap at 10M×768
            rows_per_group = max(1024, 25_000_000 // d)
            writer.write_table(tbl, row_group_size=rows_per_group)
    finally:
        if writer is not None:
            writer.close()


class PeakState:
    """Polls the JVM persistent-RDD registry; tracks peak bytes in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            try:
                infos = self.sc._jsc.sc().getRDDStorageInfo()
                cur = sum(i.memSize() + i.diskSize() for i in infos)
                self.peak = max(self.peak, cur)
            except Exception:
                pass
            time.sleep(0.25)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *a):
        self._stop.set()
        self._t.join(timeout=2)


def label_sanity(rows) -> dict:
    from collections import Counter

    labels = [r.exemplar for r in rows]
    c = Counter(labels)
    unassigned = c.pop(-1, 0)
    return {
        "rows": len(rows),
        "exemplars": len(c),
        "unassigned": unassigned,
        "max_cluster_share": round(max(c.values()) / len(rows), 4) if c else None,
    }


def main():
    mode, n = sys.argv[1], int(sys.argv[2])
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else None
    sf_dir = synth_dir(n)

    from affinity_propagation_mapreduce_spark.operators import ap
    from affinity_propagation_mapreduce_spark.session import get_spark

    spark = get_spark(f"above-gate-{mode}-{n}")

    if mode in ("knn_pq", "knn_ivfpq", "knn_ivf"):
        # ANN scale path (PQ/ADC flat, IVF-composed, or plain IVF)
        # shortlist/top-k with measured recall against the exact top-k
        # (|Q|·N JVM fold — affordable even at 1M)
        from affinity_propagation_mapreduce_spark.operators import vector as V

        fn = {
            "knn_pq": V.knn_cosine_pq,
            "knn_ivfpq": V.knn_cosine_ivfpq,
            "knn_ivf": V.q_knn_cosine_ivf,
        }[mode]
        t0 = time.monotonic()
        res = fn(spark, sf_dir).localCheckpoint(eager=True)
        n_res = res.count()
        wall = time.monotonic() - t0
        exact = V.q_knn_cosine_topk(spark, sf_dir).select(
            "query_id", "neighbor_id"
        )
        n_exact = exact.count()
        hit = exact.join(
            res.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        print(
            json.dumps(
                {
                    "mode": mode,
                    "n": n,
                    "wall_sec": round(wall, 1),
                    "rows": n_res,
                    "recall_vs_exact": round(hit / n_exact, 4),
                }
            ),
            flush=True,
        )
        return

    if mode != "sparse":
        raise SystemExit(f"unknown mode {mode!r}: sparse, knn_pq, knn_ivfpq, knn_ivf")
    # cluster_sparse picks its engine by SPARSE_FUSED_MAX_N
    assert n > ap._BLOCKED().SPARSE_FUSED_MAX_N, "not above gate"
    kwargs = {"iterations": iters} if iters else {}
    t0 = time.monotonic()
    with PeakState(spark) as ps:
        rows = ap.cluster_sparse(spark, sf_dir, **kwargs).collect()
    wall = time.monotonic() - t0
    out = {
        "mode": mode,
        "n": n,
        "iterations": iters or ap.T_DEFAULT,
        "wall_sec": round(wall, 1),
        "peak_state_bytes": ps.peak,
        **label_sanity(rows),
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
