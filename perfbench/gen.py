"""Seeded input generators.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet files, another seed writes different ones.  The
program under test only ever sees the files.

* ``write_embeddings`` — a clustered-Gaussian corpus in the testdata
  ``embeddings`` shape (``vec_id int64, embedding list<float>,
  label int32``); the planted ``label`` is the cluster a point was drawn
  from, the ground truth for purity.
* ``write_sf_tables`` — the ten testdata tables (TPC-H-ish star, events,
  documents, embeddings) with the schemas, key domains and value ranges
  FIXTURES.md records for the sf0.1 testdata, so every query of the
  SQL mix runs on non-degenerate input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one salt per generated artefact, so two artefacts of one seed never
# share a random stream
_SALT = {
    "corpus": 1, "supplier": 5, "customer": 6, "part": 7, "orders": 8,
    "lineitem": 9, "events": 10, "documents": 11, "embeddings": 12,
}


def _rng(seed: int, what: str, *extra: int) -> np.random.Generator:
    return np.random.default_rng((int(seed), _SALT[what], *extra))


def write_table(tbl: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy")


def _list_f4(mat: np.ndarray) -> pa.ListArray:
    n, d = mat.shape
    offsets = np.arange(0, (n + 1) * d, d, dtype="i4")
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(mat.astype("f4").reshape(-1))
    )


def clustered(seed: int, n: int, d: int, k: int, spread: float = 0.35,
              what: str = "corpus"):
    """``n`` points around ``k`` unit-scale centres; returns
    ``(points f4 [n, d], labels i4 [n], centres f8 [k, d])``.  Labels are
    dealt round-robin and then shuffled, so ids carry no cluster order."""
    rng = _rng(seed, what, n, d, k)
    centers = rng.normal(size=(k, d))
    lab = rng.permutation(np.arange(n) % k).astype("i4")
    pts = centers[lab] + spread * rng.normal(size=(n, d))
    return pts.astype("f4"), lab, centers


def embeddings_table(ids: np.ndarray, pts: np.ndarray, lab: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids.astype("i8")),
        "embedding": _list_f4(pts),
        "label": pa.array(lab.astype("i4")),
    })


def write_embeddings(out_dir: str, seed: int, n: int, d: int, k: int,
                     spread: float = 0.35) -> str:
    """Write ``<out_dir>/embeddings.parquet``; returns ``out_dir``."""
    pts, lab, _ = clustered(seed, n, d, k, spread)
    write_table(embeddings_table(np.arange(n), pts, lab),
           os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


# --- the sf-shaped relational tables -----------------------------------------

SF_ROWS = {  # rows at sf0.1 (FIXTURES.md "Row counts")
    "supplier": 1_000, "customer": 15_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["PROMO", "SMALL", "LARGE", "MEDIUM", "ECONOMY", "STANDARD"]
_ADJ = ["cold", "warm", "blue", "red", "tiny", "huge", "soft", "hard"]
_NOUN = ["widget", "gadget", "bolt", "panel", "valve", "gear", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "the fast key order sort table scan merge part window join hash "
    "index page row column batch query plan cost node tree leaf block "
    "cache disk read write lock log shard"
).split()  # 31 words, as in the testdata documents table
_MS_DAY = 86_400_000


def _ms(date: str) -> int:
    return int(np.datetime64(date, "ms").astype("i8"))


def _choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _ts_ms(vals: np.ndarray) -> pa.Array:
    return pa.array(vals.astype("i8"), type=pa.timestamp("ms"))


def write_sf_tables(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the ten testdata tables at ``scale`` × sf0.1 row counts."""
    rows = {t: max(10, int(round(n * scale))) for t, n in SF_ROWS.items()}
    def w(name, tbl):
        write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    w("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="i4")),
        "r_name": pa.array(_REGIONS),
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="i4")),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="i4") % 5),
    }))

    n_s = rows["supplier"]
    rng = _rng(seed, "supplier")
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype="i8")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype("i4")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
    }))

    n_c = rows["customer"]
    rng = _rng(seed, "customer")
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype="i8")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype("i4")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_c),
    }))

    n_p = rows["part"]
    rng = _rng(seed, "part")
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, len(_ADJ), n_p)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, len(_NOUN), n_p)]
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype="i8")),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_p)]),
        "p_type": _choice(rng, _PTYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype("i4")),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 2100.0, n_p), 2)),
    }))

    n_o = rows["orders"]
    rng = _rng(seed, "orders")
    # every customer gets >= 1 order (FIXTURES fact 1), the rest are random
    o_cust = np.concatenate([
        np.arange(min(n_c, n_o)), rng.integers(0, n_c, max(0, n_o - n_c))
    ])[rng.permutation(n_o)].astype("i8")
    lo, hi = _ms("1995-01-01"), _ms("2001-08-01")
    o_date = lo + rng.integers(0, (hi - lo) // _MS_DAY, n_o) * _MS_DAY
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype="i8")),
        "o_custkey": pa.array(o_cust),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n_o),
        "o_totalprice": pa.array(np.round(rng.uniform(1013.0, 499979.0, n_o), 2)),
        "o_orderdate": _ts_ms(o_date),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_o),
    }))

    n_l = rows["lineitem"]
    rng = _rng(seed, "lineitem")
    l_order = np.sort(rng.integers(0, n_o, n_l)).astype("i8")
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_l), 0))
    qty = rng.integers(1, 51, n_l).astype("f8")
    w("lineitem", pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype("i8")),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype("i8")),
        "l_linenumber": pa.array((np.arange(n_l) - run_start + 1).astype("i4")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(19.0, 2100.0, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _choice(rng, ["O", "F"], n_l),
        "l_shipdate": _ts_ms(o_date[l_order] + rng.integers(1, 122, n_l) * _MS_DAY),
    }))

    n_e = rows["events"]
    rng = _rng(seed, "events")
    # user ids ⊆ customer keys (FIXTURES fact 2); ts inside January 2024
    ev_lo = np.datetime64("2024-01-01", "ns").astype("i8")
    span_ns = 29 * 86_400 * 10**9
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_e, dtype="i8")),
        "ts": pa.array(ev_lo + rng.integers(0, span_ns // 10**6, n_e) * 10**6,
                       type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(1, n_c // 10), n_e).astype("i8")),
        "event_type": _choice(rng, _EVENT_TYPES, n_e),
        "value": pa.array(np.round(rng.exponential(20.0, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    }))

    n_d = rows["documents"]
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_d):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            toks = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 90)))]
        texts.append(" ".join(toks))
    w("documents", pa.table({
        "doc_id": pa.array(np.arange(n_d, dtype="i8")),
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n_d),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_d)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="i8")),
    }))

    pts, lab, _ = clustered(seed, rows["embeddings"], 64, 10, spread=1.0,
                            what="embeddings")
    w("embeddings", embeddings_table(np.arange(len(pts)), pts, lab))
    return out_dir
