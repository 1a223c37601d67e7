"""Round-7 additions (VERDICT r6 #5, ADVICE r6 items): accumulator
completeness invariant, layout-lock stale recovery + orphan cleanup,
knife-edge margin assertions for the tolerance-based ap_* parity."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest

from .conftest import SF_T2


# ---------------------------------------------------------------------------
# _combine_partials completeness invariant (VERDICT r6 #5)
# ---------------------------------------------------------------------------

def _mk_partial(ids, n_total=10):
    # colsum is full-width (N); diag arrays cover the partial's own rows
    return (
        np.zeros(n_total),
        np.asarray(ids, dtype="i8"),
        np.zeros(len(ids)),
        [],
    )


def test_combine_partials_accepts_full_cover():
    from affinity_propagation_mapreduce_spark.operators.ap_dense import (
        _combine_partials,
    )

    ids = np.arange(10, dtype="i8")
    parts = {0: _mk_partial(ids[:6]), 6: _mk_partial(ids[6:])}
    colsum, rkk = _combine_partials(parts, ids)
    assert colsum.shape == (10,) and rkk.shape == (10,)


def test_combine_partials_raises_on_dropped_partial():
    from affinity_propagation_mapreduce_spark.operators.ap_dense import (
        _combine_partials,
    )

    ids = np.arange(10, dtype="i8")
    with pytest.raises(RuntimeError, match="incomplete"):
        _combine_partials({0: _mk_partial(ids[:6])}, ids)


def test_combine_partials_raises_on_duplicated_partial():
    from affinity_propagation_mapreduce_spark.operators.ap_dense import (
        _combine_partials,
    )

    ids = np.arange(10, dtype="i8")
    parts = {0: _mk_partial(ids[:6]), 4: _mk_partial(ids[4:])}
    with pytest.raises(RuntimeError, match="incomplete"):
        _combine_partials(parts, ids)


# ---------------------------------------------------------------------------
# Layout lock: flock protocol (ADVICE r8 — replaced the unlink-steal
# protocol, whose TOCTOU window could remove a live successor's lock)
# ---------------------------------------------------------------------------

def test_layout_lock_mutual_exclusion_and_kernel_release(tmp_path):
    from affinity_propagation_mapreduce_spark.operators.events import (
        _flock_layout_lock,
        _release_layout_lock,
    )

    lock = str(tmp_path / "x.lock")
    fd = _flock_layout_lock(lock, deadline=time.time() + 5)
    # a second acquirer (same process, separate fd — flock semantics are
    # per-open-file-description) must time out while the lock is held
    with pytest.raises(RuntimeError, match="hard cap"):
        _flock_layout_lock(lock, deadline=time.time() - 1)
    _release_layout_lock(fd)
    # after release, acquisition succeeds immediately
    fd2 = _flock_layout_lock(lock, deadline=time.time() + 5)
    _release_layout_lock(fd2)


def test_layout_lock_released_on_sigkill(tmp_path):
    """A SIGKILLed holder must release the flock in the kernel — the
    property that removes the whole staleness/steal protocol."""
    import signal
    import subprocess
    import sys

    lock = str(tmp_path / "x.lock")
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import sys, time; sys.path.insert(0, %r); "
                "from affinity_propagation_mapreduce_spark.operators.events "
                "import _flock_layout_lock; "
                "_flock_layout_lock(%r, time.time() + 30); "
                "print('locked', flush=True); time.sleep(60)"
            )
            % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), lock),
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline().strip() == b"locked"
        os.kill(child.pid, signal.SIGKILL)
        child.wait(timeout=10)
        from affinity_propagation_mapreduce_spark.operators.events import (
            _flock_layout_lock,
            _release_layout_lock,
        )

        fd = _flock_layout_lock(lock, deadline=time.time() + 10)
        _release_layout_lock(fd)
    finally:
        if child.poll() is None:
            child.kill()


def test_layout_orphan_cleanup_age_gated(tmp_path):
    from affinity_propagation_mapreduce_spark.operators.events import (
        _LAYOUT_STALE_SEC,
        _clean_layout_orphans,
    )

    path = tmp_path / "events_by_type"
    keep = tmp_path / "events_by_type_other"
    fresh = tmp_path / "events_by_type.tmp-fresh"
    for d in (
        tmp_path / "events_by_type.dead-abc",
        tmp_path / "events_by_type.tmp-def",
        keep,
        fresh,
    ):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    old = time.time() - _LAYOUT_STALE_SEC - 5
    for d in (tmp_path / "events_by_type.dead-abc", tmp_path / "events_by_type.tmp-def"):
        os.utime(d, (old, old))
    _clean_layout_orphans(str(path))
    assert not (tmp_path / "events_by_type.dead-abc").exists()
    assert not (tmp_path / "events_by_type.tmp-def").exists()
    assert keep.exists()  # unrelated siblings untouched
    assert fresh.exists()  # young temp dir: possibly a live writer (age gate)


# ---------------------------------------------------------------------------
# Knife-edge margins (ADVICE r6): the blocked engine's availability sums
# in a different float order than the coordinate engine the oracle
# mirrors (observed delta 0, bounded ~1e-9 by test).  Exemplar election
# (a+r>0) and 3-decimal-rounded hashes only stay engine-independent if no
# value sits ON a decision boundary — assert real margins at the parity
# sf so a knife-edge dataset fails loudly instead of hash-diverging.
# ---------------------------------------------------------------------------

ENGINE_DELTA_BOUND = 1e-9
# 100× the bounded engine delta; the observed minimum boundary distance
# on the current sf0.01 data is 3.3e-7, so there is ~3× natural headroom
MARGIN = 1e-7


def test_ap_parity_values_clear_of_knife_edges(spark):
    from pyspark.sql import functions as F

    from affinity_propagation_mapreduce_spark.operators import ap

    first = ap._one_iteration_state(spark, SF_T2)
    # election margin: diagonal a+r on the final state
    d = ap._dense(spark, SF_T2)
    final = d.coordinate_view(d.chain(ap.T_DEFAULT, retain=False)[-1])
    elect = (
        final.where(F.col("i") == F.col("k"))
        .select(F.min(F.abs(F.col("a") + F.col("r"))).alias("m"))
        .first()
        .m
    )
    assert elect > MARGIN, f"exemplar election within {elect} of a+r=0"
    # rounding margin: every hashed-rounded availability (iteration 1 and
    # final — the states ap_availability / ap_iterate_once hash) must sit
    # clear of the nearest 0.0005 round-at-3 boundary
    for state in (first, final):
        d = (
            state.select(
                F.min(
                    F.abs(
                        (F.col("a") * 1000 - F.floor(F.col("a") * 1000)) - 0.5
                    )
                ).alias("m")
            )
            .first()
            .m
        )
        assert d / 1000 > MARGIN, (
            f"rounded availability within {d / 1000} of a .0005 boundary"
        )
