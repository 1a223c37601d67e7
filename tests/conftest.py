from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale tests (above-gate executions)"
    )


# r16 (verdict r15 next-round #2): the full suite outgrew the driver's
# verification budget (41:43 wall; VERIFY_r15 tests_ok=false because the
# run was cut off mid-progress).  Tests measured >= 4 s (setup+call+
# teardown, quiet 32-core run — regenerate with
#   pytest -q --durations=0 | awk-aggregate >= 4.0 > tests/slow_tests.txt
# ) are auto-marked `slow`; pytest.ini deselects them by default so the
# driver's bare `pytest tests/ -x -q` finishes in ~10 min.  The builder
# runs the FULL tier with:  python -m pytest tests/ -m "slow or not slow"
_SLOW_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")


_SLOW_COLLECTED = pytest.StashKey[int]()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say what the default tier left out: selection itself is
    pytest.ini's ``-m "not slow"``; this only reports it."""
    n = config.stash.get(_SLOW_COLLECTED, 0)
    if n and config.getoption("markexpr") == "not slow":
        terminalreporter.write_line(
            f'{n} slow tests deselected by the default tier (-m "not slow"); '
            'full tier: python -m pytest tests/ -m "slow or not slow"'
        )


def _stale_slow_ids(config, slow: set, nodeids: set) -> list:
    """Slow-list ids whose file was collected whole but which name no
    collected test: a renamed or deleted test would otherwise leave the
    slow tier silently.  Files narrowed to single tests by node-id
    arguments, or by ``--lf``, are not checked."""
    if config.getoption("lf", default=False):
        return []
    base, root = config.invocation_params.dir, config.rootpath
    narrowed = {
        os.path.relpath(os.path.join(base, a.split("::")[0]), root).replace("\\", "/")
        for a in config.args
        if "::" in a
    }
    files = {nid.split("::")[0] for nid in nodeids} - narrowed
    return sorted(nid for nid in slow - nodeids if nid.split("::")[0] in files)


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as fh:
            slow = {ln.strip() for ln in fh if ln.strip()}
    except OSError:
        return
    nodeids = set()
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if not nodeid.startswith("tests/"):
            nodeid = "tests/" + nodeid.split("tests/")[-1]
        nodeids.add(nodeid)
        if nodeid in slow:
            item.add_marker(pytest.mark.slow)
    stale = _stale_slow_ids(config, slow, nodeids)
    if stale:
        raise pytest.UsageError(
            f"{len(stale)} id(s) in tests/slow_tests.txt name no collected "
            "test of a collected file (renamed or deleted?): " + ", ".join(stale)
        )
    config.stash[_SLOW_COLLECTED] = sum(
        1 for item in items if item.get_closest_marker("slow") is not None
    )


@pytest.fixture(scope="session")
def spark():
    from affinity_propagation_mapreduce_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session", autouse=True)
def ann_index_base(tmp_path_factory):
    """Each test session builds its own ANN layouts: the default base
    outlives the process, and a layout there is keyed by its input data
    and format version, not by the code that wrote it."""
    from affinity_propagation_mapreduce_spark.operators import ann_index

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ann_index, "_INDEX_BASE", str(tmp_path_factory.mktemp("ann")))
        yield
