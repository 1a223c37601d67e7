from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"
SF_T3 = os.path.join(os.path.dirname(SF_T2), "sf0.1")  # N=2,000


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
