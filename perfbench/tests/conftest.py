import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="session")
def spark():
    from mongodb_postproc_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()
