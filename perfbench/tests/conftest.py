"""Tests of the benchmark harness's own logic.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent.parent), str(HERE.parent)]


@pytest.fixture(scope="session")
def spark():
    from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import (
        get_spark,
    )

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
