import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmnetfusion_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="osmnetfusion-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
