import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from eristropy_spark.runtime.session import get_spark

    s = get_spark(app_name="eristropy-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
