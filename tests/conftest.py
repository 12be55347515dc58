import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from colonnade_spark.session import get_spark

    s = get_spark("colonnade_spark_tests", cores=4, driver_mem="8g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
