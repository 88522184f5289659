from __future__ import annotations

import pytest

from ycrawl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ycrawl_tests", shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()
