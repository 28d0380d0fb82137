from __future__ import annotations

import pytest

from elastik_nearest_neighbors_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="enn-tests", cpus=8)
    yield s
    s.stop()
