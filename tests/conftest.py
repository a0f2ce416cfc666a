from __future__ import annotations

import pytest

from multiomics_biocypher_kg_spark.session import build_session

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="kg-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
