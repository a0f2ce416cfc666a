from __future__ import annotations

import os

import pytest

from multiomics_biocypher_kg_spark.session import build_session

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def _test_driver_mem() -> str:
    """Half the host's RAM (2-16 GB) for the suite's one long-lived JVM.
    ParallelGC grows the heap toward its maximum over a long run, and a
    maximum above the host's RAM ends with the JVM killed mid-suite."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(2, min(16, ram_gb // 2))}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _test_driver_mem())
    s = build_session(app_name="kg-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
