from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ome_arrow_spark.session import get_spark


def _default_driver_memory() -> str:
    """24g, or 40% of the host's physical memory where that is less.

    The FULL suite (mega-image tests + the oracle-parity sweep) exhausts
    an 8g driver JVM on a 32-thread box, so big hosts get 24g.  But the
    JVM grows its heap toward the cap before it collects: under a 24g
    cap on a 15.7 GB host without swap, test_8k_plane_pipeline alone
    took the JVM to 13.5 GB RSS and the host to 15.6 GB, and in the full
    suite the JVM died there (Py4J "Connection reset by peer"), failing
    every later test.  On that host the JVM's RSS runs ~2.3 GB above its
    heap (Arrow buffers of the jumbo rows) and the Python processes
    peak at ~5.5 GB together: with half the RAM as heap the full suite
    still peaked at 13.9 GB of java + python RSS; 40% leaves ~1.5 GB
    more.  An explicit SPARK_DRIVER_MEMORY still wins."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb * 2 // 5)}m"


os.environ.setdefault("SPARK_DRIVER_MEMORY", _default_driver_memory())

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ome-arrow-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
