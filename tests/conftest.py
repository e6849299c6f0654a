from __future__ import annotations

import os

import pytest
from hypothesis import settings

# property tests draw the same examples on every run (seeded from each
# test's own definition, no example database), so a cold checkout and a
# warm one test exactly the same inputs; per-test @settings keep their
# own example budgets
settings.register_profile("derandomized", derandomize=True)
settings.load_profile("derandomized")

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")


@pytest.fixture(scope="session")
def spark():
    from opendataloader_pdf_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
