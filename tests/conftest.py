from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from stractt_spark.session import get_spark

    s = get_spark(app_name="stractt-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_site(monkeypatch):
    """Pin every search to the Spark site (the cogroup job) for tests
    that assert its plan: no estimate is below a driver-site constant of
    0."""
    from stractt_spark.operators import wand

    monkeypatch.setattr(wand, "DRIVER_SITE_POSTINGS", 0)
