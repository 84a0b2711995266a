from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from kol_bigdata_realtime_analytics_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def cc_distributed(spark, monkeypatch):
    """Forces duplicate_clusters onto its distributed min-label loop and
    yields the calls made to toLocalIterator, which only the driver
    union-find branch uses — a test asserts the list stays empty. The
    bound is -1, not 0: an empty edge set passes `2 * n_sym <= 0` and
    would still take the union-find branch."""
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "-1")
    cls = type(spark.range(0))
    real = cls.toLocalIterator
    calls = []

    def spy(self, *args, **kwargs):
        calls.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "toLocalIterator", spy)
    list(spark.range(1).toLocalIterator())
    assert len(calls) == 1  # the spy sits on the session's DataFrame class
    calls.clear()
    yield calls


SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
