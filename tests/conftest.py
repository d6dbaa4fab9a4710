from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hivekudu_handler_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(params=["driver", "spark"])
def driver_path(request, monkeypatch):
    """Run a test once with point reads, small keyed writes and small
    change reads on the driver paths and once with all of them forced
    through Spark (:func:`spark_path`)."""
    if request.param == "spark":
        _budget_off(monkeypatch)
    return request.param


@pytest.fixture()
def spark_path(monkeypatch):
    """Force every request the driver could serve through Spark: the
    Spark run of :func:`driver_path`, for tests that pin the Spark
    plan itself (the plan an over-budget request still runs)."""
    _budget_off(monkeypatch)


def _budget_off(monkeypatch):
    """Set the one driver budget, ``TableStore._driver_budget``, to 0;
    the conf it reads (``spark.sql.autoBroadcastJoinThreshold``) is left
    alone, so join planning is the same on both paths."""
    from hivekudu_handler_spark.sources.table_store import TableStore

    monkeypatch.setattr(TableStore, "_driver_budget", lambda self: 0)
