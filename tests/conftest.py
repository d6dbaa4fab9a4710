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
    """Run a test once with point reads and small keyed writes on the
    driver paths and once with both forced through Spark.  The Spark run
    sets the one driver budget, ``TableStore._driver_budget``, to 0; the
    conf it reads (``spark.sql.autoBroadcastJoinThreshold``) is left
    alone, so join planning is the same on both runs."""
    from hivekudu_handler_spark.sources.table_store import TableStore

    if request.param == "spark":
        monkeypatch.setattr(TableStore, "_driver_budget", lambda self: 0)
    return request.param
