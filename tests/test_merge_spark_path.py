"""The table layer's MERGE tests once more with every driver path off.

``tests/test_table_layer.py`` runs each ``test_sql_merge_*`` test with
the driver paths on, so a MERGE from a VALUES source runs on the driver
(``TableStore.upsert``).  This module collects the same functions again
under the :func:`spark_path` fixture, so each statement also runs the
relational plan every other MERGE takes.  The one test that stubs
``TableStore.upsert`` runs no MERGE path and is not repeated.
"""

from __future__ import annotations

import pytest

from tests import test_table_layer as layer

store = layer.store

globals().update(
    {
        name: getattr(layer, name)
        for name in dir(layer)
        if name.startswith("test_sql_merge_")
        and name != "test_sql_merge_runs_no_action_outside_the_single_upsert"
    }
)


@pytest.fixture(autouse=True)
def _on_spark(spark_path):
    """Every test here runs with the driver budget at 0."""
