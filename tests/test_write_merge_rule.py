"""Property test of the keyed write merge rule against a Python model.

The rules, as the table store documents them:

* ``upsert``: a batch row beats a delete key, and a delete key beats an
  existing row;
* ``insert``: existing rows win against the batch;
* inside one batch, the row with the smallest non-key tuple wins, NULLs
  sorting last.

Random batches carry duplicate keys, NULL non-key values, and delete
keys that overlap the batch or hit absent keys; each runs on a hash and
a range layout, and on both write paths: merged on the driver with
pyarrow, and in the staged Spark write (the ``driver_path`` fixture).
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hivekudu_handler_spark.sources.table_store import TableStore

SCHEMA = "id int, a int, b string"
LAYOUTS = {"hash": {}, "range": {"range_splits": [3, 7]}}

_key = st.integers(min_value=0, max_value=11)
_row = st.tuples(
    _key,
    st.one_of(st.none(), st.integers(min_value=-2, max_value=2)),
    st.sampled_from([None, "a", "b", "B"]),
)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def _winners(batch: list[tuple]) -> dict[int, tuple]:
    """One row per key: the smallest non-key tuple, NULLs last."""
    out: dict[int, tuple] = {}
    for row in sorted(
        batch, key=lambda r: tuple((v is None, v) for v in r[1:])
    ):
        out.setdefault(row[0], row[1:])
    return out


def _model_upsert(existing, batch, delete_keys) -> dict[int, tuple]:
    rows = {k: v for k, v in existing.items() if k not in set(delete_keys)}
    rows.update(_winners(batch))
    return rows


def _model_insert(existing, batch) -> dict[int, tuple]:
    return {**_winners(batch), **existing}


def test_keyed_writes_follow_the_merge_rule(spark, store, driver_path):
    names = itertools.count()

    def table(layout: str, existing: dict[int, tuple]) -> str:
        name = f"t{next(names)}"
        store.create_table(name, SCHEMA, ["id"], **LAYOUTS[layout])
        if existing:
            store.insert_values(name, [(k, *v) for k, v in existing.items()])
        return name

    def read(name: str) -> dict[int, tuple]:
        got = [(r["id"], (r["a"], r["b"])) for r in store.scan(name).collect()]
        assert len(got) == len({k for k, _ in got}), f"duplicate keys: {got}"
        return dict(got)

    @settings(max_examples=12, deadline=None)
    @given(
        existing=st.dictionaries(_key, _row.map(lambda r: r[1:]), max_size=8),
        batch=st.lists(_row, max_size=10),
        delete_keys=st.lists(_key, max_size=4),
    )
    def check(existing, batch, delete_keys):
        frame = spark.createDataFrame(batch, SCHEMA)
        for layout in LAYOUTS:
            up = table(layout, existing)
            store.upsert(
                up,
                frame,
                delete_keys=spark.createDataFrame(
                    [(k,) for k in delete_keys], "id int"
                ),
            )
            assert read(up) == _model_upsert(existing, batch, delete_keys), layout
            ins = table(layout, existing)
            store.insert(ins, frame)
            assert read(ins) == _model_insert(existing, batch), layout
            store.drop_table(up)
            store.drop_table(ins)

    check()
