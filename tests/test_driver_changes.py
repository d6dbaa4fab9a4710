"""Change reads served on the driver against the Spark plan.

``TableStore._change_events`` (behind ``diff``, ``changefeed`` and SQL
``CHANGES BETWEEN``) builds a small read's events with pyarrow
(``tablets.change_events``) and plans one scan and one window through
Spark otherwise.  These tests read the same store both ways (the Spark
way with the driver budget set to 0) and demand the same schema and
rows from every read, over the hash, range and hash-in-range layouts,
composite and STRING keys, a key-only table, a column added midway, and
NaN, -0.0, NULL images and byte-identical rewrites.
"""

from __future__ import annotations

import logging

import pytest

from hivekudu_handler_spark.sources import tablets
from hivekudu_handler_spark.sources.sql_ddl import sql
from hivekudu_handler_spark.sources.table_store import TableStore

LOGGER = "hivekudu_handler_spark"

LAYOUTS = {
    # name: (key columns DDL, key columns, value columns DDL, extra TBLPROPERTIES)
    "h_str": ("k STRING", "k", "s STRING, d DOUBLE, f FLOAT, ts TIMESTAMP, bin BINARY", ""),
    "r_int": ("k INT", "k", "s STRING, d DOUBLE, bo BOOLEAN", ", 'kudu.range_splits'='3,7'"),
    "hr_comp": (
        "a BIGINT, k STRING",
        "a,k",
        "s STRING, d DOUBLE, f FLOAT",
        ", 'kudu.range_splits'='2,6', 'kudu.hash_in_range'='2'",
    ),
    "keys_only": ("a INT, k STRING", "a,k", "", ", 'kudu.num_buckets'='3'"),
}

DOUBLES = ["CAST('NaN' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "0.0", "1.5"]


def _key(name: str, i: int) -> str:
    if name == "r_int":
        return str(i)
    return f"{i}, 'k{i:02d}'" if "," in LAYOUTS[name][1] else f"'k{i:02d}'"


def _row(name: str, i: int, tag: str, d: str | None = None, extra: str = "") -> str:
    """One VALUES tuple of ``name``: every value NULL on every fifth
    row, else NaN, -0.0, 0.0 or 1.5 among the doubles (``d``
    overrides); ``extra`` appends the added column."""
    cols = [c.split()[0] for c in LAYOUTS[name][2].split(",") if c]
    tail = f", {extra}" if extra else ""
    if i % 5 == 4:
        return f"({_key(name, i)}{', NULL' * len(cols)}{tail})"
    value = {
        "s": f"'{tag}{i}'",
        "d": d or DOUBLES[i % 4],
        "f": f"CAST('{'NaN' if i % 3 == 0 else i / 4}' AS FLOAT)",
        "ts": f"TIMESTAMP'2024-01-1{i % 10} 0{i % 10}:30:00.{i:06d}'",
        "bin": f"X'{i:02X}FF'",
        "bo": "true" if i % 2 else "false",
    }
    return f"({', '.join([_key(name, i), *[value[c] for c in cols]])}{tail})"


def _writes(name: str) -> list[str]:
    """The statements of one case, in order; each commits a version."""
    rows = lambda ids, tag, **kw: ", ".join(_row(name, i, tag, **kw) for i in ids)  # noqa: E731
    if not LAYOUTS[name][2]:
        return [
            f"INSERT INTO {name} VALUES {rows(range(8), 'v')}",
            f"DELETE FROM {name} WHERE a IN (1, 5)",
            f"INSERT INTO {name} VALUES {rows([1, 9, 10], 'v')}",
            f"DELETE FROM {name} WHERE a = 2",
        ]
    return [
        f"INSERT INTO {name} VALUES {rows(range(10), 'v')}",
        # 0 and 3 (NaN values) and 4 and 9 (NULL images) rewritten as
        # they are, 1 changes -0.0 to 0.0, which Spark's <=> reads as
        # equal; 2 changes, 10 and 11 are new
        f"UPSERT INTO {name} VALUES {rows([0, 3, 4, 9], 'v')}, "
        f"{_row(name, 1, 'v', d='0.0')}, {_row(name, 2, 'u')}, {rows([10, 11], 'n')}",
        # a byte-identical rewrite of every row
        f"UPDATE {name} SET s = s",
        f"DELETE FROM {name} WHERE s IN ('v5', 'n10')",
        f"ALTER TABLE {name} ADD COLUMN extra BIGINT",
        f"UPSERT INTO {name} VALUES {rows([5, 6], 'w', extra='7')}, "
        f"{_row(name, 12, 'w', d=DOUBLES[0], extra='NULL')}",
        f"UPDATE {name} SET d = 2.0 WHERE s = 'w6' OR s IS NULL",
    ]


def _canon(rows) -> list:
    def value(v):
        return repr(v) if isinstance(v, float) else v  # NaN and -0.0 as written

    return sorted((tuple(value(v) for v in r) for r in rows), key=repr)


def _both_ways(store, monkeypatch, read):
    """``read()``'s schema and rows on the driver path, which must be a
    local relation, after asserting the Spark path gives the same."""
    served = read()
    assert tablets.is_local(served)
    with monkeypatch.context() as m:
        m.setattr(store, "_driver_budget", lambda: 0)
        planned = read()
        assert not tablets.is_local(planned)
        want = (planned.schema, _canon(planned.collect()))
    got = (served.schema, _canon(served.collect()))
    assert got == want
    return got[1]


@pytest.mark.parametrize("name", sorted(LAYOUTS))
def test_driver_change_reads_equal_spark_plan(spark, tmp_path, monkeypatch, name):
    store = TableStore(spark, str(tmp_path / "wh"))
    key_ddl, keys, vals, props = LAYOUTS[name]
    cols = f"{key_ddl}, {vals}" if vals else key_ddl
    sql(store, f"CREATE TABLE {name} ({cols}) TBLPROPERTIES ('kudu.key_columns'='{keys}'{props})")
    for stmt in _writes(name):
        before = store.current_version(name)
        sql(store, stmt)
        assert stmt.startswith("ALTER") or store.current_version(name) == before + 1, stmt
    head = store.current_version(name)
    for a in range(head):
        for b in {a + 1, head}:
            _both_ways(store, monkeypatch, lambda: store.diff(name, a, b))
            _both_ways(store, monkeypatch, lambda: store.diff(name, b, a))
        _both_ways(store, monkeypatch, lambda: store.changefeed(name, a, head))
    feed = _both_ways(
        store, monkeypatch, lambda: sql(store, f"SELECT * FROM {name} CHANGES BETWEEN 0 AND {head}")
    )
    assert feed
    if vals:
        # the UPSERT of rows as they are and the UPDATE SET s = s give
        # no event, nor does -0.0 becoming 0.0
        upsert = store.diff(name, 1, 2).collect()
        assert sorted(r["_change_type"] for r in upsert) == [
            "insert", "insert", "update_after", "update_before"
        ]
        assert store.diff(name, 2, 3).collect() == []


def test_change_read_record_names_path_reason_files_and_bytes(spark, tmp_path, monkeypatch, caplog):
    store = TableStore(spark, str(tmp_path / "wh"))
    sql(store, "CREATE TABLE t (k BIGINT, v DOUBLE) TBLPROPERTIES ('kudu.key_columns'='k')")
    sql(store, "INSERT INTO t VALUES (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)")
    sql(store, "UPSERT INTO t VALUES (1, 9.0)")
    head = store.current_version("t")
    a = set(store._read_manifest("t", head - 1)["files"])
    b = set(store._read_manifest("t", head)["files"])
    changed = sorted(a ^ b)
    nbytes = sum((store._data_dir("t") / f).stat().st_size for f in changed)
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    for budget, path, reason in ((None, "driver", None), (0, "spark", "budget off")):
        with monkeypatch.context() as m:
            if budget is not None:
                m.setattr(store, "_driver_budget", lambda: budget)
            caplog.clear()
            sql(store, f"SELECT * FROM t CHANGES BETWEEN {head - 1} AND {head}")
            (rec,) = [r for r in caplog.records if r.getMessage().startswith("changes t ")]
            assert rec.levelno == logging.DEBUG
            assert (rec.table, rec.change_path, rec.reason) == ("t", path, reason)
            assert sorted(rec.files) == changed
            assert rec.bytes_read == nbytes
    # over budget: the Spark plan, named as such
    with monkeypatch.context() as m:
        m.setattr(store, "_driver_budget", lambda: nbytes - 1)
        caplog.clear()
        assert not tablets.is_local(store.diff("t", head - 1, head))
        (rec,) = [r for r in caplog.records if r.getMessage().startswith("changes t ")]
        assert (rec.change_path, rec.reason) == ("spark", "tablets over budget")
