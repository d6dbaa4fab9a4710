"""MERGE served on the driver against the relational plan, and the one
query path every SQL query takes.

``TableStore.upsert`` takes a MERGE as a ``sql_ddl.MergeSpec``.  When
its source optimizes to a local relation, ON is a whole-key equality,
no clause is NOT MATCHED BY SOURCE and the source keys' tablets fit the
driver budget, the store joins in pyarrow and the clause frames are
local relations (no Spark job); every other MERGE runs the relational
plan.  These tests pin each fallback reason, the guards on the driver
path, the DEBUG record, and the query path's view registration and
``__cf_`` view cleanup (``sql_ddl._query``).
"""

from __future__ import annotations

import logging

import pytest

from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, _names_relation, sql
from hivekudu_handler_spark.sources.table_store import TableStore

LOGGER = "hivekudu_handler_spark"

VALUES_SOURCE = "(SELECT * FROM VALUES (1, 'x'), (9, 'z') AS v(id, name)) AS s"
UPDATE_INSERT = (
    "WHEN MATCHED THEN UPDATE SET name = s.name WHEN NOT MATCHED THEN INSERT *"
)


@pytest.fixture()
def store(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    sql(store, "CREATE TABLE t (id INT, name STRING) TBLPROPERTIES ('kudu.key_columns'='id')")
    sql(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    return store


def _rows(store, name="t"):
    return sorted(tuple(r) for r in store.scan(name).collect())


def _merge_record(caplog, table="t"):
    (rec,) = [r for r in caplog.records if r.getMessage().startswith(f"merge {table} ")]
    return rec


def _jobs(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _data_files(store, name="t"):
    return sorted(p for p in store._data_dir(name).rglob("*") if p.is_file())


def test_merge_record_names_path_reason_and_rows(spark, store, monkeypatch, caplog):
    """One DEBUG record per MERGE, in the shape of the write record: the
    driver path counts the source rows and the matched rows; the Spark
    path names why, and counts nothing it did not collect."""
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    sql(store, f"MERGE INTO t USING {VALUES_SOURCE} ON t.id = s.id {UPDATE_INSERT}")
    rec = _merge_record(caplog)
    assert rec.levelno == logging.DEBUG
    assert rec.getMessage() == "merge t on the driver"
    assert (rec.table, rec.merge_path, rec.reason) == ("t", "driver", None)
    assert (rec.source_rows, rec.matched) == (2, 1)
    monkeypatch.setattr(store, "_driver_budget", lambda: 0)
    caplog.clear()
    sql(store, f"MERGE INTO t USING {VALUES_SOURCE} ON t.id = s.id {UPDATE_INSERT}")
    rec = _merge_record(caplog)
    assert rec.getMessage() == "merge t on the spark (budget off)"
    assert (rec.merge_path, rec.reason, rec.source_rows, rec.matched) == (
        "spark", "budget off", None, None
    )
    assert _rows(store) == [(1, "x"), (2, "b"), (3, "c"), (9, "z")]


def _over_budget(store, monkeypatch):
    """A budget the 2-row source fits and the table's tablets do not."""
    smallest = min((store._data_dir("t") / f).stat().st_size for f in store._head("t")[1])
    monkeypatch.setattr(store, "_driver_budget", lambda: smallest - 1)


def _table_source(store, monkeypatch):
    sql(store, "CREATE TABLE src (id INT, name STRING) TBLPROPERTIES ('kudu.key_columns'='id')")
    sql(store, "INSERT INTO src VALUES (1, 'x'), (9, 'z')")


FALLBACKS = {
    # reason: (statement, setup, rows the model leaves)
    "source not local": (
        f"MERGE INTO t USING src AS s ON t.id = s.id {UPDATE_INSERT}",
        _table_source,
        [(1, "x"), (2, "b"), (3, "c"), (9, "z")],
    ),
    "on clause": (
        # a non-key ON: 'a' matches id 1 by name; 'q' matches nothing
        "MERGE INTO t USING (SELECT * FROM VALUES (7, 'a'), (8, 'q') AS v(id, name)) AS s "
        "ON t.name = s.name WHEN MATCHED THEN UPDATE SET name = 'hit' "
        "WHEN NOT MATCHED THEN INSERT *",
        None,
        [(1, "hit"), (2, "b"), (3, "c"), (8, "q")],
    ),
    "by source clause": (
        f"MERGE INTO t USING {VALUES_SOURCE} ON t.id = s.id {UPDATE_INSERT} "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN DELETE",
        None,
        [(1, "x"), (3, "c"), (9, "z")],
    ),
    "tablets over budget": (
        f"MERGE INTO t USING {VALUES_SOURCE} ON t.id = s.id {UPDATE_INSERT}",
        _over_budget,
        [(1, "x"), (2, "b"), (3, "c"), (9, "z")],
    ),
}


@pytest.mark.parametrize("reason", sorted(FALLBACKS))
def test_merge_falls_back_to_spark(spark, store, monkeypatch, caplog, reason):
    """Each MERGE the driver may not serve takes the relational plan, says
    why, and leaves the rows ANSI MERGE leaves."""
    text, setup, want = FALLBACKS[reason]
    if setup is not None:
        setup(store, monkeypatch)
    v = store.current_version("t")
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    sql(store, text)
    rec = _merge_record(caplog)
    assert (rec.merge_path, rec.reason) == ("spark", reason)
    assert _rows(store) == want
    assert store.current_version("t") == v + 1


def test_driver_merge_cardinality_violation_writes_nothing(spark, store, caplog):
    """Two source rows claiming one target row raise on the driver path as
    on the Spark path: the guard fires while the clause frames are
    collected, before anything is staged, and starts no job — no file is
    added to data/ and no version is committed."""
    files, v = _data_files(store), store.current_version("t")
    caplog.set_level(logging.DEBUG, logger=LOGGER)

    def merge():
        with pytest.raises(SqlDdlError, match="cardinality"):
            sql(
                store,
                "MERGE INTO t USING (SELECT * FROM VALUES (1, 'x'), (1, 'y'), (9, 'z') "
                "AS v(id, name)) AS s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET name = s.name WHEN NOT MATCHED THEN INSERT *",
            )

    assert _jobs(spark, "driver-merge-violation", merge) == 0
    assert not [r for r in caplog.records if r.getMessage().startswith("write t ")]
    assert _data_files(store) == files
    assert not list((store._dir("t") / "staging").glob("*"))
    assert store.current_version("t") == v
    assert _rows(store) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_resolves_aliases_bare_names_and_claims(spark, store, driver_path):
    """On both paths the clause expressions resolve ``t.c``, ``s.c`` and a
    bare name only one side has; a key matched by two source rows of which
    one is claimed is no violation; a NULL source key matches nothing.  On
    the driver the statement starts no job."""
    jobs = _jobs(spark, f"merge-names-{driver_path}", lambda: sql(
        store,
        "MERGE INTO t AS tt USING (SELECT * FROM VALUES "
        "(1, 'x', 0), (1, 'y', 1), (2, 'w', 1), (CAST(NULL AS INT), 'n', 1) "
        "AS v(id, label, cur)) AS s ON tt.id = s.id "
        "WHEN MATCHED AND cur = 1 AND tt.name = 'a' THEN UPDATE SET name = concat(name, label) "
        "WHEN MATCHED AND s.cur = 1 THEN DELETE",
    ))
    assert _rows(store) == [(1, "ay"), (3, "c")]
    assert jobs == 0 if driver_path == "driver" else jobs > 0


def _register_counter(store, monkeypatch):
    calls = []
    register = TableStore.register_views

    def counted(self, *names):
        calls.append(names)
        return register(self, *names)

    monkeypatch.setattr(TableStore, "register_views", counted)
    return calls


def test_values_source_registers_no_views(spark, store, monkeypatch):
    calls = _register_counter(store, monkeypatch)
    sql(store, f"MERGE INTO t USING {VALUES_SOURCE} ON t.id = s.id {UPDATE_INSERT}")
    assert calls == []
    assert sql(store, "SELECT 1 AS one").collect() == [(1,)]
    assert calls == []
    assert _rows(store) == [(1, "x"), (2, "b"), (3, "c"), (9, "z")]


@pytest.mark.parametrize(
    "source, want",
    [
        # a comma join whose second relation a FROM/JOIN scan misses
        (
            "SELECT v.x AS id, y.label AS name FROM VALUES (1) AS v(x), kv y WHERE y.k = v.x",
            [(1, "one"), (2, "b"), (3, "c")],
        ),
        (
            "SELECT * FROM VALUES (2, 'in'), (5, 'out') AS v(id, name) "
            "WHERE id IN (SELECT k FROM kv)",
            [(1, "a"), (2, "in"), (3, "c")],
        ),
        (
            "WITH c AS (SELECT k AS id, label AS name FROM kv) SELECT * FROM c",
            [(1, "one"), (2, "two"), (3, "c")],
        ),
    ],
)
def test_sources_naming_a_table_register_views(spark, store, monkeypatch, source, want):
    sql(store, "CREATE TABLE kv (k INT, label STRING) TBLPROPERTIES ('kudu.key_columns'='k')")
    sql(store, "INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    calls = _register_counter(store, monkeypatch)
    sql(
        store,
        f"MERGE INTO t USING ({source}) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name",
    )
    assert calls == [()]
    assert _rows(store) == want


def test_clause_subquery_reads_the_table_as_it_is_now(spark, store, monkeypatch, driver_path):
    """A VALUES source names no table, but a clause condition may: its
    subquery reads the table's current rows, not a view registered before
    the table last changed."""
    sql(store, "CREATE TABLE kv (k INT, label STRING) TBLPROPERTIES ('kudu.key_columns'='k')")
    sql(store, "INSERT INTO kv VALUES (1, 'one')")
    assert sql(store, "SELECT count(*) FROM kv").collect() == [(1,)]  # registers kv
    sql(store, "INSERT INTO kv VALUES (2, 'two')")
    calls = _register_counter(store, monkeypatch)
    sql(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1, 'x'), (2, 'y') AS v(id, name)) AS s "
        "ON t.id = s.id WHEN MATCHED AND s.id IN (SELECT k FROM kv WHERE k > 1) "
        "THEN UPDATE SET name = s.name",
    )
    assert calls == [()]
    assert _rows(store) == [(1, "a"), (2, "y"), (3, "c")]


def test_identifier_read_sees_a_later_write(spark, store):
    """``IDENTIFIER('kv')`` names its table only at analysis; the query
    path still registers the views, so the read is not served by a view
    registered before the last write."""
    sql(store, "CREATE TABLE kv (k INT, label STRING) TBLPROPERTIES ('kudu.key_columns'='k')")
    sql(store, "INSERT INTO kv VALUES (1, 'one')")
    assert sql(store, "SELECT count(*) FROM kv").collect() == [(1,)]  # registers kv
    sql(store, "INSERT INTO kv VALUES (2, 'two')")
    got = sql(store, "SELECT k, label FROM IDENTIFIER('kv')").collect()
    assert sorted(tuple(r) for r in got) == [(1, "one"), (2, "two")]


def test_names_relation_by_spark_parser(spark):
    """Registration is skipped only for a query the parser reads as naming
    no relation; a CTE, a command and a text it rejects all register."""
    assert not _names_relation(spark, "SELECT * FROM VALUES (1) AS v(x) WHERE x > 0")
    assert _names_relation(spark, "SELECT * FROM VALUES (1) AS v(x), kv y")
    assert _names_relation(spark, "WITH c AS (SELECT 1 AS x) SELECT * FROM VALUES (2) AS v(x)")
    assert _names_relation(spark, "SELECT * FROM IDENTIFIER('kv')")
    assert _names_relation(spark, "SELECT 1 WHERE 1 IN (SELECT k FROM IDENTIFIER('kv'))")
    assert _names_relation(spark, "SELECT * FROM TABLE(IDENTIFIER('kv'))")
    assert _names_relation(spark, "EXPLAIN SELECT 1")
    assert _names_relation(spark, "SELECT FROM WHERE (")


def _cf_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("__cf_")]


def test_changes_between_views_are_dropped_after_analysis(spark, store, driver_path):
    """Each distinct range binds a ``__cf_`` view holding its rows; the
    query path drops it once the statement is analyzed, and the SELECT,
    the ``INSERT … SELECT`` and the MERGE source still read the range."""
    sql(store, "UPSERT INTO t VALUES (1, 'a1'), (4, 'd')")  # v2
    sql(store, "DELETE FROM t WHERE id = 2")  # v3
    sql(store, "CREATE TABLE log (id INT, kind STRING) TBLPROPERTIES ('kudu.key_columns'='id')")
    sql(store, "CREATE TABLE m (id INT, name STRING) TBLPROPERTIES ('kudu.key_columns'='id')")
    feed = sql(store, "SELECT id, _change_type FROM t CHANGES BETWEEN 1 AND 2")
    assert _cf_views(spark) == []
    assert sorted(tuple(r) for r in feed.collect()) == [
        (1, "update_after"), (1, "update_before"), (4, "insert")
    ]
    sql(
        store,
        "INSERT INTO log SELECT id, _change_type FROM t CHANGES BETWEEN 2 AND 3",
    )
    assert _cf_views(spark) == []
    assert _rows(store, "log") == [(2, "delete")]
    sql(
        store,
        "MERGE INTO m USING (SELECT id, name FROM t CHANGES BETWEEN 1 AND 3 "
        "WHERE _change_type = 'insert') AS s ON m.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert _cf_views(spark) == []
    assert _rows(store, "m") == [(4, "d")]
