"""Point SELECTs served on the driver (``TableStore.fetch``).

An exact key-equality SELECT through ``sql_ddl.sql`` is answered by
reading the key's tablet with pyarrow; every other statement runs
through Spark SQL as before.  These tests run each served statement both
ways and demand the same schema (names, types, nullability) and rows,
check the driver-side bucket twin against Spark's ``xxhash64``, count
the Spark jobs of a served read, and pin every shape that must still go
to Spark.
"""

from __future__ import annotations

import logging
import uuid

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.sources import tablets
from hivekudu_handler_spark.sources.sql_ddl import sql
from hivekudu_handler_spark.sources.table_store import (
    NotFetchable,
    TableMeta,
    TableStore,
)
from hivekudu_handler_spark.sources.tablets import hash_py, tablet_py

LOGGER = "hivekudu_handler_spark"

TABLES = {
    # name: (columns, extra TBLPROPERTIES)
    "h_big": ("k BIGINT, v STRING, n INT", ""),
    "h_int": ("k INT, v STRING, n INT", ", 'kudu.num_buckets'='3'"),
    "h_str": ("k STRING, v STRING, n INT", ""),
    "h_comp": ("a INT, b STRING, v STRING, n INT", ""),
    "r_int": ("k INT, v STRING, n INT", ", 'kudu.range_splits'='-5,10,20'"),
    "r_str": ("k STRING, v STRING, n INT", ", 'kudu.range_splits'='g,p'"),
    "hr_comp": (
        "a BIGINT, b STRING, v STRING, n INT",
        ", 'kudu.range_splits'='0,15', 'kudu.hash_in_range'='3'",
    ),
}
KEYS = {"h_comp": "a,b", "hr_comp": "a,b"}

INTS = [-12, -5, 0, 3, 7, 10, 11, 19, 20, 25]
STRS = ["", "a", "g", "gz", "k", "p", "zz", "é", "日本", "a b"]


def _key_sql(name: str, i: int) -> str:
    if name in KEYS:
        return f"{INTS[i]}, '{STRS[i]}'"
    return f"'{STRS[i]}'" if name.endswith("_str") else str(INTS[i])


def _where(name: str, i: int, upper: bool = False) -> str:
    a, b, k = ("A", "B", "K") if upper else ("a", "b", "k")
    if name in KEYS:
        return f"{a} = {INTS[i]} AND {b} = '{STRS[i]}'"
    lit = f"'{STRS[i]}'" if name.endswith("_str") else str(INTS[i])
    return f"{k} = {lit}"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Every layout, written through UPSERT, DELETE, ALTER ADD COLUMN,
    RENAME COLUMN and VACUUM: rows 0-7 inserted, 0-2 and 8 upserted, 3
    deleted, a column added and the value column renamed."""
    wh = TableStore(spark, str(tmp_path_factory.mktemp("fetch") / "wh"))
    for name, (cols, props) in TABLES.items():
        keys = KEYS.get(name, "k")
        sql(wh, f"CREATE TABLE {name} ({cols}) TBLPROPERTIES ('kudu.key_columns'='{keys}'{props})")
        rows = ", ".join(f"({_key_sql(name, i)}, 'v{i}', {i})" for i in range(8))
        sql(wh, f"INSERT INTO {name} VALUES {rows}")
        sql(wh, f"ALTER TABLE {name} ADD COLUMN extra BIGINT")
        ups = ", ".join(f"({_key_sql(name, i)}, 'u{i}', {10 + i}, {100 + i})" for i in (0, 1, 2, 8))
        sql(wh, f"UPSERT INTO {name} VALUES {ups}")
        sql(wh, f"DELETE FROM {name} WHERE {_where(name, 3)}")
        sql(wh, f"ALTER TABLE {name} RENAME COLUMN v TO val")
        sql(wh, f"VACUUM {name} RETAIN 1 VERSIONS")
    return wh


def _canon(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _jobs(spark, action):
    """(result of ``action()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"fetch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _same_both_ways(store, q: str) -> list:
    served = sql(store, q)
    assert _local(served), q
    store.register_views()
    ref = store.spark.sql(q)
    assert served.schema == ref.schema, q
    got = _canon(served.collect())
    assert got == _canon(ref.collect()), q
    return got


@pytest.mark.parametrize("name", sorted(TABLES))
def test_fetch_matches_spark_path(store, name):
    key_cols = KEYS.get(name, "k").split(",")
    selects = [
        "*",
        ", ".join([*key_cols, "val", "n", "extra"]),
        "extra, val",
        ", ".join(c.upper() for c in [*key_cols, "val"]),
    ]
    hits = 0
    for i in range(10):  # 0-2 upserted, 3 deleted, 4-7 inserted, 8 new, 9 never
        q = f"SELECT {selects[i % len(selects)]} FROM {name} WHERE {_where(name, i)}"
        hits += len(_same_both_ways(store, q))
    assert hits == 8
    q = f"SELECT * FROM {name.upper()} WHERE {_where(name, 8, upper=True)}"
    assert len(_same_both_ways(store, q)) == 1


def test_key_order_and_negative_literal(store):
    q = "SELECT val, n FROM hr_comp WHERE b = 'a' AND a = -5"
    assert _same_both_ways(store, q) == [("u1", 11)]
    assert len(_same_both_ways(store, "SELECT * FROM r_int WHERE k = - 12")) == 1
    assert _same_both_ways(store, "select k from h_big where k = 9223372036854775807") == []


def test_served_select_starts_no_job(spark, store):
    rows, n = _jobs(spark, lambda: sql(store, "SELECT * FROM h_big WHERE k = 7").collect())
    assert n == 0 and [r.k for r in rows] == [7]
    rows, n = _jobs(spark, lambda: sql(store, "SELECT val FROM hr_comp WHERE a = 11 AND b = 'é'").collect())
    assert n == 0 and rows == []


def test_fetch_finds_every_key_of_a_tablet_of_many_files(spark, tmp_path, driver_path):
    """Three INSERTs append one file per tablet each; a point read of
    any key finds its row, though pyarrow's filtered read of the
    tablet gives an empty batch for each file without the key."""
    wh = TableStore(spark, str(tmp_path / "wh"))
    sql(wh, "CREATE TABLE t (k BIGINT, v STRING) TBLPROPERTIES ('kudu.key_columns'='k', 'kudu.num_buckets'='4')")
    for i in range(3):
        rows = ", ".join(f"({k}, 'v{k}')" for k in range(20 * i, 20 * i + 20))
        sql(wh, f"INSERT INTO t VALUES {rows}")
    meta = wh.table_meta("t")
    per_tablet = {}
    for rel in wh._head("t")[1]:
        per_tablet.setdefault(wh._tablet_of(meta, rel), []).append(rel)
    assert max(len(rels) for rels in per_tablet.values()) == 3
    for k in range(60):
        got = [tuple(r) for r in sql(wh, f"SELECT * FROM t WHERE k = {k}").collect()]
        assert got == [(k, f"v{k}")], k


@pytest.mark.parametrize("layout", [[2, 0, 2], [0, 0, 2], [0], []], ids=str)
def test_arrow_frame_keeps_rows_after_an_empty_batch(spark, layout):
    """A local frame holds every row of its Arrow table, whatever empty
    batches the table holds, and a table of no rows gives an empty
    frame of the given schema."""
    schema = T.StructType([T.StructField("k", T.LongType())])
    batches = [pa.record_batch([pa.array(range(n), pa.int64())], names=["k"]) for n in layout]
    table = pa.Table.from_batches(batches, schema=pa.schema([("k", pa.int64())]))
    df = tablets.arrow_frame(spark, table, schema)
    assert df.schema == schema
    assert sorted(r.k for r in df.collect()) == sorted(k for n in layout for k in range(n))


FALL_THROUGH = [
    "SELECT * FROM h_big WHERE k = 7 OR k = 8",
    "SELECT * FROM h_big WHERE k IN (7)",
    "SELECT * FROM h_big WHERE k = CAST(7 AS BIGINT)",
    "SELECT * FROM h_big WHERE k = 7 LIMIT 1",
    "SELECT k AS x FROM h_big WHERE k = 7",
    "SELECT t.k FROM h_big t WHERE t.k = 7",
    "SELECT * FROM h_big VERSION AS OF {version} WHERE k = 7",
    "SELECT * FROM h_big WHERE k = 7 AND n = 7",
    "SELECT k, k FROM h_big WHERE k = 7",
    "SELECT * FROM h_big WHERE k = 7 AND k = 7",
    "SELECT * FROM h_big WHERE k = '7'",
    "SELECT * FROM h_big WHERE k = 7L",
    "SELECT * FROM h_big WHERE k = 7 -- c",
    "SELECT `k` FROM h_big WHERE k = 7",
    "SELECT * FROM h_str WHERE k = 'it''s'",
    "SELECT * FROM h_str WHERE k = 'a\\\\b'",
    'SELECT * FROM h_str WHERE k = "a"',
    "SELECT * FROM h_comp WHERE a = 1",
    "SELECT * FROM v_big WHERE k = 7",
    "SELECT * FROM ext WHERE k = 7",
    "SELECT * FROM parted WHERE k = 7",
    "SELECT * FROM nonstore WHERE k = 7",
]


def test_other_shapes_go_to_spark(spark, store, tmp_path, caplog):
    spark.range(10).toDF("k").write.parquet(str(tmp_path / "ext"))
    store.attach_external("ext", str(tmp_path / "ext"), ["k"])
    store.create_view("v_big", "SELECT * FROM h_big")
    sql(store, "CREATE TABLE parted (k BIGINT, p STRING) TBLPROPERTIES ('kudu.key_columns'='k', 'kudu.partition_by'='p')")
    sql(store, "INSERT INTO parted VALUES (7, 'x')")
    spark.range(10).toDF("k").createOrReplaceTempView("nonstore")
    version = store.current_version("h_big")
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    for q in FALL_THROUGH:
        df = sql(store, q.format(version=version))
        assert not _local(df), q
        assert "LocalTableScan" not in df._jdf.queryExecution().executedPlan().toString(), q
    assert sql(store, "SELECT * FROM parted WHERE k = 7").collect() == [(7, "x")]
    # a literal outside the key's type goes to Spark too, whose optimizer
    # folds the comparison to an empty local relation of its own
    assert sql(store, "SELECT * FROM h_int WHERE k = 2147483648").collect() == []
    explain = sql(store, "EXPLAIN SELECT * FROM h_big WHERE k = 7").collect()[0][0]
    assert "FileScan" in explain
    assert not [r for r in caplog.records if r.getMessage().startswith("fetch")]
    # an unknown name is Spark's error, as before
    for q in ("SELECT nope FROM h_big WHERE k = 7", "SELECT * FROM h_big WHERE nope = 7"):
        with pytest.raises(AnalysisException):
            sql(store, q)


def test_fetch_api_rejects_what_it_does_not_serve(spark, store, tmp_path):
    with pytest.raises(NotFetchable):
        store.fetch("h_big", {"k": 2**63})
    with pytest.raises(NotFetchable):
        store.fetch("h_comp", {"a": 1})
    with pytest.raises(NotFetchable):
        store.fetch("h_big", {"k": 1}, ["nope"])
    floats = TableStore(spark, str(tmp_path / "wh"))
    floats.create_table("f", "k INT, v STRING", ["k"], range_splits=[1.5])
    with pytest.raises(NotFetchable):
        floats.fetch("f", {"k": 1})
    assert store.fetch("H_BIG", {"K": 5}, ["Val"]).columns == ["Val"]


# ---------------------------------------------------------------- the gate
@pytest.mark.parametrize("name", sorted(TABLES))
def test_fetch_over_budget_reads_through_spark(store, monkeypatch, caplog, name):
    """With the budget below every tablet's bytes, and with it off, a
    point SELECT reads through Spark and returns what Spark SQL returns."""
    key_cols = KEYS.get(name, "k").split(",")
    selects = ["*", ", ".join([*key_cols, "val", "n", "extra"]), "extra, val"]
    store.register_views()
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    for budget, reason in ((1, "tablets over budget"), (0, "budget off")):
        monkeypatch.setattr(store, "_driver_budget", lambda: budget)
        for i in range(10):
            q = f"SELECT {selects[i % len(selects)]} FROM {name} WHERE {_where(name, i)}"
            caplog.clear()
            served, ref = sql(store, q), store.spark.sql(q)
            assert served.schema == ref.schema, q
            assert _canon(served.collect()) == _canon(ref.collect()), q
            (rec,) = [r for r in caplog.records if r.getMessage().startswith("fetch ")]
            if rec.files or not budget:
                assert (rec.fetch_path, rec.reason) == ("spark", reason), q


def test_fetch_record_names_path_and_reason(store, monkeypatch, caplog):
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    for budget, path, reason in (
        (None, "driver", None),
        (1, "spark", "tablets over budget"),
        (0, "spark", "budget off"),
    ):
        if budget is not None:
            monkeypatch.setattr(store, "_driver_budget", lambda: budget)
        caplog.clear()
        assert [r.k for r in store.fetch("h_big", {"k": 7}).collect()] == [7]
        (rec,) = [r for r in caplog.records if r.getMessage().startswith("fetch h_big")]
        assert (rec.fetch_path, rec.reason) == (path, reason)
        suffix = f" ({reason})" if reason else ""
        assert rec.getMessage().startswith(f"fetch h_big tablet {rec.tablet} on the {path}{suffix}:")
        assert rec.bytes_read > 1


# (create_table columns and options, the row written and read, budget,
# the reason driver_reason gives)
GATE = {
    "driver": ("k BIGINT, v STRING", {}, (1, "a"), 10 << 20, None),
    "layout": ("k BIGINT, v STRING, p STRING", {"partition_by": ["p"]}, (1, "a", "x"), 10 << 20, "layout"),
    "column type": ("k BIGINT, v ARRAY<INT>", {"extended": True}, (1, [2]), 10 << 20, "column type"),
    "key type": ("k DOUBLE, v STRING", {}, (1.5, "a"), 10 << 20, "key type"),
    "range splits": ("k INT, v STRING", {"range_splits": [1.5]}, (1, "a"), 10 << 20, "range splits"),
    "budget off": ("k BIGINT, v STRING", {}, (1, "a"), 0, "budget off"),
    # a 1-row batch fits 200 bytes, its tablet's file does not
    "tablets over budget": ("k BIGINT, v STRING", {}, (1, "a"), 200, "tablets over budget"),
}
SHAPES = {"layout", "column type", "key type", "range splits"}


@pytest.mark.parametrize("case", sorted(GATE))
def test_one_gate_decides_fetch_and_write(spark, tmp_path, monkeypatch, caplog, case):
    """``tablets.driver_reason`` names the path both a keyed write and a
    point read take: the driver when it returns None; for a shape
    reason the Spark write and :class:`NotFetchable`; for a size reason
    the Spark write and the Spark read."""
    cols, opts, row, budget, reason = GATE[case]
    wh = TableStore(spark, str(tmp_path / "wh"))
    wh.create_table("t", T.StructType.fromDDL(cols), ["k"], **opts)
    batch = spark.createDataFrame([row], cols)
    wh.insert("t", batch)
    monkeypatch.setattr(wh, "_driver_budget", lambda: budget)
    meta = wh.table_meta("t")
    data = wh._data_dir("t")
    nbytes = sum((data / f).stat().st_size for f in wh._head("t")[1])
    assert tablets.driver_reason(meta, nbytes, budget) == reason
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    wh.upsert("t", batch)
    (rec,) = [r for r in caplog.records if r.getMessage().startswith("write t ")]
    assert (rec.write_path, rec.reason) == ("spark" if reason else "driver", reason)
    caplog.clear()
    if reason in SHAPES:
        with pytest.raises(NotFetchable):
            wh.fetch("t", {"k": row[0]})
        return
    assert wh.fetch("t", {"k": row[0]}).collect() == [row]
    (rec,) = [r for r in caplog.records if r.getMessage().startswith("fetch t ")]
    assert (rec.fetch_path, rec.reason) == ("spark" if reason else "driver", reason)


# ---------------------------------------------------------------- bucket twin
_INT_TYPES = [
    ("tinyint", T.ByteType(), 8),
    ("smallint", T.ShortType(), 16),
    ("int", T.IntegerType(), 32),
    ("bigint", T.LongType(), 64),
]


def _key_value(draw_type):
    """(spark type, value) for one key column of the drawn type index."""
    if draw_type == 4:
        return st.tuples(st.just(T.StringType()), st.text(max_size=40))
    _, dtype, bits = _INT_TYPES[draw_type]
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return st.tuples(
        st.just(dtype),
        st.one_of(st.sampled_from([lo, hi, -1, 0, 1]), st.integers(lo, hi)),
    )


_CASE = st.tuples(
    st.lists(st.integers(0, 4).flatmap(_key_value), min_size=1, max_size=3),
    st.integers(1, 64),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_CASE, min_size=1, max_size=25))
def test_bucket_twin_matches_spark_xxhash64(spark, store, cases):
    cols, want = [], []
    for keys, n in cases:
        names = [f"c{j}" for j in range(len(keys))]
        meta = TableMeta(
            name="t",
            schema=T.StructType([T.StructField(c, t) for c, (t, _) in zip(names, keys)]),
            key_columns=names,
            num_buckets=n,
        )
        want.append(hash_py(meta, [v for _, v in keys], store.num_buckets))
        lits = [F.lit(v).cast(t) for t, v in keys]
        cols.append(F.pmod(F.xxhash64(*lits), F.lit(n)))
    got = list(spark.range(1).select(*cols).first())
    assert got == want


# ---------------------------------------------------------------- logging
def test_package_logger_is_silent_by_default():
    handlers = logging.getLogger(LOGGER).handlers
    assert any(isinstance(h, logging.NullHandler) for h in handlers)


def test_fetch_record_names_only_the_key_tablet(store, caplog):
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    sql(store, "SELECT * FROM hr_comp WHERE a = 20 AND b = '日本'").collect()
    (rec,) = [r for r in caplog.records if r.getMessage().startswith("fetch hr_comp")]
    meta = store.table_meta("hr_comp")
    tablet = tablet_py(meta, [20, "日本"], store.num_buckets)
    assert rec.tablet == tablet and tablet[0] == 2
    head = store._head("hr_comp")[1]
    want = [f for f in head if store._tablet_of(meta, f) == tablet]
    assert rec.files == want and want
    assert len(want) < len(head)
    prefix = f"kr={tablet[0]}/kb={tablet[1]}/"
    assert all(f.startswith(prefix) for f in rec.files)


def test_write_records_path_reason_tablets_and_bytes(spark, tmp_path, monkeypatch, caplog):
    """Each keyed write logs one DEBUG record: the path it took, why not
    the driver, the tablets touched and the bytes read and written.  The
    driver budget is ``spark.sql.autoBroadcastJoinThreshold``; when only
    the tablets are over it, the Spark write takes the driver's tablets
    and runs no tablet probe."""
    wh = TableStore(spark, str(tmp_path / "wh"))
    sql(wh, "CREATE TABLE w (k BIGINT, v STRING, n INT) TBLPROPERTIES ('kudu.key_columns'='k')")
    sql(wh, "INSERT INTO w VALUES " + ", ".join(f"({i}, 'v{i}', {i})" for i in range(40)))
    meta = wh.table_meta("w")
    tablets = sorted({tablet_py(meta, [k], wh.num_buckets) for k in (1, 2)})
    caplog.set_level(logging.DEBUG, logger=LOGGER)

    def record(stmt):
        caplog.clear()
        base = wh._head("w")[1]
        sql(wh, stmt)
        (rec,) = [r for r in caplog.records if r.getMessage().startswith("write w ")]
        data = wh._data_dir("w")
        read = [f for f in base if wh._tablet_of(meta, f) in set(rec.tablets)]
        assert rec.bytes_read == sum((data / f).stat().st_size for f in read)
        m = wh._read_manifest("w", wh.current_version("w"))["metrics"]
        assert rec.bytes_written == m["bytes_added"]
        return rec

    rec = record("UPSERT INTO w VALUES (1, 'a', 1), (2, 'b', 2)")
    assert (rec.op, rec.write_path, rec.reason, rec.tablets) == ("upsert", "driver", None, tablets)
    assert rec.getMessage().startswith("write w upsert on the driver: 2 tablets")
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    try:
        # 200 bytes hold the 2-row batch, not its tablets' files
        assert rec.bytes_read > 200
        spark.conf.set(conf, "200")

        def no_probe(*args):
            raise AssertionError("the tablet probe ran")

        monkeypatch.setattr(wh, "_affected_buckets", no_probe)
        rec = record("UPSERT INTO w VALUES (1, 'c', 1), (2, 'd', 2)")
        assert (rec.write_path, rec.reason, rec.tablets) == ("spark", "tablets over budget", tablets)
        monkeypatch.undo()
        # 100 bytes hold 2 rows of (8 + 36) bytes: a 3-row batch is over
        spark.conf.set(conf, "100")
        rec = record("UPSERT INTO w VALUES (1, 'e', 1), (2, 'f', 2), (3, 'g', 3)")
        assert (rec.write_path, rec.reason) == ("spark", "batch over budget")
        spark.conf.set(conf, "-1")
        rec = record("DELETE FROM w WHERE k = 1")
        assert (rec.op, rec.write_path, rec.reason) == ("delete", "spark", "budget off")
    finally:
        spark.conf.set(conf, old)
    assert {r["k"]: r["v"] for r in wh.scan("w", predicate="k < 4").collect()} == {
        0: "v0", 2: "f", 3: "g"
    }
    sql(wh, "CREATE TABLE p (k BIGINT, q STRING) TBLPROPERTIES ('kudu.key_columns'='k', 'kudu.partition_by'='q')")
    sql(wh, "CREATE TABLE f (k DOUBLE, v STRING) TBLPROPERTIES ('kudu.key_columns'='k')")
    for stmt, reason in (
        ("INSERT INTO p VALUES (1, 'x')", "layout"),
        ("INSERT INTO f VALUES (1.5, 'x')", "key type"),
    ):
        caplog.clear()
        sql(wh, stmt)
        (rec,) = [r for r in caplog.records if r.getMessage().startswith("write ")]
        assert (rec.write_path, rec.reason) == ("spark", reason), stmt


def test_pin_records_persist_reuse_release(spark, caplog):
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    tag = "tests.fetch.pin_log"
    pins.pin(tag, spark.range(5))
    pins.pin(tag, spark.range(5))
    pins.release(tag)
    got = [(r.tag, r.action) for r in caplog.records if getattr(r, "tag", None) == tag]
    assert got == [(tag, "persist"), (tag, "reuse"), (tag, "release")]
