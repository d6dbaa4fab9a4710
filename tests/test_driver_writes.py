"""Small keyed writes on the driver against the staged Spark write.

``TableStore._keyed_write`` merges and writes a small write's tablets on
the driver with pyarrow; anything larger goes through Spark.  These
tests run the same statements on two stores, one per path (the Spark
one with the write budget set to 0), and demand the same table state
through every reader: ``scan``, ``fetch``, ``scan_snapshot`` of each
version, ``CHANGES BETWEEN``, ``bloom_lookup`` after
``refresh_bloom_index``, and each commit's manifest metrics — and the
same from the hybrid, a Spark write of the driver's collected rows.  The cases
cover the hash, range and hash-in-range layouts with composite and
STRING keys, columns whose physical names differ after ADD COLUMN and
RENAME COLUMN, and NULL, NaN and every core column type.
"""

from __future__ import annotations

import datetime
import math

import pytest

from hivekudu_handler_spark.sources import tablets
from hivekudu_handler_spark.sources.sql_ddl import sql
from hivekudu_handler_spark.sources.table_store import TableStore

COLS = (
    "s STRING, i8 TINYINT, i16 SMALLINT, i32 INT, i64 BIGINT, f FLOAT, "
    "d DOUBLE, ts TIMESTAMP, b BOOLEAN, bin BINARY"
)
LAYOUTS = {
    # name: (key columns DDL, key columns, extra TBLPROPERTIES)
    "h_str": ("k STRING", "k", ""),
    "h_comp": ("a INT, k STRING", "a,k", ", 'kudu.num_buckets'='3'"),
    "r_str": ("k STRING", "k", ", 'kudu.range_splits'='k03,k07'"),
    "hr_comp": ("a BIGINT, k STRING", "a,k", ", 'kudu.range_splits'='2,6', 'kudu.hash_in_range'='2'"),
}


def _key(name: str, i: int) -> str:
    return f"{i}, 'k{i:02d}'" if "," in LAYOUTS[name][1] else f"'k{i:02d}'"


def _row(name: str, i: int, tag: str, d: str | None = None, extra: str = "") -> str:
    """One VALUES tuple: NULLs on every fifth row, NaN and infinities
    among the doubles and floats; ``extra`` appends the added column."""
    tail = f", {extra}" if extra else ""
    if i % 5 == 4:
        return f"({_key(name, i)}{', NULL' * 10}{tail})"
    d = d or ["CAST('NaN' AS DOUBLE)", "-1.5", "CAST('Infinity' AS DOUBLE)", "0.25"][i % 4]
    return (
        f"({_key(name, i)}, '{tag}{i}', {i - 64}, {i * 1000 - 32768}, {i * 7}, "
        f"{i * 10**12}, CAST('{'NaN' if i % 3 == 0 else i / 4}' AS FLOAT), {d}, "
        f"TIMESTAMP'2024-0{1 + i % 9}-1{i % 10} 0{i % 10}:30:00.{i:06d}', "
        f"{'true' if i % 2 else 'false'}, X'{i:02X}FF'{tail})"
    )


def _writes(name: str) -> list:
    """The write statements of one case, in order (SQL text, or a call
    on the store); ALTERs between them give columns physical names that
    differ from their logical ones."""
    keys = LAYOUTS[name][1].split(",")
    klist = ", ".join(keys)
    first = "1, 'k01'" if len(keys) == 2 else "'k01'"
    cols = f"{klist}, s2, i8, i16, i32, i64, f, d, ts, b, bin"
    src = ", ".join(_row(name, i, "m") for i in (3, 5, 15, 16))
    # one key three times: 1.0 beats NaN, which beats NULL
    dups = ", ".join(_row(name, 14, "x", d) for d in ("CAST('NaN' AS DOUBLE)", "1.0", "NULL"))

    def upsert_with_deletes(store):
        store.upsert(
            name,
            store.scan(name).filter("i64 = 0"),
            delete_keys=store.scan(name).filter("i32 = 98").select(*keys),
        )

    return [
        f"INSERT INTO {name} VALUES " + ", ".join(_row(name, i, "v") for i in range(12)),
        f"ALTER TABLE {name} ADD COLUMN extra BIGINT",
        f"UPSERT INTO {name} VALUES "
        + ", ".join(_row(name, i, "u", extra=str(i)) for i in (0, 1, 2, 9, 12, 13)),
        f"UPSERT INTO {name} ({klist}, s) VALUES ({first}, 'partial')",
        f"ALTER TABLE {name} RENAME COLUMN s TO s2",
        f"UPDATE {name} SET d = d * 2, s2 = 'upd', extra = i32 WHERE i32 > 20",
        f"DELETE FROM {name} WHERE i8 = -62 OR d = 0.5",
        f"MERGE INTO {name} t USING (SELECT * FROM VALUES {src} AS s({cols})) s "
        f"ON {' AND '.join(f't.{k} = s.{k}' for k in keys)} "
        "WHEN MATCHED AND s.i32 > 30 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET s2 = s.s2, d = s.d "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES "
        f"({', '.join('s.' + c.strip() for c in cols.split(','))})",
        # only an existing key: no version on either path
        f"INSERT INTO {name} ({klist}, s2) VALUES ({first.replace('1', '0')}, 'lost')",
        f"UPSERT INTO {name} SELECT * FROM (VALUES {dups}) AS v, (SELECT 7 AS extra)",
        upsert_with_deletes,
    ]


def _canon_value(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _canon(rows) -> list:
    return sorted((tuple(_canon_value(v) for v in r) for r in rows), key=repr)


def _metrics(store, name: str) -> list:
    """Each commit's op and metrics, the bytes as whether any were added
    (the two writers encode the same rows in different byte counts)."""
    out = []
    for v in store._version_numbers(name):
        m = store._read_manifest(name, v)
        got = dict(m.get("metrics", {}))
        if "bytes_added" in got:
            got["bytes_added"] = got["bytes_added"] > 0
        out.append((v, m["op"], got))
    return out


@pytest.fixture()
def stores(spark, tmp_path, monkeypatch):
    """(driver store, Spark store); the driver store counts the tablet
    writes its driver path makes."""
    drv = TableStore(spark, str(tmp_path / "drv"))
    spk = TableStore(spark, str(tmp_path / "spk"))
    monkeypatch.setattr(spk, "_driver_budget", lambda: 0)
    write = tablets.write_tablets
    drv.driver_writes = 0

    def counted(meta, rows, path):
        drv.driver_writes += path.is_relative_to(drv.root)
        return write(meta, rows, path)

    monkeypatch.setattr(tablets, "write_tablets", counted)
    return drv, spk


@pytest.mark.parametrize("name", sorted(LAYOUTS))
def test_driver_and_spark_paths_leave_the_same_table(spark, tmp_path, monkeypatch, stores, name):
    """Besides the two paths, a third store runs the hybrid: each batch
    fits its 4 kB budget and most tablets do not, so the Spark write
    stages the driver's collected rows into the driver's tablets, with
    no tablet probe."""
    drv, spk = stores
    mix = TableStore(spark, str(tmp_path / "mix"))
    monkeypatch.setattr(mix, "_driver_budget", lambda: 4096)

    def no_probe(*args):
        raise AssertionError("the tablet probe ran")

    monkeypatch.setattr(mix, "_affected_buckets", no_probe)
    staged = mix._write_partitioned
    mix.spark_writes = 0

    def counted(*args):
        mix.spark_writes += 1
        return staged(*args)

    monkeypatch.setattr(mix, "_write_partitioned", counted)
    every = (drv, spk, mix)
    key_ddl, keys, props = LAYOUTS[name]
    for store in every:
        sql(
            store,
            f"CREATE TABLE {name} ({key_ddl}, {COLS}) TBLPROPERTIES "
            f"('kudu.key_columns'='{keys}'{props})",
        )
        store.create_bloom_index(name, "i32")

    def same(read, what):
        got = [_canon(read(s).collect()) for s in every]
        assert got[0] == got[1] == got[2], what
        return got[0]

    writes = [w for w in _writes(name) if callable(w) or not w.startswith("ALTER")]
    for step in _writes(name):
        for store in every:
            step(store) if callable(step) else sql(store, step)
        same(lambda s: s.scan(name), step)
        assert drv.current_version(name) == spk.current_version(name) == mix.current_version(name)
    assert drv.driver_writes == len(writes)
    assert mix.spark_writes > 0
    assert _metrics(drv, name) == _metrics(spk, name) == _metrics(mix, name)
    head = drv.current_version(name)
    for v in range(head + 1):
        same(lambda s: s.scan_snapshot(name, v), v)
    assert same(lambda s: sql(s, f"SELECT * FROM {name} CHANGES BETWEEN 0 AND {head}"), "feed")
    for store in every:
        store.refresh_bloom_index(name, "i32")
    for value in (7, 21, 98, 999):
        same(lambda s: s.bloom_lookup(name, "i32", value), value)
    key_cols = keys.split(",")
    for i in range(18):
        key = dict(zip(key_cols, [i, f"k{i:02d}"][-len(key_cols):]))
        same(lambda s: s.fetch(name, key), key)


def test_driver_files_read_like_spark_files(spark, stores):
    """A file the driver path writes has the shape of a Spark-written
    one: one row group, dictionary-encoded columns, snappy, min/max
    statistics on the key; and it reads back to the same rows."""
    import pyarrow.parquet as pq

    drv, spk = stores
    for store in stores:
        store.create_table("t", "k BIGINT, v STRING, n INT", ["k"])
        store.insert(
            "t",
            spark.range(400).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v", "CAST(id AS INT) AS n"),
        )
        sql(store, "UPSERT INTO t VALUES (1, 'x', 1), (2, 'y', 2)")

    def shape(store):
        data = store._data_dir("t")
        out = []
        for rel in sorted(store._head("t")[1]):
            md = pq.ParquetFile(data / rel).metadata
            cols = [md.row_group(0).column(i) for i in range(md.num_columns)]
            out.append((
                md.num_row_groups,
                [c.compression for c in cols],
                ["PLAIN_DICTIONARY" in c.encodings or "RLE_DICTIONARY" in c.encodings for c in cols],
                cols[0].statistics.has_min_max,
            ))
        return out

    assert drv.driver_writes == 2
    assert shape(drv) == shape(spk)
    assert _canon(drv.scan("t").collect()) == _canon(spk.scan("t").collect())


def test_timestamps_round_trip_exactly(spark, stores):
    """A timestamp survives a driver rewrite to the microsecond, also
    before 1900 and after 2100."""
    for store in stores:
        store.create_table("t", "k INT, ts TIMESTAMP", ["k"])
        sql(
            store,
            "INSERT INTO t VALUES (1, TIMESTAMP'1850-03-01 12:00:00.000001'), "
            "(2, TIMESTAMP'2150-12-31 23:59:59.999999'), (3, NULL)",
        )
        sql(store, "UPSERT INTO t VALUES (4, TIMESTAMP'1970-01-01 00:00:00')")
    want = {
        1: datetime.datetime(1850, 3, 1, 12, 0, 0, 1),
        2: datetime.datetime(2150, 12, 31, 23, 59, 59, 999999),
        3: None,
        4: datetime.datetime(1970, 1, 1),
    }
    for store in stores:
        got = {
            r["k"]: r["ts"]
            for r in store.scan("t").selectExpr("k", "CAST(ts AS TIMESTAMP_NTZ) AS ts").collect()
        }
        assert got == want
