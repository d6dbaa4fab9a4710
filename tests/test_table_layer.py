"""Unit tests for the managed table layer + strict type lattice
(SURVEY.md §5 item 3)."""

from __future__ import annotations

import pytest

from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hivekudu_handler_spark import typesys
from hivekudu_handler_spark.sources.table_store import (
    TableExistsError,
    TableStore,
    TableStoreError,
)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


# ---- type lattice (HiveKuduBridgeUtils.java:36-68) ------------------------

def test_hive_type_mapping_complete():
    assert typesys.resolve_hive_type("string") == T.StringType()
    assert typesys.resolve_hive_type("varchar(10)") == T.StringType()
    assert typesys.resolve_hive_type("char(3)") == T.StringType()
    assert typesys.resolve_hive_type("tinyint") == T.ByteType()
    assert typesys.resolve_hive_type("smallint") == T.ShortType()
    assert typesys.resolve_hive_type("int") == T.IntegerType()
    assert typesys.resolve_hive_type("bigint") == T.LongType()
    assert typesys.resolve_hive_type("float") == T.FloatType()
    assert typesys.resolve_hive_type("double") == T.DoubleType()
    assert typesys.resolve_hive_type("timestamp") == T.TimestampType()
    assert typesys.resolve_hive_type("boolean") == T.BooleanType()
    assert typesys.resolve_hive_type("binary") == T.BinaryType()


@pytest.mark.parametrize("bad", ["decimal(10,2)", "date", "interval", "uuid"])
def test_unsupported_hive_types_rejected(bad):
    """Mirrors the SerDeException at HiveKuduBridgeUtils.java:65-66."""
    with pytest.raises(typesys.UnsupportedTypeError):
        typesys.resolve_hive_type(bad)


def test_complex_types_rejected_in_core_tables(spark, store):
    """Mirrors the LIST/MAP rejection at HiveKuduBridgeUtils.java:101-111."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("xs", T.ArrayType(T.IntegerType())),
        ]
    )
    with pytest.raises(typesys.UnsupportedTypeError):
        store.create_table("bad", schema, ["id"])


def test_complex_types_allowed_on_extension_path(spark, store):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    meta = store.create_table("emb", schema, ["id"], extended=True)
    assert meta.extended


# ---- DDL semantics (KuduStorageHandler.java) ------------------------------

def test_external_and_location_rejected(spark, store):
    """KuduStorageHandler.java:230-237."""
    with pytest.raises(TableStoreError):
        store.create_table("t", "id int", ["id"], external=True)
    with pytest.raises(TableStoreError):
        store.create_table("t", "id int", ["id"], location="/tmp/x")


def test_create_requires_key_and_known_columns(spark, store):
    with pytest.raises(ValueError):
        store.create_table("t", "id int, name string", [])
    with pytest.raises(ValueError):
        store.create_table("t", "id int", ["nope"])


def test_duplicate_create_rejected_and_rollback(spark, store):
    store.create_table("t", "id int", ["id"])
    with pytest.raises(TableExistsError):
        store.create_table("t", "id int", ["id"])
    # failed create must not leave debris (KuduStorageHandler.java:313-330)
    with pytest.raises(typesys.UnsupportedTypeError):
        store.create_table("broken", "id int, d decimal(10,2)", ["id"])
    assert "broken" not in store.list_tables()


def test_projection_validation(spark, store):
    """Unknown projected columns rejected, mirroring
    HiveKuduTableInputFormat.java:303-320."""
    store.create_table("t", "id int, name string", ["id"])
    with pytest.raises(TableStoreError):
        store.scan("t", columns=["id", "bogus"])


# ---- write semantics ------------------------------------------------------

def test_insert_ignores_duplicate_keys(spark, store):
    """HiveKuduTableOutputFormat.java:101 setIgnoreAllDuplicateRows."""
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (1, "dup-in-batch"), (2, "b")])
    store.insert_values("t", [(2, "dup-across-batch"), (3, "c")])
    rows = {r["id"]: r["name"] for r in store.scan("t").collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_insert_empty_table_fast_path_commit_semantics(spark, store):
    """The empty-table insert fast path (r21: one write action, no
    bucket-id collect) must keep the old guard's semantics: an empty (or
    all-NULL-key) batch commits NO version, a real batch commits exactly
    one, and in-batch duplicate keys still collapse deterministically."""
    store.create_table("t", "id int, name string", ["id"])
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
        ]
    )
    store.insert("t", spark.createDataFrame([], schema))
    assert store._version_numbers("t") == [0]
    store.insert("t", spark.createDataFrame([(None, "dropped")], schema))
    assert store._version_numbers("t") == [0]
    store.insert(
        "t",
        spark.createDataFrame([(1, "z"), (1, "a"), (None, "x"), (2, "b")], schema),
    )
    assert store._version_numbers("t") == [0, 1]
    rows = {r["id"]: r["name"] for r in store.scan("t").collect()}
    assert rows == {1: "a", 2: "b"}


def test_upsert_replaces_and_inserts(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    store.upsert("t", spark.createDataFrame([(2, "B"), (3, "c")], "id int, name string"))
    rows = {r["id"]: r["name"] for r in store.scan("t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_delete_where(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b"), (3, "a")])
    store.delete_where("t", F.col("name") == "a")
    assert [r["id"] for r in store.scan("t").collect()] == [2]


def test_schema_mismatch_rejected(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    with pytest.raises(TableStoreError):
        store.insert("t", spark.createDataFrame([(1,)], "id int"))


def _live_files(store, name):
    """{data-relative path: bytes} of every file the table's current
    version lists."""
    data = store._data_dir(name)
    return {
        rel: (data / rel).read_bytes()
        for rel in store._head(name)[1]
    }


def _bucket_of(spark, ids, n=4):
    rows = (
        spark.createDataFrame([(i,) for i in ids], "id int")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(n)).cast("int").alias("b"))
        .collect()
    )
    return {r["id"]: r["b"] for r in rows}


def test_insert_is_append_only(spark, store, tmp_path):
    """An insert must never rewrite an existing data file — it only adds
    files to the buckets the batch hashes into (VERDICT r1 #4)."""
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(i, f"n{i}") for i in range(1, 9)])
    before = _live_files(store, "t")
    assert before
    store.insert_values("t", [(100, "new")])
    after = _live_files(store, "t")
    for path, blob in before.items():
        assert after[path] == blob, f"pre-existing file rewritten: {path}"
    assert len(after) > len(before)  # the new row landed in a new file


def test_upsert_rewrites_only_affected_buckets(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(i, f"n{i}") for i in range(1, 9)])
    before = _live_files(store, "t")
    target = 3
    tb = _bucket_of(spark, [target])[target]
    store.upsert(
        "t", spark.createDataFrame([(target, "UP")], "id int, name string")
    )
    after = _live_files(store, "t")
    for path, blob in before.items():
        if not path.startswith(f"kb={tb}/"):
            assert path in after and after[path] == blob, (
                f"untouched bucket file changed: {path}"
            )
    rows = {r["id"]: r["name"] for r in store.scan("t").collect()}
    assert rows[target] == "UP" and len(rows) == 8


def test_delete_rewrites_only_affected_buckets_and_keeps_null_rows(spark, store):
    """SQL DELETE semantics: rows where the predicate is NULL are KEPT
    (ADVICE r1); buckets with no matching row are not rewritten."""
    store.create_table("t", "id int, name string", ["id"])
    store.insert(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b"), (4, "a")], "id int, name string"
        ),
    )
    before = _live_files(store, "t")
    buckets = _bucket_of(spark, [1, 2, 3, 4])
    hit = {buckets[1], buckets[4]}
    store.delete_where("t", "name = 'a'")
    after = _live_files(store, "t")
    for path, blob in before.items():
        if not any(path.startswith(f"kb={b}/") for b in hit):
            assert path in after and after[path] == blob
    # id=2 (NULL name → predicate NULL) survives; only the 'a' rows die
    assert {r["id"] for r in store.scan("t").collect()} == {2, 3}


def test_delete_empties_bucket_completely(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    store.delete_where("t", "id IS NOT NULL")
    assert store.scan("t").count() == 0


def test_batch_dedup_is_deterministic(spark, store):
    """First-write-wins is defined by values (smallest non-key tuple), not
    by arbitrary partition order (ADVICE r1)."""
    store.create_table("t", "id int, name string", ["id"])
    batch = [(1, "zeta"), (1, "alpha"), (1, "midway")]
    store.insert(
        "t",
        spark.createDataFrame(batch, "id int, name string").repartition(8),
    )
    assert store.scan("t").collect()[0]["name"] == "alpha"


def test_compact_merges_crowded_buckets_only(spark, store):
    """Append-only inserts grow file counts; compact() rewrites only the
    buckets over the threshold, leaves quiet buckets byte-identical, and
    preserves table contents exactly."""
    store.create_table("t", "id int, name string", ["id"])
    for i in range(12):
        store.insert_values("t", [(i, f"n{i}")])
    before_rows = {(r["id"], r["name"]) for r in store.scan("t").collect()}
    before_files = _live_files(store, "t")
    compacted = store.compact("t", max_files_per_bucket=2)
    assert compacted  # 12 single-row inserts over 4 buckets must crowd some
    after_files = _live_files(store, "t")
    for path, blob in before_files.items():
        if not any(path.startswith(f"kb={b}/") for b in compacted):
            assert path in after_files and after_files[path] == blob
    for b in compacted:
        n = sum(1 for p in after_files if p.startswith(f"kb={b}/"))
        assert n == 1, f"bucket {b} has {n} files after compaction"
    assert {(r["id"], r["name"]) for r in store.scan("t").collect()} == before_rows
    assert store.compact("t", max_files_per_bucket=2) == []  # idempotent


# ---- external tables (attach + schema discovery) --------------------------

def test_attach_external_discovers_schema_and_reads(spark, store, tmp_path):
    ext = tmp_path / "ext_data"
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id bigint, name string"
    ).write.parquet(str(ext))
    meta = store.attach_external("ext", str(ext), ["id"])
    assert meta.external and [f.name for f in meta.schema.fields] == ["id", "name"]
    assert {r["id"] for r in store.scan("ext").collect()} == {1, 2}


def test_attach_external_is_readonly_and_drop_keeps_storage(spark, store, tmp_path):
    ext = tmp_path / "ext_data"
    spark.createDataFrame([(1, "x")], "id bigint, name string").write.parquet(
        str(ext)
    )
    store.attach_external("ext", str(ext), ["id"])
    with pytest.raises(TableStoreError):
        store.insert_values("ext", [(2, "y")])
    with pytest.raises(TableStoreError):
        store.delete_where("ext", "id = 1")
    store.drop_table("ext")
    assert "ext" not in store.list_tables()
    # the storage is not ours to delete
    assert spark.read.parquet(str(ext)).count() == 1


def test_attach_external_missing_path_rejected(spark, store, tmp_path):
    with pytest.raises(TableStoreError):
        store.attach_external("nope", str(tmp_path / "absent"), ["id"])


def test_partitioned_layout_prunes_partitions(spark, store):
    """partition_by implements the reference's partitioning TODO
    (KuduStorageHandler.java:266): a filter on the partition column must
    reach the scan as a PartitionFilter (pruned directories), not a
    row-level filter."""
    from hivekudu_handler_spark.plans.checks import plan_string

    store.create_table(
        "pt", "id int, status string, v double", ["id"], partition_by=["status"]
    )
    store.insert(
        "pt",
        spark.createDataFrame(
            [(1, "open", 1.0), (2, "done", 2.0), (3, "open", 3.0)],
            "id int, status string, v double",
        ),
    )
    df = store.scan("pt", predicate=F.col("status") == "open")
    plan = plan_string(df)
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert {r["id"] for r in df.collect()} == {1, 3}


def test_range_layout_scan_prunes_to_intersected_ranges(spark, store):
    """Key-range layout (Kudu's range tablets; the reference's declared
    partitioning goal, doc/DesignDocument.md:8): an interval scan must
    pin kr to the bisected directory-id bounds in PartitionFilters —
    only ranges the interval intersects are opened — and push the exact
    key bounds into the Parquet scan."""
    import re

    from hivekudu_handler_spark.plans.checks import plan_string, pushed_filters

    store.create_table(
        "ev", "k bigint, v string", ["k"], range_splits=[100, 200, 300]
    )
    store.insert(
        "ev",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(0, 400, 10)], "k bigint, v string"
        ),
    )
    df = store.scan_range("ev", 120, 250)
    plan = plan_string(df)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # bisect(120)=1, bisect_left(250)=2: only kr=1 and kr=2 survive
    assert re.search(r"kr#\d+ >= 1", pf) and re.search(r"kr#\d+ <= 2", pf), plan
    assert "k" in pushed_filters(df), plan
    assert sorted(r["k"] for r in df.collect()) == list(range(120, 250, 10))
    # half-open boundary semantics: a split point belongs to the upper range
    assert sorted(r["k"] for r in store.scan_range("ev", 200, 210).collect()) == [200]
    assert store.scan_range("ev", 250, 250).count() == 0
    # open-ended scans
    assert store.scan_range("ev", lower=350).count() == 5
    assert store.scan_range("ev", upper=50).count() == 5


def test_range_layout_files_are_range_partitioned_dirs(spark, store):
    """The physical layout is one kr=<i> directory per populated range,
    with rows routed by the split points (write path twin of the scan's
    driver-side bisect)."""
    store.create_table(
        "rt", "k int, v int", ["k"], range_splits=[10, 20]
    )
    store.insert(
        "rt",
        spark.createDataFrame([(i, i) for i in range(30)], "k int, v int"),
    )
    data = store._data_dir("rt")
    assert sorted(p.name for p in data.glob("kr=*")) == ["kr=0", "kr=1", "kr=2"]
    got = {
        d.name: sorted(
            r["k"] for r in spark.read.parquet(str(d)).collect()
        )
        for d in data.glob("kr=*")
    }
    assert got == {
        "kr=0": list(range(0, 10)),
        "kr=1": list(range(10, 20)),
        "kr=2": list(range(20, 30)),
    }


def test_range_layout_mutations_rewrite_only_affected_ranges(spark, store):
    """upsert/delete on a range table ride the same tablet-scoped I/O
    bound as hash buckets: untouched range directories keep their files
    byte-identical."""
    store.create_table("m", "k int, v string", ["k"], range_splits=[10, 20])
    store.insert(
        "m",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k int, v string"
        ),
    )
    def files(b):
        live = _live_files(store, "m")
        return sorted((p, live[p]) for p in live if p.startswith(f"kr={b}/"))

    before = {b: files(b) for b in (0, 1, 2)}
    store.upsert(
        "m", spark.createDataFrame([(15, "NEW")], "k int, v string")
    )
    assert files(0) == before[0] and files(2) == before[2]
    assert files(1) != before[1]
    assert [r["v"] for r in store.lookup("m", {"k": 15}).collect()] == ["NEW"]
    store.delete_where("m", F.col("k") >= 25)
    assert files(0) == before[0]
    assert store.scan("m").count() == 25
    # point lookup on a range table prunes via the folded range id
    from hivekudu_handler_spark.plans.checks import plan_string

    plan = plan_string(store.lookup("m", {"k": 5}))
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "kr" in pf and "= 0" in pf, plan


def test_range_layout_on_event_time(spark, store):
    """Time-range pruning over an event-time key — the canonical 100 TB
    range query: a table keyed (ts, event_id) and range-split on ISO
    week boundaries serves an interval scan from only the intersected
    kr= directories; datetime and ISO-string bounds are equivalent."""
    from datetime import datetime

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_id", "event_type")
    )
    store.create_table(
        "ev_t",
        ev.schema,
        ["ts", "event_id"],
        range_splits=[
            "2024-01-08 00:00:00",
            "2024-01-15 00:00:00",
            "2024-01-22 00:00:00",
        ],
    )
    store.insert("ev_t", ev)
    lo, hi = datetime(2024, 1, 10), datetime(2024, 1, 16)
    got = store.scan_range("ev_t", lo, hi)
    expected = ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
    assert got.count() == expected.count() > 0
    # string bounds hit the same rows
    assert store.scan_range("ev_t", "2024-01-10 00:00:00", "2024-01-16 00:00:00").count() == expected.count()
    # pruning: the kr bound pins to ranges 1..2 of 0..3
    from hivekudu_handler_spark.plans.checks import plan_string
    import re

    pf = plan_string(got).split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert re.search(r"kr#\d+ >= 1", pf) and re.search(r"kr#\d+ <= 2", pf), pf


def test_composite_hash_in_range_layout(spark, store):
    """Kudu's composite hash×range tablets: kr=<i>/kb=<j> leaf
    directories; range scans prune on kr alone, point lookups fold BOTH
    levels to constants (one leaf dir opened), and mutations rewrite
    only the touched leaves."""
    import re

    from hivekudu_handler_spark.plans.checks import plan_string

    store.create_table(
        "c", "k bigint, v string", ["k"], range_splits=[100, 200],
        hash_in_range=2,
    )
    store.insert(
        "c",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(0, 300, 5)], "k bigint, v string"
        ),
    )
    data = store._data_dir("c")
    leaves = sorted(str(p.relative_to(data)) for p in data.glob("kr=*/kb=*"))
    assert leaves == [
        "kr=0/kb=0", "kr=0/kb=1", "kr=1/kb=0", "kr=1/kb=1",
        "kr=2/kb=0", "kr=2/kb=1",
    ]
    # range scan: kr pruned, kb untouched; rows exact
    got = sorted(r["k"] for r in store.scan_range("c", 100, 200).collect())
    assert got == list(range(100, 200, 5))
    pf = plan_string(store.scan_range("c", 100, 200)).split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert re.search(r"kr#\d+ >= 1", pf) and re.search(r"kr#\d+ <= 1", pf), pf
    # point lookup folds both levels: kr AND kb pinned to constants
    df = store.lookup("c", {"k": 150})
    pf = plan_string(df).split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert re.search(r"kr#\d+ = 1", pf) and re.search(r"kb#\d+ = \d+", pf), pf
    assert "xxhash64" not in pf, pf
    assert [r["v"] for r in df.collect()] == ["v150"]
    # upsert rewrites only the hot leaf; the other five stay byte-identical
    def snap():
        return _live_files(store, "c")

    before = snap()
    store.upsert(
        "c", spark.createDataFrame([(150, "NEW")], "k bigint, v string")
    )
    after = snap()
    changed_leaves = {
        str(Path(p).parent) for p in set(before) ^ set(after)
    } | {
        str(Path(p).parent)
        for p in set(before) & set(after)
        if before[p] != after[p]
    }
    assert len(changed_leaves) == 1 and next(iter(changed_leaves)).startswith(
        "kr=1/kb="
    ), changed_leaves
    assert [r["v"] for r in store.lookup("c", {"k": 150}).collect()] == ["NEW"]
    # delete scoped to its leaves; contents exact afterward
    store.delete_where("c", F.col("k") >= 250)
    assert sorted(r["k"] for r in store.scan("c").collect()) == [
        k for k in range(0, 250, 5)
    ]
    # batched lookup prunes per-level and returns exact rows
    got = sorted(
        r["k"] for r in store.lookup_many("c", [5, 105, 205]).collect()
    )
    assert got == [5, 105, 205]
    # compact returns leaf tuples on composite layouts
    for i in range(4):
        store.insert_values("c", [(300 + i * 2, f"x{i}")])
    crowded = store.compact("c", max_files_per_bucket=2)
    assert all(isinstance(t, tuple) and len(t) == 2 for t in crowded)


def test_range_id_expr_matches_python_bisect(spark, store):
    """The write path routes rows with the JVM range-id expression; the
    read path prunes with bisect over the same splits.  They must agree
    on every value, including exact split points and extremes — checked
    over a property-style grid of (splits, values) in ONE Spark job."""
    import bisect

    from pyspark.sql import types as T

    cases = [
        [0],
        [-5, 5],
        [1, 2, 3],
        [-(2**31), 0, 2**31],
        [10, 100, 1000, 10000],
    ]
    values = [-(2**33), -11, -5, -1, 0, 1, 2, 3, 5, 9, 10, 11, 99, 100,
              101, 999, 1000, 10000, 2**31, 2**33]
    rows = spark.createDataFrame([(v,) for v in values], "k bigint")
    for splits in cases:
        store.create_table("prop", "k bigint, v int", ["k"], range_splits=splits)
        meta = store.table_meta("prop")
        got = {
            r["k"]: r["rid"]
            for r in rows.withColumn(
                "rid", store._range_id_expr(meta, rows["k"])
            ).collect()
        }
        want = {v: bisect.bisect_right(splits, v) for v in values}
        assert got == want, (splits, got, want)
        store.drop_table("prop")


def test_range_splits_validation(spark, store):
    for bad in ([], [10, 10], [20, 10], [1, "x"], [True, 2]):
        with pytest.raises(TableStoreError):
            store.create_table("b", "k int, v int", ["k"], range_splits=bad)
    with pytest.raises(TableStoreError, match="kind does not match"):
        store.create_table(
            "b", "k int, v int", ["k"], range_splits=["a", "b"]
        )
    with pytest.raises(TableStoreError, match="not range-partitioned"):
        store.create_table("h", "k int, v int", ["k"])
        store.scan_range("h", 0, 10)
    # splits survive the JSON meta roundtrip
    store.create_table("ok", "k int, v int", ["k"], range_splits=[5, 7])
    assert store.table_meta("ok").range_splits == [5, 7]


def test_keyed_lookup_prunes_to_one_bucket(spark, store):
    """Point-lookup by primary key: the literal key's hash bucket is
    constant-folded, so the scan's PartitionFilters pins kb to ONE value
    (the read-path analogue of the reference's tablet pruning,
    HiveKuduTableInputFormat.java:166-217) and the key equality is pushed
    into the Parquet scan inside that bucket."""
    import re

    from hivekudu_handler_spark.plans.checks import plan_string, pushed_filters

    store.create_table("kv", "k bigint, v string", ["k"])
    store.insert(
        "kv",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k bigint, v string"
        ),
    )
    df = store.lookup("kv", {"k": 7})
    plan = plan_string(df)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # the bucket comparison must be against a folded constant, not an
    # unevaluated hash expression
    assert re.search(r"kb#\d+ = \d+", pf), plan
    assert "xxhash64" not in pf, plan
    assert "k" in pushed_filters(df), plan
    assert [(r["k"], r["v"]) for r in df.collect()] == [(7, "v7")]
    # wrong or missing key columns are rejected
    with pytest.raises(TableStoreError):
        store.lookup("kv", {"v": "v7"})


def test_keyed_lookup_bucket_matches_write_bucket(spark, store):
    """Every key must be FOUND by lookup — i.e. the literal-hash bucket
    (cast to the declared column type) equals the bucket the row was
    written to, including int-typed keys where an uncast Python literal
    would hash as the wrong width."""
    store.create_table("ki", "k int, v string", ["k"])
    store.insert(
        "ki",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(25)], "k int, v string"
        ),
    )
    for k in (0, 3, 11, 24):
        got = store.lookup("ki", {"k": k}).collect()
        assert [(r["k"], r["v"]) for r in got] == [(k, f"v{k}")]


def test_lookup_many_prunes_to_batch_buckets(spark, store):
    """Batched lookup: kb IN (<folded constants>) in PartitionFilters —
    never more distinct buckets than keys — and the id In-filter pushed
    to the scan; composite-key tables and empty batches handled."""
    import re

    from hivekudu_handler_spark.plans.checks import plan_string, pushed_filters

    store.create_table("kvm", "k bigint, v string", ["k"])
    store.insert(
        "kvm",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k bigint, v string"
        ),
    )
    df = store.lookup_many("kvm", [3, 17, 29])
    plan = plan_string(df)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    m = re.search(r"kb#\d+ IN \(([^)]*)\)", pf)
    assert m, plan
    assert len(set(m.group(1).split(","))) <= 3
    assert "xxhash64" not in pf, plan
    assert "In(k" in pushed_filters(df) or "In(`k`" in pushed_filters(df), pushed_filters(df)
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [
        (3, "v3"), (17, "v17"), (29, "v29")
    ]
    assert store.lookup_many("kvm", []).count() == 0


def test_lookup_many_composite_key_prunes_buckets(spark, store):
    """Composite-key batched lookup: each {col: value} tuple's bucket is
    constant-folded into kb IN (...) — never more distinct bucket dirs
    than batch entries — and the key match is one struct-IN evaluated
    only inside those buckets."""
    import re

    from hivekudu_handler_spark.plans.checks import plan_string

    store.create_table("comp", "a int, b int, v string", ["a", "b"])
    store.insert(
        "comp",
        spark.createDataFrame(
            [(i, i * 10, f"v{i}") for i in range(40)], "a int, b int, v string"
        ),
    )
    batch = [{"a": 3, "b": 30}, {"a": 17, "b": 170}]
    df = store.lookup_many("comp", batch)
    plan = plan_string(df)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    m = re.search(r"kb#\d+ IN \(([^)]*)\)", pf)
    assert m, plan
    assert len(set(m.group(1).split(","))) <= len(batch), plan
    assert "xxhash64" not in pf, plan
    assert sorted((r["a"], r["b"], r["v"]) for r in df.collect()) == [
        (3, 30, "v3"), (17, 170, "v17")
    ]
    # a tuple that matches no row (a=3 pairs with b=30, not 170) finds nothing
    assert store.lookup_many("comp", [{"a": 3, "b": 170}]).count() == 0
    # scalars are ambiguous for a composite key
    with pytest.raises(TableStoreError):
        store.lookup_many("comp", [1])
    # partial key coverage rejected
    with pytest.raises(TableStoreError):
        store.lookup_many("comp", [{"a": 3}])


# ---- SQL-text DDL front-end (KuduStorageHandler.java:223-310) -------------

def test_sql_ddl_create_insert_describe_drop(spark, store):
    """The reference's golden-test statement shapes (README.md:22-43)
    routed through SQL text end-to-end."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    desc = {r.col_name: r.is_key for r in execute(store, "DESCRIBE t").collect()}
    assert desc == {"id": True, "name": False}
    execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    # dup-key ignore applies through the SQL path too
    execute(store, "INSERT INTO t VALUES (1, 'z')")
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "a")]
    execute(store, "DROP TABLE t")
    assert store.list_tables() == []
    execute(store, "DROP TABLE IF EXISTS t")  # no error


def test_sql_ddl_rejects_external(spark, store):
    """Mirrors KuduStorageHandler.java:230-234."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    with pytest.raises(SqlDdlError, match="EXTERNAL"):
        execute(
            store,
            "CREATE EXTERNAL TABLE t (id int) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )


def test_sql_ddl_rejects_location(spark, store):
    """Mirrors KuduStorageHandler.java:235-237."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    with pytest.raises(SqlDdlError, match="LOCATION"):
        execute(
            store,
            "CREATE TABLE t (id int) LOCATION '/tmp/x' "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )


def test_sql_ddl_requires_key_property(spark, store):
    """Mirrors the key-columns requirement (KuduStorageHandler.java:242-247)."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    with pytest.raises(SqlDdlError, match="key columns"):
        execute(store, "CREATE TABLE t (id int, name string)")
    with pytest.raises(SqlDdlError, match="key columns"):
        execute(
            store,
            "CREATE TABLE t (id int) TBLPROPERTIES ('kudu.key_columns'='')",
        )


def test_sql_ddl_insert_arity_and_quoting(spark, store):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('key_columns'='id')",
    )
    with pytest.raises(SqlDdlError, match="arity"):
        execute(store, "INSERT INTO t VALUES (1, 'a', 99)")
    execute(store, "INSERT INTO t VALUES (1, 'it''s'), (2, 'comma, inside')")
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "it's"), (2, "comma, inside")]


def test_sql_ddl_rejects_queries_and_garbage(spark, store):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    with pytest.raises(SqlDdlError, match="unsupported"):
        execute(store, "SELECT * FROM t")
    with pytest.raises(SqlDdlError, match="cannot parse"):
        execute(store, "DROP TABLE")


def test_sql_dml_update_delete(spark, store):
    """UPDATE/DELETE statement routing: multi-assignment SET with
    expressions, WHERE-scoped and WHERE-less UPDATE, SQL NULL semantics
    inherited from delete_where."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    execute(
        store,
        "CREATE TABLE t (id int, name string, score int) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30)")
    execute(store, "UPDATE t SET name = upper(name), score = score + 1 WHERE name = 'a'")
    rows = sorted((r.id, r.name, r.score) for r in store.scan("t").collect())
    assert rows == [(1, "A", 11), (2, "b", 20), (3, "A", 31)]
    execute(store, "UPDATE t SET score = 0")  # WHERE-less: all rows
    assert {r.score for r in store.scan("t").collect()} == {0}
    execute(store, "DELETE FROM t WHERE id >= 2")
    assert [(r.id, r.name) for r in store.scan("t").collect()] == [(1, "A")]


def test_sql_ddl_range_splits_property(spark, store):
    """TBLPROPERTIES ('kudu.range_splits'='...') selects the key-range
    layout through the SQL front-end, typed by token parse."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE r (k bigint, v string) TBLPROPERTIES "
        "('kudu.key_columns'='k', 'kudu.range_splits'='100,200')",
    )
    assert store.table_meta("r").range_splits == [100, 200]
    execute(store, "INSERT INTO r VALUES (50, 'a'), (150, 'b'), (250, 'c')")
    assert sorted(p.name for p in store._data_dir("r").glob("kr=*")) == [
        "kr=0", "kr=1", "kr=2",
    ]
    assert [r["v"] for r in store.scan_range("r", 100, 200).collect()] == ["b"]
    # composite layout through the SQL front-end, incl. rejection parity
    execute(
        store,
        "CREATE TABLE hr (k bigint, v string) TBLPROPERTIES "
        "('kudu.key_columns'='k', 'kudu.range_splits'='100,200', "
        "'kudu.hash_in_range'='2')",
    )
    assert store.table_meta("hr").hash_in_range == 2
    execute(store, "INSERT INTO hr VALUES (50, 'a'), (150, 'b')")
    leaves = sorted(
        str(p.relative_to(store._data_dir("hr")))
        for p in store._data_dir("hr").glob("kr=*/kb=*")
    )
    # one nested leaf per inserted range (k=50 -> kr=0, k=150 -> kr=1)
    assert len(leaves) == 2
    assert {l.split("/")[0] for l in leaves} == {"kr=0", "kr=1"}
    assert all(l.split("/")[1].startswith("kb=") for l in leaves)
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    with pytest.raises(SqlDdlError, match="integer"):
        execute(
            store,
            "CREATE TABLE bad (k bigint) TBLPROPERTIES "
            "('kudu.key_columns'='k', 'kudu.range_splits'='10', "
            "'kudu.hash_in_range'='lots')",
        )


def test_sql_upsert_into(spark, store):
    """UPSERT INTO (Kudu-dialect first-class verb): same literal syntax
    as INSERT, PK merge semantics — existing keys are replaced where
    INSERT would silently ignore them."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    execute(store, "INSERT INTO t VALUES (1, 'ignored')")  # dup-key ignore
    assert sorted((r.id, r.name) for r in store.scan("t").collect()) == [
        (1, "a"), (2, "b"),
    ]
    execute(store, "UPSERT INTO t VALUES (1, 'replaced'), (3, 'new')")
    assert sorted((r.id, r.name) for r in store.scan("t").collect()) == [
        (1, "replaced"), (2, "b"), (3, "new"),
    ]


def test_sql_update_set_reads_pre_update_row(spark, store):
    """SQL semantics: every SET expression evaluates against the row as it
    was BEFORE the update, so 'SET a = b, b = a' swaps (sequential
    column-by-column application would set b to the new a)."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, a int, b int) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 10, 20), (2, 3, 4)")
    execute(store, "UPDATE t SET a = b, b = a WHERE id = 1")
    rows = sorted((r.id, r.a, r.b) for r in store.scan("t").collect())
    assert rows == [(1, 20, 10), (2, 3, 4)]


def test_sql_update_where_keyword_inside_string_literal(spark, store):
    """The SET/WHERE split is quote-aware: a literal containing ' WHERE '
    must not be misread as the predicate boundary, and a real WHERE after
    such a literal must still be honored."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    execute(store, "UPDATE t SET name = 'x WHERE y'")  # literal, no predicate
    assert {r.name for r in store.scan("t").collect()} == {"x WHERE y"}
    execute(store, "UPDATE t SET name = 'p WHERE q' WHERE id = 2")
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "x WHERE y"), (2, "p WHERE q")]


def test_sql_dml_rejections(spark, store):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a')")
    with pytest.raises(SqlDdlError, match="immutable"):
        execute(store, "UPDATE t SET id = 9")
    with pytest.raises(SqlDdlError, match="unknown column"):
        execute(store, "UPDATE t SET nope = 1")
    with pytest.raises(SqlDdlError, match="WHERE is mandatory"):
        execute(store, "DELETE FROM t")
    with pytest.raises(SqlDdlError, match="no predicate"):
        # a bare trailing WHERE must not become a full-table update
        execute(store, "UPDATE t SET name = 'x' WHERE")
    # nothing was mutated by the rejected statements
    assert [(r.id, r.name) for r in store.scan("t").collect()] == [(1, "a")]


# ---- MERGE INTO (ANSI spelling of the declared upsert goal) ---------------

def _merge_fixture(store):
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    return execute


def test_sql_merge_all_three_clauses_one_commit(spark, store):
    """DELETE + UPDATE + INSERT clauses in one MERGE land as ONE version
    commit (the upsert's delete_keys fold), and the post-state matches
    ANSI semantics."""
    execute = _merge_fixture(store)
    v_before = store.current_version("t")
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1,'a2'),(3,'x'),(4,'d') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN MATCHED AND s.name = 'x' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a2"), (2, "b"), (4, "d")]
    assert store.current_version("t") == v_before + 1


def test_sql_merge_first_true_clause_claims_row(spark, store):
    """ANSI clause order: the FIRST matched clause whose condition holds
    claims the row — id 1 satisfies both conditions and must take the
    first clause's value, not the second's; a NULL condition counts as
    not-satisfied, never poisoning later clauses."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES "
        "(1, 'z', 1), (2, 'y', NULL) AS v(id, name, flag)) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.flag = 1 THEN UPDATE SET name = 'first' "
        "WHEN MATCHED THEN UPDATE SET name = 'second'",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    # id 2's flag is NULL → first clause not satisfied → second applies
    assert rows == [(1, "first"), (2, "second"), (3, "c")]


def test_sql_merge_update_set_sees_both_aliases_and_pre_update_row(
    spark, store
):
    """SET expressions evaluate with both aliases in scope against the
    PRE-update target row, and a table (non-subquery) source works."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE t (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    execute(
        store,
        "CREATE TABLE src (id int, sfx string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO src VALUES (1, '!'), (9, '?')")
    execute(
        store,
        "MERGE INTO t USING src ON t.id = src.id "
        "WHEN MATCHED THEN UPDATE SET name = concat(t.name, src.sfx)",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a!"), (2, "b")]


def test_sql_merge_case_when_inside_and_condition(spark, store):
    """A CASE expression inside a clause's AND condition — bare or
    parenthesized — owns its own THENs; the clause-level THEN boundary
    must skip them (r16 review: the lazy-regex split broke this)."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1, 1), (2, 0) "
        "AS v(id, flag)) AS s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.flag = 1 THEN 1 ELSE 0 END = 1 "
        "THEN UPDATE SET name = 'flagged' "
        "WHEN MATCHED AND (CASE WHEN s.flag = 0 THEN 'y' END) = 'y' "
        "THEN UPDATE SET name = 'unflagged'",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "flagged"), (2, "unflagged"), (3, "c")]


def test_sql_merge_insert_star_and_case_when_in_set(spark, store):
    """INSERT * projects source columns by name; a CASE WHEN inside a SET
    expression must not be misparsed as a WHEN clause boundary."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (2,'bb'),(7,'g') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = "
        "CASE WHEN s.name = 'bb' THEN upper(s.name) ELSE s.name END "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "BB"), (3, "c"), (7, "g")]


def test_sql_merge_not_matched_by_source(spark, store):
    """ANSI-2023 BY SOURCE clauses act on target rows with no source
    match: full-sync semantics — source rows update/insert, absent rows
    are flagged then deleted, all in ONE version commit."""
    execute = _merge_fixture(store)
    v_before = store.current_version("t")
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1,'a2'),(9,'i') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'orphan'",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    # 1 updated from source, 2 deleted (by-source cond), 3 flagged
    # orphan (by-source fallthrough), 9 inserted
    assert rows == [(1, "a2"), (3, "orphan"), (9, "i")]
    assert store.current_version("t") == v_before + 1


def test_sql_merge_view_source(spark, store):
    """A store VIEW can be the MERGE source: the stored SELECT expands
    lazily against current base data."""
    execute = _merge_fixture(store)
    execute(
        store,
        "CREATE TABLE raw (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    execute(store, "INSERT INTO raw VALUES (1, 'A1'), (8, 'H8'), (9, 'zz')")
    execute(
        store,
        "CREATE VIEW fresh AS SELECT id, lower(name) AS name FROM raw "
        "WHERE name != 'zz'",
    )
    execute(
        store,
        "MERGE INTO t USING fresh ON t.id = fresh.id "
        "WHEN MATCHED THEN UPDATE SET name = fresh.name "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a1"), (2, "b"), (3, "c"), (8, "h8")]


def test_sql_merge_randomized_against_python_model(spark, store):
    """Randomized differential check of MERGE semantics: random data ×
    random clause subsets/orders, executed through the SQL front-end
    AND through a pure-Python model of ANSI MERGE (first-true-claims
    per row, three clause scopes) — the two must agree exactly.  Six
    seeded scenarios; values kept non-NULL so the model needs no
    three-valued logic (the NULL-condition path is pinned separately in
    test_sql_merge_first_true_clause_claims_row)."""
    import random

    from hivekudu_handler_spark.sources.sql_ddl import execute

    # clause pool: (SQL text, scope, condition, python action)
    # actions mutate the model dict {id: (val, name)}; t = pre-merge row
    POOL = [
        (
            "WHEN MATCHED AND s.val % 2 = 0 THEN "
            "UPDATE SET val = s.val, name = s.name",
            "matched",
            lambda t, s: s[0] % 2 == 0,
            lambda t, s: s,
        ),
        (
            "WHEN MATCHED AND t.val > 50 THEN DELETE",
            "matched",
            lambda t, s: t[0] > 50,
            None,
        ),
        (
            "WHEN MATCHED THEN UPDATE SET val = t.val + s.val",
            "matched",
            lambda t, s: True,
            lambda t, s: (t[0] + s[0], t[1]),
        ),
        (
            "WHEN NOT MATCHED AND s.val >= 10 THEN "
            "INSERT (id, val, name) VALUES (s.id, s.val, s.name)",
            "not_matched",
            lambda s: s[0] >= 10,
            lambda s: s,
        ),
        (
            "WHEN NOT MATCHED THEN INSERT *",
            "not_matched",
            lambda s: True,
            lambda s: s,
        ),
        (
            # conditional + INSERT * interplay, explicitly in the pool
            # (r16 verdict item 6)
            "WHEN NOT MATCHED AND s.val < 50 THEN INSERT *",
            "not_matched",
            lambda s: s[0] < 50,
            lambda s: s,
        ),
        (
            "WHEN NOT MATCHED BY SOURCE AND t.val < 20 THEN DELETE",
            "by_source",
            lambda t: t[0] < 20,
            None,
        ),
        (
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'stale'",
            "by_source",
            lambda t: True,
            lambda t: (t[0], "stale"),
        ),
    ]

    def model(target, source, clauses):
        out = {}
        for tid, trow in target.items():
            if tid in source:
                srow = source[tid]
                kept, result = True, trow
                for sql_txt, scope, cond, act in clauses:
                    if scope == "matched" and cond(trow, srow):
                        if act is None:
                            kept = False
                        else:
                            result = act(trow, srow)
                        break
                if kept:
                    out[tid] = result
            else:
                kept, result = True, trow
                for sql_txt, scope, cond, act in clauses:
                    if scope == "by_source" and cond(trow):
                        if act is None:
                            kept = False
                        else:
                            result = act(trow)
                        break
                if kept:
                    out[tid] = result
        for sid, srow in source.items():
            if sid not in target:
                for sql_txt, scope, cond, act in clauses:
                    if scope == "not_matched" and cond(srow):
                        out[sid] = act(srow)
                        break
        return out

    rng = random.Random(20260815)
    for scenario in range(6):
        n_clauses = rng.randint(1, 4)
        clauses = rng.sample(POOL, n_clauses)
        target = {
            i: (rng.randint(0, 99), rng.choice("abcdef"))
            for i in rng.sample(range(1, 21), rng.randint(8, 15))
        }
        source = {
            i: (rng.randint(0, 99), rng.choice("uvwxyz"))
            for i in rng.sample(range(1, 26), rng.randint(5, 12))
        }
        execute(store, "DROP TABLE IF EXISTS m")
        execute(
            store,
            "CREATE TABLE m (id int, val int, name string) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        tvals = ", ".join(
            f"({i}, {v}, '{n}')" for i, (v, n) in sorted(target.items())
        )
        execute(store, f"INSERT INTO m VALUES {tvals}")
        svals = ", ".join(
            f"({i}, {v}, '{n}')" for i, (v, n) in sorted(source.items())
        )
        execute(
            store,
            f"MERGE INTO m AS t "
            f"USING (SELECT * FROM VALUES {svals} AS v(id, val, name)) AS s "
            "ON t.id = s.id " + " ".join(c[0] for c in clauses),
        )
        got = {
            r.id: (r.val, r.name) for r in store.scan("m").collect()
        }
        want = model(target, source, clauses)
        assert got == want, (
            scenario,
            [c[0] for c in clauses],
            sorted(got.items()),
            sorted(want.items()),
        )


def test_sql_merge_insert_missing_non_key_defaults_null(spark, store):
    """An INSERT column list may omit non-key columns — they land NULL
    (key columns are mandatory, pinned in the rejections test)."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (7, 'g') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (7, None)]


def test_sql_merge_insert_only_tolerates_multi_match(spark, store):
    """An insert-only MERGE leaves matched rows untouched, so duplicate
    source matches are harmless and must NOT raise the cardinality
    violation (Delta draws the same line); the duplicate-key unmatched
    inserts collapse deterministically via the store's batch dedup."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES "
        "(1, 'x'), (1, 'y'), (9, 'i'), (9, 'h') AS v(id, name)) AS s "
        "ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    # id 1 matched twice -> untouched; id 9 inserted once (dedup winner
    # is the smallest non-key tuple: 'h')
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (9, "h")]


def test_sql_merge_rewrites_only_touched_buckets(spark, store):
    """The 100 TB property of MERGE: a small statement (one update, one
    delete, one insert) leaves every data file in untouched buckets
    byte-identical — the write cost is bucket-scoped, not table-scoped,
    because all three outcomes ride ONE store.upsert(batch,
    delete_keys=...) commit."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    execute(
        store,
        "CREATE TABLE big (id int, name string) "
        "TBLPROPERTIES ('kudu.key_columns'='id')",
    )
    ids = list(range(1, 41))
    execute(
        store,
        "INSERT INTO big VALUES "
        + ", ".join(f"({i}, 'n{i}')" for i in ids),
    )
    before = _live_files(store, "big")
    buckets = _bucket_of(spark, ids + [99])
    hit = {buckets[1], buckets[2], buckets[99]}  # update, delete, insert
    execute(
        store,
        "MERGE INTO big AS t USING (SELECT * FROM VALUES "
        "(1, 'upd'), (2, 'del'), (99, 'ins') AS v(id, name)) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.name = 'del' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    after = _live_files(store, "big")
    untouched = 0
    for path, blob in before.items():
        if not any(path.startswith(f"kb={b}/") for b in hit):
            assert path in after and after[path] == blob
            untouched += 1
    assert untouched > 0  # the guard must actually guard something
    got = {r.id: r.name for r in store.scan("big").collect()}
    assert got[1] == "upd" and 2 not in got and got[99] == "ins"
    assert len(got) == 40  # 40 - 1 deleted + 1 inserted


def test_sql_entry_point_routes_merge(spark, store):
    """The one-stop sql() dispatcher routes MERGE to the DML layer and
    a follow-up SELECT over the merged table through Spark SQL — the
    reference demo's statement-mix pattern extended to MERGE."""
    from hivekudu_handler_spark.sources.sql_ddl import sql

    _merge_fixture(store)
    sql(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1, 'a2'), (9, 'i') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED THEN INSERT *;",
    )
    out = sql(store, "SELECT count(*) AS n FROM t WHERE name IN ('a2', 'i')")
    assert out.collect()[0]["n"] == 2


def test_sql_merge_rejections(spark, store):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    execute = _merge_fixture(store)
    src = "(SELECT * FROM VALUES (1,'x') AS v(id, name)) AS s"
    with pytest.raises(SqlDdlError, match="immutable"):
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET id = 9",
        )
    with pytest.raises(SqlDdlError, match="key column"):
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (name) VALUES (s.name)",
        )
    with pytest.raises(SqlDdlError, match="alias"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES (1,'x') AS v(id, name)) "
            "ON t.id = id WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(SqlDdlError, match="WHEN clause"):
        execute(store, f"MERGE INTO t USING {src} ON t.id = s.id")
    with pytest.raises(SqlDdlError, match="SET target"):
        # qualifying the SOURCE alias in a SET target is a user error,
        # not a silent target assignment (r16 review)
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET s.name = 'x'",
        )
    with pytest.raises(SqlDdlError, match="duplicate column"):
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, id) VALUES (9, 8)",
        )
    with pytest.raises(SqlDdlError, match="only valid after"):
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN MATCHED BY SOURCE THEN DELETE",
        )
    with pytest.raises(SqlDdlError, match="unsupported MERGE action"):
        execute(
            store,
            f"MERGE INTO t USING {src} ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT (id, name) "
            "VALUES (1, 'x')",
        )
    # duplicate source keys matching one target row → ANSI cardinality
    with pytest.raises(SqlDdlError, match="cardinality"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES (1,'x'),(1,'y') "
            "AS v(id, name)) AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET name = s.name",
        )
    # nothing was mutated by the rejected statements
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_sql_merge_cardinality_condition_aware(spark, store):
    """A target row with MULTIPLE source matches is valid when at most
    one match satisfies the MATCHED clause conditions (ANSI/SQL Server:
    only an actual double update/delete is a violation — r16 advice).
    The SCD idiom 'WHEN MATCHED AND s.is_current = 1' must work against
    a source carrying history rows."""
    execute = _merge_fixture(store)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES "
        "(1, 'old', 0), (1, 'new', 1), (2, 'hist', 0) "
        "AS v(id, name, is_current)) AS s ON t.id = s.id "
        "WHEN MATCHED AND s.is_current = 1 THEN UPDATE SET name = s.name",
    )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    # id 1: two matches, one claimed -> updated with the claimed row;
    # id 2: one match, unclaimed -> untouched
    assert rows == [(1, "new"), (2, "b"), (3, "c")]


def test_sql_merge_cardinality_violation_across_clauses(spark, store):
    """Two source matches claimed by DIFFERENT matched clauses (one
    UPDATE, one DELETE) are still a cardinality violation, and the guard
    fires inside the single upsert execution BEFORE anything is written:
    rows AND version are untouched."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    execute = _merge_fixture(store)
    v_before = store.current_version("t")
    with pytest.raises(SqlDdlError, match="cardinality"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES "
            "(1, 'x', 1), (1, 'y', 2) AS v(id, name, k)) AS s "
            "ON t.id = s.id "
            "WHEN MATCHED AND s.k = 1 THEN UPDATE SET name = s.name "
            "WHEN MATCHED AND s.k = 2 THEN DELETE",
        )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    assert store.current_version("t") == v_before


def test_sql_merge_insert_null_key_raises(spark, store):
    """A NOT MATCHED INSERT whose key expression evaluates to NULL is an
    ANSI constraint violation raised before anything is written — not a
    silent drop by batch validation (r16 advice).  Both the VALUES and
    INSERT * spellings are guarded, post-cast."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    execute = _merge_fixture(store)
    v_before = store.current_version("t")
    with pytest.raises(SqlDdlError, match="NULL key"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES (9, 'i') "
            "AS v(id, name)) AS s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, name) "
            "VALUES (CAST(NULL AS INT), s.name)",
        )
    with pytest.raises(SqlDdlError, match="NULL key"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES "
            "(CAST(NULL AS INT), 'n') AS v(id, name)) AS s "
            "ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    assert store.current_version("t") == v_before


def test_sql_insert_null_key_raises(spark, store):
    """INSERT INTO / UPSERT INTO with a NULL key value raise the same
    ANSI constraint violation MERGE INSERT does — one dialect, one
    rule (r17 review: the guard was MERGE-only at first, leaving plain
    INSERT with silent-drop semantics).  Nothing is written: version
    and rows are untouched."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    execute = _merge_fixture(store)
    v_before = store.current_version("t")
    with pytest.raises(SqlDdlError, match="NULL key"):
        execute(store, "INSERT INTO t VALUES (NULL, 'x')")
    with pytest.raises(SqlDdlError, match="NULL key"):
        execute(store, "UPSERT INTO t VALUES (NULL, 'x')")
    rows = sorted((r.id, r.name) for r in store.scan("t").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    assert store.current_version("t") == v_before


def test_sql_merge_insert_multi_row_values_rejected(spark, store):
    """Multi-row VALUES in a MERGE INSERT (invalid ANSI, a plausible
    typo) gets a clean SqlDdlError naming the rule, not an opaque Spark
    expression-parse error from the greedily captured tail (r16
    advice)."""
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError

    execute = _merge_fixture(store)
    with pytest.raises(SqlDdlError, match="single VALUES row"):
        execute(
            store,
            "MERGE INTO t USING (SELECT * FROM VALUES (9, 'i') "
            "AS v(id, name)) AS s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, name) "
            "VALUES (9, 'x'), (10, 'y')",
        )


def test_sql_merge_runs_no_action_outside_the_single_upsert(
    spark, store, monkeypatch
):
    """The r16 cardinality probe ran the target⋈source join as a
    SEPARATE ``dup.limit(1).count()`` action per statement; the check
    now rides inside the one upsert execution.  Pin: ``_merge`` itself
    triggers ZERO Spark actions — with ``store.upsert`` stubbed out,
    every DataFrame action method is a test failure, so MERGE's total
    action count is exactly the upsert's."""
    from pyspark.sql import DataFrame

    from hivekudu_handler_spark.sources.table_store import TableStore

    execute = _merge_fixture(store)
    calls = []
    monkeypatch.setattr(
        TableStore,
        "upsert",
        lambda self, name, df, *, delete_keys=None: calls.append(name),
    )

    def boom(*a, **k):
        raise AssertionError("MERGE planning must not trigger a Spark action")

    for action in (
        "collect", "count", "take", "head", "first", "toPandas",
        "toLocalIterator", "foreach", "foreachPartition",
    ):
        monkeypatch.setattr(DataFrame, action, boom)
    execute(
        store,
        "MERGE INTO t USING (SELECT * FROM VALUES (1,'x'),(9,'i') "
        "AS v(id, name)) AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN MATCHED AND t.id > 99 THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert calls == ["t"]


# ---- ALTER TABLE (Kudu AlterTableRequest parity) --------------------------

def test_alter_add_column_backfills_null(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a")])
    store.add_column("t", "score", "double")
    assert store.scan("t").collect()[0]["score"] is None
    # new writes carry the column; old rows stay NULL
    store.upsert("t", spark.createDataFrame([(2, "b", 2.5)], store.table_meta("t").schema))
    got = {r["id"]: r["score"] for r in store.scan("t").collect()}
    assert got == {1: None, 2: 2.5}


def test_alter_drop_then_readd_does_not_resurrect(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "ghost")])
    store.drop_column("t", "name")
    store.add_column("t", "name", "string")
    assert store.scan("t").collect()[0]["name"] is None


def test_alter_rename_column_is_metadata_only(spark, store, tmp_path):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a")])
    files_before = sorted((tmp_path / "wh" / "t" / "data").rglob("*.parquet"))
    store.rename_column("t", "name", "label")
    files_after = sorted((tmp_path / "wh" / "t" / "data").rglob("*.parquet"))
    assert files_before == files_after
    assert store.scan("t").columns == ["id", "label"]
    assert store.scan("t").collect()[0]["label"] == "a"
    # survives a fresh store instance (mapping persisted in meta.json)
    from hivekudu_handler_spark.sources.table_store import TableStore

    st2 = TableStore(spark, str(tmp_path / "wh"))
    assert st2.scan("t").collect()[0]["label"] == "a"


def test_alter_rename_key_column(spark, store):
    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(7, "a")])
    store.rename_column("t", "id", "pk")
    assert store.table_meta("t").key_columns == ["pk"]
    assert store.lookup("t", {"pk": 7}).count() == 1


def test_alter_rejections(spark, store, sf_dir):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute
    from hivekudu_handler_spark.sources.table_store import (
        TableExistsError,
        TableStoreError,
    )

    store.create_table("t", "id int, name string", ["id"], partition_by=None)
    store.create_table("other", "id int, v string", ["id"])
    with pytest.raises(TableStoreError, match="key column"):
        store.drop_column("t", "id")
    with pytest.raises(TableStoreError, match="already exists"):
        store.rename_column("t", "name", "id")
    with pytest.raises(TableStoreError, match="no such column"):
        store.drop_column("t", "nope")
    with pytest.raises(TableExistsError):
        store.rename_table("t", "other")
    store.attach_external("ext", f"{sf_dir}/nation.parquet", ["n_nationkey"])
    with pytest.raises(TableStoreError, match="ALTER"):
        store.add_column("ext", "c", "int")
    # CHANGE must restate the current type — type ALTER is not a Kudu verb
    with pytest.raises(SqlDdlError, match="type"):
        execute(store, "ALTER TABLE t CHANGE name name2 int")
    execute(store, "ALTER TABLE t CHANGE name name2 string")
    assert store.scan("t").columns == ["id", "name2"]


def test_ctas_rejections_and_types(spark, store):
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    spark.createDataFrame([(1, "a")], "id int, v string").createOrReplaceTempView(
        "ctas_src"
    )
    try:
        with pytest.raises(SqlDdlError, match="key columns"):
            execute(store, "CREATE TABLE t AS SELECT * FROM ctas_src")
        with pytest.raises(SqlDdlError, match="LOCATION"):
            execute(
                store,
                "CREATE TABLE t LOCATION '/tmp/x' TBLPROPERTIES "
                "('kudu.key_columns'='id') AS SELECT * FROM ctas_src",
            )
        execute(
            store,
            "CREATE TABLE t TBLPROPERTIES ('kudu.key_columns'='id') "
            "AS SELECT * FROM ctas_src",
        )
        assert [tuple(r) for r in store.scan("t").collect()] == [(1, "a")]
        # key column arrived non-nullable through the lattice
        meta = store.table_meta("t")
        key_field = next(f for f in meta.schema.fields if f.name == "id")
        assert not key_field.nullable
    finally:
        spark.catalog.dropTempView("ctas_src")


# ---- ANALYZE statistics ---------------------------------------------------

def test_analyze_stats_exact_and_persisted(spark, store):
    store.create_table("t", "id int, name string, score double", ["id"])
    store.insert_values(
        "t", [(1, "a", 1.5), (2, "b", None), (3, "a", 2.5), (4, None, 0.5)]
    )
    stats = store.analyze("t", approx=False)
    assert stats["n_rows"] == 4
    assert stats["columns"]["name"] == {
        "n_nulls": 1, "ndv": 2, "min": "a", "max": "b",
    }
    assert stats["columns"]["score"]["n_nulls"] == 1
    # min/max aggregate on the native type, not lexicographically
    assert stats["columns"]["id"]["max"] == "4"
    # tidy render survives a fresh store handle (sidecar persistence)
    from hivekudu_handler_spark.sources.table_store import TableStore

    reread = TableStore(spark, str(store.root)).stats_df("t").collect()
    assert {r["col_name"]: r["ndv"] for r in reread} == {
        "id": 4, "name": 2, "score": 3,
    }
    assert all(r["n_rows"] == 4 for r in reread)


def test_analyze_stats_approx_and_missing(spark, store):
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store.create_table("t", "id int, name string", ["id"])
    with _pytest.raises(TableStoreError, match="no statistics"):
        store.stats_df("t")
    store.insert_values("t", [(i, f"n{i % 7}") for i in range(100)])
    stats = store.analyze("t")  # HLL++ default
    assert stats["approx"] is True
    # 2% default sketch error is far tighter than this bound at ndv=7
    assert abs(stats["columns"]["name"]["ndv"] - 7) <= 1
    assert stats["columns"]["id"]["n_nulls"] == 0


def test_analyze_stats_lifecycle_across_mutations(spark, store):
    """Data mutations stale-drop the profile; metadata-only ALTERs keep
    it consistent (rename remaps, drop removes, add leaves unprofiled)."""
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    store.analyze("t", approx=False)
    # metadata-only ALTERs preserve (remapped) stats
    store.rename_column("t", "name", "label")
    store.add_column("t", "score", "double")
    prof = {r["col_name"]: r["ndv"] for r in store.stats_df("t").collect()}
    assert prof == {"id": 2, "label": 2}  # renamed key, new col unprofiled
    store.drop_column("t", "score")
    assert "score" not in {
        r["col_name"] for r in store.stats_df("t").collect()
    }
    # a data mutation drops the sidecar entirely
    store.insert_values("t", [(3, "c")])
    with _pytest.raises(TableStoreError, match="no statistics"):
        store.stats_df("t")
    # compaction rewrites files, not rows: profile survives
    store.analyze("t", approx=False)
    store.compact("t")
    assert {r["n_rows"] for r in store.stats_df("t").collect()} == {3}


# ---- views ----------------------------------------------------------------

def test_view_rules_and_lifecycle(spark, store):
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import (
        NoSuchTableError, TableExistsError, TableStoreError,
    )
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    store.create_view("v", "SELECT id FROM t WHERE name = 'a'")
    assert store.list_views() == ["v"]
    assert [r["id"] for r in store.view_df("v").collect()] == [1]
    # name collisions across tables and views are rejected both ways
    with _pytest.raises(TableExistsError):
        store.create_view("t", "SELECT 1")
    with _pytest.raises(TableExistsError):
        store.create_table("v", "id int", ["id"])
    # no view-on-view
    with _pytest.raises(TableStoreError, match="base tables only"):
        store.create_view("v2", "SELECT * FROM v")
    # the sql() dispatcher sees views in plain SELECTs
    out = run_sql(store, "SELECT count(*) AS n FROM v")
    assert out.collect()[0]["n"] == 1
    # DROP VIEW via front-end; IF EXISTS tolerates absence
    run_sql(store, "DROP VIEW v")
    assert store.list_views() == []
    run_sql(store, "DROP VIEW IF EXISTS v")
    with _pytest.raises(NoSuchTableError):
        store.view_df("v")


# ---- materialized views ---------------------------------------------------

def test_mview_incremental_maintenance_edges(spark, store):
    import pytest as _pytest
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, sql as run_sql

    store.create_table("b", "id int, grp string, x int", ["id"])
    store.insert_values("b", [(1, "a", 10), (2, "a", 20), (3, "b", 5)])
    store.create_materialized_view("mv", "b", ["grp"], ["x"])

    def snap():
        return {
            r["grp"]: (r["n_rows"], r["sum_x"])
            for r in store.scan("mv").collect()
        }

    assert snap() == {"a": (2, 30), "b": (1, 5)}
    assert store.list_materialized_views() == ["mv"]
    assert "mv" in store.list_tables()  # the materialization IS a table
    # no-op refresh is cheap and honest
    assert store.refresh_materialized_view("mv")["refreshed"] is False
    # group MIGRATION: row 2 moves a -> b (retract from a, assert into b)
    store.upsert("b", spark.createDataFrame([(2, "b", 20)], "id int, grp string, x int"))
    # and group 'a' loses row 1 too -> a becomes empty and must vanish
    store.delete_where("b", "id = 1")
    out = store.refresh_materialized_view("mv")
    assert out["refreshed"] is True
    assert snap() == {"b": (2, 25)}
    # non-IVM select shapes are rejected with the reason
    with _pytest.raises(SqlDdlError, match="self-maintainable"):
        run_sql(
            store,
            "CREATE MATERIALIZED VIEW m2 AS "
            "SELECT grp, MIN(x) AS min_x FROM b GROUP BY grp",
        )


def test_view_dependency_guards_and_case_folding(spark, store):
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store.create_table("t", "id int, total int", ["id"])
    store.insert_values("t", [(1, 5)])
    store.create_view("v", "SELECT id FROM t")
    # a column/alias colliding with a view name is NOT a view reference
    store.create_view("total", "SELECT id AS anything FROM t")
    store.create_view("v_alias", "SELECT total AS total FROM t")
    # dropping/renaming a base under a dependent view is refused
    with _pytest.raises(TableStoreError, match="referenced by view"):
        store.drop_table("t")
    with _pytest.raises(TableStoreError, match="referenced by view"):
        store.rename_table("t", "t2")
    # mixed-case DROP VIEW IF EXISTS actually drops (store is case-folding)
    run_sql(store, "DROP VIEW IF EXISTS V_Alias")
    assert "v_alias" not in store.list_views()
    # a dropped view is NOT queryable afterwards through sql()
    run_sql(store, "SELECT * FROM v")  # registers temp view
    store.drop_view("v")
    from pyspark.sql.utils import AnalysisException

    with _pytest.raises(AnalysisException):
        run_sql(store, "SELECT * FROM v")


def test_comma_join_and_backtick_views_block_drop(spark, store):
    """r6 advice (medium): the textual ref scan missed comma-style joins
    with aliases; the drop/rename guard now also re-plans every view
    without the target, so 'FROM a x, b y' protects b too."""
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store.create_table("a", "id int, x int", ["id"])
    store.create_table("b", "id int, y int", ["id"])
    store.insert_values("a", [(1, 10)])
    store.insert_values("b", [(1, 20)])
    store.create_view(
        "v", "SELECT a2.x, b2.y FROM a a2, b b2 WHERE a2.id = b2.id"
    )
    with _pytest.raises(TableStoreError, match="referenced by view"):
        store.drop_table("b")
    with _pytest.raises(TableStoreError, match="referenced by view"):
        store.rename_table("b", "b2")
    # the guard refused without corrupting anything: view still serves
    assert store.view_df("v").collect()[0]["y"] == 20
    store.drop_view("v")
    store.drop_table("b")  # no dependents left
    assert "b" not in store.list_tables()


def test_create_view_validates_sql_at_create_time(spark, store):
    """r6 advice (medium): a persisted view that doesn't parse/resolve
    would poison register_views() for every later query — refuse at
    CREATE instead, and leave no catalog entry behind."""
    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(1, "a")])
    with _pytest.raises(TableStoreError, match="parse/resolve"):
        store.create_view("bad_parse", "SELEKT broken FROM FROM")
    with _pytest.raises(TableStoreError, match="parse/resolve"):
        store.create_view("bad_col", "SELECT no_such_col FROM t")
    assert store.list_views() == []
    # unrelated queries keep working after the refused creates
    store.create_view("good", "SELECT id FROM t")
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    assert run_sql(store, "SELECT count(*) AS n FROM good").collect()[0]["n"] == 1


def _unlisted_files(store, name):
    """Files in data/ that no retained manifest lists."""
    data = store._data_dir(name)
    listed = set()
    for v in store._version_numbers(name):
        listed |= set(store._read_manifest(name, v)["files"])
    return {str(p.relative_to(data)) for p in data.rglob("*.parquet")} - listed


def test_commit_crash_leaves_last_version_readable(spark, store, monkeypatch):
    """A writer that dies after its staged files reach data/ but before
    its manifest commits leaves the table at its last commit — for an
    append (insert) and a bucket rewrite (upsert) alike: scan,
    current_version and the older snapshot are unchanged, and vacuum
    deletes the orphaned files."""
    store.create_table("t", "id int, x int", ["id"])
    store.insert_values("t", [(i, i * 10) for i in range(1, 9)])
    v_old = store.current_version("t")
    old = {(r["id"], r["x"]) for r in store.scan("t").collect()}
    store.upsert("t", spark.createDataFrame([(2, 7)], "id int, x int"))
    v_cur = store.current_version("t")
    cur = {(r["id"], r["x"]) for r in store.scan("t").collect()}

    def crash(*args):
        raise OSError("simulated crash before the manifest commit")

    monkeypatch.setattr(store, "_commit_version", crash)
    with pytest.raises(OSError, match="simulated crash"):
        store.insert_values("t", [(100, 1000)])
    n_after_insert = len(_unlisted_files(store, "t"))
    assert n_after_insert > 0, "the insert's staged files never reached data/"
    with pytest.raises(OSError, match="simulated crash"):
        store.upsert("t", spark.createDataFrame([(1, 999)], "id int, x int"))
    orphans = _unlisted_files(store, "t")
    assert len(orphans) > n_after_insert, "the upsert's files never reached data/"
    monkeypatch.undo()

    def unchanged():
        assert store.current_version("t") == v_cur
        assert {(r["id"], r["x"]) for r in store.scan("t").collect()} == cur
        got = {(r["id"], r["x"]) for r in store.scan_snapshot("t", v_old).collect()}
        assert got == old

    unchanged()
    assert store.vacuum("t", keep_last=1)["deleted_files"] == len(orphans)
    assert not _unlisted_files(store, "t")
    unchanged()


def test_concurrent_upserts_from_one_base_conflict(spark, store, monkeypatch):
    """Two upserts based on the same version: exactly one commits, the
    other gets CommitConflict instead of overwriting its manifest; the
    winner's rows are current and vacuum deletes the loser's files."""
    import threading

    from hivekudu_handler_spark.sources.table_store import CommitConflict

    store.create_table("t", "id int, x int", ["id"])
    store.insert_values("t", [(i, 0) for i in range(1, 9)])
    base = store.current_version("t")
    commit = store._commit_version
    both_staged = threading.Barrier(2, timeout=120)

    def commit_when_both_staged(*args):
        both_staged.wait()
        return commit(*args)

    monkeypatch.setattr(store, "_commit_version", commit_when_both_staged)
    outcome = {}

    def writer(x):
        try:
            store.upsert(
                "t", spark.createDataFrame([(1, x), (2, x)], "id int, x int")
            )
            outcome[x] = "committed"
        except CommitConflict:
            outcome[x] = "conflict"

    threads = [threading.Thread(target=writer, args=(x,)) for x in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    monkeypatch.undo()

    assert sorted(outcome.values()) == ["committed", "conflict"], outcome
    winner = next(x for x, o in outcome.items() if o == "committed")
    assert store.current_version("t") == base + 1
    want = {(1, winner), (2, winner)} | {(i, 0) for i in range(3, 9)}
    assert {(r["id"], r["x"]) for r in store.scan("t").collect()} == want
    loser_files = _unlisted_files(store, "t")
    assert loser_files
    assert store.vacuum("t")["deleted_files"] == len(loser_files)
    assert not _unlisted_files(store, "t")
    assert {(r["id"], r["x"]) for r in store.scan("t").collect()} == want


def test_building_a_read_starts_no_spark_job(spark, store):
    """A version's file list past 32 paths would be listed by a Spark
    job; the session's parallelPartitionDiscovery threshold keeps the
    listing on the driver, so building scan() and scan_snapshot() runs
    nothing."""
    store.create_table("t", "id int, x int", ["id"])
    for i in range(40):
        store.insert_values("t", [(i, i)])
    v = store.current_version("t")
    assert len(store._read_manifest("t", v)["files"]) > 32
    sc = spark.sparkContext
    group = "table-store-read-build"
    sc.setJobGroup(group, "build table-store reads")
    try:
        current = store.scan("t")
        snap = store.scan_snapshot("t", v)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], jobs
    want = {(i, i) for i in range(40)}
    assert {(r["id"], r["x"]) for r in current.collect()} == want
    assert {(r["id"], r["x"]) for r in snap.collect()} == want


def test_rebucket_preserves_analyze_stats(spark, store):
    """r6 advice (low): rebucket rewrites files, not rows — the ANALYZE
    profile stays valid and must survive, like compact's exemption."""
    store.create_table("t", "id int, x int", ["id"])
    store.insert_values("t", [(i, i) for i in range(1, 11)])
    store.analyze("t")
    assert store._stats_path("t").exists()
    store.rebucket("t", 8)
    assert store._stats_path("t").exists(), "rebucket must keep the profile"
    # a real data mutation still stale-drops it
    store.insert_values("t", [(99, 99)])
    assert not store._stats_path("t").exists()


def test_mview_requires_count_star(spark, store):
    """r6 advice (low): the materialization always stores n_rows, so a
    SELECT without COUNT(*) AS n_rows would silently gain an undeclared
    column — refuse with the reason instead."""
    import pytest as _pytest
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, sql as run_sql

    store.create_table("b", "id int, grp string, x int", ["id"])
    store.insert_values("b", [(1, "a", 10)])
    with _pytest.raises(SqlDdlError, match="COUNT\\(\\*\\) AS n_rows"):
        run_sql(
            store,
            "CREATE MATERIALIZED VIEW m AS "
            "SELECT grp, SUM(x) AS sum_x FROM b GROUP BY grp",
        )
    # the declared shape still works
    run_sql(
        store,
        "CREATE MATERIALIZED VIEW m AS "
        "SELECT grp, COUNT(*) AS n_rows, SUM(x) AS sum_x FROM b GROUP BY grp",
    )
    row = store.scan("m").collect()[0]
    assert (row["grp"], row["n_rows"], row["sum_x"]) == ("a", 1, 10)


def test_mview_null_group_and_key_sum_and_crash_recovery(spark, store):
    import json as _json

    import pytest as _pytest
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    # NULL group value is an explicit error, not a silent drop
    store.create_table("b", "id int, grp string, x int", ["id"])
    store.insert_values("b", [(1, None, 10), (2, "a", 20)])
    with _pytest.raises(TableStoreError, match="NULL value in group"):
        store.create_materialized_view("mv", "b", ["grp"], ["x"])
    assert store._mviews_on("b") == []  # no half-created table left
    store.delete_where("b", "grp IS NULL")

    # SUM over the base's KEY column maintains through refresh (old_ fix)
    store.create_materialized_view("mv", "b", ["grp"], ["id", "x"])
    store.insert_values("b", [(3, "a", 5)])
    store.delete_where("b", "id = 2")
    store.refresh_materialized_view("mv")
    row = store.scan("mv").collect()[0]
    assert (row["grp"], row["n_rows"], row["sum_id"], row["sum_x"]) == (
        "a", 1, 3, 5,
    )

    # crash between merge and bookkeeping: recovery must not double-count.
    # r8: refresh lands the changed-group upsert AND the emptied-group
    # delete in ONE store.upsert(delete_keys=...) commit, so the crash
    # window is now "merge commit landed, phase-2 bookkeeping didn't" —
    # inject by letting the real upsert complete, then dying
    store.insert_values("b", [(4, "c", 7)])
    real_upsert = store.upsert

    def crashing_upsert(*a, **k):
        real_upsert(*a, **k)
        raise RuntimeError("injected crash after merge upsert")

    store.upsert = crashing_upsert
    # empty a group so the folded delete path participates in the merge
    store.delete_where("b", "grp = 'a'")
    with _pytest.raises(RuntimeError, match="injected"):
        store.refresh_materialized_view("mv")
    store.upsert = real_upsert
    mv_meta = _json.loads(store._mview_path("mv").read_text())
    assert "pending" in mv_meta  # marker survives the crash
    store.refresh_materialized_view("mv")  # rolls back, re-applies
    assert {
        (r["grp"], r["n_rows"], r["sum_x"]) for r in store.scan("mv").collect()
    } == {("c", 1, 7)}


def test_vacuum_retains_pending_mview_rollback_snapshot(spark, store):
    """r7: vacuuming a materialization while a refresh marker is pending
    must keep the pre-merge snapshot alive, or crash recovery can never
    roll back (the mview would be stuck forever)."""
    import json as _json

    import pytest as _pytest

    store.create_table("b", "id int, grp string, x int", ["id"])
    store.insert_values("b", [(1, "a", 10), (2, "b", 20)])
    store.create_materialized_view("mv", "b", ["grp"], ["x"])
    # advance the view table a few versions so vacuum has something to drop
    store.insert_values("b", [(3, "a", 5)])
    store.refresh_materialized_view("mv")
    store.insert_values("b", [(4, "b", 2)])
    store.refresh_materialized_view("mv")
    # crash mid-refresh: marker set, upsert landed, bookkeeping didn't
    store.insert_values("b", [(5, "a", 1)])
    real_upsert = store.upsert
    store.upsert = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash during merge")
    )
    with _pytest.raises(RuntimeError, match="injected"):
        store.refresh_materialized_view("mv")
    store.upsert = real_upsert
    mv_meta = _json.loads(store._mview_path("mv").read_text())
    assert "pending" in mv_meta
    view_pre = mv_meta["pending"]["view_pre"]
    # aggressive vacuum of the materialization keeps the marker's snapshot
    out = store.vacuum("mv", keep_last=0)
    assert view_pre not in out["dropped_versions"]
    # recovery still rolls back and re-applies to the correct state
    store.refresh_materialized_view("mv")
    assert {
        (r["grp"], r["n_rows"], r["sum_x"]) for r in store.scan("mv").collect()
    } == {("a", 3, 16), ("b", 2, 22)}


def test_mview_randomized_mutation_equivalence(spark, store):
    """QuickCheck-style IVM check: random insert/upsert/delete batches
    against the base, incremental refresh after each, and the stored
    aggregate must equal a from-scratch recompute at every step."""
    import random

    store.create_table("b", "id int, grp string, x int", ["id"])
    store.create_materialized_view("mv", "b", ["grp"], ["x"])
    rng = random.Random(20260814)
    groups = ["g0", "g1", "g2", "g3"]
    live: dict[int, tuple[str, int]] = {}
    next_id = 0
    for step in range(6):
        op = rng.choice(["insert", "upsert", "delete"])
        if op == "insert" or not live:
            rows = []
            for _ in range(rng.randint(1, 5)):
                rows.append((next_id, rng.choice(groups), rng.randint(-9, 9)))
                live[next_id] = (rows[-1][1], rows[-1][2])
                next_id += 1
            store.insert_values("b", rows)
        elif op == "upsert":
            ids = rng.sample(sorted(live), min(3, len(live)))
            rows = [
                (i, rng.choice(groups), rng.randint(-9, 9)) for i in ids
            ]
            for i, g, x in rows:
                live[i] = (g, x)
            store.upsert("b", spark.createDataFrame(rows, "id int, grp string, x int"))
        else:
            victim_grp = rng.choice(groups)
            store.delete_where("b", f"grp = '{victim_grp}'")
            live = {i: gx for i, gx in live.items() if gx[0] != victim_grp}
        store.refresh_materialized_view("mv")
        got = {
            r["grp"]: (r["n_rows"], r["sum_x"])
            for r in store.scan("mv").collect()
        }
        want: dict[str, tuple[int, int]] = {}
        for g, x in live.values():
            n, s = want.get(g, (0, 0))
            want[g] = (n + 1, s + x)
        assert got == want, (step, op, got, want)


# ---- SQL-text helper properties -------------------------------------------

def test_split_top_properties():
    """_split_top must respect nesting and quoted strings for ANY
    well-formed input: joining the parts with ',' round-trips, no part
    has unbalanced parens, and quoted commas never split."""
    from hypothesis import given, settings, strategies as st

    from hivekudu_handler_spark.sources.sql_ddl import _split_top

    # non-empty atoms: callers (SET lists, select items) never produce
    # empty comma slots, and _split_top drops fully-empty splits
    atom = st.one_of(
        st.text(alphabet="abc0", min_size=1, max_size=4),
        st.sampled_from(["'x,y'", "'WHERE'", "f(a, b)", "(1, (2, 3))"]),
    )
    items = st.lists(atom, min_size=1, max_size=5)

    @settings(max_examples=200, deadline=None)
    @given(items)
    def check(parts_in):
        text = ",".join(parts_in)
        parts = _split_top(text)
        assert ",".join(parts) == text
        for p in parts:
            assert p.count("(") == p.count(")")
            # a quote-enclosed comma never becomes a boundary
            assert p.count("'") % 2 == 0

    check()


def test_sql_table_refs_positions_only():
    from hivekudu_handler_spark.sources.table_store import TableStore

    refs = TableStore._sql_table_refs
    assert refs("SELECT a FROM t JOIN u ON t.x = u.x") == {"t", "u"}
    # column aliases / literals / WHERE mentions are not references
    assert refs("SELECT price AS total FROM items WHERE note = 'from t'") == {
        "items",
        # the string literal contains FROM t — a known, conservative
        # false positive of the positional scan; it can only over-refuse
        # (a DROP guard), never under-protect
        "t",
    }
    assert refs("SELECT x FROM a, b") == {"a", "b"}
    assert refs("SELECT x FROM `a-1` JOIN b") == {"a-1", "b"}


# ---- partition evolution --------------------------------------------------

def test_rebucket_preserves_rows_pruning_and_history(spark, store):
    import pytest as _pytest

    store.create_table("t", "id int, name string", ["id"])
    store.insert_values("t", [(i, f"n{i}") for i in range(1, 21)])
    v_before = store.current_version("t")
    before = {(r["id"], r["name"]) for r in store.scan("t").collect()}

    store.rebucket("t", 8)
    # identical logical contents under the new layout
    assert {(r["id"], r["name"]) for r in store.scan("t").collect()} == before
    # buckets materialize only when a row hashes into them; all ids must
    # lie under the NEW count and spread past the old 4-bucket range
    buckets = {int(p.split("/")[0].split("=")[1]) for p in _live_files(store, "t")}
    assert buckets <= set(range(8)) and max(buckets) >= 4, buckets
    # point lookups prune against the NEW bucket count
    assert [r["name"] for r in store.lookup("t", {"id": 7}).collect()] == ["n7"]
    # appends land under the new count too
    store.insert_values("t", [(100, "new")])
    assert [
        r["name"] for r in store.lookup("t", {"id": 100}).collect()
    ] == ["new"]
    # prior snapshots keep reading their own (old-layout) files
    old_snap = {
        (r["id"], r["name"])
        for r in store.scan_snapshot("t", v_before).collect()
    }
    assert old_snap == before
    # range-layout tables are rejected with guidance
    store.create_table(
        "r", "id int, name string", ["id"], range_splits=[10]
    )
    with _pytest.raises(TableStoreError, match="range tables"):
        store.rebucket("r", 8)


def test_ddl_schema_default_literal_with_separator_chars(spark, store):
    """The DDL column splitter lexes through the shared scanner: commas
    and angle brackets inside DEFAULT literals (either quote style) are
    content, not separators."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store.create_table(
        "t", 'id int, v string DEFAULT "a,b<c", w string DEFAULT \'d,e\'', ["id"]
    )
    execute(store, "INSERT INTO t (id) VALUES (1)")
    assert [tuple(r) for r in store.scan("t").collect()] == [(1, "a,b<c", "d,e")]
