"""MVCC snapshot layer tests (Kudu READ_AT_SNAPSHOT / diff-scan /
ancient-history-mark parity, SURVEY.md §2.1)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hivekudu_handler_spark.sources.table_store import (
    TableStore,
    TableStoreError,
    changefeed_segmented,
)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(store, spark, **create_kw):
    store.create_table("t", "id int, v string", ["id"], **create_kw)
    store.insert_values("t", [(i, f"v{i}") for i in range(1, 7)])
    return store.table_meta("t")


def test_snapshot_survives_upsert_and_delete(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(2, "X"), (9, "nine")], meta.schema))
    store.delete_where("t", "id <= 3")
    assert _rows(store.scan_snapshot("t", v1)) == [
        (i, f"v{i}") for i in range(1, 7)
    ]
    assert _rows(store.scan("t")) == [(4, "v4"), (5, "v5"), (6, "v6"), (9, "nine")]


def test_snapshot_of_every_intermediate_version(spark, store):
    meta = _mk(store, spark)
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    v2 = store.current_version("t")
    store.insert_values("t", [(10, "ten")])
    v3 = store.current_version("t")
    store.delete_where("t", "id = 10")
    assert (1, "one") in _rows(store.scan_snapshot("t", v2))
    assert (10, "ten") not in _rows(store.scan_snapshot("t", v2))
    assert (10, "ten") in _rows(store.scan_snapshot("t", v3))
    assert (10, "ten") not in _rows(store.scan("t"))


def test_snapshot_on_composite_range_hash_layout(spark, store):
    store.create_table(
        "t", "id int, v string", ["id"], range_splits=[3, 5], hash_in_range=2
    )
    store.insert_values("t", [(i, f"v{i}") for i in range(1, 7)])
    v1 = store.current_version("t")
    store.delete_where("t", "id >= 4")
    assert _rows(store.scan_snapshot("t", v1)) == [
        (i, f"v{i}") for i in range(1, 7)
    ]
    assert _rows(store.scan("t")) == [(1, "v1"), (2, "v2"), (3, "v3")]


def test_snapshot_predicate_and_projection(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.delete_where("t", "id > 0")  # wipe everything
    got = store.scan_snapshot("t", v1, columns=["id"], predicate="id >= 5")
    assert _rows(got) == [(5,), (6,)]
    with pytest.raises(TableStoreError, match="unknown projected"):
        store.scan_snapshot("t", v1, columns=["nope"])


def _files(store, version):
    return set(store._read_manifest("t", version)["files"])


def test_replaced_files_stay_on_disk_listed_by_old_manifest(spark, store, tmp_path):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    replaced = _files(store, v1) - _files(store, v1 + 1)
    assert replaced, "upsert replaced no files"
    # replaced files keep their data-relative bucket path, on disk
    assert all(p.startswith("kb=") for p in replaced)
    data = tmp_path / "wh" / "t" / "data"
    assert all((data / p).is_file() for p in replaced)


def test_insert_overwrite_snapshot(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.insert_overwrite(
        "t", spark.createDataFrame([(100, "hundred")], meta.schema)
    )
    assert _rows(store.scan("t")) == [(100, "hundred")]
    assert _rows(store.scan_snapshot("t", v1)) == [
        (i, f"v{i}") for i in range(1, 7)
    ]


def test_compaction_preserves_snapshots(spark, store):
    meta = _mk(store, spark)
    for i in range(10, 20):
        store.insert_values("t", [(i, f"v{i}")])
    v_pre = store.current_version("t")
    compacted = store.compact("t", max_files_per_bucket=1)
    assert compacted, "expected at least one crowded bucket"
    assert store.history("t").filter(F.col("op") == "compact").count() == 1
    assert _rows(store.scan_snapshot("t", v_pre)) == _rows(store.scan("t"))


def test_diff_noop_upsert_is_not_an_update(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    # rewrite row 1 with identical values, row 2 with new ones
    store.upsert(
        "t", spark.createDataFrame([(1, "v1"), (2, "changed")], meta.schema)
    )
    d = {(r["id"]): r["change_type"] for r in store.diff("t", v1, v1 + 1).collect()}
    assert d == {2: "update"}


def test_diff_empty_between_identical_versions(spark, store):
    _mk(store, spark)
    v1 = store.current_version("t")
    assert store.diff("t", v1, v1).count() == 0


def test_vacuum_gc_and_retention(spark, store, tmp_path):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    v2 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(2, "two")], meta.schema))
    # keep_last=1 keeps v2 and v3 (current); v0/v1 drop
    res = store.vacuum("t", keep_last=1)
    assert res["dropped_versions"] == [0, v1]
    with pytest.raises(TableStoreError, match="vacuumed"):
        store.scan_snapshot("t", v1).count()
    # v2 must still resolve every file (vacuum keeps listed ones)
    assert (1, "one") in _rows(store.scan_snapshot("t", v2))
    # a second vacuum down to current-only deletes every other file
    store.vacuum("t", keep_last=0)
    table = tmp_path / "wh" / "t"
    on_disk = {str(p.relative_to(table / "data")) for p in table.rglob("*.parquet")}
    assert on_disk == _files(store, store.current_version("t"))
    assert (2, "two") in _rows(store.scan("t"))


def test_version_log_rejections(spark, store, tmp_path, sf_dir):
    store.attach_external(
        "ext", f"{sf_dir}/nation.parquet", ["n_nationkey"]
    )
    for call in (
        lambda: store.current_version("ext"),
        lambda: store.history("ext"),
        lambda: store.scan_snapshot("ext", 0),
        lambda: store.diff("ext", 0, 1),
        lambda: store.vacuum("ext"),
    ):
        with pytest.raises(TableStoreError):
            call()
    store.create_table("t2", "id int, v string", ["id"])
    with pytest.raises(TableStoreError, match="no such version"):
        store.scan_snapshot("t2", 99).count()


def test_diff_reads_only_changed_tablets(spark, store, tmp_path):
    """The diff scan's input files must be exactly the manifests'
    symmetric difference — unchanged tablets are never opened."""
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    v2 = store.current_version("t")
    a = set(store._read_manifest("t", v1)["files"])
    b = set(store._read_manifest("t", v2)["files"])
    sym = (a | b) - (a & b)
    assert a & b, "expected untouched buckets to share files"
    d = store.diff("t", v1, v2)
    read = {f.split("/t/")[-1] for f in d.inputFiles()}
    # normalize: inputFiles are absolute under data/
    read = {p.split("data/")[-1] for p in read}
    assert read == sym, (read, sym)
    got = {(r["id"], r["change_type"]) for r in d.collect()}
    assert got == {(1, "update")}


def test_diff_include_old_columns(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one"), (99, "new")], meta.schema))
    store.delete_where("t", "id = 2")
    v2 = store.current_version("t")
    rows = {r["id"]: r for r in store.diff("t", v1, v2, include_old=True).collect()}
    assert rows[1]["change_type"] == "update"
    assert rows[1]["v"] == "one" and rows[1]["old_v"] == "v1"
    assert rows[99]["change_type"] == "insert" and rows[99]["old_v"] is None
    assert rows[2]["change_type"] == "delete" and rows[2]["old_v"] == "v2"


def test_snapshot_on_hive_partitioned_layout(spark, store):
    """partition_by adds hive-style dirs under the bucket dirs; manifests
    list the full nested relative path, so as-of reads recover the
    partition column from replaced files too."""
    store.create_table(
        "t", "id int, lang string, v string", ["id"], partition_by=["lang"]
    )
    store.insert_values(
        "t", [(1, "en", "a"), (2, "de", "b"), (3, "en", "c")]
    )
    v1 = store.current_version("t")
    store.delete_where("t", "lang = 'en'")
    assert _rows(store.scan("t")) == [(2, "de", "b")]
    assert _rows(store.scan_snapshot("t", v1)) == [
        (1, "en", "a"), (2, "de", "b"), (3, "en", "c")
    ]
    d = {r["id"]: r["change_type"] for r in store.diff("t", v1, v1 + 1).collect()}
    assert d == {1: "delete", 3: "delete"}


def test_insert_append_manifest_is_superset(spark, store):
    _mk(store, spark)
    v1 = store.current_version("t")
    store.insert_values("t", [(50, "fifty")])
    assert _files(store, v1) < _files(store, v1 + 1), "append must not replace files"


# ---- changefeed (CDC read: Kudu diff scans, Delta-CDF row shape) ----------

def _replay(base_df, feed_df, key="id"):
    """Reference consumer: apply a changefeed onto a base snapshot —
    latest effect event per key wins, deletes drop the key."""
    effects = feed_df.filter(F.col("_change_type") != "update_before")
    base = base_df.withColumn("_commit_version", F.lit(-1)).withColumn(
        "_change_type", F.lit("insert")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("_commit_version").desc())
    return (
        base.unionByName(effects)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
        .drop("_rn", "_rn", "_commit_version", "_change_type")
    )


def test_changefeed_update_carries_before_and_after_images(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    v2 = store.current_version("t")
    rows = sorted(
        tuple(r) for r in store.changefeed("t", v1, v2).collect()
    )
    assert rows == [
        (1, "one", "update_after", v2),
        (1, "v1", "update_before", v2),
    ]


def test_changefeed_commit_version_stamps_each_step(spark, store):
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(9, "nine")], meta.schema))
    store.delete_where("t", "id = 2")
    v3 = store.current_version("t")
    got = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in store.changefeed("t", v1, v3).collect()
    }
    assert got == {(9, "insert", v1 + 1), (2, "delete", v1 + 2)}


def test_changefeed_replay_reproduces_any_snapshot_randomized(spark, store):
    """The defining CDC invariant, over a random mutation history: for
    every (from, to) pair, replaying changefeed(from, to) onto the
    from-snapshot reproduces the to-snapshot exactly."""
    import random

    rng = random.Random(1701)
    meta = _mk(store, spark)
    for _ in range(5):
        op = rng.choice(["upsert", "insert", "delete"])
        if op == "upsert":
            ks = rng.sample(range(1, 15), rng.randint(1, 3))
            store.upsert(
                "t",
                spark.createDataFrame(
                    [(k, f"u{rng.randint(0, 99)}") for k in ks], meta.schema
                ),
            )
        elif op == "insert":
            k = rng.randint(20, 99)
            try:
                store.insert_values("t", [(k, f"i{k}")])
            except TableStoreError:
                pass  # duplicate-key insert is rejected; history unchanged
        else:
            store.delete_where("t", f"id % 7 = {rng.randint(0, 6)}")
    cur = store.current_version("t")
    pairs = [(1, cur), (2, cur), (1, max(1, cur - 1)), (cur, cur)]
    for frm, to in pairs:
        want = _rows(store.scan_snapshot("t", to))
        got = _rows(
            _replay(store.scan_snapshot("t", frm), store.changefeed("t", frm, to))
        )
        assert got == want, (frm, to, got, want)


def test_changefeed_empty_range_and_errors(spark, store):
    _mk(store, spark)
    v1 = store.current_version("t")
    empty = store.changefeed("t", v1, v1)
    assert empty.count() == 0
    assert empty.columns == ["id", "v", "_change_type", "_commit_version"]
    with pytest.raises(TableStoreError, match="backwards"):
        store.changefeed("t", v1, 0)
    with pytest.raises(TableStoreError, match="no such version"):
        store.changefeed("t", 0, 99)


def test_changefeed_reads_only_changed_tablets(spark, store):
    """Each per-commit term must scan only the manifests' symmetric
    difference — tailing a feed never opens untouched buckets."""
    meta = _mk(store, spark)
    v1 = store.current_version("t")
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    v2 = store.current_version("t")
    a = set(store._read_manifest("t", v1)["files"])
    b = set(store._read_manifest("t", v2)["files"])
    sym = (a | b) - (a & b)
    assert a & b, "expected untouched buckets to share files"
    feed = store.changefeed("t", v1, v2)
    read = {f.split("/t/")[-1] for f in feed.inputFiles()}
    read = {p.split("data/")[-1] for p in read}
    assert read == sym, (read, sym)


def test_snapshot_and_changefeed_across_add_column(spark, store):
    """Version reads across an ALTER ADD COLUMN boundary use the
    CURRENT schema (Delta semantics): pre-evolution files surface the
    new column as NULL, in snapshots and in feed images alike."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store.create_table("t", "id int, v string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    v1 = store.current_version("t")
    execute(store, "ALTER TABLE t ADD COLUMNS (w double)")
    store.insert_values("t", [(3, "c", 7.5)])
    v2 = store.current_version("t")
    assert _rows(store.scan_snapshot("t", v1)) == [
        (1, "a", None), (2, "b", None)
    ]
    assert _rows(store.changefeed("t", 0, v2)) == [
        (1, "a", None, "insert", 1),
        (2, "b", None, "insert", 1),
        (3, "c", 7.5, "insert", 2),
    ]


def test_key_only_table_diff_and_feed_have_no_spurious_updates(spark, store):
    """A key-only table (schema == keys) can never produce an 'update':
    a key present in both snapshots is identical by definition, even
    when a bucket rewrite moved its file between manifests."""
    store.create_table("t", "id int", ["id"])
    store.insert_values("t", [(i,) for i in range(1, 8)])
    v1 = store.current_version("t")
    store.delete_where("t", "id = 3")  # rewrites id 3's bucket — its
    v2 = store.current_version("t")    # neighbors move files unchanged
    d = [(r["id"], r["change_type"]) for r in store.diff("t", v1, v2).collect()]
    assert d == [(3, "delete")]
    feed = [
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in store.changefeed("t", v1, v2).collect()
    ]
    assert feed == [(3, "delete", v2)]


@pytest.mark.parametrize("seed", [2024, 7])
def test_mvcc_layer_randomized_against_model(spark, store, seed):
    """Model-based differential over the WHOLE MVCC layer: a random
    DML sequence (insert w/ dup-key ignore, upsert, predicate delete,
    full overwrite) runs against both the store and a Python dict
    model whose history is snapshotted per commit.  Then: the live
    scan, every recorded snapshot, the version log length, and a
    changefeed replay between two random versions must all agree with
    the model — one test tying together write semantics, MVCC reads,
    and CDC consistency."""
    import random

    rng = random.Random(seed)
    store.create_table("t", "id int, v string", ["id"])
    model: dict[int, str] = {}
    # state per COMMITTED version: a no-op mutation (e.g. delete on an
    # empty table, insert of only duplicate keys) deliberately commits
    # NOTHING, so versions are sampled from the store, not assumed 1:1
    # with ops
    snap_by_version: dict[int, dict[int, str]] = {0: dict(model)}

    def spark_df(rows):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    for step in range(10):
        op = rng.choice(["insert", "upsert", "delete", "overwrite"])
        if op == "insert":
            rows = [(rng.randint(1, 30), f"i{step}.{j}") for j in range(rng.randint(1, 4))]
            store.insert_values("t", rows)
            seen = set()
            for k, v in rows:  # first-write-wins in batch, existing wins
                if k not in model and k not in seen:
                    model[k] = v
                seen.add(k)
        elif op == "upsert":
            rows = [(rng.randint(1, 30), f"u{step}.{j}") for j in range(rng.randint(1, 4))]
            # within a batch the store dedups deterministically: last
            # occurrence per key wins for upsert? pin model to the
            # store's documented first-write-wins by deduping ourselves
            dedup: dict[int, str] = {}
            for k, v in rows:
                dedup.setdefault(k, v)
            store.upsert("t", spark_df(list(dedup.items())))
            model.update(dedup)
        elif op == "delete":
            mod, rem = rng.choice([(3, 0), (5, 1), (7, 2)])
            store.delete_where("t", f"id % {mod} = {rem}")
            model = {k: v for k, v in model.items() if k % mod != rem}
        else:
            rows = [(rng.randint(1, 30), f"o{step}.{j}") for j in range(rng.randint(1, 3))]
            dedup = {}
            for k, v in rows:
                dedup.setdefault(k, v)
            store.insert_overwrite("t", spark_df(list(dedup.items())))
            model = dict(dedup)
        cur = store.current_version("t")
        prev = max(snap_by_version)
        # a no-op mutation must not have changed the model either
        if cur == prev:
            assert dict(model) == snap_by_version[prev], (step, op)
        else:
            assert cur == prev + 1, "one op commits at most one version"
        snap_by_version[cur] = dict(model)

    # 1. live scan == final model
    assert _rows(store.scan("t")) == sorted(model.items())
    # 2. every committed version's snapshot == the model state then
    versions = sorted(snap_by_version)
    assert versions[-1] == store.current_version("t")
    for v in rng.sample(versions, 3):
        assert _rows(store.scan_snapshot("t", v)) == sorted(
            snap_by_version[v].items()
        ), v
    # 3. changefeed replay between two random versions reproduces the
    #    to-state from the from-state
    frm, to = sorted(rng.sample(versions, 2))
    got = _rows(
        _replay(store.scan_snapshot("t", frm), store.changefeed("t", frm, to))
    )
    assert got == sorted(snap_by_version[to].items()), (frm, to)
    # 4. the segmented feed is row-identical to the raw feed on this
    #    RANDOM history (K=2 forces real segmentation on any range > 2
    #    — the fixed-history equality test can't cover arbitrary
    #    mutation interleavings)
    assert _rows(
        changefeed_segmented(store, "t", frm, to, segment_commits=2)
    ) == _rows(store.changefeed("t", frm, to)), (frm, to)


# ---- changefeed_segmented (bounded plan width over deep histories) --------
#
# r17 verdict: changefeed builds one union term per commit, so a deep
# CHANGES BETWEEN range pays superlinear driver analysis before any
# data moves (measured: raw build 4.9 s at 25 commits -> 44 s at 200).
# changefeed_segmented cuts lineage every K commits; these tests pin
# (a) row-for-row equality with the raw feed, (b) the O(range/K) plan
# width, (c) bounded wall time tailing a 200-commit history.

def _deep_history(store, spark, n_commits=200):
    """A deep commit history, cheaply: a handful of real mutations (so
    the feed carries real insert/delete events) padded with truncates —
    a truncate commits a version without a Spark job, so 200 commits
    build in well under a second."""
    store.create_table("deep", "id int, v string", ["id"])
    store.insert_values("deep", [(1, "a"), (2, "b")])
    store.insert_values("deep", [(3, "c")])
    store.truncate("deep")  # deletes 3 rows
    while store.current_version("deep") < n_commits:
        store.truncate("deep")  # version advances, empty diff
    return store.current_version("deep")


def test_changefeed_segmented_equals_raw(spark, store):
    meta = _mk(store, spark)
    store.upsert("t", spark.createDataFrame([(2, "X"), (9, "nine")], meta.schema))
    store.delete_where("t", "id <= 3")
    store.insert_values("t", [(20, "twenty")])
    to_v = store.current_version("t")
    raw = _rows(store.changefeed("t", 0, to_v))
    for k in (1, 2, 64):
        assert _rows(changefeed_segmented(store, "t", 0, to_v, segment_commits=k)) == raw


def test_changefeed_segmented_bounds_plan_width(spark, store):
    to_v = _deep_history(store, spark, 200)
    import time

    t0 = time.time()
    feed = changefeed_segmented(store, "deep", 0, to_v, segment_commits=32)
    events = feed.count()
    wall = time.time() - t0
    # 3 inserts + 3 deletes from the real commits; truncates of an
    # already-empty table contribute no events
    assert events == 6
    # plan width: at most ceil(200/32) = 7 checkpointed span leaves,
    # not 200 diff-join terms.  Counted STRUCTURALLY (collectLeaves on
    # the optimized plan) as an upper bound — string-matching the plan
    # text for "LogicalRDD" was brittle across Spark's leaf rendering
    # (r18 advice).
    import math

    n_leaves = (
        feed._jdf.queryExecution().optimizedPlan().collectLeaves().size()
    )
    assert n_leaves <= math.ceil(to_v / 32)
    # Timing claims are load-gated (r18 advice: hard walls flake on a
    # contended box): asserted only when the box is quieter than its
    # core count at launch.
    import os

    quiet = os.getloadavg()[0] < (os.cpu_count() or 8)
    if quiet:
        # First-touch wall is paid once; the raw feed re-pays ~44 s of
        # driver analysis on EVERY action at this depth.
        assert wall < 240, f"segmented deep tail took {wall:.1f}s"
    # steady state: subsequent actions re-read checkpointed blocks
    t0 = time.time()
    assert feed.count() == events
    steady = time.time() - t0
    if quiet:
        assert steady < 5, f"steady-state re-read took {steady:.1f}s"


def test_changefeed_segmented_error_passthrough(spark, store):
    _mk(store, spark)
    with pytest.raises(TableStoreError):
        changefeed_segmented(store, "t", 2, 1)
    with pytest.raises(TableStoreError):
        changefeed_segmented(store, "t", 0, 1, segment_commits=0)


def test_sql_changes_between_routes_segmented(spark, store):
    """The SQL surface's CHANGES BETWEEN rides the segmented feed: a
    deep range stays readable and correct end-to-end."""
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    # just past the 64-commit segmentation threshold: the rewrite must
    # take the segmented path without paying a 200-commit wall here
    to_v = _deep_history(store, spark, 70)
    df = run_sql(
        store,
        f"SELECT _change_type, count(*) AS n FROM deep "
        f"CHANGES BETWEEN 0 AND {to_v} GROUP BY _change_type",
    )
    assert {(r["_change_type"], r["n"]) for r in df.collect()} == {
        ("insert", 3),
        ("delete", 3),
    }


def test_sql_changefeed_small_range_skips_checkpoint(spark, store):
    """The common incremental tail (range <= 64 commits) must NOT pay a
    checkpoint: the rewrite's segmented path delegates to the raw feed,
    whose plan carries the per-commit diff joins, not LogicalRDD
    leaves."""
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    meta = _mk(store, spark)
    store.upsert("t", spark.createDataFrame([(1, "one")], meta.schema))
    df = run_sql(
        store,
        f"SELECT * FROM t CHANGES BETWEEN 0 AND {store.current_version('t')}",
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the raw per-commit terms are still visible: the update->(before,
    # after) explode and the parquet tablet scans survive in the plan
    # (a checkpointed segment would flatten both into a LogicalRDD leaf
    # — note plain LogicalRDD also appears in the raw feed via the v0
    # empty-snapshot frame, so its absence is NOT the discriminator)
    assert "Generate explode" in plan
    assert "parquet" in plan
    assert df.count() > 0


def test_changefeed_segmented_surfaces_vacuumed_manifest_error(spark, store):
    """A vacuumed-away manifest inside the range must surface as the
    store's named error even though the failing span materializes on a
    POOL THREAD — the pool must propagate, not swallow."""
    meta = _mk(store, spark)
    for i in range(10, 18):
        store.insert_values("t", [(i, f"v{i}")])
    store.vacuum("t", keep_last=2)  # drops manifests before current-2
    to_v = store.current_version("t")
    with pytest.raises(TableStoreError):
        changefeed_segmented(store, "t", 0, to_v, segment_commits=2).count()
