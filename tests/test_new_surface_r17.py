"""r17 surface: recursive CTEs (ANSI ``WITH RECURSIVE``, Spark 4
native UnionLoop execution) and the per-file Bloom-filter sidecar that
rebuilds Kudu's key-Bloom point-lookup path over plain parquet
(``HiveKuduTableInputFormat.java:444-572`` delegated this to the Kudu
client; here it is a distributed sidecar build plus a metadata-sized
candidate filter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hivekudu_handler_spark.operators.bloom_index import (
    K_PROBES,
    bloom_index_build,
    bloom_index_lookup,
)

SF = "/root/testdata/sf0.001"


# ---- cte_recursive ---------------------------------------------------------


def test_cte_recursive_covers_every_supplier_exactly_once(spark):
    """The hierarchy walk is a partition of supplier: every s_suppkey
    reaches exactly one root at exactly one depth, and the member count
    per (root, depth) matches direct (non-recursive) computation."""
    from hivekudu_handler_spark.operators.sql_surface import cte_recursive

    out = cte_recursive(spark, SF).collect()
    n_supp = spark.read.parquet(f"{SF}/supplier.parquet").count()
    assert sum(r.n_members for r in out) == n_supp

    # direct check: depth of k is the number of /10 steps to reach <10,
    # root is the final value — recompute per supplier driver-side
    keys = [
        r.s_suppkey
        for r in spark.read.parquet(f"{SF}/supplier.parquet")
        .select("s_suppkey")
        .collect()
    ]
    expect: dict[tuple[int, int], int] = {}
    for k in keys:
        depth, node = 0, k
        while node >= 10:
            node //= 10
            depth += 1
        expect[(node, depth)] = expect.get((node, depth), 0) + 1
    got = {(r.root, r.depth): r.n_members for r in out}
    assert got == expect


def test_cte_recursive_depth_bounded_by_key_magnitude(spark):
    """Recursion terminates at the hierarchy depth (log10 of the max
    key), not at Spark's recursion-level backstop — the frontier joins
    are depth-bounded, the scale property the docstring claims."""
    from hivekudu_handler_spark.operators.sql_surface import cte_recursive

    out = cte_recursive(spark, SF)
    max_key = (
        spark.read.parquet(f"{SF}/supplier.parquet")
        .agg(F.max("s_suppkey"))
        .first()[0]
    )
    max_depth = max(r.depth for r in out.collect())
    assert max_depth == len(str(max_key)) - 1


# ---- scan_bloom_index ------------------------------------------------------


def _land_events_by_time(spark, tmp_path, n_files=16):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "ts", "user_id", "value")
    )
    data = str(tmp_path / "ev")
    (
        ev.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(data)
    )
    return data


def test_bloom_lookup_exact_and_skips_most_files(spark, tmp_path):
    """Point lookup through the sidecar returns exactly the full-scan
    rows while reading a small fraction of the files: a unique key laid
    out by time lives in ONE file, so candidates = 1 true file + Bloom
    false positives (expected ~0 at these densities; allow a little)."""
    data = _land_events_by_time(spark, tmp_path)
    idx = str(tmp_path / "ev_bloom")
    bloom_index_build(spark, data, "event_id", idx)

    n_files = spark.read.parquet(idx).count()
    assert n_files == 16

    for probe in (0, 123, 999):
        hit, files = bloom_index_lookup(spark, data, idx, "event_id", probe)
        expect = sorted(
            (r.event_id, r.user_id)
            for r in spark.read.parquet(data)
            .filter(F.col("event_id") == probe)
            .collect()
        )
        got = sorted((r.event_id, r.user_id) for r in hit.collect())
        assert got == expect and len(expect) == 1
        assert len(files) <= 3, f"probe {probe} read {len(files)}/16 files"


def test_bloom_lookup_no_false_negatives_exhaustive(spark, tmp_path):
    """Every existing key must surface ≥1 candidate file — the no-FN
    property the skip relies on.  Checked distributed for ALL keys: each
    row's probe positions must be a subset of its own file's bit set."""
    data = _land_events_by_time(spark, tmp_path)
    idx = str(tmp_path / "ev_bloom")
    bloom_index_build(spark, data, "event_id", idx)

    from hivekudu_handler_spark.operators.bloom_index import _probe_positions

    rows = spark.read.parquet(data).select(
        F.col("_metadata.file_path").alias("file"),
        F.array(*_probe_positions(F.col("event_id"))).alias("probe"),
    )
    joined = rows.join(spark.read.parquet(idx), "file")
    missing = joined.filter(
        F.size(F.array_intersect("probe", "bits")) < F.size(F.array_distinct("probe"))
    ).count()
    assert missing == 0


def test_bloom_lookup_absent_key_and_fp_residual(spark, tmp_path):
    """An absent key returns zero rows with the data schema — via the
    no-candidates fast path or, on a Bloom false positive, via the
    residual filter; either way the result is empty and schema-stable."""
    data = _land_events_by_time(spark, tmp_path)
    idx = str(tmp_path / "ev_bloom")
    bloom_index_build(spark, data, "event_id", idx)

    hit, files = bloom_index_lookup(spark, data, idx, "event_id", -987654321)
    assert hit.count() == 0
    assert [f.name for f in hit.schema.fields] == [
        "event_id",
        "ts",
        "user_id",
        "value",
    ]
    assert len(files) <= 2  # absent key: candidates are FPs only


def test_bloom_probe_positions_deterministic_and_distinct_salts(spark):
    """Build and lookup share one JVM expression; the K salts must give
    K (almost always) different positions, and the same value must map
    to the same positions across sessions/calls."""
    from hivekudu_handler_spark.operators.bloom_index import _probe_positions

    a = spark.range(5).select(
        F.col("id"),
        F.array(*_probe_positions(F.col("id"))).alias("probe"),
    )
    first = {r.id: list(r.probe) for r in a.collect()}
    second = {r.id: list(r.probe) for r in a.collect()}
    assert first == second
    assert all(len(p) == K_PROBES for p in first.values())
    # salts decorrelate: across 5 values, not all probes identical
    assert len({tuple(p) for p in first.values()}) == 5


# ---- mview_join_incremental / join_view_delta_refresh ----------------------


def _join_mv_fixture(spark):
    """Tiny two-table store + its materialized join view at v1."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store

    store, d = _scratch_store(spark)
    try:
        store.create_table("l", "lid bigint, k bigint, m bigint", ["lid"])
        store.create_table("r", "k bigint, grp string", ["k"])
        store.insert_values("l", [(1, 1, 10), (2, 2, 20), (3, 2, 5)])
        store.insert_values("r", [(1, "A"), (2, "B"), (3, "C")])
        vl, vr = store.current_version("l"), store.current_version("r")
        base = (
            store.scan_snapshot("l", vl)
            .join(store.scan_snapshot("r", vr), "k")
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_m"))
        )
        base = spark.createDataFrame(base.collect(), base.schema)
    except BaseException:
        _shutil.rmtree(d, ignore_errors=True)
        raise
    return store, d, base, vl, vr


def _refresh(spark, store, base, vl, vr):
    from hivekudu_handler_spark.operators.snapshots import join_view_delta_refresh

    out = join_view_delta_refresh(
        store, base, left="l", right="r", v_left=vl, v_right=vr,
        lkey="k", rkey="k", group_col="grp", measure_col="m",
    )
    return {(r.grp): (r.n_rows, r.sum_m) for r in out.collect()}


def _recompute(store):
    full = (
        store.scan("l")
        .join(store.scan("r"), "k")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_m"))
    )
    return {(r.grp): (r.n_rows, r.sum_m) for r in full.collect()}


def test_join_view_delta_both_sides_of_a_pair_deleted_retracts_once(spark):
    """The cross-term trap: when a left row AND its right match are both
    deleted in the same refresh interval, the pair must be retracted
    exactly once (dL joins R_new where the right row is already gone;
    only L_old x dR sees it)."""
    import shutil as _shutil

    store, d, base, vl, vr = _join_mv_fixture(spark)
    try:
        store.delete_where("l", "lid = 2")
        store.delete_where("r", "k = 2")
        got = _refresh(spark, store, base, vl, vr)
        assert got == _recompute(store) == {"A": (1, 10)}
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_join_view_delta_simultaneous_update_on_both_sides(spark):
    """Left measure and right group BOTH change for the same pair: the
    old (m, grp) image retracts, the new one asserts — through the two
    terms' mixed old/new snapshots — with no double count."""
    import shutil as _shutil

    store, d, base, vl, vr = _join_mv_fixture(spark)
    try:
        store.upsert("l", spark.createDataFrame([(1, 1, 30)], "lid bigint, k bigint, m bigint"))
        store.upsert("r", spark.createDataFrame([(1, "Z")], "k bigint, grp string"))
        got = _refresh(spark, store, base, vl, vr)
        assert got == _recompute(store) == {"Z": (1, 30), "B": (2, 25)}
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_join_view_delta_emptied_group_disappears_and_insert_both_sides(spark):
    """Inserting a brand-new pair on both sides in the same interval
    asserts it once; moving every B-row away empties the group, which
    must vanish from the view (never report n_rows = 0)."""
    import shutil as _shutil

    store, d, base, vl, vr = _join_mv_fixture(spark)
    try:
        store.insert_values("l", [(9, 3, 7)])  # joins pre-existing C
        store.upsert("r", spark.createDataFrame([(2, "A")], "k bigint, grp string"))
        got = _refresh(spark, store, base, vl, vr)
        assert got == _recompute(store) == {"A": (3, 35), "C": (1, 7)}
        assert "B" not in got
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_join_view_delta_null_group_merges_null_safe(spark):
    """NULL is a legal group value; the delta-into-base merge must be
    null-safe or the view keeps a stale NULL-group row AND an unmerged
    NULL-group delta row side by side."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store

    store, d = _scratch_store(spark)
    try:
        store.create_table("l", "lid bigint, k bigint, m bigint", ["lid"])
        store.create_table("r", "k bigint, grp string", ["k"])
        store.insert_values("l", [(1, 1, 10), (2, 3, 40)])
        store.insert("r", spark.createDataFrame([(1, "A"), (3, None)], "k bigint, grp string"))
        vl, vr = store.current_version("l"), store.current_version("r")
        base = (
            store.scan_snapshot("l", vl)
            .join(store.scan_snapshot("r", vr), "k")
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_m"))
        )
        base = spark.createDataFrame(base.collect(), base.schema)
        # mutate the NULL-group pair's measure: its delta row carries grp=NULL
        store.upsert("l", spark.createDataFrame([(2, 3, 100)], "lid bigint, k bigint, m bigint"))
        got = _refresh(spark, store, base, vl, vr)
        assert got == _recompute(store) == {"A": (1, 10), None: (1, 100)}
    finally:
        _shutil.rmtree(d, ignore_errors=True)


# ---- TableStore bloom index (managed, version-stamped) ----------------------


def test_store_bloom_refresh_is_incremental_and_exact(spark):
    """The REBUILD hashes only files ADDED since the indexed version
    (manifest set difference) and drops removed files' rows; lookups
    after refresh equal a predicate scan of the final state."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store

    store, d = _scratch_store(spark)
    try:
        store.create_table("t", "id bigint, u bigint", ["id"])
        store.insert(
            "t", spark.createDataFrame([(i, i % 50) for i in range(300)], "id bigint, u bigint")
        )
        info = store.create_bloom_index("t", "u")
        assert info["files"] > 0
        total_files = info["files"]

        # mutate: one small upsert (touches few buckets) + a delete
        store.upsert("t", spark.createDataFrame([(1, 999), (301, 7)], "id bigint, u bigint"))
        r = store.refresh_bloom_index("t", "u")
        assert r["refreshed"] is True
        # incrementality: a 2-row upsert touches ≤2 buckets, so far
        # fewer files are hashed than the table holds; untouched
        # buckets' rows are carried over, not recomputed
        assert 0 < r["files_hashed"] < total_files, r
        assert r["files_kept"] > 0, r

        got = sorted((x.id, x.u) for x in store.bloom_lookup("t", "u", 7).collect())
        expect = sorted(
            (x.id, x.u)
            for x in store.scan("t").filter(F.col("u") == 7).collect()
        )
        assert got == expect and len(expect) > 0
        # the updated row moved OUT of u=999's old value and IN to 999
        assert [(x.id, x.u) for x in store.bloom_lookup("t", "u", 999).collect()] == [(1, 999)]
        # absent value: no false negatives implies empty result is exact
        assert store.bloom_lookup("t", "u", -5).count() == 0
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_store_bloom_stale_index_errs_loudly_and_sql_lifecycle(spark):
    """A lookup against an index older than the table raises (naming the
    REBUILD statement) instead of silently missing fresh rows; CREATE /
    ALTER ... REBUILD / DROP all route through the SQL front-end."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql
    from hivekudu_handler_spark.sources.table_store import (
        NoSuchTableError,
        TableStoreError,
    )

    store, d = _scratch_store(spark)
    try:
        store.create_table("t", "id bigint, u bigint", ["id"])
        store.insert_values("t", [(1, 10), (2, 20)])
        run_sql(store, "CREATE BLOOM INDEX ON t (u)")
        store.insert_values("t", [(3, 30)])
        with pytest.raises(TableStoreError, match="stale.*REBUILD"):
            store.bloom_lookup("t", "u", 10)
        run_sql(store, "ALTER BLOOM INDEX ON t (u) REBUILD")
        assert [(r.id, r.u) for r in store.bloom_lookup("t", "u", 30).collect()] == [(3, 30)]
        run_sql(store, "DROP BLOOM INDEX ON t (u)")
        with pytest.raises(NoSuchTableError):
            store.bloom_lookup("t", "u", 10)
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_store_bloom_index_follows_column_rename_and_drop(spark):
    """RENAME COLUMN migrates the index without rehashing (sidecar rows
    hash the stable physical column); DROP COLUMN drops its index."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.table_store import NoSuchTableError

    store, d = _scratch_store(spark)
    try:
        store.create_table("t", "id bigint, u bigint, w bigint", ["id"])
        store.insert_values("t", [(1, 10, 5), (2, 20, 5)])
        store.create_bloom_index("t", "u")
        store.rename_column("t", "u", "uu")
        assert store.list_bloom_indexes("t") == ["uu"]
        assert [r.id for r in store.bloom_lookup("t", "uu", 20).collect()] == [2]
        store.drop_column("t", "uu")
        with pytest.raises(NoSuchTableError):
            store.bloom_lookup("t", "uu", 20)
        assert store.list_bloom_indexes("t") == []
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_store_bloom_lookup_many_batched_exact(spark):
    """Batched point reads share one candidate union and one file read;
    results equal per-value scans, absent values contribute nothing,
    and an empty batch returns the empty schema."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store

    store, d = _scratch_store(spark)
    try:
        store.create_table("t", "id bigint, u bigint", ["id"])
        store.insert(
            "t",
            spark.createDataFrame(
                [(i, i % 37) for i in range(200)], "id bigint, u bigint"
            ),
        )
        store.create_bloom_index("t", "u")
        got = sorted(
            (r.id, r.u)
            for r in store.bloom_lookup_many("t", "u", [3, 11, -4]).collect()
        )
        expect = sorted(
            (r.id, r.u)
            for r in store.scan("t").filter(F.col("u").isin(3, 11)).collect()
        )
        assert got == expect and len(expect) > 0
        assert store.bloom_lookup_many("t", "u", []).count() == 0
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_sql_time_travel_rewrite_and_errors(spark):
    """VERSION AS OF binds per-version views (two versions of one table
    join in a single statement), statements without the clause pass
    through untouched, and a vacuumed/unknown version fails loudly."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _mutated_store(spark)
    try:
        out = run_sql(
            store,
            "SELECT COUNT(*) AS n FROM snap VERSION AS OF 1",
        ).first()
        assert out.n == 3
        # same query, current state (no clause): 3 live rows after the
        # delete — pass-through path
        assert run_sql(store, "SELECT COUNT(*) AS n FROM snap").first().n == 3
        # two versions in one statement
        both = run_sql(
            store,
            "SELECT (SELECT COUNT(*) FROM snap VERSION AS OF 1) AS v1, "
            "(SELECT COUNT(*) FROM snap VERSION AS OF 2) AS v2",
        ).first()
        assert (both.v1, both.v2) == (3, 4)
        with pytest.raises(TableStoreError):
            run_sql(store, "SELECT * FROM snap VERSION AS OF 99").collect()
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_restore_diffs_one_commit_per_replayed_version(spark):
    """Diff replay preserves commit granularity: the replica's version
    log carries one mutation per replayed source version (create +
    3 steps), and replaying onto a NON-empty replica converges too
    (idempotent upsert/delete semantics per key)."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.snapshots import _mutated_store

    store, d = _mutated_store(spark)
    try:
        store.create_table("rep", "id int, name string, score double", ["id"])
        # seed the replica with a stale row that replay must overwrite
        store.insert_values("rep", [(2, "stale", -1.0)])
        for v in range(1, store.current_version("snap") + 1):
            delta = store.diff("snap", v - 1, v)
            store.upsert(
                "rep",
                delta.filter(
                    F.col("_change_type").isin("insert", "update_after")
                ).select("id", "name", "score"),
                delete_keys=delta.filter(F.col("_change_type") == "delete").select("id"),
            )
        got = sorted(tuple(r) for r in store.scan("rep").collect())
        want = sorted(tuple(r) for r in store.scan("snap").collect())
        assert got == want
        # create is v0; seed insert v1; one commit per replayed version
        assert store.current_version("rep") == 1 + 3
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_store_bloom_refresh_survives_vacuum_and_compacts_segments(spark):
    """Two review-pinned behaviors: (a) when the indexed version's
    manifest was vacuumed, REBUILD falls back to a full rebuild instead
    of dead-ending the recovery path its own stale error recommends;
    (b) segment count is bounded — past the threshold a refresh folds
    live rows into one segment, keeping lookup fan-in O(threshold)."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store

    store, d = _scratch_store(spark)
    try:
        store.create_table("t", "id bigint, u bigint", ["id"])
        store.insert_values("t", [(1, 10), (2, 20)])
        store.create_bloom_index("t", "u")
        store.insert_values("t", [(3, 30)])
        store.insert_values("t", [(4, 40)])
        store.vacuum("t", keep_last=1)  # drops the indexed version's manifest
        r = store.refresh_bloom_index("t", "u")
        assert r["full_rebuild"] is True and r["refreshed"] is True
        assert [(x.id, x.u) for x in store.bloom_lookup("t", "u", 30).collect()] == [(3, 30)]

        # segment-count bound: many tiny refreshes, then assert compaction
        for i in range(5, 5 + store._BLOOM_COMPACT_SEGMENTS):
            store.insert_values("t", [(100 + i, 1000 + i)])
            store.refresh_bloom_index("t", "u")
        n_segs = len(store._bloom_segments("t", "u"))
        assert n_segs <= store._BLOOM_COMPACT_SEGMENTS + 1, n_segs
        # correctness after compaction: every value still found
        assert store.bloom_lookup("t", "u", 1000 + 5).count() == 1
        assert store.bloom_lookup("t", "u", 10).count() == 1
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_time_travel_phrase_inside_string_literal_untouched(spark):
    """The rewrite is quote-aware: 'VERSION AS OF' inside a string
    literal is data, not syntax — the literal survives verbatim and no
    snapshot view is bound for it."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        row = run_sql(
            store,
            "SELECT 'snap VERSION AS OF 1' AS phrase, "
            "(SELECT COUNT(*) FROM snap VERSION AS OF 1) AS n",
        ).first()
        assert row.phrase == "snap VERSION AS OF 1"
        assert row.n == 3
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_reserved_table_namespace_rejected(spark):
    """Names in the engine-internal __ namespace are rejected at CREATE
    and RENAME (a __tt_* user table could be clobbered mid-statement by
    the time-travel view binding)."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _scratch_store(spark)
    try:
        with pytest.raises(TableStoreError, match="reserved"):
            store.create_table("__tt_x_v1", "id int", ["id"])
        store.create_table("ok", "id int", ["id"])
        with pytest.raises(TableStoreError, match="reserved"):
            store.rename_table("ok", "__shadow")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


# ---- column attributes: NOT NULL / DEFAULT ---------------------------------


def test_not_null_and_defaults_lifecycle(spark):
    """NOT NULL rejects loudly on BOTH the SQL and the DataFrame write
    paths (never a silent drop); DEFAULT applies only to omitted
    columns; SHOW CREATE renders the attributes and the rendered DDL
    re-parses to an equivalent table."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, sql as run_sql

    store, d = _scratch_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE t (id bigint, body string NOT NULL, "
            "lang string DEFAULT 'und') "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        # SQL path: NOT NULL violation is a statement-level error and
        # the failed write commits nothing
        with pytest.raises(SqlDdlError, match="NOT NULL constraint violated: column body"):
            run_sql(store, "INSERT INTO t VALUES (1, NULL, 'en')")
        assert store.scan("t").count() == 0
        assert store.current_version("t") == 0
        # DataFrame API path: same constraint, executor-raised
        with pytest.raises(Exception, match="NOT NULL constraint violated"):
            store.insert(
                "t",
                spark.createDataFrame([(1, None, "en")], "id bigint, body string, lang string"),
            )
        # omitted NOT NULL column without default: rejected at parse
        with pytest.raises(SqlDdlError, match="NOT NULL with no DEFAULT"):
            run_sql(store, "INSERT INTO t (id, lang) VALUES (1, 'en')")
        # defaults fill, explicit values win
        run_sql(store, "INSERT INTO t (id, body) VALUES (1, 'a')")
        run_sql(store, "INSERT INTO t (id, body, lang) VALUES (2, 'b', 'de')")
        got = sorted(tuple(r) for r in store.scan("t").collect())
        assert got == [(1, "a", "und"), (2, "b", "de")]
        # round-trip: rendered DDL re-parses with identical semantics
        ddl = run_sql(store, "SHOW CREATE TABLE t").first().createtab_stmt
        assert "NOT NULL" in ddl and "DEFAULT 'und'" in ddl
        run_sql(store, ddl.replace("TABLE t ", "TABLE t2 "))
        run_sql(store, "INSERT INTO t2 (id, body) VALUES (9, 'z')")
        assert [tuple(r) for r in store.scan("t2").collect()] == [(9, "z", "und")]
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_default_rejected_on_key_and_unknown_columns(spark):
    """DEFAULT on a key column (identity must always be written) or an
    unknown column fails at CREATE, not at first INSERT."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _scratch_store(spark)
    try:
        with pytest.raises(TableStoreError, match="key column"):
            store.create_table(
                "a", "id bigint DEFAULT 7, v string", ["id"]
            )
        with pytest.raises(TableStoreError, match="unknown column"):
            store.create_table(
                "b", "id bigint, v string", ["id"], defaults={"nope": "1"}
            )
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_column_attr_review_findings(spark):
    """r17 review batch: CTAS must not mint NOT NULL from incidental
    query-schema non-nullability; both attribute orders parse; a
    mistyped DEFAULT fails at CREATE; UPDATE surfaces the NOT NULL
    violation as SqlDdlError; MERGE INSERT applies DEFAULTs like plain
    INSERT; partial UPSERT preserves unlisted columns; the
    'docsVALUES' typo no longer backtrack-parses."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, sql as run_sql
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _scratch_store(spark)
    try:
        # CTAS: COUNT(*) is non-null in the query schema, but the table
        # column must stay nullable (no constraint the user never wrote)
        store.create_table("base", "id bigint, v bigint", ["id"])
        store.insert_values("base", [(1, 10), (2, 20)])
        store.register_views()  # CTAS SELECTs over caller-registered views
        run_sql(
            store,
            "CREATE TABLE agg TBLPROPERTIES ('kudu.key_columns'='id') AS "
            "SELECT id, COUNT(*) AS n FROM base GROUP BY id",
        )
        assert all(
            f.nullable for f in store.table_meta("agg").schema.fields if f.name == "n"
        )
        run_sql(store, "UPDATE agg SET n = NULL WHERE id = 1")  # must not raise

        # both attribute orders
        run_sql(
            store,
            "CREATE TABLE t (id bigint, a string DEFAULT 'x' NOT NULL, "
            "b string NOT NULL DEFAULT 'y') "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        meta = store.table_meta("t")
        assert {f.name: f.nullable for f in meta.schema.fields} == {
            "id": False, "a": False, "b": False,
        }
        assert meta.defaults == {"a": "'x'", "b": "'y'"}

        # mistyped DEFAULT fails at CREATE, not first INSERT
        with pytest.raises(TableStoreError, match="does not evaluate"):
            store.create_table("bad", "id bigint, s double DEFAULT 'abc'", ["id"])

        # UPDATE to NULL on NOT NULL: clean SqlDdlError
        run_sql(store, "INSERT INTO t (id, a, b) VALUES (1, 'p', 'q')")
        with pytest.raises(SqlDdlError, match="NOT NULL constraint violated: column a"):
            run_sql(store, "UPDATE t SET a = NULL WHERE id = 1")

        # MERGE INSERT fills the DEFAULT for omitted columns
        store.create_table("src", "id bigint, a string", ["id"])
        store.insert_values("src", [(2, "m")])
        run_sql(
            store,
            "MERGE INTO t USING src ON t.id = src.id "
            "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (src.id, src.a)",
        )
        got = {r.id: (r.a, r.b) for r in store.scan("t").collect()}
        assert got[2] == ("m", "y")

        # partial UPSERT preserves unlisted columns of existing rows
        run_sql(store, "UPSERT INTO t (id, a) VALUES (1, 'P')")
        assert {r.id: (r.a, r.b) for r in store.scan("t").collect()}[1] == ("P", "q")

        # the docsVALUES typo is a parse error, not an insert into docs
        with pytest.raises(SqlDdlError, match="unsupported statement|cannot parse"):
            run_sql(store, "INSERT INTO tVALUES (9, 'a', 'b')")
        assert 9 not in {r.id for r in store.scan("t").collect()}

        # dropped column's DEFAULT does not resurrect on re-ADD
        run_sql(store, "CREATE TABLE m (id bigint, lang string DEFAULT 'und', v bigint) TBLPROPERTIES ('kudu.key_columns'='id')")
        store.drop_column("m", "lang")
        store.add_column("m", "lang", "string")
        run_sql(store, "INSERT INTO m (id, v) VALUES (1, 5)")
        assert store.scan("m").first().lang is None
        # renamed column keeps its DEFAULT under the new name
        run_sql(store, "CREATE TABLE m2 (id bigint, lang string DEFAULT 'und') TBLPROPERTIES ('kudu.key_columns'='id')")
        store.rename_column("m2", "lang", "sprache")
        run_sql(store, "INSERT INTO m2 (id) VALUES (1)")
        assert store.scan("m2").first().sprache == "und"
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_insert_select_truncate_and_bulk_partial_upsert(spark):
    """INSERT/UPSERT ... SELECT share the VALUES form's alignment
    (column lists, DEFAULT fill); a bulk partial UPSERT preserves
    unlisted columns of existing rows via the target-scan join (no
    driver collect of keys); TRUNCATE removes every row as one commit
    and time travel across it still works."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _scratch_store(spark)
    try:
        run_sql(store, "CREATE TABLE src (id bigint, v bigint) TBLPROPERTIES ('kudu.key_columns'='id')")
        run_sql(store, "INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)")
        run_sql(
            store,
            "CREATE TABLE dst (id bigint, v bigint, w string DEFAULT 'd') "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        # column-list INSERT-SELECT: w fills its DEFAULT
        run_sql(store, "INSERT INTO dst (id, v) SELECT id, v * 2 FROM src WHERE id < 3")
        assert sorted(tuple(r) for r in store.scan("dst").collect()) == [
            (1, 20, "d"), (2, 40, "d"),
        ]
        # make row 1's w distinct, then bulk partial UPSERT: w preserved
        # for existing rows, default for the new key 3
        run_sql(store, "UPDATE dst SET w = 'kept' WHERE id = 1")
        run_sql(store, "UPSERT INTO dst (id, v) SELECT id, v * 100 FROM src")
        assert sorted(tuple(r) for r in store.scan("dst").collect()) == [
            (1, 1000, "kept"), (2, 2000, "d"), (3, 3000, "d"),
        ]
        v_before = store.current_version("dst")
        run_sql(store, "TRUNCATE TABLE dst")
        assert store.scan("dst").count() == 0
        assert store.current_version("dst") == v_before + 1
        # time travel across the truncate
        assert run_sql(
            store, f"SELECT COUNT(*) AS n FROM dst VERSION AS OF {v_before}"
        ).first().n == 3
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_truncate_empty_table_and_dialect_spellings(spark):
    """r17 review: TRUNCATE commits a version even on an EMPTY table
    (the version advancing is the contract), the TABLE keyword is
    optional (Impala), and IF EXISTS tolerates a missing table."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _scratch_store(spark)
    try:
        run_sql(store, "CREATE TABLE t (id bigint, v bigint) TBLPROPERTIES ('kudu.key_columns'='id')")
        v0 = store.current_version("t")
        run_sql(store, "TRUNCATE TABLE t")  # empty: still one commit
        assert store.current_version("t") == v0 + 1
        run_sql(store, "INSERT INTO t VALUES (1, 10)")
        run_sql(store, "TRUNCATE t")  # Impala optional-TABLE spelling
        assert store.scan("t").count() == 0
        run_sql(store, "TRUNCATE TABLE IF EXISTS no_such_table")  # no-op
        ops = [r.op for r in store.history("t").collect()]
        assert ops.count("truncate") == 2
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_insert_select_nondeterministic_source_is_exact(spark):
    """r17 review: the keyed writers execute the batch plan more than
    once; a non-deterministic SELECT source must still commit exactly
    the rows of ONE evaluation (no silent loss, no duplicate keys) —
    pinned via rand()-keyed INSERT ... SELECT."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _scratch_store(spark)
    try:
        run_sql(store, "CREATE TABLE t (id bigint, v bigint) TBLPROPERTIES ('kudu.key_columns'='id')")
        run_sql(
            store,
            "INSERT INTO t SELECT CAST(rand() * 1000000000 AS BIGINT) AS id, "
            "id AS v FROM range(500)",
        )
        rows = store.scan("t").collect()
        ids = [r.id for r in rows]
        # exactly one evaluation committed: no duplicate keys, and the
        # row count matches the single-evaluation cardinality (rand()
        # collisions over 1e9 for 500 draws are ~1e-4 probable; a lost
        # or doubled PARTITION would move the count by whole chunks)
        assert len(ids) == len(set(ids))
        assert abs(len(ids) - 500) <= 2, len(ids)
        # UPSERT over the same non-deterministic shape converges too
        run_sql(
            store,
            "UPSERT INTO t SELECT CAST(rand() * 1000000000 AS BIGINT) AS id, "
            "0 AS v FROM range(200)",
        )
        ids2 = [r.id for r in store.scan("t").collect()]
        assert len(ids2) == len(set(ids2))
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_sql_changefeed_rewrite_composes_and_guards(spark):
    """CHANGES BETWEEN binds a feed view (joinable against VERSION AS OF
    in the same statement), is quote-aware, and surfaces backwards /
    missing-version ranges loudly."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _mutated_store(spark)
    try:
        n = run_sql(
            store,
            "SELECT COUNT(*) AS n FROM snap CHANGES BETWEEN 0 AND 3",
        ).first().n
        assert n == 7  # 3 inserts, before+after+insert, 1 delete
        # composition: feed joined against the snapshot it starts from
        joined = run_sql(
            store,
            "SELECT COUNT(*) AS n "
            "FROM (SELECT * FROM snap CHANGES BETWEEN 1 AND 3) f "
            "JOIN (SELECT * FROM snap VERSION AS OF 1) s ON f.id = s.id",
        ).first()
        assert joined.n == 3  # update before+after on id 2, delete on id 1
        # quote guard: the phrase as data is untouched
        lit = run_sql(
            store,
            "SELECT 'snap CHANGES BETWEEN 0 AND 3' AS phrase, "
            "(SELECT COUNT(*) FROM snap CHANGES BETWEEN 2 AND 3) AS n",
        ).first()
        assert lit.phrase == "snap CHANGES BETWEEN 0 AND 3" and lit.n == 1
        with pytest.raises(TableStoreError, match="backwards"):
            run_sql(store, "SELECT * FROM snap CHANGES BETWEEN 3 AND 1")
        with pytest.raises(TableStoreError, match="no such version"):
            run_sql(store, "SELECT * FROM snap CHANGES BETWEEN 0 AND 99")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_insert_select_from_changefeed(spark):
    """INSERT ... SELECT accepts a CHANGES source — landing a feed's
    effect rows into a managed audit table goes through the same
    rewrite seam as the query path."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE audit (id int, name string, score double, "
            "_change_type string, _commit_version int) "
            "TBLPROPERTIES ('kudu.key_columns'='id,_change_type,_commit_version')",
        )
        run_sql(
            store,
            "INSERT INTO audit SELECT id, name, score, _change_type, "
            "_commit_version FROM snap CHANGES BETWEEN 0 AND 3",
        )
        assert run_sql(store, "SELECT COUNT(*) AS n FROM audit").first().n == 7
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_describe_history_sql_and_plain_describe_coexist(spark):
    """DESCRIBE HISTORY routes to the version log; plain DESCRIBE still
    returns the column profile; an unknown table fails loudly."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _mutated_store(spark)
    try:
        hist = execute(store, "desc history snap").collect()
        assert [(r.version, r.op) for r in sorted(hist, key=lambda r: r.version)] == [
            (0, "create"), (1, "insert"), (2, "upsert"), (3, "delete")
        ]
        cols = {r.col_name for r in execute(store, "DESCRIBE snap").collect()}
        assert "id" in cols
        with pytest.raises((SqlDdlError, TableStoreError)):
            execute(store, "DESCRIBE HISTORY nope")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_changes_as_column_name_passes_through(spark):
    """The CHANGES BETWEEN rewrite only fires when the leading
    identifier names a managed store table — a column literally named
    'changes' in a numeric BETWEEN predicate is plain SQL and must reach
    Spark's parser untouched."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import execute, sql as run_sql

    store, d = _scratch_store(spark)
    try:
        execute(
            store,
            "CREATE TABLE metrics (id int, changes int) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        execute(store, "INSERT INTO metrics VALUES (1, 2), (2, 9)")
        got = run_sql(
            store,
            "SELECT id FROM metrics WHERE changes BETWEEN 1 AND 3",
        ).collect()
        assert [r.id for r in got] == [1]
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_ctas_from_changefeed_and_version(spark):
    """CTAS goes through the version-clause rewrite seam: a table
    created AS SELECT over a CHANGES feed (or VERSION AS OF) works and
    captures the feed rows."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE audit TBLPROPERTIES "
            "('kudu.key_columns'='id,_change_type,_commit_version') "
            "AS SELECT * FROM snap CHANGES BETWEEN 0 AND 3",
        )
        assert run_sql(store, "SELECT COUNT(*) AS n FROM audit").first().n == 7
        run_sql(
            store,
            "CREATE TABLE snap_v1 TBLPROPERTIES ('kudu.key_columns'='id') "
            "AS SELECT * FROM snap VERSION AS OF 1",
        )
        assert run_sql(store, "SELECT COUNT(*) AS n FROM snap_v1").first().n == 3
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_timestamp_travel_resolution_and_vacuum_sql(spark):
    """version_at picks the newest commit <= ts (exact commit instant
    included), ISO and epoch literals both parse, a pre-creation ts
    fails loudly, and VACUUM on the SQL surface drops history while the
    live table and post-vacuum reads stay intact."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import execute, sql as run_sql
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _mutated_store(spark)
    try:
        t1 = store.commit_timestamp("snap", 1)
        t2 = store.commit_timestamp("snap", 2)
        assert store.version_at("snap", t1) == 1
        assert store.version_at("snap", (t1 + t2) / 2) in (1, 2)  # between commits -> v1 unless equal walls
        assert store.version_at("snap", t2) == 2
        assert store.version_at("snap", t2 + 3600) == store.current_version("snap")
        with pytest.raises(TableStoreError, match="at or before"):
            store.version_at("snap", store.commit_timestamp("snap", 0) - 10)
        # ISO literal (UTC).  isoformat truncates to microseconds, which
        # can land a hair BEFORE the float commit instant — query 1 ms
        # after it (still well inside the v1->v2 gap: the v2 upsert is a
        # full Spark write, orders of magnitude slower than 1 ms).
        from datetime import datetime, timezone

        iso = datetime.fromtimestamp(t1 + 0.001, tz=timezone.utc).isoformat()
        n = run_sql(
            store, f"SELECT COUNT(*) AS n FROM snap TIMESTAMP AS OF '{iso}'"
        ).first().n
        assert n == 3
        # SQL VACUUM: drop all pre-current manifests, live reads intact
        res = execute(store, "VACUUM snap RETAIN 0 VERSIONS").first()
        assert res.dropped_versions == 3
        assert run_sql(store, "SELECT COUNT(*) AS n FROM snap").first().n == 3
        with pytest.raises(TableStoreError):
            run_sql(store, "SELECT * FROM snap VERSION AS OF 1")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_version_at_skips_pre_timestamp_manifests(spark, tmp_path):
    """Manifests written before the ts field exist in deployed tables:
    version_at skips them instead of crashing, and commit_timestamp
    names the problem."""
    import json as _json

    import pytest

    from hivekudu_handler_spark.sources.table_store import (
        TableStore,
        TableStoreError,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    store.create_table("t", "id int, v string", ["id"])
    store.insert_values("t", [(1, "a")])
    # simulate a legacy manifest: strip ts from v0
    p = store._manifest_path("t", 0)
    m = _json.loads(p.read_text())
    del m["ts"]
    p.write_text(_json.dumps(m))
    with pytest.raises(TableStoreError, match="predates commit timestamps"):
        store.commit_timestamp("t", 0)
    # version_at never resolves to the legacy manifest, but still finds v1
    assert store.version_at("t", store.commit_timestamp("t", 1)) == 1
    with pytest.raises(TableStoreError, match="at or before"):
        store.version_at("t", store.commit_timestamp("t", 1) - 10)


def test_insert_overwrite_select_one_commit_and_upsert_rejected(spark):
    """INSERT OVERWRITE fully replaces the table in ONE version commit;
    UPSERT OVERWRITE is rejected as a contradiction; the column-list
    form fills omitted columns with DEFAULT/NULL like a fresh INSERT."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute, sql as run_sql

    store, d = _scratch_store(spark)
    try:
        execute(
            store,
            "CREATE TABLE t (id int, v string, w double DEFAULT 9.5) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        execute(store, "INSERT INTO t VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
        v_before = store.current_version("t")
        run_sql(
            store,
            "INSERT OVERWRITE t (id, v) "
            "SELECT id + 10, 'x' FROM (SELECT 1 AS id UNION ALL SELECT 2)",
        )
        assert store.current_version("t") == v_before + 1  # one commit
        got = sorted(tuple(r) for r in store.scan("t").collect())
        assert got == [(11, "x", 9.5), (12, "x", 9.5)]
        with pytest.raises(SqlDdlError, match="UPSERT OVERWRITE"):
            run_sql(store, "UPSERT OVERWRITE t SELECT * FROM t")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_show_partitions_layouts_and_external_rejected(spark):
    """SHOW PARTITIONS lists the current tablet dirs for hash, composite
    range-hash, and hive-partitioned layouts; external tables refuse."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import execute
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _scratch_store(spark)
    try:
        store.create_table(
            "rh", "id int, v string", ["id"], range_splits=[4], hash_in_range=2
        )
        store.insert_values("rh", [(i, f"v{i}") for i in range(1, 9)])
        parts = {r.partition for r in execute(store, "SHOW PARTITIONS rh").collect()}
        assert parts and all(p.startswith("kr=") and "/kb=" in p for p in parts)

        store.create_table(
            "hp", "id int, lang string", ["id"], partition_by=["lang"]
        )
        store.insert_values("hp", [(1, "en"), (2, "de")])
        parts = {r.partition for r in execute(store, "SHOW PARTITIONS hp").collect()}
        assert any("lang=en" in p for p in parts)
        assert any("lang=de" in p for p in parts)

        # total files across partitions == manifest file count
        rows = execute(store, "SHOW PARTITIONS hp").collect()
        manifest = store._read_manifest("hp", store.current_version("hp"))
        assert sum(r.n_files for r in rows) == len(manifest["files"])

        ext_path = d / "extdata"
        spark.range(3).write.parquet(str(ext_path))
        store.attach_external("ext", str(ext_path), ["id"])
        with pytest.raises(TableStoreError, match="unmanaged"):
            execute(store, "SHOW PARTITIONS ext")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_insert_overwrite_values_form(spark):
    """Hive's INSERT OVERWRITE ... VALUES spelling works through the
    same replace path; UPSERT OVERWRITE VALUES gets the targeted
    rejection (not a generic parse error)."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    store, d = _scratch_store(spark)
    try:
        execute(
            store,
            "CREATE TABLE t (id int, v string) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        execute(store, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
        execute(store, "INSERT OVERWRITE TABLE t VALUES (9, 'z')")
        assert [tuple(r) for r in store.scan("t").collect()] == [(9, "z")]
        with pytest.raises(SqlDdlError, match="UPSERT OVERWRITE"):
            execute(store, "UPSERT OVERWRITE t VALUES (1, 'q')")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_create_table_like_copies_definition_not_data(spark):
    """LIKE copies schema (incl. NOT NULL), keys, layout fields, and
    DEFAULTs; data and history are not copied; views/externals refuse."""
    import shutil as _shutil

    import pytest

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute
    from hivekudu_handler_spark.sources.table_store import TableStoreError

    store, d = _scratch_store(spark)
    try:
        store.create_table(
            "src", "id int, v string", ["id"],
            range_splits=[5], hash_in_range=2, defaults={"v": "'dv'"},
        )
        store.insert_values("src", [(1, "a")])
        execute(store, "CREATE TABLE copy LIKE src")
        s, c = store.table_meta("src"), store.table_meta("copy")
        assert c.key_columns == s.key_columns
        assert c.range_splits == s.range_splits
        assert c.hash_in_range == s.hash_in_range
        assert c.defaults == s.defaults
        assert [f.name for f in c.schema.fields] == [f.name for f in s.schema.fields]
        assert store.scan("copy").count() == 0
        assert store.current_version("copy") == 0
        # NOT NULL copies too
        execute(
            store,
            "CREATE TABLE nn (id int, v string NOT NULL) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        execute(store, "CREATE TABLE nn2 LIKE nn")
        with pytest.raises(Exception, match="NOT NULL constraint violated"):
            execute(store, "INSERT INTO nn2 VALUES (1, NULL)")
        # views and externals refuse
        execute(store, "CREATE VIEW vv AS SELECT * FROM src")
        with pytest.raises(SqlDdlError, match="view"):
            execute(store, "CREATE TABLE x LIKE vv")
        ext_path = d / "extdata2"
        spark.range(2).write.parquet(str(ext_path))
        store.attach_external("ext2", str(ext_path), ["id"])
        with pytest.raises(SqlDdlError, match="external"):
            execute(store, "CREATE TABLE x LIKE ext2")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_delete_update_with_subquery_over_store_table(spark):
    """DELETE/UPDATE predicates may reference OTHER STORE TABLES through
    IN (SELECT ...): the views are bound before predicate evaluation."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _scratch_store(spark)
    try:
        execute(store, "CREATE TABLE t (id int, v string) "
                       "TBLPROPERTIES ('kudu.key_columns'='id')")
        execute(store, "CREATE TABLE sel (id int) "
                       "TBLPROPERTIES ('kudu.key_columns'='id')")
        execute(store, "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
        execute(store, "INSERT INTO sel VALUES (2), (3)")
        execute(store, "DELETE FROM t WHERE id IN (SELECT id FROM sel WHERE id > 2)")
        assert sorted(r.id for r in store.scan("t").collect()) == [1, 2]
        execute(store, "UPDATE t SET v = 'X' WHERE id IN (SELECT id FROM sel)")
        got = sorted(tuple(r) for r in store.scan("t").collect())
        assert got == [(1, "a"), (2, "X")]
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_correlated_exists_delete_and_update(spark):
    """The ANSI correlated form works: the target scan is aliased with
    the table name, so EXISTS (SELECT .. WHERE other.k = t.k) resolves
    its outer reference in both DELETE and UPDATE."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _scratch_store(spark)
    try:
        execute(store, "CREATE TABLE t (id int, v string) "
                       "TBLPROPERTIES ('kudu.key_columns'='id')")
        execute(store, "CREATE TABLE sel (id int) "
                       "TBLPROPERTIES ('kudu.key_columns'='id')")
        execute(store, "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')")
        execute(store, "INSERT INTO sel VALUES (2), (3)")
        execute(
            store,
            "DELETE FROM t WHERE EXISTS "
            "(SELECT 1 FROM sel WHERE sel.id = t.id AND sel.id > 2)",
        )
        assert sorted(r.id for r in store.scan("t").collect()) == [1, 2]
        execute(
            store,
            "UPDATE t SET v = 'X' WHERE EXISTS "
            "(SELECT 1 FROM sel WHERE sel.id = t.id)",
        )
        got = sorted(tuple(r) for r in store.scan("t").collect())
        assert got == [(1, "a"), (2, "X")]
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_create_like_extended_and_mview_guard(spark):
    """LIKE of an extended-typed table clones directly (array columns,
    NOT NULL kept); LIKE of a materialized view refuses with a targeted
    error."""
    import shutil as _shutil

    import pytest

    from pyspark.sql import types as T

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import SqlDdlError, execute

    store, d = _scratch_store(spark)
    try:
        schema = T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("emb", T.ArrayType(T.FloatType()), True),
            ]
        )
        store.create_table("src", schema, ["id"], extended=True)
        execute(store, "CREATE TABLE copy LIKE src")
        c = store.table_meta("copy")
        assert c.extended
        assert [f.dataType.simpleString() for f in c.schema.fields] == [
            "int", "array<float>"
        ]
        assert store.scan("copy").count() == 0

        store.create_table("base", "grp string, x bigint, id bigint", ["id"])
        store.insert_values("base", [("a", 1, 1), ("b", 2, 2)])
        store.create_materialized_view("mv", "base", ["grp"], ["x"])
        with pytest.raises(SqlDdlError, match="materialized view"):
            execute(store, "CREATE TABLE t2 LIKE mv")
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_explain_routes_through_query_path(spark):
    """EXPLAIN is a query statement: Spark executes it natively, and the
    version-clause rewrites apply to the inner query first (so plans of
    time-travel/changefeed reads are inspectable)."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.snapshots import _mutated_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        plan = run_sql(store, "EXPLAIN SELECT COUNT(*) FROM snap").first()[0]
        assert "Physical Plan" in plan
        plan = run_sql(
            store,
            "EXPLAIN FORMATTED SELECT id FROM snap VERSION AS OF 1 WHERE id > 1",
        ).first()[0]
        # the rewrite must have resolved the clause to a snapshot read:
        # the raw clause text is gone and the plan is a parquet scan
        # (a regression would either error or leak the clause through)
        assert "Physical Plan" in plan
        assert "VERSION AS OF" not in plan
        assert "Scan parquet" in plan
        plan = run_sql(
            store, "EXPLAIN SELECT * FROM snap CHANGES BETWEEN 0 AND 3"
        ).first()[0]
        assert "Physical Plan" in plan
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_split_statements_quote_and_comment_aware():
    from hivekudu_handler_spark.sources.sql_ddl import split_statements

    stmts = split_statements(
        "SELECT 'a;b' AS x; -- trailing; comment ; with semicolons\n"
        "SELECT 'it''s; fine';;\n"
        "-- whole-line comment\n"
        "SELECT 1"
    )
    assert stmts == ["SELECT 'a;b' AS x", "SELECT 'it''s; fine'", "SELECT 1"]
    assert split_statements("  ;; -- nothing\n ;") == []
    # Spark's full literal dialect: double-quoted strings, backslash
    # escapes, bracketed comments — and comments are quote-opaque
    # (the apostrophe in a comment must not open a string)
    stmts = split_statements(
        'SELECT "a;b" AS x; SELECT \'don\\\'t; stop\' AS y;\n'
        "/* block; comment 'unclosed */ SELECT 2;\n"
        "-- don't trip on this apostrophe\n"
        "SELECT 'a -- not a comment' AS z"
    )
    assert stmts == [
        'SELECT "a;b" AS x',
        "SELECT 'don\\'t; stop' AS y",
        "SELECT 2",
        "SELECT 'a -- not a comment' AS z",
    ]


def test_fragment_parsers_honor_full_literal_dialect(spark):
    """SET/VALUES fragment parsing must not split inside double-quoted
    or backslash-escaped literals (Spark's lexer treats both as
    strings): commas, parens, and keywords inside them are content."""
    import shutil as _shutil

    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _scratch_store(spark)
    try:
        execute(store, "CREATE TABLE t (id int, v string, w string) "
                       "TBLPROPERTIES ('kudu.key_columns'='id')")
        execute(store, "INSERT INTO t VALUES (1, 'a', 'b')")
        execute(store, 'UPDATE t SET v = "x,y(z", w = \'p\\\',q\' WHERE id = 1')
        row = store.scan("t").first()
        assert (row.v, row.w) == ("x,y(z", "p',q")
        execute(store, 'INSERT INTO t VALUES (2, "c;(,d", \'e\')')
        assert store.scan("t").filter("id = 2").first().v == "c;(,d"
    finally:
        _shutil.rmtree(d, ignore_errors=True)
