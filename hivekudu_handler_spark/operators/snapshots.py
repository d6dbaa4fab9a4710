"""MVCC snapshot operators over the managed table layer (SURVEY.md §2.1).

Kudu parity: the reference's scan path rides a ``KuduScanner``
(``HiveKuduTableInputFormat.java:449-517``) whose underlying storage
engine is MVCC — ``READ_AT_SNAPSHOT`` scans, diff scans (Kudu's
incremental-backup primitive) and the ancient-history mark
(``--tablet_history_max_age_sec``) are first-class Kudu capabilities the
reference inherits.  The managed table layer reproduces them with
per-mutation version manifests over immutable data files
(:mod:`hivekudu_handler_spark.sources.table_store`); these keys drive the
same golden scenario as the DDL/DML keys (``README.md:22-43``) through a
mutation sequence and check the point-in-time results.

Each key builds a scratch table, applies a deterministic mutation
sequence (insert v1 → upsert v2 → delete v3), and returns one observable:
the oracle is a VALUES literal of the expected state, exactly like the
other table-layer keys in :mod:`hivekudu_handler_spark.operators.ddl`.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hivekudu_handler_spark.registry import query
from hivekudu_handler_spark.operators.ddl import _materialize, _scratch_store


def _mutated_store(spark: SparkSession):
    """Scratch table with the canonical 3-step mutation history.

    v0 create → v1 insert {1,2,3} → v2 upsert {2→B, +4} → v3 delete {1}.
    """
    store, d = _scratch_store(spark)
    try:
        store.create_table("snap", "id int, name string, score double", ["id"])
        store.insert_values("snap", [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
        meta = store.table_meta("snap")
        store.upsert(
            "snap",
            spark.createDataFrame([(2, "B", 20.0), (4, "d", 4.0)], meta.schema),
        )
        store.delete_where("snap", "id = 1")
    except BaseException:
        # a half-built scaffold has no owner yet (callers only obtain
        # cleanup() from the successful return) — reap it here or the
        # scratch dir leaks (r9 ADVICE)
        shutil.rmtree(d, ignore_errors=True)
        raise
    return store, d


@query(
    "scan_snapshot",
    oracle=(
        "SELECT * FROM (VALUES (1, 'a', CAST(1.0 AS DOUBLE)), (2, 'b', CAST(2.0 AS DOUBLE)), (3, 'c', CAST(3.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot"),
)
def scan_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ_AT_SNAPSHOT: the table exactly as of version 1, after later
    upserts rewrote bucket files and a delete removed a row — a read
    of version 1's manifest, whose replaced files stay in ``data/``
    beside the current ones."""
    operate, cleanup = scan_snapshot_phases(spark, sf_dir)
    try:
        return operate()
    finally:
        cleanup()


@query(
    "table_history",
    oracle=(
        "SELECT * FROM (VALUES (0, 'create', 0), (1, 'insert', 3), "
        "(2, 'upsert', 4), (3, 'delete', 3)) "
        "AS t(version, op, n_files) ORDER BY version"
    ),
    tags=("table", "snapshot"),
)
def table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed version log: one manifest per mutation, file counts
    proving bucket-scoped rewrites (upsert adds one file to each of the
    batch's buckets; the delete rewrites one bucket into one file)."""
    store, d = _mutated_store(spark)
    try:
        return _materialize(spark, store.history("snap").orderBy("version"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "sql_describe_history",
    oracle=(
        "SELECT * FROM (VALUES (0, 'create', 0), (1, 'insert', 3), "
        "(2, 'upsert', 4), (3, 'delete', 3)) "
        "AS t(version, op, n_files) ORDER BY version"
    ),
    tags=("table", "snapshot", "sql"),
)
def sql_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY t`` (Delta's spelling for the version log) on
    the SQL surface: the committed manifests as (version, op, n_files)
    rows — the file counts prove bucket-scoped writes (the upsert adds
    one file to the touched bucket, the delete rewrites one bucket)."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _mutated_store(spark)
    try:
        return _materialize(
            spark, execute(store, "DESCRIBE HISTORY snap").orderBy("version")
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "snapshot_diff",
    oracle=(
        "SELECT * FROM (VALUES (1, 'a', CAST(1.0 AS DOUBLE), 'delete'), "
        "(2, 'B', CAST(20.0 AS DOUBLE), 'update'), (4, 'd', CAST(4.0 AS DOUBLE), 'insert')) "
        "AS t(id, name, score, change_type) ORDER BY id"
    ),
    tags=("table", "snapshot"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kudu diff scan between v1 and v3: per-key net change with newer
    values (older for deletes).  Row 3 is absent — untouched keys never
    appear in a diff."""
    store, d = _mutated_store(spark)
    try:
        return _materialize(
            spark, store.diff("snap", 1, store.current_version("snap")).orderBy("id")
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "table_changefeed",
    oracle=(
        "SELECT * FROM (VALUES "
        "(1, 'a', CAST(1.0 AS DOUBLE), 'insert', 1), "
        "(2, 'b', CAST(2.0 AS DOUBLE), 'insert', 1), "
        "(3, 'c', CAST(3.0 AS DOUBLE), 'insert', 1), "
        "(2, 'b', CAST(2.0 AS DOUBLE), 'update_before', 2), "
        "(2, 'B', CAST(20.0 AS DOUBLE), 'update_after', 2), "
        "(4, 'd', CAST(4.0 AS DOUBLE), 'insert', 2), "
        "(1, 'a', CAST(1.0 AS DOUBLE), 'delete', 3)) "
        "AS t(id, name, score, _change_type, _commit_version) "
        "ORDER BY _commit_version, id, _change_type"
    ),
    tags=("table", "snapshot", "cdc"),
)
def table_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changefeed v0→v3 (Delta-CDF shape over Kudu diff scans): one
    row per change EVENT with before/after images for updates, stamped
    with the commit that produced it.  Each per-commit term reads only
    the files outside the two manifests' common set — a consumer tailing
    commits reads O(changed tablets), never O(table)."""
    store, d = _mutated_store(spark)
    try:
        feed = store.changefeed("snap", 0, store.current_version("snap"))
        return _materialize(
            spark, feed.orderBy("_commit_version", "id", "_change_type")
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "table_changefeed_apply",
    oracle=(
        "SELECT * FROM (VALUES (2, 'B', CAST(20.0 AS DOUBLE)), "
        "(3, 'c', CAST(3.0 AS DOUBLE)), (4, 'd', CAST(4.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot", "cdc"),
)
def table_changefeed_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changefeed replay invariant as a query: apply the v1→v3 feed
    onto the v1 snapshot and reproduce the v3 table exactly.  Replay is
    one window per key over the effect events (``update_before`` rows are
    audit images, not effects): the latest commit's event wins, deletes
    drop the key — the same merge discipline a downstream mirror would
    run, and it shuffles only feed rows + base rows once."""
    store, d = _mutated_store(spark)
    try:
        to_v = store.current_version("snap")
        base = store.scan_snapshot("snap", 1).withColumn(
            "_commit_version", F.lit(0)
        ).withColumn("_change_type", F.lit("insert"))
        feed = store.changefeed("snap", 1, to_v).filter(
            F.col("_change_type") != "update_before"
        )
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(F.col("_commit_version").desc())
        replayed = (
            base.unionByName(feed)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
            .select("id", "name", "score")
        )
        return _materialize(spark, replayed.orderBy("id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "sql_changefeed",
    oracle=(
        "SELECT * FROM (VALUES "
        "(1, 'a', CAST(1.0 AS DOUBLE), 'insert', 1), "
        "(2, 'b', CAST(2.0 AS DOUBLE), 'insert', 1), "
        "(3, 'c', CAST(3.0 AS DOUBLE), 'insert', 1), "
        "(2, 'b', CAST(2.0 AS DOUBLE), 'update_before', 2), "
        "(2, 'B', CAST(20.0 AS DOUBLE), 'update_after', 2), "
        "(4, 'd', CAST(4.0 AS DOUBLE), 'insert', 2), "
        "(1, 'a', CAST(1.0 AS DOUBLE), 'delete', 3)) "
        "AS t(id, name, score, _change_type, _commit_version) "
        "ORDER BY _commit_version, id, _change_type"
    ),
    tags=("table", "snapshot", "cdc", "sql"),
)
def sql_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changefeed on the SQL surface: ``FROM t CHANGES BETWEEN a AND
    b`` (Delta spells it ``table_changes``), sharing the rewrite seam
    with ``VERSION AS OF`` so CDC reads compose into joins, CTAS, and
    MERGE sources as plain query text."""
    from hivekudu_handler_spark.sources.sql_ddl import sql

    store, d = _mutated_store(spark)
    try:
        cur = store.current_version("snap")
        return _materialize(
            spark,
            sql(
                store,
                f"SELECT id, name, score, _change_type, _commit_version "
                f"FROM snap CHANGES BETWEEN 0 AND {cur} "
                f"ORDER BY _commit_version, id, _change_type",
            ),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "sql_merge_cdc_apply",
    oracle=(
        "SELECT * FROM (VALUES (2, 'B', CAST(20.0 AS DOUBLE)), "
        "(3, 'c', CAST(3.0 AS DOUBLE)), (4, 'd', CAST(4.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot", "cdc", "sql"),
)
def sql_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical downstream-CDC pattern, in ONE composed statement:
    a mirror table seeded from ``VERSION AS OF 1`` is caught up to v3 by
    a MERGE whose source is the ``CHANGES BETWEEN 1 AND 3`` feed,
    collapsed to the latest effect event per key (the window the feed's
    per-commit stamps exist for).  Deletes drop, updates overwrite,
    inserts land — the mirror finishes byte-equal to the source's
    current state, and the MERGE commits one bucket-scoped version.  At
    100 TB both legs stay bounded: the feed reads only changed tablets
    and the MERGE rewrites only the buckets those keys live in."""
    from hivekudu_handler_spark.sources.sql_ddl import sql

    store, d = _mutated_store(spark)
    try:
        cur = store.current_version("snap")
        sql(
            store,
            "CREATE TABLE mirror (id int, name string, score double) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        sql(store, "INSERT INTO mirror SELECT * FROM snap VERSION AS OF 1")
        sql(
            store,
            f"MERGE INTO mirror AS m USING ("
            f"  SELECT id, name, score, _change_type FROM ("
            f"    SELECT id, name, score, _change_type, "
            f"           ROW_NUMBER() OVER (PARTITION BY id "
            f"               ORDER BY _commit_version DESC) AS rn "
            f"    FROM snap CHANGES BETWEEN 1 AND {cur} "
            f"    WHERE _change_type <> 'update_before') ranked "
            f"  WHERE rn = 1"
            f") AS c "
            f"ON m.id = c.id "
            f"WHEN MATCHED AND c._change_type = 'delete' THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET name = c.name, score = c.score "
            f"WHEN NOT MATCHED AND c._change_type <> 'delete' "
            f"  THEN INSERT (id, name, score) VALUES (c.id, c.name, c.score)",
        )
        return _materialize(spark, store.scan("mirror").orderBy("id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def table_changefeed_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``table_changefeed``: ``operate()`` is the
    feed read alone (per-commit manifest diffs + changed-file scans +
    image expansion); the mutation-history scaffold is built here,
    untimed — at scale a consumer tails an existing history, it doesn't
    create one."""
    store, d = _mutated_store(spark)

    def operate() -> DataFrame:
        feed = store.changefeed("snap", 0, store.current_version("snap"))
        return _materialize(
            spark, feed.orderBy("_commit_version", "id", "_change_type")
        )

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


def sql_merge_cdc_apply_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``sql_merge_cdc_apply``: the scenario wall
    is dominated by building the source history and seeding the mirror;
    ``operate()`` is the catch-up itself — ONE MERGE over the CHANGES
    subquery plus the mirror read-back — the steady-state cost a
    downstream mirror pays per sync."""
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE mirror (id int, name string, score double) "
            "TBLPROPERTIES ('kudu.key_columns'='id')",
        )
        run_sql(store, "INSERT INTO mirror SELECT * FROM snap VERSION AS OF 1")
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise

    def operate() -> DataFrame:
        cur = store.current_version("snap")
        run_sql(
            store,
            f"MERGE INTO mirror AS m USING ("
            f"  SELECT id, name, score, _change_type FROM ("
            f"    SELECT id, name, score, _change_type, "
            f"           ROW_NUMBER() OVER (PARTITION BY id "
            f"               ORDER BY _commit_version DESC) AS rn "
            f"    FROM snap CHANGES BETWEEN 1 AND {cur} "
            f"    WHERE _change_type <> 'update_before') ranked "
            f"  WHERE rn = 1"
            f") AS c "
            f"ON m.id = c.id "
            f"WHEN MATCHED AND c._change_type = 'delete' THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET name = c.name, score = c.score "
            f"WHEN NOT MATCHED AND c._change_type <> 'delete' "
            f"  THEN INSERT (id, name, score) VALUES (c.id, c.name, c.score)",
        )
        return _materialize(spark, store.scan("mirror").orderBy("id"))

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


@query(
    "sql_timestamp_travel",
    oracle=(
        "SELECT * FROM (VALUES (1, 'a', CAST(1.0 AS DOUBLE)), "
        "(2, 'b', CAST(2.0 AS DOUBLE)), (3, 'c', CAST(3.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot", "sql"),
)
def sql_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TIMESTAMP AS OF`` — wall-clock time travel, the addressing mode
    Kudu's READ_AT_SNAPSHOT natively uses (HybridTime): querying at
    v1's commit instant resolves to v1 (newest commit <= ts),
    reproducing the pre-upsert, pre-delete state.

    The literal here is a NAIVE ISO datetime, deliberately: a naive
    literal is interpreted as UTC, matching the session timezone pin —
    the classic Spark-vs-DuckDB differential trap (DIVERGENCES.md
    "TIMESTAMP AS OF naive literal"; resolution test
    ``tests/test_new_surface_r17.py`` exercises the aware-ISO and epoch
    spellings).  Queried 1 ms after the commit instant because
    ``datetime`` truncates to microseconds, which could land a hair
    BEFORE the float commit timestamp — still well inside the v1→v2 gap
    (the v2 upsert is a full Spark write, orders of magnitude slower)."""
    from datetime import datetime, timezone

    from hivekudu_handler_spark.sources.sql_ddl import sql

    store, d = _mutated_store(spark)
    try:
        ts = store.commit_timestamp("snap", 1)
        naive_iso = (
            datetime.fromtimestamp(ts + 0.001, tz=timezone.utc)
            .replace(tzinfo=None)
            .isoformat()
        )
        return _materialize(
            spark,
            sql(
                store,
                f"SELECT id, name, score FROM snap TIMESTAMP AS OF "
                f"'{naive_iso}' ORDER BY id",
            ),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "sql_vacuum",
    oracle=(
        "SELECT * FROM (VALUES (3, 2, 'B', CAST(20.0 AS DOUBLE)), "
        "(3, 3, 'c', CAST(3.0 AS DOUBLE)), (3, 4, CAST('d' AS VARCHAR), CAST(4.0 AS DOUBLE))) "
        "AS t(dropped_versions, id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot", "sql"),
)
def sql_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VACUUM t RETAIN 0 VERSIONS`` on the SQL surface: drops the
    three pre-current manifests (the statement reports 3), and the live
    table remains byte-identical — the GC may only ever delete files
    no retained manifest lists."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _mutated_store(spark)
    try:
        res = execute(store, "VACUUM snap RETAIN 0 VERSIONS")
        dropped = res.first()["dropped_versions"]
        return _materialize(
            spark,
            store.scan("snap")
            .withColumn("dropped_versions", F.lit(dropped))
            .select("dropped_versions", "id", "name", "score")
            .orderBy("id"),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "sql_show_partitions",
    oracle=(
        "SELECT * FROM (VALUES ('kb=0', 1), ('kb=2', 1), ('kb=3', 1)) "
        "AS t(partition, n_files) ORDER BY partition"
    ),
    tags=("table", "snapshot", "sql"),
)
def sql_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SHOW PARTITIONS`` — the live tablet layout (Impala's spelling
    over Kudu tablet listings), metadata-only from the current manifest.
    After the canonical mutation history the live rows {2, 3, 4} hash
    into three of the four default buckets, one file each (the file
    counts double as the bucket-scoped-write proof)."""
    from hivekudu_handler_spark.sources.sql_ddl import execute

    store, d = _mutated_store(spark)
    try:
        return _materialize(
            spark,
            execute(store, "SHOW PARTITIONS snap").orderBy("partition"),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "table_vacuum",
    oracle=(
        "SELECT * FROM (VALUES (2, 'B', CAST(20.0 AS DOUBLE)), (3, 'c', CAST(3.0 AS DOUBLE)), (4, 'd', CAST(4.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot"),
)
def table_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancient-history mark: vacuum to the current version only, then
    prove the live table is untouched (the GC may only ever delete
    files no retained manifest lists)."""
    store, d = _mutated_store(spark)
    try:
        store.vacuum("snap", keep_last=0)
        return _materialize(spark, store.scan("snap").orderBy("id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "incr_agg_refresh",
    oracle=(
        "WITH state AS ("
        "  SELECT event_id, event_type, "
        "         CASE WHEN event_id % 3 IN (0, 1) AND event_id % 5 = 0 "
        "              THEN value * 2 ELSE value END AS value "
        "  FROM events) "
        "SELECT event_type, COUNT(*) AS n_events, "
        "       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
        "FROM state WHERE event_type <> 'error' "
        "GROUP BY event_type ORDER BY event_type"
    ),
    tags=("table", "snapshot", "slow"),
)
def incr_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the diff scan — the 100 TB
    pattern Kudu's incremental backups exist for: a materialized
    aggregate is refreshed from ONLY the rows that changed between two
    table versions, never rescanning unchanged tablets (`TableStore.diff`
    reads just the manifests' symmetric-difference files).

    Scenario over the events fixture: load two-thirds of the rows
    (v_a), take the per-type aggregate as the materialized base, then
    upsert the final third + double the value of every ``id%5=0`` row,
    and delete the 'error' class.  Each diff row retracts its old
    contribution (``old_*`` columns) and asserts its new one; merging
    the signed deltas into the base must equal a from-scratch aggregate
    of the final state — which is exactly what the oracle computes.
    Money-style exact arithmetic (floor-cents) keeps the incremental
    float path bit-identical to the recompute."""
    import pyspark.sql.functions as F

    from hivekudu_handler_spark.tables import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    store, d = _scratch_store(spark)
    try:
        store.create_table(
            "ev", "event_id bigint, event_type string, value double", ["event_id"]
        )
        store.insert("ev", ev.filter(F.col("event_id") % 3 < 2))
        v_a = store.current_version("ev")
        # materialize NOW: snapshot reads bind concrete file paths at
        # construction, and this base is conceptually a stored aggregate
        base = _materialize(
            spark,
            store.scan_snapshot("ev", v_a)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("sum_cents"),
            ),
        )
        b_new = ev.filter(F.col("event_id") % 3 == 2)
        b_upd = ev.filter(
            (F.col("event_id") % 3 < 2) & (F.col("event_id") % 5 == 0)
        ).withColumn("value", F.col("value") * 2)
        store.upsert("ev", b_new.unionByName(b_upd))
        store.delete_where("ev", "event_type = 'error'")
        v_b = store.current_version("ev")

        diff = store.diff("ev", v_a, v_b, include_old=True)
        # retract+assert via ONE explode, not a self-union (r22): the
        # union form computed the manifest-diff join twice — see
        # TableStore.refresh_materialized_view for the full rationale
        retract_s = F.struct(
            F.col("old_event_type").alias("event_type"),
            F.lit(-1).cast("long").alias("dn"),
            (-F.floor(F.col("old_value") * 100)).alias("dcents"),
        )
        assert_s = F.struct(
            F.col("event_type").alias("event_type"),
            F.lit(1).cast("long").alias("dn"),
            F.floor(F.col("value") * 100).alias("dcents"),
        )
        signed = (
            F.when(F.col("change_type") == "insert", F.array(assert_s))
            .when(F.col("change_type") == "delete", F.array(retract_s))
            .otherwise(F.array(retract_s, assert_s))
        )
        delta = (
            diff.select(F.explode(signed).alias("_e"))
            .select("_e.*")
            .groupBy("event_type")
            .agg(F.sum("dn").alias("dn"), F.sum("dcents").alias("dcents"))
        )
        merged = (
            base.join(delta, "event_type", "full_outer")
            .select(
                "event_type",
                (
                    F.coalesce(F.col("n_events"), F.lit(0))
                    + F.coalesce(F.col("dn"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("sum_cents"), F.lit(0))
                    + F.coalesce(F.col("dcents"), F.lit(0))
                ).alias("sum_cents"),
            )
            .filter(F.col("n_events") > 0)
            .orderBy("event_type")
        )
        return _materialize(spark, merged)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "mview_incremental",
    oracle=(
        "WITH state AS ("
        "  SELECT event_id, event_type, "
        "         CASE WHEN event_id % 3 IN (0, 1) AND event_id % 5 = 0 "
        "              THEN CAST(floor(value * 100) AS BIGINT) * 2 "
        "              ELSE CAST(floor(value * 100) AS BIGINT) END AS cents "
        "  FROM events) "
        "SELECT event_type, COUNT(*) AS n_rows, "
        "       CAST(SUM(cents) AS BIGINT) AS sum_cents "
        "FROM state WHERE event_type <> 'error' "
        "GROUP BY event_type ORDER BY event_type"
    ),
    tags=("table", "snapshot", "slow"),
)
def mview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MATERIALIZED VIEW lifecycle through the SQL front-end:
    CREATE MATERIALIZED VIEW over a partially-loaded base, mutate the
    base (late-arriving inserts, doubled-cents updates, a class delete),
    then ``ALTER MATERIALIZED VIEW ... REBUILD`` — which runs the
    INCREMENTAL merge off the version-manifest diff
    (``TableStore.refresh_materialized_view``), never rescanning the
    base.  Returned rows are the STORED view contents; the oracle
    recomputes the final state from scratch — equality proves the
    incremental maintenance (retract old / assert new / drop emptied
    groups) is exact.  Integer cents keep the sums float-free, so the
    incremental path is bit-identical to the recompute."""
    operate, cleanup = mview_incremental_phases(spark, sf_dir)
    try:
        return operate()
    finally:
        cleanup()


def mview_incremental_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``mview_incremental`` (r8 verdict item 6:
    the scenario wall is dominated by its six lifecycle phases — create /
    insert / create-mv / upsert / delete / REBUILD — which makes the
    headline noisy while the number that matters at scale is the
    incremental REFRESH alone).

    Returns ``(operate, cleanup)``: ``operate()`` runs ONLY the
    manifest-diff REBUILD plus the stored-view scan against a scaffold
    this function has already built and mutated; ``cleanup()`` removes
    the scratch store.  The operate wall is the steady-state cost of
    keeping the view current after one more mutation round."""
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql
    from hivekudu_handler_spark.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    store, d = _scratch_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE ev (event_id bigint, event_type string, "
            "cents bigint) TBLPROPERTIES ('kudu.key_columns'='event_id')",
        )
        store.insert("ev", ev.filter(F.col("event_id") % 3 < 2))
        run_sql(
            store,
            "CREATE MATERIALIZED VIEW mv AS "
            "SELECT event_type, COUNT(*) AS n_rows, SUM(cents) AS sum_cents "
            "FROM ev GROUP BY event_type",
        )
        late = ev.filter(F.col("event_id") % 3 == 2)
        upd = ev.filter(
            (F.col("event_id") % 3 < 2) & (F.col("event_id") % 5 == 0)
        ).withColumn("cents", F.col("cents") * 2)
        store.upsert("ev", late.unionByName(upd))
        store.delete_where("ev", "event_type = 'error'")
    except BaseException:
        # cleanup() is only handed out on success — reap the half-built
        # scaffold here or the scratch dir leaks (r9 ADVICE)
        shutil.rmtree(d, ignore_errors=True)
        raise

    def operate() -> DataFrame:
        run_sql(store, "ALTER MATERIALIZED VIEW mv REBUILD")
        return _materialize(spark, store.scan("mv").orderBy("event_type"))

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


def scan_snapshot_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``scan_snapshot``: ``operate()`` is the
    as-of-version read alone (manifest file-list read and scan);
    the mutation-history scaffold is built here, untimed."""
    store, d = _mutated_store(spark)

    def operate() -> DataFrame:
        return _materialize(spark, store.scan_snapshot("snap", 1).orderBy("id"))

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


@query(
    "mview_recover",
    oracle=(
        "SELECT event_type, COUNT(*) AS n_rows, "
        "       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) "
        "         AS sum_cents "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    tags=("table", "snapshot", "slow"),
)
def mview_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view CRASH RECOVERY, driver-checked (r7 verdict item
    5: the two-phase pending marker and snapshot rollback had pytest
    coverage but no oracle-backed key that would fail if recovery
    broke).

    Scenario: base table half-loaded, mview created, the other half
    upserted — then a refresh is SIMULATED TO CRASH MID-MERGE: the
    phase-1 pending marker is written exactly as
    ``refresh_materialized_view`` writes it, and a POISON partial merge
    lands in the view (a wrong row for one group — standing in for any
    torn half-applied delta).  The next REBUILD must (a) see the
    marker, (b) roll the view back to the recorded pre-merge snapshot
    via ``insert_overwrite`` + ``scan_snapshot`` — reading files the
    current version no longer lists — and (c) re-apply the whole delta,
    yielding the exact recomputed aggregate.  If recovery is broken the
    poison row survives (or deltas double-apply) and the oracle hash
    mismatches."""
    import json

    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql
    from hivekudu_handler_spark.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    store, d = _scratch_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE evr (event_id bigint, event_type string, "
            "cents bigint) TBLPROPERTIES ('kudu.key_columns'='event_id')",
        )
        store.insert("evr", ev.filter(F.col("event_id") % 2 == 0))
        run_sql(
            store,
            "CREATE MATERIALIZED VIEW mvr AS "
            "SELECT event_type, COUNT(*) AS n_rows, SUM(cents) AS sum_cents "
            "FROM evr GROUP BY event_type",
        )
        store.upsert("evr", ev.filter(F.col("event_id") % 2 == 1))

        # -- simulate the crash: phase-1 marker + torn partial merge --
        mpath = store.mview_manifest_path("mvr")
        mv = json.loads(mpath.read_text())
        mv["pending"] = {
            "to": store.current_version("evr"),
            "view_pre": store.current_version("mvr"),
        }
        mpath.write_text(json.dumps(mv))
        poison = store.scan("mvr").limit(1).select(
            "event_type",
            (F.col("n_rows") + 999_999).alias("n_rows"),
            (F.col("sum_cents") + 123_456_789).alias("sum_cents"),
        )
        store.upsert("mvr", poison)  # half-applied merge, then "crash"

        run_sql(store, "ALTER MATERIALIZED VIEW mvr REBUILD")
        return _materialize(spark, store.scan("mvr").orderBy("event_type"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


_JOIN_MV_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT)
           * CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 3 < 2
                  THEN 2 ELSE 1 END AS cents
  FROM orders WHERE o_orderkey % 7 <> 0
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 3 THEN 'MIGRATED'
              ELSE c_mktsegment END AS seg
  FROM customer WHERE c_custkey % 13 <> 0
)
SELECT c.seg, COUNT(*) AS n_rows, CAST(SUM(o.cents) AS BIGINT) AS sum_cents
FROM o JOIN c ON o.o_custkey = c.c_custkey
GROUP BY c.seg ORDER BY c.seg
"""


def join_view_delta_refresh(
    store,
    base: DataFrame,
    *,
    left: str,
    right: str,
    v_left: int,
    v_right: int,
    lkey: str,
    rkey: str,
    group_col: str,
    measure_col: str,
) -> DataFrame:
    """Merge the join-view delta into ``base`` and return the refreshed
    view — the exact two-table delta rule

        dV = gamma(dL JOIN R_new) + gamma(L_old JOIN dR)

    for a view ``gamma_group(SUM(measure), COUNT(*))`` over
    ``left JOIN right ON lkey = rkey`` where ``measure_col`` lives on
    the LEFT base and ``group_col`` on the RIGHT.  ``base`` must carry
    ``(group_col, n_rows, sum_<measure_col>)`` as of versions
    ``(v_left, v_right)``; both bases may have moved arbitrarily since
    (inserts, updates, deletes on either side — including the same
    logical pair mutating on both).  Each diff row contributes its old
    image with sign -1 and its new image with sign +1; the signs
    multiply through the join, so a pair whose halves BOTH disappeared
    is retracted exactly once (it is absent from R_new, so only the
    L_old JOIN dR term sees it).

    Scale shape: the diff frames are delta-sized (manifest symmetric
    difference) and explicitly broadcast — each term is one scan of the
    counterpart base with a broadcast hash join, never a base-vs-base
    join and never a shuffle of the big side."""
    lmeta, rmeta = store.table_meta(left), store.table_meta(right)
    sum_col = f"sum_{measure_col}"

    def old(c: str, keys) -> F.Column:
        return F.col(c if c in keys else f"old_{c}")

    d_left = store.diff(left, v_left, store.current_version(left), include_old=True)
    d_right = store.diff(right, v_right, store.current_version(right), include_old=True)

    lkeys, rkeys = set(lmeta.key_columns), set(rmeta.key_columns)
    # the deltas' join-key column gets a reserved name so the terms stay
    # unambiguous when lkey == rkey (USING-style views)
    jk = "__jv_key"
    # retract+assert via ONE explode per diff, not a self-union (r22):
    # the union form embedded each manifest-diff join in BOTH branches,
    # computing every delta twice per refresh — the explode emits an
    # update row's retraction and assertion from one 2-element array
    # (TableStore.changefeed's shape); identical signed-row multiset
    def _signed(d, retract_s, assert_s):
        arr = (
            F.when(F.col("change_type") == "insert", F.array(assert_s))
            .when(F.col("change_type") == "delete", F.array(retract_s))
            .otherwise(F.array(retract_s, assert_s))
        )
        return d.select(F.explode(arr).alias("_e")).select("_e.*")

    # dL, pre-aggregated per join key (additive measures allow it)
    l_delta = _signed(
        d_left,
        F.struct(
            old(lkey, lkeys).alias(jk),
            F.lit(-1).cast("long").alias("dn"),
            (-old(measure_col, lkeys)).alias("dm"),
        ),
        F.struct(
            F.col(lkey).alias(jk),
            F.lit(1).cast("long").alias("dn"),
            F.col(measure_col).alias("dm"),
        ),
    ).groupBy(jk).agg(F.sum("dn").alias("dn"), F.sum("dm").alias("dm"))
    # dR keeps rows (retract/assert may carry different group values)
    r_delta = _signed(
        d_right,
        F.struct(
            old(rkey, rkeys).alias(jk),
            F.lit(-1).cast("long").alias("sign"),
            old(group_col, rkeys).alias(group_col),
        ),
        F.struct(
            F.col(rkey).alias(jk),
            F.lit(1).cast("long").alias("sign"),
            F.col(group_col).alias(group_col),
        ),
    )

    r_new = store.scan(right)
    term1 = (
        F.broadcast(l_delta)
        .join(r_new, F.col(jk) == r_new[rkey])
        .select(group_col, "dn", "dm")
    )
    l_old = store.scan_snapshot(left, v_left)
    term2 = (
        l_old.join(F.broadcast(r_delta), l_old[lkey] == F.col(jk))
        .select(
            group_col,
            F.col("sign").alias("dn"),
            (F.col("sign") * F.col(measure_col)).alias("dm"),
        )
    )
    delta = (
        term1.unionByName(term2)
        .groupBy(group_col)
        .agg(F.sum("dn").alias("dn"), F.sum("dm").alias("dm"))
    )
    # NULL is a legal group value (the right base's group column may be
    # nullable), so the merge join must be NULL-SAFE: a plain USING join
    # would never match a NULL base group with its NULL delta group and
    # the view would carry both the stale row and an unmerged delta row
    return (
        base.join(delta, base[group_col].eqNullSafe(delta[group_col]), "full_outer")
        .select(
            F.coalesce(base[group_col], delta[group_col]).alias(group_col),
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col(sum_col), F.lit(0))
                + F.coalesce(F.col("dm"), F.lit(0))
            ).alias(sum_col),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy(group_col)
    )


def mview_join_incremental_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``mview_join_incremental``: the scenario
    wall is dominated by table creation, loads and six mutations; the
    number that matters at scale is the delta REFRESH alone.
    ``operate()`` runs only ``join_view_delta_refresh`` + the merged
    read against a scaffold this function already built and mutated."""
    from hivekudu_handler_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    store, d = _scratch_store(spark)
    try:
        store.create_table(
            "ord", "o_orderkey bigint, o_custkey bigint, cents bigint", ["o_orderkey"]
        )
        store.create_table("cust", "c_custkey bigint, seg string", ["c_custkey"])
        store.insert("ord", orders.filter(F.col("o_orderkey") % 3 < 2))
        store.insert("cust", cust)
        v_ord, v_cust = store.current_version("ord"), store.current_version("cust")

        # the stored view at (v_ord, v_cust) — materialized NOW, before
        # the bases move (snapshot reads bind file paths at construction)
        base = _materialize(
            spark,
            store.scan_snapshot("ord", v_ord)
            .join(store.scan_snapshot("cust", v_cust), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            ),
        )

        # both bases mutate
        late = orders.filter(F.col("o_orderkey") % 3 == 2)
        doubled = orders.filter(
            (F.col("o_orderkey") % 3 < 2) & (F.col("o_orderkey") % 5 == 0)
        ).withColumn("cents", F.col("cents") * 2)
        store.upsert("ord", late.unionByName(doubled))
        store.delete_where("ord", "o_orderkey % 7 = 0")
        store.upsert(
            "cust",
            cust.filter(F.col("c_custkey") % 10 == 3).withColumn(
                "seg", F.lit("MIGRATED")
            ),
        )
        store.delete_where("cust", "c_custkey % 13 = 0")
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise

    def operate() -> DataFrame:
        merged = join_view_delta_refresh(
            store,
            base,
            left="ord",
            right="cust",
            v_left=v_ord,
            v_right=v_cust,
            lkey="o_custkey",
            rkey="c_custkey",
            group_col="seg",
            measure_col="cents",
        )
        return _materialize(spark, merged)

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


@query("mview_join_incremental", oracle=_JOIN_MV_SQL, tags=("table", "snapshot", "slow"))
def mview_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view incremental maintenance — the delta rule for a
    two-table view, one class up from the SUM/COUNT-groupby IVM that
    ``TableStore.refresh_materialized_view`` automates:

        V = gamma_seg(orders JOIN customer ON custkey)
        dV = gamma(dO JOIN C_new) + gamma(O_old JOIN dC)

    (exact: O_new*C_new - O_old*C_old = dO*C_new + O_old*dC, each diff
    row signed -1 for its retracted old image / +1 for its asserted new
    one).  BOTH bases mutate between the materialization and the
    refresh — late orders, doubled cents, order deletes, a customer
    segment migration, customer deletes — and the merged view must
    equal the oracle's from-scratch recompute of the final state.

    Scale shape: both diff frames are delta-sized (manifest symmetric
    difference — unchanged tablets are never read) and are explicitly
    broadcast, so each term is ONE scan of the counterpart base with a
    broadcast hash join — no shuffle of the big side, no base-vs-base
    join.  The ``O_old JOIN dC`` term's scan of the probed base is the
    irreducible cost of join IVM without clustering; bucketing orders
    by the JOIN key (``kudu.hash_columns``) would prune it to the
    delta's buckets.  Integer cents keep every path float-free, so
    incremental equals recompute bit-for-bit."""
    operate, cleanup = mview_join_incremental_phases(spark, sf_dir)
    try:
        return operate()
    finally:
        cleanup()


@query(
    "sql_time_travel",
    oracle=(
        "SELECT * FROM (VALUES (2, 'b', 'B'), (3, 'c', 'c')) "
        "AS t(id, old_name, new_name) ORDER BY id"
    ),
    tags=("table", "snapshot", "sql"),
)
def sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VERSION AS OF`` in the SQL front-end (Kudu READ_AT_SNAPSHOT
    with the Delta/Iceberg spelling): one query joins TWO versions of
    the same table — the v1 insert state against the current state
    after an upsert and a delete — so drift between snapshots is a
    plain SQL join, no API calls.  Each clause binds a temp view over
    ``scan_snapshot`` (sources/sql_ddl.py:_rewrite_time_travel); the
    oracle is the hand-computed expected diff of the canonical mutation
    history.  Scale: snapshot resolution is manifest-driven (O(files)
    metadata), and the join itself is ordinary Catalyst planning over
    two parquet scans."""
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    store, d = _mutated_store(spark)
    try:
        out = run_sql(
            store,
            "SELECT a.id, a.name AS old_name, b.name AS new_name "
            "FROM snap VERSION AS OF 1 a "
            "JOIN snap VERSION AS OF 3 b ON a.id = b.id "
            "ORDER BY a.id",
        )
        return _materialize(spark, out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "table_restore_diffs",
    oracle=(
        "SELECT * FROM (VALUES (2, 'B', CAST(20.0 AS DOUBLE)), "
        "(3, 'c', CAST(3.0 AS DOUBLE)), (4, 'd', CAST(4.0 AS DOUBLE))) "
        "AS t(id, name, score) ORDER BY id"
    ),
    tags=("table", "snapshot"),
)
def table_restore_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kudu incremental backup/restore: a REPLICA table is built purely
    by replaying per-version diff scans — never by copying the source's
    files or rescanning its full state.  Each step applies diff(v-1, v)
    as one keyed commit (asserts upserted, deletes applied via the same
    bucket-scoped write), so replicating k changed tablets costs O(k
    tablets) regardless of source size; the replayed replica must equal
    the source's final state bit-for-bit (the oracle's VALUES literal).
    This is the CDC-source role of the version log — the consumer side
    of the same manifests the mview refresh and join-view IVM read."""
    src_store, d = _mutated_store(spark)
    try:
        src_store.create_table(
            "replica", "id int, name string, score double", ["id"]
        )
        for v in range(1, src_store.current_version("snap") + 1):
            delta = src_store.diff("snap", v - 1, v)
            asserts = delta.filter(F.col("change_type") != "delete").select(
                "id", "name", "score"
            )
            dead = delta.filter(F.col("change_type") == "delete").select("id")
            src_store.upsert("replica", asserts, delete_keys=dead)
        return _materialize(spark, src_store.scan("replica").orderBy("id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "table_changefeed_deep",
    oracle=(
        "SELECT * FROM (VALUES "
        "('delete', 4, 3, 4), ('insert', 4, 1, 2), "
        "('update_after', 1, 2, 2), ('update_before', 1, 2, 2)) "
        "AS t(_change_type, n_events, min_commit, max_commit) "
        "ORDER BY _change_type"
    ),
    tags=("table", "snapshot", "cdc"),
)
def table_changefeed_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEGMENTED changefeed over a deep commit history (r18;
    SCALE.md "r18: CDC plan width"): the canonical 3-commit mutation
    history padded with truncates to 20 commits (the first truncate
    deletes the 3 surviving keys; the rest commit empty diffs —
    versions still advance), read via ``changefeed_segmented`` in
    8-commit spans.  The per-type event counts and commit-version
    bounds must equal the raw feed's — segmentation changes plan shape
    (3 checkpointed leaves instead of a 20-term union), never content.
    """
    from hivekudu_handler_spark.sources.table_store import (
        changefeed_segmented,
    )

    store, d = _mutated_store(spark)
    try:
        store.truncate("snap")  # v4: deletes surviving keys {2, 3, 4}
        while store.current_version("snap") < 20:
            store.truncate("snap")  # empty diff, version advances
        feed = changefeed_segmented(
            store, "snap", 0, store.current_version("snap"),
            segment_commits=8,
        )
        return _materialize(
            spark,
            feed.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("_commit_version").alias("min_commit"),
                F.max("_commit_version").alias("max_commit"),
            )
            .orderBy("_change_type"),
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
