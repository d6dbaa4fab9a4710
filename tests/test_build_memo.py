"""Build-phase memoization: fixture reads reuse their inferred schema,
pins reuse their materialized frame, and result frames built from driver
values start no Spark job.  Each claim is checked by counting the Spark
jobs one call starts under its own job group."""

from __future__ import annotations

import ast
import os
import shutil
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.sources import sql_ddl
from hivekudu_handler_spark.sources.table_store import TableStore
from hivekudu_handler_spark.tables import (
    embedding_width,
    ensure_session_confs,
    load_events,
    load_table,
    read_fixture,
)

PKG = Path(__file__).resolve().parents[1] / "hivekudu_handler_spark"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, action):
    """(result of ``action()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"build-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _write(path: Path, **cols) -> None:
    """Rewrite ``path`` in place; the mtime is bumped past the old one so
    a coarse-clock filesystem cannot hide the rewrite."""
    before = path.stat().st_mtime_ns if path.exists() else 0
    pq.write_table(pa.table(cols), path)
    if path.stat().st_mtime_ns <= before:
        os.utime(path, ns=(time.time_ns(), before + 1_000_000))


@pytest.fixture
def fixture_dir(tmp_path, sf_dir):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    return tmp_path


# ---- fixture reads


def test_second_load_table_of_unchanged_fixture_starts_no_job(spark, fixture_dir):
    first, n_first = _jobs(spark, lambda: load_table(spark, str(fixture_dir), "region"))
    second, n_second = _jobs(
        spark, lambda: load_table(spark, str(fixture_dir), "region")
    )
    assert n_first == 1  # the footer merge of a cold path
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_fixture_with_new_column_changes_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write(path, r_regionkey=pa.array([1, 2], pa.int64()))
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    _write(
        path,
        r_regionkey=pa.array([1, 2, 3], pa.int64()),
        r_name=pa.array(["a", "b", "c"]),
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_changed_nanos_conf_uses_its_own_entry(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, ts=pa.array([1_000, 2_000], pa.timestamp("ns")))
    old = spark.conf.get(NANOS, None)
    try:
        spark.conf.set(NANOS, "true")
        assert dict(read_fixture(spark, str(path)).dtypes)["ts"] == "bigint"
        spark.conf.set(NANOS, "false")
        # a new entry: inferred again under the new conf, never the
        # bigint schema cached under the old one
        try:
            typed, n = _jobs(spark, lambda: read_fixture(spark, str(path)))
        except Exception as e:  # this Spark refuses nanos without the conf
            assert "NANOS" in str(e).upper()
        else:
            assert n == 1
            assert dict(typed.dtypes)["ts"] != "bigint"
        spark.conf.set(NANOS, "true")
        back, n = _jobs(spark, lambda: read_fixture(spark, str(path)))
        assert n == 0
        assert dict(back.dtypes)["ts"] == "bigint"
    finally:
        if old is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, old)


def test_load_events_leaves_session_confs_unchanged(spark, fixture_dir, sf_dir):
    """The events reader sets no conf of its own: every conf it needs is
    pinned by ensure_session_confs, so a fixture read after an events
    read keeps its schema-memo entry."""
    ensure_session_confs(spark)
    before = dict(spark.conf.getAll)
    load_table(spark, str(fixture_dir), "region")
    load_events(spark, sf_dir)
    assert dict(spark.conf.getAll) == before
    _, n = _jobs(spark, lambda: load_table(spark, str(fixture_dir), "region"))
    assert n == 0


def test_embedding_width_probes_once_per_listing(spark, tmp_path, sf_dir):
    shutil.copy(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    want = len(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding")
        .first()["embedding"]
    )
    assert embedding_width(spark, str(tmp_path)) == want
    width, n = _jobs(spark, lambda: embedding_width(spark, str(tmp_path)))
    assert (width, n) == (want, 0)
    _write(
        tmp_path / "embeddings.parquet",
        vec_id=pa.array([1], pa.int64()),
        embedding=pa.array([[1.0, 2.0, 3.0]], pa.list_(pa.float32())),
    )
    assert embedding_width(spark, str(tmp_path)) == 3


# ---- pins


def _doubled(spark, path: Path):
    return read_fixture(spark, str(path)).select((F.col("a") * 2).alias("b"))


def _pin_jobs(spark, df):
    """(pinned frame, jobs the pin started); ``df`` is built beforehand."""
    return _jobs(spark, lambda: pins.pin("test.memo", df))


@pytest.fixture
def pinned(tmp_path):
    # start from an empty registry: pins an earlier test file left held
    # would otherwise show up in pins.snapshot()
    pins.release_all()
    path = tmp_path / "a.parquet"
    _write(path, a=pa.array([1, 2, 3], pa.int64()))
    yield path
    pins.release_all()


def test_repeated_pin_of_same_plan_starts_no_job(spark, pinned):
    first, n = _pin_jobs(spark, _doubled(spark, pinned))
    assert n >= 1  # persist + count
    again, n = _pin_jobs(spark, _doubled(spark, pinned))
    assert n == 0
    assert sorted(r.b for r in again.collect()) == [2, 4, 6]
    assert pins.snapshot() == [("test.memo", True, 1)]


def test_pin_recomputes_after_input_rewritten_in_place(spark, pinned):
    pins.pin("test.memo", _doubled(spark, pinned))
    _write(pinned, a=pa.array([1, 2, 3, 4], pa.int64()))
    fresh, n = _pin_jobs(spark, _doubled(spark, pinned))
    assert n >= 1
    assert sorted(r.b for r in fresh.collect()) == [2, 4, 6, 8]


def test_pin_never_serves_a_stale_copy_cached_under_another_tag(spark, pinned):
    """The CacheManager matches plans, not data: a copy of the same plan
    cached before an in-place rewrite must not satisfy a new pin."""
    pins.pin("test.other", _doubled(spark, pinned))
    _write(pinned, a=pa.array([1, 2, 3, 4], pa.int64()))
    fresh = pins.pin("test.memo", _doubled(spark, pinned))
    assert sorted(r.b for r in fresh.collect()) == [2, 4, 6, 8]


def test_pin_of_different_plan_releases_old_frame(spark, pinned):
    old = pins.pin("test.memo", _doubled(spark, pinned))
    new = pins.pin("test.memo", _doubled(spark, pinned).filter("b > 2"))
    assert not old.storageLevel.useMemory and not old.storageLevel.useDisk
    assert new.storageLevel.useMemory or new.storageLevel.useDisk
    assert sorted(r.b for r in new.collect()) == [4, 6]


def test_pin_after_clear_cache_materializes_again(spark, pinned):
    pins.pin("test.memo", _doubled(spark, pinned))
    spark.catalog.clearCache()
    assert pins.snapshot() == [("test.memo", False, 1)]
    again, n = _pin_jobs(spark, _doubled(spark, pinned))
    assert n >= 1
    assert pins.snapshot() == [("test.memo", True, 1)]
    assert sorted(r.b for r in again.collect()) == [2, 4, 6]


def test_rand_plan_is_never_reused(spark, pinned):
    def frame():
        return spark.range(5).select(F.rand().alias("r"))

    pins.pin("test.memo", frame())
    _, n = _pin_jobs(spark, frame())
    assert n >= 1


def _pin_tags() -> list[str]:
    """Every tag a pin site names: the literal first argument of a
    ``pins.pin`` call, or the ``pin_tag=`` literal a caller hands a
    helper that pins under its parameter ``pin_tag``."""
    tags = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "pin" and (
                isinstance(f.value, ast.Name) and f.value.id == "pins"
            ):
                arg = node.args[0]
                if isinstance(arg, ast.Name):
                    assert arg.id == "pin_tag", f"{path}:{node.lineno}"
                else:
                    assert isinstance(arg, ast.Constant), f"{path}:{node.lineno}"
                    tags.append(arg.value)
            tags += [
                kw.value.value
                for kw in node.keywords
                if kw.arg == "pin_tag" and isinstance(kw.value, ast.Constant)
            ]
    return tags


def test_no_two_pin_sites_share_a_tag():
    tags = _pin_tags()
    assert len(tags) >= 14
    assert "dedup.minhash.sigs" in tags and "dedup.incremental.sigs" in tags
    assert sorted(t for t in set(tags) if tags.count(t) > 1) == []


# ---- result frames from driver values


def test_result_frames_from_driver_values_start_no_job(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.create_table("t", "id int, v string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    store.analyze("t", approx=False)
    frames = {
        "vacuum": lambda: sql_ddl.sql(store, "VACUUM t RETAIN 1 VERSIONS"),
        "describe": lambda: sql_ddl.sql(store, "DESCRIBE t"),
        "history": lambda: sql_ddl.sql(store, "DESCRIBE HISTORY t"),
        "show_tables": lambda: sql_ddl.sql(store, "SHOW TABLES"),
        "show_partitions": lambda: sql_ddl.sql(store, "SHOW PARTITIONS t"),
        "stats": lambda: store.stats_df("t"),
        "lookup_many_empty": lambda: store.lookup_many("t", []),
    }
    want = {
        "vacuum": ("dropped_versions int, deleted_files int", None),
        "describe": (
            "col_name string, data_type string, is_key boolean",
            [("id", "int", True), ("v", "string", False)],
        ),
        "history": ("version int, op string, n_files int", None),
        "show_tables": ("tab_name string", [("t",)]),
        "show_partitions": ("partition string, n_files int", None),
        "stats": (
            "col_name string, n_nulls bigint, ndv bigint, "
            "min_val string, max_val string, n_rows bigint",
            [("id", 0, 2, "1", "2", 2), ("v", 0, 2, "a", "b", 2)],
        ),
        "lookup_many_empty": (store.table_meta("t").schema, []),
    }
    for name, build in frames.items():
        rows, n = _jobs(spark, lambda: build().collect())
        ddl, expected = want[name]
        assert n == 0, name
        if isinstance(ddl, str):
            ddl = T.StructType.fromDDL(ddl)
        assert build().schema == ddl, name
        if expected is not None:
            assert [tuple(r) for r in rows] == expected, name
