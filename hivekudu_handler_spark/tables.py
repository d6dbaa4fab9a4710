"""Fixture-table access for the driver-generated star schema.

The reference reads tables through one split per Kudu tablet
(``HiveKuduTableInputFormat.java:149-223``); the Spark-native equivalent is
the Parquet file source whose partition-aligned splits, vectorized reads and
column pruning replace all of that code (SURVEY.md §2.1).

The reference never reads data to learn a schema: its SerDe takes the
declared ``columns``/``columns.types`` (``HiveKuduSerDe.java:62-74``).
``spark.read.parquet(path)`` without a schema starts one Spark job to merge
footers on every call, so every fixture read goes through
:func:`read_fixture`, which infers a path's schema once and hands the cached
``StructType`` to ``spark.read.schema``.  The memo key is the path, each
leaf file's name, size and ``mtime_ns``, and the session confs that change
how Parquet types map (:data:`_SCHEMA_CONFS`): a rewritten file or a changed
conf infers again.  A rewrite that keeps both the size and the ``mtime_ns``
of every file is not detected.  :func:`embedding_width` memoizes the
embeddings' vector width under the same key.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hivekudu_handler_spark.session import (
    _DEFAULT_CONF,
    EXCLUDED_RULES,
    merge_excluded_rules,
)

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})


# DuckDB CTE aligning events.ts to the microsecond precision Spark uses
# internally; pair with load_events().  CAST to plain TIMESTAMP is identity
# for a TIMESTAMP(MICROS) parquet and truncation for TIMESTAMP(NANOS) —
# matching load_events() under either fixture vintage.
EVENTS_US_CTE = "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the confs the engine's semantics depend on, at query time.

    The verification driver (and any embedding application) builds its own
    SparkSession; these are runtime-settable, so setting them here makes
    every query self-contained: UTC timestamps (oracle comparisons),
    non-ANSI casts (Hive-style permissive semantics, SURVEY.md §7.3), and
    Parquet TIMESTAMP(NANOS) read as int64 (:func:`load_events`).  Set
    once here rather than by each events reader, so a fixture read's
    schema-memo key is the same before and after the first events read.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by host
            pass
    # plan-shape pin, not semantics: InferFiltersFromGenerate duplicates
    # expensive generator-input expressions below the pre-tokenize
    # exchange (see session.py for the measurement); runtime-settable, so
    # queries keep the fixed shape under an embedding application's own
    # session too.  APPEND to the session's list rather than SET (r21
    # ADVICE): the conf is one comma-separated list, and overwriting it
    # clobbered any exclusions the embedding application configured.
    try:
        current = spark.conf.get(EXCLUDED_RULES, None)
    except Exception:  # pragma: no cover - conf locked by host
        current = None
    merged = merge_excluded_rules(current, _DEFAULT_CONF[EXCLUDED_RULES])
    if merged != current:
        try:
            spark.conf.set(EXCLUDED_RULES, merged)
        except Exception:  # pragma: no cover - conf locked by host
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table: {name!r}")
    ensure_session_confs(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return read_fixture(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to ``TimestampType``.

    The fixture has shipped ``ts`` as both TIMESTAMP(NANOS) (rounds 1-3)
    and TIMESTAMP(MICROS); Spark's timestamp is microseconds and its
    Parquet reader rejects nanos outright, so :func:`ensure_session_confs`
    pins the legacy conf that surfaces nanos as raw int64, and this
    branches on the type that actually arrives.  Either way the result is
    session-zone ``TimestampType`` at microsecond precision — matching
    ``EVENTS_US_CTE`` on the DuckDB side.
    """
    ensure_session_confs(spark)
    df = read_fixture(spark, f"{sf_dir}/events.parquet")
    return df.withColumn("ts", ts_to_micros(df))


# session confs that change which Spark type a Parquet footer field maps
# to, plus mergeSchema, which changes the columns a multi-file read has
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# (path, confs) -> (listing, value): one entry per path and conf setting
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_WIDTHS: dict[tuple, tuple[tuple, int]] = {}


def _listing(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` of every file under ``path`` (the path
    itself when it is a file), sorted; None when the driver cannot stat
    it (a remote filesystem), which disables the memo."""
    try:
        top = os.stat(path)
        if not stat.S_ISDIR(top.st_mode):
            return ((path, top.st_size, top.st_mtime_ns),)
        out = []
        for root, _, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                out.append((rel, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(out))


def _fixture_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of a fixture read: ``((path, confs), listing)``."""
    listing = _listing(path)
    if listing is None:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    return (path, confs), listing


def _memo(table: dict, key: tuple | None, compute: Callable):
    """``compute()`` once per unchanged key; a new listing replaces the
    path's entry instead of adding one.  Two threads may both compute
    one value; each dict access is atomic, so either result may stay."""
    if key is None:
        return compute()
    slot, listing = key
    held = table.get(slot)
    if held is not None and held[0] == listing:
        return held[1]
    value = compute()
    table[slot] = (listing, value)
    return value


def read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark
    job) only the first time an unchanged path is read."""
    schema = _memo(
        _SCHEMAS, _fixture_key(spark, path), lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def embedding_width(spark: SparkSession, sf_dir: str) -> int:
    """Length of the embeddings fixture's first vector, probed with one
    ``first()`` per unchanged fixture listing."""
    return _memo(
        _WIDTHS,
        _fixture_key(spark, f"{sf_dir}/embeddings.parquet"),
        lambda: len(
            load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .first()["embedding"]
        ),
    )


def ts_to_micros(df: DataFrame):
    """Column expression converting ``ts`` to microsecond TimestampType.

    Int64 means a nanos parquet read under ``nanosAsLong`` (truncate to
    micros); a timestamp (NTZ or LTZ) is already micros — cast pins the
    session-zone TimestampType the engine's schema contract promises.
    Public: the streaming fixture runners normalize their readStream
    sources with this same expression (r4 ADVICE).
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return F.expr("timestamp_micros(ts div 1000)")
    return F.col("ts").cast("timestamp")


class Tables:
    """Lazy accessor: ``Tables(spark, sf_dir).lineitem`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]
