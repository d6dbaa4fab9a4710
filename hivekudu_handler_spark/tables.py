"""Fixture-table access for the driver-generated star schema.

The reference reads tables through one split per Kudu tablet
(``HiveKuduTableInputFormat.java:149-223``); the Spark-native equivalent is
the Parquet file source whose partition-aligned splits, vectorized reads and
column pruning replace all of that code (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    non-ANSI casts (Hive-style permissive semantics, SURVEY.md §7.3).
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
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
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to ``TimestampType``.

    The fixture has shipped ``ts`` as both TIMESTAMP(NANOS) (rounds 1-3)
    and TIMESTAMP(MICROS); Spark's timestamp is microseconds and its
    Parquet reader rejects nanos outright, so keep the legacy conf that
    surfaces nanos as raw int64 and branch on the type that actually
    arrives.  Either way the result is session-zone ``TimestampType`` at
    microsecond precision — matching ``EVENTS_US_CTE`` on the DuckDB side.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", ts_to_micros(df))


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
