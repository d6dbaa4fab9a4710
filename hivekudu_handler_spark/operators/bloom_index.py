"""Per-file Bloom-filter index for point-lookup file skipping
(SURVEY.md §2.1 keyed lookup, scale extension).

Kudu answers a primary-key point read without scanning: each rowset
carries a Bloom filter of its keys and the scan consults it before
touching data (the reference's lookup path,
``HiveKuduTableInputFormat.java:444-572``, delegates exactly this to the
Kudu client).  A plain parquet lake table laid out by TIME has no such
aid — ``WHERE event_id = k`` must open every file because the per-file
min/max stats of a high-cardinality column laid out on another axis span
the whole domain.  This module rebuilds the Kudu-side structure as a
sidecar table:

* **Build** (one distributed pass, one shuffle of bounded size): read
  ``(file, value)`` via the ``_metadata.file_path`` column, expand each
  value to its K probe positions with ``xxhash64`` (JVM codegen — the
  salt literal varies the hash per probe), and ``collect_set`` the
  positions per file.  Map-side partial aggregation caps what shuffles
  at M distinct positions per file per mapper, so index build cost is a
  scan plus a metadata-sized shuffle regardless of table size; the index
  itself is one row per data file (≤ M ints ≈ 64 KB) — at 100 TB with
  ~10⁶ files that is a ~10-GB table, itself distributed.
* **Lookup**: hash the probe value to its K positions WITH THE SAME JVM
  expression on a 1-row DataFrame (no Python re-implementation of
  xxhash64 to drift out of sync), filter the index for files whose
  position set covers all K (``array_intersect`` — JVM-side over the
  metadata-sized index), and read only those files with the exact
  predicate re-applied.  Bloom filters have no false negatives, so the
  skipped files provably hold no matches; false positives only cost an
  extra file read and are removed by the residual filter.  Expected FP
  rate at the defaults: with n distinct values/file, density
  d = 1-exp(-K*n/M); per-file FP = d^K (≈0.05% for n=300, M=8192, K=4).

The candidate file list is the only driver materialization and is
bounded by the number of files that can contain the value (for a unique
key: true hits + M·FP-rate) — never row data.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hivekudu_handler_spark.operators.ddl import _SCRATCH_ROOT, _materialize, _run_phases
from hivekudu_handler_spark.registry import query
from hivekudu_handler_spark.sources.bloom import K_PROBES, M_BITS, probe_positions
from hivekudu_handler_spark.tables import load_events

# build and lookup share ONE probe-expression definition (sources/bloom.py)
_probe_positions = probe_positions


def bloom_index_frame(spark: SparkSession, data_dir: str, col: str) -> DataFrame:
    """The sidecar as a DataFrame: one row per data file, ``bits`` =
    sorted distinct probe positions of every ``col`` value in the file.
    Exposed separately from the write so tests can pin the plan shape
    (one shuffle, map-side partial ``collect_set``)."""
    src = spark.read.parquet(data_dir).select(
        F.col("_metadata.file_path").alias("file"), F.col(col).alias("__v")
    )
    exploded = src.select(
        "file", F.explode(F.array(*_probe_positions(F.col("__v")))).alias("pos")
    )
    return exploded.groupBy("file").agg(
        F.sort_array(F.collect_set("pos")).alias("bits")
    )


def bloom_index_build(spark: SparkSession, data_dir: str, col: str, index_dir: str) -> None:
    """Write the per-file Bloom sidecar for ``col`` under ``index_dir``."""
    bloom_index_frame(spark, data_dir, col).write.mode("overwrite").parquet(index_dir)


def bloom_index_lookup(
    spark: SparkSession, data_dir: str, index_dir: str, col: str, value
) -> tuple[DataFrame, list[str]]:
    """Point lookup ``col = value`` through the sidecar: returns the
    result DataFrame (exact — the residual filter removes Bloom false
    positives) and the candidate file list that was actually read.

    The probe literal is cast to the COLUMN'S OWN TYPE from the data
    schema before hashing: ``xxhash64`` is physical-type-sensitive
    (``xxhash64(123 AS INT) != xxhash64(123 AS BIGINT)``), so a
    caller-chosen cast that disagreed with the build side would turn
    every probe into a silent false negative — the one failure mode a
    Bloom index must never have."""
    data = spark.read.parquet(data_dir)
    probe_lit = F.lit(value).cast(data.schema[col].dataType)
    probe_row = spark.range(1).select(
        *[p.alias(f"p{i}") for i, p in enumerate(_probe_positions(probe_lit))]
    ).first()
    probe = sorted({probe_row[f"p{i}"] for i in range(K_PROBES)})
    idx = spark.read.parquet(index_dir)
    candidates = [
        r.file
        for r in idx.filter(
            F.size(F.array_intersect("bits", F.array(*[F.lit(p) for p in probe])))
            == len(probe)
        )
        .select("file")
        .collect()
    ]
    if not candidates:
        # no false negatives: an empty candidate set proves zero matches
        return spark.createDataFrame([], data.schema), []
    hit = spark.read.parquet(*candidates).filter(F.col(col) == probe_lit)
    return hit, candidates


def scan_bloom_index_phases(spark: SparkSession, sf_dir: str):
    """Bench phase-split for ``scan_bloom_index``: the scenario wall is
    dominated by the one-time land + index build; the number that
    matters at scale is the PROBE — sidecar filter + candidate-file
    read.  ``operate()`` runs only the lookup against a scaffold built
    here untimed; ``cleanup()`` removes it."""
    _SCRATCH_ROOT.mkdir(exist_ok=True)
    d = Path(tempfile.mkdtemp(prefix="bloom_", dir=_SCRATCH_ROOT))
    try:
        ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "value")
        (
            ev.repartitionByRange(32, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(str(d / "ev"))
        )
        bloom_index_build(spark, str(d / "ev"), "event_id", str(d / "ev_bloom"))
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise

    def operate() -> DataFrame:
        hit, _files = bloom_index_lookup(
            spark, str(d / "ev"), str(d / "ev_bloom"), "event_id", 123
        )
        return hit.select("event_id", "user_id", "value")

    def cleanup() -> None:
        shutil.rmtree(d, ignore_errors=True)

    return operate, cleanup


@query(
    "scan_bloom_index",
    oracle=(
        "SELECT event_id, user_id, value FROM events WHERE event_id = 123"
    ),
    tags=("scan", "scale"),
)
def scan_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index round trip: land ``events`` as 32 time-ordered files
    (the lake layout under which event_id min/max stats are useless),
    build the per-file Bloom sidecar on ``event_id``, and answer a
    point lookup by reading only candidate files — Kudu's key-Bloom
    scan path over plain parquet.  The oracle filters the unindexed
    source; identical rows prove no-false-negative correctness, and
    tests/test_new_surface_r17.py pins that the candidate set is a
    small fraction of the 32 files."""
    return _run_phases(spark, scan_bloom_index_phases, sf_dir)


@query(
    "table_bloom_lookup",
    oracle=(
        "SELECT event_id, user_id FROM events "
        "WHERE user_id = 7 AND event_id % 11 <> 0"
    ),
    tags=("table", "scan", "scale"),
)
def table_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table Bloom index lifecycle through the SQL front-end:
    CREATE BLOOM INDEX on a NON-key column (key lookups already prune
    via the bucket layout; this serves the other columns), mutate the
    table (late inserts + a delete), ALTER ... REBUILD — which hashes
    ONLY the files added since the indexed version (manifest set
    difference, the same delta cost model as the mview refresh) — then
    answer a point read from candidate files only.  The oracle filters
    the fixture's final state; tests/test_new_surface_r17.py pins the
    incremental-refresh file counts and the loud stale-index error."""
    from hivekudu_handler_spark.operators.ddl import _scratch_store
    from hivekudu_handler_spark.sources.sql_ddl import sql as run_sql

    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    store, d = _scratch_store(spark)
    try:
        run_sql(
            store,
            "CREATE TABLE ev (event_id bigint, user_id bigint) "
            "TBLPROPERTIES ('kudu.key_columns'='event_id')",
        )
        store.insert("ev", ev.filter(F.col("event_id") % 3 < 2))
        run_sql(store, "CREATE BLOOM INDEX ON ev (user_id)")
        store.insert("ev", ev.filter(F.col("event_id") % 3 == 2))
        store.delete_where("ev", "event_id % 11 = 0")
        run_sql(store, "ALTER BLOOM INDEX ON ev (user_id) REBUILD")
        hit = store.bloom_lookup("ev", "user_id", 7)
        return _materialize(spark, hit.orderBy("event_id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)
