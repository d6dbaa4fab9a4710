"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (AQE on, skew-join
handling, partition coalescing) while remaining correct on ``local[N]``.
Timezone is pinned to UTC so timestamp semantics are deterministic across
the engine, the Parquet fixtures and the DuckDB oracle (SURVEY.md §7.3
"timestamp precision" hard part).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One BLAS thread per task: Spark already runs one task per core, so
# letting OpenBLAS spawn its own thread pool per Python worker
# oversubscribes 32×32 and thrashes.  Must be set before numpy loads in
# the workers (inherited via the worker environment).
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"

# Tuned for the verification harness (local[32], 128 GiB).  On a real
# cluster these are overridden by spark-submit conf; nothing here assumes
# single-node execution.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive query execution: runtime re-planning, partition coalescing,
    # skew-join splitting — the scale-path backbone.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning: a selective dimension filter
    # injects a bloom filter into the fact-side scan, skipping rows
    # before the shuffle — one of the biggest fact⋈dim wins at 100 TB.
    # Off by default upstream; inert at fixture scale by design (the
    # planner requires a ≥10 GB application side /
    # applicationSideScanSizeThreshold before injecting), so local plans
    # are byte-identical while cluster plans gain the filter.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Deterministic timestamp semantics (see module docstring).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every Python<->JVM exchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep shuffle width bounded on the test harness; AQE coalesces down.
    "spark.sql.shuffle.partitions": "32",
    # ANSI off: the engine mirrors Hive's permissive overflow/parse
    # semantics (reference delegates execution to Hive 1.1, pom.xml:27-32).
    "spark.sql.ansi.enabled": "false",
    # InferFiltersFromGenerate infers `size(arr) > 0` below every
    # explode/posexplode.  When the generator input is an expensive
    # derived array (tokenize→shingle chains here), filter pushdown then
    # substitutes the WHOLE expression into the inferred predicate and
    # sinks it below the pre-tokenize repartition exchange — the corpus
    # is tokenized twice, the first time at input-split (not cluster)
    # parallelism.  Generate with outer=false already skips empty arrays,
    # so the inferred filter is row-count-neutral at every scale; at
    # 100 TB the duplicate evaluation would double the pipeline's
    # dominant cost.  Measured at sf0.1 (r21): shingle-explode
    # materialization 4.7 s → 0.4 s with the rule excluded
    # (OPTIMIZATION_r21.md).
    EXCLUDED_RULES: (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Table-store reads pass a version manifest's file list, and past
    # this many paths Spark lists them in a Spark job with one task per
    # path instead of on the driver.  Measured on a 4-core host (median
    # of 7 point reads over N part files): N=120 job 0.68 s vs driver
    # 0.10 s; N=500 2.56 s vs 0.43 s; N=1000 6.43 s vs 0.66 s.  The
    # driver wins at every size measured, so building a read starts no
    # job up to 10k files.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def merge_excluded_rules(*rule_lists: str | None) -> str:
    """One comma-separated ``excludedRules`` value holding every rule of
    ``rule_lists`` once, in first-seen order (blanks and ``None`` skip)."""
    rules = [
        r.strip() for rl in rule_lists for r in (rl or "").split(",") if r.strip()
    ]
    return ",".join(dict.fromkeys(rules))


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "hivekudu-handler-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults applied."""
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    conf = {**_DEFAULT_CONF, **(extra_conf or {})}
    # excludedRules is ONE comma-separated list: merge the engine's
    # plan-shape exclusion with any rules the caller supplies instead of
    # letting one overwrite the other (r21 ADVICE)
    conf[EXCLUDED_RULES] = merge_excluded_rules(
        _DEFAULT_CONF[EXCLUDED_RULES], conf[EXCLUDED_RULES]
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
