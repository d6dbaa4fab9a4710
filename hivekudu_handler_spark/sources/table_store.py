"""Managed keyed-table layer: the Spark-native replacement for the
reference's storage-handler + metastore-hook + output-format stack.

Semantics replicated from the reference (with file:line cites):

* managed-only tables — CREATE creates storage, DROP deletes it
  (``KuduStorageHandler.java:224-278`` create, ``:292-310`` drop);
  external tables and explicit LOCATION are rejected (``:230-237``).
* failed creates roll back by deleting the storage
  (``KuduStorageHandler.java:313-330``).
* declared schema with mandatory key columns; key columns non-nullable,
  non-key nullable (``KuduStorageHandler.java:242-258``).
* strict type whitelist (``HiveKuduBridgeUtils.java:36-68``) via
  :mod:`hivekudu_handler_spark.typesys`.
* INSERT silently ignores duplicate keys — Kudu session configured with
  ``setIgnoreAllDuplicateRows(true)`` (``HiveKuduTableOutputFormat.java:101``).
  Here: batch-internal dedup on key + anti-join against existing keys.
* UPSERT/DELETE were declared goals of the reference, unimplemented
  (``HiveKuduTableOutputFormat.java:175-176``, ``doc/DesignDocument.md:9``);
  we implement them with PK merge semantics (SURVEY.md §7 M3).

Scale design: tables are laid out as key-partitioned directories — the
Spark analogue of Kudu's tablets (``HiveKuduTableInputFormat.java:
166-217``), in either of Kudu's two partitioning schemes:

* **hash** (default): ``kb=<n>`` directories, ``pmod(xxhash64(key), B)``
  — uniform write spread, point-lookup pruning to one bucket.
* **range** (``range_splits=[...]``): ``kr=<i>`` ordered key-range
  directories split on the first key column (Kudu's range-partitioned
  tablets — the reference's declared partitioning goal,
  ``doc/DesignDocument.md:8``, TODO at ``KuduStorageHandler.java:266``).
  Range scans prune to only the directories the interval intersects
  (:meth:`scan_range`), which hash buckets structurally cannot do (a
  time-range query over a hash layout reads every bucket); rows are
  sorted on the range key within each directory so Parquet row-group
  min/max stats prune further inside it.

Either way every mutation touches only the tablets its keys land in:

* INSERT adds new files to affected buckets (existing files are never
  rewritten; dup-key checks anti-join only the affected buckets' rows via
  partition pruning).
* UPSERT/DELETE rewrite only the affected tablets; untouched tablets keep
  their files — O(batch + affected buckets) I/O instead of O(table) write
  amplification per mutation.
* INSERT OVERWRITE is the one whole-table op by definition.

On a cluster the same code paths run unchanged; per-bucket file lists and
bucket ids (bounded by the bucket count, never by data volume) are the
only driver-side state.

**Storage vs metadata** (Kudu's ``READ_AT_SNAPSHOT`` scan mode — the
scanner the reference builds at ``HiveKuduTableInputFormat.java:449-517``
reads through exactly this Kudu MVCC layer).  Data files live under ONE
root, ``data/``, and never move or change once committed; the numbered
version manifests (``versions/v<N>.json``, each the full data-relative
file list of its version) alone decide what a reader sees.  A write
stages its Spark output in a directory private to that writer, moves
the new part files into ``data/`` once (part names embed a per-write
UUID, so they never collide), and commits ``v<base+1>`` = the base
manifest's files, minus those of the tablets it replaces, plus the ones
it added.  The manifest is created exclusively, so of two writers from
the same base exactly one commits and the other gets
:class:`CommitConflict`; a writer that dies before its commit leaves
only unlisted files.  Every read — current state, as-of, diff,
changefeed, bloom sidecar — is a read of one manifest's file list with
``basePath=data/`` (:meth:`TableStore._read_files`), so a reader sees
exactly one committed version.  ``diff()`` is Kudu's *diff scan*
(key-level changes between two snapshots, the incremental-backup
primitive); ``vacuum()`` is Kudu's ancient-history mark
(``--tablet_history_max_age_sec``): drop manifests older than the last
*K* and delete the files in ``data/`` that no kept manifest lists.
Manifests are O(files), written once per mutation — no per-row
versioning cost.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hivekudu_handler_spark import typesys


class TableStoreError(RuntimeError):
    pass


NOT_NULL_MSG_PREFIX = "NOT NULL constraint violated: column "


class TableExistsError(TableStoreError):
    pass


class NoSuchTableError(TableStoreError):
    pass


class CommitConflict(TableStoreError):
    """Another writer committed the version after this write's base
    first; nothing of this write is visible (re-run it)."""


@dataclass
class TableMeta:
    name: str
    schema: T.StructType
    key_columns: list[str]
    extended: bool = False
    partition_by: list[str] | None = None
    external: bool = False
    location: str | None = None
    # sorted split points on the FIRST key column; N splits make N+1
    # half-open ranges (-inf, s0), [s0, s1), ..., [sN-1, inf) — Kudu's
    # range-partition bounds model.  None = hash-bucketed layout.
    range_splits: list | None = None
    # hash buckets nested INSIDE each range (kr=<i>/kb=<j> — Kudu's
    # composite hash×range tablet scheme); None = range-only layout.
    # Only meaningful together with range_splits.
    hash_in_range: int | None = None
    # per-table hash-bucket count override (None = the store default);
    # set at CREATE or by rebucket() — partition evolution for a table
    # whose write volume outgrew its original layout
    num_buckets: int | None = None
    # ALTER TABLE support (Kudu AlterTableRequest parity): columns carry a
    # stable PHYSICAL name (what parquet footers store) separate from the
    # logical schema name, so RENAME COLUMN is metadata-only and DROP +
    # re-ADD of a name can never resurrect old bytes.  `physical` maps
    # logical → physical only where they differ; `used_physical` records
    # every physical name ever assigned (current + retired) so new
    # columns always get a collision-free physical name.
    physical: dict | None = None
    used_physical: list | None = None
    # non-key column DEFAULT expressions (logical name -> SQL literal
    # text), applied when a column-list INSERT omits the column — Kudu
    # columns carry read/write defaults the same way
    defaults: dict | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "schema": self.schema.jsonValue(),
                "key_columns": self.key_columns,
                "extended": self.extended,
                "partition_by": self.partition_by,
                "external": self.external,
                "location": self.location,
                "range_splits": self.range_splits,
                "hash_in_range": self.hash_in_range,
                "num_buckets": self.num_buckets,
                "physical": self.physical,
                "used_physical": self.used_physical,
                "defaults": self.defaults,
            }
        )

    @staticmethod
    def from_json(s: str) -> "TableMeta":
        d = json.loads(s)
        return TableMeta(
            name=d["name"],
            schema=T.StructType.fromJson(d["schema"]),
            key_columns=list(d["key_columns"]),
            extended=bool(d.get("extended", False)),
            partition_by=d.get("partition_by"),
            external=bool(d.get("external", False)),
            location=d.get("location"),
            range_splits=d.get("range_splits"),
            hash_in_range=d.get("hash_in_range"),
            num_buckets=d.get("num_buckets"),
            physical=d.get("physical"),
            used_physical=d.get("used_physical"),
            defaults=d.get("defaults"),
        )

    def phys_name(self, logical: str) -> str:
        return (self.physical or {}).get(logical, logical)


class TableStore:
    """A warehouse of managed, primary-keyed Parquet tables."""

    def __init__(
        self, spark: SparkSession, warehouse_dir: str, num_buckets: int = 4
    ):
        self.spark = spark
        self.root = Path(warehouse_dir)
        self.root.mkdir(parents=True, exist_ok=True)
        # hash-bucket count for tables without range_splits (the knob was
        # misleadingly named range_partitions through r5; it always was
        # the hash fan-out — real range partitioning is range_splits)
        self.num_buckets = num_buckets
        # materialized segmented-changefeed reads, keyed
        # (table, from_version, to_version, segment_commits) — a fixed
        # committed range is immutable, so re-issued deep CHANGES
        # BETWEEN reads serve the checkpointed blocks (see
        # changefeed_segmented); entries drop on DROP TABLE and VACUUM
        self._segfeed_cache: dict[tuple, DataFrame] = {}

    # ------------------------------------------------------------------ paths
    @staticmethod
    def _norm_name(name: str) -> str:
        """Hive semantics: table identifiers are case-insensitive (the
        metastore stores them lowercased) — the reference's golden script
        itself mixes ``test_drop`` and ``test_Drop`` (``README.md:39,43``)."""
        return name.lower()

    def _dir(self, name: str) -> Path:
        return self.root / self._norm_name(name)

    def _data_dir(self, name: str) -> Path:
        return self._dir(name) / "data"

    def _meta_path(self, name: str) -> Path:
        return self._dir(name) / "meta.json"

    # ------------------------------------------------------------------- DDL
    def create_table(
        self,
        name: str,
        schema: T.StructType | str,
        key_columns: list[str],
        *,
        external: bool = False,
        location: str | None = None,
        extended: bool = False,
        partition_by: list[str] | None = None,
        range_splits: list | None = None,
        hash_in_range: int | None = None,
        num_buckets: int | None = None,
        defaults: dict[str, str] | None = None,
        respect_nullability: bool | None = None,
    ) -> TableMeta:
        """CREATE TABLE with mandatory key columns (managed only).

        ``num_buckets`` overrides the store-wide hash-bucket count for
        this table (Kudu's per-table ``PARTITION BY HASH PARTITIONS n``);
        :meth:`rebucket` evolves it later.

        ``external``/``location`` exist so callers hit the same rejections
        the reference enforces (``KuduStorageHandler.java:230-237``).
        ``partition_by`` implements the reference's declared-but-unbuilt
        partitioning goal (``KuduStorageHandler.java:266`` TODO,
        ``doc/DesignDocument.md:8,37-39``) as hive-style directory
        partitioning, giving scans partition pruning on those columns.
        ``range_splits`` selects Kudu's OTHER tablet scheme — key-range
        partitioning on the first key column: strictly-increasing split
        points making half-open ranges, each a ``kr=<i>`` directory that
        :meth:`scan_range` prunes against (hash buckets cannot serve a
        range predicate without reading every bucket).  ``hash_in_range``
        adds Kudu's COMPOSITE scheme: that many hash buckets nested
        inside each range (``kr=<i>/kb=<j>`` leaf tablets), bounding
        per-range file sizes and write parallelism while keeping range
        pruning — a time-partitioned event table at 100 TB wants both.
        """
        if external:
            raise TableStoreError(
                "external tables are not supported by the managed table layer"
            )
        if location is not None:
            raise TableStoreError("LOCATION may not be specified for a managed table")
        if name.startswith("__"):
            # the __ namespace is reserved for engine-internal temp views
            # (__tt_* time-travel bindings, the __merge_claims column's
            # precedent): a user table there could be clobbered
            # mid-statement by a rewrite binding
            raise TableStoreError(
                f"table names starting with '__' are reserved: {name!r}"
            )
        from_ddl_text = isinstance(schema, str)
        if from_ddl_text:
            schema, parsed_defaults = self._parse_ddl_schema(schema)
            # DDL-text attributes and the explicit kwarg merge; the
            # kwarg wins on conflict (it is the more deliberate spelling)
            defaults = {**parsed_defaults, **(defaults or {})}
        if self._meta_path(name).exists() or self._view_path(name).exists():
            raise TableExistsError(f"table or view {name!r} already exists")
        # NOT NULL survives only from DDL text, where it is deliberate;
        # StructType schemas (CTAS results, parquet discovery) carry
        # incidental non-nullability that must not become a constraint.
        # respect_nullability=True overrides for callers whose StructType
        # flags ARE deliberate (CREATE TABLE LIKE copying another
        # managed table's definition).
        normalized = typesys.validate_schema(
            schema,
            key_columns,
            allow_extended=extended,
            respect_nullability=(
                from_ddl_text
                if respect_nullability is None
                else respect_nullability
            ),
        )
        if partition_by:
            known = {f.name for f in normalized.fields}
            missing = [c for c in partition_by if c not in known]
            if missing:
                raise TableStoreError(f"unknown partition columns: {missing}")
        if range_splits is not None:
            range_splits = self._validate_splits(
                normalized, list(key_columns), range_splits
            )
        if hash_in_range is not None:
            if range_splits is None:
                raise TableStoreError(
                    "hash_in_range nests hash buckets inside key ranges: "
                    "it requires range_splits (a hash-only table uses the "
                    "store-level bucket count)"
                )
            if not isinstance(hash_in_range, int) or hash_in_range < 2:
                raise TableStoreError(
                    f"hash_in_range must be an int >= 2, got {hash_in_range!r}"
                )
        if num_buckets is not None and (
            not isinstance(num_buckets, int) or num_buckets < 1
        ):
            raise TableStoreError(
                f"num_buckets must be a positive int, got {num_buckets!r}"
            )
        if defaults:
            known = {f.name for f in normalized.fields}
            bad = sorted(set(defaults) - known)
            if bad:
                raise TableStoreError(f"DEFAULT on unknown column(s): {bad}")
            keyed = sorted(set(defaults) & set(key_columns))
            if keyed:
                # a defaulted key invites INSERTs that omit identity —
                # Kudu likewise requires the full PK on every write
                raise TableStoreError(
                    f"DEFAULT not allowed on key column(s): {keyed}"
                )
            types = {f.name: f.dataType for f in normalized.fields}
            for c, expr_text in defaults.items():
                # evaluate once against the declared type at CREATE so a
                # mistyped default fails HERE, not as a silent NULL (or
                # a baffling NOT NULL error) at first INSERT
                try:
                    val = (
                        self.spark.range(1)
                        .select(F.expr(expr_text).cast(types[c]).alias("v"))
                        .first()
                        .v
                    )
                except Exception as exc:
                    raise TableStoreError(
                        f"cannot evaluate DEFAULT for {c!r}: {expr_text!r}"
                    ) from exc
                if val is None and expr_text.strip().upper() != "NULL":
                    raise TableStoreError(
                        f"DEFAULT for {c!r} does not evaluate to a "
                        f"{types[c].simpleString()}: {expr_text!r}"
                    )
        meta = TableMeta(
            self._norm_name(name),
            normalized,
            list(key_columns),
            extended,
            partition_by or None,
            range_splits=range_splits,
            hash_in_range=hash_in_range,
            num_buckets=num_buckets,
            defaults=dict(defaults) if defaults else None,
        )
        try:
            self._dir(name).mkdir(parents=True, exist_ok=True)
            self._data_dir(name).mkdir(parents=True, exist_ok=True)
            self._meta_path(name).write_text(meta.to_json())
            self._commit_version(meta, None, "create", [])
        except Exception:
            # rollback mirrors KuduStorageHandler.java:313-330
            shutil.rmtree(self._dir(name), ignore_errors=True)
            raise
        return meta

    def attach_external(
        self, name: str, path: str, key_columns: list[str]
    ) -> TableMeta:
        """Attach existing Parquet storage as an external table, with
        schema auto-discovered from the files themselves.

        The reference *rejected* external tables
        (``KuduStorageHandler.java:230-237``) but declared attach-existing
        -storage a design goal (``doc/DesignDocument.md:5-6``); in Spark
        it is free — Parquet is self-describing, so the discovered schema
        is validated against the same type lattice as a declared one.
        External semantics: read-only through this layer (mutations are
        rejected), and DROP removes only the catalog entry, never the
        storage."""
        if self._meta_path(name).exists() or self._view_path(name).exists():
            raise TableExistsError(f"table or view {name!r} already exists")
        try:
            discovered = self.spark.read.parquet(path).schema
        except Exception as exc:  # no files / unreadable path
            raise TableStoreError(
                f"cannot discover schema for external table at {path!r}: {exc}"
            ) from exc
        normalized = typesys.validate_schema(
            discovered, key_columns, allow_extended=True
        )
        meta = TableMeta(
            self._norm_name(name),
            normalized,
            list(key_columns),
            extended=True,
            external=True,
            location=str(path),
        )
        try:
            self._dir(name).mkdir(parents=True, exist_ok=True)
            self._meta_path(name).write_text(meta.to_json())
        except Exception:
            shutil.rmtree(self._dir(name), ignore_errors=True)
            raise
        return meta

    @staticmethod
    def _parse_ddl_schema(ddl: str) -> tuple[T.StructType, dict[str, str]]:
        """Parse ``"id int, name string"`` via the reference's Hive-name
        lattice (rejects anything outside typesys.HIVE_TO_SPARK).

        Column attributes (Kudu column schema parity): ``NOT NULL``
        marks the field non-nullable — enforced at write time with a
        loud error — and ``DEFAULT <literal>`` records the expression a
        column-list INSERT fills in when the column is omitted.
        Returns ``(schema, defaults)``."""
        from hivekudu_handler_spark.sources.sql_lex import sql_char_states

        fields = []
        defaults: dict[str, str] = {}
        depth = 0
        token = ""
        parts: list[str] = []
        # shared lexer: a comma inside a DEFAULT literal (either quote
        # style, escapes honored) is content, not a column separator
        for ch, state in zip(ddl, sql_char_states(ddl)):
            if state == "comment":
                continue
            if state == "code":
                if ch == "," and depth == 0:
                    parts.append(token)
                    token = ""
                    continue
                depth += ch in "(<"
                depth -= ch in ")>"
            token += ch
        if token.strip():
            parts.append(token)
        for part in parts:
            text = part.strip()
            nullable = True
            # both SQL attribute orders are valid: 'NOT NULL DEFAULT x'
            # and 'DEFAULT x NOT NULL' — strip a trailing NOT NULL
            # before AND after the DEFAULT capture
            nn = re.search(r"\s+NOT\s+NULL$", text, re.IGNORECASE)
            if nn:
                nullable = False
                text = text[: nn.start()].rstrip()
            dm = re.search(r"\s+DEFAULT\s+(?P<expr>.+)$", text, re.IGNORECASE)
            default = None
            if dm:
                default = dm.group("expr").strip()
                text = text[: dm.start()].rstrip()
            nn = re.search(r"\s+NOT\s+NULL$", text, re.IGNORECASE)
            if nn:
                nullable = False
                text = text[: nn.start()].rstrip()
            col, _, typ = text.partition(" ")
            fields.append(
                T.StructField(col, typesys.resolve_hive_type(typ), nullable)
            )
            if default is not None:
                defaults[col] = default
        return T.StructType(fields), defaults

    def drop_table(self, name: str) -> None:
        """DROP TABLE deletes storage for managed tables
        (``KuduStorageHandler.java:292-310``); for external tables only
        the catalog entry is removed — the storage is not ours."""
        self.table_meta(name)  # raises NoSuchTableError if absent
        dependents = sorted(
            set(self._views_referencing(name))
            | set(self._views_broken_without(name))
        ) + self._mviews_on(name)
        if dependents:
            # a dangling view would poison every later register_views()
            # (Hive likewise refuses without CASCADE)
            raise TableStoreError(
                f"cannot drop {name!r}: referenced by view(s) {dependents}"
            )
        # the table dir holds only meta.json for external tables, so this
        # removes the catalog entry for both kinds and data only for managed
        shutil.rmtree(self._dir(name))
        # a stale session temp view would keep serving the dropped table's
        # last file listing
        self.spark.catalog.dropTempView(self._norm_name(name))
        self._invalidate_segfeeds(name)

    def _invalidate_segfeeds(self, name: str) -> None:
        """Drop (and best-effort unpersist) cached segmented-changefeed
        reads of ``name`` — called on DROP TABLE and VACUUM."""
        norm = self._norm_name(name)
        for key in [k for k in self._segfeed_cache if k[0] == norm]:
            df = self._segfeed_cache.pop(key)
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped / blocks already freed

    def table_meta(self, name: str) -> TableMeta:
        if not self._meta_path(name).exists():
            raise NoSuchTableError(f"no such table: {name!r}")
        return TableMeta.from_json(self._meta_path(name).read_text())

    def list_tables(self) -> list[str]:
        return sorted(p.name for p in self.root.iterdir() if (p / "meta.json").exists())

    def has_table(self, name: str) -> bool:
        """Whether a managed table ``name`` exists — the public
        membership probe (case-folded like every identifier) so callers
        never reach into ``_meta_path``/``_norm_name``."""
        return self._meta_path(self._norm_name(name)).exists()

    def describe(self, name: str) -> DataFrame:
        """DESCRIBE as a DataFrame of (col_name, data_type, is_key)."""
        meta = self.table_meta(name)
        rows = [
            (f.name, f.dataType.simpleString(), f.name in meta.key_columns)
            for f in meta.schema.fields
        ]
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, is_key boolean"
        )

    # ------------------------------------------------------------ STATS
    def _stats_path(self, name: str) -> Path:
        return self._dir(name) / "stats.json"

    def analyze(self, name: str, approx: bool = True) -> dict:
        """ANALYZE TABLE — Hive's ``compute_stats`` analogue over a
        managed table: table row count plus per-column null count, NDV,
        and min/max.  ONE aggregate pass over the scan (every statistic
        is an ordinary partial/final agg expression — the full profile
        costs the same single shuffle as a COUNT(*) however many columns
        the table has).

        ``approx=True`` (the 100 TB default) uses HyperLogLog++ for NDV —
        fixed-size mergeable sketches, no per-column distinct expand;
        ``approx=False`` is the exact, oracle-checkable variant for
        audits.  min/max aggregate on the NATIVE type and cast to string
        only afterwards (casting first would make "10" < "9").

        The profile is persisted to a ``stats.json`` sidecar (schema
        metadata stays in meta.json — stats are advisory, schemas are
        contracts) and returned; ``stats_df`` renders the tidy form.
        Lifecycle: any DATA mutation drops the sidecar (Hive's
        stale-stats rule — see ``_commit_version``); metadata-only
        ALTERs keep it consistent instead (renames remap, drops remove
        the entry, added columns are unprofiled until the next analyze).
        The single stats row collected driver-side is model state
        (one row of ~4×|columns| scalars), not data.
        """
        meta = self.table_meta(name)
        df = self.scan(name)
        ndv = F.approx_count_distinct if approx else F.count_distinct
        exprs = [F.count(F.lit(1)).alias("__n_rows")]
        for f in meta.schema.fields:
            c = f.name
            exprs.append(F.count(c).alias(f"nn__{c}"))
            exprs.append(ndv(c).alias(f"ndv__{c}"))
            exprs.append(F.min(c).cast("string").alias(f"min__{c}"))
            exprs.append(F.max(c).cast("string").alias(f"max__{c}"))
        row = df.agg(*exprs).collect()[0]
        stats = {
            "n_rows": row["__n_rows"],
            "approx": approx,
            "columns": {
                f.name: {
                    "n_nulls": row["__n_rows"] - row[f"nn__{f.name}"],
                    "ndv": row[f"ndv__{f.name}"],
                    "min": row[f"min__{f.name}"],
                    "max": row[f"max__{f.name}"],
                }
                for f in meta.schema.fields
            },
        }
        self._stats_path(name).write_text(json.dumps(stats))
        return stats

    def stats_df(self, name: str) -> DataFrame:
        """The persisted profile in tidy form: one row per column,
        (col_name, n_nulls, ndv, min_val, max_val, n_rows).  Raises if
        ``analyze`` has not been run (stats are explicit, as in Hive)."""
        path = self._stats_path(name)
        if not path.exists():
            raise TableStoreError(
                f"no statistics for table {name!r}; run analyze() first"
            )
        stats = json.loads(path.read_text())
        meta = self.table_meta(name)
        rows = [
            (
                c,
                s["n_nulls"],
                s["ndv"],
                s["min"],
                s["max"],
                stats["n_rows"],
            )
            for c, s in stats["columns"].items()
        ]
        # schema order, not dict order, for a deterministic render
        order = {f.name: i for i, f in enumerate(meta.schema.fields)}
        rows.sort(key=lambda r: order.get(r[0], len(order)))
        return self.spark.createDataFrame(
            rows,
            "col_name string, n_nulls bigint, ndv bigint, "
            "min_val string, max_val string, n_rows bigint",
        )

    def join_with_stats(
        self,
        left: str,
        right: str,
        on,
        how: str = "inner",
        broadcast_threshold_rows: int = 1_000_000,
    ) -> DataFrame:
        """Stats-driven join of two managed tables: the cost-based use of
        the ``analyze`` profiles.  Spark's own broadcast decision reads
        file-size estimates, which file-format compression distorts and
        post-filter selectivity invalidates; the analyzed ROW COUNT is the
        better signal a warehouse keeps (Hive CBO joins off exactly these
        metastore stats).  The smaller side gets a broadcast hint when its
        analyzed count is under the threshold; with no stats on either
        side the join is left to Spark's estimates (hint-free).  The hint
        is advisory — Catalyst still owns the physical plan — so a stale
        sidecar can waste memory but never change results.
        """

        def n_rows(name: str) -> int | None:
            path = self._stats_path(name)
            if not path.exists():
                return None
            return json.loads(path.read_text())["n_rows"]

        l, r = self.scan(left), self.scan(right)
        ln, rn = n_rows(left), n_rows(right)
        sides = [(ln, "l"), (rn, "r")]
        known = [(n, s) for n, s in sides if n is not None]
        if known:
            n, side = min(known)
            other = ln if side == "r" else rn
            # broadcast the smaller KNOWN side only if it is small enough
            # and not known to be the bigger one
            if n <= broadcast_threshold_rows and (other is None or n <= other):
                if side == "l":
                    l = F.broadcast(l)
                else:
                    r = F.broadcast(r)
        return l.join(r, on, how)

    def _remap_stats(
        self, name: str, rename: dict[str, str] | None = None,
        drop: str | None = None,
    ) -> None:
        """Keep the ANALYZE sidecar consistent through metadata-only
        ALTERs: renames remap the profile key (the data did not change),
        drops remove the ghost entry; added columns simply have no
        profile until the next ``analyze`` (``stats_df`` renders only
        profiled columns).  ``n_rows`` stays valid throughout, so
        ``join_with_stats`` keeps its signal across schema evolution."""
        path = self._stats_path(name)
        if not path.exists():
            return
        stats = json.loads(path.read_text())
        cols = stats.get("columns", {})
        for old, new in (rename or {}).items():
            if old in cols:
                cols[new] = cols.pop(old)
        if drop is not None:
            cols.pop(drop, None)
        path.write_text(json.dumps(stats))

    # ------------------------------------------------------------ ALTER
    def _write_meta(self, meta: TableMeta) -> None:
        self._meta_path(meta.name).write_text(meta.to_json())

    def _alterable_meta(self, name: str) -> TableMeta:
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                "external tables are unmanaged: ALTER is not supported"
            )
        return meta

    def _fresh_physical(self, meta: TableMeta, logical: str) -> str:
        """A physical name never used by this table: the logical name if
        free, else ``<logical>__v<k>``.  Prevents a re-added column from
        resurrecting bytes an earlier same-named column left in old
        files (Kudu semantics: dropped data is gone)."""
        used = set(meta.used_physical or self._init_used(meta))
        if logical not in used:
            return logical
        k = 2
        while f"{logical}__v{k}" in used:
            k += 1
        return f"{logical}__v{k}"

    def add_column(self, name: str, col_name: str, hive_type: str) -> TableMeta:
        """ALTER TABLE ADD COLUMN (Kudu AlterTableRequest add_column;
        Kudu new columns are nullable non-key).  Metadata-only: existing
        files simply lack the physical column and read as NULL."""
        meta = self._alterable_meta(name)
        if any(f.name == col_name for f in meta.schema.fields):
            raise TableStoreError(f"column {col_name!r} already exists")
        dtype = typesys.resolve_hive_type(hive_type)
        used = set(meta.used_physical or self._init_used(meta))
        phys = self._fresh_physical(meta, col_name)
        meta.schema = T.StructType(
            list(meta.schema.fields)
            + [T.StructField(col_name, dtype, nullable=True)]
        )
        meta.used_physical = sorted(used | {phys})
        if phys != col_name:
            meta.physical = {**(meta.physical or {}), col_name: phys}
        self._write_meta(meta)
        return meta

    def drop_column(self, name: str, col_name: str) -> TableMeta:
        """ALTER TABLE DROP COLUMN (non-key, non-partition).  Metadata
        only — the physical bytes stay in old files, unreadable (the
        physical name is retired), and disappear physically at the next
        compaction/rewrite of each bucket."""
        meta = self._alterable_meta(name)
        if col_name in meta.key_columns:
            raise TableStoreError(f"cannot drop key column {col_name!r}")
        if col_name in (meta.partition_by or []):
            raise TableStoreError(
                f"cannot drop partition column {col_name!r}"
            )
        if not any(f.name == col_name for f in meta.schema.fields):
            raise TableStoreError(f"no such column: {col_name!r}")
        phys = meta.phys_name(col_name)
        meta.used_physical = sorted(
            set(
                meta.used_physical
                or [meta.phys_name(f.name) for f in meta.schema.fields]
            )
        )
        meta.schema = T.StructType(
            [f for f in meta.schema.fields if f.name != col_name]
        )
        if meta.physical and col_name in meta.physical:
            meta.physical = {
                k: v for k, v in meta.physical.items() if k != col_name
            }
        if meta.defaults and col_name in meta.defaults:
            # a dropped column's DEFAULT must not resurrect on a future
            # same-named ADD COLUMN
            meta.defaults = {
                k: v for k, v in meta.defaults.items() if k != col_name
            } or None
        self._write_meta(meta)
        self._remap_stats(name, drop=col_name)
        # standard SQL: dropping an indexed column drops its index
        self._drop_bloom_index_if_any(meta.name, col_name)
        return meta

    def rename_column(self, name: str, old: str, new: str) -> TableMeta:
        """ALTER TABLE RENAME COLUMN (Kudu rename_column) — metadata
        only: the logical name changes, the stable physical name in the
        files does not."""
        meta = self._alterable_meta(name)
        if not any(f.name == old for f in meta.schema.fields):
            raise TableStoreError(f"no such column: {old!r}")
        if any(f.name == new for f in meta.schema.fields):
            raise TableStoreError(f"column {new!r} already exists")
        if old in (meta.partition_by or []):
            raise TableStoreError(
                f"cannot rename partition column {old!r} (directory layout)"
            )
        phys = meta.phys_name(old)
        used = set(meta.used_physical or self._init_used(meta))
        meta.schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in meta.schema.fields
            ]
        )
        mapping = {k: v for k, v in (meta.physical or {}).items() if k != old}
        if phys != new:
            mapping[new] = phys
        meta.physical = mapping or None
        meta.used_physical = sorted(used | {phys})
        meta.key_columns = [new if k == old else k for k in meta.key_columns]
        if meta.defaults and old in meta.defaults:
            meta.defaults = {
                (new if k == old else k): v for k, v in meta.defaults.items()
            }
        self._write_meta(meta)
        self._remap_stats(name, rename={old: new})
        # a bloom index follows its column across renames: sidecar rows
        # are file-keyed and hash the stable PHYSICAL column, so only the
        # index's own names move — no rehash
        old_ipath = self._bloom_meta_path(meta.name, old)
        if old_ipath.exists():
            imeta = json.loads(old_ipath.read_text())
            imeta["col"] = new
            self._bloom_meta_path(meta.name, new).write_text(json.dumps(imeta))
            old_ipath.unlink()
            (self._bloom_dir(meta.name) / old).rename(
                self._bloom_dir(meta.name) / new
            )
        return meta

    def rename_table(self, name: str, new_name: str) -> TableMeta:
        """ALTER TABLE RENAME TO (Kudu rename_table; the reference's
        golden script itself renames via case-insensitive identifiers,
        ``README.md:39-43``): a directory rename, history included."""
        if new_name.startswith("__"):
            raise TableStoreError(
                f"table names starting with '__' are reserved: {new_name!r}"
            )
        meta = self._alterable_meta(name)
        if (
            self._meta_path(new_name).exists()
            or self._view_path(new_name).exists()
        ):
            raise TableExistsError(f"table or view {new_name!r} already exists")
        dependents = sorted(
            set(self._views_referencing(name))
            | set(self._views_broken_without(name))
        ) + self._mviews_on(name)
        if dependents:
            raise TableStoreError(
                f"cannot rename {name!r}: referenced by view(s) {dependents}"
            )
        new_norm = self._norm_name(new_name)
        self._dir(name).rename(self.root / new_norm)
        # release the renamed-away name's cached feed spans eagerly
        # (r20 advice): the timestamp-keyed identity already prevents
        # stale serves, but the orphaned entries would otherwise keep
        # their executor blocks pinned until LRU churn ages them out
        self._invalidate_segfeeds(name)
        meta.name = new_norm
        self._write_meta(meta)
        self.spark.catalog.dropTempView(self._norm_name(name))
        return meta

    @staticmethod
    def _init_used(meta: TableMeta) -> list[str]:
        return [meta.phys_name(f.name) for f in meta.schema.fields]

    # ------------------------------------------------------- version log
    def _versions_dir(self, name: str) -> Path:
        return self._dir(name) / "versions"

    def _manifest_path(self, name: str, version: int) -> Path:
        return self._versions_dir(name) / f"v{version:08d}.json"

    def _version_numbers(self, name: str) -> list[int]:
        vdir = self._versions_dir(name)
        if not vdir.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in vdir.glob("v*.json")
        )

    def current_version(self, name: str) -> int:
        """Latest committed version (0 = table creation)."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                "external tables are unmanaged storage: no version log"
            )
        versions = self._version_numbers(meta.name)
        if not versions:
            raise TableStoreError(
                f"table {name!r} predates the version log (no manifests)"
            )
        return versions[-1]

    def _head(self, name: str) -> tuple[int, list[str]]:
        """(latest version, its file list): what a current-state read
        reads and what a writer builds on as its base."""
        version = self.current_version(name)
        return version, self._read_manifest(self._norm_name(name), version)["files"]

    def _commit_version(
        self, meta: TableMeta, base: int | None, op: str, files: list[str]
    ) -> int:
        """Commit ``files`` (data-relative paths) as version ``base + 1``
        (0 for a new table) and return it.

        The manifest is created exclusively from a temp name private to
        this writer, so it can never overwrite another commit: a writer
        whose base already has a successor gets :class:`CommitConflict`,
        and the files it staged stay unlisted until :meth:`vacuum`."""
        nxt = 0 if base is None else base + 1
        # commit wall-clock (epoch seconds): what TIMESTAMP AS OF
        # resolves against — Kudu's scans are themselves
        # timestamp-addressed (READ_AT_SNAPSHOT at a HybridTime).
        # Stamped as max(previous commit ts, now): version_at's
        # newest-first early exit (and the meaning of "newest version at
        # or before ts") requires commit timestamps non-decreasing in
        # version order, which a backwards wall-clock step (NTP
        # correction, VM migration) would otherwise break.  Kudu solves
        # the same problem with HybridTime's logical component; for a
        # file-manifest log the clamp is the whole fix (r17 advice,
        # shipped r19).
        ts = time.time()
        if base is not None:
            prev_ts = self._read_manifest(meta.name, base).get("ts")
            if prev_ts is not None:
                ts = max(ts, float(prev_ts))
        manifest = {"version": nxt, "op": op, "ts": ts, "files": sorted(files)}
        vdir = self._versions_dir(meta.name)
        vdir.mkdir(parents=True, exist_ok=True)
        tmp = vdir / f".v{nxt:08d}.{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps(manifest))
        try:
            os.link(tmp, self._manifest_path(meta.name, nxt))
        except FileExistsError:
            raise CommitConflict(
                f"{meta.name!r}: version {nxt} was committed by another "
                f"writer while this {op} was based on v{base}"
            ) from None
        finally:
            tmp.unlink()
        # any data mutation stale-marks the ANALYZE profile by dropping
        # it (Hive's stale-stats rule; a stale n_rows would silently skew
        # join_with_stats' broadcast choice).  Compaction and rebucketing
        # rewrite files but not rows, so the profile survives both.
        if op not in ("create", "compact", "rebucket"):
            self._stats_path(meta.name).unlink(missing_ok=True)
        return nxt

    def _read_manifest(self, name: str, version: int) -> dict:
        p = self._manifest_path(name, version)
        if not p.exists():
            versions = self._version_numbers(name)
            if versions and version < versions[0]:
                raise TableStoreError(
                    f"version {version} of {name!r} was vacuumed "
                    f"(oldest retained: {versions[0]})"
                )
            raise TableStoreError(f"no such version of {name!r}: {version}")
        return json.loads(p.read_text())

    def history(self, name: str) -> DataFrame:
        """The table's committed version log as (version, op, n_files) —
        Kudu exposes the same lineage through its tablet history, bounded
        by the ancient-history mark (here: :meth:`vacuum`)."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                "external tables are unmanaged storage: no version log"
            )
        rows = [
            (m["version"], m["op"], len(m["files"]))
            for m in (
                self._read_manifest(meta.name, v)
                for v in self._version_numbers(meta.name)
            )
        ]
        return self.spark.createDataFrame(
            rows, "version int, op string, n_files int"
        )

    def scan_snapshot(
        self,
        name: str,
        version: int,
        columns: list[str] | None = None,
        predicate: Column | str | None = None,
    ) -> DataFrame:
        """Point-in-time scan: the table exactly as of ``version``
        (Kudu ``READ_AT_SNAPSHOT``, the mode the reference's scanner
        stack rides on).  Projection and predicate push into the Parquet
        reads like a current-state scan.

        The read is manifest ``version``'s file list — the same read a
        current-state :meth:`scan` makes of the latest version.  The
        files stay valid until :meth:`vacuum` drops the version."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError("external tables have no snapshots")
        df = self._read_files(
            meta, self._read_manifest(meta.name, version)["files"]
        ).select(*[f.name for f in meta.schema.fields])
        if predicate is not None:
            df = df.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        if columns is not None:
            known = {f.name for f in meta.schema.fields}
            bad = [c for c in columns if c not in known]
            if bad:
                raise TableStoreError(f"unknown projected columns: {bad}")
            df = df.select(*columns)
        return df

    def diff(
        self,
        name: str,
        from_version: int,
        to_version: int,
        include_old: bool = False,
    ) -> DataFrame:
        """Key-level changes between two snapshots — Kudu's *diff scan*
        (its incremental-backup primitive): one row per primary key whose
        state changed, carrying the newer values (older values for
        deletes) plus a ``change_type`` in {'insert','update','delete'}.
        ``include_old=True`` appends ``old_<col>`` columns (NULL for
        inserts) — what downstream incremental maintenance needs to
        retract a changed row's former contribution.

        **Reads only changed tablets.** Data files are immutable and a
        key lives in exactly one tablet, so any file present in BOTH
        manifests contributes identical rows to both sides — those cancel
        by definition and are never read: each side scans only its
        manifest's files *outside the common set*.  A mutation batch
        touching k of B tablets makes the diff O(k tablets), not
        O(table) — the property that lets a 100 TB table feed
        incremental consumers per commit.  The full-outer join on the key
        shuffles only those rows."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError("external tables have no snapshots")
        keys = meta.key_columns
        vals = [f.name for f in meta.schema.fields if f.name not in keys]
        a_files = self._read_manifest(meta.name, from_version)["files"]
        b_files = self._read_manifest(meta.name, to_version)["files"]
        common = set(a_files) & set(b_files)
        logical = [f.name for f in meta.schema.fields]
        # full_outer with `on=keys` coalesces the key columns, and non-key
        # columns are nullable, so presence on each side is tracked with an
        # explicit pre-join marker literal.
        old_m = (
            self._read_files(meta, [f for f in a_files if f not in common])
            .select(*logical)
            .withColumn("_o", F.lit(1))
        )
        new_m = (
            self._read_files(meta, [f for f in b_files if f not in common])
            .select(*logical)
            .withColumn("_n", F.lit(1))
        )
        j = old_m.join(new_m, on=keys, how="full_outer")
        change = (
            F.when(F.col("_o").isNull(), F.lit("insert"))
            .when(F.col("_n").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        out_vals = [
            F.when(F.col("_n").isNull(), old_m[f"{c}"]).otherwise(new_m[f"{c}"]).alias(c)
            for c in vals
        ]
        if include_old:
            out_vals += [old_m[c].alias(f"old_{c}") for c in vals]
        cols = [*keys, *out_vals, change.alias("change_type")]
        if not vals:
            # key-only table: a key present on BOTH sides is identical by
            # definition (there is nothing to update) — it only appears
            # here because a bucket rewrite moved its neighbors' file.
            # Without this filter it would surface as a spurious 'update'.
            return j.filter(
                F.col("_o").isNull() | F.col("_n").isNull()
            ).select(*cols)
        # an 'update' whose values are byte-identical is not a change
        unchanged = F.lit(True)
        for c in vals:
            unchanged = unchanged & old_m[c].eqNullSafe(new_m[c])
        return j.filter(
            F.col("_o").isNull() | F.col("_n").isNull() | ~unchanged
        ).select(*cols)

    def show_partitions(self, name: str) -> DataFrame:
        """The table's live tablets as (partition, n_files) rows — the
        Kudu tablet listing (``kudu table list`` / Impala SHOW
        PARTITIONS) over the managed layout.  Metadata-only: partition
        identity is each data file's directory prefix in the CURRENT
        manifest (``kb=``, ``kr=``, ``kr=/kb=``, and any hive
        ``partition_by`` dirs), so the cost is O(files) driver-side with
        zero data reads at any table size."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                "external tables are unmanaged storage: no tablet layout"
            )
        manifest = self._read_manifest(
            meta.name, self.current_version(meta.name)
        )
        counts: dict[str, int] = {}
        for rel in manifest["files"]:
            # manifests store OS-native relative paths (str of
            # Path.relative_to) — split on both separators so the
            # grouping is portable
            part = "/".join(re.split(r"[\\/]", rel)[:-1])
            counts[part] = counts.get(part, 0) + 1
        return self.spark.createDataFrame(
            sorted(counts.items()), "partition string, n_files int"
        )

    def commit_timestamp(self, name: str, version: int) -> float:
        """Wall-clock (epoch seconds) at which ``version`` committed.
        Raises for versions that predate the timestamp field."""
        m = self._read_manifest(self.table_meta(name).name, version)
        ts = m.get("ts")
        if ts is None:
            raise TableStoreError(
                f"version {version} of {name!r} predates commit timestamps"
            )
        return float(ts)

    def version_at(self, name: str, ts: float) -> int:
        """The newest version committed at or before wall-clock ``ts``
        (epoch seconds) — the resolution step behind ``TIMESTAMP AS OF``
        (Kudu READ_AT_SNAPSHOT is natively timestamp-addressed; Delta
        spells it the same way).  Versions predating the manifest
        timestamp field are skipped; if NO retained version qualifies,
        fails loudly (asking for a time before the table existed is a
        caller error, not an empty table)."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError("external tables have no snapshots")
        # newest-first with early exit: commit timestamps are monotone
        # with version order, so the first qualifying manifest from the
        # tail IS the answer — a long-retained history pays for the
        # manifests after ts, not all of them
        for v in reversed(self._version_numbers(meta.name)):
            mts = self._read_manifest(meta.name, v).get("ts")
            if mts is not None and float(mts) <= ts:
                return v
        raise TableStoreError(
            f"no committed version of {name!r} at or before ts={ts}"
        )

    def changefeed(
        self,
        name: str,
        from_version: int,
        to_version: int,
    ) -> DataFrame:
        """Row-level change stream between two snapshots — the CDC /
        change-data-feed read (Kudu diff scans power its incremental
        backups; Delta CDF and Debezium expose the same shape to
        consumers): one row per change *event*, ordered by commit, with
        full before/after images for updates.

        Columns: the table's logical columns, plus ``_change_type`` in
        {'insert', 'update_before', 'update_after', 'delete'} and
        ``_commit_version`` (the manifest version that produced the
        event).  Deletes and ``update_before`` rows carry the OLD values;
        inserts and ``update_after`` the new ones — replaying the feed
        onto the ``from_version`` snapshot reproduces ``to_version``
        exactly (pinned by ``tests/test_table_layer.py``).

        **Scale shape.** One term per commit in the range, each a
        :meth:`diff` of consecutive manifests — which reads only the
        files OUTSIDE the two manifests' common set, i.e. only the
        tablets the commit touched.  A consumer tailing a 100 TB table
        therefore reads O(changed tablets per commit), never O(table);
        the union across commits is linear in the change volume.  The
        update→(before, after) expansion is a single codegen explode per
        term, so each per-commit diff join executes once."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError("external tables have no snapshots")
        if from_version > to_version:
            raise TableStoreError(
                f"changefeed range is backwards: {from_version} > {to_version}"
            )
        # surface missing/vacuumed endpoints eagerly, not mid-loop
        self._read_manifest(meta.name, from_version)
        self._read_manifest(meta.name, to_version)
        keys = meta.key_columns
        vals = [f.name for f in meta.schema.fields if f.name not in keys]
        logical = [f.name for f in meta.schema.fields]
        out_schema = T.StructType(
            [*meta.schema.fields]
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )
        steps: list[DataFrame] = []
        for v in range(from_version, to_version):
            d = self.diff(name, v, v + 1, include_old=bool(vals))
            if not vals:
                # key-only table: updates cannot exist (diff filters
                # identical rows), so the diff labels map 1:1
                step = d.select(
                    *keys, F.col("change_type").alias("_change_type")
                )
            else:
                img = F.struct(*[F.col(c).alias(c) for c in vals])
                old_img = F.struct(
                    *[F.col(f"old_{c}").alias(c) for c in vals]
                )
                event = lambda tag, im: F.struct(  # noqa: E731
                    F.lit(tag).alias("t"), im.alias("img")
                )
                events = (
                    F.when(
                        F.col("change_type") == "insert",
                        F.array(event("insert", img)),
                    )
                    .when(
                        F.col("change_type") == "delete",
                        # diff's value columns already carry the OLD
                        # values for deletes
                        F.array(event("delete", img)),
                    )
                    .otherwise(
                        F.array(
                            event("update_before", old_img),
                            event("update_after", img),
                        )
                    )
                )
                step = d.select(*keys, F.explode(events).alias("_e")).select(
                    *keys,
                    *[F.col(f"_e.img.{c}").alias(c) for c in vals],
                    F.col("_e.t").alias("_change_type"),
                )
            steps.append(
                step.select(*logical, "_change_type").withColumn(
                    "_commit_version", F.lit(v + 1)
                )
            )
        if not steps:
            return self.spark.createDataFrame([], out_schema)
        out = steps[0]
        for s in steps[1:]:
            out = out.unionByName(s)
        return out

    def vacuum(self, name: str, keep_last: int = 1) -> dict:
        """Kudu's ancient-history mark: retain only the last ``keep_last``
        versions *before* the current one (current is always kept), drop
        older manifests, and delete the files in ``data/`` that no
        retained manifest lists — replaced files, and the orphans of
        writes that lost a :class:`CommitConflict` or died before their
        commit.  A write in flight has its files in ``data/`` unlisted
        between their move and its commit, so run vacuum with no writer
        in that window.  Returns ``{"dropped_versions": [...],
        "deleted_files": N}``."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError("external tables have no snapshots")
        if keep_last < 0:
            raise TableStoreError("keep_last must be >= 0")
        self._invalidate_segfeeds(meta.name)
        versions = self._version_numbers(meta.name)
        if not versions:
            return {"dropped_versions": [], "deleted_files": 0}
        keep = set(versions[-(keep_last + 1):])
        # a materialization with an in-flight refresh marker needs its
        # pre-merge snapshot for crash recovery — vacuuming it away would
        # leave the mview permanently unrecoverable (rollback reads
        # scan_snapshot(view_pre)).  Extend retention over the marker.
        mv_path = self._mview_path(meta.name)
        if mv_path.exists():
            pending = json.loads(mv_path.read_text()).get("pending")
            if pending:
                keep.update(v for v in versions if v >= pending["view_pre"])
        dropped = [v for v in versions if v not in keep]
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._read_manifest(meta.name, v)["files"])
        for v in dropped:
            self._manifest_path(meta.name, v).unlink()
        data = self._data_dir(meta.name)
        deleted = 0
        for p in sorted(data.rglob("*.parquet")):
            if str(p.relative_to(data)) not in referenced:
                p.unlink()
                deleted += 1
        return {"dropped_versions": dropped, "deleted_files": deleted}

    # ------------------------------------------------- tablets (hash/range)
    _BUCKET_COL = "kb"   # hash-bucketed layout
    _RANGE_COL = "kr"    # key-range layout

    @staticmethod
    def _validate_splits(
        schema: T.StructType, key_columns: list[str], splits: list
    ) -> list:
        """Range splits must be strictly increasing, JSON-durable scalars
        (int/float/str) on a range column of matching kind.  The range
        column is the FIRST key column (Kudu: range columns ⊆ primary
        key)."""
        if not splits:
            raise TableStoreError("range_splits must be a non-empty list")
        if not all(isinstance(s, (int, float, str)) for s in splits) or any(
            isinstance(s, bool) for s in splits
        ):
            raise TableStoreError(
                "range_splits must be int/float/str scalars (stored in the "
                "table's JSON meta and compared driver-side for pruning)"
            )
        kinds = {isinstance(s, str) for s in splits}
        if len(kinds) > 1:
            raise TableStoreError("range_splits must not mix strings and numbers")
        if any(a >= b for a, b in zip(splits, splits[1:])):
            raise TableStoreError(f"range_splits must be strictly increasing: {splits}")
        col = key_columns[0]
        typ = {f.name: f.dataType for f in schema.fields}[col]
        # string splits serve string AND timestamp/date range columns: ISO
        # 8601 text compares lexicographically in time order, casts
        # losslessly via F.lit(s).cast(timestamp) on the expression side,
        # and stays JSON-durable in the table meta (time-range pruning
        # over an event-time key is the canonical 100 TB range query)
        wants_str = isinstance(
            typ, (T.StringType, T.TimestampType, T.TimestampNTZType, T.DateType)
        )
        if wants_str != (kinds == {True}):
            raise TableStoreError(
                f"range_splits kind does not match range column {col!r} "
                f"type {typ.simpleString()} (timestamp/date columns take "
                "ISO-8601 string splits)"
            )
        return list(splits)

    def _part_cols(self, meta: TableMeta) -> list[str]:
        """The layout's partition-directory columns, outer first: [kb]
        for hash tables, [kr] for range tables, [kr, kb] for composite
        hash-in-range tables (Kudu's three tablet schemes)."""
        if meta.range_splits:
            return (
                [self._RANGE_COL, self._BUCKET_COL]
                if meta.hash_in_range
                else [self._RANGE_COL]
            )
        return [self._BUCKET_COL]

    def _num_parts(self, meta: TableMeta) -> int:
        if meta.range_splits:
            n = len(meta.range_splits) + 1
            return n * meta.hash_in_range if meta.hash_in_range else n
        return meta.num_buckets or self.num_buckets

    def _range_col_type(self, meta: TableMeta) -> T.DataType:
        return {f.name: f.dataType for f in meta.schema.fields}[
            meta.key_columns[0]
        ]

    def _range_id_expr(self, meta: TableMeta, value: Column) -> Column:
        """Range id of ``value`` = number of split points <= value — a
        chain of JVM comparisons (foldable to a constant when ``value`` is
        a literal, so it lands in PartitionFilters)."""
        typ = self._range_col_type(meta)
        rid = F.lit(0)
        for s in meta.range_splits:
            rid = rid + (value >= F.lit(s).cast(typ)).cast("int")
        return rid.cast("int")

    @staticmethod
    def _range_key(meta: TableMeta, value):
        """Normalize a bound/key for driver-side comparison against the
        stored splits: datetime/date values become ISO text in the same
        form the splits use ('YYYY-MM-DD HH:MM:SS' — space separator, so
        text order == time order against space-separated splits)."""
        import datetime

        if isinstance(meta.range_splits[0], str) and not isinstance(value, str):
            if isinstance(value, datetime.datetime):
                return value.isoformat(sep=" ")
            if isinstance(value, datetime.date):
                return value.isoformat()
        return value

    def _range_id_py(self, meta: TableMeta, value) -> int:
        """Driver-side twin of :meth:`_range_id_expr` for pruning bounds
        (bisect over the bounded split list, never data-sized)."""
        import bisect

        return bisect.bisect_right(meta.range_splits, self._range_key(meta, value))

    def _hash_expr(self, meta: TableMeta, cols: list[Column]) -> Column:
        n = meta.hash_in_range or meta.num_buckets or self.num_buckets
        return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")

    def _part_exprs(self, meta: TableMeta, lits: list[Column] | None = None) -> list[Column]:
        """Deterministic tablet id of a row, one expression per partition
        level (matching :meth:`_part_cols` order): key-range index of the
        first key column and/or hash bucket of the primary key.  With
        ``lits`` (literal key tuple in key_columns order) every
        expression is foldable, so comparisons against the partition
        columns prune directories."""
        keys = (
            lits
            if lits is not None
            else [F.col(k) for k in meta.key_columns]
        )
        out: list[Column] = []
        if meta.range_splits:
            out.append(self._range_id_expr(meta, keys[0]))
            if meta.hash_in_range:
                out.append(self._hash_expr(meta, keys))
        else:
            out.append(self._hash_expr(meta, keys))
        return out

    def _part_filter(self, meta: TableMeta, ids: list[tuple]) -> Column:
        """Membership of the row's tablet in ``ids`` (tuples matching
        :meth:`_part_cols`), as an OR-of-equalities over the partition
        columns — deterministic boolean over partition cols, so Catalyst
        folds it into directory pruning for any layout depth."""
        cols = [F.col(c) for c in self._part_cols(meta)]
        conds = []
        for tup in ids:
            c = F.lit(True)
            for col, v in zip(cols, tup):
                c = c & (col == F.lit(v))
            conds.append(c)
        out = F.lit(False)
        for c in conds:
            out = out | c
        return out

    def _read_schema(self, meta: TableMeta) -> T.StructType:
        """PHYSICAL read schema: parquet footers store the stable physical
        column names; a column absent from a file (added after the file
        was written) reads as NULL."""
        return T.StructType(
            [
                T.StructField(meta.phys_name(f.name), f.dataType, f.nullable)
                for f in meta.schema.fields
            ]
            + [
                T.StructField(c, T.IntegerType())
                for c in self._part_cols(meta)
            ]
        )

    def _to_logical(self, df: DataFrame, meta: TableMeta) -> DataFrame:
        for lg, ph in (meta.physical or {}).items():
            df = df.withColumnRenamed(ph, lg)
        return df

    def _to_physical(self, df: DataFrame, meta: TableMeta) -> DataFrame:
        for lg, ph in (meta.physical or {}).items():
            df = df.withColumnRenamed(lg, ph)
        return df

    def _read_files(self, meta: TableMeta, rels: list[str]) -> DataFrame:
        """The one read path: exactly the data-relative files ``rels``
        (a manifest's list, or part of one) as the logical columns plus
        the layout's partition columns.  With ``basePath=data/``
        partition discovery fills ``kb``/``kr`` from each file's path, so
        a filter on them lands in PartitionFilters and skips every other
        tablet's files unopened."""
        schema = self._read_schema(meta)
        if not rels:
            return self._to_logical(self.spark.createDataFrame([], schema), meta)
        data = self._data_dir(meta.name)
        reader = self.spark.read.schema(schema).option("basePath", str(data))
        return self._to_logical(reader.parquet(*[str(data / r) for r in rels]), meta)

    def _scan_raw(self, meta: TableMeta) -> DataFrame:
        """The latest version INCLUDING the partition columns."""
        return self._read_files(meta, self._head(meta.name)[1])

    # ------------------------------------------------------------------ reads
    def scan(
        self,
        name: str,
        columns: list[str] | None = None,
        predicate: Column | str | None = None,
    ) -> DataFrame:
        """Scan of the latest committed version with projection/predicate;
        Catalyst pushes both into the Parquet scan (the reference
        transported these to its scanner at
        ``HiveKuduTableInputFormat.java:303-323,465-469``)."""
        meta = self.table_meta(name)
        if meta.external:
            df = self.spark.read.schema(meta.schema).parquet(meta.location)
        else:
            df = self._scan_raw(meta).select(
                *[f.name for f in meta.schema.fields]
            )
        if predicate is not None:
            df = df.filter(predicate)
        if columns is not None:
            known = {f.name for f in meta.schema.fields}
            bad = [c for c in columns if c not in known]
            if bad:
                # mirrors projection validation at
                # HiveKuduTableInputFormat.java:303-320
                raise TableStoreError(f"unknown projected columns: {bad}")
            df = df.select(*columns)
        return df

    def scan_range(
        self,
        name: str,
        lower=None,
        upper=None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Range scan over a range-partitioned table, pruned to only the
        ``kr=`` directories the half-open interval ``[lower, upper)``
        intersects — the read path hash buckets structurally cannot serve
        (Kudu's range-tablet scan pruning; the reference transported
        key-range bounds to its scanner at
        ``HiveKuduTableInputFormat.java:466-467``).

        The surviving directory ids are computed driver-side by bisecting
        the bounded split list: ids in [bisect_right(splits, lower),
        bisect_left(splits, upper)].  The ``kr`` bound lands in the scan's
        PartitionFilters (plan-asserted in tests/test_plans.py); the exact
        value predicate on the range key is pushed into the Parquet scan,
        where the per-directory sort makes row-group min/max skipping
        effective.  At 100 TB a time/id-range query reads
        len(intersected ranges)/N of the table, independent of cluster
        size."""
        import bisect

        meta = self.table_meta(name)
        if not meta.range_splits:
            raise TableStoreError(
                f"table {name!r} is not range-partitioned: create it with "
                "range_splits, or use scan(predicate=...) on a hash layout"
            )
        if (
            lower is not None
            and upper is not None
            and self._range_key(meta, lower) >= self._range_key(meta, upper)
        ):
            return self.spark.createDataFrame([], meta.schema)
        rc = meta.key_columns[0]
        typ = self._range_col_type(meta)
        df = self._scan_raw(meta)
        lo_id = 0 if lower is None else self._range_id_py(meta, lower)
        hi_id = (
            len(meta.range_splits)
            if upper is None
            else bisect.bisect_left(meta.range_splits, self._range_key(meta, upper))
        )
        df = df.filter(F.col(self._RANGE_COL).between(lo_id, hi_id))
        if lower is not None:
            df = df.filter(F.col(rc) >= F.lit(lower).cast(typ))
        if upper is not None:
            df = df.filter(F.col(rc) < F.lit(upper).cast(typ))
        out_cols = columns or [f.name for f in meta.schema.fields]
        known = {f.name for f in meta.schema.fields}
        bad = [c for c in out_cols if c not in known]
        if bad:
            raise TableStoreError(f"unknown projected columns: {bad}")
        return df.select(*out_cols)

    def register_views(self, *names: str) -> None:
        """Expose tables as session temp views so ARBITRARY Spark SQL runs
        over them — the reference's whole contract ("Hive SQL over handler
        tables", ``README.md:4-7``) with Catalyst in place of Hive's
        engine.  No argument registers every table.  A view snapshots the
        table's file listing at registration (Spark's parquet source
        indexes files when the plan is built); re-register after mutations
        to see their effect."""
        self._register_base(*names)
        if not names:
            # views register after every base table exists; they may
            # reference any table but not other views (create_view rule),
            # so one pass in any order resolves
            for vname in self.list_views():
                self.spark.sql(self._view_sql(vname)).createOrReplaceTempView(
                    vname
                )

    def _register_base(self, *names: str) -> None:
        for name in names or self.list_tables():
            self.scan(name).createOrReplaceTempView(name)

    # ------------------------------------------------------------ VIEWS
    def _view_path(self, name: str) -> Path:
        return self._dir(name) / "view.json"

    _SQL_IDENT = r"`[^`]+`|[A-Za-z_]\w*"

    @staticmethod
    def _sql_table_refs(select_sql: str) -> set[str]:
        """Identifiers in FROM/JOIN position (lowercased), including
        backticked names and comma-style join lists (``FROM a, b``).
        Positional, not word-boundary, so column names/literals that
        happen to collide with a table name are never mistaken for
        references.  This scan is a fast first pass only — alias-bearing
        comma joins (``FROM a x, b y``) still hide ``b`` from it, so the
        drop/rename guard ALSO re-plans every view without the target
        (``_views_broken_without``); the pair can over-refuse but never
        under-protect."""
        ident = TableStore._SQL_IDENT
        refs: set[str] = set()
        for m in re.finditer(
            rf"\b(?:FROM|JOIN)\s+({ident})((?:\s*,\s*(?:{ident}))*)",
            select_sql,
            re.IGNORECASE,
        ):
            refs.add(m.group(1))
            refs.update(re.findall(ident, m.group(2)))
        return {r.strip("`").lower() for r in refs}

    def _views_referencing(self, table: str) -> list[str]:
        table = self._norm_name(table)
        return [
            v
            for v in self.list_views()
            if table in self._sql_table_refs(self._view_sql(v))
        ]

    def _views_broken_without(self, table: str) -> list[str]:
        """Views whose SQL stops RESOLVING if ``table`` disappears — the
        authoritative dependency check behind the textual scan: register
        every base table, record which views already fail (never blamed
        on this drop), unregister the target, and re-plan each remaining
        view.  Analysis only — nothing executes."""
        table = self._norm_name(table)
        views = self.list_views()
        if not views:
            return []

        def failing() -> set[str]:
            bad = set()
            for v in views:
                try:
                    self.spark.sql(self._view_sql(v))
                except Exception:  # noqa: BLE001 — any resolution failure
                    bad.add(v)
            return bad

        self._register_base()
        pre_existing = failing()
        self.spark.catalog.dropTempView(table)
        try:
            return sorted(failing() - pre_existing)
        finally:
            # the table still exists (the guard refused or the caller is
            # about to remove it); leave the session catalog consistent
            self._register_base(table)

    def create_view(self, name: str, select_sql: str) -> None:
        """CREATE VIEW — a named, persisted SELECT over the store's
        tables (HiveQL's logical-view verb; the reference's tables were
        routinely consumed through Hive views).  Storage is the SQL TEXT
        only: the view re-plans against the tables' current data at every
        scan, so it is always fresh and costs nothing at rest.  Views may
        reference base tables only (no view-on-view; keeps resolution a
        single pass and makes cycles unrepresentable)."""
        name = self._norm_name(name)
        if self._meta_path(name).exists() or self._view_path(name).exists():
            raise TableExistsError(f"table or view {name!r} already exists")
        referenced_views = sorted(
            self._sql_table_refs(select_sql) & set(self.list_views())
        )
        if referenced_views:
            raise TableStoreError(
                f"views may reference base tables only; found view "
                f"reference(s): {referenced_views}"
            )
        # validate NOW, not at first use: register_views() eagerly plans
        # every stored view on each sql() call, so persisting a statement
        # that doesn't parse or resolve would break every later query for
        # unrelated views (r6 advice).  Analysis only — nothing executes.
        self._register_base()
        try:
            self.spark.sql(select_sql)
        except Exception as exc:
            raise TableStoreError(
                f"CREATE VIEW {name!r}: SELECT does not parse/resolve "
                f"against the store's tables: {exc}"
            ) from exc
        self._dir(name).mkdir(parents=True, exist_ok=True)
        self._view_path(name).write_text(
            json.dumps({"name": name, "view_sql": select_sql})
        )

    def list_views(self) -> list[str]:
        return sorted(
            p.name for p in self.root.iterdir() if (p / "view.json").exists()
        )

    def has_view(self, name: str) -> bool:
        """Whether a stored view ``name`` exists — the public membership
        probe (case-folded like every identifier) used by the SQL layer
        for source routing instead of ``_norm_name``/``list_views``
        scans."""
        return self._view_path(self._norm_name(name)).exists()

    def view_sql(self, name: str) -> str:
        """The stored SELECT of view ``name`` (raises
        :class:`NoSuchTableError` if absent) — public so SHOW CREATE
        rendering never reads the view manifest file directly."""
        return self._view_sql(name)

    def _view_sql(self, name: str) -> str:
        path = self._view_path(self._norm_name(name))
        if not path.exists():
            raise NoSuchTableError(f"no such view: {name!r}")
        return json.loads(path.read_text())["view_sql"]

    def view_df(self, name: str) -> DataFrame:
        """The view's DataFrame: base tables register, the stored SELECT
        plans against them.  Lazy — Catalyst sees the full expanded plan,
        so filters over the view push into the underlying scans."""
        sql_text = self._view_sql(name)
        self._register_base()
        return self.spark.sql(sql_text)

    def drop_view(self, name: str) -> None:
        name = self._norm_name(name)
        if not self._view_path(name).exists():
            raise NoSuchTableError(f"no such view: {name!r}")
        shutil.rmtree(self._dir(name))
        # unregister so a dropped view cannot keep serving stale rows
        self.spark.catalog.dropTempView(name)

    # ------------------------------------------- MATERIALIZED VIEWS
    def _mview_path(self, name: str) -> Path:
        return self._dir(name) / "mview.json"

    def mview_manifest_path(self, name: str) -> Path:
        """Filesystem path of an mview's manifest — a public ops/debug
        accessor (crash-recovery drills edit the manifest to simulate a
        torn refresh; they should not reach into ``_mview_path``)."""
        return self._mview_path(self._norm_name(name))

    def list_materialized_views(self) -> list[str]:
        """Names of all materialized views (they also appear in
        ``list_tables`` — the materialization IS a managed table; this
        lists the subset carrying an mview definition)."""
        return sorted(
            p.name
            for p in self.root.iterdir()
            if (p / "mview.json").exists()
        )

    def _mviews_on(self, base: str) -> list[str]:
        """Materialized views whose base is ``base``."""
        base = self._norm_name(base)
        out = []
        for p in self.root.iterdir():
            mp = p / "mview.json"
            if mp.exists() and json.loads(mp.read_text())["base"] == base:
                out.append(p.name)
        return sorted(out)

    @staticmethod
    def _sum_type(dtype: T.DataType) -> str:
        return (
            "bigint"
            if isinstance(
                dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
            )
            else "double"
        )

    def create_materialized_view(
        self,
        name: str,
        base: str,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
    ) -> None:
        """CREATE MATERIALIZED VIEW (Hive's verb; the reference's design
        goal is precisely "analytical queries on fast changing data",
        ``doc/DesignDocument.md:4-8``): a STORED per-group aggregate —
        COUNT(*) plus SUM of each ``sum_cols`` — over a base table, kept
        current by *incremental* refresh off the version-manifest diff
        (see :meth:`refresh_materialized_view`).

        The materialization is itself a managed keyed table (key = the
        group columns — which must therefore be non-null in the base, the
        same constraint Kudu puts on any primary key) and so inherits
        scans, snapshots, and stats.  Integral sums maintain exactly;
        double sums are subject to float addition order like any
        distributed SUM.  The supported shape is the classic
        SUM/COUNT-groupby IVM class — self-maintainable from deltas
        alone; MIN/MAX are deliberately out (a deleted max needs a base
        rescan to re-derive, breaking the only-changed-tablets cost
        model)."""
        name = self._norm_name(name)
        sum_cols = list(sum_cols or [])
        if self._meta_path(name).exists() or self._view_path(name).exists():
            raise TableExistsError(f"table or view {name!r} already exists")
        bmeta = self.table_meta(base)
        types = {f.name: f.dataType for f in bmeta.schema.fields}
        for c in group_cols + sum_cols:
            if c not in types:
                raise TableStoreError(f"no such column in {base!r}: {c!r}")
        ddl = ", ".join(
            [f"{c} {types[c].simpleString()}" for c in group_cols]
            + ["n_rows bigint"]
            + [f"sum_{c} {self._sum_type(types[c])}" for c in sum_cols]
        )
        self.create_table(name, ddl, key_columns=list(group_cols))
        try:
            version = self.current_version(base)
            full = (
                self.scan_snapshot(base, version)
                .groupBy(*group_cols)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    *[
                        F.sum(c)
                        .cast(self._sum_type(types[c]))
                        .alias(f"sum_{c}")
                        for c in sum_cols
                    ],
                )
            )
            # persist: the null-group check and the seeding insert both
            # consume the aggregate, and unpersisted each ran the FULL
            # base-table aggregation — at 100 TB, two complete passes
            # over the base per CREATE MATERIALIZED VIEW (r22, guide §5;
            # the refresh path already materializes its delta once)
            full = full.persist()
            try:
                self._reject_null_groups(full, group_cols, name)
                self.insert(name, full)
            finally:
                full.unpersist()
        except Exception:
            # no half-created materialization left behind
            shutil.rmtree(self._dir(name), ignore_errors=True)
            raise
        self._mview_path(name).write_text(
            json.dumps(
                {
                    "name": name,
                    "base": base,
                    "group_cols": list(group_cols),
                    "sum_cols": sum_cols,
                    "last_version": version,
                }
            )
        )

    @staticmethod
    def _reject_null_groups(
        agg_df: DataFrame, group_cols: list[str], name: str
    ) -> None:
        """Keyed storage cannot hold a NULL group key, and silently
        dropping it would make the view disagree with its declaring
        GROUP BY — so a NULL group value is an explicit error.  The check
        runs on the AGGREGATED frame (group-space-sized, never the
        base)."""
        null_pred = None
        for c in group_cols:
            p = F.col(c).isNull()
            null_pred = p if null_pred is None else (null_pred | p)
        if agg_df.filter(null_pred).limit(1).count() > 0:
            raise TableStoreError(
                f"materialized view {name!r}: NULL value in group "
                f"column(s) {group_cols}; group keys must be non-null"
            )

    def refresh_materialized_view(self, name: str) -> dict:
        """Incremental refresh: merge the SIGNED DELTAS of the base's
        changes since the last refresh into the stored aggregate.

        Cost model at 100 TB: the diff reads only tablets changed since
        ``last_version`` (manifest symmetric difference — see
        :meth:`diff`), the delta aggregate shuffles only changed rows,
        and the merge touches only changed GROUPS (an upsert into the
        groups' buckets plus a bounded delete of emptied groups).  A
        billion-row base with a thousand changed rows refreshes in
        thousand-row time; the base is never rescanned.  Retractions
        (update/delete) subtract the old row's contribution via the
        diff's ``old_*`` columns; groups whose count reaches zero are
        deleted so the view never reports phantom empty groups.

        Crash safety: the merge is guarded by a two-phase marker in
        mview.json.  ``pending`` records the view-table version BEFORE
        the merge; it is cleared only after both the upsert and the
        emptied-group delete land and ``last_version`` advances.  A
        refresh that finds a leftover marker first ROLLS THE VIEW BACK
        to the recorded pre-merge snapshot (the view is itself a
        versioned managed table) and then re-applies — so a crash
        between the merge writes and the bookkeeping can never
        double-count deltas."""
        name = self._norm_name(name)
        path = self._mview_path(name)
        if not path.exists():
            raise NoSuchTableError(f"no such materialized view: {name!r}")
        mv = json.loads(path.read_text())
        base, gcols, scols = mv["base"], mv["group_cols"], mv["sum_cols"]
        if mv.get("pending"):
            # crashed mid-merge: restore the pre-merge view contents
            self.insert_overwrite(
                name, self.scan_snapshot(name, mv["pending"]["view_pre"])
            )
            mv.pop("pending")
            path.write_text(json.dumps(mv))
        cur = self.current_version(base)
        if cur == mv["last_version"]:
            return {"refreshed": False, "from": cur, "to": cur}
        bmeta = self.table_meta(base)
        types = {f.name: f.dataType for f in bmeta.schema.fields}
        base_keys = set(bmeta.key_columns)

        # key columns never change within a row, so the diff carries them
        # un-prefixed (coalesced across the snapshot join); every other
        # retracted value reads its old_* column
        def old(c: str):
            return F.col(c if c in base_keys else f"old_{c}")

        d = self.diff(base, mv["last_version"], cur, include_old=True)
        # retract+assert via ONE explode, not a self-union (r22): the
        # union form embedded the whole manifest-diff join in BOTH
        # branches, so the delta-sized diff was computed twice per
        # refresh — at 100 TB, twice the refresh's dominant cost.  An
        # update row emits its retraction and assertion from a 2-element
        # array instead (the same shape :meth:`changefeed` always used);
        # same signed-row multiset, so the per-group sums are unchanged
        # (guide §7.2 "duplicated subtrees").
        retract_s = F.struct(
            *[old(c).alias(c) for c in gcols],
            F.lit(-1).cast("long").alias("dn"),
            *[(-old(c)).alias(f"d_{c}") for c in scols],
        )
        assert_s = F.struct(
            *[F.col(c).alias(c) for c in gcols],
            F.lit(1).cast("long").alias("dn"),
            *[F.col(c).alias(f"d_{c}") for c in scols],
        )
        signed = (
            F.when(F.col("change_type") == "insert", F.array(assert_s))
            .when(F.col("change_type") == "delete", F.array(retract_s))
            .otherwise(F.array(retract_s, assert_s))
        )
        delta = (
            d.select(F.explode(signed).alias("_e"))
            .select("_e.*")
            .groupBy(*gcols)
            .agg(
                F.sum("dn").alias("dn"),
                *[F.sum(f"d_{c}").alias(f"d_{c}") for c in scols],
            )
        )
        merged = delta.join(self.scan(name), on=gcols, how="left").select(
            *gcols,
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("dn")).alias(
                "n_rows"
            ),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"d_{c}"), F.lit(0))
                )
                .cast(self._sum_type(types[c]))
                .alias(f"sum_{c}")
                for c in scols
            ],
        )
        # materialize the changed-group frame ONCE (it is delta-sized):
        # the null check, the live upsert, and the dead-group delete all
        # consume it, and without this each consumer re-runs the whole
        # manifest-diff + delta aggregate (measured ~2× refresh cost)
        merged = merged.localCheckpoint(eager=True)
        self._reject_null_groups(merged, gcols, name)
        live = merged.filter(F.col("n_rows") > 0)
        dead = merged.filter(F.col("n_rows") <= 0).select(*gcols)
        # phase 1: mark the merge in flight, remembering the view version
        # a recovery would roll back to
        mv["pending"] = {"to": cur, "view_pre": self.current_version(name)}
        path.write_text(json.dumps(mv))
        # ONE bucket rewrite + ONE commit for both the changed-group
        # upsert and the emptied-group delete (r7 verdict item 6): the
        # two mutations touch the same delta-sized group set, so the
        # split form paid the bucket rewrite and version commit twice
        self.upsert(name, live, delete_keys=dead)
        # phase 2: merge landed — advance and clear the marker atomically
        # (one small-file write)
        prev = mv["last_version"]
        mv["last_version"] = cur
        mv.pop("pending")
        path.write_text(json.dumps(mv))
        return {"refreshed": True, "from": prev, "to": cur}

    def lookup(self, name: str, key: dict[str, object]) -> DataFrame:
        """Keyed point-lookup that prunes to ONE bucket directory.

        The bucket id is expressed as ``pmod(xxhash64(<literal key>), B)``
        — a foldable expression Catalyst collapses to a constant, so the
        comparison against the ``kb`` partition column lands in the scan's
        ``PartitionFilters`` and every other bucket directory is never
        opened (plan-asserted in ``tests/test_plans.py``).  This is the
        read-path analogue of the reference's primary-key tablet pruning
        (``HiveKuduTableInputFormat.java:166-217,466-467``): at 100 TB a
        point read touches 1/B of the table's files, independent of
        cluster size.  Literals are cast to the declared key-column types
        because ``xxhash64`` hashes by type (an int literal against a
        bigint column would hash into the wrong bucket).
        """
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                f"table {name!r} is external: no bucket layout to prune"
            )
        if set(key) != set(meta.key_columns):
            raise TableStoreError(
                f"lookup key must cover exactly {meta.key_columns}, got {sorted(key)}"
            )
        types = {f.name: f.dataType for f in meta.schema.fields}
        lits = [F.lit(key[k]).cast(types[k]) for k in meta.key_columns]
        df = self._scan_raw(meta)
        for col, expr in zip(self._part_cols(meta), self._part_exprs(meta, lits)):
            df = df.filter(F.col(col) == expr)
        for k in meta.key_columns:
            df = df.filter(F.col(k) == F.lit(key[k]).cast(types[k]))
        return df.select(*[f.name for f in meta.schema.fields])

    def lookup_many(self, name: str, values: list[object]) -> DataFrame:
        """Batched point-lookup for any key shape.

        Same pruning mechanics as :meth:`lookup`, vectorized: the scan
        filter is ``kb IN (<folded bucket constants>)`` — at most
        ``len(values)`` of the B bucket directories are opened — plus a
        value filter on the keys.  For a single-column key the batch is a
        list of scalars and the value filter is ``key IN (...)``, which
        pushes into the Parquet scan as an ``In`` filter; for a composite
        key the batch is a list of ``{col: value}`` dicts and the value
        filter is ``struct(keys) IN (struct literals)`` — the IN-list of
        whole key tuples the reference's tablet pruning serves for any
        key shape (``HiveKuduTableInputFormat.java:166-217``).  A
        struct-IN is not a Parquet-pushable filter, but it is a single
        vectorized comparison evaluated only inside the pruned buckets,
        which is where the scale win lives.  The batch is driver-provided
        literals (an id list from a service request), NOT a DataFrame —
        for joining against another table, use a broadcast join; this
        path exists so a bounded key batch never pays a scan of the
        un-hit buckets.
        """
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                f"table {name!r} is external: no bucket layout to prune"
            )
        if not values:
            return self.spark.createDataFrame([], meta.schema)
        keys = meta.key_columns
        types = {f.name: f.dataType for f in meta.schema.fields}
        batch: list[dict[str, object]] = []
        for v in values:
            if isinstance(v, dict):
                if set(v) != set(keys):
                    raise TableStoreError(
                        f"lookup_many key must cover exactly {keys}, got {sorted(v)}"
                    )
                batch.append(v)
            elif len(keys) == 1:
                batch.append({keys[0]: v})
            else:
                raise TableStoreError(
                    f"composite-key lookup_many needs {{col: value}} dicts "
                    f"covering {keys}, got scalar {v!r}"
                )
        lit_rows = [[F.lit(v[k]).cast(types[k]) for k in keys] for v in batch]
        part_cols = self._part_cols(meta)
        # per-level IN of folded tablet ids: a superset of the exact
        # tablet tuples for composite layouts (cartesian of the level
        # sets), which is what directory pruning needs; the key filter
        # below keeps the result exact
        level_filter = F.lit(True)
        for lvl, col in enumerate(part_cols):
            ids = [self._part_exprs(meta, lits)[lvl] for lits in lit_rows]
            level_filter = level_filter & F.col(col).isin(*ids)
        if len(keys) == 1:
            key_filter = F.col(keys[0]).isin(*[lits[0] for lits in lit_rows])
        else:
            key_filter = F.struct(*[F.col(k) for k in keys]).isin(
                *[F.struct(*lits) for lits in lit_rows]
            )
        df = self._scan_raw(meta).filter(level_filter & key_filter)
        return df.select(*[f.name for f in meta.schema.fields])

    # ------------------------------------------------- bloom index sidecar
    #
    # Kudu's rowsets carry Bloom filters so a point read touches no data
    # it cannot match (the reference delegates this to the Kudu client,
    # HiveKuduTableInputFormat.java:444-572).  The managed-table analogue
    # is a per-data-file sidecar: one row per file, `bits` = the distinct
    # probe positions of every value of the indexed column.  Bucket
    # layouts already prune KEY lookups; this serves point reads on
    # NON-layout columns.  Maintenance rides the version manifests and is
    # delta-sized in BOTH directions: a refresh hashes only files added
    # since the indexed version AND writes only those rows, as a new
    # SEGMENT — prior segments are never rewritten.  Rows for removed
    # files linger in old segments and are excluded at lookup time by
    # intersecting candidates with the current manifest (a driver-side
    # set test over the already-small candidate list).  Segment count is
    # bounded: past _BLOOM_COMPACT_SEGMENTS, a refresh folds all live
    # rows into one segment (amortized O(1/threshold) per refresh).

    _BLOOM_COMPACT_SEGMENTS = 16

    def _bloom_dir(self, name: str) -> Path:
        return self._dir(name) / "bloomindex"

    def _bloom_meta_path(self, name: str, col: str) -> Path:
        return self._bloom_dir(name) / f"{col}.json"

    def _bloom_seg_dir(self, name: str, col: str, version: int) -> Path:
        return self._bloom_dir(name) / col / f"seg-{version:08d}"

    def _bloom_segments(self, name: str, col: str) -> list[Path]:
        d = self._bloom_dir(name) / col
        return sorted(d.glob("seg-*")) if d.exists() else []

    def list_bloom_indexes(self, name: str) -> list[str]:
        d = self._bloom_dir(self._norm_name(name))
        return sorted(p.stem for p in d.glob("*.json")) if d.exists() else []

    def _bloom_state(self, name: str, col: str) -> tuple[TableMeta, dict, int, Path]:
        """(table meta, index meta, current table version, index meta
        path) — shared load for refresh and the lookups."""
        name = self._norm_name(name)
        mpath = self._bloom_meta_path(name, col)
        if not mpath.exists():
            raise NoSuchTableError(f"no bloom index on {name!r} ({col!r})")
        return self.table_meta(name), json.loads(mpath.read_text()), self.current_version(name), mpath

    def _bloom_check_fresh(self, name: str, col: str, imeta: dict, cur: int) -> None:
        if cur != imeta["version"]:
            raise TableStoreError(
                f"bloom index on {name!r} ({col!r}) is stale "
                f"(indexed v{imeta['version']}, table at v{cur}); run "
                f"ALTER BLOOM INDEX ON {name} ({col}) REBUILD"
            )

    def _bloom_frame_for_files(
        self, meta: TableMeta, col: str, rel_files: list[str]
    ) -> DataFrame:
        """Sidecar rows ``(file, bits)`` for the given data-relative
        files — ONE distributed pass over exactly those files, one
        shuffle whose map side already dedups positions (partial
        ``collect_set`` caps per-file-per-mapper traffic at M ints)."""
        from hivekudu_handler_spark.sources.bloom import probe_positions

        if not rel_files:
            return self.spark.createDataFrame([], "file string, bits array<int>")
        data = self._data_dir(meta.name)
        # file identity = path relative to data/ (matches the manifests
        # and survives URI-scheme differences in _metadata.file_path)
        rel = F.regexp_replace(
            F.col("_metadata.file_path"),
            "^.*?" + re.escape(str(data.resolve())) + "/",
            "",
        )
        exploded = self._read_files(meta, rel_files).select(
            rel.alias("file"),
            F.explode(F.array(*probe_positions(F.col(col)))).alias("pos"),
        )
        return exploded.groupBy("file").agg(
            F.sort_array(F.collect_set("pos")).alias("bits")
        )

    def create_bloom_index(self, name: str, col: str) -> dict:
        """CREATE BLOOM INDEX ON name (col): build the sidecar over the
        table's current version.  The index is version-stamped; after
        mutations it must be refreshed (``refresh_bloom_index``) before
        lookups — a stale index errs loudly, never silently."""
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                "external tables are unmanaged storage: no bloom index"
            )
        if not any(f.name == col for f in meta.schema.fields):
            raise TableStoreError(f"no such column in {name!r}: {col!r}")
        if self._bloom_meta_path(meta.name, col).exists():
            raise TableExistsError(
                f"bloom index on {name!r} ({col!r}) already exists"
            )
        version = self.current_version(meta.name)
        files = self._read_manifest(meta.name, version)["files"]
        self._bloom_frame_for_files(meta, col, files).write.mode(
            "overwrite"
        ).parquet(str(self._bloom_seg_dir(meta.name, col, version)))
        self._bloom_dir(meta.name).mkdir(parents=True, exist_ok=True)
        self._bloom_meta_path(meta.name, col).write_text(
            json.dumps({"col": col, "version": version})
        )
        return {"col": col, "version": version, "files": len(files)}

    def refresh_bloom_index(self, name: str, col: str) -> dict:
        """Advance the index to the current version: hash ONLY the files
        added since the indexed version (manifest set difference) and
        write ONLY their rows, as a new segment — O(changed buckets)
        compute AND I/O regardless of table size.  Removed files' rows
        stay in old segments and are excluded at lookup by the manifest
        intersection.  If the indexed version's manifest was vacuumed,
        falls back to a FULL rebuild (old segments cleared) instead of
        dead-ending; past ``_BLOOM_COMPACT_SEGMENTS`` segments, the
        refresh folds live rows into one segment (amortized O(1) per
        refresh)."""
        name = self._norm_name(name)
        meta, imeta, cur, mpath = self._bloom_state(name, col)
        if cur == imeta["version"]:
            return {"refreshed": False, "from": cur, "to": cur, "files_hashed": 0}
        new_files = self._read_manifest(name, cur)["files"]
        try:
            old_files = set(self._read_manifest(name, imeta["version"])["files"])
            full_rebuild = False
        except TableStoreError:
            # the indexed version predates the vacuum horizon: the set
            # difference is unknowable, so rebuild from scratch rather
            # than leaving REBUILD permanently broken
            old_files = set()
            full_rebuild = True
        added = [f for f in new_files if f not in old_files]
        compact = (
            not full_rebuild
            and len(self._bloom_segments(name, col)) >= self._BLOOM_COMPACT_SEGMENTS
        )
        if compact:
            # fold every LIVE row (current-manifest files only) plus the
            # new delta into one segment
            live = set(new_files) - set(added)
            segs = [str(p) for p in self._bloom_segments(name, col)]
            kept = self.spark.read.parquet(*segs).filter(
                F.col("file").isin(sorted(live)) if live else F.lit(False)
            )
            frame = kept.unionByName(self._bloom_frame_for_files(meta, col, added))
        else:
            frame = self._bloom_frame_for_files(meta, col, added)
        old_segs = self._bloom_segments(name, col)
        out = self._bloom_seg_dir(name, col, cur)
        # localCheckpoint before the write when compacting: the new
        # segment is derived FROM the old segments being deleted below
        if compact:
            frame = frame.localCheckpoint(eager=True)
        frame.write.mode("overwrite").parquet(str(out))
        if full_rebuild or compact:
            for seg in old_segs:
                if seg != out:
                    shutil.rmtree(seg, ignore_errors=True)
        prev = imeta["version"]
        imeta["version"] = cur
        mpath.write_text(json.dumps(imeta))
        return {
            "refreshed": True,
            "from": prev,
            "to": cur,
            "files_hashed": len(new_files) if full_rebuild else len(added),
            "files_kept": 0 if full_rebuild else len(new_files) - len(added),
            "full_rebuild": full_rebuild,
            "compacted": compact,
        }

    def _bloom_candidates(self, name: str, col: str, cond: Column, cur: int) -> list[str]:
        """Distinct candidate files matching ``cond`` over every index
        segment, intersected with the CURRENT manifest (rows for removed
        files linger in old segments by design; duplicates from a
        crashed full rebuild are deduped here)."""
        segs = [str(p) for p in self._bloom_segments(name, col)]
        idx = self.spark.read.parquet(*segs)
        live = set(self._read_manifest(name, cur)["files"])
        return sorted(
            {r.file for r in idx.filter(cond).select("file").collect()} & live
        )

    def _read_bloom_candidates(self, meta: TableMeta, files: list[str]) -> DataFrame:
        """Read exactly ``files`` as the logical columns."""
        return self._read_files(meta, files).select(
            *[f.name for f in meta.schema.fields]
        )

    @staticmethod
    def _bloom_cover_cond(positions: list[int]) -> Column:
        return (
            F.size(
                F.array_intersect(
                    "bits", F.array(*[F.lit(p) for p in positions])
                )
            )
            == len(positions)
        )

    def bloom_lookup(self, name: str, col: str, value) -> DataFrame:
        """Point read ``col = value`` through the sidecar: filter the
        metadata-sized index JVM-side, read ONLY candidate files with the
        residual predicate re-applied (Bloom has no false negatives, so
        skipped files provably hold no matches).  Returns the logical
        schema.  Raises if the index lags the table — the caller chooses
        between refresh cost and a full-scan fallback; silence never
        does."""
        from hivekudu_handler_spark.sources.bloom import K_PROBES, probe_positions

        name = self._norm_name(name)
        meta, imeta, cur, _ = self._bloom_state(name, col)
        self._bloom_check_fresh(name, col, imeta, cur)
        dtype = next(f.dataType for f in meta.schema.fields if f.name == col)
        probe_lit = F.lit(value).cast(dtype)
        probe_row = self.spark.range(1).select(
            *[p.alias(f"p{i}") for i, p in enumerate(probe_positions(probe_lit))]
        ).first()
        probe = sorted({probe_row[f"p{i}"] for i in range(K_PROBES)})
        candidates = self._bloom_candidates(
            name, col, self._bloom_cover_cond(probe), cur
        )
        if not candidates:
            return self.spark.createDataFrame([], meta.schema)
        return self._read_bloom_candidates(meta, candidates).filter(
            F.col(col) == probe_lit
        )

    def bloom_lookup_many(self, name: str, col: str, values: list) -> DataFrame:
        """Batched :meth:`bloom_lookup` — one candidate-set union, one
        read (Kudu's batched point reads).  The batch is driver-provided
        literals, same contract as :meth:`lookup_many`: a file is a
        candidate if its bit set covers ANY value's probe positions; the
        residual ``IN`` filter keeps the result exact."""
        from hivekudu_handler_spark.sources.bloom import probe_positions

        name = self._norm_name(name)
        meta, imeta, cur, _ = self._bloom_state(name, col)
        self._bloom_check_fresh(name, col, imeta, cur)
        if not values:
            return self.spark.createDataFrame([], meta.schema)
        dtype = next(f.dataType for f in meta.schema.fields if f.name == col)
        # all probe positions in ONE job over the batch (driver-sized)
        probe_rows = self.spark.createDataFrame(
            [(v,) for v in values], T.StructType([T.StructField("v", dtype)])
        ).select(F.array(*probe_positions(F.col("v"))).alias("ps")).collect()
        cond = None
        for r in probe_rows:
            c = self._bloom_cover_cond(sorted(set(r.ps)))
            cond = c if cond is None else (cond | c)
        candidates = self._bloom_candidates(name, col, cond, cur)
        if not candidates:
            return self.spark.createDataFrame([], meta.schema)
        return self._read_bloom_candidates(meta, candidates).filter(
            F.col(col).isin(*[F.lit(v).cast(dtype) for v in values])
        )

    def _drop_bloom_index_if_any(self, name: str, col: str) -> None:
        mpath = self._bloom_meta_path(name, col)
        if mpath.exists():
            mpath.unlink()
            shutil.rmtree(self._bloom_dir(name) / col, ignore_errors=True)

    def drop_bloom_index(self, name: str, col: str) -> None:
        name = self._norm_name(name)
        if not self._bloom_meta_path(name, col).exists():
            raise NoSuchTableError(f"no bloom index on {name!r} ({col!r})")
        self._drop_bloom_index_if_any(name, col)

    # ----------------------------------------------------------------- writes
    def _writable_meta(self, name: str) -> TableMeta:
        meta = self.table_meta(name)
        if meta.external:
            raise TableStoreError(
                f"table {name!r} is external: read-only through this layer"
            )
        return meta

    def _validate_batch(self, meta: TableMeta, df: DataFrame) -> DataFrame:
        """Schema-align a write batch and DROP rows with NULL key columns
        (Kudu semantics: a row without a full PK is unaddressable).  The
        drop is silent at this layer by design — direct-API callers get
        set semantics for free; SQL paths that promise ANSI constraint
        errors (MERGE INSERT) guard key expressions with raise_error
        UPSTREAM so a NULL key never reaches this filter (r16 advice)."""
        expected = [f.name for f in meta.schema.fields]
        got = df.columns
        if set(got) != set(expected):
            raise TableStoreError(
                f"schema mismatch writing {meta.name!r}: expected {expected}, got {got}"
            )
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in meta.schema.fields]
        )
        for k in meta.key_columns:
            df = df.filter(F.col(k).isNotNull())
        # Kudu column-schema parity: a declared NOT NULL non-key column
        # rejects NULL loudly at write time.  The guard is an expression
        # riding the write's own action (no extra pass over the batch)
        # and sits ABOVE the key filter so a silently-dropped NULL-key
        # row can never fire it regardless of optimizer ordering; key
        # columns keep their distinct silent-drop/raise_error rules.
        guarded = [
            f.name
            for f in meta.schema.fields
            if not f.nullable and f.name not in meta.key_columns
        ]
        if guarded:
            df = df.select(
                *[
                    F.when(
                        F.col(c).isNull(),
                        F.raise_error(F.lit(NOT_NULL_MSG_PREFIX + c)),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in guarded
                    else F.col(c)
                    for c in df.columns
                ]
            )
        return df

    def _dedup_batch(self, meta: TableMeta, df: DataFrame) -> DataFrame:
        """One row per key within a batch, deterministically: the winner
        is the smallest row under (non-key columns, nulls last).  A
        distributed DataFrame has no row order, so "first write wins" must
        be defined by values to be stable across runs and partitionings.
        Map-typed columns are not orderable and are skipped as
        tiebreakers; if no orderable non-key column exists the batch keeps
        one arbitrary row per key (documented weakest case)."""
        from pyspark.sql import Window

        tiebreak = [
            f.name
            for f in meta.schema.fields
            if f.name not in meta.key_columns
            and not isinstance(f.dataType, T.MapType)
        ]
        if not tiebreak:
            return df.dropDuplicates(meta.key_columns)
        w = Window.partitionBy(*meta.key_columns).orderBy(
            *[F.col(c).asc_nulls_last() for c in tiebreak]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _affected_buckets(self, meta: TableMeta, batch: DataFrame) -> list[tuple]:
        """Tablet ids a batch touches, as tuples matching
        :meth:`_part_cols` — bounded by the tablet count, never by data
        volume, so collecting it is safe."""
        exprs = [
            e.alias(c)
            for c, e in zip(self._part_cols(meta), self._part_exprs(meta))
        ]
        return [tuple(r) for r in batch.select(*exprs).distinct().collect()]

    def _write_partitioned(self, meta: TableMeta, df: DataFrame, path: Path, mode: str) -> None:
        pcs = self._part_cols(meta)
        out = df
        for c, e in zip(pcs, self._part_exprs(meta)):
            out = out.withColumn(c, e)
        # files persist PHYSICAL column names (partition exprs above bind
        # to the logical names the batch arrives with)
        out = self._to_physical(out, meta)
        # one write task per tablet: each append adds one file per
        # affected tablet instead of num_tasks × num_tablets shards
        out = out.repartition(self._num_parts(meta), *[F.col(c) for c in pcs])
        if meta.range_splits:
            # ordered files inside each range directory: Parquet row-group
            # min/max stats on the range key become tight, so a pushed
            # range predicate skips row groups within the surviving dirs
            out = out.sortWithinPartitions(*pcs, meta.key_columns[0])
        parts = pcs + (meta.partition_by or [])
        out.write.mode(mode).partitionBy(*parts).parquet(str(path))

    def _stage(self, meta: TableMeta, df: DataFrame) -> list[str]:
        """Write ``df`` in ``meta``'s layout to a staging directory private
        to this writer, then move its part files into ``data/`` under the
        same relative paths — the one move a data file ever makes (part
        names embed a per-write UUID, so they never collide).  Returns
        those data-relative paths; empty when ``df`` has no rows (empty
        partitions write no part files)."""
        stage = self._dir(meta.name) / "staging" / uuid.uuid4().hex
        self._write_partitioned(meta, df, stage, "overwrite")
        data = self._data_dir(meta.name)
        added = []
        for p in sorted(stage.rglob("*.parquet")):
            rel = p.relative_to(stage)
            (data / rel).parent.mkdir(parents=True, exist_ok=True)
            p.rename(data / rel)
            added.append(str(rel))
        shutil.rmtree(stage, ignore_errors=True)
        return added

    def _tablet_of(self, meta: TableMeta, rel: str) -> tuple:
        """Tablet id of a data-relative file (its leading ``kr=``/``kb=``
        path segments), as a tuple matching :meth:`_part_cols`."""
        parts = Path(rel).parts[: len(self._part_cols(meta))]
        return tuple(int(p.split("=", 1)[1]) for p in parts)

    def _replace_buckets(
        self,
        meta: TableMeta,
        base: int,
        files: list[str],
        bucket_ids: list[tuple],
        df: DataFrame,
        op: str,
    ) -> None:
        """Commit ``df`` (exactly the surviving rows of the tablets
        ``bucket_ids``) as those tablets' new contents: version
        ``base + 1`` lists base's ``files`` minus those tablets' files
        plus the staged ones.  Every other tablet's files carry over
        unread and unwritten."""
        added = self._stage(meta, df)
        replaced = {tuple(t) for t in bucket_ids}
        kept = [f for f in files if self._tablet_of(meta, f) not in replaced]
        self._commit_version(meta, base, op, kept + added)

    def insert(self, name: str, df: DataFrame) -> None:
        """INSERT with silent duplicate-key ignore
        (``HiveKuduTableOutputFormat.java:101``): deterministic
        first-write-wins within the batch (see ``_dedup_batch``), existing
        rows win against the batch.  Pure append: the dup-key anti-join
        reads only the buckets the batch hashes into (partition pruning on
        ``kb``), and no existing file is ever rewritten."""
        meta = self._writable_meta(name)
        base, files = self._head(meta.name)
        if not files:
            # empty-table fast path (r21): with no existing rows the
            # anti-join is dead plan AND the bucket-id collect has no
            # pruning consumer — its only remaining use was the
            # empty-batch guard.  Write in ONE action (no persist:
            # nothing reads the batch twice), then commit only if the
            # write landed files — an empty batch writes no part files
            # and must not commit a version.
            batch = self._dedup_batch(meta, self._validate_batch(meta, df))
            added = self._stage(meta, batch)
            if added:
                self._commit_version(meta, base, "insert", added)
            return
        # persist the deduped batch: it feeds two actions (the bucket-id
        # collect and the write), and unpersisted the dedup window (and
        # the caller's whole upstream plan) would execute twice (r21,
        # guide §5 "reused and recomputing is more expensive")
        batch = self._dedup_batch(meta, self._validate_batch(meta, df)).persist()
        try:
            affected = self._affected_buckets(meta, batch)
            if not affected:
                return
            existing_keys = (
                self._read_files(meta, files)
                .filter(self._part_filter(meta, affected))
                .select(*meta.key_columns)
            )
            # hint-free: AQE sizes the anti-join at runtime (the key
            # set of a few buckets is usually broadcastable; at scale
            # it may not be).
            fresh = batch.join(
                existing_keys, on=meta.key_columns, how="left_anti"
            )
            added = self._stage(meta, fresh)
            self._commit_version(meta, base, "insert", files + added)
        finally:
            batch.unpersist()

    def insert_values(self, name: str, rows: list[tuple]) -> None:
        """INSERT INTO ... VALUES — the reference demo's ingest path
        (``README.md:35,113-130``)."""
        meta = self._writable_meta(name)
        df = self.spark.createDataFrame(rows, meta.schema)
        self.insert(name, df)

    def upsert(
        self, name: str, df: DataFrame, *, delete_keys: DataFrame | None = None
    ) -> None:
        """PK MERGE semantics (reference goal ``doc/DesignDocument.md:9``):
        batch rows replace existing rows with the same key.  Only the
        buckets the batch touches are read and rewritten.

        ``delete_keys`` (a DataFrame containing the key columns) folds a
        keyed delete into the SAME bucket rewrite and version commit —
        the mview refresh's upsert-changed-groups + delete-emptied-groups
        pair becomes one commit instead of two (r7 verdict item 6; both
        mutations mostly touch the same buckets, so two commits paid the
        rewrite twice).  A key present in both the batch and
        ``delete_keys`` is ASSERTED (batch wins): deletion applies to
        existing rows only.  Partition exprs derive from key columns, so
        key-only delete frames prune to their buckets like any batch."""
        meta = self._writable_meta(name)
        base, files = self._head(meta.name)
        # persist: the deduped batch feeds three plan branches (bucket-id
        # collect, the anti-join key set, the rewritten-bucket union) —
        # unpersisted, the dedup window and the caller's upstream plan
        # would run once per branch (r21)
        batch = self._dedup_batch(meta, self._validate_batch(meta, df)).persist()
        drop = None
        try:
            # ONE bucket-id collect for batch ∪ delete keys (r21): the
            # partition exprs derive from key columns only, so a key-only
            # probe frame buckets identically to the full batch — the
            # separate second collect over the delete keys was a whole
            # extra Spark job per keyed-delete upsert (mview refresh,
            # MERGE with DELETE clauses).
            probe = batch.select(*meta.key_columns)
            if delete_keys is not None:
                drop = delete_keys.select(*meta.key_columns).distinct().persist()
                probe = probe.unionByName(drop)
            affected = sorted(set(self._affected_buckets(meta, probe)))
            if not affected:
                return
            existing = (
                self._read_files(meta, files)
                .filter(self._part_filter(meta, affected))
                .drop(*self._part_cols(meta))
            )
            gone = batch.select(*meta.key_columns)
            if drop is not None:
                gone = gone.unionByName(drop)
            kept = existing.join(gone, on=meta.key_columns, how="left_anti")
            self._replace_buckets(
                meta, base, files, affected, kept.unionByName(batch), "upsert"
            )
        finally:
            batch.unpersist()
            if drop is not None:
                drop.unpersist()

    def truncate(self, name: str) -> int:
        """TRUNCATE TABLE: commit ONE new version listing no files — even
        when the table is already empty (the committed version IS the
        contract: callers may time-travel across the truncate and rely on
        the version advancing).  A manifest write; no file is read, moved
        or deleted (older versions keep theirs until :meth:`vacuum`)."""
        meta = self._writable_meta(name)
        return self._commit_version(meta, self._head(meta.name)[0], "truncate", [])

    def delete_where(self, name: str, predicate: Column | str) -> None:
        """DELETE (reference goal ``doc/DesignDocument.md:9,46-48``).

        SQL DELETE semantics: a row is deleted only where the predicate is
        definitively TRUE — rows where it evaluates to NULL are kept
        (``~pred`` alone would drop them).  Only buckets that contain at
        least one matching row are rewritten."""
        meta = self._writable_meta(name)
        base, files = self._head(meta.name)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # alias the (logical-named) scan with the table name so ANSI
        # correlated subqueries — EXISTS (SELECT .. WHERE other.k = t.k)
        # — resolve their outer references
        raw = self._read_files(meta, files).alias(meta.name)
        affected = [
            tuple(r)
            for r in raw.filter(F.coalesce(pred, F.lit(False)))
            .select(*self._part_cols(meta))
            .distinct()
            .collect()
        ]
        if not affected:
            return
        remaining = (
            raw.filter(self._part_filter(meta, affected))
            .filter(~F.coalesce(pred, F.lit(False)))
            .drop(*self._part_cols(meta))
        )
        self._replace_buckets(meta, base, files, affected, remaining, "delete")

    def compact(self, name: str, max_files_per_bucket: int = 8) -> list[int]:
        """Rewrite buckets whose file count exceeds the threshold into one
        file each.  Append-only inserts trade write amplification for
        file-count growth; periodic compaction is the amortized cleanup —
        the analogue of Kudu's background rowset compaction.  Only
        crowded buckets are rewritten (same bucket-scoped I/O bound as
        upsert/delete); returns the compacted bucket ids."""
        meta = self._writable_meta(name)
        base, files = self._head(meta.name)
        pcs = self._part_cols(meta)
        per_tablet = Counter(self._tablet_of(meta, f) for f in files)
        crowded = [t for t, n in per_tablet.items() if n > max_files_per_bucket]
        if not crowded:
            return []
        rows = (
            self._read_files(meta, files)
            .filter(self._part_filter(meta, crowded))
            .drop(*pcs)
        )
        self._replace_buckets(meta, base, files, crowded, rows, "compact")
        # single-level layouts keep the scalar-id public contract
        if len(pcs) == 1:
            return sorted(t[0] for t in crowded)
        return sorted(crowded)

    def rebucket(self, name: str, new_buckets: int) -> TableMeta:
        """Partition evolution: rewrite the table under a new hash-bucket
        count — what a table does when its write volume outgrows (or
        never needed) its original layout.  Kudu cannot change a table's
        hash partitioning after creation; lakehouse formats can
        (Iceberg partition-spec evolution), and at 100 TB the ability to
        go from 32 to 512 buckets without recreating the table is the
        difference between a weekend migration and one command.

        By definition the one full-rewrite layout operation (every row
        changes tablet): the new layout's files are staged like any
        write and committed as a version listing only them, so PRIOR
        snapshots keep reading their own (old-layout) files.  The commit
        and the meta write (the new bucket count) are two steps: a crash
        between them leaves the sub-second window documented in SCALE.md
        "Known harness-vs-cluster deltas" (a real deployment fronts both
        with a catalog-service CAS).  Range-partitioned tables evolve their
        in-range bucket count via ``hash_in_range`` instead."""
        meta = self._writable_meta(name)
        if meta.range_splits:
            raise TableStoreError(
                "rebucket applies to hash-bucketed layouts; range tables "
                "evolve hash_in_range via a range-layout rewrite"
            )
        if not isinstance(new_buckets, int) or new_buckets < 1:
            raise TableStoreError(
                f"new_buckets must be a positive int, got {new_buckets!r}"
            )
        base, files = self._head(meta.name)
        new_meta = TableMeta(
            meta.name,
            meta.schema,
            meta.key_columns,
            meta.extended,
            meta.partition_by,
            range_splits=None,
            hash_in_range=None,
            num_buckets=new_buckets,
            physical=meta.physical,
            used_physical=meta.used_physical,
        )
        # write the NEW layout (bucket exprs come from new_meta)
        rows = self._read_files(meta, files).select(
            *[f.name for f in meta.schema.fields]
        )
        added = self._stage(new_meta, rows)
        # commit first: a CommitConflict leaves the meta untouched
        self._commit_version(new_meta, base, "rebucket", added)
        self._write_meta(new_meta)
        return new_meta

    def insert_overwrite(self, name: str, df: DataFrame) -> None:
        """INSERT OVERWRITE (Hive staple): replace table contents with the
        batch (dup keys within the batch collapse deterministically, like
        insert).  The one whole-table mutation by definition: the batch
        is staged like any write and committed as a version listing only
        its files."""
        meta = self._writable_meta(name)
        base = self._head(meta.name)[0]
        batch = self._dedup_batch(meta, self._validate_batch(meta, df))
        added = self._stage(meta, batch)
        self._commit_version(meta, base, "insert_overwrite", added)


def _segment_runs(
    store: TableStore, name: str, lo: int, hi: int
) -> dict[tuple[int, int], list[str]]:
    """Per-file contiguous presence runs across manifests ``lo..hi``:
    ``{(first_v, last_v): [data-relative paths]}``.

    Data files are immutable and enter/leave a manifest exactly once
    (rewrites mint new part names), so a file's presence across the
    segment is one contiguous version interval — the grouping below is
    nevertheless robust to gaps.  Files present in EVERY version of the
    segment are EXCLUDED: an immutable file spanning the whole range
    means none of its keys changed state inside it (a key lives in
    exactly one tablet file per version), the same cancellation
    :meth:`TableStore.diff` applies to the two-manifest common set —
    extended here to ``hi - lo`` manifests at once."""
    present: dict[str, list[int]] = {}
    for v in range(lo, hi + 1):
        for rel in store._read_manifest(name, v)["files"]:
            present.setdefault(rel, []).append(v)
    groups: dict[tuple[int, int], list[str]] = {}
    for rel in sorted(present):
        vs = present[rel]
        start = prev = vs[0]
        for v in vs[1:] + [None]:  # sentinel flushes the last run
            if v is not None and v == prev + 1:
                prev = v
                continue
            if (start, prev) != (lo, hi):
                groups.setdefault((start, prev), []).append(rel)
            if v is not None:
                start = prev = v
    return groups


def _changefeed_batched(
    store: TableStore, name: str, lo: int, hi: int
) -> DataFrame:
    """One segment of the change feed as a SINGLE window pass — the
    batched alternative to :meth:`TableStore.changefeed`'s one
    manifest-diff join per commit.

    Motivation (measured, BENCH_NOTES r18): each per-commit diff join
    carries ~0.4-0.75 s of fixed scheduling/shuffle overhead, so a
    400-commit tail pays 400 tiny joins regardless of how the plan is
    segmented.  Here each changed tablet file is read ONCE, tagged with
    its presence interval ``[_first_v, _last_v]`` from the manifests
    (:func:`_segment_runs`), and the whole segment's events fall out of
    one ``lag``/``lead`` window over the key — one shuffle per segment
    instead of K joins.

    Event reconstruction: a key's history inside the segment is a set
    of disjoint presence runs.  Comparing each run with its
    predecessor/successor over the key window yields exactly the
    per-commit diff events:

    * run starts at ``a > lo`` with the previous run ending at ``a-1``
      and different values → ``update_before``/``update_after`` @ a;
      identical values → no event (pure file rewrite — the same
      cancellation diff's unchanged-filter applies);
    * run starts at ``a > lo`` with no adjacent predecessor →
      ``insert`` @ a;
    * run ends at ``b < hi`` with no adjacent successor → ``delete``
      @ b+1 carrying the departing values (diff's delete rows likewise
      carry OLD values).

    Row set, column names and per-event semantics are IDENTICAL to
    ``changefeed`` over the same range (pinned by the fixed-history
    equality test and the randomized MVCC model differential in
    tests/test_snapshots.py)."""
    meta = store.table_meta(name)
    keys = meta.key_columns
    vals = [f.name for f in meta.schema.fields if f.name not in keys]
    logical = [f.name for f in meta.schema.fields]
    out_schema = T.StructType(
        [*meta.schema.fields]
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.IntegerType(), False),
        ]
    )
    groups = _segment_runs(store, meta.name, lo, hi)
    if not groups:
        return store.spark.createDataFrame([], out_schema)
    parts = []
    for (a, b), rels in sorted(groups.items()):
        parts.append(
            store._read_files(meta, rels)
            .select(*logical)
            .withColumn("_first_v", F.lit(a).cast("int"))
            .withColumn("_last_v", F.lit(b).cast("int"))
        )
    runs = parts[0]
    for p in parts[1:]:
        runs = runs.unionByName(p)
    # window columns are materialized into the row BEFORE the event
    # array is built: lag/lead must sit directly under a Window
    # operator — nesting them inside array/when under the explode
    # Project is an unsupported-expression analysis error
    kw = Window.partitionBy(*keys).orderBy("_first_v")
    runs = runs.withColumn("_prev_last", F.lag("_last_v").over(kw)).withColumn(
        "_next_first", F.lead("_first_v").over(kw)
    )
    prev_last, next_first = F.col("_prev_last"), F.col("_next_first")
    continuation = prev_last.isNotNull() & (
        prev_last == F.col("_first_v") - F.lit(1)
    )
    gap_after = next_first.isNull() | (
        next_first > F.col("_last_v") + F.lit(1)
    )
    arriving = F.col("_first_v") > F.lit(lo)
    departing = F.col("_last_v") < F.lit(hi)
    if vals:
        img = F.struct(*[F.col(c).alias(c) for c in vals])
        runs = runs.withColumn("_img", img).withColumn(
            "_prev_img", F.lag("_img").over(kw)
        )
        # same per-column null-safe rule as diff's unchanged-filter
        changed = F.lit(False)
        for c in vals:
            changed = changed | ~F.col(f"_prev_img.{c}").eqNullSafe(
                F.col(f"_img.{c}")
            )
        ev = lambda tag, im, v: F.struct(  # noqa: E731
            F.lit(tag).alias("t"), im.alias("img"), v.cast("int").alias("v")
        )
        at_first = F.col("_first_v")
        events = F.array(
            F.when(
                arriving & continuation & changed,
                ev("update_before", F.col("_prev_img"), at_first),
            ),
            F.when(
                arriving & continuation & changed,
                ev("update_after", F.col("_img"), at_first),
            ),
            F.when(
                arriving & ~continuation,
                ev("insert", F.col("_img"), at_first),
            ),
            F.when(
                departing & gap_after,
                ev("delete", F.col("_img"), F.col("_last_v") + F.lit(1)),
            ),
        )
        out = runs.select(
            *keys, F.explode(F.filter(events, lambda e: e.isNotNull())).alias("_e")
        ).select(
            *keys,
            *[F.col(f"_e.img.{c}").alias(c) for c in vals],
            F.col("_e.t").alias("_change_type"),
            F.col("_e.v").alias("_commit_version"),
        )
    else:
        # key-only table: updates cannot exist (nothing to change), so
        # the feed is inserts at non-adjacent arrivals and deletes at
        # non-adjacent departures
        ev = lambda tag, v: F.struct(  # noqa: E731
            F.lit(tag).alias("t"), v.cast("int").alias("v")
        )
        events = F.array(
            F.when(arriving & ~continuation, ev("insert", F.col("_first_v"))),
            F.when(
                departing & gap_after,
                ev("delete", F.col("_last_v") + F.lit(1)),
            ),
        )
        out = runs.select(
            *keys, F.explode(F.filter(events, lambda e: e.isNotNull())).alias("_e")
        ).select(
            *keys,
            F.col("_e.t").alias("_change_type"),
            F.col("_e.v").alias("_commit_version"),
        )
    return out.select(*logical, "_change_type", "_commit_version")


_SEGFEED_CACHE_MAX = 64
"""Default LRU capacity of a store's ``_segfeed_cache``: materialized
K-commit spans held across ALL tables of one store (r19 advice: the
cache was unbounded, so a session sweeping many distinct deep ranges
accumulated checkpoint blocks with no eviction).  64 spans x 64-commit
default segmentation covers a 4096-commit working set per store; a
test or an unusual session can override per instance via a
``_segfeed_cache_max`` attribute on the store (an attribute, not a
constructor knob, so the class body stays untouched)."""


class _SegfeedSpan:
    """One cached, materialized changefeed span: the
    ``localCheckpoint``'d DataFrame plus a release handle that actually
    frees the pinned executor blocks.

    ``DataFrame.unpersist()`` does NOT release localCheckpoint blocks —
    it talks to the SQL cache manager, while the checkpoint pins the
    query's internal RDD in the BlockManager (verified empirically:
    ``sc.getPersistentRDDs`` keeps the entry after ``df.unpersist()``).
    Release digs the ``LogicalRDD``'s wrapped RDD out of the analyzed
    plan and unpersists THAT.  The handle is spelled ``unpersist()`` so
    :meth:`TableStore._invalidate_segfeeds`'s existing best-effort
    ``entry.unpersist()`` on DROP TABLE / VACUUM frees blocks too."""

    __slots__ = ("df",)

    def __init__(self, df: DataFrame) -> None:
        self.df = df

    def unpersist(self) -> None:
        try:
            # analyzed plan of a localCheckpoint result IS the
            # LogicalRDD node; .rdd() is the checkpointed RDD itself
            self.df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            try:
                self.df.unpersist()
            except Exception:
                pass  # session already stopped / blocks already freed


def _segfeed_cache_put(
    store: TableStore, key: tuple, span: _SegfeedSpan, protect: set
) -> None:
    """Insert ``key`` as most-recent and evict least-recently-used
    entries past the cap, unpersisting each evicted span's blocks.
    Keys in ``protect`` (the spans of the feed being assembled RIGHT
    NOW) are never evicted — evicting one would hand the caller a union
    over freed blocks — so a single range wider than the cap may exceed
    it until the next put."""
    cache = store._segfeed_cache
    cache[key] = span
    cap = max(1, getattr(store, "_segfeed_cache_max", _SEGFEED_CACHE_MAX))
    if len(cache) <= cap:
        return
    for old_key in [k for k in cache if k not in protect]:
        if len(cache) <= cap:
            break
        cache.pop(old_key).unpersist()


def changefeed_segmented(
    store: TableStore,
    name: str,
    from_version: int,
    to_version: int,
    *,
    segment_commits: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """:meth:`TableStore.changefeed` with BOUNDED PLAN WIDTH for deep
    commit histories (r17 verdict).

    ``changefeed`` builds one union term (a per-commit manifest-diff
    join) per commit in the range — the right DATA scale shape (each
    term reads only the tablets that commit touched), but the PLAN is
    O(commits) terms wide, and chained ``unionByName`` analysis cost
    grows superlinearly with term count on the driver: a consumer
    tailing ``CHANGES BETWEEN 0 AND 5000`` on a long-lived table would
    pay minutes of driver-side analysis before any data moves.

    This wrapper slices the range into ``segment_commits``-sized spans
    and cuts lineage between them with an eager ``localCheckpoint``:
    each span's O(K)-term plan is analyzed and executed on its own, the
    materialized span becomes a single leaf, and the final feed is a
    union over ceil(range/K) leaves — plan width O(range/K), analysis
    linear in range.  Row set, ordering columns and schema are
    IDENTICAL to ``changefeed`` (pinned by tests/test_snapshots.py).

    Spans are aligned to ABSOLUTE ``segment_commits`` boundaries (r19
    advice): the materialized unit cached for ``CHANGES BETWEEN 0 AND
    128`` is the same unit ``0 AND 192`` needs for its first two spans,
    so the natural CDC pattern — re-issuing the feed with an advancing
    upper bound — re-pays only the NEW spans, and distinct overlapping
    ranges share entries instead of each pinning a full-history copy.
    Cache entries are therefore bounded at O(history / K) per table,
    and a global LRU cap (``_SEGFEED_CACHE_MAX``, per-store override
    via a ``_segfeed_cache_max`` attribute) unpersists the
    least-recently-used spans' blocks on eviction.  A feed handle stays
    valid while its spans are live; a handle whose spans were evicted
    or invalidated (DROP TABLE / VACUUM) must be re-issued — the feed
    of a fixed committed range is deterministic, so a re-issue is
    always safe.  The partial head/tail of a misaligned range (< K
    commits each) stay LAZY and uncached.

    Cache keys carry the COMMIT TIMESTAMPS of the span's endpoint
    manifests alongside the table name (r19 advice): a rename followed
    by re-creating a table under the old name yields manifests with new
    commit timestamps, so the recreated table can never serve its
    predecessor's cached spans — without requiring ``rename_table``
    itself to hook invalidation.  (Entries orphaned by a rename are
    unreachable and age out of the LRU.)

    ``materialize=False`` assembles the same union WITHOUT running
    anything: cached spans bind their pinned blocks, missing spans bind
    the lazy batched builder, and nothing is checkpointed or cached —
    the EXPLAIN path binds through this, so the plan it shows is
    exactly what a read would execute, with the span routing and cache
    probing owned HERE instead of duplicated at the SQL layer (r19
    advice).

    Tradeoff, stated: ``localCheckpoint`` pins each span to executor
    block storage, so a lost executor invalidates the feed mid-read on
    a real cluster — acceptable for a CDC tail (re-tail the range; the
    feed is deterministic for fixed versions).  A durability-critical
    consumer should instead stage spans to a table (CTAS over
    ``CHANGES BETWEEN`` per span), which this function deliberately
    does not do implicitly: writing into the store from a read API
    would surprise VACUUM accounting.

    Small ranges (``<= 4`` commits) delegate to the plain per-commit
    feed — the SQL surface routes every ``CHANGES BETWEEN`` read here,
    and the common incremental tail must pay neither a checkpoint nor
    a window shuffle.  Mid-size ranges (5..``segment_commits``) take
    the batched single-window builder LAZILY (no checkpoint: the plan
    is one window over O(runs) reads, cheap to analyze) — only deep
    ranges pay materialization, and only once (see the cache below).

    Segments materialize CONCURRENTLY (a small thread pool submitting
    independent Spark jobs — the scheduler interleaves them across the
    executor pool), so on a cluster the deep-tail wall is bounded by
    total changed data, not segment count x per-job latency.  Measured
    at a 200-real-commit history on local[8] (SCALE.md "CDC plan
    width"): raw DataFrame BUILD alone is superlinear in depth (4.9 s
    at 25 commits -> 44 s at 200, pure driver analysis before any data
    moves, re-paid on EVERY action), while the segmented feed's
    driver cost is linear, its first materialization is comparable
    (~78 s vs raw's 83 s build+count), and every subsequent action
    re-reads checkpointed blocks in ~0.3 s.
    """
    if segment_commits < 1:
        raise TableStoreError("segment_commits must be >= 1")
    if to_version - from_version <= min(4, segment_commits):
        # the common incremental tail (a few commits): the plain
        # per-commit feed — no checkpoint, no window, and it keeps the
        # independent reference implementation on the hot differential
        # path (the model test compares it against the batched builder)
        return store.changefeed(name, from_version, to_version)
    if to_version - from_version <= segment_commits:
        # mid-size range: ONE lazy window pass (no checkpoint — plan
        # width is O(runs), small enough to analyze directly) instead
        # of up to `segment_commits` manifest-diff joins
        return _changefeed_batched(store, name, from_version, to_version)
    # deep range.  Same preamble as the raw feed: a dropped or
    # renamed-away name raises NoSuchTableError here — never a silent
    # answer from a surviving cache entry (r19 advice)
    meta = store.table_meta(name)
    if meta.external:
        raise TableStoreError("external tables have no snapshots")
    norm = meta.name
    # surface missing/vacuumed endpoints before any span job runs
    store._read_manifest(norm, from_version)
    store._read_manifest(norm, to_version)
    k = segment_commits
    lo_aligned = -(-from_version // k) * k  # first k-boundary >= from
    hi_aligned = (to_version // k) * k      # last k-boundary <= to
    spans: list[tuple[int, int, bool]] = []  # (lo, hi, aligned-full?)
    if lo_aligned > from_version:
        spans.append((from_version, min(lo_aligned, to_version), False))
    spans.extend((m, m + k, True) for m in range(lo_aligned, hi_aligned, k))
    if hi_aligned < to_version and hi_aligned >= from_version:
        spans.append((hi_aligned, to_version, False))

    def _lazy(lo: int, hi: int) -> DataFrame:
        # same routing as the tiny/mid-size top-level paths
        if hi - lo <= 4:
            return store.changefeed(name, lo, hi)
        return _changefeed_batched(store, name, lo, hi)

    # the feed for a FIXED, committed version range is immutable (later
    # commits extend history, never rewrite it), so an aligned span
    # materialized once serves every later range that contains it.  The
    # endpoint-manifest timestamps in the key are the table's identity
    # across rename/re-create (see docstring).
    segs: list[DataFrame | None] = []
    fresh: list[tuple[int, tuple[int, int], tuple]] = []
    touched: set = set()
    for lo, hi, full in spans:
        if not full:
            segs.append(_lazy(lo, hi))
            continue
        key = (
            norm, lo, hi,
            store._read_manifest(norm, lo).get("ts"),
            store._read_manifest(norm, hi).get("ts"),
        )
        touched.add(key)
        hit = store._segfeed_cache.get(key)
        if hit is not None:
            # refresh LRU recency
            store._segfeed_cache[key] = store._segfeed_cache.pop(key)
            segs.append(hit.df)
        elif materialize:
            segs.append(None)
            fresh.append((len(segs) - 1, (lo, hi), key))
        else:
            segs.append(_lazy(lo, hi))

    if fresh:

        def _materialize(item: tuple) -> tuple:
            idx, (lo, hi), key = item
            # batched: the span's events come from ONE window pass over
            # run-tagged tablet reads (see _changefeed_batched) — the
            # per-commit manifest-diff joins were the measured fixed
            # cost of a deep first touch (~0.4-0.75 s/commit,
            # BENCH_NOTES r18)
            df = _changefeed_batched(store, name, lo, hi).localCheckpoint(
                eager=True
            )
            return idx, key, df

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(fresh))) as pool:
            done = list(pool.map(_materialize, fresh))
        # cache insertion on the caller thread, in span order, with this
        # call's spans protected from its own evictions
        for idx, key, df in done:
            segs[idx] = df
            _segfeed_cache_put(store, key, _SegfeedSpan(df), touched)

    out = segs[0]
    for seg in segs[1:]:
        out = out.unionByName(seg)
    return out
