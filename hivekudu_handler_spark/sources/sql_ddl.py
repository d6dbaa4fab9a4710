"""SQL-text DDL front-end over the managed keyed-table layer.

The reference's user-facing contract is SQL DDL with table properties —
``CREATE TABLE ... STORED BY 'KuduStorageHandler' TBLPROPERTIES
('kudu.table_name'=..., 'kudu.key_columns'='id')`` (reference
``README.md:22-31``; property keys ``HiveKuduConstants.java:28-30``;
create hook ``KuduStorageHandler.java:223-278``).  :class:`TableStore`
exposes the same capabilities as a Python API; this module closes the
contract gap by parsing the SQL statement shapes the reference's golden
test exercises (``README.md:14-218``) and routing them to the store:

* ``CREATE TABLE name (col type, ...) [STORED BY '...']
  [TBLPROPERTIES ('kudu.key_columns'='a,b', ...)]``
* ``DROP TABLE [IF EXISTS] name``   (``KuduStorageHandler.java:292-310``)
* ``CREATE TABLE t2 LIKE t1`` — an empty table copying the source's
  full definition (schema, keys, tablet layout, DEFAULTs); data and
  version history are not copied
* ``DESCRIBE [FORMATTED] name``     (demo ``README.md:33,76-110``)
* ``DESCRIBE HISTORY name`` — the version log as (version, op,
  n_files) rows (Delta's spelling over the managed table layer's
  manifests)
* ``SHOW PARTITIONS name`` — the live tablet layout as (partition,
  n_files) rows, metadata-only from the current manifest (Impala's
  spelling over Kudu tablet listings)
* ``SHOW TABLES [LIKE 'pat']`` / ``SHOW CREATE TABLE name`` — Hive's
  catalog verbs, available over handler tables in Hive itself
  (the reference depends on hive-exec, ``pom.xml:28-32``): SHOW TABLES
  lists managed tables AND views with Hive's ``*``/``|`` glob dialect;
  SHOW CREATE TABLE renders the canonical re-parseable DDL (round-trip
  pinned in tests) — views render their ``CREATE VIEW``, external
  attachments render ``CREATE EXTERNAL TABLE ... LOCATION`` (honest but
  rejected on re-parse, exactly like the reference's create hook)
* ``INSERT INTO [TABLE] name [(col, ...)] VALUES (...), (...)``,
  ``INSERT/UPSERT INTO name [(col, ...)] SELECT ...``, and
  ``INSERT OVERWRITE [TABLE] name [(col, ...)] SELECT ...`` (Hive's
  full-replace bulk load, one commit; UPSERT OVERWRITE rejected) —
  the literal and bulk-load spellings share one alignment path (demo
  ``README.md:35,113-170``); with a column list, omitted columns fill
  their declared ``DEFAULT``, else NULL when nullable, else error —
  CREATE TABLE accepts Kudu-style column attributes ``col type
  [NOT NULL] [DEFAULT <literal>]`` (NOT NULL enforced loudly at write
  time on every path); a partial-column UPSERT keeps the existing
  row's unlisted values (Impala/Kudu semantics)
* ``TRUNCATE TABLE name`` — remove every row as one committed version
  (time travel across it keeps working)
* ``UPSERT INTO [TABLE] name VALUES (...)`` — the Kudu dialect's
  first-class merge verb (Impala-on-Kudu syntax; the reference's
  declared goal, ``doc/DesignDocument.md:9``), routed to the store's
  keyed upsert
* ``CREATE TABLE name TBLPROPERTIES (...) AS SELECT ...`` — CTAS
  (Impala-on-Kudu verb): schema from the Spark-SQL query result, key
  columns from the property, rows through the keyed insert
* ``ALTER TABLE name ADD COLUMN[S] ... | DROP COLUMN c |
  RENAME COLUMN a TO b | CHANGE a b type | RENAME TO t2`` — the Kudu
  AlterTableRequest verbs (metadata-only; CHANGE with a different type
  is rejected, as in Kudu)
* ``CREATE VIEW name AS SELECT ...`` / ``DROP VIEW [IF EXISTS] name`` —
  HiveQL logical views: SQL text persisted in the store, re-planned
  against current data at every scan (base-table references only)
* ``CREATE MATERIALIZED VIEW name AS SELECT g…, COUNT(*) AS n_rows,
  SUM(c) AS sum_c FROM base GROUP BY g…`` and ``ALTER MATERIALIZED VIEW
  name REBUILD`` — Hive's materialized-view verbs; REBUILD runs the
  INCREMENTAL manifest-diff merge, never a base rescan (the accepted
  shape is the self-maintainable SUM/COUNT class — MIN/MAX rejected
  with the reason)
* ``CREATE BLOOM INDEX ON t (col)`` / ``ALTER BLOOM INDEX ON t (col)
  REBUILD`` / ``DROP BLOOM INDEX ON t (col)`` — per-data-file Bloom
  sidecar for point reads on NON-layout columns (Kudu's rowset key
  Blooms, generalized); REBUILD is INCREMENTAL — only files added since
  the indexed version are hashed (manifest set difference), removed
  files' rows dropped
* ``SELECT ... FROM t VERSION AS OF n`` — Kudu READ_AT_SNAPSHOT with
  the Delta/Iceberg spelling, on the QUERY path: each clause binds a
  temp view over ``scan_snapshot`` so one statement may join several
  versions of the same table
* ``EXPLAIN [FORMATTED|EXTENDED] <query>`` — rides the query path
  (Spark executes it natively); version-clause rewrites apply to the
  inner query first, so time-travel/changefeed plans are inspectable
* ``SELECT ... FROM t TIMESTAMP AS OF '<epoch-or-iso>'`` — wall-clock
  time travel resolving to the newest commit at or before the instant
  (Kudu READ_AT_SNAPSHOT is natively timestamp-addressed)
* ``VACUUM t [RETAIN n VERSIONS]`` — the ancient-history mark; returns
  (dropped_versions, deleted_files).  Retention counts VERSIONS, not
  Delta's hours — our history is a version log
* ``SELECT ... FROM t CHANGES BETWEEN a AND b`` — the CDC changefeed
  (Kudu diff scans / Delta ``table_changes``) on the QUERY path: the
  table's columns plus ``_change_type`` ∈ {insert, update_before,
  update_after, delete} and ``_commit_version``; also accepted inside
  a MERGE subquery source and INSERT ... SELECT, so downstream CDC
  apply is one composed statement
* ``ANALYZE TABLE name COMPUTE STATISTICS [FOR COLUMNS]`` — Hive's
  ``compute_stats``: one-pass per-column profile (nulls/NDV/min/max +
  row count) persisted to the table's stats sidecar
* ``UPDATE name SET col = expr[, ...] [WHERE pred]`` and
  ``DELETE FROM name WHERE pred`` — the reference's *declared* DML goals
  (``doc/DesignDocument.md:9,46-48``; TODO at
  ``HiveKuduTableOutputFormat.java:175-176``), routed to the store's
  keyed upsert/delete.  Key columns may not be SET (the storage model's
  primary key is immutable, as in Kudu); predicates and SET expressions
  are parsed by Spark's own expression parser, and may carry IN/EXISTS
  subqueries over other store tables (views are bound before predicate
  evaluation — Catalyst plans them as semi-joins against the keyed
  scan).
* ``MERGE INTO target USING source ON cond WHEN [NOT] MATCHED
  [BY SOURCE|TARGET] [AND c] THEN UPDATE SET ... | DELETE |
  INSERT ...`` — the ANSI/Hive-ACID spelling of the same declared
  upsert goal, including ANSI-2023 ``NOT MATCHED BY SOURCE``:
  first-true-claims clause order, cardinality-violation detection, one
  bucket-scoped ``store.upsert(batch, delete_keys=...)`` commit
  (see :func:`_merge`).

Rejections mirror the reference byte-for-byte in spirit:

* ``CREATE EXTERNAL TABLE`` → error (``KuduStorageHandler.java:230-234``)
* a ``LOCATION`` clause → error (``KuduStorageHandler.java:235-237``)
* missing/empty key-columns property → error (the reference logs
  "kudu.key_columns not specified" and fails, ``KuduStorageHandler.java:
  242-247``)

Anything that is a *query* (SELECT ...) is not routed here — queries go
through Spark SQL directly (register the table as a view via
``store.scan(name)``); the reference likewise delegated all queries to
Hive's engine and owned only the DDL hooks.  The exception is an exact
key-equality point SELECT, which :func:`sql` serves on the driver with
:meth:`TableStore.fetch`, the way Hive serves a simple select-filter as
a fetch task instead of a job.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.errors import ParseException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hivekudu_handler_spark.sources.sql_lex import (
    skip_blank,
    sql_char_states,
    tokens,
)
from hivekudu_handler_spark.sources.table_store import (
    NOT_NULL_MSG_PREFIX,
    NotFetchable,
    TableStore,
    TableStoreError,
)
from hivekudu_handler_spark.sources.tablets import local_frame

# the reference's property names (HiveKuduConstants.java:28-30) plus the
# bare spelling for convenience
_KEY_PROPS = ("kudu.key_columns", "key_columns")
_SPLIT_PROPS = ("kudu.range_splits", "range_splits")
_NUM_BUCKETS_PROPS = ("kudu.num_buckets", "num_buckets")
_PARTITION_BY_PROPS = ("kudu.partition_by", "partition_by")
_HASH_IN_RANGE_PROPS = ("kudu.hash_in_range", "hash_in_range")


def _parse_splits(text: str) -> list:
    """``'10,20,30'`` → [10, 20, 30]: ints if every token parses as int,
    else floats if every token parses as float, else strings — one kind
    for the whole list (the store validates monotonicity and column-type
    match)."""
    tokens = [t.strip() for t in text.split(",") if t.strip()]
    for conv in (int, float):
        try:
            return [conv(t) for t in tokens]
        except ValueError:
            continue
    return tokens


class SqlDdlError(TableStoreError):
    """A statement this front-end cannot accept (bad syntax or a shape
    the reference explicitly rejects)."""


def _strip_stmt(sql: str) -> str:
    """Trim whitespace, a trailing ``;``, and LEADING comments: a
    comment before the first token is legal SQL (``/* hint */ EXPLAIN
    SELECT ...``) and must not hide the statement verb from the query
    detector or the DDL verb dispatch (r19 advice — the changefeed
    rewrite's lazy-EXPLAIN path never fired behind a leading comment).
    Comments INSIDE the statement are preserved; Spark strips those
    itself."""
    return sql[skip_blank(sql) :].strip().rstrip(";").strip()


def _match_paren_block(text: str, start: int) -> tuple[str, int]:
    """Return (inner, index_after_close) for the paren group opening at
    ``start`` (which must be '('): the first ``)`` token back at the
    opening's depth (:func:`sql_lex.tokens`)."""
    assert text[start] == "("
    for tok in tokens(text[start:]):
        if tok.text == ")" and tok.depth == 0:
            end = start + tok.start
            return text[start + 1 : end], end + 1
    raise SqlDdlError(f"unbalanced parentheses in statement: {text!r}")


def _parse_props(inner: str) -> dict[str, str]:
    """Parse ``'k'='v', 'k2'='v2'`` TBLPROPERTIES content."""
    props: dict[str, str] = {}
    for m in re.finditer(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'", inner):
        props[m.group(1).replace("''", "'")] = m.group(2).replace("''", "'")
    return props


_CREATE_RE = re.compile(
    r"^CREATE\s+(?P<external>EXTERNAL\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^DROP\s+TABLE\s+(?P<if_exists>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)
_DESCRIBE_HISTORY_RE = re.compile(
    r"^(?:DESCRIBE|DESC)\s+HISTORY\s+(?P<name>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)

_DESCRIBE_RE = re.compile(
    r"^(?:DESCRIBE|DESC)\s+(?:FORMATTED\s+)?(?P<name>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(
    r"^SHOW\s+TABLES(?:\s+LIKE\s+'(?P<pat>[^']*)')?$", re.IGNORECASE
)
_SHOW_CREATE_RE = re.compile(
    r"^SHOW\s+CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)$", re.IGNORECASE
)
_SHOW_PARTITIONS_RE = re.compile(
    r"^SHOW\s+PARTITIONS\s+(?P<name>[A-Za-z_]\w*)$", re.IGNORECASE
)
_CREATE_LIKE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+LIKE\s+"
    r"(?P<src>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)


def _has_subquery(text: str) -> bool:
    """True when ``text`` carries a subquery: a ``(`` token whose next
    non-blank token is SELECT (IN, EXISTS and scalar subqueries all
    spell it).  A literal like ``SET v = '(select x)'`` is one string
    token, so a plain literal DML never pays the register_views()
    re-plan (and its temp-view clobbering); a comment between the two
    is skipped: ``( /*c*/ SELECT`` still counts."""
    if "select" not in text.lower():
        return False  # nothing to lex for
    code = [t.text for t in tokens(text) if t.kind not in ("space", "comment")]
    return any(
        a == "(" and b.upper() == "SELECT" for a, b in zip(code, code[1:])
    )
# the name must be separated from VALUES by whitespace or a column list
# — 'INSERT INTO docsVALUES (...)' must NOT backtrack-parse as table
# 'docs' (r17 review)
_INSERT_RE = re.compile(
    r"^(?P<verb>INSERT|UPSERT)\s+(?:INTO|(?P<ow>OVERWRITE))\s+"
    r"(?:TABLE\s+)?(?P<name>[A-Za-z_]\w*)"
    r"(?:\s*\(\s*(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"\s+VALUES\s+(?P<values>\(.*\))$",
    re.IGNORECASE | re.DOTALL,
)


def _overwrite_verb(m: re.Match) -> str:
    """Resolve the effective write verb of an INSERT/UPSERT match whose
    grammar admits OVERWRITE — shared by the VALUES and SELECT forms so
    both reject UPSERT OVERWRITE identically."""
    verb = m.group("verb").upper()
    if m.group("ow"):
        if verb == "UPSERT":
            raise SqlDdlError(
                "UPSERT OVERWRITE is not a statement: use INSERT "
                "OVERWRITE (replace) or UPSERT INTO (merge)"
            )
        return "OVERWRITE"
    return verb
_INSERT_SELECT_RE = re.compile(
    r"^(?P<verb>INSERT|UPSERT)\s+(?:INTO|(?P<ow>OVERWRITE))\s+"
    r"(?:TABLE\s+)?(?P<name>[A-Za-z_]\w*)"
    r"(?:\s*\(\s*(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"\s+(?P<query>(?:SELECT|WITH)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
# Impala dialect: the TABLE keyword is optional, IF EXISTS tolerated
_TRUNCATE_RE = re.compile(
    r"^TRUNCATE\s+(?:TABLE\s+)?(?:(?P<if_exists>IF\s+EXISTS)\s+)?"
    r"(?P<name>[A-Za-z_]\w*)$",
    re.IGNORECASE,
)
_DELETE_STMT_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<name>[A-Za-z_]\w*)\s+WHERE\s+(?P<pred>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^UPDATE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _split_where(text: str) -> tuple[str, str | None]:
    """Split ``text`` into (before, predicate) on the first WHERE word
    token at paren depth 0 that starts the text or follows whitespace
    (:func:`sql_lex.tokens`) — so a literal like ``'x WHERE y'`` is
    never misread as a predicate boundary."""
    prev = "space"
    for tok in tokens(text):
        if tok.depth == 0 and prev == "space" and tok.text.upper() == "WHERE":
            pred = text[tok.start + 5 :].strip()
            if not pred:
                # a bare trailing WHERE must not silently widen the
                # statement to every row
                raise SqlDdlError("WHERE clause has no predicate")
            return text[: tok.start], pred
        prev = tok.kind
    return text, None


def execute(store: TableStore, sql: str) -> DataFrame | None:
    """Parse one SQL statement and drive ``store``.

    Returns a DataFrame for statements that produce rows (DESCRIBE),
    ``None`` for pure DDL/DML.
    """
    stmt = _strip_stmt(sql)
    verb = stmt.split(None, 1)[0].upper() if stmt else ""
    if verb == "CREATE":
        m = _BLOOM_INDEX_RE.match(stmt)
        if m:
            store.create_bloom_index(m.group("name"), m.group("col"))
            return None
        m = _CREATE_LIKE_RE.match(stmt)
        if m:
            # CREATE TABLE t2 LIKE t1 (Hive/Impala-on-Kudu): an empty
            # table with the source's full definition — implemented as
            # re-parsing the source's CANONICAL rendered DDL (the SHOW
            # CREATE TABLE text, whose round-trip is already pinned)
            # with the name swapped, so every definition facet SHOW
            # CREATE carries (NOT NULL, DEFAULTs, key columns, tablet
            # layout) copies by construction.  Data, version history,
            # and physical-name mappings are NOT copied: the clone
            # starts life at v0.
            if store.has_view(m.group("src")):
                raise SqlDdlError(
                    "CREATE TABLE LIKE a view is not supported: views "
                    "have no storage definition to copy (use CTAS)"
                )
            src = store.table_meta(m.group("src"))
            if src.external:
                raise SqlDdlError(
                    "CREATE TABLE LIKE an external attachment is not "
                    "supported: it has no managed layout to copy"
                )
            if store.mview_manifest_path(src.name).exists():
                raise SqlDdlError(
                    "CREATE TABLE LIKE a materialized view is not "
                    "supported: the materialization's refresh linkage "
                    "cannot be copied (CREATE MATERIALIZED VIEW again, "
                    "or CTAS for a plain snapshot of its rows)"
                )
            if src.extended:
                # extended (array/binary) column types are not
                # expressible in the core DDL grammar the rendered-text
                # path re-parses — clone directly, keeping the source's
                # deliberate nullability flags
                store.create_table(
                    m.group("name"),
                    src.schema,
                    list(src.key_columns),
                    extended=True,
                    partition_by=list(src.partition_by)
                    if src.partition_by
                    else None,
                    range_splits=list(src.range_splits)
                    if src.range_splits
                    else None,
                    hash_in_range=src.hash_in_range,
                    num_buckets=src.num_buckets,
                    defaults=dict(src.defaults) if src.defaults else None,
                    respect_nullability=True,
                )
                return None
            ddl = _render_create(store, src.name).replace(
                f"CREATE TABLE {src.name} (",
                f"CREATE TABLE {m.group('name')} (",
                1,
            )
            return execute(store, ddl)
        m = _MVIEW_CREATE_RE.match(stmt)
        if m:
            return _create_mview(store, m)
        # CREATE VIEW name AS SELECT ... — HiveQL's logical-view verb;
        # stored as SQL text, re-planned at every scan (table_store.py)
        m = re.match(
            r"^CREATE\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+(?P<select>SELECT\b.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            store.create_view(m.group("name"), m.group("select"))
            return None
        return _create(store, stmt)
    if verb == "DROP":
        m = _BLOOM_INDEX_DROP_RE.match(stmt)
        if m:
            store.drop_bloom_index(m.group("name"), m.group("col"))
            return None
        m = re.match(
            r"^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            from hivekudu_handler_spark.sources.table_store import (
                NoSuchTableError,
            )

            try:
                store.drop_view(m.group("name"))
            except NoSuchTableError:
                # IF EXISTS tolerates absence; the try/except (rather
                # than a membership pre-check) keeps the case-folding
                # rule in ONE place — the store's _norm_name
                if not re.match(
                    r"^DROP\s+VIEW\s+IF\s+EXISTS\b", stmt, re.IGNORECASE
                ):
                    raise
            return None
        return _drop(store, stmt)
    if verb in ("DESCRIBE", "DESC"):
        hm = _DESCRIBE_HISTORY_RE.match(stmt)
        if hm:
            return store.history(hm.group("name"))
        m = _DESCRIBE_RE.match(stmt)
        if not m:
            raise SqlDdlError(f"cannot parse DESCRIBE statement: {sql!r}")
        return store.describe(m.group("name"))
    if verb == "SHOW":
        return _show(store, stmt)
    if verb in ("INSERT", "UPSERT"):
        # UPSERT INTO is the Kudu dialect's first-class verb (Impala on
        # Kudu; the reference's declared merge goal,
        # doc/DesignDocument.md:9): same literal syntax as INSERT, PK
        # merge semantics instead of duplicate-key ignore
        if _INSERT_SELECT_RE.match(stmt):
            return _insert_select(store, stmt)
        return _insert(store, stmt)
    if verb == "TRUNCATE":
        m = _TRUNCATE_RE.match(stmt)
        if not m:
            raise SqlDdlError(f"cannot parse TRUNCATE statement: {stmt!r}")
        # Impala/Kudu TRUNCATE [TABLE] [IF EXISTS]: every row removed as
        # ONE committed version — the version advances even on an empty
        # table, so time travel across the truncate always works
        if m.group("if_exists") and not store.has_table(m.group("name")):
            return None
        store.truncate(m.group("name"))
        return None
    if verb == "DELETE":
        m = _DELETE_STMT_RE.match(stmt)
        if not m:
            # a WHERE-less DELETE would silently truncate; require intent
            raise SqlDdlError(
                f"cannot parse DELETE statement (WHERE is mandatory): {sql!r}"
            )
        # predicates may carry IN/EXISTS subqueries over other store
        # tables (ANSI DELETE); bind the views so Catalyst resolves
        # them — only when a subquery is present (registration re-plans
        # every stored view, and a plain literal DELETE shouldn't pay
        # that or clobber same-named session temp views)
        if _has_subquery(m.group("pred")):
            store.register_views()
        store.delete_where(m.group("name"), m.group("pred"))
        return None
    if verb == "UPDATE":
        if _has_subquery(stmt):  # WHERE or SET, as in DELETE
            store.register_views()
        return _update(store, stmt)
    if verb == "MERGE":
        return _merge(store, stmt)
    if verb == "ALTER":
        # ALTER BLOOM INDEX ON t (col) REBUILD — like the mview verb, the
        # implementation is INCREMENTAL: only files added since the
        # indexed version are hashed (manifest set difference)
        m = _BLOOM_INDEX_REBUILD_RE.match(stmt)
        if m:
            store.refresh_bloom_index(m.group("name"), m.group("col"))
            return None
        # ALTER MATERIALIZED VIEW mv REBUILD — Hive's refresh verb,
        # implemented as the INCREMENTAL merge (manifest-diff deltas),
        # not the rebuild the name suggests
        m = re.match(
            r"^ALTER\s+MATERIALIZED\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s+REBUILD$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            store.refresh_materialized_view(m.group("name"))
            return None
        return _alter(store, stmt)
    if verb == "VACUUM":
        # `VACUUM t [RETAIN n VERSIONS]` — Kudu's ancient-history mark
        # on the SQL surface.  Deliberate dialect note: retention is in
        # VERSIONS (our history is a version log), not Delta's hours.
        m = re.match(
            r"^VACUUM\s+(?P<name>[A-Za-z_]\w*)"
            r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise SqlDdlError(f"cannot parse VACUUM statement: {sql!r}")
        keep = int(m.group("n")) if m.group("n") is not None else 1
        res = store.vacuum(m.group("name"), keep_last=keep)
        return local_frame(
            store.spark,
            [(len(res["dropped_versions"]), res["deleted_files"])],
            "dropped_versions int, deleted_files int",
        )
    if verb == "ANALYZE":
        # Hive's `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS]`:
        # one aggregate pass, profile persisted to the stats sidecar and
        # returned in tidy form.  EXACT ndv here (the statement is the
        # audit surface); the approx default lives on the Python API.
        m = re.match(
            r"^ANALYZE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+"
            r"COMPUTE\s+STATISTICS(\s+FOR\s+COLUMNS)?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise SqlDdlError(f"cannot parse ANALYZE statement: {sql!r}")
        store.analyze(m.group("name"), approx=False)
        return store.stats_df(m.group("name"))
    raise SqlDdlError(
        f"unsupported statement (this front-end owns DDL and DML only, "
        f"queries go through Spark SQL): {sql!r}"
    )


_QUERY_RE = re.compile(
    # EXPLAIN [EXTENDED|FORMATTED|...] <query> rides the query path:
    # Spark SQL executes EXPLAIN natively (one plan-text row), and the
    # version-clause rewrites apply to the inner query first so a user
    # can EXPLAIN a time-travel or changefeed read.  Known fidelity
    # limit (r17 verdict, documented not fixed): the plan text shows
    # the bound rewrite views (`__tt_<table>_v<n>` / `__cf_<table>_...`)
    # where the user wrote `t VERSION AS OF n` etc. — the alias encodes
    # table and version, so the plan stays readable, and re-aliasing
    # would mislead when one query joins two versions of the same table
    r"^(SELECT|WITH|VALUES|EXPLAIN)\b",
    re.IGNORECASE,
)

_BLOOM_INDEX_RE = re.compile(
    r"^CREATE\s+BLOOM\s+INDEX\s+ON\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<col>[A-Za-z_]\w*)\s*\)$",
    re.IGNORECASE,
)
_BLOOM_INDEX_REBUILD_RE = re.compile(
    r"^ALTER\s+BLOOM\s+INDEX\s+ON\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<col>[A-Za-z_]\w*)\s*\)\s+REBUILD$",
    re.IGNORECASE,
)
_BLOOM_INDEX_DROP_RE = re.compile(
    r"^DROP\s+BLOOM\s+INDEX\s+ON\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<col>[A-Za-z_]\w*)\s*\)$",
    re.IGNORECASE,
)

# CREATE MATERIALIZED VIEW mv AS
#   SELECT g[, ...], COUNT(*) AS n_rows[, SUM(c) AS sum_c ...]
#   FROM base GROUP BY g[, ...]
# — the self-maintainable SUM/COUNT-groupby IVM shape; anything else is
# rejected with the reason (MIN/MAX need base rescans on retraction).
_MVIEW_CREATE_RE = re.compile(
    r"^CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+"
    r"SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<base>[A-Za-z_]\w*)\s+"
    r"GROUP\s+BY\s+(?P<group>[A-Za-z_][\w\s,]*)$",
    re.IGNORECASE | re.DOTALL,
)


def _create_mview(store: TableStore, m: re.Match) -> None:
    group_cols = [c.strip() for c in m.group("group").split(",")]
    sum_cols: list[str] = []
    seen_groups: list[str] = []
    has_count = False
    for item in _split_top(m.group("select")):
        item = item.strip()
        cnt = re.match(r"^COUNT\(\s*\*\s*\)\s+AS\s+n_rows$", item, re.IGNORECASE)
        agg = re.match(
            r"^SUM\(\s*([A-Za-z_]\w*)\s*\)\s+AS\s+sum_\1$", item, re.IGNORECASE
        )
        if cnt:
            has_count = True
            continue
        if agg:
            sum_cols.append(agg.group(1))
        elif re.match(r"^[A-Za-z_]\w*$", item):
            seen_groups.append(item)
        else:
            raise SqlDdlError(
                f"materialized views support the COUNT(*)/SUM group-by "
                f"shape only (self-maintainable from deltas); cannot "
                f"accept select item: {item!r}"
            )
    if seen_groups != group_cols:
        raise SqlDdlError(
            f"materialized view SELECT columns {seen_groups} must match "
            f"GROUP BY {group_cols}"
        )
    if not has_count:
        # the materialization ALWAYS carries n_rows (the refresh's
        # liveness counter), so a SELECT without it would silently gain
        # a column the user never declared — refuse instead (r6 advice)
        raise SqlDdlError(
            "materialized view SELECT must include 'COUNT(*) AS n_rows' "
            "(the maintained aggregate stores it to track group liveness)"
        )
    store.create_materialized_view(
        m.group("name"), m.group("base"), group_cols, sum_cols
    )
    return None


def _show(store: TableStore, stmt: str) -> DataFrame:
    """``SHOW TABLES [LIKE 'pat']`` / ``SHOW CREATE TABLE name``.

    Hive's LIKE dialect: ``*`` globs, ``|`` separates alternatives.
    SHOW CREATE TABLE emits the CANONICAL managed-table DDL (columns,
    key/layout TBLPROPERTIES) — re-parsing the emitted text through
    ``execute`` recreates an equivalent table (round-trip pinned in
    tests/test_new_surface_r8.py).  A view renders its ``CREATE VIEW``;
    an external attachment renders ``CREATE EXTERNAL TABLE ...
    LOCATION``, which this front-end honestly REJECTS on re-parse, the
    same way the reference's create hook refuses externals
    (``KuduStorageHandler.java:230-237``)."""
    m = _SHOW_TABLES_RE.match(stmt)
    if m:
        names = sorted(set(store.list_tables()) | set(store.list_views()))
        pat = m.group("pat")
        if pat is not None:
            import fnmatch

            alts = [a for a in pat.split("|") if a]
            names = [
                n for n in names if any(fnmatch.fnmatchcase(n, a) for a in alts)
            ]
        return local_frame(store.spark, [(n,) for n in names], "tab_name string")
    m = _SHOW_PARTITIONS_RE.match(stmt)
    if m:
        # Impala-on-Kudu's SHOW PARTITIONS / `kudu table list`: the live
        # tablet layout, metadata-only from the current manifest
        return store.show_partitions(m.group("name"))
    m = _SHOW_CREATE_RE.match(stmt)
    if m:
        return local_frame(
            store.spark,
            [(_render_create(store, m.group("name")),)],
            "createtab_stmt string",
        )
    raise SqlDdlError(f"cannot parse SHOW statement: {stmt!r}")


def _render_create(store: TableStore, name: str) -> str:
    view_sql = store.view_sql(name) if store.has_view(name) else None
    if view_sql is not None:
        return f"CREATE VIEW {name} AS {view_sql}"
    meta = store.table_meta(name)

    def attrs(f) -> str:
        out = ""
        if not f.nullable and f.name not in meta.key_columns:
            out += " NOT NULL"
        if meta.defaults and f.name in meta.defaults:
            out += f" DEFAULT {meta.defaults[f.name]}"
        return out

    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString()}{attrs(f)}"
        for f in meta.schema.fields
    )
    props = [f"'kudu.key_columns'='{','.join(meta.key_columns)}'"]
    if meta.range_splits:
        splits = ",".join(str(s) for s in meta.range_splits)
        props.append(f"'kudu.range_splits'='{splits}'")
    if meta.hash_in_range is not None:
        props.append(f"'kudu.hash_in_range'='{meta.hash_in_range}'")
    if meta.num_buckets is not None:
        props.append(f"'kudu.num_buckets'='{meta.num_buckets}'")
    if meta.partition_by:
        props.append(f"'kudu.partition_by'='{','.join(meta.partition_by)}'")
    external = "EXTERNAL " if meta.external else ""
    location = f"\nLOCATION '{meta.location}'" if meta.external else ""
    return (
        f"CREATE {external}TABLE {meta.name} (\n  {cols}\n)"
        f"{location}\nTBLPROPERTIES ({', '.join(props)})"
    )


def sql(store: TableStore, text: str) -> DataFrame | None:
    """One-stop SQL entry point over a :class:`TableStore` — the session
    surface a reference user actually typed at (``README.md:14-43`` mixes
    DDL, DML, and SELECTs in one script).

    Queries (SELECT / WITH / VALUES / EXPLAIN) register every store table as a temp
    view and run through Spark SQL — the same division of labor as the
    reference, where the handler owned DDL hooks and Hive's engine ran
    the queries; everything else routes to :func:`execute`.  View
    registration is a metadata operation (``store.scan`` is lazy), so a
    query statement costs nothing beyond its own plan.

    The one exception is an exact key-equality point SELECT
    (:func:`_point_select`), which Hive too would serve as a fetch task
    instead of a job: :meth:`TableStore.fetch` answers it on the driver
    from the key's tablet.  It registers no temp views, plans nothing
    and starts no Spark job; its result has the schema and rows the
    Spark SQL path returns.
    """
    stmt = _strip_stmt(text)
    if _QUERY_RE.match(stmt):
        served = _point_select(store, stmt)
        if served is not None:
            return served
        return _query(store, stmt)
    return execute(store, text)


_NAME_RE = re.compile(r"[A-Za-z_]\w*", re.ASCII)
_INT_RE = re.compile(r"[0-9]+")
_POINT_WORDS = frozenset({"SELECT", "FROM", "WHERE", "AND"})


def _point_select(store: TableStore, stmt: str) -> DataFrame | None:
    """Serve an exact key-equality point SELECT with
    :meth:`TableStore.fetch` — no temp views, no plan, no Spark job — or
    return ``None`` for Spark SQL to run the statement.

    The shape served, read off :func:`sql_lex.tokens`:
    ``SELECT * | c1, c2, … FROM t WHERE k1 = lit [AND k2 = lit …]``
    with plain names only, each selected column once, ``t`` a managed
    store table and the conjuncts covering every key column exactly
    once.  A literal is an integer (optionally negated) for an integral
    key, fitting its type, or a single-quoted string with no backslash
    and no doubled quote for a STRING key.  Anything else in the text —
    a comment, a quoted identifier, OR, IN, a cast, LIMIT, an alias, a
    version clause — and every store view, external table or other
    name goes to Spark."""
    toks = [t for t in tokens(stmt) if t.kind != "space"]
    if any(t.kind not in ("word", "code", "str") for t in toks):
        return None

    def word(i: int) -> str | None:
        t = _at(toks, i)
        return t.text.upper() if t is not None and t.kind == "word" else None

    def name(i: int) -> str | None:
        w = word(i)
        if w is None or w in _POINT_WORDS or not _NAME_RE.fullmatch(toks[i].text):
            return None
        return toks[i].text

    def code(i: int, c: str) -> bool:
        t = _at(toks, i)
        return t is not None and t.kind == "code" and t.text == c

    if word(0) != "SELECT":
        return None
    if code(1, "*"):
        columns, i = None, 2
    else:
        columns, i = [], 1
        while True:
            col = name(i)
            if col is None:
                return None
            columns.append(col)
            i += 1
            if not code(i, ","):
                break
            i += 1
        if len({c.lower() for c in columns}) != len(columns):
            return None
    table = name(i + 1)
    if word(i) != "FROM" or table is None or word(i + 2) != "WHERE":
        return None
    i += 3
    key: dict[str, object] = {}
    while True:
        col = name(i)
        if col is None or not code(i + 1, "=") or col.lower() in {k.lower() for k in key}:
            return None
        value, i = _point_literal(toks, i + 2)
        if value is None:
            return None
        key[col] = value
        if i == len(toks):
            break
        if word(i) != "AND":
            return None
        i += 1
    if not store.has_table(table):
        return None
    try:
        return store.fetch(table, key, columns)
    except NotFetchable:
        return None


def _at(toks: list, i: int):
    return toks[i] if i < len(toks) else None


def _point_literal(toks: list, i: int) -> tuple[object, int]:
    """``(value, index after it)`` of the literal at ``toks[i]``: an int
    from digits or ``-`` digits, a str from a single-quoted literal with
    no backslash and no doubled quote; ``(None, i)`` otherwise."""
    t = _at(toks, i)
    if t is None:
        return None, i
    if t.kind == "str":
        inner = t.text[1:-1]
        if not (len(t.text) >= 2 and t.text[0] == t.text[-1] == "'"):
            return None, i
        if "'" in inner or "\\" in inner:
            return None, i
        return inner, i + 1
    sign = 1
    if t.kind == "code" and t.text == "-":
        sign, i = -1, i + 1
        t = _at(toks, i)
    if t is not None and t.kind == "word" and _INT_RE.fullmatch(t.text):
        return sign * int(t.text), i + 1
    return None, i


def split_statements(text: str) -> list[str]:
    """Split a multi-statement SQL script into statements: ``;`` is a
    separator only in plain code — string literals (either quote style,
    doubling and backslash escapes honored) keep their semicolons, and
    ``--`` line / ``/* */`` bracketed comments are stripped
    (:func:`sql_lex.tokens`).

    A comment is a TOKEN SEPARATOR in SQL, so each run of comments emits
    one space — dropping the characters outright merged the neighbors
    (``SELECT 1/*c*/FROM t`` became ``SELECT 1FROM t``, r17 advice)."""
    stmts: list[list[str]] = [[]]
    prev = None
    for tok in tokens(text):
        if tok.text == ";":
            stmts.append([])
        elif tok.kind != "comment":
            stmts[-1].append(tok.text)
        elif prev != "comment":
            stmts[-1].append(" ")
        prev = tok.kind
    return [s for s in ("".join(p).strip() for p in stmts) if s]


def run_script(store: TableStore, text: str) -> list[DataFrame | None]:
    """Execute a multi-statement SQL script in order — the way the
    reference is actually driven (``hive -f`` over the demo script,
    ``README.md:14-218`` mixes DDL, DML, and SELECTs in one file).
    Each statement routes through :func:`sql`; the per-statement
    results (DataFrame for row-producing statements, None otherwise)
    return in order.  A failing statement stops the script at that
    point — earlier statements' effects stand, exactly like the
    reference's CLI.

    Returned DataFrames are LAZY plans bound at statement time: collect
    a result before a LATER statement in the same script mutates or
    drops the tables it reads (``SELECT * FROM t; DROP TABLE t`` — the
    first result is unreadable after the drop), exactly as a cursor
    over a dropped table would be.  A point SELECT served on the driver
    (see :func:`sql`) is the exception: its rows are read when its
    statement runs, so later statements do not change them.  The reference's CLI prints each
    result before running the next statement; callers wanting that
    semantics should consume each result as it is produced."""
    return [sql(store, stmt) for stmt in split_statements(text)]


_TIME_TRAVEL_RE = re.compile(
    r"\b([A-Za-z_]\w*)\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.IGNORECASE
)

_CHANGES_RE = re.compile(
    r"\b([A-Za-z_]\w*)\s+CHANGES\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)\b",
    re.IGNORECASE,
)

_TS_TRAVEL_RE = re.compile(
    r"\b([A-Za-z_]\w*)\s+TIMESTAMP\s+AS\s+OF\s+'((?:[^']|'')*)'",
    re.IGNORECASE,
)


def _parse_travel_ts(raw: str) -> float:
    """Epoch seconds from a TIMESTAMP AS OF literal: epoch float or ISO
    datetime (naive = UTC, matching the session timezone pin).  ``''``
    quote escapes are unescaped first so a malformed literal still gets
    the clean SqlDdlError, never a dangling-fragment Spark error."""
    raw = raw.replace("''", "'")
    try:
        return float(raw)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(raw)
    except ValueError:
        raise SqlDdlError(
            f"cannot parse TIMESTAMP AS OF literal: {raw!r} "
            "(epoch seconds or ISO datetime)"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _splice_rewrite(stmt: str, pattern: re.Pattern, bind) -> str:
    """Shared quote-masked splice loop for version-addressed read
    rewrites: every ``pattern`` occurrence that starts in code (not in a
    string literal, quoted identifier or comment) is replaced by the
    view alias ``bind(match)`` returns (``bind`` creates the temp view
    and returns its name, or returns ``None`` to leave the occurrence
    untouched).  The statement is lexed only once a pattern matches."""
    states: list[str] | None = None
    out: list[str] = []
    last = 0
    for m in pattern.finditer(stmt):
        states = states or sql_char_states(stmt)
        if states[m.start()] != "code":
            continue
        alias = bind(m)
        if alias is None:
            continue
        out.append(stmt[last : m.start()])
        out.append(alias)
        last = m.end()
    out.append(stmt[last:])
    return "".join(out)


def _bind_snapshot_view(store: TableStore, table: str, version: int) -> str:
    """Temp view over ``scan_snapshot(table, version)`` under the shared
    ``__tt_`` alias scheme — the one binding both time-travel spellings
    (VERSION AS OF and TIMESTAMP AS OF) resolve through."""
    alias = f"__tt_{table.lower()}_v{version}"
    store.scan_snapshot(table, version).createOrReplaceTempView(alias)
    return alias


def _rewrite_time_travel(store: TableStore, stmt: str) -> str:
    """``FROM t VERSION AS OF n`` — Kudu READ_AT_SNAPSHOT surfaced in
    SQL (Delta/Iceberg spell it the same way).  Each occurrence binds a
    temp view over ``scan_snapshot(t, n)`` and the clause is rewritten
    to that view's name, so one query may join several versions of the
    same table.  Occurrences INSIDE string literals are left untouched
    (the phrase in a WHERE comparison is data, not syntax).  Unknown
    tables or vacuumed versions fail loudly inside ``scan_snapshot``;
    statements without the clause pass through unchanged."""

    def bind(m: re.Match) -> str:
        return _bind_snapshot_view(store, m.group(1), int(m.group(2)))

    return _splice_rewrite(stmt, _TIME_TRAVEL_RE, bind)


def _rewrite_changefeed(store: TableStore, stmt: str) -> str:
    """``FROM t CHANGES BETWEEN a AND b`` — the CDC changefeed read
    surfaced in SQL (Delta spells it ``table_changes('t', a, b)``): the
    clause becomes a temp view over :meth:`TableStore.changefeed`, whose
    columns are the table's plus ``_change_type`` / ``_commit_version``.
    A range whose changed files fit the driver budget is read with
    pyarrow while the view is bound, starting no job, and the view is a
    local relation.  Any other range binds the lazy feed — one scan and
    one window, built from the range's manifests without running a job.
    Either way ``EXPLAIN`` starts no job: under the budget it reads the
    changed files and shows the ``LocalRelation``, over it it shows the
    plan a read would run and reads nothing.  Same
    string-literal guard as the VERSION AS OF rewrite, and the two
    compose in one statement (e.g. a feed joined against the snapshot
    it starts from).

    Disambiguation: unlike ``VERSION AS OF``, the phrase ``x CHANGES
    BETWEEN 1 AND 3`` is valid predicate SQL when ``changes`` is a
    column (``WHERE changes BETWEEN 1 AND 3`` would match with
    ``x = WHERE``), so an occurrence is only a feed clause when the
    leading identifier names a MANAGED STORE TABLE — anything else
    passes through to Spark's parser untouched.  The cost: a feed read
    of a nonexistent table surfaces as Spark's unresolved-relation
    error, not a TableStoreError."""

    def bind(m: re.Match):
        table, frm, to = m.group(1), int(m.group(2)), int(m.group(3))
        if not store.has_table(table):
            return None
        alias = f"__cf_{table.lower()}_v{frm}_v{to}"
        store.changefeed(table, frm, to).createOrReplaceTempView(alias)
        return alias

    return _splice_rewrite(stmt, _CHANGES_RE, bind)


def _rewrite_timestamp_travel(store: TableStore, stmt: str) -> str:
    """``FROM t TIMESTAMP AS OF '<epoch-or-iso>'`` — wall-clock time
    travel (Kudu READ_AT_SNAPSHOT is natively timestamp-addressed;
    Delta spells it the same way): the literal resolves through
    :meth:`TableStore.version_at` to the newest commit at or before
    that instant, then reads like ``VERSION AS OF``.  The three-word
    phrase followed by a string literal cannot occur in valid predicate
    SQL, so no table-existence disambiguation is needed."""

    def bind(m: re.Match) -> str:
        table = m.group(1)
        version = store.version_at(table, _parse_travel_ts(m.group(2)))
        return _bind_snapshot_view(store, table, version)

    return _splice_rewrite(stmt, _TS_TRAVEL_RE, bind)


def _rewrite_version_clauses(store: TableStore, stmt: str) -> str:
    """Apply every version-addressed read rewrite (version + timestamp
    time travel + changefeed) — the single seam the SELECT router, CTAS,
    INSERT ... SELECT, and MERGE subquery sources all go through."""
    return _rewrite_changefeed(
        store, _rewrite_timestamp_travel(store, _rewrite_time_travel(store, stmt))
    )


_CF_VIEW_RE = re.compile(r"\b__cf_\w+")


def _query(store: TableStore, text: str) -> DataFrame:
    """The query ``text`` planned by Spark SQL after the version-clause
    rewrites: the one path of a SELECT, a CTAS or ``INSERT … SELECT``
    query and a MERGE subquery source.  Every store table and view is
    registered as a temp view first (:meth:`TableStore.register_views`,
    a scan per table) unless :func:`_names_relation` shows the query
    reads none.  The ``__cf_`` views a ``CHANGES BETWEEN`` rewrite bound
    hold their change rows in the JVM; they are dropped once Spark has
    analyzed the statement, and the returned frame still reads them."""
    stmt = _rewrite_version_clauses(store, text)
    if _names_relation(store.spark, stmt):
        store.register_views()
    try:
        return store.spark.sql(stmt)
    finally:
        for view in set(_CF_VIEW_RE.findall(stmt)) - set(_CF_VIEW_RE.findall(text)):
            store.spark.catalog.dropTempView(view)


def _names_relation(spark, stmt: str) -> bool:
    """Whether the query ``stmt`` may read a table or view by name, by
    Spark's own parser (used to classify only, never for its ``.sql()``
    text): its plan holds an ``UnresolvedRelation`` anywhere, subqueries
    included, or an ``IDENTIFIER(…)`` name, which the parser leaves to
    analysis, or a CTE or a command (EXPLAIN), whose inner plans the
    pattern bits do not cover.  A text the parser rejects counts as
    naming one."""
    patterns = spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
    except ParseException:
        return True
    names = (
        "UNRESOLVED_RELATION", "PLAN_WITH_UNRESOLVED_IDENTIFIER", "UNRESOLVED_IDENTIFIER",
        "UNRESOLVED_WITH", "COMMAND",
    )
    return any(plan.containsPattern(getattr(patterns, p)()) for p in names)


def _split_top(text: str) -> list[str]:
    """Split on comma tokens at paren depth 0 (:func:`sql_lex.tokens`);
    a blank last part is dropped."""
    parts: list[str] = []
    last = 0
    for tok in tokens(text):
        if tok.text == "," and tok.depth == 0:
            parts.append(text[last : tok.start])
            last = tok.start + 1
    if text[last:].strip():
        parts.append(text[last:])
    return parts


def _update(store: TableStore, stmt: str) -> None:
    m = _UPDATE_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse UPDATE statement: {stmt!r}")
    name = m.group("name")
    sets_text, pred = _split_where(m.group("rest"))
    meta = store.table_meta(name)
    types = {f.name: f.dataType for f in meta.schema.fields}
    assignments: dict[str, str] = {}
    for part in _split_top(sets_text):
        col, eq, expr_text = part.partition("=")
        col, expr_text = col.strip(), expr_text.strip()
        if not eq or not col or not expr_text:
            raise SqlDdlError(f"cannot parse SET assignment: {part.strip()!r}")
        if col not in types:
            raise SqlDdlError(f"unknown column in SET: {col!r}")
        if col in meta.key_columns:
            # the storage model's primary key is immutable (as in Kudu);
            # a key rewrite is a delete + insert, not an UPDATE
            raise SqlDdlError(
                f"key column {col!r} may not be updated (primary key is "
                "immutable; DELETE + INSERT to change identity)"
            )
        assignments[col] = expr_text
    # alias with the table name so correlated subqueries in WHERE
    # resolve their outer references (same rule as delete_where)
    scan = store.scan(name).alias(name)
    rows = scan.filter(F.expr(pred)) if pred else scan
    # one select, so every SET expression evaluates against the PRE-update
    # row (SQL semantics: 'SET a = b, b = a' swaps); sequential withColumn
    # would feed later assignments the earlier assignments' new values
    rows = rows.select(
        *[
            F.expr(assignments[c]).cast(types[c]).alias(c)
            if c in assignments
            else F.col(c)
            for c in rows.columns
        ]
    )
    # keyed upsert: only the buckets holding matched rows are rewritten;
    # guarded so a NOT NULL violation surfaces as SqlDdlError like every
    # other DML path (r17 review)
    _run_guarded(lambda: store.upsert(name, rows))


_MERGE_HEAD_RE = re.compile(
    r"^MERGE\s+INTO\s+(?P<target>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)[A-Za-z_]\w*))?"
    r"\s+USING\s+",
    re.IGNORECASE,
)
_MERGE_ALIAS_RE = re.compile(
    r"^\s*(?:AS\s+)?(?P<alias>(?!ON\b)[A-Za-z_]\w*)"
    r"(?:\s*\((?P<cols>[A-Za-z_][\w\s,]*)\))?",
    re.IGNORECASE,
)
# each side of a MERGE's WHEN clauses, as the statement spells it
_CLAUSE_NAMES = {
    "matched": "MATCHED",
    "not_target": "NOT MATCHED",
    "not_source": "NOT MATCHED BY SOURCE",
}
_CLAUSE_HEAD_RE = re.compile(
    r"^(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"\s+(?P<rest>(?:AND|THEN)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _find_boundary_then(text: str) -> int:
    """Index of the clause-level THEN in ``AND <cond> THEN <action>`` —
    the first THEN token at paren depth 0, outside any CASE...END
    expression (a CASE in the condition owns its own THENs) and not a
    dotted column (``s.then``), or -1.  The naive lazy-regex split
    mis-parsed ANSI-valid conditions like ``AND CASE WHEN x THEN 1 ELSE
    0 END = 1 THEN DELETE`` (r16 review)."""
    for tok in tokens(text):
        if tok.text.upper() == "THEN" and tok.depth == tok.case == 0:
            if not tok.dotted:
                return tok.start
    return -1
_INSERT_ACTION_RE = re.compile(
    r"^INSERT\s+(?:\*|(?:\((?P<cols>[^)]*)\)\s+)?VALUES\s*(?P<vals>\(.+\)))$",
    re.IGNORECASE | re.DOTALL,
)
# executor-raised guard messages (F.raise_error inside a DML batch):
# _run_guarded re-raises them as SqlDdlError
_MERGE_CARDINALITY_MSG = (
    "MERGE cardinality violation: a target row was updated or deleted "
    "by more than one source row"
)
_NULL_KEY_MSG = (
    "INSERT produced a NULL key column value; key columns must "
    "be non-NULL"
)


def _run_guarded(write) -> None:
    """Run a store write whose batch carries ``raise_error`` guard
    columns, translating the executor-raised guard messages back into
    the statement-level :class:`SqlDdlError` the SQL layer promises.
    Only genuinely user-raised errors are rewrapped (Spark tags them
    with the USER_RAISED_EXCEPTION error condition) — an unrelated
    failure whose text merely embeds a marker string (e.g. a codegen
    dump quoting the guard literal) propagates untouched (r17 review).
    Guards fire at the write's FIRST action (the tablet probe; for an
    insert into an empty table, the staged write), so a violation
    leaves the table untouched — no file in ``data/``, no version
    committed."""
    try:
        write()
    except SqlDdlError:
        raise
    except Exception as exc:
        get = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        try:
            cond = get() if callable(get) else None
        except Exception:
            cond = None
        text = str(exc)
        if cond == "USER_RAISED_EXCEPTION" or "[USER_RAISED_EXCEPTION]" in text:
            for marker in (_MERGE_CARDINALITY_MSG, _NULL_KEY_MSG):
                if marker in text:
                    raise SqlDdlError(marker) from exc
            if NOT_NULL_MSG_PREFIX in text:
                start = text.index(NOT_NULL_MSG_PREFIX)
                msg = text[start:].splitlines()[0]
                msg = re.sub(r"\s+SQLSTATE:.*$", "", msg).strip()
                raise SqlDdlError(msg) from exc
        raise


def _guard_null_keys(df: DataFrame, key_columns) -> DataFrame:
    """Wrap each key column of a DML batch so a NULL value raises the
    ANSI constraint violation instead of being silently dropped by
    batch validation — INSERT/UPSERT INTO and MERGE INSERT share this
    rule so the dialect is consistent (r17 review)."""
    return df.select(
        *[
            F.when(
                F.col(c).isNull(), F.raise_error(F.lit(_NULL_KEY_MSG))
            )
            .otherwise(F.col(c))
            .alias(c)
            if c in key_columns
            else F.col(c)
            for c in df.columns
        ]
    )


def _split_keyword(text: str, pattern: str) -> list[str]:
    """Split ``text`` where regex ``pattern`` matches, case-insensitively,
    at the start of a word token at paren depth 0, outside ``CASE ...
    END`` expressions and not a dotted column (:func:`sql_lex.tokens`).
    Segment 0 is the text before the first occurrence.

    CASE tracking closes the last lexical hole in the MERGE clause
    splitter (r16/r17 advice): ``CASE WHEN matched THEN ...`` inside an
    ON condition or SET expression spells ``WHEN`` + an identifier
    literally named ``matched`` at paren depth 0 — indistinguishable
    from a clause head by regex alone.  A ``CASE`` expression is a
    bracketed region exactly like parens, so the lexer gives it the
    same depth counter."""
    pat = re.compile(pattern, re.IGNORECASE)
    parts: list[str] = []
    last = 0
    for tok in tokens(text):
        if tok.kind != "word" or tok.depth or tok.case or tok.dotted:
            continue
        m = pat.match(text, tok.start) if tok.start >= last else None
        if m:
            parts.append(text[last : tok.start])
            last = m.end()
    parts.append(text[last:])
    return parts


class MergeSpec(NamedTuple):
    """A MERGE as :meth:`TableStore.upsert` takes it (built by
    :func:`_merge`).  ``clauses(matched, unmatched, unmatched_tgt=None)``
    is the one clause builder: over the frames it is handed it returns
    the batches to upsert and the key frames to delete.  ``spark()``
    builds those frames by the relational plan and returns the batch
    and the delete keys as :meth:`TableStore.upsert` takes them; the
    store calls it when the driver may not serve the statement
    (:func:`.tablets.merge_pairs` decides from the rest).  ``on`` is the
    ON condition's ``((alias, column), (alias, column))`` pairs when it
    is a conjunction of ``a.c = b.d`` terms (:func:`_on_equalities`),
    else None; ``sides`` the sides of its WHEN clauses (the keys of
    ``_CLAUSE_NAMES``); ``claims`` the disjunction of the MATCHED clause
    conditions (None without a MATCHED clause)."""

    source: DataFrame
    aliases: tuple[str, str]
    on: list[tuple[tuple[str, str], tuple[str, str]]] | None
    sides: set[str]
    claims: Column | None
    clauses: Callable[..., tuple[list[DataFrame], list[DataFrame]]]
    spark: Callable[[], tuple[DataFrame, DataFrame | None]]


def _on_equalities(on: str) -> list[tuple[tuple[str, str], tuple[str, str]]] | None:
    """The ``((alias, column), (alias, column))`` pair of each term of
    the ON condition ``on`` when it is a conjunction of ``a.c = b.d``
    terms, else None."""
    pairs = []
    for part in _split_keyword(on, r"AND\b"):
        m = re.fullmatch(r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", part)
        if not m:
            return None
        pairs.append((m.group(1, 2), m.group(3, 4)))
    return pairs


def _merge(store: TableStore, stmt: str) -> None:
    """``MERGE INTO`` — the ANSI/Hive-ACID spelling of the reference's
    declared upsert goal (``doc/DesignDocument.md:9``; TODO
    ``HiveKuduTableOutputFormat.java:175-176``), next to the Kudu
    dialect's ``UPSERT INTO`` verb above:

        MERGE INTO target [AS t] USING (query)|table [AS s [(cols)]]
        ON <cond>
        [WHEN MATCHED [AND c] THEN UPDATE SET col = expr[, ...]]...
        [WHEN MATCHED [AND c] THEN DELETE]...
        [WHEN NOT MATCHED [BY TARGET] [AND c] THEN
             INSERT [(cols)] VALUES (exprs) | INSERT *]...
        [WHEN NOT MATCHED BY SOURCE [AND c] THEN
             UPDATE SET col = expr[, ...] | DELETE]...

    Semantics (ANSI): WHEN clauses are evaluated in statement order and
    the FIRST clause whose condition holds claims the row; a target row
    actually CLAIMED (updated or deleted) by more than one source row is
    a cardinality violation and raises — multiple source matches where
    at most one satisfies the MATCHED clause conditions are valid, per
    ANSI/SQL Server (r16 advice).  The check rides INSIDE the single
    upsert execution as a per-target-key claim count, ``__merge_claims``
    on each matched row, guarding the key columns of every matched
    clause frame (``F.raise_error``), so no separate probe action runs
    and a violation aborts at the upsert's first action — before any
    file is staged or committed.  A NOT MATCHED INSERT whose key
    expression evaluates to NULL raises the same way (ANSI constraint
    violation) instead of being silently dropped by batch validation
    (r16 advice).

    Execution is single-commit: the whole outcome lands through ONE
    ``store.upsert`` of a :class:`MergeSpec`, so only the tablets the
    merge touches are rewritten and the version history gains ONE
    commit.  Its one clause builder, ``clauses``, projects each UPDATE
    clause's SET expressions against the pre-update row (both aliases
    in scope), DELETE clauses contribute key frames, and NOT MATCHED
    clauses project inserts from the unmatched source rows — over
    whatever frames the store hands it.  A MERGE whose source optimizes
    to a local relation (VALUES), whose ON is a whole-key equality
    (:func:`.tablets.merge_pairs`) and whose source keys' tablets fit the
    driver budget runs on the driver: the store joins in pyarrow and
    hands local relations, so no Spark job starts.  Every other MERGE
    runs the relational plan (``on_spark``): one target⋈source join
    with the claim count as a window, and the anti-joins, with the
    source persisted for the write.  Key columns may not be SET
    (primary key immutable, as in Kudu); an INSERT that omits a key
    column is rejected.  The ON condition is normally key equality; a
    non-key ON is accepted, but inserted rows whose key collides with an
    existing (unmatched) row follow the store's PK semantics and replace
    it.

    Parser limitation (heuristic, documented per r16 advice): clause
    splitting looks ahead for ``WHEN [NOT] MATCHED``, so a column
    literally named ``matched`` directly after a ``CASE WHEN`` inside
    the ON condition or a SET expression mis-splits the statement —
    treat ``matched`` as a reserved word in MERGE text."""
    head = _MERGE_HEAD_RE.match(stmt)
    if not head:
        raise SqlDdlError(f"cannot parse MERGE statement: {stmt!r}")
    target = head.group("target")
    talias = head.group("talias") or target
    rest = stmt[head.end():].lstrip()

    # source: (subquery) or a store table/view name
    if rest.startswith("("):
        inner, after = _match_paren_block(rest, 0)
        src = _query(store, inner)
        salias_required = True
        rest = rest[after:]
    else:
        m = re.match(r"^(?P<name>[A-Za-z_]\w*)", rest)
        if not m:
            raise SqlDdlError(f"cannot parse MERGE source: {stmt!r}")
        src_name = m.group("name")
        src = (
            store.view_df(src_name)
            if store.has_view(src_name)
            else store.scan(src_name)
        )
        salias_required = False
        salias = src_name
        rest = rest[m.end():]
    am = _MERGE_ALIAS_RE.match(rest)
    if am:
        salias = am.group("alias")
        if am.group("cols"):
            src = src.toDF(*[c.strip() for c in am.group("cols").split(",")])
        rest = rest[am.end():]
    elif salias_required:
        raise SqlDdlError("MERGE subquery source requires an alias")

    m = re.match(r"^\s*ON\s+", rest, re.IGNORECASE)
    if not m:
        raise SqlDdlError(f"cannot parse MERGE ON condition: {stmt!r}")
    # split only on WHEN followed by [NOT] MATCHED, so a CASE WHEN
    # inside the ON condition or a SET expression never breaks a clause
    segments = _split_keyword(
        rest[m.end():], r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)"
    )
    on_cond = segments[0].strip()
    if not on_cond or len(segments) < 2:
        raise SqlDdlError(
            "MERGE requires an ON condition and at least one WHEN clause"
        )
    if _has_subquery(rest):  # ON or a clause reads tables by name, as in UPDATE
        store.register_views()

    meta = store.table_meta(target)
    types = {f.name: f.dataType for f in meta.schema.fields}
    tcols = [f.name for f in meta.schema.fields]
    keys = meta.key_columns

    def tcol(c: str) -> Column:
        return F.col(f"{talias}.{c}")

    def _parse_sets(action: str) -> dict[str, Column]:
        sm = re.match(r"^UPDATE\s+SET\s+(?P<sets>.+)$", action,
                      re.IGNORECASE | re.DOTALL)
        if not sm:
            raise SqlDdlError(f"cannot parse MERGE UPDATE action: {action!r}")
        assignments: dict[str, Column] = {}
        for part in _split_top(sm.group("sets")):
            col, eq, expr_text = part.partition("=")
            col, expr_text = col.strip(), expr_text.strip()
            if "." in col:
                # a SET target may be qualified ONLY by the target
                # alias; stripping any qualifier would silently rewrite
                # 's.name = x' (a user error — ANSI SET targets are
                # target columns) into a target assignment (r16 review)
                qual, _, bare = col.rpartition(".")
                if qual.lower() != talias.lower():
                    raise SqlDdlError(
                        f"SET target {col!r} must be an unqualified or "
                        f"target-alias-qualified ({talias!r}) column"
                    )
                col = bare
            if not eq or not col or not expr_text:
                raise SqlDdlError(
                    f"cannot parse SET assignment: {part.strip()!r}")
            if col not in types:
                raise SqlDdlError(f"unknown column in SET: {col!r}")
            if col in keys:
                raise SqlDdlError(
                    f"key column {col!r} may not be updated (primary "
                    "key is immutable; DELETE + INSERT to change "
                    "identity)"
                )
            assignments[col] = F.expr(expr_text)
        return assignments

    def _parse_insert(action: str) -> dict[str, Column]:
        im = _INSERT_ACTION_RE.match(action)
        if not im:
            raise SqlDdlError(f"cannot parse MERGE INSERT action: {action!r}")
        if im.group("vals") is None:  # INSERT * — source cols by name
            return {c: F.col(c) for c in tcols}
        cols = (
            [c.strip() for c in im.group("cols").split(",")]
            if im.group("cols")
            else list(tcols)
        )
        if len(set(c.lower() for c in cols)) != len(cols):
            # a dict build would silently keep only the last
            # value for a repeated column (r16 review)
            raise SqlDdlError(
                f"duplicate column in MERGE INSERT list: {cols}"
            )
        vals_text = im.group("vals").strip()
        inner_vals, after = _match_paren_block(vals_text, 0)
        if vals_text[after:].strip():
            # the greedy VALUES capture would otherwise strip
            # the outer parens of a multi-row list and surface
            # an opaque Spark expression-parse error (r16 advice)
            raise SqlDdlError(
                "MERGE INSERT accepts a single VALUES row; got "
                f"trailing content: {vals_text[after:].strip()!r}"
            )
        exprs = _split_top(inner_vals)
        if len(cols) != len(exprs):
            raise SqlDdlError(
                "MERGE INSERT column/value count mismatch: "
                f"{len(cols)} columns, {len(exprs)} values"
            )
        mapping = {c: F.expr(e.strip()) for c, e in zip(cols, exprs)}
        for c in mapping:
            if c not in types:
                raise SqlDdlError(f"unknown column in INSERT: {c!r}")
        missing_keys = [k for k in keys if k not in mapping]
        if missing_keys:
            raise SqlDdlError(
                f"MERGE INSERT must provide key column(s) {missing_keys}"
            )
        # same rule as plain INSERT with a column list: the declared
        # DEFAULT fills an omitted column (r17 review — the two INSERT
        # spellings must agree)
        defaults = meta.defaults or {}
        omitted = {c: F.expr(defaults.get(c, "NULL")) for c in tcols if c not in mapping}
        return {**mapping, **omitted}

    # first-true-claims chains, tracked separately per side; a NULL
    # clause condition means "not satisfied" (the delete_where coalesce
    # idiom), never "poison every later clause"
    prior = dict.fromkeys(_CLAUSE_NAMES, F.lit(False))
    # (len(segments) >= 2 was enforced above, so at least one WHEN
    # clause always parses — no separate saw_any flag needed)
    # every clause is parsed here, so a malformed statement raises
    # before the store runs anything, and the chains end as the FULL
    # matched-condition disjunction the cardinality guard needs
    specs: list[tuple[str, Column, str, dict[str, Column] | None]] = []
    for seg in segments[1:]:
        cm = _CLAUSE_HEAD_RE.match(seg.strip())
        if not cm:
            raise SqlDdlError(f"cannot parse MERGE WHEN clause: {seg.strip()!r}")
        by = (cm.group("by") or "").upper()
        if cm.group("not"):
            side = "not_source" if by == "SOURCE" else "not_target"
        elif by:
            raise SqlDdlError(
                f"BY {by} is only valid after WHEN NOT MATCHED")
        else:
            side = "matched"
        rest = cm.group("rest")
        if rest[:3].upper() == "AND":
            body = rest[3:]
            ti = _find_boundary_then(body)
            if ti < 0:
                raise SqlDdlError(
                    f"cannot find THEN in MERGE WHEN clause: {seg.strip()!r}")
            cond_text, action = body[:ti].strip(), body[ti + 4 :].strip()
            if not cond_text:
                raise SqlDdlError(
                    f"empty AND condition in MERGE WHEN clause: {seg.strip()!r}")
        else:  # rest starts with THEN (the head regex guarantees it)
            cond_text, action = None, rest[4:].strip()
        this = (
            F.coalesce(F.expr(cond_text), F.lit(False))
            if cond_text
            else F.lit(True)
        )
        take = this & ~prior[side]
        prior[side] = prior[side] | this
        verb = action.split(None, 1)[0].upper() if action else ""
        if side != "not_target" and verb in ("DELETE", "UPDATE"):
            payload = _parse_sets(action) if verb == "UPDATE" else None
        elif side == "not_target" and verb == "INSERT":
            payload = _parse_insert(action)
        else:
            raise SqlDdlError(
                f"unsupported MERGE action for WHEN {_CLAUSE_NAMES[side]}: {action!r}"
            )
        specs.append((side, take, verb, payload))

    # ANSI cardinality rule: a target row may be CLAIMED (updated or
    # deleted) by at most one source row — enforced only when a MATCHED
    # clause exists (an insert-only MERGE leaves matched rows untouched,
    # so duplicate source matches are then harmless; Delta draws the
    # same line), and condition-aware: ``claims`` is the disjunction of
    # every MATCHED clause condition, so extra source matches that no
    # clause claims are valid (ANSI: only an actual double update/delete
    # is an error — r16 advice).  The store counts the claims of each
    # target key as ``__merge_claims`` on the matched rows.
    claims = prior["matched"] if any(s[0] == "matched" for s in specs) else None
    if claims is not None and any(
        c.lower() == "__merge_claims" for c in (*tcols, *src.columns)
    ):
        # the guard column must resolve unambiguously over the join
        raise SqlDdlError(
            "column name '__merge_claims' is reserved by MERGE"
        )

    def card_guard(col: Column) -> Column:
        return F.when(
            F.col("__merge_claims") > 1,
            F.raise_error(F.lit(_MERGE_CARDINALITY_MSG)),
        ).otherwise(col)

    def null_key_guard(col: Column) -> Column:
        # ANSI: NULL in an inserted key column is a constraint
        # violation, not a silent drop by batch validation (r16 advice);
        # guards the post-cast value, so a cast-to-NULL also raises
        return F.when(
            col.isNull(), F.raise_error(F.lit(_NULL_KEY_MSG))
        ).otherwise(col)

    def clauses(matched, unmatched, unmatched_tgt=None):
        # each clause's frame over the rows of its side (BY SOURCE
        # clauses see only the target alias: the anti-join dropped the
        # source); key columns are never SET targets, so the
        # cardinality guard wraps their pass-through projection
        sides = dict(zip(_CLAUSE_NAMES, (matched, unmatched, unmatched_tgt)))
        batches, deletes = [], []
        for side, take, verb, payload in specs:
            rows = sides[side].filter(take)
            guard = card_guard if side == "matched" else (lambda c: c)
            if verb == "DELETE":
                deletes.append(rows.select(*[guard(tcol(k)).alias(k) for k in keys]))
                continue
            if verb == "INSERT":
                cols = {c: payload[c].cast(types[c]) for c in tcols}
                cols.update({k: null_key_guard(cols[k]) for k in keys})
            else:  # a column no SET names passes through by name
                cols = {c: f"{talias}.{c}" for c in tcols}
                cols.update({c: e.cast(types[c]) for c, e in payload.items()})
                cols.update({k: guard(tcol(k)) for k in keys})
            cols = [e if isinstance(e, str) else e.alias(c) for c, e in cols.items()]
            batches.append(rows.select(*cols))
        return batches or [local_frame(store.spark, [], meta.schema)], deletes

    def on_spark() -> tuple[DataFrame, DataFrame | None]:
        # The relational plan.  The SOURCE is persisted for the upsert's
        # duration: every clause frame (batches AND delete-key frames)
        # re-embeds it, so an unpersisted source — often an expensive
        # subquery (a CHANGES feed, a staging join) — executed once per
        # upsert action; measured 1.1 s of pure source re-execution on
        # the sql_merge_cdc_apply merge leg at sf0.1 (r21).
        # MEMORY_AND_DISK (the default) spills rather than OOMs if a
        # production source is large; released when _merge returns.  The
        # matched join is deliberately NOT checkpointed/cached:
        # localCheckpoint flattens the plan to a LogicalRDD, which drops
        # the subquery aliases every clause expression (t.c / s.c)
        # resolves against; within the single upsert action all clause
        # frames share one plan where Spark's ReusedExchange already
        # folds the identical join shuffles.
        src.persist()
        tgt, s, cond = store.scan(target).alias(talias), src.alias(salias), F.expr(on_cond)
        matched = tgt.join(s, cond, "inner")
        if claims is not None:
            # a window partitioned by target key: an equi-key join
            # output is already hash-partitioned on the key, so
            # typically sort-only
            n_claims = F.sum(F.when(claims, F.lit(1)).otherwise(F.lit(0))).over(
                Window.partitionBy(*[tcol(k) for k in keys])
            )
            matched = matched.withColumn("__merge_claims", n_claims)
        batches, deletes = clauses(
            matched, s.join(tgt, cond, "left_anti"), tgt.join(s, cond, "left_anti")
        )
        union = DataFrame.unionByName
        return reduce(union, batches), reduce(union, deletes) if deletes else None

    sides = {s[0] for s in specs}
    spec = MergeSpec(
        src, (talias, salias), _on_equalities(on_cond), sides, claims, clauses, on_spark
    )
    try:
        _run_guarded(lambda: store.upsert(target, spec))
    finally:
        src.unpersist()


_ALTER_RE = re.compile(
    r"ALTER\s+TABLE\s+(?P<name>[A-Za-z_][\w]*)\s+(?P<action>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _alter(store: TableStore, stmt: str) -> None:
    """ALTER TABLE — the Kudu AlterTableRequest verbs in Hive/Impala
    dialect (add/drop/rename column, rename table).  The reference left
    alter unimplemented (``KuduStorageHandler.java`` has no
    preAlterTable hook), but the underlying Kudu client it ships
    supports all four."""
    m = _ALTER_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse ALTER statement: {stmt!r}")
    name, action = m.group("name"), m.group("action").strip()

    am = re.match(r"ADD\s+COLUMNS?\s*\(", action, re.IGNORECASE)
    if am:
        inner, _ = _match_paren_block(action, am.end() - 1)
        for spec in _split_top(inner):
            parts = spec.split()
            if len(parts) != 2:
                raise SqlDdlError(f"bad column spec in ADD COLUMNS: {spec!r}")
            store.add_column(name, parts[0], parts[1])
        return None
    am = re.match(
        r"ADD\s+COLUMN\s+(?P<col>[A-Za-z_][\w]*)\s+(?P<type>\S+)\s*$",
        action,
        re.IGNORECASE,
    )
    if am:
        store.add_column(name, am.group("col"), am.group("type"))
        return None
    am = re.match(
        r"DROP\s+COLUMN\s+(?P<col>[A-Za-z_][\w]*)\s*$", action, re.IGNORECASE
    )
    if am:
        store.drop_column(name, am.group("col"))
        return None
    am = re.match(
        r"RENAME\s+COLUMN\s+(?P<old>[A-Za-z_][\w]*)\s+TO\s+(?P<new>[A-Za-z_][\w]*)\s*$",
        action,
        re.IGNORECASE,
    )
    if am:
        store.rename_column(name, am.group("old"), am.group("new"))
        return None
    am = re.match(
        # Hive's CHANGE old new type — type must restate the current type
        # (type ALTER is not a Kudu capability; rejected below)
        r"CHANGE\s+(?:COLUMN\s+)?(?P<old>[A-Za-z_][\w]*)\s+(?P<new>[A-Za-z_][\w]*)\s+(?P<type>\S+)\s*$",
        action,
        re.IGNORECASE,
    )
    if am:
        meta = store.table_meta(name)
        cur = next(
            (f for f in meta.schema.fields if f.name == am.group("old")), None
        )
        if cur is None:
            raise SqlDdlError(f"no such column: {am.group('old')!r}")
        from hivekudu_handler_spark import typesys

        if typesys.resolve_hive_type(am.group("type")) != cur.dataType:
            raise SqlDdlError(
                "CHANGE cannot alter a column's type (Kudu alter supports "
                "rename only); restate the current type"
            )
        store.rename_column(name, am.group("old"), am.group("new"))
        return None
    am = re.match(
        r"RENAME\s+TO\s+(?P<new>[A-Za-z_][\w]*)\s*$", action, re.IGNORECASE
    )
    if am:
        store.rename_table(name, am.group("new"))
        return None
    raise SqlDdlError(f"unsupported ALTER action: {action!r}")


def _create(store: TableStore, stmt: str) -> None:
    m = _CREATE_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse CREATE statement: {stmt!r}")
    if m.group("external"):
        # KuduStorageHandler.java:230-234
        raise SqlDdlError(
            "EXTERNAL tables are not supported through the managed layer "
            "(use TableStore.attach_external to adopt existing storage)"
        )
    name = m.group("name")
    rest = stmt[m.end() :].lstrip()
    if not rest.startswith("("):
        # CTAS (Impala-on-Kudu's CREATE ... AS SELECT, schema derived
        # from the query): CREATE TABLE t TBLPROPERTIES (...) AS SELECT ...
        ctas = re.match(
            r"(?P<clauses>.*?)\bAS\s+(?P<select>SELECT\b.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if ctas:
            return _ctas(store, name, ctas.group("clauses"), ctas.group("select"))
        raise SqlDdlError(f"expected column list after table name: {stmt!r}")
    cols, after = _match_paren_block(rest, 0)
    store.create_table(name, cols, **_create_kwargs(rest[after:], "CREATE TABLE"))


def _create_kwargs(clauses: str, verb: str) -> dict:
    """The ``create_table`` layout arguments of a CREATE's clauses after
    its column list (or, for CTAS, before its AS SELECT): key columns,
    range splits, hash-in-range, bucket count and hive partition
    columns, all from TBLPROPERTIES.  A managed table takes no LOCATION
    and must name its key columns."""
    if re.search(r"\bLOCATION\s+'", clauses, re.IGNORECASE):
        # KuduStorageHandler.java:235-237
        raise SqlDdlError("LOCATION may not be specified for a managed table")
    props: dict[str, str] = {}
    tbl = re.search(r"\bTBLPROPERTIES\s*\(", clauses, re.IGNORECASE)
    if tbl:
        inner, _ = _match_paren_block(clauses, tbl.end() - 1)
        props = _parse_props(inner)

    def prop(names: tuple[str, ...]) -> str | None:
        return next((props[p] for p in names if p in props), None)

    def int_prop(names: tuple[str, ...], what: str) -> int | None:
        raw = prop(names)
        if raw is None:
            return None
        try:
            return int(raw)
        except ValueError:
            raise SqlDdlError(f"{what} must be an integer, got {raw!r}") from None

    key_prop = prop(_KEY_PROPS)
    if not key_prop or not key_prop.strip():
        # KuduStorageHandler.java:242-247 ("kudu.key_columns not specified")
        raise SqlDdlError(
            f"key columns not specified: {verb} requires "
            "TBLPROPERTIES ('kudu.key_columns'='col[,col...]')"
        )
    split_prop, pb_prop = prop(_SPLIT_PROPS), prop(_PARTITION_BY_PROPS)
    return {
        "key_columns": [c.strip() for c in key_prop.split(",") if c.strip()],
        "range_splits": _parse_splits(split_prop) if split_prop else None,
        "hash_in_range": int_prop(_HASH_IN_RANGE_PROPS, "hash_in_range"),
        "num_buckets": int_prop(_NUM_BUCKETS_PROPS, "num_buckets"),
        "partition_by": (
            [c.strip() for c in pb_prop.split(",") if c.strip()]
            if pb_prop
            else None
        ),
    }


def _ctas(store: TableStore, name: str, clauses: str, select: str) -> None:
    """CREATE TABLE ... AS SELECT: the SELECT runs through Spark SQL
    (over whatever views the caller registered), the result's schema —
    validated against the same strict type lattice — becomes the table
    schema, and the rows land through the store's keyed insert.  Key
    columns and layout come from TBLPROPERTIES, exactly like a plain
    CREATE."""
    kwargs = _create_kwargs(clauses, "CREATE TABLE AS SELECT")
    df = _query(store, select)
    store.create_table(name, df.schema, **kwargs)
    store.insert(name, df)


def _drop(store: TableStore, stmt: str) -> None:
    m = _DROP_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse DROP statement: {stmt!r}")
    name = m.group("name")
    if m.group("if_exists") and name.lower() not in store.list_tables():
        return
    store.drop_table(name)


def _fill_partial_upsert(
    store: TableStore,
    meta,
    batch: DataFrame,
    named: set,
    *,
    driver_literals: bool,
) -> DataFrame:
    """Fill a partial-column UPSERT batch to full rows with Impala/Kudu
    semantics: for keys that EXIST, omitted columns carry the current
    row's values; for new keys they carry the declared DEFAULT, else
    NULL (an omitted NOT NULL column without a default surfaces the
    write-time constraint error for new keys — existing keys are fine).
    A VALUES batch is driver-sized, so current rows come through the
    bucket-pruned ``lookup_many`` path; a bulk SELECT batch
    (``driver_literals=False``) joins the target scan instead — its
    keys are distributed data.  The target side is column-pruned to
    (keys + omitted columns) and, because ``_aligned_write`` checkpoints
    the filled batch before the write, executes exactly once; pruning
    it further to the touched buckets would need the batch's key hashes
    driver-side, which is the literal-batch path."""
    keys = meta.key_columns
    fields = meta.schema.fields
    defaults = meta.defaults or {}
    omitted = [f for f in fields if f.name not in named]
    clash = [f.name for f in fields if f.name.startswith("__upsert_")]
    if clash:
        raise SqlDdlError(
            f"column name(s) {clash} collide with the partial-UPSERT "
            f"internal namespace '__upsert_'"
        )
    if driver_literals:
        key_rows = batch.select(*keys).collect()
        if len(keys) == 1:
            vals = [r[keys[0]] for r in key_rows]
        else:
            vals = [{k: r[k] for k in keys} for r in key_rows]
        current = store.lookup_many(meta.name, vals)
    else:
        current = store.scan(meta.name)
    cur = current.select(
        *keys,
        F.lit(True).alias("__upsert_exists"),
        *[F.col(f.name).alias(f"__upsert_cur_{f.name}") for f in omitted],
    )
    joined = batch.join(cur, list(keys), "left")
    out = []
    for f in fields:
        if f.name in named:
            out.append(F.col(f.name))
            continue
        if f.name in defaults:
            new_fill = F.expr(defaults[f.name]).cast(f.dataType)
        else:
            new_fill = F.lit(None).cast(f.dataType)
        out.append(
            F.when(
                F.col("__upsert_exists").isNotNull(),
                F.col(f"__upsert_cur_{f.name}"),
            )
            .otherwise(new_fill)
            .alias(f.name)
        )
    return joined.select(*out)


def _insert(store: TableStore, stmt: str) -> None:
    m = _INSERT_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse INSERT statement: {stmt!r}")
    name = m.group("name")
    meta = store.table_meta(name)
    # Spark's own SQL parser handles the literal tuples: VALUES text is
    # already valid Spark SQL, so no hand-rolled literal grammar can drift
    # from engine semantics.
    try:
        df = store.spark.sql(f"SELECT * FROM (VALUES {m.group('values')})")
    except Exception as exc:
        raise SqlDdlError(f"cannot parse VALUES literals: {exc}") from exc
    _aligned_write(
        store, name, meta, df, m.group("cols"), _overwrite_verb(m),
        driver_literals=True,
    )


def _aligned_write(
    store: TableStore,
    name: str,
    meta,
    df: DataFrame,
    col_list: str | None,
    verb: str,
    *,
    driver_literals: bool,
) -> None:
    """Align a positional batch (VALUES literals or a SELECT result) to
    the table schema — column-list handling, DEFAULT fill, partial
    UPSERT — then run the guarded keyed write.  Shared by
    ``INSERT/UPSERT ... VALUES`` and ``INSERT/UPSERT ... SELECT``.
    Source columns are taken by position (``toDF``), never by their
    generated names, which may hold a dot (``(id * 1.5)``)."""
    fields = meta.schema.fields
    if col_list is None:
        if len(df.columns) != len(fields):
            raise SqlDdlError(
                f"INSERT arity mismatch for {name!r}: table has {len(fields)} "
                f"columns, the source has {len(df.columns)}"
            )
        df = df.toDF(*[f.name for f in fields]).select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
        )
    else:
        # INSERT INTO t (a, b) ...: omitted columns fill with their
        # declared DEFAULT, else NULL when nullable, else a loud error —
        # ANSI defaults semantics over Kudu-style column schemas
        named = [c.strip() for c in col_list.split(",")]
        types = {f.name: f for f in fields}
        unknown = [c for c in named if c not in types]
        if unknown:
            raise SqlDdlError(f"unknown column(s) in INSERT list: {unknown}")
        if len(set(named)) != len(named):
            raise SqlDdlError(f"duplicate column in INSERT list: {col_list!r}")
        if len(df.columns) != len(named):
            raise SqlDdlError(
                f"INSERT arity mismatch for {name!r}: column list has "
                f"{len(named)} columns, the source has {len(df.columns)}"
            )
        df = df.toDF(*named).select(
            *[F.col(n).cast(types[n].dataType).alias(n) for n in named]
        )
        missing_keys = [k for k in meta.key_columns if k not in named]
        if missing_keys:
            raise SqlDdlError(
                f"key column(s) {missing_keys} must appear in the "
                f"INSERT column list (identity is always written)"
            )
        if verb == "UPSERT" and len(named) < len(fields):
            # Impala/Kudu partial-row UPSERT: listed columns update;
            # omitted columns KEEP the existing row's values — only a
            # row creating a NEW key fills DEFAULT/NULL (r17 review: the
            # previous default-fill silently reset unlisted columns)
            df = _fill_partial_upsert(
                store, meta, df, set(named), driver_literals=driver_literals
            )
        else:
            defaults = meta.defaults or {}
            for f in fields:
                if f.name in named:
                    continue
                if f.name in defaults:
                    df = df.withColumn(
                        f.name, F.expr(defaults[f.name]).cast(f.dataType)
                    )
                elif f.nullable:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
                else:
                    raise SqlDdlError(
                        f"column {f.name!r} is NOT NULL with no DEFAULT: it "
                        f"must appear in the INSERT column list"
                    )
        df = df.select(*[f.name for f in fields])
    # SQL-dialect consistency with MERGE INSERT (r17 review): a NULL key
    # value is an ANSI constraint violation, raised before the write's
    # first action commits anything — not a silent validate-filter drop
    df = _guard_null_keys(df, meta.key_columns)
    if not driver_literals:
        # the keyed writers execute the batch plan more than once
        # (affected-bucket probe, then the rewrite); a SELECT source may
        # be non-deterministic (rand(), non-stable sampling) or simply
        # expensive, and a drifting batch can lose rows or commit
        # duplicate keys — materialize it ONCE, batch-sized (r17 review)
        df = df.localCheckpoint(eager=True)
    if verb == "UPSERT":
        _run_guarded(lambda: store.upsert(name, df))
    elif verb == "OVERWRITE":
        _run_guarded(lambda: store.insert_overwrite(name, df))
    else:
        _run_guarded(lambda: store.insert(name, df))


def _insert_select(store: TableStore, stmt: str) -> None:
    """``INSERT/UPSERT INTO t [(cols)] SELECT ...`` — the bulk-load
    spelling: the query runs through Spark SQL over the registered
    store views (same division of labor as every query path), and the
    result lands through the same alignment + guarded keyed write as
    the VALUES form.  A partial-column bulk UPSERT fills omitted
    columns by joining the target scan (its keys are distributed data —
    ``lookup_many``'s literal pruning does not apply)."""
    m = _INSERT_SELECT_RE.match(stmt)
    if not m:
        raise SqlDdlError(f"cannot parse INSERT ... SELECT statement: {stmt!r}")
    name = m.group("name")
    # Hive's INSERT OVERWRITE: full-table replace in one commit;
    # OVERWRITE is INSERT-only (UPSERT OVERWRITE is a contradiction —
    # merge semantics vs replace semantics)
    verb = _overwrite_verb(m)
    meta = store.table_meta(name)
    df = _query(store, m.group("query"))
    _aligned_write(
        store, name, meta, df, m.group("cols"), verb,
        driver_literals=False,
    )
