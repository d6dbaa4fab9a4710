"""The table store's driver side: point reads, small keyed writes and
small change reads served with pyarrow, with no Spark job, and the one
gate that decides when the driver may serve them.

A point read (:meth:`TableStore.fetch`) is Hive's fetch task over
Kudu's key-pruned scanner (``HiveKuduTableInputFormat.java:166-217,
466-467``): the key's tablet is computed here (:func:`tablet_py`, the
twin of the write path's tablet expressions) and only that tablet's
files are read.  A small keyed write (:meth:`TableStore._keyed_write`)
applies rows as the reference's client-side Kudu session does
(``HiveKuduTableOutputFormat.java:84,96-106``): the batch is collected
once (no Spark job for a VALUES batch) and, when its tablets' live files
are small too, they are read, merged (:func:`merge_on_driver`) and
rewritten one file per tablet (:func:`write_tablets`) through the
store's staging directory and commit.  A change read
(:meth:`TableStore._change_events`, behind ``diff``, ``changefeed`` and
SQL ``CHANGES BETWEEN``) is Kudu's diff scan served to its client: the
files that changed across the range are read and turned into change
events here (:func:`change_events`, the twin of the Spark path's window).
A MERGE from a local source (VALUES) whose ON is a whole-key equality
(:meth:`TableStore.upsert`) is the upsert the reference's session
applies with no batch job: the source is collected
(:func:`collect_source`), the tablets its keys land in are read and
joined with it here (:func:`merge_join`), and the clause conditions and
SET expressions are Projects over local relations
(:func:`merge_frames`), which fold and start no job; the winners then
take the keyed write's driver path.

**The gate** (:func:`driver_reason`) returns None when the driver may
serve a table and a byte count, else why not:

* ``"layout"``: an external table (no tablets), or a ``partition_by``
  table, whose files lack the partition columns;
* ``"column type"``: an extended table, whose nested types have no exact
  pyarrow round trip (each core type has one: timestamps travel as
  their microseconds);
* ``"key type"``: a key column neither integral nor STRING.  The driver
  merge groups keys by Arrow equality, which is Spark's only for those,
  and the hash twin covers only those;
* ``"range splits"``: range splits not of the key's type.  Spark casts
  each split to the key type, so a bisect over the stored splits could
  name another tablet;
* ``"budget off"``: the budget is <= 0;
* ``"tablets over budget"``: the bytes on disk of the tablet files the
  request reads exceed the budget.

The first four are the table's shape: a fetch of such a table raises
:class:`NotFetchable`, and a write, a change read or a MERGE takes the
Spark path.  The last two are size: a fetch then reads the same rows
through Spark (:meth:`TableStore.lookup`), a write stages through Spark,
a change read plans its one scan and one window, and a MERGE plans its
joins.  A write also leaves the driver when its batch holds more rows
than the budget allows (``"batch over budget"``, :func:`collect_batch`),
and a MERGE when its source does (``"source over budget"``) or its
statement does not fit the driver's join (:func:`merge_pairs`) or its
source is not local (``"source not local"``).

**The budget** (:meth:`TableStore._driver_budget`) is Spark's own bound
on what may be pulled to the driver,
``spark.sql.autoBroadcastJoinThreshold`` (10 MB by default).  So a
driver read or write is O(budget), whatever the table's size.

Everything here is a function of a :class:`TableMeta`, file lists and
pyarrow tables; the store's default hash-bucket count is passed in as
``buckets``.
"""

from __future__ import annotations

import bisect
import datetime
import uuid
from functools import reduce
from pathlib import Path
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_schema

if TYPE_CHECKING:
    from hivekudu_handler_spark.sources.table_store import TableMeta

# source rank of a write-merge row: of the rows sharing a key, the lowest
# rank wins (see TableStore._write_partitioned)
SRC = "__src"

BUCKET_COL = "kb"  # hash-bucketed layout
RANGE_COL = "kr"  # key-range layout

# bits of each integral key type the driver serves
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def driver_reason(meta: TableMeta, nbytes: int, budget: int) -> str | None:
    """Why a request of ``meta`` that reads ``nbytes`` of tablet files
    may not run on the driver with ``budget`` bytes, or None when it may
    (the reasons are in the module docstring; shape before size)."""
    if meta.external or meta.partition_by:
        return "layout"
    if meta.extended:
        return "column type"
    types = {f.name: f.dataType for f in meta.schema.fields}
    keys = [types[k] for k in meta.key_columns]
    if not all(isinstance(t, (T.StringType, *_INT_BITS)) for t in keys):
        return "key type"
    if meta.range_splits and not all(fits(keys[0], s) for s in meta.range_splits):
        return "range splits"
    if budget <= 0:
        return "budget off"
    if nbytes > budget:
        return "tablets over budget"
    return None


def fits(dtype: T.DataType, value) -> bool:
    """Whether ``value`` is a Python literal of the key type ``dtype``
    (an int in the integral type's range, or a str for STRING)."""
    if isinstance(dtype, T.StringType):
        if not isinstance(value, str):
            return False
        try:
            value.encode("utf-8")
        except UnicodeEncodeError:  # a lone surrogate has no UTF-8 form
            return False
        return True
    bits = _INT_BITS.get(type(dtype))
    return (
        bits is not None
        and isinstance(value, int)
        and not isinstance(value, bool)
        and -(1 << (bits - 1)) <= value < 1 << (bits - 1)
    )


# ------------------------------------------------------------ local frames
def _arrow_rows(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Driver ``rows`` (tuples, possibly none) as a pyarrow table of
    ``schema``."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
    return pa.Table.from_arrays(arrays, schema=schema)


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """``rows`` (driver values, possibly none) as a local relation over
    an Arrow table: building and collecting it starts no Spark job,
    where ``createDataFrame(<list>)`` runs a Python-worker job even for
    an empty list.  Column names, types and values are the same."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return arrow_frame(spark, _arrow_rows(rows, to_arrow_schema(schema)), schema)


def arrow_frame(spark: SparkSession, table: pa.Table, schema: T.StructType) -> DataFrame:
    """A pyarrow ``table`` whose types are ``to_arrow_schema(schema)``'s
    as a local relation with ``schema`` (no Spark job).  This is the
    tail of ``createDataFrame(<pa.Table>)``: that call first looks up
    three confs over Py4J and localizes tz-naive timestamps, which an
    Arrow table of exactly this schema does not have.  Skipping them
    halves the driver time of building a one-row frame (about 16 ms →
    8 ms on a 4-core host)."""
    utils = spark._jvm.PythonSQLUtils
    jiter = spark.sparkContext._serialize_to_jvm(
        # Spark's stream reader stops at an empty batch that is not the
        # stream's first, dropping every row after it; the schema comes
        # from ``schema``, so a table of no rows may send no batch
        [b for b in table.to_batches() if b.num_rows],
        ArrowStreamSerializer(),
        utils.readArrowStreamFromFile,
        lambda: spark._jvm.ArrowIteratorServer(),  # with I/O encryption only
    )
    df = DataFrame(utils.toDataFrame(jiter, schema.json(), spark._jsparkSession), spark)
    df._schema = schema
    return df


def is_local(df: DataFrame) -> bool:
    """Whether ``df`` optimizes to a local relation (VALUES, driver
    frames), which ``collect()`` reads without a Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


# ---------------------------------------------------------- tablet mapping
# XXH64 (Spark's catalyst ``XXH64``, the hash behind ``xxhash64``)
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` with ``seed``, as an unsigned 64-bit int."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _xxh64_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def part_cols(meta: TableMeta) -> list[str]:
    """The layout's partition-directory columns, outer first: [kb]
    for hash tables, [kr] for range tables, [kr, kb] for composite
    hash-in-range tables (Kudu's three tablet schemes)."""
    if meta.range_splits:
        return [RANGE_COL, BUCKET_COL] if meta.hash_in_range else [RANGE_COL]
    return [BUCKET_COL]


def tablet_of(meta: TableMeta, rel: str) -> tuple:
    """Tablet id of a data-relative file (its leading ``kr=``/``kb=``
    path segments), as a tuple matching :func:`part_cols`."""
    parts = Path(rel).parts[: len(part_cols(meta))]
    return tuple(int(p.split("=", 1)[1]) for p in parts)


def hash_buckets(meta: TableMeta, buckets: int) -> int:
    """``meta``'s hash fan-out; ``buckets`` is the store's default."""
    return meta.hash_in_range or meta.num_buckets or buckets


def hash_py(meta: TableMeta, values: list, buckets: int) -> int:
    """Driver-side twin of :meth:`TableStore._hash_expr` for one key
    tuple (``key_columns`` order): Spark's ``xxhash64`` is XXH64 with
    seed 42, chained over the columns (each column's hash seeds the
    next, a NULL leaves it as it is), a TINYINT/SMALLINT/INT hashed as
    its 4 little-endian bytes (``hashInt``), a BIGINT as 8
    (``hashLong``) and a STRING as its UTF-8 bytes; ``pmod`` then reads
    the hash as a signed 64-bit value."""
    types = {f.name: f.dataType for f in meta.schema.fields}
    h = 42
    for k, v in zip(meta.key_columns, values):
        if v is None:
            continue
        t = types[k]
        if isinstance(t, T.StringType):
            data = v.encode("utf-8")
        elif isinstance(t, T.LongType):
            data = (v & _M64).to_bytes(8, "little")
        else:
            data = (v & 0xFFFFFFFF).to_bytes(4, "little")
        h = _xxh64(data, h)
    return (h - (1 << 64) if h >> 63 else h) % hash_buckets(meta, buckets)


def range_key(meta: TableMeta, value):
    """Normalize a bound/key for driver-side comparison against the
    stored splits: datetime/date values become ISO text in the same
    form the splits use ('YYYY-MM-DD HH:MM:SS' — space separator, so
    text order == time order against space-separated splits)."""
    if isinstance(meta.range_splits[0], str) and not isinstance(value, str):
        if isinstance(value, datetime.datetime):
            return value.isoformat(sep=" ")
        if isinstance(value, datetime.date):
            return value.isoformat()
    return value


def range_id_py(meta: TableMeta, value) -> int:
    """Driver-side twin of :meth:`TableStore._range_id_expr` for pruning
    bounds (bisect over the bounded split list, never data-sized)."""
    return bisect.bisect_right(meta.range_splits, range_key(meta, value))


def tablet_py(meta: TableMeta, values: list, buckets: int) -> tuple:
    """Driver-side twin of :meth:`TableStore._part_exprs` for one key
    tuple, as a tuple matching :func:`part_cols`."""
    if not meta.range_splits:
        return (hash_py(meta, values, buckets),)
    rid = range_id_py(meta, values[0])
    return (rid, hash_py(meta, values, buckets)) if meta.hash_in_range else (rid,)


# ------------------------------------------------------------------- reads
def resolve(spark: SparkSession, meta: TableMeta, names: list[str]) -> list[T.StructField | None]:
    """The schema fields ``names`` refer to (None for an unknown name),
    matched the way Spark SQL matches names (case-insensitively unless
    ``spark.sql.caseSensitive`` is set)."""
    exact = {f.name: f for f in meta.schema.fields}
    out = [exact.get(n) for n in names]
    if None in out and spark.conf.get("spark.sql.caseSensitive") != "true":
        folded = {f.name.lower(): f for f in meta.schema.fields}
        out = [folded.get(n.lower()) for n in names]
    return out


def read_tablet(
    meta: TableMeta, data: Path, rels: list[str], out: list[T.StructField], key: dict | None = None
) -> pa.Table:
    """The rows of the files ``rels`` under ``data`` (whose key equals
    ``key``, when given), as a pyarrow table of the fields ``out``
    (positional column names), under the physical read schema: a column
    added after a file was written reads as NULL.  One tablet of a point
    read is read on the calling thread: handing it to pyarrow's thread
    pools cost about 3 ms more per read (16 vs 18 ms per point SELECT,
    4-core host)."""
    phys = [T.StructField(meta.phys_name(f.name), f.dataType) for f in meta.schema.fields]
    phys = to_arrow_schema(T.StructType(phys))
    fmt = ds.ParquetFileFormat(read_options={"coerce_int96_timestamp_unit": "us"})
    dataset = ds.dataset([str(data / r) for r in rels], schema=phys, format=fmt)
    cond = None if key is None else reduce(
        lambda a, b: a & b,
        [ds.field(meta.phys_name(k)) == v for k, v in key.items()],
    )
    return dataset.to_table(
        columns={str(i): ds.field(meta.phys_name(f.name)) for i, f in enumerate(out)},
        filter=cond,
        use_threads=False,
    )


# ------------------------------------------------------------------ writes
def collect_batch(
    meta: TableMeta, batch: DataFrame, budget: int, local: bool, tablet_exprs: list[Column]
) -> pa.Table | None:
    """``batch`` (write-merge rows) with each row's tablet, as a
    pyarrow table (the logical columns, the :data:`SRC` rank and the
    tablet columns, all nullable), if it holds at most the rows
    ``budget`` bytes allow by Spark's own row estimate (8 bytes plus
    the schema's default size); else None.

    One action bounded by ``limit(n + 1)``: a ``local`` relation is
    collected as rows, which starts no Spark job, and any other batch
    is read as Arrow.  Tablets come from the write path's own tablet
    expressions ``tablet_exprs`` (:meth:`TableStore._part_exprs`) and
    timestamps travel as their microseconds, so both are exact.  As the
    batch's first action it fires the guards (NOT NULL, NULL key, MERGE
    cardinality) of every row it reads — all of them when the batch
    fits."""
    ranks = [T.StructField(c, T.IntegerType()) for c in [SRC, *part_cols(meta)]]
    fields = [*meta.schema.fields, *ranks]
    cols = [*[f.name for f in meta.schema.fields], SRC, *tablet_exprs]
    return _collect(batch, fields, cols, budget, local)


def _collect(
    frame: DataFrame,
    fields: list[T.StructField],
    cols: list[str | Column],
    budget: int,
    local: bool,
) -> pa.Table | None:
    """The columns ``cols`` of ``frame``, of the types of ``fields`` and
    named after them (all nullable), as a pyarrow table, if ``frame``
    holds at most the rows ``budget`` bytes allow (see
    :func:`collect_batch`); else None.  A name in ``cols`` is a column
    of ``frame`` already named after its field: selecting it by name
    builds no Column, each of which PySpark charges a call-site capture
    of about 1 ms (4-core host)."""
    n = min(budget // (8 + frame._jdf.schema().defaultSize()), (1 << 31) - 2)
    schema = to_arrow_schema(T.StructType([T.StructField(f.name, f.dataType) for f in fields]))
    cols = [
        F.unix_micros(c).alias(f.name) if isinstance(f.dataType, T.TimestampType)
        else c if isinstance(c, str) else c.alias(f.name)
        for c, f in zip(cols, fields)
    ]
    frame = frame.select(*cols).limit(n + 1)
    wire = pa.schema(
        [
            a.with_type(pa.int64()) if isinstance(f.dataType, T.TimestampType) else a
            for a, f in zip(schema, fields)
        ]
    )
    table = _arrow_rows(frame.collect(), wire) if local else frame.toArrow()
    if table.num_rows > n:
        return None
    return table.cast(schema)


def merge_on_driver(
    meta: TableMeta, batch: pa.Table, data: Path, rels: list[str], op: str, keep: tuple
) -> pa.Table:
    """The winners of ``batch`` (from :func:`collect_batch`) merged
    with the rows of the files ``rels`` under ``data`` by
    :meth:`TableStore._write_partitioned`'s rule, as a pyarrow table of
    ``batch``'s schema.

    Existing rows rank 0 for an insert — they win outright, so only
    their keys are read — and 2 otherwise.  Per key the lowest rank
    wins, then the smallest non-key tuple, ascending with nulls last
    (Arrow orders NaN above every number and below NULL, as Spark
    does); a winner is kept if its rank is in ``keep``."""
    schema = batch.schema
    keys = meta.key_columns
    read = [f for f in meta.schema.fields if op != "insert" or f.name in keys]
    by_tablet: dict[tuple, list[str]] = {}
    for rel in rels:
        by_tablet.setdefault(tablet_of(meta, rel), []).append(rel)
    parts = [batch]
    for tablet, trels in by_tablet.items():
        got = read_tablet(meta, data, trels, read)
        n = got.num_rows
        cols = dict(zip([f.name for f in read], got.columns))
        consts = zip([SRC, *part_cols(meta)], [0 if op == "insert" else 2, *tablet])
        for c, v in consts:
            cols[c] = pa.repeat(pa.scalar(v, pa.int32()), n)
        parts.append(
            pa.table([cols.get(f.name, pa.nulls(n, f.type)) for f in schema], schema=schema)
        )
    rows = pa.concat_tables(parts)
    order = [*keys, SRC, *[f.name for f in meta.schema.fields if f.name not in keys]]
    sort_keys = [(c, "ascending") for c in order]
    rows = rows.take(pc.sort_indices(rows, sort_keys=sort_keys, null_placement="at_end"))
    # each key's first row in that order wins
    pos = rows.append_column("__pos", pa.array(np.arange(rows.num_rows)))
    won = rows.take(
        pos.group_by(keys, use_threads=False).aggregate([("__pos", "min")])["__pos_min"]
    )
    return won.filter(pc.is_in(won[SRC], pa.array(keep, pa.int32())))


# ------------------------------------------------------------------- MERGE
# the source column types a driver MERGE carries: each has an exact
# round trip through collected rows
FLAT = (
    T.NumericType, T.StringType, T.BinaryType, T.BooleanType, T.DateType,
    T.TimestampType, T.TimestampNTZType,
)


def merge_pairs(
    meta: TableMeta, spec, budget: int
) -> tuple[list[tuple[str, str]] | None, str | None]:
    """The (target key, source column) pairs, in key order, of a MERGE
    (``sql_ddl.MergeSpec``) into ``meta`` whose shape the driver's join
    serves, and None; else None and why not.  A NOT MATCHED BY SOURCE
    clause needs the whole target (``"by source clause"``).
    :func:`merge_frames` names columns after the aliases, so an alias
    may not equal the other or a column name, and neither side may
    repeat a name (``"column names"``).  A source column must be of a
    type :data:`FLAT` carries (``"source type"``).  ON must be a
    conjunction of ``t.k = s.c`` over the whole key, each pair both
    integral or both STRING, so that Spark's ``=`` is Arrow's equality
    once the source value is cast to the key's type (``"on clause"``).
    Names match case-insensitively.  Then the table must pass the gate
    (:func:`driver_reason`, before its tablets are known) and the source
    must optimize to a local relation (``"source not local"``)."""
    if "not_source" in spec.sides:
        return None, "by source clause"
    lower = [a.lower() for a in spec.aliases]
    sfields = spec.source.schema.fields
    names = [[f.name.lower() for f in meta.schema.fields], [f.name.lower() for f in sfields]]
    if lower[0] == lower[1] or any(len(set(n)) < len(n) or set(n) & set(lower) for n in names):
        return None, "column names"
    if not all(isinstance(f.dataType, FLAT) for f in sfields):
        return None, "source type"
    keys = {k.lower(): k for k in meta.key_columns}
    types = {f.name: f.dataType for f in meta.schema.fields}
    scols = {f.name.lower(): f for f in sfields}
    pairs: dict[str, str] = {}
    for ends in spec.on or [()]:
        ends = {a.lower(): c.lower() for a, c in ends}
        k, s = keys.get(ends.get(lower[0])), scols.get(ends.get(lower[1]))
        if k is None or s is None or k in pairs or not (
            s.dataType == types[k] == T.StringType()
            or isinstance(s.dataType, T.IntegralType) and isinstance(types[k], T.IntegralType)
        ):
            return None, "on clause"
        pairs[k] = s.name
    if len(pairs) < len(keys):
        return None, "on clause"
    reason = driver_reason(meta, 0, budget)
    if reason is None and not is_local(spec.source):
        reason = "source not local"
    return (None, reason) if reason else ([(k, pairs[k]) for k in meta.key_columns], None)


def collect_source(
    meta: TableMeta, source: DataFrame, pairs: list[tuple[str, str]], budget: int, tablet_exprs
) -> pa.Table | None:
    """A MERGE's local ``source`` as a pyarrow table (no Spark job), if
    it holds at most the rows ``budget`` allows (:func:`collect_batch`);
    else None.  Its columns are ``s0``, ``s1``, … (the source's, by
    position); then ``k0``, ``k1``, …, the source column of each
    (target key, source column) pair of ``pairs`` (key order) as the
    key's type, NULL where the value does not fit it (Spark's ``=``
    widens the narrower side, so such a value matches no key); then the
    tablet those keys land in, by the write path's own expressions
    (``tablet_exprs(meta, keys)``, :meth:`TableStore._part_exprs`)."""
    types = {f.name: f.dataType for f in meta.schema.fields}
    names = [f"s{i}" for i in range(len(source.columns))]
    keys = [F.col(names[source.columns.index(c)]).try_cast(types[k]) for k, c in pairs]
    fields = [T.StructField(n, f.dataType) for n, f in zip(names, source.schema.fields)]
    fields += [T.StructField(f"k{j}", types[k]) for j, (k, _) in enumerate(pairs)]
    fields += [T.StructField(c, T.IntegerType()) for c in part_cols(meta)]
    cols = [*names, *keys, *tablet_exprs(meta, keys)]
    return _collect(source.toDF(*names), fields, cols, budget, True)


def tablet_files(
    meta: TableMeta, data: Path, files: list[str], touched: set[tuple]
) -> tuple[list[str], int]:
    """The data-relative ``files`` (under ``data``) of the tablets
    ``touched``, and their bytes on disk: what a request reading those
    tablets asks :func:`driver_reason` with."""
    rels = [f for f in files if tablet_of(meta, f) in touched]
    return rels, sum((data / f).stat().st_size for f in rels)


def source_tablets(meta: TableMeta, source: pa.Table) -> set[tuple]:
    """The tablets the keys of a collected MERGE ``source``
    (:func:`collect_source`) land in; a row with a NULL key matches no
    row and reads no tablet."""
    valid = [pc.is_valid(source[f"k{j}"]) for j in range(len(meta.key_columns))]
    return {t for t, _ in tablet_counts(meta, source.filter(reduce(pc.and_, valid)))}


def merge_join(
    meta: TableMeta, data: Path, rels: list[str], source: pa.Table
) -> tuple[pa.Table, pa.Table]:
    """The two joins of a MERGE whose ON is whole-key equality, in
    pyarrow: the rows of the files ``rels`` under ``data`` joined with
    the rows of ``source`` (:func:`collect_source`) whose keys equal
    theirs — the target's columns, named by position (``0``, ``1``, …),
    then the source's ``s*`` — and the ``s*`` columns of the source
    rows that match none.  Arrow's join matches no NULL key, as Spark's
    ``=`` does not, and a target key is unique, so a source row matches
    at most one row."""
    fields = meta.schema.fields
    target = read_tablet(meta, data, rels, fields)
    tkeys = [str([f.name for f in fields].index(k)) for k in meta.key_columns]
    skeys = [f"k{j}" for j in range(len(tkeys))]
    scols = [c for c in source.column_names if c[0] == "s"]
    joined = target.join(
        source.select(scols + skeys), tkeys, skeys, join_type="inner", use_threads=False
    )
    unmatched = source.join(
        target.select(tkeys), skeys, tkeys, join_type="left anti", use_threads=False
    )
    return joined, unmatched.select(scols)


def merge_frames(
    spark: SparkSession, meta: TableMeta, spec, joined: pa.Table, unmatched: pa.Table
) -> tuple[DataFrame, DataFrame]:
    """The matched and the unmatched rows of a driver MERGE
    (:func:`merge_join`) as local relations over which the MERGE's
    clause expressions resolve as over Spark's joins.  The matched frame
    has one struct column per alias of ``spec.aliases`` (the target's
    row, the source's row) and, at top level, each column name only one
    side has, so ``t.c``, ``s.c`` and unambiguous bare names resolve.
    The unmatched frame is the source's columns under the source alias.

    With ``spec.claims`` (the MATCHED clause conditions' disjunction),
    each matched row carries ``__merge_claims``, the count of its target
    key's matched rows that a MATCHED clause claims, which the Spark plan
    counts in a window: a first local projection evaluates the claims
    per row (no job), and pyarrow sums them per key."""
    talias, salias = spec.aliases
    tf = [T.StructField(f.name, f.dataType) for f in meta.schema.fields]
    sf = [T.StructField(f.name, f.dataType) for f in spec.source.schema.fields]
    n, names = len(tf), [{f.name.lower() for f in fs} for fs in (tf, sf)]
    single = [(i, f) for i, f in enumerate(tf) if f.name.lower() not in names[1]]
    single += [(n + i, f) for i, f in enumerate(sf) if f.name.lower() not in names[0]]

    def frame(rows: pa.Table) -> DataFrame:
        sides = [T.StructField(talias, T.StructType(tf)), T.StructField(salias, T.StructType(sf))]
        schema = T.StructType(sides + [f for _, f in single])
        arrow = to_arrow_schema(schema)
        cols = [rows.column(i).combine_chunks() for i in range(n + len(sf))]
        cols = [
            pa.StructArray.from_arrays(cols[:n], fields=list(arrow[0].type)),
            pa.StructArray.from_arrays(cols[n:], fields=list(arrow[1].type)),
            *[rows.column(i) for i, _ in single],
        ]
        table = pa.Table.from_arrays([c.cast(f.type) for c, f in zip(cols, arrow)], schema=arrow)
        return arrow_frame(spark, table, schema)

    if spec.claims is not None:
        keys = [str(i) for i, f in enumerate(tf) if f.name in meta.key_columns]
        flags = [r[0] for r in frame(joined).select(spec.claims).collect()]
        flags = pa.array(flags, pa.bool_()).cast(pa.int64())
        claims = joined.select(keys).append_column("c", flags)
        claims = claims.group_by(keys, use_threads=False).aggregate([("c", "sum")])
        joined = joined.join(claims, keys, use_threads=False)
        single.append((joined.num_columns - 1, T.StructField("__merge_claims", T.LongType())))
    source = arrow_frame(spark, unmatched.rename_columns([f.name for f in sf]), T.StructType(sf))
    return frame(joined), source.alias(salias)


def change_schema(meta: TableMeta) -> T.StructType:
    """The columns of a change read: the table's logical columns, then
    ``_change_type`` and ``_commit_version``, every one nullable, as the
    Spark path's plan types them."""
    return T.StructType(
        [T.StructField(f.name, f.dataType) for f in meta.schema.fields]
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.IntegerType()),
        ]
    )


def _null_safe_equal(a: pa.ChunkedArray, b: pa.ChunkedArray) -> np.ndarray:
    """Spark's ``a <=> b`` per row, as a numpy bool array: NULL equals
    NULL, and for floating point ``NaN`` equals ``NaN`` and ``-0.0``
    equals ``0.0``.  Arrow's ``equal`` gives NULL for a NULL input and
    does not hold for NaN."""
    eq = pc.fill_null(pc.equal(a, b), False)
    if pa.types.is_floating(a.type):
        eq = pc.or_(eq, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    eq = pc.or_(eq, pc.and_(pc.is_null(a), pc.is_null(b)))
    return eq.to_numpy()


def _same_as_previous(col: pa.ChunkedArray) -> np.ndarray:
    """Whether each row of ``col`` is ``<=>`` to the row before it (the
    first row is not)."""
    out = np.zeros(len(col), bool)
    if len(col) > 1:
        out[1:] = _null_safe_equal(col.slice(1), col.slice(0, len(col) - 1))
    return out


def change_events(
    meta: TableMeta, data: Path, runs: dict[tuple[int, int], list[str]], versions: list[int]
) -> pa.Table:
    """The change events of the files ``runs`` under ``data`` (from
    ``_segment_runs``: each file's run of positions ``(first, last)`` in
    the ordered manifest ``versions``), as a pyarrow table of
    :func:`change_schema`'s types: the twin of
    :meth:`TableStore._change_events`'s Spark window.

    Each run's files are read under the physical read schema (a column
    added after a file was written reads as NULL) and each row is
    stamped with its run.  Sorted by key and then ``first``, a key's
    rows are adjacent, so the window's ``lag``/``lead`` are the
    neighbouring rows of the same key.  A row's run starting at
    ``first > 0`` right after its key's previous run is an
    ``update_before``/``update_after`` pair at ``first`` when some value
    differs by Spark's ``<=>`` and nothing when none does (a file
    rewrite); one with no adjacent predecessor is an ``insert`` at
    ``first``; a run ending before the last position with no adjacent
    successor is a ``delete`` at ``last + 1`` carrying its values.  Each
    position becomes the version at it.  Events come in key order, each
    key's in the order of its runs."""
    schema = to_arrow_schema(change_schema(meta))
    if not runs:
        return schema.empty_table()
    fields = meta.schema.fields
    keys = [i for i, f in enumerate(fields) if f.name in meta.key_columns]
    parts = [read_tablet(meta, data, rels, fields) for rels in runs.values()]
    sizes = [t.num_rows for t in parts]
    rows = pa.concat_tables(parts)
    first = np.repeat([a for a, _ in runs], sizes)
    last = np.repeat([b for _, b in runs], sizes)
    by = rows.select(keys).append_column(str(len(fields)), pa.array(first))
    order = pc.sort_indices(by, sort_keys=[(c, "ascending") for c in by.column_names]).to_numpy()
    rows, first, last = rows.take(order), first[order], last[order]
    same = np.ones(rows.num_rows, bool)
    for i in keys:
        same &= _same_as_previous(rows.column(i))
    nxt = np.append(same[1:], False)
    # the run right before in the key's group ends just before this one
    continuation = same & (np.roll(last, 1) == first - 1)
    gap_after = ~nxt | (np.roll(first, -1) > last + 1)
    arriving = first > 0
    departing = last < len(versions) - 1
    changed = np.zeros(rows.num_rows, bool)
    for i in range(len(fields)):
        if i not in keys:
            changed |= ~_same_as_previous(rows.column(i))
    inserts = np.flatnonzero(arriving & ~continuation)
    deletes = np.flatnonzero(departing & gap_after)
    updates = np.flatnonzero(arriving & continuation & changed)
    # (image row, anchor row, kind, position) of each event; an
    # update_before carries the image of the key's previous row
    image = np.concatenate([inserts, deletes, updates - 1, updates])
    anchor = np.concatenate([inserts, deletes, updates, updates])
    kind = np.repeat(np.arange(4), [len(inserts), len(deletes), len(updates), len(updates)])
    pos = np.concatenate([first[inserts], last[deletes] + 1, first[updates], first[updates]])
    ordered = np.lexsort((kind, anchor))
    kinds = pa.array(["insert", "delete", "update_before", "update_after"])
    at = np.asarray(versions, np.int32)
    cols = rows.take(image[ordered]).columns
    cols += [kinds.take(kind[ordered]), pa.array(at[pos[ordered]])]
    return pa.Table.from_arrays(cols, schema=schema)


def tablet_counts(meta: TableMeta, rows: pa.Table) -> list[tuple[tuple, int]]:
    """``(tablet, row count)`` of each tablet the pyarrow table
    ``rows`` (with the tablet columns) holds rows of, in order of
    first appearance."""
    pcs = part_cols(meta)
    counts = rows.group_by(pcs, use_threads=False).aggregate([([], "count_all")])
    ids = zip(*[counts[c].to_pylist() for c in pcs])
    return list(zip(ids, counts["count_all"].to_pylist()))


def write_tablets(meta: TableMeta, rows: pa.Table, path: Path) -> int:
    """Write the driver-merged ``rows`` under ``path`` the way
    :meth:`TableStore._write_partitioned` lays them out: one snappy
    Parquet file per tablet directory, with physical column names and no
    partition columns, its rows sorted by key.  Returns the rows
    written.

    The file keeps a Spark-written file's shape, so reads cost the
    same: one row group, and a dictionary only for a column with at
    most half as many distinct values as rows — Spark's Parquet
    writer drops a dictionary that does not beat plain encoding, so
    a unique key column is written plain."""
    pcs = part_cols(meta)
    rows = rows.sort_by([(c, "ascending") for c in [*pcs, *meta.key_columns]])
    data = rows.select([f.name for f in meta.schema.fields]).rename_columns(
        [meta.phys_name(f.name) for f in meta.schema.fields]
    )
    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    start = 0
    for tablet, n in tablet_counts(meta, rows):
        out = path.joinpath(*[f"{c}={v}" for c, v in zip(pcs, tablet)])
        out.mkdir(parents=True)
        part = data.slice(start, n)
        dictionary = [c for c in part.column_names if 2 * pc.count_distinct(part[c]).as_py() <= n]
        pq.write_table(part, out / name, compression="snappy", use_dictionary=dictionary)
        start += n
    return rows.num_rows
