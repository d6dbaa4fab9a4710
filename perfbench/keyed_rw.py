"""Statement generator and reference model for the ``keyed_rw`` workload.

The table ``kv`` is keyed on ``k`` and starts as a copy of ``orders``
(keys ``0 .. n-1``).  The model tracks every committed version's rows, so
each read the engine answers is checked against the model, and so the
generator only draws keys the model knows to be live (or, for the stated
share of point reads, keys it knows to be absent).

Semantics the model follows, as the table store defines them:

* every write statement that changes at least one row commits exactly
  one new version; one that matches no row commits none;
* ``VACUUM kv RETAIN n VERSIONS`` keeps the current version and the
  ``n`` before it, and commits nothing;
* ``CHANGES BETWEEN a AND b`` lists, for each commit ``v`` in
  ``a+1 .. b``, the rows inserted, deleted or changed by ``v``; a change
  is an ``update_before`` row with the old values and an
  ``update_after`` row with the new ones.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

TABLE = "kv"
COLUMNS = ("k", "cust", "status", "price", "prio")
CREATE_SQL = (
    f"CREATE TABLE {TABLE} (k BIGINT, cust BIGINT, status STRING, "
    "price DOUBLE, prio STRING) TBLPROPERTIES ('kudu.key_columns'='k')"
)
LOAD_SQL = (
    f"INSERT INTO {TABLE} SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, o_orderpriority FROM bench_orders"
)

PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETAIN = 4          # VACUUM ... RETAIN n VERSIONS
MISS_SHARE = 0.1    # share of point reads aimed at an absent key
RECENT = 64         # how many recently written keys the generator remembers

# One pass: 6 writes (the VACUUM among them) and 16 reads, in a seeded
# order.  The mix places both order statistics inside one kind of
# statement instead of on the boundary between two, where they moved by
# a quarter from seed to seed: point reads are more than half of a pass,
# so they hold the median, and with two passes of 22 the tail (rank 34
# of 44) falls among the four CHANGES BETWEEN reads, below the eight
# MERGE, UPDATE and UPSERT samples.
PASS = (
    "upsert", "upsert", "update", "delete", "merge", "vacuum",
    "point", "point", "point", "point", "point", "point",
    "point", "point", "point", "point", "point", "point",
    "range", "as_of", "changes_newest", "changes_reread",
)
WRITES = frozenset({"upsert", "update", "delete", "merge", "vacuum"})

Row = tuple  # (cust, status, price, prio)


@dataclass
class Op:
    kind: str
    sql: str
    # reads: the rows the engine must return, canonicalized (see canon)
    expect: list | None = None
    # writes: the new row image per key (None = deleted)
    changes: dict = field(default_factory=dict)

    @property
    def is_write(self) -> bool:
        return self.kind in WRITES


def canon(rows) -> list:
    """Order-insensitive comparison form of a result (sorted by repr, so
    rows holding NULLs still sort)."""
    return sorted((tuple(r) for r in rows), key=repr)


class Model:
    """Committed versions of ``kv`` as Python dicts."""

    def __init__(self, base: dict[int, Row]):
        # v0 is the empty table CREATE TABLE commits; the load is v1
        self.version = 1
        self.snapshots = {0: {}, 1: dict(base)}
        self.oldest = 0

    @property
    def rows(self) -> dict[int, Row]:
        return self.snapshots[self.version]

    def apply(self, op: Op) -> None:
        if op.kind == "vacuum":
            self.oldest = max(self.oldest, self.version - RETAIN)
            for v in [v for v in self.snapshots if v < self.oldest]:
                del self.snapshots[v]
            return
        cur = self.rows
        new = dict(cur)
        for k, row in op.changes.items():
            if row is None:
                new.pop(k, None)
            else:
                new[k] = row
        if new != cur:
            self.version += 1
            self.snapshots[self.version] = new

    def changes(self, a: int, b: int) -> list:
        out = []
        for v in range(a + 1, b + 1):
            old, new = self.snapshots[v - 1], self.snapshots[v]
            for k in old.keys() | new.keys():
                o, n = old.get(k), new.get(k)
                if o == n:
                    continue
                if o is None:
                    out.append((k, "insert", v, n[2]))
                elif n is None:
                    out.append((k, "delete", v, o[2]))
                else:
                    out.append((k, "update_before", v, o[2]))
                    out.append((k, "update_after", v, n[2]))
        return canon(out)


def _agg(rows: dict[int, Row], lo: int, hi: int) -> list:
    sel = [r for k, r in rows.items() if lo <= k <= hi]
    if not sel:
        return [(0, None, None, None)]
    return [
        (
            len(sel),
            sum(r[0] for r in sel),
            min(r[2] for r in sel),
            max(r[2] for r in sel),
        )
    ]


def _lit(row_key: int, row: Row) -> str:
    cust, status, price, prio = row
    return f"({row_key}, {cust}, '{status}', {price!r}, '{prio}')"


class Generator:
    """Seeded statements over the model's live key set."""

    def __init__(self, seed: int, model: Model):
        self.rng = random.Random(seed)
        self.model = model
        self.next_key = max(model.rows) + 1
        self.recent: list[int] = []
        self.read_ranges: list[tuple[int, int]] = []
        self._live_cache: tuple[int, list[int]] | None = None

    # ---------------------------------------------------------------- keys
    def _live(self) -> list[int]:
        if self._live_cache is None or self._live_cache[0] != self.model.version:
            self._live_cache = (self.model.version, sorted(self.model.rows))
        return self._live_cache[1]

    def _key(self) -> int:
        """Half uniform over the live keys, half recently written ones."""
        live_recent = [k for k in self.recent if k in self.model.rows]
        if live_recent and self.rng.random() < 0.5:
            return self.rng.choice(live_recent)
        return self.rng.choice(self._live())

    def _absent_key(self) -> int:
        if self.rng.random() < 0.5:
            return self.next_key + self.rng.randrange(1, 1000)
        gone = [k for k in self.recent if k not in self.model.rows]
        return self.rng.choice(gone) if gone else self.next_key + 1

    def _new_key(self) -> int:
        self.next_key += 1
        return self.next_key - 1

    def _row(self) -> Row:
        r = self.rng
        return (
            r.randrange(0, 750),
            r.choice("UPMX"),
            round(r.uniform(1000.0, 500000.0), 2),
            r.choice(PRIOS),
        )

    def _touch(self, keys) -> None:
        self.recent = (self.recent + list(keys))[-RECENT:]

    # ----------------------------------------------------------------- ops
    def pass_ops(self) -> list[str]:
        kinds = list(PASS)
        self.rng.shuffle(kinds)
        return kinds

    def make(self, kind: str) -> Op:
        return getattr(self, f"_{kind}")()

    def _upsert(self) -> Op:
        keys = {self._key() for _ in range(5)} | {self._new_key() for _ in range(5)}
        changes = {k: self._row() for k in sorted(keys)}
        self._touch(changes)
        vals = ", ".join(_lit(k, r) for k, r in changes.items())
        return Op("upsert", f"UPSERT INTO {TABLE} VALUES {vals}", changes=changes)

    def _update(self) -> Op:
        lo = self._key()
        hi = lo + 20
        rows = self.model.rows
        changes = {
            k: (r[0], "X", r[2] + 1.5, r[3])
            for k, r in rows.items()
            if lo <= k <= hi
        }
        self._touch(changes)
        sql = (
            f"UPDATE {TABLE} SET price = price + 1.5, status = 'X' "
            f"WHERE k BETWEEN {lo} AND {hi}"
        )
        return Op("update", sql, changes=changes)

    def _delete(self) -> Op:
        lo = self._key()
        hi = lo + 3
        changes = {k: None for k in self.model.rows if lo <= k <= hi}
        self._touch(changes)
        return Op(
            "delete", f"DELETE FROM {TABLE} WHERE k BETWEEN {lo} AND {hi}", changes=changes
        )

    def _merge(self) -> Op:
        rows = self.model.rows
        keys = {self._key() for _ in range(3)} | {self._new_key() for _ in range(3)}
        src = {k: self._row() for k in sorted(keys)}
        changes = {
            k: (rows[k][0], r[1], r[2], rows[k][3]) if k in rows else r
            for k, r in src.items()
        }
        self._touch(changes)
        vals = ", ".join(_lit(k, r) for k, r in src.items())
        sql = (
            f"MERGE INTO {TABLE} USING (SELECT * FROM VALUES {vals} "
            "AS s(k, cust, status, price, prio)) s ON kv.k = s.k "
            "WHEN MATCHED THEN UPDATE SET status = s.status, price = s.price "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        return Op("merge", sql, changes=changes)

    def _vacuum(self) -> Op:
        return Op("vacuum", f"VACUUM {TABLE} RETAIN {RETAIN} VERSIONS")

    def _point(self) -> Op:
        k = self._absent_key() if self.rng.random() < MISS_SHARE else self._key()
        row = self.model.rows.get(k)
        sql = f"SELECT {', '.join(COLUMNS)} FROM {TABLE} WHERE k = {k}"
        return Op("point", sql, expect=canon([(k, *row)] if row else []))

    def _range(self) -> Op:
        lo = self._key()
        sql = (
            f"SELECT count(*), sum(cust), min(price), max(price) FROM {TABLE} "
            f"WHERE k BETWEEN {lo} AND {lo + 200}"
        )
        return Op("range", sql, expect=_agg(self.model.rows, lo, lo + 200))

    def _as_of(self) -> Op:
        m = self.model
        v = self.rng.randrange(max(m.oldest, m.version - 3, 1), m.version + 1)
        lo = self._key()
        sql = (
            f"SELECT count(*), sum(cust), min(price), max(price) FROM {TABLE} "
            f"VERSION AS OF {v} WHERE k BETWEEN {lo} AND {lo + 500}"
        )
        return Op("as_of", sql, expect=_agg(m.snapshots[v], lo, lo + 500))

    def _changes(self, a: int, b: int, kind: str) -> Op:
        sql = (
            f"SELECT k, _change_type, _commit_version, price FROM {TABLE} "
            f"CHANGES BETWEEN {a} AND {b}"
        )
        return Op(kind, sql, expect=self.model.changes(a, b))

    def _changes_newest(self) -> Op:
        m = self.model
        a = max(m.oldest, m.version - 2)
        self.read_ranges.append((a, m.version))
        return self._changes(a, m.version, "changes_newest")

    def _changes_reread(self) -> Op:
        """Re-read a range read before (the segmented-feed cache path),
        or the newest one if every earlier range has been vacuumed."""
        live = [(a, b) for a, b in self.read_ranges if a >= self.model.oldest]
        if not live:
            return self._changes_newest()
        a, b = self.rng.choice(live)
        return self._changes(a, b, "changes_reread")
