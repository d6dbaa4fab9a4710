"""Property fuzz over the version-clause rewrite seam (pure string
splicing — no Spark session): literals are never touched, clauses only
fire where they should, and non-clause text survives byte-for-byte."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from hivekudu_handler_spark.sources.sql_ddl import (
    _rewrite_changefeed,
    _rewrite_time_travel,
    _rewrite_timestamp_travel,
    _rewrite_version_clauses,
)


class _StubStore:
    """Just enough store for the rewrites: table membership plus
    view-binding calls recorded (binding returns self so
    createOrReplaceTempView resolves)."""

    def __init__(self, tables=("snap", "t1")):
        self._tables = set(tables)
        self.bound: list[str] = []

    def has_table(self, name):
        return name in self._tables

    def changefeed(self, name, frm, to):
        if name not in self._tables:
            raise AssertionError("changefeed called for unknown table")
        return self

    def scan_snapshot(self, name, version):
        return self

    def version_at(self, name, ts):
        return 1

    def createOrReplaceTempView(self, alias):
        self.bound.append(alias)


_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True).filter(
    # the property is about NON-table identifiers: drawing a stub-store
    # table name would (correctly) fire the rewrite and fail the test
    lambda s: s.lower() not in ("t1", "snap")
)
_text = st.text(
    # a quote would close the literal the templates wrap these in, and a
    # trailing backslash would escape that closing quote (backslash
    # escapes are live in Spark's default lexer, which the scanner
    # mirrors) — both change the statement's lexical shape, which is
    # not what these properties are about
    alphabet=st.characters(blacklist_characters="'\\"),
    min_size=0,
    max_size=20,
)


@given(prefix=_text, suffix=_text, a=st.integers(0, 99), b=st.integers(0, 99))
@settings(max_examples=200, deadline=None)
def test_clause_inside_string_literal_never_rewrites(prefix, suffix, a, b):
    for phrase in (
        f"snap CHANGES BETWEEN {a} AND {b}",
        "snap VERSION AS OF 3",
        "snap TIMESTAMP AS OF '12.5'",
    ):
        stmt = f"SELECT '{prefix}{phrase}{suffix}' AS c FROM snap"
        store = _StubStore()
        out = _rewrite_version_clauses(store, stmt)
        assert f"'{prefix}{phrase}{suffix}'" in out
        assert store.bound == []


@given(col=_ident, a=st.integers(0, 99), b=st.integers(0, 99))
@settings(max_examples=200, deadline=None)
def test_changes_predicate_on_nontable_identifier_passes_through(col, a, b):
    """x CHANGES BETWEEN 1 AND 3 where x is NOT a store table is plain
    SQL (a column named 'changes' in a BETWEEN predicate) and must pass
    through unmodified."""
    stmt = f"SELECT * FROM t1 WHERE {col} changes BETWEEN {a} AND {b}"
    store = _StubStore(tables=("t1",))
    out = _rewrite_changefeed(store, stmt)
    assert out == stmt
    assert store.bound == []


@given(
    pre=_text,
    post=_text,
    frm=st.integers(0, 9),
    delta=st.integers(0, 100),
)
@settings(max_examples=200, deadline=None)
def test_surrounding_text_survives_byte_for_byte(pre, post, frm, delta):
    # every range, shallow or deep, binds through store.changefeed
    to = frm + delta
    stmt = f"SELECT '{pre}' AS a, x FROM snap CHANGES BETWEEN {frm} AND {to} WHERE y = '{post}'"
    store = _StubStore()
    out = _rewrite_changefeed(store, stmt)
    assert out.startswith(f"SELECT '{pre}' AS a, x FROM __cf_snap_v{frm}_v{to}")
    assert out.endswith(f"WHERE y = '{post}'")
    assert store.bound == [f"__cf_snap_v{frm}_v{to}"]


@given(n=st.integers(0, 99))
@settings(max_examples=50, deadline=None)
def test_version_and_timestamp_clauses_bind_tt_views(n):
    store = _StubStore()
    out = _rewrite_time_travel(store, f"SELECT * FROM snap VERSION AS OF {n}")
    assert f"__tt_snap_v{n}" in out and store.bound == [f"__tt_snap_v{n}"]
    store = _StubStore()
    out = _rewrite_timestamp_travel(
        store, "SELECT * FROM snap TIMESTAMP AS OF '5.0'"
    )
    assert "__tt_snap_v1" in out and store.bound == ["__tt_snap_v1"]


# ---- MERGE WHEN-clause splitter (CASE-aware since r18) ---------------------

from hivekudu_handler_spark.sources.sql_ddl import _split_keyword

_WHEN_HEAD = r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)"

# ON-condition noise: every known way to spell WHEN/MATCHED where it is
# NOT a clause head — CASE expressions (nested, parenthesized), string
# literals, comments, a column literally named `matched`
_on_noise = st.sampled_from([
    "t.k = s.k",
    "t.k = s.k AND CASE WHEN matched THEN 1 ELSE 0 END = 1",
    "t.k = s.k AND v = 'WHEN MATCHED'",
    'CASE WHEN CASE WHEN matched THEN 1 END = 1 THEN 2 ELSE 3 END = 2',
    "t.k = s.k AND (CASE WHEN matched THEN 1 END) = 1",
    "t.k = s.k -- WHEN MATCHED\n AND 1 = 1",
    "t.k = s.k /* WHEN NOT MATCHED */ AND matched = matched",
])
_clause_bodies = st.lists(
    st.sampled_from([
        "MATCHED THEN UPDATE SET v = CASE WHEN matched THEN s.v ELSE t.v END",
        "NOT MATCHED THEN INSERT VALUES (s.k, 'WHEN MATCHED')",
        "MATCHED AND t.v = 'when matched' THEN DELETE",
        "NOT MATCHED AND CASE WHEN matched THEN 1 ELSE 0 END = 0 "
        "THEN INSERT VALUES (s.k, s.v)",
    ]),
    min_size=1,
    max_size=4,
)


@given(on=_on_noise, bodies=_clause_bodies)
@settings(max_examples=300, deadline=None)
def test_merge_when_splitter_splits_exactly_at_clause_heads(on, bodies):
    """The splitter fires on every real clause head and ONLY there: the
    segment count is 1 + #clauses, segment 0 is the ON condition, and
    each clause body survives byte-for-byte (CASE...END interiors,
    literals and comments included)."""
    text = on + " " + " ".join("WHEN " + b for b in bodies)
    segs = _split_keyword(text, _WHEN_HEAD)
    assert len(segs) == 1 + len(bodies), segs
    assert segs[0].strip() == on.strip()
    for seg, body in zip(segs[1:], bodies):
        assert seg.strip() == body.strip()
