"""The shared SQL lexer (``sql_lex``) and the front-end splitters that
search its token stream.

The first section pins :func:`sql_lex.tokens` itself with properties over
inputs built from the fuzz atoms of ``test_rewrite_fuzz.py``.  The two
sections after it are regressions of the front end's fragment parsing,
each pinned against the review item that found it; their text below is
kept as first written.  The helpers those notes name (``_dot_qualified``,
``_SUBQUERY_RE``) are gone: the token stream's ``dotted`` flag and its
``(`` … SELECT search do their work.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hivekudu_handler_spark.sources.sql_ddl import (
    _find_boundary_then,
    _has_subquery,
    _split_keyword,
    _split_top,
    execute,
    split_statements,
)
from hivekudu_handler_spark.sources.sql_lex import sql_char_states, tokens
from hivekudu_handler_spark.sources.table_store import TableStore

_WHEN_HEAD = r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)"


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


# ---- token stream properties ----------------------------------------------

# well-formed atoms: every literal and comment is closed, so inserting
# text between two atoms never lands inside one
_atom = st.sampled_from([
    "CASE", "END", "WHEN", "THEN", "WHERE", "case", "end", "MATCHED",
    "x", "k", "1", "1.", "1.5", "=", ",", ";", "AND", "SELECT",
    "t.k = s.k", "s.v", "`a``b`", "`x;y`",
    "'WHEN MATCHED'", "'it''s'", "'a\\'b'", '"CASE ( END"', '"q\\"r"',
    "-- WHEN MATCHED (\n", "/* CASE ( */", "/*x*/",
    "CASE WHEN matched THEN 1 ELSE 0 END",
    "(CASE WHEN matched THEN 1 END)",
])
# column references spelled with structure words
_dotted = st.sampled_from(
    ["s.case", "t.end", "s . case", "t. end", "`end`", "`case`", "case.x",
     "`t`.end", "(x).case", "s.then", "s.when"]
)
_items = st.lists(_atom, max_size=12).map(" ".join)
_nested = st.recursive(
    _atom,
    lambda inner: st.lists(inner, max_size=4).map(lambda xs: "(" + " ".join(xs) + ")"),
    max_leaves=12,
)


# unbalanced fragments: open literals, comments and brackets, escapes
_broken = st.sampled_from(["'", '"', "`", "(", ")", "/*", "--", "\\", ".", "\n"])


@given(text=st.lists(st.one_of(_atom, _dotted, _broken)).map("".join))
@settings(max_examples=300, deadline=None)
def test_tokens_cover_the_text_and_agree_with_char_states(text):
    toks = tokens(text)
    assert "".join(t.text for t in toks) == text
    states = sql_char_states(text)
    pos = 0
    for t in toks:
        assert t.start == pos and t.text
        want = t.kind if t.kind in ("str", "ident", "comment") else "code"
        assert set(states[pos : pos + len(t.text)]) == {want}, (t, text)
        pos += len(t.text)
        assert t.case >= 0


@given(groups=st.lists(_nested, min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_depth_returns_to_zero_after_balanced_parens(groups):
    toks = tokens(" ".join(groups) + " tail")
    assert toks[-1].text == "tail" and toks[-1].depth == 0
    opened = []
    for t in toks:
        assert t.depth >= 0
        if t.text == "(":
            opened.append(t.depth)
        elif t.text == ")":
            assert t.depth == opened.pop()
    assert opened == []


@given(before=_items, ref=_dotted, after=_items)
@settings(max_examples=300, deadline=None)
def test_dotted_references_never_change_case_depth(before, ref, after):
    """Inserting ``s.case`` / ``t.end`` / `` `end` `` anywhere between
    two atoms leaves the CASE and paren depth of every other token as it
    was."""
    def depths(toks, skip=range(0)):
        return [
            (t.text, t.depth, t.case)
            for t in toks
            if t.kind != "space" and t.start not in skip
        ]

    plain = tokens(before + " " + after)
    lo = len(before) + 1
    with_ref = tokens(before + " " + ref + " " + after)
    ref_span = range(lo, lo + len(ref))
    assert depths(with_ref, ref_span) == depths(plain)
    for t in with_ref:
        if t.start in ref_span and t.text.upper() in ("CASE", "END"):
            assert t.dotted


# ---- r18: comments, CASE WHEN in MERGE, subquery probe --------------------
#
# r18 lexer-seam regressions (r17 ADVICE + verdict item 4).
#
# Three holes in the SQL front-end's hand-rolled fragment parsing, each
# pinned here against its advice item:
#
# * ``split_statements`` dropped comment characters without emitting a
#   separator, merging adjacent tokens (``SELECT 1/*c*/FROM t`` ->
#   ``SELECT 1FROM t``).
# * the MERGE WHEN-clause splitter mis-split on ``CASE WHEN`` inside an
#   ON/SET expression when a column is literally named ``matched``.
# * ``_SUBQUERY_RE`` searched raw DML text, so a string literal
#   containing ``(select`` spuriously paid ``register_views()`` (which
#   re-plans every stored view and can clobber same-named session temp
#   views).

# ---- comment = token separator --------------------------------------------

def test_block_comment_between_tokens_separates_them():
    assert split_statements("SELECT 1/*c*/FROM t; SELECT 2") == [
        "SELECT 1 FROM t",
        "SELECT 2",
    ]


def test_line_comment_and_string_semicolons_still_honored():
    got = split_statements(
        "SELECT 'a;b' AS s -- trailing; comment\n; SELECT 2/*x;y*/+1"
    )
    assert got == ["SELECT 'a;b' AS s", "SELECT 2 +1"]


# ---- CASE WHEN vs clause-level WHEN in the MERGE splitter ------------------

def test_split_keyword_skips_case_when_matched():
    segs = _split_keyword(
        "t.k = s.k AND CASE WHEN matched THEN 1 ELSE 0 END = 1 "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)",
    )
    assert len(segs) == 2
    assert "CASE WHEN matched THEN 1" in segs[0]
    assert segs[1].startswith("MATCHED THEN UPDATE")


def test_split_keyword_nested_case_and_string_literals():
    segs = _split_keyword(
        "x = 'WHEN MATCHED' AND CASE WHEN CASE WHEN matched THEN 1 END = 1 "
        "THEN 2 END = 2 WHEN NOT MATCHED THEN INSERT VALUES (1)",
        r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)",
    )
    assert len(segs) == 2
    assert segs[1].startswith("NOT MATCHED THEN INSERT")


def test_merge_with_column_named_matched(spark, store):
    store.create_table("tgt", "id int, matched int, v string", ["id"])
    store.insert_values("tgt", [(1, 0, "old"), (2, 1, "keep")])
    store.create_table("src", "id int, v string", ["id"])
    store.insert_values("src", [(1, "new"), (3, "ins")])
    execute(
        store,
        "MERGE INTO tgt t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN t.matched = 1 THEN t.v ELSE s.v END "
        "WHEN NOT MATCHED THEN INSERT (id, matched, v) "
        "VALUES (s.id, 0, s.v)",
    )
    got = sorted(tuple(r) for r in store.scan("tgt").collect())
    assert got == [(1, 0, "new"), (2, 1, "keep"), (3, 0, "ins")]


# ---- subquery detection masks literals/comments ----------------------------

def test_has_subquery_masks_string_literals_and_comments():
    assert not _has_subquery("v = '(select x)'")
    assert not _has_subquery('v = "(SELECT 1)"')
    assert not _has_subquery("v = 1 /* (select hidden) */")
    assert _has_subquery("k IN (SELECT k FROM u)")
    assert _has_subquery("k IN ( /*c*/ SELECT k FROM u)")


def test_update_with_subquery_lookalike_literal_skips_view_replan(
    spark, store
):
    store.create_table("t", "id int, v string", ["id"])
    store.insert_values("t", [(1, "a"), (2, "b")])
    calls = []
    orig = store.register_views
    store.register_views = lambda *a, **k: (calls.append(1), orig(*a, **k))
    execute(store, "UPDATE t SET v = '(select x)' WHERE id = 1")
    assert not calls, "literal-only DML must not re-plan stored views"
    execute(store, "DELETE FROM t WHERE id IN (SELECT id FROM t WHERE v = 'b')")
    assert calls, "a real subquery still binds the views"
    assert sorted(r["v"] for r in store.scan("t").collect()) == ["(select x)"]


# ---- r19: qualified CASE/END, backtick identifiers --------------------------
#
# r19 lexer-seam regressions (r18 ADVICE, medium item).
#
# The r18 CASE/END depth tracker in the MERGE clause splitter treated
# QUALIFIED identifiers as keywords — CASE and END are non-reserved words
# in Spark SQL, so both spellings below are valid column references, not
# CASE-expression brackets:
#
# * ``s.case`` in an ON condition incremented ``case_depth`` and silently
#   swallowed every later real ``WHEN MATCHED`` clause head (the whole
#   MERGE tail came back as one segment);
# * ``t.end`` inside a genuine ``CASE ... END`` decremented the depth
#   early, so a ``WHEN NOT matched`` CASE branch was mis-split as a
#   clause head.
#
# Two fixes, both pinned here:
#
# * :func:`_dot_qualified` — a CASE/END/pattern word whose nearest
#   non-space code neighbor on either side is ``.`` is skipped by the
#   depth counter and the split pattern;
# * the shared lexer (``sql_lex.sql_char_states``) now marks
#   backtick-quoted identifiers as ``'ident'`` (non-code), so `` `end` ``
#   / `` `case` `` column names — and commas/semicolons inside quoted
#   identifiers — never reach any splitter at all.

# ---- qualified CASE/END are column references, not brackets ----------------

def test_qualified_case_does_not_swallow_clause_heads():
    segs = _split_keyword(
        "t.k = s.k AND s.case = 1 "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
        _WHEN_HEAD,
    )
    assert len(segs) == 3  # ON text + two clause heads


def test_qualified_end_does_not_close_case_early():
    # the CASE is still open at the `WHEN NOT matched` branch — that
    # WHEN belongs to the CASE, not to the MERGE clause list
    segs = _split_keyword(
        "t.k = s.k AND CASE WHEN t.end > 0 THEN 1 "
        "WHEN NOT matched THEN 2 ELSE 0 END = 1 "
        "WHEN MATCHED THEN DELETE",
        _WHEN_HEAD,
    )
    assert len(segs) == 2
    assert "WHEN NOT matched THEN 2" in segs[0]


def test_whitespace_around_dot_still_qualifies():
    segs = _split_keyword(
        "t.k = s.k AND s . case = 1 WHEN MATCHED THEN DELETE",
        _WHEN_HEAD,
    )
    assert len(segs) == 2


def test_boundary_then_ignores_qualified_case_end():
    # AND <cond> THEN <action>: s.case must not open a CASE (which
    # would hide the clause-level THEN), t.end must not close the real
    # CASE early (which would surface the CASE's own THEN)
    text = "AND s.case = 1 THEN DELETE"
    i = _find_boundary_then(text)
    assert text[i:].startswith("THEN DELETE")
    text2 = "AND CASE WHEN t.end > 0 THEN 1 ELSE 0 END = 1 THEN DELETE"
    j = _find_boundary_then(text2)
    assert text2[j:].startswith("THEN DELETE")


def test_unqualified_case_end_still_tracked():
    # the r18 behavior this fix must NOT regress
    segs = _split_keyword(
        "t.k = s.k AND CASE WHEN matched THEN 1 ELSE 0 END = 1 "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        _WHEN_HEAD,
    )
    assert len(segs) == 2


# ---- backtick-quoted identifiers are non-code ------------------------------

def test_char_states_marks_backtick_identifiers():
    text = "SELECT `a;b``c`, 'x' FROM t"
    states = sql_char_states(text)
    start, stop = text.index("`"), text.rindex("`") + 1
    assert set(states[start:stop]) == {"ident"}
    assert states[text.index("'")] == "str"
    assert states[0] == "code"


def test_backtick_end_case_never_reach_depth_counter():
    segs = _split_keyword(
        "t.k = s.k AND `case` = 1 AND `end` = 2 "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        _WHEN_HEAD,
    )
    assert len(segs) == 2


def test_semicolon_and_comma_inside_backticks_do_not_split():
    assert split_statements("SELECT `a;b` FROM t; SELECT 2") == [
        "SELECT `a;b` FROM t",
        "SELECT 2",
    ]
    assert _split_top("`a,b`, c") == ["`a,b`", " c"]


# ---- end-to-end: MERGE over a table with a column named `case` -------------

def test_merge_with_qualified_case_column(spark, store):
    """doc/DesignDocument.md:9 upsert goal — a source column literally
    named ``case`` (non-reserved) referenced as ``s.case`` in the ON
    condition must not swallow the WHEN clauses."""
    store.create_table("mc", "k int, v int", ["k"])
    store.insert_values("mc", [(1, 10), (2, 20)])
    store.create_table("mc_src", "k int, v int, case int", ["k"])
    store.insert_values("mc_src", [(1, 100, 1), (3, 300, 1)])
    execute(
        store,
        "MERGE INTO mc AS t USING mc_src AS s "
        "ON t.k = s.k AND s.case = 1 "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
    )
    got = {r["k"]: r["v"] for r in store.scan("mc").collect()}
    assert got == {1: 100, 2: 20, 3: 300}


def test_trailing_dot_numeric_literal_before_end_still_closes_case():
    # `THEN 1. END` — the dot is a numeric literal's tail, not a
    # qualifier; END must still close the CASE so the clause-level
    # WHEN MATCHED splits
    segs = _split_keyword(
        "t.k = s.k AND CASE WHEN x THEN 1. ELSE 0. END = 1 "
        "WHEN MATCHED THEN DELETE",
        _WHEN_HEAD,
    )
    assert len(segs) == 2
