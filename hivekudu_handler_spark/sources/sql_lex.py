"""Shared SQL lexer — the ONE place the engine decides what is a string
literal, a comment, a bracket or a keyword.

One regex splits SQL text into tokens.  Every hand-rolled splitter in the
SQL front end (statement splitting, clause and fragment parsing, the MERGE
clause heads, the subquery probe) and the table layer's DDL column-list
parser search :func:`tokens`; the version-clause rewrite mask reads
:func:`sql_char_states`, and the statement stripper :func:`skip_blank`,
both off the same regex.  So the dialect decision is made exactly once:

* Spark non-ANSI: BOTH quote styles are string literals (``session.py``
  pins ``spark.sql.ansi.enabled=false``); doubling and backslash escapes
  are live inside them.
* Backticks quote identifiers; a doubled backtick is the escape.  A
  column literally named `` `end` `` / `` `case` `` (all non-reserved in
  Spark) is an ``ident`` token, never a keyword, and a comma or semicolon
  inside a quoted identifier never splits.
* ``--`` line and ``/* */`` bracketed comments exist.  Comments are
  quote-opaque (``-- don't`` opens no string) and strings are
  comment-opaque (``'a -- b'`` keeps its tail).  An unterminated literal
  or comment runs to the end of the text.

Each token also carries its paren depth and its ``CASE … END`` depth, so
a splitter asks "is this comma at depth 0" instead of counting brackets
itself.  The structure words CASE, END, WHEN and THEN are non-reserved:
spelled inside a dotted reference (``s.case``, ``t . end``, ``case.x``)
they are column names, flagged ``dotted`` (no other word carries the
flag), and a dotted CASE or END never opens or closes a CASE.  A dot
after an all-digit word is a number's tail, so ``THEN 1. END`` still
closes.
"""

from __future__ import annotations

import re
from typing import NamedTuple

# the tokens a splitter can see through; the rest are code
_OPAQUE = (
    r"(?P<comment>--[^\n]*|/\*.*?(?:\*/|\Z))"
    r"|(?P<str>'(?:[^'\\]+|\\.|'')*(?:'|\\?\Z)"
    r"|\"(?:[^\"\\]+|\\.|\"\")*(?:\"|\\?\Z))"
    r"|(?P<ident>`(?:[^`]+|``)*(?:`|\Z))"
)
_TOKEN_RE = re.compile(
    r"(?P<space>\s+)|(?P<word>\w+)|" + _OPAQUE + r"|(?P<code>.)", re.S
)
_OPAQUE_RE = re.compile(_OPAQUE, re.S)
_BLANK = ("space", "comment")
# words whose dotted spelling is a column, not syntax
_STRUCTURE = frozenset({"CASE", "END", "WHEN", "THEN"})


class Token(NamedTuple):
    kind: str  # word / code / space / str / ident / comment
    text: str
    start: int
    depth: int  # paren depth; '(' and ')' sit at the depth outside them
    case: int  # CASE…END depth; CASE and END sit at the depth outside
    dotted: bool  # a structure word spelled inside a dotted reference


def _dotted(raw: list, i: int) -> bool:
    """Whether word ``raw[i]`` sits next to a qualifying dot: before it
    one that follows an identifier, a quoted identifier or ``)``
    (``s.case``, `` `t`.end ``, ``(x).case``; never ``1. END``), or
    after it any dot (``case.x``).  Blanks may surround the dot."""
    j = i - 1
    while j >= 0 and raw[j][0] in _BLANK:
        j -= 1
    if j >= 0 and raw[j][1] == ".":
        j -= 1
        while j >= 0 and raw[j][0] == "space":
            j -= 1
        if j >= 0 and (
            raw[j][0] == "ident"
            or raw[j][1] == ")"
            or (raw[j][0] == "word" and not raw[j][1].isdigit())
        ):
            return True
    j = i + 1
    while j < len(raw) and raw[j][0] in _BLANK:
        j += 1
    return j < len(raw) and raw[j][1] == "."


def tokens(text: str) -> list[Token]:
    """``text`` as tokens, in order; their texts concatenate back to it.
    Code tokens are single characters; an END closes a CASE only while
    one is open."""
    raw = [(m.lastgroup, m[0], m.start()) for m in _TOKEN_RE.finditer(text)]
    out: list[Token] = []
    append, make = out.append, Token._make
    depth = case = 0
    for i, (kind, tok, start) in enumerate(raw):
        word = tok.upper() if kind == "word" and len(tok) <= 4 else ""
        dotted = word in _STRUCTURE and _dotted(raw, i)
        if tok == ")":
            depth -= 1
        elif word == "END" and case and not dotted:
            case -= 1
        append(make((kind, tok, start, depth, case, dotted)))
        if tok == "(":
            depth += 1
        elif word == "CASE" and not dotted:
            case += 1
    return out


def sql_char_states(text: str) -> list[str]:
    """Per-character lexical state: ``'str'`` inside a string literal,
    ``'ident'`` inside a backtick-quoted identifier, ``'comment'`` inside
    a comment (quotes, backticks and markers included), ``'code'``
    otherwise."""
    states = ["code"] * len(text)
    for m in _OPAQUE_RE.finditer(text):
        a, b = m.span()
        states[a:b] = [m.lastgroup] * (b - a)
    return states


def skip_blank(text: str) -> int:
    """Index of the first token that is neither whitespace nor a comment
    (``len(text)`` when there is none)."""
    for m in _TOKEN_RE.finditer(text):
        if m.lastgroup not in _BLANK:
            return m.start()
    return len(text)
