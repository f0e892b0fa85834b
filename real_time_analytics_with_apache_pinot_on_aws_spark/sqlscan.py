"""The SQL lexical scanner every text pass on the query path shares.

``Engine.query`` rewrites Pinot SQL as text before Spark parses it (the
aggregate call sites and statement routes in functions/aggsql.py, the
LOOKUP / GAPFILL / JSON_MATCH / table-reference passes in engine.py).
Each pass must agree on where code ends and data begins, so all of them
scan with the primitives below, and nowhere else defines them:

- string literals (``'...'`` and ``"..."``, with backslash and
  doubled-quote escapes) and comments (``--`` to end of line, ``/* */``)
  are opaque: a keyword, quote, comma or paren inside one is data;
- ``(`` and ``[`` both nest (``ARRAY[1, 2]`` is one argument);
- a keyword matches as a whole word, any case, bounded by characters
  that cannot continue an identifier.

Unterminated literals and comments run to the end of the text, like
Spark's lexer; the SQL parser reports them, not the scanner.
"""

from __future__ import annotations

import re
from collections.abc import Iterator


def _skip_literal(sql: str, i: int) -> int:
    """Index past the string literal whose opening quote is ``sql[i]``.
    Honors backslash escapes (Spark's default literal syntax) and
    doubled-quote escapes; ignoring ``\\'`` would let a rewrite corrupt
    literal content."""
    q, j, n = sql[i], i + 1, len(sql)
    while j < n:
        if sql[j] == "\\" and j + 1 < n:
            j += 2
            continue
        if sql[j] == q:
            if j + 1 < n and sql[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _skip_comment(sql: str, i: int) -> int | None:
    """Index past the comment starting at ``sql[i]`` (``--`` through the
    newline, or a ``/* */`` span), or ``None`` when none starts there.
    An apostrophe inside a comment must not open a literal."""
    if sql.startswith("--", i):
        j = sql.find("\n", i + 2)
        return len(sql) if j < 0 else j + 1
    if sql.startswith("/*", i):
        j = sql.find("*/", i + 2)
        return len(sql) if j < 0 else j + 2
    return None


def _skip_opaque(sql: str, i: int) -> int | None:
    """Index past the literal or comment starting at ``sql[i]``, or
    ``None`` when ``sql[i]`` starts neither."""
    ch = sql[i]
    if ch == "'" or ch == '"':
        return _skip_literal(sql, i)
    if ch == "-" or ch == "/":
        return _skip_comment(sql, i)
    return None


def _code_indices(sql: str, start: int = 0) -> Iterator[tuple[int, int]]:
    """``(i, depth)`` for every index at or after ``start`` outside
    literals and comments.  ``depth`` counts the ``(``/``[`` groups open
    around ``sql[i]`` relative to ``start``; an opener and its closer
    both report the depth outside the group."""
    depth, i, n = 0, start, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"-/":
            j = _skip_opaque(sql, i)
            if j is not None:
                i = j
                continue
        if ch in ")]":
            depth -= 1
        yield i, depth
        if ch in "([":
            depth += 1
        i += 1


def _ident_char(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def _word_at(sql: str, i: int, word: str) -> bool:
    """True when ``word`` (upper case) occurs at ``sql[i]`` in any case;
    an alphabetic ``word`` must also be bounded by non-identifier
    characters, so ``AND`` never matches inside ``brand`` or ``x_and``."""
    w = len(word)
    if sql[i : i + w].upper() != word:
        return False
    if not word[0].isalpha():
        return True
    return not (i > 0 and _ident_char(sql[i - 1])) and not (
        i + w < len(sql) and _ident_char(sql[i + w])
    )


def _scan_balanced(sql: str, open_idx: int) -> tuple[str, int]:
    """From the ``(`` at ``open_idx``: (inner text, index past its
    closer)."""
    for i, depth in _code_indices(sql, open_idx):
        if depth == 0 and i > open_idx:
            return sql[open_idx + 1 : i], i + 1
    raise ValueError("unbalanced parentheses in function call")


def _split_top_level(sql: str, sep: str = ",") -> list[str]:
    """Split ``sql`` at every depth-0 ``sep`` (``","`` or a keyword such as
    ``"AND"``).  Lossless: the pieces keep their whitespace, a trailing
    separator yields a trailing ``""`` and empty input yields ``[""]``,
    so the pieces plus separators rebuild the input."""
    sep = sep.upper()
    parts, start = [], 0
    for i, depth in _code_indices(sql):
        if depth == 0 and i >= start and _word_at(sql, i, sep):
            parts.append(sql[start:i])
            start = i + len(sep)
    parts.append(sql[start:])
    return parts


def _find_top_level_keyword(sql: str, word: str, start: int = 0) -> int:
    """Index of the first depth-0 whole-word ``word`` at or after
    ``start`` (which must itself be at depth 0); -1 if absent."""
    word = word.upper()
    for i, depth in _code_indices(sql, start):
        if depth == 0 and _word_at(sql, i, word):
            return i
    return -1


def _search_unquoted_re(pattern: re.Pattern, sql: str) -> re.Match | None:
    """First match of ``pattern`` outside literals and comments whose start
    is not preceded by an identifier character (any depth)."""
    for i, _ in _code_indices(sql):
        if not (i > 0 and _ident_char(sql[i - 1])):
            m = pattern.match(sql, i)
            if m:
                return m
    return None


def _literal_spans(sql: str) -> list[tuple[int, int]]:
    """``[start, end)`` of every literal and comment: the spans a textual
    rewrite must leave alone."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(sql)
    while i < n:
        j = _skip_opaque(sql, i)
        if j is None:
            i += 1
        else:
            spans.append((i, j))
            i = j
    return spans
