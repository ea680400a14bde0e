"""Impala SQL lexical rules, in one place.

The reference lexes its dialect once, with one JFlex scanner
(`fe/src/main/jflex/sql-scanner.flex`), and every later pass sees the
same tokens. The string-level rewrites here (dialect shim, nested
paths, DDL parsers, the test harnesses) share this module's rules
instead of each carrying its own subset:

* `'...'` and `"..."` string literals, with doubled-quote (`''`) and
  backslash (`\\'`) escapes;
* backtick-quoted identifiers (a doubled backtick is an escape);
* `--` line comments and `/* */` block comments.

An unterminated literal, identifier or block comment runs to the end
of the text.

A rewrite searches keywords on a *shadow*: a same-length copy of the
text with the contents of those tokens blanked, so a keyword, paren or
comma inside a literal never counts, and every position found on the
shadow slices the original text 1:1.
"""

from __future__ import annotations

import re

_TOKEN = (r"'(?:\\[\s\S]?|''|[^'\\])*(?P<sq>'|\Z)"
          r'|"(?:\\[\s\S]?|""|[^"\\])*(?P<dq>"|\Z)'
          r"|`(?:``|[^`])*(?P<bq>`|\Z)"
          r"|(?P<cm>--[^\n]*|/\*[\s\S]*?(?:\*/|\Z))")
_TOKENS = re.compile(_TOKEN)
# tokens first, so a paren inside a literal or comment is consumed
# with it and never reaches the depth count
_TOKENS_OR_PARENS = re.compile(_TOKEN + r"|[()]")
_PARENS = re.compile(r"[()]")


def shadow(sql: str, comments: bool = True, idents: bool = True) -> str:
    """Same-length copy of `sql` with the contents of string literals,
    backtick identifiers and comments replaced by spaces. Quote
    characters that delimit a literal stay; a comment is blanked
    whole.

    ``comments=False`` keeps comment text (plan hints such as
    `/*+broadcast*/` are comments a pass must still see);
    ``idents=False`` keeps backtick identifiers (a pass matching
    identifier spellings such as a db named `parquet`). Either way
    the text is lexed by the same rules: a quote inside a kept comment
    or identifier still opens no literal."""

    def blank(m: re.Match) -> str:
        tok, kind = m.group(), m.lastgroup
        if kind == "cm":
            return " " * len(tok) if comments else tok
        if kind == "bq" and not idents:
            return tok
        close = m.group(kind)
        return tok[0] + " " * (len(tok) - 1 - len(close)) + close

    return _TOKENS.sub(blank, sql)


def top_level(sql: str) -> str:
    """The shadow of `sql` with every parenthesized span, parens
    included, also blanked: what is left is the text at paren depth 0.
    A `)` that closes no `(` stays visible (it ends the enclosing
    scope a fragment was cut from); an unclosed `(` blanks the rest."""
    sh = shadow(sql)
    out, depth, pos = [], 0, 0
    for m in _PARENS.finditer(sh):
        i, c = m.start(), m.group()
        if c == "(":
            if depth == 0:
                out.append(sh[pos:i])
                pos = i
            depth += 1
        elif c == ")" and depth:
            depth -= 1
            if depth == 0:
                out.append(" " * (i + 1 - pos))
                pos = i + 1
    out.append(sh[pos:] if depth == 0 else " " * (len(sh) - pos))
    return "".join(out)


def close_paren(sql: str, open_idx: int) -> int:
    """Index of the `)` matching the `(` at `open_idx`, or -1 when the
    text ends first. Parens inside literals and comments don't count."""
    depth = 0
    for m in _TOKENS_OR_PARENS.finditer(sql, open_idx):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return m.start()
    return -1


def split_top(text: str, angle: bool = False) -> list[str]:
    """Split `text` on commas outside parens, brackets, literals and
    comments; items come back stripped, empty ones dropped.
    ``angle=True`` also nests `<...>`, for type lists such as
    `struct<a:int,b:string>`."""
    nest = r"[()\[\]<>,]" if angle else r"[()\[\],]"
    out, depth, start = [], 0, 0
    for m in re.finditer(nest, shadow(text)):
        c = m.group()
        if c == ",":
            if depth == 0:
                out.append(text[start:m.start()])
                start = m.end()
        elif c in "([<":
            depth += 1
        else:
            depth -= 1
    out.append(text[start:])
    return [s.strip() for s in out if s.strip()]
