"""Property-based tests for the dialect rewriter: macro expansion must
preserve structure under arbitrary nesting, string literals containing
parens/commas, and mixed-case names — the failure modes of
string-level SQL rewriting."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from incubator_impala_spark import dialect, sqlscan
from incubator_impala_spark.functions.registry import MACROS

idents = st.sampled_from(["a", "b_2", "t.c", "x", "`a,b`"])


@st.composite
def exprs(draw, depth=0):
    if depth > 2:
        return draw(idents)
    kind = draw(st.sampled_from(["ident", "macro", "call", "str", "arith"]))
    if kind == "ident":
        return draw(idents)
    if kind == "str":
        s = draw(st.sampled_from(["(", ")", ",", "a b", "it''s", "%",
                                  r"it\'s, x"]))
        return f"'{s}'"
    if kind == "arith":
        a = draw(exprs(depth=depth + 1))
        b = draw(exprs(depth=depth + 1))
        return f"({a} + {b})"
    if kind == "call":
        a = draw(exprs(depth=depth + 1))
        b = draw(exprs(depth=depth + 1))
        return f"coalesce({a}, {b})"
    name = draw(st.sampled_from(["zeroifnull", "ZEROIFNULL", "nullifzero", "strleft"]))
    a = draw(exprs(depth=depth + 1))
    if name.lower() == "strleft":
        return f"{name}({a}, 3)"
    return f"{name}({a})"


def _outside_quotes(s: str) -> str:
    return sqlscan.shadow(s)


@given(e=exprs())
def test_rewrite_balances_parens_and_quotes(e):
    sql = f"SELECT {e} FROM t"
    out = dialect.translate(sql, MACROS)
    # structural invariants (evaluated outside string literals):
    # balanced parens, even quote count, no macro names survive
    bare = _outside_quotes(out)
    assert bare.count("(") == bare.count(")")
    assert bare.count("'") % 2 == 0
    lowered = bare.lower()
    assert "zeroifnull" not in lowered
    assert "nullifzero" not in lowered
    assert "strleft" not in lowered


@given(e=exprs())
def test_rewrite_is_idempotent(e):
    sql = f"SELECT {e} FROM t"
    once = dialect.translate(sql, MACROS)
    twice = dialect.translate(once, MACROS)
    assert once == twice
