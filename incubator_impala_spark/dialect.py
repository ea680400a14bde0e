"""Impala-SQL → Spark-SQL dialect shim.

The reference parses its dialect with a CUP grammar
(`fe/src/main/cup/sql-parser.cup`, 4,245 lines) and rewrites
expressions in the analyzer (`fe/.../analysis/Analyzer.java:506-530`).
Spark's ANTLR parser + Catalyst already cover ~95% of the dialect; this
shim string-rewrites the remaining differences *before* `spark.sql`:

1. Macro functions Impala has but Spark spells differently
   (`zeroifnull`, `istrue`, `strleft`, ... — registry in
   `functions/registry.py::MACROS`), expanded with balanced-paren
   argument parsing, not naive regex.
2. ORDER BY null-ordering defaults: Impala defaults NULLS LAST on ASC
   and NULLS FIRST on DESC (`fe/.../analysis/OrderByElement.java:74-85`)
   — the opposite of Spark. We make the default explicit.

This is deliberately a *shim*, not a SQL parser: rewrites are
conservative and only fire on patterns they fully understand.

The NULL-ordering rewrite walks each ORDER BY clause with the same
balanced-paren/string scanner the macro expander uses: items are split
on top-level commas, the clause ends at a top-level `)`, `;`, or a
terminator keyword (LIMIT/OFFSET/ROWS/RANGE/...), so `ORDER BY f(x)
DESC` and bare `ORDER BY expr` (implicit ASC → NULLS LAST, reference
OrderByElement.java:74-85) are both handled.
"""

from __future__ import annotations

import re

from incubator_impala_spark import sqlscan


class _ShadowMatch:
    """Match adapter: spans come from a match on the sqlscan.shadow()
    copy, group TEXT is sliced from the original SQL (shadow and
    original are the same length, so spans align 1:1). Lets repl
    callbacks see real literal contents inside capture groups while the
    pattern itself can never fire inside a literal."""

    def __init__(self, m: re.Match, orig: str):
        self._m, self._orig = m, orig

    def group(self, i=0):
        s, e = self._m.span(i)
        return None if s == -1 else self._orig[s:e]

    def start(self, i=0):
        return self._m.start(i)

    def end(self, i=0):
        return self._m.end(i)

    def span(self, i=0):
        return self._m.span(i)


def _shadow_sub(pattern: re.Pattern, repl, sql: str,
                shadow: str | None = None) -> str:
    """re.sub over the literal/comment-blind shadow, splicing untouched
    spans from the original text. `repl` is a string template (group
    refs expand from the ORIGINAL text) or a callable receiving a
    _ShadowMatch."""
    if shadow is None:
        shadow = sqlscan.shadow(sql)
    out, pos = [], 0
    for m in pattern.finditer(shadow):
        out.append(sql[pos:m.start()])
        sm = _ShadowMatch(m, sql)
        if callable(repl):
            out.append(repl(sm))
        else:
            # expand \1 / \g<name> refs against original-text groups
            out.append(re.sub(
                r"\\(\d+)|\\g<(\w+)>",
                lambda g: sm.group(int(g.group(1)) if g.group(1)
                                   else g.group(2)) or "",
                repl))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _has_empty_arg(args: str) -> bool:
    """True when an argument before the last top-level comma is blank
    (`f(, x)`, `f(a,, b)`); comments count as blank, as in the lexer."""
    sh = sqlscan.shadow(args)
    cuts = [-1] + [i for i, c in enumerate(sqlscan.top_level(args))
                   if c == ","]
    return any(not sh[a + 1:b].strip() for a, b in zip(cuts, cuts[1:]))


def rewrite_macro_calls(sql: str, name: str, template) -> str:
    """Replace every `name(args...)` with template(args) (balanced parens).

    `template` is a callable taking the list of raw arg strings and
    returning replacement SQL.
    """
    # the call pattern can only match where the name occurs (same
    # case folding as the pattern: str.lower() misses e.g. U+017F);
    # most of the registry's macros are absent from any one statement
    if not re.search(re.escape(name), sql, re.IGNORECASE):
        return sql
    pat = re.compile(r"\b" + re.escape(name) + r"\s*\(", re.IGNORECASE)
    shadow = sqlscan.shadow(sql)  # literal/comment-blind keyword search
    out, pos = [], 0
    while True:
        m = pat.search(shadow, pos)
        if not m:
            out.append(sql[pos:])
            break
        close = sqlscan.close_paren(shadow, m.end() - 1)
        if close < 0:  # unbalanced — bail out, leave untouched
            out.append(sql[pos:])
            break
        # recurse into the argument text: a same-name macro nested
        # inside this call sits within the span we skip past, so it
        # must be rewritten before templating (found by the dialect
        # fuzzer: zeroifnull(zeroifnull(a)) survived one pass)
        inner = rewrite_macro_calls(sql[m.end():close], name, template)
        replacement = sql[m.start():close + 1]
        # an empty argument (`f(, x)`, `f(a,, b)`) is malformed: keep
        # the call for Spark to reject, as Impala does
        if not _has_empty_arg(inner):
            try:
                replacement = template(sqlscan.split_top(inner))
            except Exception:
                pass
        out.append(sql[pos:m.start()])
        out.append(replacement)
        pos = close + 1
    return "".join(out)


_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
# An ORDER BY item list ends at a `)` closing its scope, a `;`, or one
# of these keywords, at nesting depth 0. ROWS/RANGE end a window-spec
# ORDER BY; the rest end statement-level clauses. (A *column* named
# e.g. `rows` would need quoting — same tradeoff the reference's own
# parser reserves these words under.)
_ORDER_END = re.compile(
    r"[);]|\b(?:limit|offset|fetch|rows|range|union|intersect|except|"
    r"window|into)\b", re.IGNORECASE)
_NULLS_SUFFIX = re.compile(r"\bNULLS\s+(FIRST|LAST)\s*$", re.IGNORECASE)
_DIR_SUFFIX = re.compile(r"\b(ASC|DESC)\s*$", re.IGNORECASE)


def _fix_order_item(item: str) -> str:
    """Append Impala's default NULLS placement to one ORDER BY item.

    The suffix goes after the expression and its direction, ahead of
    any trailing comment; an item that ends in a `--` comment keeps a
    line break after it, so the items and clauses that follow stay
    outside the comment."""
    sh = sqlscan.shadow(item)
    code_sh = sh.rstrip()
    code, tail = item[:len(code_sh)], item[len(code_sh):]
    if tail and sqlscan.shadow(item + "x").endswith(" "):
        tail += "\n"    # text appended here would be commented out
    if not code or _NULLS_SUFFIX.search(code_sh):
        return code + tail
    m = _DIR_SUFFIX.search(code_sh)
    if m:
        nulls = "NULLS LAST" if m.group(1).upper() == "ASC" else "NULLS FIRST"
        return f"{code} {nulls}{tail}"
    # bare item: Impala implicit ASC defaults NULLS LAST
    # (OrderByElement.java:74-85); Spark implicit ASC is NULLS FIRST.
    return f"{code} ASC NULLS LAST{tail}"


def apply_impala_null_ordering(sql: str) -> str:
    """Make Impala's NULLS LAST (ASC) / NULLS FIRST (DESC) explicit.

    Finds every ORDER BY clause (statement-level and window-spec) on
    the literal/comment-blind shadow of the SQL (so 'ORDER BY' inside a
    string literal or comment is never treated as a clause — ADVICE
    r2): items split on top-level commas; the clause ends at a
    top-level `)`, `;`, or terminator keyword. Items that already
    carry NULLS FIRST/LAST are untouched.
    """
    shadow = sqlscan.shadow(sql)
    out: list[str] = []
    pos = 0
    while True:
        m = _ORDER_BY.search(shadow, pos)
        if not m:
            out.append(sql[pos:])
            break
        em = _ORDER_END.search(sqlscan.top_level(shadow[m.end():]))
        end = m.end() + em.start() if em else len(sql)
        items = sqlscan.split_top(sql[m.end():end])
        out.append(sql[pos : m.end()])
        out.append(" " + ", ".join(_fix_order_item(it) for it in items))
        # preserve a separator before any terminator keyword
        if end < len(sql) and sql[end] not in (")", ";"):
            out.append(" ")
        pos = end
    return "".join(out)


# ---------------------------------------------------------------------------
# CAST(x AS STRING FORMAT '<fmt>') — Impala's ISO-SQL datetime format
# clause (be/src/exprs/cast-format-expr.h; SURVEY hard part #1). The
# shim translates the ISO tokens to Java SimpleDateFormat-style
# patterns and rewrites to date_format(). Token table covers the
# documented core; unknown tokens pass through unchanged (they are
# almost always literal separators).
# ---------------------------------------------------------------------------
_LAST3 = object()  # YYY prints the LAST 3 digits (Java 'yyy' is min-3)
_LAST1 = object()  # Y prints the last digit
_SECS_OF_DAY = object()  # SSSSS: zero-padded seconds since midnight
_MERIDIEM_DOTS = object()  # A.M./P.M. prints the dotted indicator
_ISO_FMT_TOKENS = [  # longest-first
    ("YYYY", "yyyy"), ("RRRR", "yyyy"), ("YYY", _LAST3), ("YY", "yy"),
    ("RR", "yy"), ("Y", _LAST1),
    ("DDD", "DDD"), ("DD", "dd"), ("HH24", "HH"), ("HH12", "hh"),
    ("HH", "hh"), ("MI", "mm"), ("SSSSS", _SECS_OF_DAY), ("SS", "ss"),
    ("FF9", None), ("FF", "SSS"), ("TZH", "xx"), ("MONTH", "MMMM"),
    ("MON", "MMM"), ("MM", "MM"), ("DAY", "EEEE"), ("DY", "EEE"),
    ("A.M.", _MERIDIEM_DOTS), ("P.M.", _MERIDIEM_DOTS),
    ("AM", "a"), ("PM", "a"), ("T", "'T'"), ("Z", "'Z'"),
]


def translate_iso_format(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        for tok, repl in _ISO_FMT_TOKENS:
            if fmt[i : i + len(tok)].upper() == tok:
                if not isinstance(repl, str):
                    raise ValueError(f"unsupported FORMAT token {tok}")
                out.append(repl)
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def iso_print_expr(expr: str, fmt: str) -> str | None:
    """Spark expression printing `expr` with Impala's ISO-SQL format
    `fmt` (CAST(x AS STRING FORMAT ...)). Tokens with a direct Java
    pattern fold into one date_format(); YYY and Y (last-3/last-1
    digits of the year — Java 'yyy' means MIN 3 digits, a different
    thing) become substr() pieces in a concat(). None = untranslatable
    token, caller leaves the cast for Spark to reject loudly."""
    parts: list[tuple[str, str]] = []  # ("java"|"sql", text)
    i = 0
    while i < len(fmt):
        for tok, repl in _ISO_FMT_TOKENS:
            if fmt[i : i + len(tok)].upper() == tok:
                if repl is None:
                    return None
                if repl is _LAST3:
                    parts.append(
                        ("sql", f"substr(date_format({expr}, 'yyyy'), 2, 3)"))
                elif repl is _LAST1:
                    parts.append(
                        ("sql", f"substr(date_format({expr}, 'yyyy'), 4, 1)"))
                elif repl is _SECS_OF_DAY:
                    # SSSSS: 5-digit zero-padded seconds since midnight
                    parts.append(
                        ("sql",
                         f"lpad(cast(hour({expr}) * 3600 + "
                         f"minute({expr}) * 60 + "
                         f"cast(second({expr}) as int) as string), 5, '0')"))
                elif repl is _MERIDIEM_DOTS:
                    parts.append(
                        ("sql",
                         f"if(date_format({expr}, 'a') = 'AM', "
                         f"'A.M.', 'P.M.')"))
                else:
                    parts.append(("java", repl))
                i += len(tok)
                break
        else:
            parts.append(("java", fmt[i]))
            i += 1
    pieces, buf = [], []
    for kind, p in parts:
        if kind == "java":
            buf.append(p)
        else:
            if buf:
                pieces.append(f"date_format({expr}, '{''.join(buf)}')")
                buf = []
            pieces.append(p)
    if buf:
        pieces.append(f"date_format({expr}, '{''.join(buf)}')")
    if len(pieces) == 1:
        return pieces[0]
    return "concat(" + ", ".join(pieces) + ")"


# --- lax ISO-SQL parse (CAST(str AS DATE FORMAT ...)) ----------------
# The reference's parser (be/src/runtime/datetime-iso-sql-format-
# parser.cc) is deliberately lax without the FX modifier:
#   * a separator token matches ANY non-empty run of separator chars
#     (- : space . / , ' ;) in the input, and consecutive separators in
#     the format collapse (ProcessSeparatorSequence);
#   * a numeric field may be SHORTER than its token (FindEndOfToken
#     stops at the first separator or token-length chars);
#   * a year with fewer than 4 input digits gets its missing most-
#     significant digits from the current date
#     (PrefixYearFromCurrentYear), and a 2-digit RR/RRRR year rounds to
#     the nearest century (RoundYearFromCurrentYear: <50 with current
#     postfix >49 -> next century, >49 with postfix <50 -> previous).
# This builder reproduces those rules as one Spark expression over
# split(input, '[seps]+'), for formats that strictly alternate
# field/separator and carry year + (month+day | day-of-year). Anything
# else returns None and takes the strict to_date() path.
_ISO_PARSE_FIELDS = {  # token -> (kind, max input digits)
    "YYYY": ("year", 4), "YYY": ("year", 3), "YY": ("year", 2),
    "Y": ("year", 1),
    "RRRR": ("ryear", 4), "RR": ("ryear", 2),
    "MM": ("month", 2), "DD": ("day", 2), "DDD": ("doy", 3),
}
_ISO_SEP_CHARS = "-:/,.;' "


def _iso_tokenize_parse(fmt: str):
    names = sorted(_ISO_PARSE_FIELDS, key=len, reverse=True)
    toks, i = [], 0
    while i < len(fmt):
        if fmt[i] in _ISO_SEP_CHARS:
            if not toks or toks[-1][0] != "sep":
                toks.append(("sep", fmt[i]))
            i += 1
            continue
        for name in names:
            if fmt[i : i + len(name)].upper() == name:
                toks.append(("field", name))
                i += len(name)
                break
        else:
            return None
    return toks


def iso_lax_date_parse(expr: str, fmt: str, now_year: int,
                       as_timestamp: bool = False) -> str | None:
    toks = _iso_tokenize_parse(fmt)
    if not toks:
        return None
    if toks[0][0] != "field" or toks[-1][0] != "field":
        return None
    if any(a[0] == b[0] for a, b in zip(toks, toks[1:])):
        return None  # adjacent fields without a separator — strict path
    fields = [name for kind, name in toks if kind == "field"]
    kinds = [_ISO_PARSE_FIELDS[name][0] for name in fields]
    import collections as _c

    cnt = _c.Counter(kinds)
    ykinds = [k for k in ("year", "ryear") if cnt[k]]
    if len(ykinds) != 1 or cnt[ykinds[0]] != 1:
        return None
    if not ((cnt["month"] == 1 and cnt["day"] == 1 and not cnt["doy"])
            or (cnt["doy"] == 1 and not cnt["month"] and not cnt["day"])):
        return None

    n = len(fields)
    # regex char class of the reference's separator set; ' doubled for
    # the SQL literal
    arr = f"split(cast({expr} as string), '[-:/,.;'' ]+')"

    def f(i: int) -> str:
        return f"element_at({arr}, {i + 1})"

    checks = [f"size({arr}) = {n}"]
    for i, name in enumerate(fields):
        maxlen = _ISO_PARSE_FIELDS[name][1]
        checks.append(f"{f(i)} rlike '^[0-9]{{1,{maxlen}}}$'")

    adj = {d: now_year // 10 ** d * 10 ** d for d in (1, 2, 3)}
    yi = kinds.index(ykinds[0])
    yf, v = f(yi), f"cast({f(yi)} as int)"
    if ykinds[0] == "year":
        year = (f"(case length({yf}) when 4 then {v}"
                f" when 3 then {v} + {adj[3]}"
                f" when 2 then {v} + {adj[2]}"
                f" else {v} + {adj[1]} end)")
    else:
        postfix, cent = now_year % 100, now_year // 100 * 100
        rr2 = (f"{v} + (case when {v} < 50 and {postfix} > 49 then 100"
               f" when {v} > 49 and {postfix} < 50 then -100"
               f" else 0 end) + {cent}")
        year = (f"(case length({yf}) when 4 then {v}"
                f" when 2 then {rr2}"
                f" when 3 then {v} + {adj[3]}"
                f" else {v} + {adj[1]} end)")

    if cnt["doy"]:
        dv = f"cast({f(kinds.index('doy'))} as int)"
        checks.append(
            f"{dv} between 1 and "
            f"datediff(make_date({year} + 1, 1, 1), make_date({year}, 1, 1))")
        construct = f"date_add(make_date({year}, 1, 1), {dv} - 1)"
    else:
        construct = (f"make_date({year}, "
                     f"cast({f(kinds.index('month'))} as int), "
                     f"cast({f(kinds.index('day'))} as int))")
    if as_timestamp:
        # the reference clamps TIMESTAMP to [1400-01-01, 9999-12-31]
        # (TimestampValue range) and yields NULL outside; DATE carries
        # the full 0001..9999 range
        checks.append(f"{year} between 1400 and 9999")
        construct = f"cast({construct} as timestamp)"
    return f"(case when {' and '.join(checks)} then {construct} end)"


_CAST_OPEN = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
# matches the trailing `AS <strtype> FORMAT '<fmt>'` of a CAST body;
# anchored at the end so it only fires on the top-level clause.
_CAST_FORMAT_TAIL = re.compile(
    r"\s+AS\s+(?:STRING|VARCHAR(?:\s*\(\s*\d+\s*\))?|CHAR(?:\s*\(\s*\d+\s*\))?)"
    r"\s+FORMAT\s+(?:'(?P<fmt>[^']*)'|\"(?P<fmt2>[^\"]*)\")\s*$",
    re.IGNORECASE,
)
# CAST(str AS DATE/TIMESTAMP FORMAT '...') goes the other direction:
# parse, not print (reference: CastFormatExpr with ISO-SQL tokens)
_CAST_PARSE_TAIL = re.compile(
    r"\s+AS\s+(?P<ty>DATE|TIMESTAMP)"
    r"\s+FORMAT\s+(?:'(?P<fmt>[^']*)'|\"(?P<fmt2>[^\"]*)\")\s*$",
    re.IGNORECASE,
)


def rewrite_cast_format(sql: str, now=None) -> str:
    """Rewrite CAST(expr AS STRING FORMAT '<iso>') → date_format(expr, ...).

    Uses the same paren matching as the macro expander, so the
    expr may itself contain calls/parens — CAST(f(x) AS STRING FORMAT
    'YYYY-MM-DD') translates (fixed per VERDICT r2 "What's wrong" #3).
    Untranslatable FORMAT tokens leave the cast untouched (fails
    loudly in Spark's parser rather than silently mis-formatting).

    `now`: datetime supplying the current year for the reference's
    century-inference rules on short years (the test harness's
    NOW_STRING query option); defaults to the wall clock.
    """
    if now is None:
        import datetime as _dt

        now = _dt.datetime.now()
    shadow = sqlscan.shadow(sql)
    out, pos = [], 0
    while True:
        m = _CAST_OPEN.search(shadow, pos)
        if not m:
            out.append(sql[pos:])
            break
        start = m.end()  # just past '('
        close = sqlscan.close_paren(shadow, start - 1)
        if close < 0:  # unbalanced — bail out, leave untouched
            out.append(sql[pos:])
            break
        inner = rewrite_cast_format(sql[start:close], now)  # nested first
        shadow_inner = sqlscan.shadow(inner)
        tm = _CAST_FORMAT_TAIL.search(shadow_inner)
        repl = None
        if tm:
            # spans align 1:1 between shadow and real text — slice the
            # real fmt out of the original inner
            g = "fmt" if tm.start("fmt") != -1 else "fmt2"
            fmt = inner[tm.start(g) : tm.end(g)]
            repl = iso_print_expr(inner[: tm.start()], fmt)
        else:
            pm = _CAST_PARSE_TAIL.search(shadow_inner)
            if pm:
                g = "fmt" if pm.start("fmt") != -1 else "fmt2"
                fmt = inner[pm.start(g) : pm.end(g)]
                # lax reference semantics when the shape allows (date-
                # only formats; time-carrying formats keep the strict
                # path below)
                repl = iso_lax_date_parse(
                    inner[: pm.start()], fmt, now.year,
                    as_timestamp=pm.group("ty").upper() == "TIMESTAMP")
                if repl is None:
                    fn = ("to_date" if pm.group("ty").upper() == "DATE"
                          else "to_timestamp")
                    try:
                        # non-ANSI sessions return NULL on parse
                        # failure, matching the reference's
                        # invalid-input behavior
                        repl = (f"{fn}({inner[: pm.start()]}, "
                                f"'{translate_iso_format(fmt)}')")
                    except ValueError:
                        repl = None
        out.append(sql[pos : m.start()])
        if repl is not None:
            out.append(repl)
        else:
            out.append(sql[m.start() : start] + inner + ")")
        pos = close + 1
    return "".join(out)


# DIV keyword: Impala integer division (ArithmeticExpr.java:41-43) —
# Spark spells it `div` too, so only normalization is needed; kept as a
# documented no-op hook.

# Function DDL (reference: CreateUdfStmt.java, CreateUdaStmt.java,
# ShowFunctionsStmt.java, DropFunctionStmt.java; grammar
# sql-parser.cup `create_udf_stmt`), spelled from what follows the
# head statements.py matched. Impala's native-library form
#   CREATE FUNCTION name(INT, STRING) RETURNS INT
#     LOCATION '/lib.so|jar' SYMBOL='ClassOrSymbol'
# becomes Spark's Hive-UDF call-through
#   CREATE TEMPORARY FUNCTION name AS 'ClassOrSymbol' [USING JAR '..']
# — the signature list and return type are dropped (Spark resolves
# Java UDF types at runtime); the JAR clause is kept only when the
# location names a local jar (classpath classes need none). Spark 4's
# own SQL-body form (CREATE FUNCTION ... RETURNS ... RETURN expr)
# passes through untranslated — a beyond-reference bonus surface.
_CREATE_FUNCTION = re.compile(
    r"\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[A-Za-z_][\w.]*)\s*"
    r"(?:\((?P<args>[^)]*)\))?\s*"
    r"(?:RETURNS\s+(?P<ret>[A-Za-z0-9_()<>,\s]+?)\s+)?"
    r"LOCATION\s+'(?P<loc>[^']*)'\s+SYMBOL\s*=\s*'(?P<sym>[^']+)'"
    r".*?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_FUNCTIONS = re.compile(
    r"(?:\s+IN\s+(?P<db>[A-Za-z_][\w]*))?"
    r"(?:\s+(?:LIKE\s+)?'(?P<pat>[^']*)')?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_FUNCTION = re.compile(
    r"\s+(?P<ie>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w.]*)\s*(?:\([^)]*\))?\s*;?\s*$",
    re.IGNORECASE,
)


def create_function_stmt(tail: str) -> str | None:
    m = _CREATE_FUNCTION.match(tail)
    if m is None:
        return None
    import os

    ine = "IF NOT EXISTS " if m.group("ine") else ""
    loc = m.group("loc")
    using = f" USING JAR '{loc}'" \
        if loc.endswith(".jar") and os.path.exists(loc) else ""
    return (f"CREATE TEMPORARY FUNCTION {ine}{m.group('name')} "
            f"AS '{m.group('sym')}'{using}")


def show_functions_stmt(tail: str) -> str | None:
    m = _SHOW_FUNCTIONS.match(tail)
    if m is None:
        return None
    # keep the db qualifier (ADVICE r2: it was silently dropped)
    in_db = f" IN {m.group('db')}" if m.group("db") else ""
    like = f" LIKE '{m.group('pat')}'" if m.group("pat") else ""
    return f"SHOW USER FUNCTIONS{in_db}{like}"


def drop_function_stmt(tail: str) -> str | None:
    m = _DROP_FUNCTION.match(tail)
    if m is None:
        return None
    ie = "IF EXISTS " if m.group("ie") else ""
    return f"DROP TEMPORARY FUNCTION {ie}{m.group('name')}"


_PLAN_HINT = re.compile(
    r"\[\s*(shuffle|broadcast|noshuffle|clustered|noclustered|sortby"
    r"\s*\([^)]*\))\s*\]", re.IGNORECASE)
_STRAIGHT_JOIN = re.compile(r"\bstraight_join\b", re.IGNORECASE)


_COMMENT_HINT = re.compile(
    r"/\*\s*\+[^*]*\*/|--\s*\+[^\n]*", re.IGNORECASE)


def strip_plan_hints(sql: str) -> str:
    """Impala's plan hints — bracketed (`join [shuffle] t`,
    `insert ... [noclustered]`), comment-style (`/*+broadcast*/`,
    `-- +shuffle`) and STRAIGHT_JOIN — are advisory
    distribution/ordering hints to its cost-based planner
    (reference: fe/.../PlanHint.java). Spark's equivalent decisions
    belong to Catalyst+AQE (broadcast thresholds, AQE join re-plan),
    so the hints are removed rather than force-mapped — the engine
    conf already pins the costing policy (session.py).

    Matching runs on literal-blind shadows so a hint-shaped substring
    inside a string literal (``'[shuffle]'``, ``'/*+x*/'``) survives
    (ADVICE r5). Comment-style hints match on a shadow that keeps
    comments — the full shadow blanks comment interiors, which would
    hide them."""
    sql = _shadow_sub(_PLAN_HINT, "", sql)
    sql = _shadow_sub(_COMMENT_HINT, "", sql,
                      shadow=sqlscan.shadow(sql, comments=False))
    return _shadow_sub(_STRAIGHT_JOIN, "", sql)


_VALUES = re.compile(r"\bvalues\s*\(", re.IGNORECASE)
_ALIAS_TAIL = re.compile(
    r"^(.*?)\s+(?:as\s+)?(`[^`]+`|[A-Za-z_]\w*)\s*$",
    re.IGNORECASE | re.DOTALL)
# words that end an expression but are never a trailing alias
_NOT_ALIAS = frozenset(
    "null true false end day days month months year years hour hours "
    "minute minutes second seconds week weeks millisecond milliseconds "
    "microsecond microseconds unknown".split())


def _tuple_items_aliases(argstr: str) -> tuple[list[str], list[str | None]]:
    exprs, aliases = [], []
    for item in sqlscan.split_top(argstr):
        m = _ALIAS_TAIL.match(item)
        if m and m.group(2).lower() not in _NOT_ALIAS and m.group(1).strip():
            expr, alias = m.group(1).strip(), m.group(2)
            # an alias never follows an operator/open-paren tail
            if expr[-1] not in "+-*/%(,<>=|&^!":
                exprs.append(expr)
                aliases.append(alias)
                continue
        exprs.append(item)
        aliases.append(None)
    return exprs, aliases


def _fully_parenthesized(item: str) -> bool:
    item = item.strip()
    return (item.startswith("(")
            and sqlscan.close_paren(item, 0) == len(item) - 1)


def rewrite_values_aliases(sql: str) -> str:
    """Impala VALUES differences (reference: fe/.../ValuesStmt.java):

    * per-item aliases in the first row name the derived columns —
      ``(values(1 a, 2 b), (3, 4)) x``; Spark names them col1..colN.
    * a single parenthesized group may hold the whole row list —
      ``values((1, 'a'), (2, 'b'))`` is two rows; Spark would read one
      struct column.

    Both normalize to ``select col1 as a, ... from (values (..), (..))``
    (the select wrapper only when aliases are present).

    The VALUES keyword is located on the literal-blind shadow (a string
    literal containing "values (" is data — ADVICE r5), and the paren
    scan runs on the shadow too, so quotes of either kind inside rows
    (including double-quoted strings with commas/parens) can't
    desynchronize it; row text is sliced from the original."""
    shadow = sqlscan.shadow(sql)
    out, pos = [], 0
    while True:
        m = _VALUES.search(shadow, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        # collect the tuple list: (..) [, (..)]* — structure read off
        # the shadow (literal interiors are spaces there)
        tuples, i = [], m.end() - 1
        while True:
            j = sqlscan.close_paren(shadow, i)
            if j < 0:
                j = len(shadow)
            tuples.append(sql[i + 1:j])
            k = j + 1
            while k < len(shadow) and shadow[k].isspace():
                k += 1
            if k < len(shadow) and shadow[k] == ",":
                k += 1
                while k < len(shadow) and shadow[k].isspace():
                    k += 1
                if k < len(shadow) and shadow[k] == "(":
                    i = k
                    continue
            break
        end = j + 1
        if len(tuples) == 1:
            # values((1, 'a'), (2, 'b')) — rows nested in one group
            items = sqlscan.split_top(tuples[0])
            if len(items) > 1 and all(_fully_parenthesized(x)
                                      for x in items):
                tuples = [x.strip()[1:-1] for x in items]
        first_exprs, aliases = _tuple_items_aliases(tuples[0])
        rows = [", ".join(first_exprs)]
        for t in tuples[1:]:
            exprs, _ = _tuple_items_aliases(t)
            rows.append(", ".join(exprs))
        body = ", ".join(f"({r})" for r in rows)
        out.append(sql[pos:m.start()])
        # column labels: the explicit alias, else (as the reference
        # labels unaliased VALUES columns) the first-row expression
        # text itself — `select min(`0`) from (values (0), (1))` works.
        # In a CTAS the stored column names for unaliased exprs are
        # Hive's _c0.._cN (java-udf.test's replace_string_input CTAS
        # selects `_c0` back).
        ctas = re.search(r"(?is)\bcreate\s+table\b[\s\S]*\bas\s*$",
                         sqlscan.shadow(sql[:m.start()])) is not None
        labels = []
        for n, (a, ex) in enumerate(zip(aliases, first_exprs)):
            if a:
                labels.append(a if a.startswith("`") else f"`{a}`")
            elif ctas:
                labels.append(f"_c{n}")
            elif "`" not in ex and "\n" not in ex:
                labels.append(f"`{ex}`")
            else:
                labels.append(f"col{n + 1}")
        select_list = ", ".join(
            f"col{n + 1} AS {lab}" for n, lab in enumerate(labels))
        out.append(f"select {select_list} from (values {body})")
        pos = end


_INTERVAL_UNITS = ("year", "month", "week", "day", "hour", "minute",
                   "second", "millisecond", "microsecond", "nanosecond")
_INTERVAL_EXPR = re.compile(
    r"\binterval\s+(.+?)\s+(%s)s?\b" % "|".join(_INTERVAL_UNITS),
    re.IGNORECASE | re.DOTALL)
_NUMERIC_LIT = re.compile(r"^-?\s*\d+(\.\d+)?$")
# make_interval(years, months, weeks, days, hours, mins, secs)
_MAKE_INTERVAL_SLOT = {"year": 0, "month": 1, "week": 2, "day": 3,
                       "hour": 4, "minute": 5, "second": 6}


def rewrite_interval_expr(sql: str) -> str:
    """Impala allows arbitrary expressions in interval arithmetic —
    ``ts + interval smallint_col days`` (reference:
    fe/.../TimestampArithmeticExpr.java). Spark's INTERVAL literal only
    takes constants, so non-literal counts become make_interval(...)
    with the expression in the matching slot (sub-second units scale
    into the seconds slot; nanoseconds truncate to the µs the engine
    carries — same documented gap as the nanoseconds_add macro)."""
    def repl(m: re.Match) -> str:
        expr, unit = m.group(1).strip(), m.group(2).lower()
        if _NUMERIC_LIT.match(expr) and unit != "nanosecond":
            # Spark's INTERVAL literal handles constant counts natively
            # for every unit except nanoseconds
            return m.group(0)
        if unit in _MAKE_INTERVAL_SLOT:
            args = ["0"] * 7
            args[_MAKE_INTERVAL_SLOT[unit]] = f"({expr})"
        else:
            scale = {"millisecond": "1e3", "microsecond": "1e6",
                     "nanosecond": "1e9"}[unit]
            args = ["0"] * 6 + [f"(({expr}) / {scale})"]
        return f"make_interval({', '.join(args)})"

    return _shadow_sub(_INTERVAL_EXPR, repl, sql)


_CHAR_CAST_TAIL = re.compile(
    r"\s+as\s+(char|varchar)\s*\(\s*(\d+)\s*\)\s*$", re.IGNORECASE)


def _rewrite_casts(sql: str, tail_re: re.Pattern, build) -> str:
    """Replace each `CAST(expr <tail>)` whose body ends in a `tail_re`
    match with build(expr, tail_match); a None result keeps the cast
    (and the scan continues inside it)."""
    shadow = sqlscan.shadow(sql)
    out, pos = [], 0
    while True:
        m = _CAST_OPEN.search(shadow, pos)
        close = sqlscan.close_paren(shadow, m.end() - 1) if m else -1
        if close < 0:
            out.append(sql[pos:])
            return "".join(out)
        inner = sql[m.end():close]
        tail = tail_re.search(inner)
        repl = None if tail is None else build(inner[:tail.start()], tail)
        if repl is None:
            out.append(sql[pos:m.end()])
            pos = m.end()
            continue
        out.append(sql[pos:m.start()])
        out.append(repl)
        pos = close + 1


def rewrite_char_casts(sql: str) -> str:
    """Impala CHAR(n)/VARCHAR(n) casts apply length semantics in
    expression context — CHAR pads with spaces to n, VARCHAR truncates
    to n (reference: be/src/runtime/char-value.h, expr-test
    CastCharExprs). Spark applies char/varchar length only at table
    boundaries, so the cast is spelled as the equivalent string op:
    rpad(cast(x as string), n) / substr(cast(x as string), 1, n).
    Matching Impala, CHAR also truncates when the value is longer."""
    def build(expr: str, tail: re.Match) -> str:
        expr = rewrite_char_casts(expr)
        n = int(tail.group(2))
        if tail.group(1).lower() == "char":
            return f"rpad(cast({expr} as string), {n}, ' ')"
        return f"substr(cast({expr} as string), 1, {n})"

    return _rewrite_casts(sql, _CHAR_CAST_TAIL, build)


_INT_CAST_TAIL = re.compile(
    r"\s+as\s+(tinyint|smallint|int|integer|bigint)\s*$", re.IGNORECASE)


def _has_top_level_div(expr: str) -> bool:
    expr = expr.strip()
    # unwrap fully-enclosing parens: cast((a/b) as int) is the idiom
    while _fully_parenthesized(expr):
        expr = expr[1:-1].strip()
    return "/" in sqlscan.top_level(expr)


def rewrite_decimal_int_casts(sql: str) -> str:
    """DECIMAL_V2 cast-to-integer ROUNDS (half away from zero) where
    Spark truncates (reference be/src/exprs/decimal-operators-ir.cc
    CAST_DECIMAL_TO_INT: `is_decimal_v2 ? ROUND : TRUNCATE`; DOUBLE
    casts truncate in both systems). The argument's runtime type picks
    the behavior, so the rewrite emits a typeof()-guarded CASE —
    round() for a decimal argument, the plain (truncating) cast
    otherwise. Applied only when the cast argument contains a
    top-level `/` (the decimal-division idiom, guaranteed numeric so
    round() always analyzes); a bare decimal column cast keeps
    Spark's truncation — documented narrowing, DIALECT.md."""
    def build(expr: str, tail: re.Match) -> str | None:
        if not _has_top_level_div(expr):
            return None
        expr = rewrite_decimal_int_casts(expr)
        ty = tail.group(1).lower()
        ty = "int" if ty == "integer" else ty
        # lower(): the function registry maps typeof -> upper(typeof)
        # for Impala's uppercase TYPEOF rendering
        return (f"cast(case when lower(typeof({expr})) like 'decimal%' "
                f"then round({expr}) else ({expr}) end as {ty})")

    return _rewrite_casts(sql, _INT_CAST_TAIL, build)


_HUGE_OFFSET = re.compile(r"(\b(?:offset|limit)\s+)(\d{10,})\b",
                          re.IGNORECASE)


def clamp_offset(sql: str) -> str:
    """Impala accepts BIGINT LIMIT/OFFSET (the reference's tests use
    9223372036854775807 as 'skip everything'); Spark requires an INT
    literal. Clamping to INT_MAX is value-preserving for any result
    under 2^31 rows."""
    def repl(m: re.Match) -> str:
        # half of INT_MAX each, so Spark's LIMIT+OFFSET <= INT_MAX
        # check also holds when both are clamped
        return m.group(1) + str(min(int(m.group(2)), 1073741823))

    return _shadow_sub(_HUGE_OFFSET, repl, sql)


_RIGHT_SEMI = re.compile(r"\bright\s+(semi|anti)\s+join\b", re.IGNORECASE)
_FROM_KW = re.compile(r"\bfrom\b", re.IGNORECASE)
# an ON condition ends at the `)` closing its scope or at a clause or
# join keyword, at paren depth 0
_COND_END = re.compile(
    r"\)|\b(where|group|order|limit|having|union|intersect|except|join|"
    r"inner|left|right|full|cross)\b", re.IGNORECASE)


def _scan_cond_end(sql: str, start: int) -> int:
    m = _COND_END.search(sqlscan.top_level(sql[start:]))
    return start + m.start() if m else len(sql)


_IN_SELECT = re.compile(
    # SELECT ALL would become `SELECT DISTINCT ALL` (syntax error);
    # ALL is the no-op default, so the rewrite simply skips it
    r"\bin\s*\(\s*select\b(?!\s+(?:distinct|all)\b)",
    re.IGNORECASE)


def rewrite_in_subquery_distinct(sql: str) -> str:
    """`x [NOT] IN (SELECT ...)` → `... (SELECT DISTINCT ...)`.

    IN is pure set membership, so deduplicating the subquery never
    changes results (correlated or not) — but it changes the PLAN:
    the semi/anti join's build side collapses before the join. The
    reference's planner gets this for free from NDV stats (its hash
    semi-join build is keyed on the join exprs); Spark's
    RewritePredicateSubquery keeps the raw multiset, and a
    low-distinct high-cardinality build side (IMPALA-2256's 60M-row
    constant subquery, semi-joins-exhaustive.test) then OOMs the
    hashed relation at ANY memory budget. Skipped when the subquery
    has a top-level LIMIT/OFFSET: DISTINCT would change which rows
    the limit picks, i.e. the set itself."""
    shadow = sqlscan.shadow(sql)
    out, last = [], 0
    for m in _IN_SELECT.finditer(shadow):
        open_p = shadow.index("(", m.start())
        j = sqlscan.close_paren(shadow, open_p)
        body = shadow[open_p + 1:j]
        if j < 0 or re.search(r"(?i)\b(limit|offset)\b",
                              sqlscan.top_level(body)):
            continue
        sel_end = open_p + 1 + re.search(r"(?i)select",
                                         body).end()
        out.append(sql[last:sel_end])
        out.append(" distinct")
        last = sel_end
    out.append(sql[last:])
    return "".join(out)


def rewrite_right_semi(sql: str) -> str:
    """Impala's RIGHT SEMI/ANTI JOIN keeps the RIGHT side's rows
    (reference: fe/.../JoinOperator.java); Spark only has the LEFT
    forms. When the left operand is a single relation (table or
    parenthesized subquery, optionally aliased) the join commutes
    textually: ``A right semi join B on c`` -> ``B left semi join A
    on c``. Larger join trees on the left are left untouched (the
    caller sees the parse error and the divergence is documented).

    An ineligible match doesn't end the pass: scanning continues past
    it, so a later rewritable RIGHT SEMI/ANTI in the same statement
    (another set-op branch, a subquery) still commutes (ADVICE r5)."""
    shadow = sqlscan.shadow(sql)
    for m in _RIGHT_SEMI.finditer(shadow):
        # left operand: span from the nearest preceding FROM at the
        # same paren depth, valid only if it has no other join/comma
        left_start, left = None, ""
        for fm in reversed(list(_FROM_KW.finditer(shadow, 0, m.start()))):
            span = shadow[fm.end():m.start()]
            if span.count("(") == span.count(")"):
                left_start, left = fm.end(), sql[fm.end():m.start()].strip()
                break
        if left_start is None:
            continue
        top = sqlscan.top_level(left)
        if (not left or re.search(r"\bjoin\b", top, re.IGNORECASE)
                or "," in top):
            continue
        on_m = re.compile(r"\bon\b", re.IGNORECASE).search(shadow, m.end())
        if not on_m:
            continue
        right = sql[m.end():on_m.start()].strip()
        span = shadow[m.end():on_m.start()]
        if span.count("(") != span.count(")"):
            continue
        cond_end = _scan_cond_end(sql, on_m.end())
        cond = sql[on_m.end():cond_end]
        rebuilt = (sql[:left_start] + f" {right} left {m.group(1)} join "
                   + left + " on" + cond + sql[cond_end:])
        return rewrite_right_semi(rebuilt)
    return sql


_SETOP = re.compile(
    r"\b(union|intersect|except|minus)(\s+(?:all|distinct))?\b",
    re.IGNORECASE)


def rewrite_setop_precedence(sql: str) -> str:
    """Impala evaluates UNION/INTERSECT/EXCEPT strictly left-to-right
    (sql-parser.cup gives them one precedence level); the SQL standard
    (and Spark) binds INTERSECT tighter. Whenever an INTERSECT follows
    a lower-precedence operator at top level, group the left side
    explicitly: ``A union B intersect C`` -> ``(A union B) intersect
    C``. Trailing ORDER BY/LIMIT stay outside the grouping. Applied
    recursively inside parenthesized subterms."""
    sql = _map_paren_groups(sql, rewrite_setop_precedence)
    shadow = sqlscan.top_level(sql)
    ops = [(m.start(), m.end(), m.group(1).lower(), m.group(0))
           for m in _SETOP.finditer(shadow)]
    if len(ops) < 2:
        return sql
    needs = any(op == "intersect" and any(p[2] != "intersect"
                                          for p in ops[:k])
                for k, (_, _, op, _) in enumerate(ops))
    if not needs:
        return sql
    # strip a trailing ORDER BY/LIMIT/OFFSET clause (whole-statement)
    tail_m = re.search(r"\b(order\s+by|limit|offset)\b", shadow[ops[-1][1]:],
                       re.IGNORECASE)
    tail_at = ops[-1][1] + tail_m.start() if tail_m else len(sql)
    tail = sql[tail_at:]
    body = sql[:tail_at]
    segs, kws, prev = [], [], 0
    for s, e, _, kw in ops:
        segs.append(body[prev:s])
        kws.append(body[s:e])
        prev = e
    segs.append(body[prev:])
    expr = segs[0].strip()
    for kw, seg in zip(kws, segs[1:]):
        expr = f"({expr}) {kw.strip()} {seg.strip()}"
    return expr + (" " + tail if tail else "")


def _map_paren_groups(sql: str, fn) -> str:
    """`sql` with fn applied to the text inside each outermost
    parenthesized group; an unbalanced group and what follows it stay
    untouched."""
    shadow = sqlscan.shadow(sql)
    out, pos = [], 0
    while (i := shadow.find("(", pos)) >= 0:
        j = sqlscan.close_paren(shadow, i)
        if j < 0:
            break
        out.append(sql[pos:i] + "(" + fn(sql[i + 1:j]) + ")")
        pos = j + 1
    out.append(sql[pos:])
    return "".join(out)


_OBLIMIT = re.compile(r"\b(order\s+by|limit|offset)\b", re.IGNORECASE)


def rewrite_setop_operand_limits(sql: str) -> str:
    """Impala lets a set-operation operand carry ORDER BY/LIMIT without
    parentheses — ``select ... limit 10 union all select ...`` binds
    the limit to the left operand (sql-parser.cup union_operand);
    Spark requires the parens, so wrap any non-final operand that
    contains a top-level ORDER BY/LIMIT/OFFSET. A trailing clause
    after the last operand stays statement-level (both engines)."""
    sql = _map_paren_groups(sql, rewrite_setop_operand_limits)
    shadow = sqlscan.top_level(sql)
    ops = list(_SETOP.finditer(shadow))
    if not ops:
        return sql
    # leading WITH clause stays outside any operand parens
    lead = 0
    if re.match(r"\s*with\b", shadow, re.IGNORECASE):
        m = re.search(r"\bselect\b|\bvalues\b", shadow, re.IGNORECASE)
        if m and m.start() < ops[0].start():
            lead = m.start()
    segs, prev = [], lead
    for m in ops:
        segs.append((prev, m.start()))
        prev = m.end()
    segs.append((prev, len(sql)))
    def _wrap_final(seg: str) -> bool:
        # IMPALA-4741 (sql-parser.cup comment): a trailing ORDER BY /
        # LIMIT binds to the final operand, NOT the set op, unless that
        # operand is parenthesized. Mirror that by wrapping a bare
        # final operand together with its trailing clause.
        return (_OBLIMIT.search(sqlscan.top_level(seg)) is not None
                and not seg.strip().startswith("("))

    if (not any(_OBLIMIT.search(shadow[s:e]) for s, e in segs[:-1])
            and not _wrap_final(sql[segs[-1][0]:segs[-1][1]])):
        return sql
    # rebuild with the operator keywords between segments
    rebuilt = [sql[:lead]]
    for k, (s, e) in enumerate(segs):
        seg = sql[s:e]
        is_final = k == len(segs) - 1
        if _OBLIMIT.search(shadow[s:e]) and (not is_final
                                             or _wrap_final(seg)):
            rebuilt.append(f" ({seg.strip()}) ")
        else:
            rebuilt.append(seg)
        if not is_final:
            rebuilt.append(ops[k].group(0))
    return "".join(rebuilt)


# --- postfix `!` factorial (reference grammar sql-parser.cup:
# factorial_expr; be/src/exprs/math-functions ::Factorial). Spark has
# factorial() but no postfix operator. ---------------------------------


def rewrite_postfix_factorial(sql: str) -> str:
    while True:
        shadow = sqlscan.shadow(sql)
        hit = None
        for mm in re.finditer(r"!", shadow):
            i = mm.start()
            if i + 1 < len(shadow) and shadow[i + 1] in "=~":
                continue  # != / !~ operators
            if i == 0:
                continue
            prev = shadow[i - 1]
            if prev != ")" and not (prev.isalnum() or prev in "_`."):
                continue  # prefix NOT / stray bang
            hit = i
            break
        if hit is None:
            return sql
        i = hit
        if shadow[i - 1] == ")":
            depth, j = 0, i - 1
            while j >= 0:
                if shadow[j] == ")":
                    depth += 1
                elif shadow[j] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if depth != 0:
                return sql
            k = j - 1  # include a function name directly before '('
            while k >= 0 and (shadow[k].isalnum() or shadow[k] in "_."):
                k -= 1
            j = k + 1
        else:
            j = i - 1
            while j >= 0 and (shadow[j].isalnum() or shadow[j] in "_.`"):
                j -= 1
            j += 1
        sql = sql[:j] + f"factorial({sql[j:i]})" + sql[i + 1:]


# --- POSIX bracket classes in regex literals. The reference's RE2
# accepts [[:alpha:]]; Java regex spells it \p{Alpha} (both US-ASCII).
# Rewritten inside string literals only when the statement mentions a
# regexp function/operator — the pattern may reach the function through
# a column (VALUES/derived table), so arg-local rewriting is not
# enough. ---------------------------------------------------------------
_POSIX_NAME = {
    "alpha": "Alpha", "digit": "Digit", "alnum": "Alnum",
    "upper": "Upper", "lower": "Lower", "space": "Space",
    "punct": "Punct", "xdigit": "XDigit", "cntrl": "Cntrl",
    "graph": "Graph", "print": "Print", "blank": "Blank",
}
_POSIX_CLASS = re.compile(
    r"\[:(%s):\]" % "|".join(_POSIX_NAME), re.IGNORECASE)
_REGEXP_HINT = re.compile(r"regexp|\brlike\b|\birlike\b", re.IGNORECASE)


def rewrite_posix_classes(sql: str) -> str:
    if not _REGEXP_HINT.search(sqlscan.shadow(sql)):
        return sql
    # only string-literal interiors are blanked here, and a class has
    # no spaces: a match that reads all blank lies inside a literal
    lits = sqlscan.shadow(sql, comments=False, idents=False)

    def repl(m: re.Match) -> str:
        if not lits[m.start():m.end()].isspace():
            return m.group(0)
        # \\p so the engine's escape-processing literal parser emits \p
        return r"\\p{%s}" % _POSIX_NAME[m.group(1).lower()]

    return _POSIX_CLASS.sub(repl, sql)


# --- Impala DECIMAL_V2 avg() result type ------------------------------
# Reference: FunctionCallExpr.resolveDecimalReturnType (fe/.../analysis/
# FunctionCallExpr.java:442-456) + ScalarType.createAdjustedDecimalType
# (fe/.../catalog/ScalarType.java:155-168): avg(decimal(p,s)) returns
# scale max(MIN_ADJUSTED_SCALE=6, s), precision (p-s)+scale, and when
# precision overflows 38 the scale gives back the delta but keeps at
# least min(scale, 6). Spark's avg gives decimal(p+4, s+4) — a
# different scale whenever s != 2.


def _impala_avg_type(p: int, s: int) -> tuple[int, int]:
    rs = max(6, s)
    rp = (p - s) + rs
    if rp > 38:
        min_s = min(rs, 6)
        rs = max(rs - (rp - 38), min_s)
        rp = 38
    return rp, rs


_AVG_ITEM = re.compile(r"^\s*avg\s*\(", re.IGNORECASE)


def _parse_avg_item(item: str):
    """If `item` is exactly `avg(ARG) [over (WIN)] [[as] alias]`,
    return (arg, over_clause_or_None, alias_or_None); else None."""
    shadow = sqlscan.shadow(item)
    m = _AVG_ITEM.match(shadow)
    close = sqlscan.close_paren(shadow, m.end() - 1) if m else -1
    if close < 0:
        return None
    arg = item[m.end():close]
    rest = item[close + 1:]
    rshadow = shadow[close + 1:]
    over = None
    om = re.match(r"\s*over\s*\(", rshadow, re.IGNORECASE)
    if om:
        j = sqlscan.close_paren(rshadow, om.end() - 1)
        if j < 0:
            return None
        over = rest[om.end():j]
        rest, rshadow = rest[j + 1:], rshadow[j + 1:]
    am = re.match(r"\s*(?:as\s+)?(`[^`]+`|[A-Za-z_]\w*)\s*$", rshadow,
                  re.IGNORECASE)
    alias = None
    if am:
        alias = rest[am.start(1):am.end(1)]
    elif rshadow.strip():
        return None
    return arg, over, alias


def rewrite_decimal_avg(sql: str, schema_of) -> str:
    """Give top-level `avg(decimal)` select items the reference's
    DECIMAL_V2 result type (see _impala_avg_type).

    `schema_of(probe_sql)` returns the analyzed output fields
    [(name, (p, s) | None), ...] without executing — the engine passes
    a Spark-analysis lambda. The probe replaces each avg item with
    first(ARG) (same window if any), whose type IS the argument type.

    Value strategy: for s >= 2, cast(avg(X) as decimal(P,S)) — Spark's
    internal scale s+4 >= S so the final HALF_UP cast only drops
    digits the reference never computed. For s < 2 the target scale 6
    exceeds Spark's s+4, so the item becomes
    cast(sum(X)/count(X) as decimal(P,S)) — Spark's division rule
    lands on scale >= 6, again a superset of the reference's digits.
    Fail-open: any probe/analysis surprise returns sql unchanged."""
    if not re.search(r"\bavg\s*\(", sqlscan.shadow(sql), re.IGNORECASE):
        return sql
    # outermost SELECT at paren depth 0 (set ops at top level: bail)
    top = sqlscan.top_level(sql)
    sm = re.search(r"\bselect\b", top, re.IGNORECASE)
    if sm is None or _SETOP.search(top):
        return sql
    sel_start = sm.end()
    fm = re.search(r"\bfrom\b", top[sel_start:], re.IGNORECASE)
    list_end = sel_start + fm.start() if fm else len(sql)
    list_text = sql[sel_start:list_end]
    if "*" in sqlscan.top_level(list_text):
        return sql
    items = sqlscan.split_top(list_text)
    parsed = [(k, _parse_avg_item(it)) for k, it in enumerate(items)]
    sites = [(k, p) for k, p in parsed if p is not None]
    if not sites:
        return sql
    probe_items = list(items)
    for k, (arg, over, _alias) in sites:
        probe_items[k] = (f"first({arg})"
                          + (f" over ({over})" if over else ""))
    # the joined items carry no trailing whitespace, and sql[list_end:]
    # begins directly with the FROM token — keep them separated
    probe = (sql[:sel_start] + " " + ", ".join(probe_items) + " "
             + sql[list_end:])
    try:
        fields = schema_of(probe)
    except Exception:  # noqa: BLE001 — fail-open, keep Spark typing
        return sql
    if len(fields) != len(items):
        return sql
    new_items = list(items)
    changed = False
    for k, (arg, over, alias) in sites:
        dec = fields[k][1]
        if dec is None:
            continue
        p, s = dec
        rp, rs = _impala_avg_type(p, s)
        ov = f" over ({over})" if over else ""
        if s >= 2:
            call = f"avg({arg}){ov}"
        else:
            call = (f"(sum({arg}){ov}) / (count({arg}){ov})")
        label = alias
        if label is None:
            text = re.sub(r"\s+", " ", f"avg({arg.strip()})")
            label = f"`{text}`" if "`" not in text else f"__avg_{k}"
        new_items[k] = f"CAST({call} AS DECIMAL({rp},{rs})) AS {label}"
        changed = True
    if not changed:
        return sql
    return (sql[:sel_start] + " " + ", ".join(new_items) + " "
            + sql[list_end:])


_CREATE_TABLE_HEAD = re.compile(
    r"^\s*create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?"
    r"[A-Za-z_][\w.]*\s*\(", re.IGNORECASE)
_PARTITIONED_BY = re.compile(r"\s*partitioned\s+by\s*\(", re.IGNORECASE)


def rewrite_create_partitioned(sql: str) -> str:
    """Hive/Impala CREATE TABLE declares partition columns with types
    OUTSIDE the column list (`(a int) partitioned by (p int)`); Spark's
    USING-table form wants them inside with a name-only PARTITIONED BY
    (`(a int, p int) ... partitioned by (p)`). Rewrites when the
    partition items carry types; leaves name-only lists alone."""
    shadow = sqlscan.shadow(sql)
    m = _CREATE_TABLE_HEAD.match(shadow)
    # index of the column list's ')'
    cols_end = sqlscan.close_paren(shadow, m.end() - 1) if m else -1
    pm = _PARTITIONED_BY.match(shadow, cols_end + 1) \
        if cols_end >= 0 else None
    j = sqlscan.close_paren(shadow, pm.end() - 1) if pm else -1
    if j < 0:
        return sql
    items = sqlscan.split_top(sql[pm.end():j])
    typed = [it for it in items if len(it.split()) >= 2]
    if len(typed) != len(items):
        return sql  # already name-only
    names = ", ".join(it.split()[0] for it in items)
    # the name-only clause goes to the END of the statement: Spark's
    # grammar puts the USING provider (what STORED AS becomes)
    # directly after the column list, and the remaining createTable
    # clauses are order-free
    tail = sql[j + 1:].rstrip().rstrip(";")
    return (sql[:cols_end] + ", " + ", ".join(items) + ")"
            + tail + " partitioned by (" + names + ")")


_ROW_FORMAT = re.compile(
    r"\s+ROW\s+FORMAT\s+DELIMITED"
    r"(?:\s+FIELDS\s+TERMINATED\s+BY\s+(?P<sep>'[^']*'))?"
    r"(?:\s+ESCAPED\s+BY\s+(?P<esc>'[^']*'))?"
    r"(?:\s+LINES\s+TERMINATED\s+BY\s+'[^']*')?",
    re.IGNORECASE)


def rewrite_row_format(sql: str) -> str:
    """Hive/Impala ``ROW FORMAT DELIMITED ...`` on CREATE TABLE →
    Spark's csv source with matching OPTIONS (the USING-form grammar
    has no ROW FORMAT). Clause order is free in Spark 3's createTable
    grammar, so the USING lands at the end when the statement had no
    STORED AS (text is the reference's default format)."""
    shadow = sqlscan.shadow(sql)
    if not re.match(r"\s*create\s+(external\s+)?table\b", shadow,
                    re.IGNORECASE):
        return sql
    m = _ROW_FORMAT.search(shadow)
    if not m:
        return sql
    # text-table semantics: whitespace kept verbatim (the csv writer
    # trims by default), NULL spelled \N (the reference's text null
    # sequence) so empty string and NULL stay distinct
    # (emptyValue stays default: the writer quotes '' so it reads
    # back distinct from the \N null marker)
    opts = ["ignoreLeadingWhiteSpace='false'",
            "ignoreTrailingWhiteSpace='false'",
            "nullValue='\\\\N'"]
    if m.group("sep"):
        opts.append("sep=" + sql[m.start("sep"):m.end("sep")])
    if m.group("esc"):
        opts.append("escape=" + sql[m.start("esc"):m.end("esc")])
    opt_str = f" options ({', '.join(opts)})" if opts else ""
    rest = sql[:m.start()] + " " + sql[m.end():]
    # a WITH SERDEPROPERTIES clause alongside ROW FORMAT DELIMITED
    # carries the same delimiters (Hive stores both); keeping it would
    # later map to a SECOND options clause (DUPLICATE_CLAUSES) — drop
    # it, the row-format options already encode the serde
    shadow2 = sqlscan.shadow(rest)
    wm = re.search(r"\bwith\s+serdeproperties\s*\(", shadow2,
                   re.IGNORECASE)
    j = sqlscan.close_paren(shadow2, wm.end() - 1) if wm else -1
    if j >= 0:
        rest = rest[:wm.start()] + " " + rest[j + 1:]
    shadow2 = sqlscan.shadow(rest)
    sm = re.search(r"\bstored\s+as\s+textfile\b", shadow2,
                   re.IGNORECASE)
    if sm:
        rest = (rest[:sm.start()] + "using csv" + opt_str
                + rest[sm.end():])
    elif re.search(r"\bstored\s+as\b", shadow2, re.IGNORECASE):
        pass  # non-text format: delimiters are meaningless, drop them
    else:
        rest = rest.rstrip().rstrip(";") + " using csv" + opt_str
    return rest


def rewrite_local_tz(sql: str, tz: str) -> str:
    """``use_local_tz_for_unix_timestamp_conversions=1`` semantics
    (reference flag/query option, be/src/exprs/timestamp-functions*):
    unixtime<->timestamp conversions interpret the naive timestamp as
    wall-clock in the query's ``timezone`` instead of UTC. The session
    stays pinned UTC (Impala timestamps are timezone-naive), so the
    localization is expressed per call site:

    * ``from_unixtime(e[, fmt])`` -> shift the UTC instant into tz
    * ``unix_timestamp(s[, fmt])`` -> read s as tz wall-clock
    * ``cast(<numeric literal expr> as timestamp)`` -> shifted; only
      literal arithmetic is recognized (the corpus's usage), column
      casts keep UTC semantics.
    """
    t = tz.strip().strip("'\"").replace("'", "''")

    def from_unixtime_t(a):
        fmt = a[1] if len(a) > 1 else "'yyyy-MM-dd HH:mm:ss'"
        return (f"date_format(from_utc_timestamp("
                f"timestamp_seconds({a[0]}), '{t}'), {fmt})")

    def unix_timestamp_t(a):
        if not a:
            return "unix_timestamp()"
        inner = a[0] if len(a) == 1 else f"to_timestamp({a[0]}, {a[1]})"
        return f"unix_timestamp(to_utc_timestamp({inner}, '{t}'))"

    sql = rewrite_macro_calls(sql, "from_unixtime", from_unixtime_t)
    sql = rewrite_macro_calls(sql, "unix_timestamp", unix_timestamp_t)
    sql = _shadow_sub(
        re.compile(r"\bcast\s*\(\s*(-?[\d.][\d. +*/eE()-]*?)\s+as\s+"
                   r"timestamp\s*\)", re.IGNORECASE),
        lambda m: (f"from_utc_timestamp(cast({m.group(1)} as "
                   f"timestamp), '{t}')"),
        sql)
    return sql


def rewrite_create_sort_by(sql: str) -> str:
    """CREATE TABLE ``SORT BY [ZORDER|LEXICAL] (cols)`` is a
    within-file layout hint (IMPALA-4166/IMPALA-10233) with no
    query-visible semantics; dropped (the sink's PartialSort covers
    clustered writes)."""
    shadow = sqlscan.shadow(sql)
    if not re.match(r"\s*create\s+(external\s+)?table\b", shadow,
                    re.IGNORECASE):
        return sql
    m = re.search(r"\s+sort\s+by\s*(?:zorder\s*|lexical\s*)?"
                  r"\([^)]*\)", shadow, re.IGNORECASE)
    if not m:
        return sql
    return sql[:m.start()] + " " + sql[m.end():]


def rewrite_ctas_clause_order(sql: str) -> str:
    """Impala CTAS writes ``partitioned by (...) stored as fmt as
    select``; after the STORED AS→USING mapping Spark needs the USING
    before the PARTITIONED BY (grammar: provider precedes the
    order-free clause list). Swaps them when needed."""
    shadow = sqlscan.shadow(sql)
    if not re.match(r"\s*create\s+(external\s+)?table\b", shadow,
                    re.IGNORECASE):
        return sql
    pm = re.search(r"\bpartitioned\s+by\s*\([^)]*\)", shadow,
                   re.IGNORECASE)
    um = re.search(r"\busing\s+\w+(\s+options\s*\([^)]*\))?", shadow,
                   re.IGNORECASE)
    if not pm or not um or pm.start() > um.start():
        return sql
    part = sql[pm.start():pm.end()]
    rest = sql[:pm.start()] + sql[pm.end():]
    # re-locate the using clause in the spliced text
    shift = pm.end() - pm.start()
    ins = um.end() - shift
    return rest[:ins] + " " + part + rest[ins:]


def rewrite_create_using_position(sql: str) -> str:
    """Move a CREATE TABLE's ``USING <provider> [OPTIONS (...)]`` to
    directly after the column list (or the table name when there is
    none). Spark's grammar wants the provider BEFORE the order-free
    clause list, but the STORED AS→USING mapping leaves it wherever
    STORED AS sat — which breaks when COMMENT/LOCATION/TBLPROPERTIES
    precede it (e.g. ``(cols) PARTITIONED BY ... COMMENT ... STORED AS
    TEXTFILE``). LIKE-form creates are untouched."""
    shadow = sqlscan.shadow(sql)
    hm = re.match(r"\s*create\s+(?:external\s+)?table\s+"
                  r"(?:if\s+not\s+exists\s+)?`?[\w.]+`?\s*",
                  shadow, re.IGNORECASE)
    if not hm or re.search(r"\blike\b", shadow, re.IGNORECASE):
        return sql
    um = re.search(r"\busing\s+\w+"
                   r"(\s+options\s*\((?:[^()]|\([^()]*\))*\))?",
                   shadow, re.IGNORECASE)
    if not um:
        return sql
    insert_at = hm.end()
    if insert_at < len(shadow) and shadow[insert_at] == "(":
        close = sqlscan.close_paren(shadow, insert_at)
        if close >= 0:
            insert_at = close + 1
    if um.start() <= insert_at:
        return sql  # already directly after the header
    using = sql[um.start():um.end()]
    rest = sql[:um.start()] + " " + sql[um.end():]
    return (rest[:insert_at] + " " + using + rest[insert_at:])


def rewrite_create_default_text(sql: str) -> str:
    """Impala's default table format is TEXT (no STORED AS clause ⇒
    text, fields terminated by \\x01); Spark's is parquet. A plain
    CREATE TABLE with an explicit scalar-only column list and no
    format/provider clause gets the text default so file listings
    (SHOW TABLE STATS sizes, SHOW FILES) match the reference's
    (corrupt-stats.test pins 24B text partitions). Complex-typed,
    LIKE-form, and CTAS creates keep Spark's native default — the csv
    source cannot store collections, and CTAS summaries lean on
    parquet footer counts."""
    shadow = sqlscan.shadow(sql)
    hm = re.match(r"\s*create\s+(?:external\s+)?table\s+"
                  r"(?:if\s+not\s+exists\s+)?`?[\w.]+`?\s*",
                  shadow, re.IGNORECASE)
    if not hm or hm.end() >= len(shadow) or shadow[hm.end()] != "(":
        return sql
    if re.search(r"\b(like|using|stored\s+as|row\s+format|"
                  r"serdeproperties|options|as\s+select)\b",
                 shadow, re.IGNORECASE):
        return sql
    j = sqlscan.close_paren(shadow, hm.end())
    if j < 0:
        return sql
    cols = sql[hm.end() + 1:j]
    if re.search(r"(?i)\b(array|map|struct)\s*<", cols) \
            or "<" in cols:
        return sql
    if re.search(r"(?i)\b(date|timestamp)\b", cols):
        # csv round-trips of DATE/TIMESTAMP hit the legacy-calendar
        # rebase for pre-Gregorian values; those tables keep the
        # binary (parquet) default so values stay bit-exact
        return sql
    sep = chr(1)  # Impala's text default field terminator \x01
    return (sql.rstrip().rstrip(";")
            + f" using csv options (sep='{sep}', "
              "ignoreLeadingWhiteSpace='false', "
              "ignoreTrailingWhiteSpace='false', "
              # no emptyValue override: Spark csv's defaults write ''
              # as quoted "" and read "" back as '' (probed on 4.1),
              # preserving Impala's ''-vs-\N distinction; an explicit
              # emptyValue='' would write bare-empty fields that read
              # back as NULL (ADVICE r8 verified not applicable)
              "nullValue='\\\\N')")


def translate(sql: str, macros: dict | None = None, now=None,
              decimal_v2: bool = True) -> str:
    """Full Impala→Spark translation pipeline. `now` feeds the FORMAT
    clause's century-inference rules (NOW_STRING query option).
    ``decimal_v2=False`` selects the reference's legacy DECIMAL V1
    cast semantics: decimal→integer casts TRUNCATE
    (decimal-operators-ir.cc CAST_DECIMAL_TO_INT `is_decimal_v2 ?
    ROUND : TRUNCATE`) — Spark's native behavior, so the rounding
    rewrite is simply skipped."""
    sql = strip_plan_hints(sql)
    # Impala's grammar accepts a STRING LITERAL as a column alias
    # (select_list_item ::= expr [AS] (IDENT | STRING_LITERAL) —
    # sql-parser.cup; the TPC-DS texts use `as "order count"`); Spark
    # wants a backticked identifier. Positions found on the shadow
    # (so `as "..."` INSIDE a single-quoted literal is data), text
    # taken from the original.
    _alias_shadow = sqlscan.shadow(sql)
    _alias_out, _alias_pos = [], 0
    for _am in re.finditer(r'(?is)\bas\s+"[^"]*"', _alias_shadow):
        _alias_out.append(sql[_alias_pos:_am.start()])
        _orig = sql[_am.start():_am.end()]
        # Impala escapes a double quote inside the literal by
        # doubling it ("a""b" is a"b) — unescape before backticking
        _alias_out.append(
            "as `"
            + _orig[_orig.index('"') + 1:-1].replace('""', '"')
            + "`")
        _alias_pos = _am.end()
    _alias_out.append(sql[_alias_pos:])
    sql = "".join(_alias_out)
    sql = rewrite_in_subquery_distinct(sql)
    sql = rewrite_setop_operand_limits(sql)
    sql = rewrite_setop_precedence(sql)
    sql = rewrite_right_semi(sql)
    sql = rewrite_values_aliases(sql)
    sql = rewrite_interval_expr(sql)
    sql = rewrite_char_casts(sql)
    if decimal_v2:
        sql = rewrite_decimal_int_casts(sql)
    sql = clamp_offset(sql)
    sql = rewrite_postfix_factorial(sql)
    sql = rewrite_posix_classes(sql)
    sql = rewrite_row_format(sql)
    # Impala `WITH SERDEPROPERTIES (...)` -> Spark OPTIONS (the USING
    # grammar has no serde clause; OPTIONS coexists with an explicit
    # TBLPROPERTIES clause where TBLPROPERTIES would collide)
    sql = _shadow_sub(
        re.compile(r"\bwith\s+serdeproperties\b", re.IGNORECASE),
        "options", sql)
    sql = rewrite_create_sort_by(sql)
    sql = rewrite_create_partitioned(sql)
    # Hive-style STORED AS on CREATE TABLE → Spark USING (no Hive
    # catalog in a plain session); textfile maps to the csv source,
    # whose \x01 defaults the formats module applies elsewhere
    sql = _shadow_sub(
        re.compile(r"\bstored\s+as\s+(parquetfile|parquet|orcfile|orc|"
                   r"avrofile|avro|textfile|rcfile|sequencefile)\b",
                   re.IGNORECASE),
        lambda m: "using " + {"textfile": "csv", "rcfile": "csv",
                              "sequencefile": "csv",
                              # Impala's legacy long spellings
                              # (sql-parser.cup file_format_val)
                              "parquetfile": "parquet",
                              "orcfile": "orc",
                              "avrofile": "avro"}.get(
                                  m.group(1).lower(), m.group(1).lower()),
        sql)
    sql = rewrite_ctas_clause_order(sql)
    sql = rewrite_create_default_text(sql)
    sql = rewrite_create_using_position(sql)
    # Impala/Hive allow EXTERNAL without LOCATION (external.table.purge
    # managed-external); Spark requires LOCATION for EXTERNAL — the
    # managed table has identical query-facing semantics
    if not re.search(r"(?i)\blocation\s*'", sqlscan.shadow(sql)):
        sql = _shadow_sub(
            re.compile(r"\bcreate\s+external\s+table\b", re.IGNORECASE),
            "create table", sql)
    # Impala aliases: REAL is DOUBLE (Spark's REAL is FLOAT); `&&` is
    # logical AND (`||` is NOT mapped — it is concat in Spark texts).
    # All three run on the literal-blind shadow: 'a&&b' is data.
    sql = _shadow_sub(re.compile(r"\bas\s+real\b", re.IGNORECASE),
                      "as double", sql)
    sql = _shadow_sub(re.compile(r"&&"), " and ", sql)
    # a bare NULL predicate is legal in the reference (empty result);
    # Spark rejects a VOID filter
    sql = _shadow_sub(
        re.compile(
            r"\b(where|having)\s+null\s*"
            r"(?=$|\)|;|\bgroup\b|\border\b|\blimit\b|\bunion\b|"
            r"\bintersect\b|\bexcept\b|\bhaving\b)", re.IGNORECASE),
        lambda m: f"{m.group(1)} cast(null as boolean) ", sql)
    sql = rewrite_cast_format(sql, now)
    if macros:
        for name, template in macros.items():
            sql = rewrite_macro_calls(sql, name, template)
    sql = apply_impala_null_ordering(sql)
    return sql
