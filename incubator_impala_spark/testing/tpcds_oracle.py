"""DuckDB oracle for the TPC-DS workload corpus.

The reference's recorded sf1 RESULTS don't reproduce for most TPC-DS
files because DuckDB's dsdgen emits a slightly different returns/
pricing stream (tests/test_tpcds_workload.py module docstring). But
the data variant disappears when BOTH engines read the *same* dsdgen
parquet — so every execution-tier file can still be value-verified:
run the reference's query text through this engine on the sf1 fixture
AND through DuckDB on the identical files, and compare row counts +
positional values (order-insensitive, float-tolerant).

Oracle-side adaptations (each mirrors a documented Impala analysis
rule, so the oracle computes the REFERENCE semantics, not DuckDB's):

- Date columns register as VARCHAR, the reference's own TPC-DS schema
  typing (testdata/datasets/tpcds/tpcds_schema_template.sql:
  d_date string) and what the Spark-side views use.
- BETWEEN with a date/timestamp-cast bound is rewritten to two
  comparisons. Impala analyzes BetweenPredicate by rewriting to
  compound comparisons coerced independently (fe/.../analysis/
  BetweenPredicate + ExprRewriteRule), so `d_date between '2000-3-01'
  and (cast('2000-3-01' as timestamp) + interval 60 days)` is a
  lexicographic string compare on the lower bound and a timestamp
  compare on the upper. DuckDB's BETWEEN wants one common type and
  would (wrongly, for parity) coerce the string side to DATE.
- Backtick identifiers become double-quoted identifiers.
- An unqualified ORDER BY name that Impala resolves to the
  select-list output but DuckDB finds ambiguous among the inputs is
  qualified with the select-list's spelling (ORACLE_REWRITES).
"""

from __future__ import annotations

import math
import os
import re
from decimal import Decimal

import duckdb
import pandas as pd

from incubator_impala_spark import sqlscan
from incubator_impala_spark.sources.tpcds_ref import CACHE, TABLES

# Impala resolves an unqualified ORDER BY name against the select
# list first (fe/.../analysis/SelectStmt aliasing); DuckDB errors on
# input-side ambiguity. Each entry substitutes the select-list
# expression's own qualified spelling — semantics-preserving
# (verified against the select lists; q58's three item_id legs are
# equi-joined so any spelling is equal).
ORACLE_REWRITES = {
    "tpcds-decimal_v2-q58": [
        (r"order by item_id", "order by ss_items.item_id")],
    "tpcds-q58": [(r"order by item_id", "order by ss_items.item_id")],
    "tpcds-decimal_v2-q64": [
        (r",b_street_number desc", ",cs1.b_street_number desc"),
        (r",b_street_name desc", ",cs1.b_street_name desc"),
        (r",b_zip desc", ",cs1.b_zip desc")],
    "tpcds-q64": [
        (r",b_street_number desc", ",cs1.b_street_number desc"),
        (r",b_street_name desc", ",cs1.b_street_name desc"),
        (r",b_zip desc", ",cs1.b_zip desc")],
    "tpcds-decimal_v2-q72": [
        (r"w_warehouse_name, d_week_seq",
         "w_warehouse_name, d1.d_week_seq")],
    "tpcds-q72": [(r"w_warehouse_name, d_week_seq",
                   "w_warehouse_name, d1.d_week_seq")],
}


def duckdb_tpcds(cache: str | None = None) -> duckdb.DuckDBPyConnection:
    """Views over the dsdgen sf1 parquet. Date columns stay native
    DATE: for well-formed ISO literals that computes exactly what
    Impala's string-typed d_date computes (lexicographic ISO ==
    calendar order, and explicit `cast(d_date as ...)` sites are
    type-identical), while dodging a DuckDB quirk where a comparison
    against `cast(varchar_col as timestamp)` folds into a
    lexicographic compare with the timestamp RENDERED as a string
    ('1999-02-01' < '1999-02-01 00:00:00' drops the lower endpoint).
    The one place string-typing is visible — a NON-ISO literal like
    '2000-3-01' — is handled per-side in rewrite_between_compound."""
    cache = cache or CACHE
    con = duckdb.connect()
    for t in TABLES:
        if t == "customer":
            # the reference's v2 schema names it c_last_review_date;
            # DuckDB's dsdgen ships the v3 _sk spelling
            con.execute(
                f"CREATE VIEW customer AS SELECT * EXCLUDE "
                f"(c_last_review_date_sk), c_last_review_date_sk AS "
                f"c_last_review_date FROM "
                f"read_parquet('{cache}/customer.parquet')")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{cache}/{t}.parquet')")
    return con


_IDENT = re.compile(r"[\w.\"]")


def _scan_back_operand(sql: str, shadow: str, pos: int) -> int:
    """Start index of the expression ending just before `pos`
    (identifier chain or call/paren group, e.g. `cast(x as ts)`)."""
    i = pos
    while i > 0 and sql[i - 1].isspace():
        i -= 1
    if i > 0 and sql[i - 1] == ")":
        depth = 0
        while i > 0:
            i -= 1
            if shadow[i] == ")":
                depth += 1
            elif shadow[i] == "(":
                depth -= 1
                if depth == 0:
                    break
        # optional call name before the parens
        j = i
        while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "_.$"):
            j -= 1
        # don't swallow a keyword like AND/WHERE as a "call name"
        word = sql[j:i].strip().lower()
        if word in ("and", "or", "where", "on", "when", "then",
                    "else", "not", "between", ""):
            return i
        return j
    while i > 0 and _IDENT.match(sql[i - 1]):
        i -= 1
    return i


def _scan_primary(sql: str, shadow: str, pos: int) -> int:
    """End index of one primary expression starting at `pos`
    (literal | identifier-chain [call-args] | parenthesized expr)."""
    n = len(sql)
    i = pos
    while i < n and sql[i].isspace():
        i += 1
    if i < n and shadow[i] == "(":
        j = sqlscan.close_paren(shadow, i)
        return j + 1 if j >= 0 else n
    if i < n and sql[i] == "'":
        # string literal: the shadow blanks its body, both quotes stay
        j = i + 1
        while j < n and shadow[j] != "'":
            j += 1
        return min(j + 1, n)
    while i < n and _IDENT.match(sql[i]):
        i += 1
    j = i
    while j < n and sql[j].isspace():
        j += 1
    if j < n and shadow[j] == "(":  # call arguments
        return _scan_primary(sql, shadow, j)
    return i


_CASTY = re.compile(r"(?i)\bas\s+(timestamp|date)\s*\)")


def rewrite_between_compound(sql: str) -> str:
    """Impala's BetweenPredicate rewrite, applied where a bound casts
    to DATE/TIMESTAMP: `X between A and B` -> `(X >= A and X <= B)`
    so DuckDB coerces each comparison independently (module doc)."""
    while True:
        shadow = sqlscan.shadow(sql)
        done = True
        for m in re.finditer(r"(?i)\bbetween\b", shadow):
            # separator: first AND at the between's own paren depth
            am = re.search(r"\)|(?i:\band\b)",
                           sqlscan.top_level(shadow[m.end():]))
            if am is None or am.group() == ")":
                continue
            lo_a, lo_b = m.end(), m.end() + am.start()
            hi_a = m.end() + am.end()
            hi_b = _scan_primary(sql, shadow, hi_a)
            lo = sql[lo_a:lo_b].strip()
            hi = sql[hi_a:hi_b].strip()
            if not (_CASTY.search(lo) or _CASTY.search(hi)):
                continue
            x_a = _scan_back_operand(sql, shadow, m.start())
            x = sql[x_a:m.start()].strip()
            if not x or x.lower() in ("and", "or", "not"):
                continue
            # per-side coercion, exactly Impala's: a bound that is a
            # bare STRING LITERAL compares against the (reference-
            # typed STRING) column lexicographically — visible when
            # the literal is non-ISO ('2000-3-01'); render that side
            # as a varchar compare so the oracle reproduces it
            def _side(op, bound):
                if re.fullmatch(r"'[^']*'", bound):
                    return f"cast({x} as varchar) {op} {bound}"
                return f"{x} {op} {bound}"
            sql = (sql[:x_a]
                   + f"({_side('>=', lo)} and {_side('<=', hi)})"
                   + sql[hi_b:])
            done = False
            break  # positions moved; re-shadow and rescan
        if done:
            return sql


def rewrite_int_casts_trunc(sql: str) -> str:
    """DECIMAL V1 oracle adaptation: Impala V1 TRUNCATES decimal→int
    casts (decimal-operators-ir.cc CAST_DECIMAL_TO_INT with
    is_decimal_v2=false) while DuckDB's cast ROUNDS — so for the
    legacy (non-decimal_v2) tpcds corpus the oracle wraps the cast
    argument in trunc().  Same detection as the engine's V2 rewrite
    (dialect.rewrite_decimal_int_casts): a cast-to-integer whose
    argument holds a top-level `/` (the decimal-division idiom)."""
    from incubator_impala_spark.dialect import (
        _INT_CAST_TAIL,
        _has_top_level_div,
        _rewrite_casts,
    )

    def build(expr: str, tail: re.Match) -> str | None:
        if not _has_top_level_div(expr):
            return None
        ty = tail.group(1).lower()
        ty = "int" if ty == "integer" else ty
        return f"cast(trunc({rewrite_int_casts_trunc(expr)}) as {ty})"

    return _rewrite_casts(sql, _INT_CAST_TAIL, build)


def oracle_text(name: str, sql: str, decimal_v2: bool = True) -> str:
    """The reference query text adapted to DuckDB (module doc).
    ``decimal_v2=False`` additionally applies the V1 cast-truncation
    adaptation (rewrite_int_casts_trunc)."""
    sql = re.sub(r"`([^`]*)`", r'"\1"', sql)
    # Impala spells semi joins LEFT/RIGHT SEMI; DuckDB's grammar is
    # the bare SEMI/ANTI join (tpcds-q8's unofficial semi variant)
    sql = re.sub(r"(?i)\bleft\s+(semi|anti)\s+join\b", r"\1 join",
                 sql)
    for pat, rep in ORACLE_REWRITES.get(name, []):
        sql = re.sub(pat, rep, sql)
    if not decimal_v2:
        sql = rewrite_int_casts_trunc(sql)
    return rewrite_between_compound(sql)


# ---------------------------------------------------------------- compare

FLOAT_RTOL = 1e-6
FLOAT_ATOL = 1e-4  # decimal money sums at sf1 reach 1e9; 1e-4 abs


def _norm_cell(v):
    import datetime

    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        # DuckDB DATE round-trips through pandas as midnight datetime
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (Decimal, float, int)) and not isinstance(v, bool):
        return float(v)
    return str(v)


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append("\x00")
        elif isinstance(v, float):
            out.append(f"{v:.4f}" if abs(v) < 1e12 else f"{v:.6e}")
        else:
            out.append(str(v))
    return tuple(out)


def _cells_eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    return a == b


def compare_positional(spark_pdf: pd.DataFrame,
                       duck_pdf: pd.DataFrame) -> list[str]:
    """Order-insensitive positional-column comparison (the two
    engines name unaliased expressions differently). Returns mismatch
    descriptions; empty == parity."""
    if len(spark_pdf.columns) != len(duck_pdf.columns):
        return [f"column count: spark={len(spark_pdf.columns)} "
                f"oracle={len(duck_pdf.columns)}"]
    if len(spark_pdf) != len(duck_pdf):
        return [f"row count: spark={len(spark_pdf)} "
                f"oracle={len(duck_pdf)}"]
    srows = sorted(([_norm_cell(v) for v in r]
                    for r in spark_pdf.itertuples(index=False)),
                   key=_sort_key)
    drows = sorted(([_norm_cell(v) for v in r]
                    for r in duck_pdf.itertuples(index=False)),
                   key=_sort_key)
    bad, first = 0, None
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        for j, (a, b) in enumerate(zip(sr, dr)):
            if not _cells_eq(a, b):
                bad += 1
                if first is None:
                    first = (i, j, a, b)
                break
    if bad:
        i, j, a, b = first
        return [f"{bad}/{len(srows)} rows differ; first row {i} "
                f"col {j}: spark={a!r} oracle={b!r}"]
    return []
