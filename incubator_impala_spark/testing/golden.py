"""Golden-file test runner — the reference's core test methodology.

The reference drives hundreds of `.test` files through
`tests/common/impala_test_suite.py:138`; each file is a sequence of
sections (see `testdata/workloads/tpch/queries/tpch-q6.test:1-16`):

    ---- QUERY
    <sql — Impala dialect, runs through the Engine shim>
    ---- TYPES
    <comma-separated Spark simpleString types, optional>
    ---- RESULTS
    <one row per line, fields comma-separated; strings bare>
    ---- CATCH
    <substring expected in the error, instead of RESULTS>
    ====

This runner keeps that format (so reference-style corpora port over
mechanically) and reads it with the functional-query harness's parser
(`querytest.parse_test_file`), so a file opens with a `#` description
header, never with `----`. Two simplifications: rows compare
order-insensitively unless the query has an ORDER BY (then order
matters), and NULL is the literal `NULL`.
"""

from __future__ import annotations

import re

from incubator_impala_spark import sqlscan
from incubator_impala_spark.testing.querytest import parse_test_file

_ORDER_BY = re.compile(r"\border\s+by\b", re.IGNORECASE)


def _cases(path: str):
    """(query, types, results, catch, ordered) of each QUERY block, from
    the raw sections: TYPES as exact Spark `simpleString`s, RESULTS as
    exact row strings (blank lines dropped)."""
    for b in parse_test_file(path):
        sec = {name: body for name, (_tag, body) in b.sections.items()}
        types = sqlscan.split_top(sec["TYPES"].replace("\n", ","),
                                  angle=True) if "TYPES" in sec else None
        results = [ln for ln in sec.get("RESULTS", "").split("\n")
                   if ln.strip()]
        catch = sec["CATCH"].strip() if "CATCH" in sec else None
        yield b.query, types, results, catch, bool(_ORDER_BY.search(b.query))


def _fmt_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _fmt_row(row) -> str:
    return ",".join(_fmt_value(v) for v in row)


def run_golden_file(engine, path: str) -> list[str]:
    """Run every case; return failure descriptions (empty == pass)."""
    failures: list[str] = []
    for i, (query, types, want, catch, ordered) in enumerate(_cases(path)):
        label = f"{path}#{i + 1}"
        try:
            df = engine.sql(query)
            if catch is not None:
                df.collect()
                failures.append(f"{label}: expected error '{catch}', got rows")
                continue
            if types is not None:
                got_types = [f.dataType.simpleString() for f in df.schema.fields]
                if got_types != types:
                    failures.append(
                        f"{label}: types {got_types} != expected {types}"
                    )
                    continue
            got = [_fmt_row(r) for r in df.collect()]
            if not ordered:
                got, want = sorted(got), sorted(want)
            if got != want:
                failures.append(
                    f"{label}: rows mismatch\n  got:  {got}\n  want: {want}"
                )
        except Exception as e:  # noqa: BLE001
            if catch is not None and catch in str(e):
                continue
            failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
    return failures
