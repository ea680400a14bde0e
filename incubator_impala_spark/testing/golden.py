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
mechanically) with two simplifications: rows compare order-insensitively
unless the query has an ORDER BY (then order matters), and NULL is the
literal `NULL`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from incubator_impala_spark import sqlscan


@dataclass
class GoldenCase:
    query: str
    results: list[str] | None = None
    types: list[str] | None = None
    catch: str | None = None
    ordered: bool = False


@dataclass
class GoldenFile:
    path: str
    cases: list[GoldenCase] = field(default_factory=list)


_SECTION = re.compile(r"^----\s+(QUERY|RESULTS|TYPES|CATCH)\s*$")


def parse_test_file(path: str) -> GoldenFile:
    out = GoldenFile(path=path)
    cur: dict[str, list[str]] = {}
    section: str | None = None

    def flush():
        nonlocal cur, section
        if "QUERY" in cur:
            q = "\n".join(cur["QUERY"]).strip()
            out.cases.append(
                GoldenCase(
                    query=q,
                    results=[ln for ln in cur.get("RESULTS", [])] if "RESULTS" in cur else None,
                    types=(
                        sqlscan.split_top(",".join(cur["TYPES"]),
                                          angle=True)
                        if "TYPES" in cur
                        else None
                    ),
                    catch="\n".join(cur["CATCH"]).strip() if "CATCH" in cur else None,
                    ordered=bool(re.search(r"\border\s+by\b", q, re.IGNORECASE)),
                )
            )
        cur, section = {}, None

    with open(path) as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.strip() == "====":
                flush()
                continue
            m = _SECTION.match(line.strip())
            if m:
                section = m.group(1)
                cur.setdefault(section, [])
                continue
            if section is not None:
                cur[section].append(line)
    flush()
    return out


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
    gf = parse_test_file(path)
    for i, case in enumerate(gf.cases):
        label = f"{path}#{i + 1}"
        try:
            df = engine.sql(case.query)
            if case.catch is not None:
                df.collect()
                failures.append(f"{label}: expected error '{case.catch}', got rows")
                continue
            if case.types is not None:
                got_types = [f.dataType.simpleString() for f in df.schema.fields]
                if got_types != case.types:
                    failures.append(
                        f"{label}: types {got_types} != expected {case.types}"
                    )
                    continue
            got = [_fmt_row(r) for r in df.collect()]
            want = [ln for ln in (case.results or []) if ln.strip() != ""]
            if not case.ordered:
                got, want = sorted(got), sorted(want)
            if got != want:
                failures.append(
                    f"{label}: rows mismatch\n  got:  {got}\n  want: {want}"
                )
        except Exception as e:  # noqa: BLE001
            if case.catch is not None and case.catch in str(e):
                continue
            failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
    return failures
