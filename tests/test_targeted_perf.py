"""The reference's targeted-perf / targeted-stress / perf-regression
workloads (testdata/workloads/{targeted-perf,targeted-stress,
perf-regression}/queries/), value-verified on the dbgen sf1 fixture.

These corpora are the reference's perf harness: most blocks carry NO
recorded RESULTS (the harness only times them). Verification tiers,
per block:

* recorded RESULTS -> verbatim compare (querytest machinery);
* no RESULTS, deterministic result set -> DUAL-ENGINE FINGERPRINT:
  the same query text runs through this engine (Spark) and through
  DuckDB over the IDENTICAL dbgen parquet, and an exact per-column
  fingerprint is compared — COUNT(*) plus, per output column,
  exact sums for integer/decimal columns, length-sums + counts for
  strings, counts + min/max for dates/timestamps (the same
  shared-files method as the TPC-DS oracle tier,
  testing/tpcds_oracle.py). Order-insensitive by construction; the
  ordering contract itself is covered by sort.test / top-n driver
  entries.
* top-level LIMIT without a deterministic prefix -> COUNT-ONLY (the
  selected rows are plan-dependent; the row count is not);
* estimator outputs (appx_median) -> engine-execution only (no
  cross-engine oracle can pin a sketch, same policy as the
  functional corpus's `estimator` xfails).

Four representative shapes are additionally in the per-round driver
gate (incubator_impala_spark/queries/targeted_perf.py).
"""
from __future__ import annotations

import os
import re
from decimal import Decimal

import pytest

from incubator_impala_spark import sqlscan

TP_DIR = "/root/reference/testdata/workloads/targeted-perf/queries"
TS_DIR = "/root/reference/testdata/workloads/targeted-stress/queries"
PR_DIR = "/root/reference/testdata/workloads/perf-regression/queries"

FLAT_TABLES = ["region", "nation", "customer", "supplier", "part",
               "partsupp", "orders", "lineitem"]

# (dir, file) -> mode overrides per block index.
#   "skip:<reason>"  — not runnable at single-node scale
#   "exec"           — engine-execution only (estimator output)
#   "count"          — row-count compare only
#   "xfail:<reason>" — recorded answer diverges for a documented cause
OVERRIDES: dict = {
    # ~0.5-1 MB synthetic rows on 200k lineitem keys: a shuffle sized
    # for a cluster's aggregate memory (the file itself says
    # "Requires max_row_size to be > 1MB"); uuid() output is also
    # engine-random, so no cross-engine oracle exists
    ("tp", "primitive_shuffle_1mb_rows"):
        {0: "skip:perf-harness-scale"},
    # 104-way / 50-way self-join fan-outs whose stated target is
    # "query startup, connection creation and teardown" on a
    # multi-node cluster — minutes of single-process planning for a
    # daemon-startup stress, not a semantics contract
    ("tp", "primitive_many_fragments"):
        {0: "skip:perf-harness-scale"},
    ("tp", "primitive_many_independent_fragments"):
        {0: "skip:perf-harness-scale"},
    # APPX_MEDIAN is a sketch (string + decimal medians) — estimator
    ("tp", "primitive_intrinsic_appx_median"): {0: "exec"},
    # LIMIT over a UNION ALL of a cheap and an expensive branch: WHICH
    # rows fill the limit is plan-dependent (the recorded rows assume
    # the coordinator drains the cheap branch first, IMPALA-6984);
    # the row count is the deterministic contract
    ("tp", "primitive_cancel_union"): {0: "count"},
    # ORDER BY l_comment: DuckDB dbgen's comment text stream differs
    # from the official dbgen the reference loaded (the repo-wide
    # dbgen-comment-variant family) — the recorded top-100 rows are
    # therefore load-specific; verified as count-only
    ("ts", "sort_stress"): {0: "count"},
    # count(distinct l_comment) over a comment-keyed 3-way self-join:
    # the recorded value is specific to the official dbgen's comment
    # stream (dbgen-comment-variant) — dual-engine fingerprint on the
    # shared parquet instead
    ("ts", "agg_stress"): {0: "oracle"},
    # Q5's min(l_comment) is comment text (dbgen-comment-variant —
    # the count column verifies exactly, the text is masked like the
    # tpch workload's column-masked files); Q10's recorded row
    # predates GROUP BY ordinal support and the CURRENT reference
    # rejects the statement too (DIALECT.md "Stale recorded answer:
    # GROUP BY ordinal -> aggregate")
    ("tp", "aggregation"): {4: "mask:0",
                            9: "xfail:stale-recorded-groupby-ordinal"},
    # every block matches literal l_comment text: the recorded counts
    # are for the official dbgen's comment stream
    # (dbgen-comment-variant). Both engines here read the SAME DuckDB
    # dbgen parquet, so the blocks verify via the dual-engine
    # fingerprint instead of the load-specific recorded values
    ("tp", "string"): {"*": "oracle"},
}

FILES: list = (
    [("tp", os.path.splitext(f)[0]) for f in sorted(os.listdir(TP_DIR))
     if f.endswith(".test")] if os.path.isdir(TP_DIR) else []) + (
    [("ts", os.path.splitext(f)[0]) for f in sorted(os.listdir(TS_DIR))
     if f.endswith(".test")] if os.path.isdir(TS_DIR) else []) + (
    [("pr", os.path.splitext(f)[0]) for f in sorted(os.listdir(PR_DIR))
     if f.endswith(".test")] if os.path.isdir(PR_DIR) else [])

_DIRS = {"tp": TP_DIR, "ts": TS_DIR, "pr": PR_DIR}


@pytest.fixture(scope="module")
def tperf_engine(engine):
    from incubator_impala_spark.sources.functional import (
        register_functional,
    )
    from incubator_impala_spark.sources.tpch_ref import (
        ensure_flat,
        register_tpch_ref,
    )

    register_functional(engine.spark)   # IMPALA-2897 uses alltypes
    try:
        register_tpch_ref(engine.spark)
    except Exception as exc:  # noqa: BLE001 — extension absent
        pytest.skip(f"tpch_ref sf1 fixture unavailable: {exc}")
    import duckdb

    con = duckdb.connect()
    flat = ensure_flat()
    for t in FLAT_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{flat}/{t}.parquet')")
    # Impala's to_date(ts) returns the STRING 'yyyy-MM-dd'
    # (impala_functions.py) — mirrored for the oracle
    con.execute("CREATE MACRO __impala_to_date(x) AS "
                "strftime(CAST(x AS TIMESTAMP), '%Y-%m-%d')")
    engine._tperf_duck = con
    return engine


def _spark_text(sql: str) -> str:
    """Reference table spellings -> the sf1 fixture views."""
    out = re.sub(r"\btpch(_parquet)?\.", "tpch_ref_", sql)
    for t in FLAT_TABLES:
        out = re.sub(rf"(?<![\w.])({t})\b", rf"tpch_ref_\1", out,
                     flags=re.IGNORECASE)
    out = out.replace("functional.", "")
    return out


_NUM_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _spark_fingerprint(df):
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    kinds = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        c = F.col(f"`{f.name}`")
        if t in _NUM_TYPES:
            aggs += [F.sum(c.cast("decimal(38,0)")), F.count(c)]
            kinds.append("num")
        elif t.startswith("decimal"):
            aggs += [F.sum(c.cast("decimal(38,6)")), F.count(c)]
            kinds.append("dec")
        elif t in ("float", "double"):
            aggs += [F.count(c), F.count(c)]
            kinds.append("cnt")
        elif t == "date" or t.startswith("timestamp"):
            aggs += [F.count(c), F.max(c.cast("string"))]
            kinds.append("maxstr")
        elif t == "boolean":
            aggs += [F.sum(c.cast("int").cast("decimal(38,0)")),
                     F.count(c)]
            kinds.append("num")
        else:
            aggs += [F.sum(F.length(c).cast("decimal(38,0)")),
                     F.count(c)]
            kinds.append("len")
    return list(df.agg(*aggs).collect()[0]), kinds


def _oracle_text(sql: str) -> str:
    """Impala-dialect -> DuckDB adaptations (each mirrors a documented
    Impala analysis rule so the oracle computes REFERENCE semantics):
    double-quoted string literals, CAST-to-numeric returning NULL on
    malformed input (TRY_CAST), current_timestamp(), to_date()."""
    sql = re.sub(r'"([^"]*)"', r"'\1'", sql)
    sql = re.sub(r"(?i)\bcurrent_timestamp\s*\(\s*\)", "now()", sql)
    sql = re.sub(r"(?i)\bto_date\s*\(", "__impala_to_date(", sql)
    return re.sub(r"(?i)\bcast\s*\(", "TRY_CAST(", sql)


def _duck_fingerprint(con, sql: str, kinds: list):
    sql = _oracle_text(sql)
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM ({sql}) __t").fetchall()]
    assert len(cols) == len(kinds), (cols, kinds)
    exprs = ["COUNT(*)"]
    for name, kind in zip(cols, kinds):
        q = '"' + name.replace('"', '""') + '"'
        if kind == "num":
            exprs += [f"SUM(CAST({q} AS DECIMAL(38,0)))",
                      f"COUNT({q})"]
        elif kind == "dec":
            exprs += [f"SUM(CAST({q} AS DECIMAL(38,6)))",
                      f"COUNT({q})"]
        elif kind == "cnt":
            exprs += [f"COUNT({q})", f"COUNT({q})"]
        elif kind == "maxstr":
            exprs += [f"COUNT({q})", f"MAX(CAST({q} AS VARCHAR))"]
        else:
            # the Spark view may type as STRING what the parquet
            # holds as DATE (Impala's legacy tpch schema): length
            # measures the cast-to-string spelling on both sides
            exprs += ["SUM(CAST(LENGTH(CAST(" + q
                      + " AS VARCHAR)) AS DECIMAL(38,0)))",
                      f"COUNT({q})"]
    return list(con.execute(
        f"SELECT {', '.join(exprs)} FROM ({sql}) __t").fetchone())


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, str):
        return re.sub(r"\.0+$|(?<=\.\d{6})\d+$", "", v.strip())
    if hasattr(v, "isoformat"):
        return re.sub(r"[T ]00:00:00.*$", "",
                      v.isoformat(sep=" "))
    return v


def _cells_eq(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= 1e-9 * max(
            1.0, abs(a), abs(b))
    if isinstance(b, float) and isinstance(a, int):
        return float(a) == b
    return a == b


_TOP_LIMIT = re.compile(r"(?is)\blimit\s+\d+\s*;?\s*$")


@pytest.mark.skipif(not os.path.isdir(TP_DIR),
                    reason="reference workload texts not present")
@pytest.mark.parametrize("dirkey,name", FILES,
                         ids=[f"{d}-{n}" for d, n in FILES])
def test_targeted_perf_file(tperf_engine, dirkey, name):
    from incubator_impala_spark.testing import querytest as qt

    eng = tperf_engine
    con = eng._tperf_duck
    blocks = qt.parse_test_file(
        os.path.join(_DIRS[dirkey], f"{name}.test"))
    overrides = OVERRIDES.get((dirkey, name), {})
    rewrites = {"customer": "tpch_nested_customer"} \
        if name == "subplan_aggregation" else None
    problems, n_verified = [], 0
    for b in blocks:
        mode = overrides.get(b.index,
                             overrides.get("*", ""))
        if mode.startswith("skip:") or mode.startswith("xfail:"):
            continue
        sql = b.query
        stmts = [s for s in qt._split_statements(sql) if s.strip()]
        try:
            if b.results and mode != "oracle":
                r = qt._run_one(
                    eng, b, None, rewrites or {
                        t: f"tpch_ref_{t}" for t in FLAT_TABLES},
                    mask=([int(x) for x in mode[5:].split(",")]
                          if mode.startswith("mask:") else None))
                if mode == "count":
                    # documented: verify cardinality only
                    df = eng.sql(_spark_text(stmts[-1]))
                    got = df.count()
                    assert got == len(b.results), (got, len(b.results))
                    n_verified += 1
                elif r.status == "pass":
                    n_verified += 1
                elif r.status in ("fail", "error"):
                    problems.append(f"[{b.index}] {r.status}: "
                                    f"{r.reason} "
                                    + ";".join(str(d) for d in
                                               (r.diffs or [])[:2]))
                continue
            # no recorded results: run the last SELECT both ways
            query = stmts[-1]
            for s in stmts[:-1]:
                if s.lower().startswith("set"):
                    continue        # perf-harness knobs
                eng.sql(_spark_text(s))
            if not re.match(r"(?is)^\s*(select|with)\b", query):
                eng.sql(_spark_text(query))  # invalidate/refresh
                n_verified += 1
                continue
            if name == "subplan_aggregation":
                df = eng.sql(query.replace(
                    "customer c", "tpch_nested_customer c"))
                rows = df.collect()
                # flat-equivalent oracle: c_orders is BY CONSTRUCTION
                # the customer's orders (tpch_ref nested build)
                exp = con.execute(
                    "select c.c_custkey, (select max(o_orderstatus)"
                    " from orders o where o.o_custkey = c.c_custkey)"
                    " m from customer c where c.c_custkey in"
                    " (select o_custkey from orders)"
                    " order by 1 limit 1").fetchall()
                assert [tuple(r) for r in rows] == exp, (rows, exp)
                n_verified += 1
                continue
            df = eng.sql(_spark_text(query))
            if mode == "exec":
                assert len(df.collect()) >= 0
                n_verified += 1
                continue
            if mode == "count" or _TOP_LIMIT.search(
                    sqlscan.top_level(query)):
                got = df.count()
                exp = con.execute(
                    "SELECT COUNT(*) FROM ("
                    + _oracle_text(query) + ") __t").fetchone()[0]
                assert got == exp, f"count {got} != {exp}"
                n_verified += 1
                continue
            sfp, kinds = _spark_fingerprint(df)
            dfp = _duck_fingerprint(con, query, kinds)
            assert len(sfp) == len(dfp)
            bad = [i for i in range(len(sfp))
                   if not _cells_eq(sfp[i], dfp[i])]
            assert not bad, [
                (i, sfp[i], dfp[i]) for i in bad][:4]
            n_verified += 1
        except AssertionError as exc:
            problems.append(f"[{b.index}] {str(exc)[:400]}")
        except Exception as exc:  # noqa: BLE001 — engine/oracle error
            problems.append(
                f"[{b.index}] {type(exc).__name__}: "
                f"{str(exc).splitlines()[0][:300]}")
    assert not problems, f"{name}: " + "\n".join(problems)
    assert n_verified >= 1 or overrides, name
