"""The reference's TPC-DS workload corpus against the dsdgen sf1
fixture — three verification tiers, because DuckDB's dsdgen is
NEARLY but not bit-identical to the official dsdgen the reference
loaded:

- sales facts and every dimension are bit-identical (count.test:
  store_sales 2880404, catalog_sales 1441548, catalog_returns 144067,
  all dims — verified here), but the RETURNS row streams differ
  slightly (store_returns 287867 vs the reference's 287514,
  web_returns 71654 vs 71763) and per-row pricing amounts diverge —
  so most recorded RESULTS are not reproducible bit-for-bit
  (dsdgen-returns/pricing-variant, the TPC-DS analogue of DIALECT.md
  dbgen-comment-variant).

Tiers:
1. count.test — 22/24 table counts verified verbatim (returns tables
   xfailed with the observed deltas).
2. VALUE_FILES — recorded RESULTS reproduce exactly (inventory/item/
   dim-driven queries); verified through the querytest harness.
3. every other file (188: decimal_v2 + unmodified) — DuckDB ORACLE
   tier (r10, upgraded from the r9 execution contract): both engines
   read the SAME dsdgen parquet, so the returns/pricing variant
   disappears and every file value-verifies positionally
   (testing/tpcds_oracle.py; 209/209 green at r10). First wiring of
   the oracle caught two real engine bugs: DECIMAL_V2 cast-to-int
   rounds where Spark truncates (q54; dialect
   rewrite_decimal_int_casts), and earlier the execution tier caught
   string-literal column aliases + the decimal-avg rewrite gluing
   the last alias to FROM.
"""

from __future__ import annotations

import collections
import glob
import os
import re

import pytest

TPCDS_DIR = "/root/reference/testdata/workloads/tpcds/queries"

# recorded sf1 RESULTS reproduce bit-for-bit on DuckDB's dsdgen
UNMOD_DIR = ("/root/reference/testdata/workloads/"
             "tpcds-unmodified/queries")

# recorded sf1 RESULTS reproduce bit-for-bit on DuckDB's dsdgen:
# (directory, file) — decimal_v2 files from tpcds/queries, official
# texts from tpcds-unmodified/queries
VALUE_FILES = [
    (TPCDS_DIR, "tpcds-decimal_v2-q22"),
    (TPCDS_DIR, "tpcds-decimal_v2-q22a"),
    (TPCDS_DIR, "tpcds-decimal_v2-q38"),
    (TPCDS_DIR, "tpcds-decimal_v2-q39-1"),
    (TPCDS_DIR, "tpcds-decimal_v2-q39-2"),
    (TPCDS_DIR, "tpcds-decimal_v2-q41"),
    (TPCDS_DIR, "tpcds-decimal_v2-q58"),
    (TPCDS_DIR, "tpcds-decimal_v2-q87"),
    (UNMOD_DIR, "tpcds-q1"), (UNMOD_DIR, "tpcds-q10"),
    (UNMOD_DIR, "tpcds-q17"), (UNMOD_DIR, "tpcds-q23"),
    (UNMOD_DIR, "tpcds-q29"), (UNMOD_DIR, "tpcds-q34"),
    (UNMOD_DIR, "tpcds-q37"), (UNMOD_DIR, "tpcds-q44"),
    (UNMOD_DIR, "tpcds-q46"), (UNMOD_DIR, "tpcds-q54"),
    (UNMOD_DIR, "tpcds-q58"), (UNMOD_DIR, "tpcds-q68"),
    (UNMOD_DIR, "tpcds-q73"),
]

_VALUE_SET = {(d, n) for d, n in VALUE_FILES}

# execution tier: the full decimal_v2 corpus + the official
# (unmodified) texts.
_EXEC_FILES = sorted(
    ({(TPCDS_DIR, os.path.basename(p)[:-5])
      for p in glob.glob(f"{TPCDS_DIR}/tpcds-decimal_v2-*.test")}
     | {(UNMOD_DIR, os.path.basename(p)[:-5])
        for p in glob.glob(f"{UNMOD_DIR}/tpcds-q*.test")})
    - _VALUE_SET)

# legacy-decimal tier (r11): the tpcds-q*.test twins under
# tpcds/queries — the reference runs these with DECIMAL_V2=0. The
# query statements match the decimal_v2 twins; the recorded RESULTS
# differ in V1 result typing (division/avg display scale, and
# TRUNCATING decimal→int casts where V2 rounds). Oracle-verified
# with the engine in V1 mode (SET DECIMAL_V2=0 — the V2 cast-rounding
# rewrite is skipped, so Spark's native truncation IS V1) against a
# V1-adjusted DuckDB oracle (rewrite_int_casts_trunc; DuckDB's own
# cast rounds). V1 division/avg display-scale truncation is invisible
# to the float-tolerant compare and not emulated (DIALECT.md).
_LEGACY_FILES = sorted(
    os.path.basename(p)[:-5]
    for p in glob.glob(f"{TPCDS_DIR}/tpcds-q*.test"))


@pytest.fixture(scope="module")
def tpcds_engine(engine):
    try:
        from incubator_impala_spark.sources.tpcds_ref import (
            register_tpcds_ref,
        )

        register_tpcds_ref(engine.spark)
    except Exception as exc:  # noqa: BLE001 — extension absent
        pytest.skip(f"tpcds_ref sf1 fixture unavailable: {exc}")
    return engine


def _rewrites():
    from incubator_impala_spark.sources.tpcds_ref import TABLES

    return {t: f"tpcds_ref_{t}" for t in TABLES}


@pytest.mark.skipif(not os.path.isdir(TPCDS_DIR),
                    reason="reference workload texts not present")
def test_tpcds_table_counts(tpcds_engine):
    """count.test: the dsdgen fixture is the reference's dataset —
    every sales/dimension count verbatim; the two returns tables pin
    the official dsdgen's slightly different returns stream."""
    from incubator_impala_spark.testing import querytest as qt

    xfail = {}
    blocks = qt.parse_test_file(os.path.join(TPCDS_DIR, "count.test"))
    for i, b in enumerate(blocks):
        if re.search(r"\b(store_returns|web_returns)\b", b.query):
            xfail[i] = "dsdgen-returns-variant"
    results = qt.run_blocks(tpcds_engine, blocks, xfail=xfail,
                            table_rewrites=_rewrites(),
                            database="qtest_tpcds_counts")
    counts = collections.Counter(r.status for r in results)
    bad = [f"[{r.index}] {r.status}: {r.reason}" for r in results
           if r.status in ("fail", "error", "xpass")]
    assert not bad, f"{dict(counts)}\n" + "\n".join(bad)
    assert counts.get("pass", 0) >= 22, dict(counts)


@pytest.mark.skipif(not os.path.isdir(TPCDS_DIR),
                    reason="reference workload texts not present")
@pytest.mark.parametrize("dirname", VALUE_FILES,
                         ids=lambda t: t[1])
def test_tpcds_recorded_results(tpcds_engine, dirname):
    d, name = dirname
    from incubator_impala_spark.testing import querytest as qt

    blocks = qt.parse_test_file(os.path.join(d, f"{name}.test"))
    results = qt.run_blocks(tpcds_engine, blocks, xfail={},
                            table_rewrites=_rewrites(),
                            database="qtest_tpcds_vals")
    bad = [f"[{r.index}] {r.status}: {r.reason}\n    "
           + "\n    ".join(str(d) for d in r.diffs[:3])
           for r in results if r.status in ("fail", "error")]
    assert not bad, "\n".join(bad)
    assert sum(r.status == "pass" for r in results) >= 1


@pytest.fixture(scope="module")
def tpcds_duck():
    from incubator_impala_spark.testing import tpcds_oracle

    con = tpcds_oracle.duckdb_tpcds()
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(TPCDS_DIR),
                    reason="reference workload texts not present")
@pytest.mark.parametrize("dirname", _EXEC_FILES,
                         ids=[n + ("" if d.endswith("tpcds/queries") else "-unmod")
                              for d, n in _EXEC_FILES])
def test_tpcds_query_oracle(tpcds_engine, tpcds_duck, dirname):
    d, name = dirname
    """Oracle tier for the recorded-result-divergent files (r10,
    upgraded from the r9 execution-contract tier): the recorded sf1
    RESULTS don't reproduce on DuckDB's dsdgen returns/pricing
    stream, but running the reference's query text through this
    engine AND through DuckDB on the SAME parquet value-verifies
    every file anyway (testing/tpcds_oracle.py — 209/209 at r10).
    Table-name rewrites are shadow-protected so a literal containing
    'item' or 'store' is never rewritten (r9 ADVICE)."""
    from incubator_impala_spark.testing import querytest as qt
    from incubator_impala_spark.testing import tpcds_oracle

    blocks = qt.parse_test_file(os.path.join(d, f"{name}.test"))
    ran = 0
    for b in blocks:
        sql = b.query
        if not re.match(r"(?is)\s*(select|with)\b", sql):
            continue
        for old, new in _rewrites().items():
            sql = qt._shadow_sub(rf"\b{old}\b", new, sql)
        spdf = tpcds_engine.sql(sql).toPandas()
        lm = re.search(r"(?is)\blimit\s+(\d+)\s*;?\s*$", sql)
        if lm:
            assert len(spdf) <= int(lm.group(1)), (name, len(spdf))
        dkdf = tpcds_duck.execute(
            tpcds_oracle.oracle_text(name, b.query)).df()
        probs = tpcds_oracle.compare_positional(spdf, dkdf)
        assert not probs, f"{name}: {probs}"
        ran += 1
    assert ran >= 1, f"{name}: no runnable blocks"


@pytest.mark.skipif(not os.path.isdir(TPCDS_DIR),
                    reason="reference workload texts not present")
@pytest.mark.parametrize("name", _LEGACY_FILES, ids=str)
def test_tpcds_query_oracle_decimal_v1(tpcds_engine, tpcds_duck,
                                       name):
    """Legacy-decimal (DECIMAL_V2=0) tier — see _LEGACY_FILES note.
    The engine runs the reference text in V1 mode; the oracle gets
    the V1 cast-truncation adaptation.  tpcds-q54 is the live
    boundary: cast((revenue/50) as int) truncates in V1 where the
    decimal_v2 twin rounds."""
    from incubator_impala_spark.testing import querytest as qt
    from incubator_impala_spark.testing import tpcds_oracle

    blocks = qt.parse_test_file(os.path.join(TPCDS_DIR,
                                             f"{name}.test"))
    tpcds_engine.set_option("decimal_v2", "0")
    try:
        ran = 0
        for b in blocks:
            sql = b.query
            if not re.match(r"(?is)\s*(select|with)\b", sql):
                continue
            for old, new in _rewrites().items():
                sql = qt._shadow_sub(rf"\b{old}\b", new, sql)
            spdf = tpcds_engine.sql(sql).toPandas()
            dkdf = tpcds_duck.execute(tpcds_oracle.oracle_text(
                name, b.query, decimal_v2=False)).df()
            probs = tpcds_oracle.compare_positional(spdf, dkdf)
            assert not probs, f"{name}: {probs}"
            ran += 1
        assert ran >= 1, f"{name}: no runnable blocks"
    finally:
        tpcds_engine.set_option("decimal_v2", "1")


TPCDS_INSERT_DIR = ("/root/reference/testdata/workloads/"
                    "tpcds-insert/queries")


@pytest.mark.skipif(not os.path.isdir(TPCDS_INSERT_DIR),
                    reason="reference workload texts not present")
def test_tpcds_insert_expr(tpcds_engine):
    """tpcds-insert/expr-insert (r10): 2.88M-row INSERT SELECT with
    the recorded row-count summary + verification SELECT."""
    from incubator_impala_spark.testing import querytest as qt

    blocks = qt.parse_test_file(
        os.path.join(TPCDS_INSERT_DIR, "expr-insert.test"))
    results = qt.run_blocks(tpcds_engine, blocks, xfail={},
                            table_rewrites=_rewrites(),
                            database="qtest_tpcds_insert")
    counts = collections.Counter(r.status for r in results)
    bad = [f"[{r.index}] {r.status}: {r.reason}\n    "
           + "\n    ".join(str(d) for d in r.diffs[:3])
           for r in results if r.status in ("fail", "error", "xpass")]
    assert not bad, f"{dict(counts)}\n" + "\n".join(bad)
    assert counts.get("pass", 0) >= 2, dict(counts)


@pytest.mark.skipif(not os.path.isdir(TPCDS_INSERT_DIR),
                    reason="reference workload texts not present")
def test_tpcds_insert_partitioned(tpcds_engine, tpcds_duck):
    """tpcds-insert/partitioned-insert (r10), oracle-verified: the
    recorded per-partition row maps pin the OFFICIAL dsdgen's per-day
    date_sk distribution, which the DuckDB dsdgen stream doesn't
    reproduce (2451239 has 852 rows here vs the reference's 847 —
    same returns/pricing-variant as the query corpora), so each
    INSERT OVERWRITE's partition summary is verified against DuckDB
    group-by counts over the SAME parquet instead, plus the final
    overwrite-semantics count. The reference's CREATE LIKE clones a
    PARTITIONED table; the fixture face is a temp view, so the clone
    declares the partition key explicitly."""
    from incubator_impala_spark.testing import querytest as qt

    import shutil

    eng = tpcds_engine
    eng.sql("drop table if exists store_sales_insert")
    # a stale warehouse dir from an interrupted earlier run blocks a
    # managed CREATE (the catalog is in-memory, the dir is not)
    shutil.rmtree(os.path.join(eng._warehouse_dir(),
                               "store_sales_insert"),
                  ignore_errors=True)
    cols = eng.spark.table("tpcds_ref_store_sales").schema.fields
    data = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in cols if f.name != "ss_sold_date_sk")
    eng.sql(f"create table store_sales_insert ({data}) "
            f"partitioned by (ss_sold_date_sk int) stored as parquet")
    # Impala's partitioned store_sales lists the partition column
    # LAST in SELECT * (partition cols trail the schema); the dsdgen
    # view has it first — present the reference's ordering so the
    # positional dynamic-partition INSERT maps columns correctly
    names = ([f.name for f in cols if f.name != "ss_sold_date_sk"]
             + ["ss_sold_date_sk"])
    eng.spark.table("tpcds_ref_store_sales").select(*names) \
        .createOrReplaceTempView("tpcds_ref_store_sales_partorder")
    blocks = qt.parse_test_file(
        os.path.join(TPCDS_INSERT_DIR, "partitioned-insert.test"))
    n_inserts = 0
    for b in blocks:
        m = re.match(r"(?is)\s*insert\s+overwrite.*?(where\s+.+)$",
                     b.query, re.DOTALL)
        if not m:
            continue
        where = m.group(1).strip()
        sql = b.query
        rw = dict(_rewrites(),
                  store_sales="tpcds_ref_store_sales_partorder")
        for old, new in rw.items():
            sql = qt._shadow_sub(rf"\b{old}\b", new, sql)
        got = {}
        for row in eng.sql(sql).collect():
            pm = re.match(r"ss_sold_date_sk=(\d+)/: (\d+)", row[0])
            if pm:
                got[int(pm.group(1))] = int(pm.group(2))
        exp = dict(tpcds_duck.execute(
            f"select ss_sold_date_sk, count(*) from store_sales "
            f"{where} group by 1").fetchall())
        assert got == exp, (
            f"partition map mismatch for {where!r}: "
            f"{len(got)} vs {len(exp)} partitions")
        n_inserts += 1
    assert n_inserts == 4
    # overwrite semantics: the final table is the UNION of the last
    # writes per partition — the year range overwrote the others
    final = eng.sql(
        "select count(*) c from store_sales_insert").collect()[0][0]
    exp_final = tpcds_duck.execute(
        "select count(*) from store_sales where "
        "(ss_sold_date_sk = 2451239) or "
        "(ss_sold_date_sk >= 2451270 and ss_sold_date_sk <= 2451299) or "
        "(ss_sold_date_sk >= 2451423 and ss_sold_date_sk <= 2451544) or "
        "(ss_sold_date_sk >= 2451545 and ss_sold_date_sk <= 2451910)"
    ).fetchone()[0]
    assert final == exp_final, (final, exp_final)
    eng.sql("drop table store_sales_insert")
