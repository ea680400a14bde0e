"""EXACT_NDV session option (DIALECT.md): the engine's scale escape
hatch for ndv()/COMPUTE STATS.

Default (EXACT_NDV=0) plans every NDV on Spark's JVM HLL++
(`approx_count_distinct`) — the stats scan stays inside whole-stage
codegen with zero Python, which is what a 100 TB COMPUTE STATS needs.
EXACT_NDV=1 reproduces the reference's precision-10 HLL bit-for-bit
(functions/hll.py, reference be/src/exprs/aggregate-functions-ir.cc
HllUpdate/HllFinalize) for the pinned-output parity surface — the
querytest harness enables it per file (testing/querytest.py).

Also covers the round-8 hardenings: the SELECT ALL guard in
rewrite_in_subquery_distinct, and the querytest runner's per-block
SET-option restore (reference tests/common/impala_test_suite.py
__restore_query_options — a block's SETs never leak into the next
block).
"""
from __future__ import annotations

import pytest


@pytest.fixture()
def scale_engine(engine):
    """The shared engine forced to the scale default, restored after."""
    prev = engine.exact_ndv
    engine.exact_ndv = False
    yield engine
    engine.exact_ndv = prev


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ndv_default_is_jvm_hll(scale_engine):
    """ndv() default: approx_count_distinct, no Python in the plan."""
    df = scale_engine.sql("SELECT ndv(l_orderkey) AS est FROM lineitem")
    plan = _executed_plan(df)
    assert "EvalPython" not in plan and "Python" not in plan, plan
    est = df.collect()[0].est
    exact = scale_engine.sql(
        "SELECT count(distinct l_orderkey) AS c FROM lineitem"
    ).collect()[0].c
    assert abs(est - exact) / exact < 0.1


def test_ndv_exact_mode_is_reference_hll(scale_engine):
    """SET EXACT_NDV=1 routes ndv() through the reference-exact HLL."""
    scale_engine.sql("SET EXACT_NDV=1")
    try:
        t = scale_engine.translate("SELECT ndv(l_orderkey) FROM lineitem")
        assert "impala_hll_est" in t and "hll_slot_typed" in t
    finally:
        scale_engine.sql("SET EXACT_NDV=0")
    t = scale_engine.translate("SELECT ndv(l_orderkey) FROM lineitem")
    assert "approx_count_distinct" in t and "impala_hll_est" not in t


def test_appx_count_distinct_respects_exact_ndv(scale_engine):
    """APPX_COUNT_DISTINCT's count(distinct)->ndv rewrite follows the
    same mode switch."""
    scale_engine.sql("SET APPX_COUNT_DISTINCT=1")
    try:
        df = scale_engine.sql(
            "SELECT count(distinct l_suppkey) AS c FROM lineitem")
        assert "Python" not in _executed_plan(df)
        assert df.collect()[0].c > 0
    finally:
        scale_engine.appx_count_distinct = False


def test_compute_stats_scan_has_no_python(scale_engine):
    """The default COMPUTE STATS aggregate plans entirely JVM-side
    (no BatchEvalPython/ArrowEvalPython), ungrouped and grouped by
    partition keys alike."""
    from incubator_impala_spark import stats

    lineitem = scale_engine.spark.table("lineitem")
    types = {f.name: f.dataType.simpleString()
             for f in lineitem.schema.fields}
    for pcols in ((), ["l_returnflag", "l_linestatus"]):
        wanted = [f.name for f in lineitem.schema.fields
                  if f.name not in pcols]
        df = stats.agg_df(scale_engine, lineitem, wanted, types, pcols)
        plan = _executed_plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Python" not in plan, plan
        assert ("Expand" in plan) == bool(pcols), plan
        # exact mode: same helper switches to the reference HLL
        scale_engine.exact_ndv = True
        try:
            df2 = stats.agg_df(scale_engine, lineitem, ["l_suppkey"],
                               types, pcols)
            assert "Python" in _executed_plan(df2)
        finally:
            scale_engine.exact_ndv = False


def test_compute_stats_fills_col_stats_in_scale_mode(scale_engine):
    spark = scale_engine.spark
    spark.sql("CREATE OR REPLACE TEMP VIEW ndv_opt_t AS "
              "SELECT * FROM nation")
    scale_engine.sql("COMPUTE STATS ndv_opt_t").collect()
    rows = {r[0]: r for r in
            scale_engine.sql("SHOW COLUMN STATS ndv_opt_t").collect()}
    # 25 nations: HLL++ is exact at this cardinality
    assert rows["n_nationkey"][2] == 25
    assert rows["n_regionkey"][2] == 5


def test_in_subquery_select_all_not_mangled():
    """`IN (SELECT ALL ...)` must not become `SELECT DISTINCT ALL`
    (VERDICT r7 'What's wrong' #3)."""
    from incubator_impala_spark.dialect import (
        rewrite_in_subquery_distinct,
    )

    sql = "SELECT 1 FROM t WHERE x IN (SELECT ALL y FROM u)"
    assert rewrite_in_subquery_distinct(sql) == sql
    # the plain form still gets the build-side dedup
    got = rewrite_in_subquery_distinct(
        "SELECT 1 FROM t WHERE x IN (SELECT y FROM u)")
    assert "select distinct y" in got.lower()


def test_querytest_per_block_set_restore(engine):
    """A block's SET does not leak into the next block (reference
    __exec_in_impala restores changed options per query block). The
    block's statements split on the `;`s outside literals, comments and
    backtick identifiers."""
    from incubator_impala_spark.testing.querytest import (
        Block,
        _split_statements,
        run_blocks,
    )

    assert _split_statements("select 'it\\'s; x' from t; select 2") == \
        ["select 'it\\'s; x' from t", "select 2"]
    assert _split_statements("select 1 -- a; b\nfrom t") == \
        ["select 1 -- a; b\nfrom t"]
    assert _split_statements("select `a;b` from t") == \
        ["select `a;b` from t"]
    blocks = [
        Block(index=0,
              query="SET EXPLAIN_LEVEL=3;\nselect 1 as x",
              results=["1"], types=["TINYINT"], labels=None,
              verifier=None, has_catch=False, sections={}),
        Block(index=1, query="select 1 as x",
              results=["1"], types=["TINYINT"], labels=None,
              verifier=None, has_catch=False, sections={}),
    ]
    prev = engine.exact_ndv
    results = run_blocks(engine, blocks)
    try:
        assert [r.status for r in results] == ["pass", "pass"]
        # run_blocks' per-file reset sets explain_level=1; block 0's
        # SET must have been restored, not left at 3
        assert engine.explain_level == 1
        assert "EXPLAIN_LEVEL" not in engine.option_display
    finally:
        engine.exact_ndv = prev


def test_querytest_set_restores_spark_conf(engine):
    from incubator_impala_spark.testing.querytest import (
        Block,
        run_blocks,
    )

    conf = engine.spark.conf
    before = conf.get("spark.sql.codegen.wholeStage", "true")
    blocks = [Block(index=0,
                    query="SET DISABLE_CODEGEN=1;\nselect 1 as x",
                    results=["1"], types=["TINYINT"], labels=None,
                    verifier=None, has_catch=False, sections={})]
    prev = engine.exact_ndv
    try:
        results = run_blocks(engine, blocks)
        assert results[0].status == "pass"
        assert conf.get("spark.sql.codegen.wholeStage",
                        "true") == before
    finally:
        engine.exact_ndv = prev
