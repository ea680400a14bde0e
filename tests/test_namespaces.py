"""Unit tests for the database-namespace shim (namespaces.py) and the
r6 CREATE TABLE dialect passes.

Reference surface: CatalogOpExecutor.java DDL summaries,
ShowTablesStmt/ShowDbsStmt single-column output, CreateTableLikeStmt,
CreateUdfStmt/CreateUdaStmt catalog records.
"""

from __future__ import annotations

import pytest

from incubator_impala_spark import dialect, statements
from incubator_impala_spark.namespaces import impala_pattern, _sig


# ----------------------------------------------------------------- helpers

def one(df) -> str:
    rows = df.collect()
    assert len(rows) == 1
    return rows[0][0]


@pytest.fixture()
def ns_engine(engine):
    engine.ns.current = None
    engine.sql("drop database if exists nstest cascade")
    engine.sql("create database nstest")
    yield engine
    engine.ns.current = None
    engine.sql("drop database if exists nstest cascade")


# ----------------------------------------------------------------- patterns

def test_impala_pattern_star_and_alternation():
    p = impala_pattern("all*ypes|foo")
    assert p.match("alltypes")
    assert p.match("allcomplextypes")
    assert p.match("foo")
    assert not p.match("alltypesagg")
    # metacharacters are literal
    assert not impala_pattern("+alltypes").match("alltypes")
    # qualified names never match
    assert not impala_pattern("db.alltypes").match("alltypes")


def test_function_signature_rendering():
    assert _sig("fn", None) == "fn()"
    assert _sig("fn", "") == "fn()"
    assert _sig("fn", "int, string") == "fn(INT, STRING)"
    assert _sig("fn_var_arg", "int...") == "fn_var_arg(INT...)"


# ----------------------------------------------------------------- db DDL

def test_db_lifecycle_summaries(ns_engine):
    assert one(ns_engine.sql(
        "create database if not exists nstest")) == \
        "Database already exists."
    assert one(ns_engine.sql(
        "drop database nstest cascade")) == "Database has been dropped."
    assert one(ns_engine.sql(
        "drop database if exists nstest")) == "Database does not exist."
    assert one(ns_engine.sql(
        "create database nstest comment 'scratch'")) == \
        "Database has been created."
    rows = ns_engine.sql("show databases like 'nstest'").collect()
    assert [(r[0], r[1]) for r in rows] == [("nstest", "scratch")]


def test_view_lifecycle(ns_engine):
    eng = ns_engine
    assert one(eng.sql(
        "create view nstest.v1 (a comment 'x', b) as "
        "select 1, 'two'")) == "View has been created."
    assert one(eng.sql(
        "create view if not exists nstest.v1 as select 2"
    )) == "View already exists."
    assert [tuple(r) for r in eng.sql(
        "select * from nstest.v1").collect()] == [(1, "two")]
    assert [tuple(r) for r in eng.sql(
        "describe nstest.v1").collect()] == [
        ("a", "int", "x"), ("b", "string", "")]
    assert one(eng.sql(
        "alter view nstest.v1 as select 3 as c"
    )) == "View has been altered."
    assert one(eng.sql(
        "alter view nstest.v1 rename to nstest.v2"
    )) == "Renaming was successful."
    assert [r[0] for r in eng.sql(
        "show tables in nstest").collect()] == ["v2"]
    assert one(eng.sql("drop view nstest.v2")) == "View has been dropped."
    assert one(eng.sql(
        "drop view if exists nstest.v2")) == "View does not exist."


def test_drop_kind_guards(ns_engine):
    eng = ns_engine
    eng.sql("create view nstest.v as select 1 as x")
    eng.sql("create table nstest.t (i int)")
    assert one(eng.sql("drop table if exists nstest.v")) == \
        "Drop table is not allowed on a view."
    assert one(eng.sql("drop view if exists nstest.t")) == \
        "Drop view is not allowed on a table."
    assert one(eng.sql("drop table nstest.t")) == "Table has been dropped."


def test_current_db_resolution(ns_engine):
    eng = ns_engine
    eng.sql("create view nstest.v as select 42 as x")
    eng.sql("use nstest")
    try:
        assert [tuple(r) for r in
                eng.sql("select x from v").collect()] == [(42,)]
        # literal containing the view name must not be rewritten
        assert [tuple(r) for r in eng.sql(
            "select 'v' as s").collect()] == [("v",)]
        # self-qualified column ref: the qualifier must mangle with the
        # relation (`select v.x from v` -> `nstest__v.x ... nstest__v`)
        assert [tuple(r) for r in
                eng.sql("select v.x from v").collect()] == [(42,)]
        assert [tuple(r) for r in
                eng.sql("select v.* from v").collect()] == [(42,)]
        # alias spelled like the registered name rewrites consistently
        # on both sides (`from s v` + `v.x`)
        eng.sql("create view nstest.s as select 7 as x")
        assert [tuple(r) for r in
                eng.sql("select v.x from s v").collect()] == [(7,)]
    finally:
        eng.sql("use default")


def test_function_registry(ns_engine):
    eng = ns_engine
    assert one(eng.sql(
        "create function nstest.fn(int, string) returns int "
        "location '/x/libTestUdfs.so' symbol='Fn'"
    )) == "Function has been created."
    assert one(eng.sql(
        "create function if not exists nstest.fn(int, string) "
        "returns int location '/x/libTestUdfs.so' symbol='Fn'"
    )) == "Function already exists."
    assert one(eng.sql(
        "create aggregate function nstest.agg(int) returns bigint "
        "location '/x/libuda.so' update_fn='U'"
    )) == "Function has been created."
    rows = [tuple(r) for r in
            eng.sql("show functions in nstest").collect()]
    assert rows == [("INT", "fn(INT, STRING)", "NATIVE", "true")]
    rows = [tuple(r) for r in
            eng.sql("show aggregate functions in nstest").collect()]
    assert rows == [("BIGINT", "agg(INT)", "NATIVE", "true")]
    assert eng.sql("show analytic functions in nstest").count() == 0
    assert one(eng.sql(
        "drop function nstest.fn(int, string)"
    )) == "Function has been dropped."
    assert one(eng.sql(
        "drop function if exists nstest.fn(int, string)"
    )) == "Function does not exist."


# ------------------------------------------------------- create-table DDL

def test_truncate_if_exists(ns_engine):
    eng = ns_engine
    assert one(eng.sql("truncate table if exists no_such_table_xx")) == \
        "Table does not exist."
    eng.sql("create table nstest.tt (i int)")
    eng.sql("insert into nstest.tt values (1), (2)")
    assert one(eng.sql("truncate table if exists nstest.tt")) == \
        "Table has been truncated."
    assert eng.sql("select * from nstest.tt").count() == 0


def test_create_table_like_partitioned(ns_engine, spark):
    eng = ns_engine
    from incubator_impala_spark.sources.functional import (
        register_functional,
    )

    register_functional(spark)
    eng.sql("create table nstest.cl like functional.alltypes")
    pcols = [c.name for c in
             spark.catalog.listColumns("nstest__cl") if c.isPartition]
    assert pcols == ["year", "month"]
    assert eng.sql("select * from nstest.cl").count() == 0
    eng.sql("drop table nstest.cl")


def test_row_format_rewrite():
    out = statements.translate_statement(
        "create table t (a int, b string) row format delimited "
        "fields terminated by '|' stored as textfile")
    assert "row format" not in out.lower()
    assert "using csv" in out.lower()
    assert "sep='|'" in out
    # literal safety: a string containing the clause text is data
    s = "select 'row format delimited' as x"
    assert dialect.translate(s) == s


def test_ctas_clause_order():
    out = statements.translate_statement(
        "create table t partitioned by (year, month) "
        "stored as parquet as select * from x")
    iu = out.lower().index("using parquet")
    ip = out.lower().index("partitioned by")
    assert iu < ip


def test_create_sort_by_stripped():
    out = statements.translate_statement(
        "create table t (i int) sort by zorder (i) stored as parquet")
    assert "sort by" not in out.lower()
