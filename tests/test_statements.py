"""The statement classifier and dispatch table (`statements.py`).

- The classifier needs no Spark: a statement's kind, target and record
  come from its head, read on the literal- and comment-blind shadow
  with leading comments skipped; backticked and db-qualified targets,
  `WITH ... INSERT`, lower case, a trailing `;` and hinted INSERTs.
- One `Engine.sql` case per row of the table asserts its summary row or
  error text; a row with no case fails `test_every_row_has_a_case`.
- A statement that opens with a comment dispatches as it would without
  it (CREATE, INSERT, and DROP TABLE of an insert-only ACID table).
- The target's record picks the ACID variant of INSERT, TRUNCATE,
  REFRESH, ALTER TABLE, DROP STATS and DROP TABLE.
- The write rows (INSERT, TRUNCATE, COMPUTE STATS, DROP STATS) and the
  SHOW rows take the classified target, so a backticked one runs as a
  bare one does.
- `parse_create` reads a CREATE TABLE's clauses in any order, blind to
  literals and comments, and `Create.spark` spells it for Spark (no
  Spark needed).
- A PARTITION spec nests: LOAD DATA and COMPUTE INCREMENTAL STATS fold
  `PARTITION (p=upper('c'))`.
- DROP TABLE of an ACID table an earlier session made clears its files.
- Importing the engine does not load pyarrow.
"""

from __future__ import annotations

import os
import subprocess
import sys
import types

import pytest

from tests.conftest import SF_SMALL

_ACID = ("TBLPROPERTIES ('transactional'='true', "
         "'transactional_properties'='insert_only')")


# ---------------------------------------------------------------------
# classifier (no Spark)
# ---------------------------------------------------------------------

def _fake_engine():
    from incubator_impala_spark.namespaces import Namespaces

    return types.SimpleNamespace(ns=Namespaces(), tables={})


@pytest.mark.parametrize("text, kind, target", [
    ("SELECT 'DROP TABLE t'", "query", None),
    ("select 1 -- insert into t", "query", None),
    ("/* DROP TABLE t */ SELECT 1", "query", None),
    ("-- note\nCREATE TABLE p2 (a INT) STORED AS PARQUET",
     "create_table", "p2"),
    ("/* x */ INSERT INTO p1 VALUES (1)", "insert", "p1"),
    ("INSERT INTO `db`.`t` VALUES (1)", "insert", "`db`.`t`"),
    ("DROP TABLE IF EXISTS `my t`", "drop_table", "`my t`"),
    ("COMPUTE INCREMENTAL STATS d.t", "compute_stats", "d.t"),
    ("WITH c AS (SELECT 1 a) INSERT INTO t SELECT a FROM c",
     "insert", "t"),
    ("WITH c AS (SELECT 'insert into x' a) SELECT * FROM c",
     "query", None),
    ("insert overwrite table t select 1", "insert", "t"),
    ("SHOW PARTITIONS t;", "show_partitions", "t"),
    ("set all;", "set_all", None),
    ("SET explain_level='1';", "set", None),
    ("INSERT INTO t /* +shuffle */ SELECT 1", "insert", "t"),
    ("INSERT INTO t [shuffle] SELECT 1", "insert", "t"),
    ("truncate table if exists d.t", "truncate", "d.t"),
    ("DELETE FROM t WHERE a = 1", "delete", "t"),
    ("SHOW TABLE STATS t", "show_table_stats", "t"),
    ("SHOW TABLES", "show_tables", None),
    ("describe schema d", "describe_db", None),
    ("DESCRIBE FORMATTED d.t", "describe", None),
    ("SHOW ROLE GRANT GROUP g", "show_role_grant", None),
    ("GRANT ROLE r TO GROUP g", "grant_role", None),
    ("EXPLAIN UPDATE t SET a = 1", "other", None),
])
def test_classify(text, kind, target):
    from incubator_impala_spark import statements

    stmt = statements.classify(_fake_engine(), text)
    assert (stmt.kind, stmt.target) == (kind, target)
    assert stmt.lead + stmt.text == text


def test_classify_record_and_parts():
    from incubator_impala_spark import stats, statements

    eng = _fake_engine()
    acid_state = object()
    stats.table(eng, "t").acid = acid_state
    stmt = statements.classify(eng, "-- c\nINSERT INTO default.t SELECT 1")
    assert stmt.acid is acid_state
    assert statements.classify(eng, "SELECT * FROM t").record is None
    inc = statements.classify(eng, "COMPUTE INCREMENTAL STATS t")
    assert inc.group("inc") and inc.group("ext") is None
    ins = statements.parse_insert(statements.classify(
        eng, "WITH c AS (SELECT 1 a) INSERT INTO t (b) PARTITION (p=1, q) "
        "/* +noclustered */ VALUES (2)"))
    assert (ins.tbl, ins.overwrite, ins.cols, ins.static, ins.dyn) == (
        "t", False, ["b"], {"p": "1"}, ["q"])
    assert ins.body == ("WITH c AS (SELECT 1 a) select * from "
                        "(VALUES (2)) __v")
    assert statements.parse_insert(statements.classify(
        eng, "INSERT OVERWRITE t")).body == \
        "select 1 as __dummy__"


def test_statement_spellings():
    from incubator_impala_spark.statements import translate_statement

    assert translate_statement("-- c\nINVALIDATE METADATA") == "CLEAR CACHE"
    assert translate_statement("refresh d.t;") == "REFRESH TABLE d.t"
    assert translate_statement("REFRESH") is None
    assert translate_statement("COMPUTE INCREMENTAL STATS d.t") == \
        "ANALYZE TABLE d.t COMPUTE STATISTICS FOR ALL COLUMNS"
    assert translate_statement("SELECT 'REFRESH t'") is None


# ---------------------------------------------------------------------
# CREATE TABLE parts (no Spark)
# ---------------------------------------------------------------------

def _create(text):
    from incubator_impala_spark import statements

    stmt = statements.parse(text)
    stmt.resolve()
    return statements.parse_create(stmt)


_CLAUSES = ["PARTITIONED BY (p INT COMMENT 'key')", "SORT BY (a)",
            "COMMENT 'tbl'", "ROW FORMAT DELIMITED FIELDS TERMINATED BY ','",
            "WITH SERDEPROPERTIES ('k'='v')", "STORED AS TEXTFILE",
            "LOCATION '/w/t'", "TBLPROPERTIES ('x'='y')"]


@pytest.mark.parametrize("order", [_CLAUSES, _CLAUSES[::-1],
                                   _CLAUSES[3:] + _CLAUSES[:3]])
def test_create_clauses_in_any_order(order):
    c = _create("CREATE EXTERNAL TABLE IF NOT EXISTS t (a INT) "
                + " ".join(order))
    assert (c.name, c.external, c.ine) == ("t", True, True)
    assert c.cols == [("a", "INT", None)]
    assert c.part == [("p", "INT", "'key'")]
    assert c.sort == (["a"], "LEXICAL")
    assert (c.comment, c.row_format, c.serde, c.stored_as, c.location,
            c.tblprops) == ("'tbl'", {"sep": "','"}, "'k'='v'", "TEXTFILE",
                            "'/w/t'", "'x'='y'")
    assert c.props == {"k": "v", "x": "y"}


@pytest.mark.parametrize("text, parts", [
    # keywords inside literals and comments are data
    ("CREATE TABLE t (a INT COMMENT 'STORED AS ORC, b') "
     "/* LOCATION '/x' */ COMMENT 'AS SELECT 1' -- SORT BY (a)\n"
     "STORED AS PARQUET",
     dict(cols=[("a", "INT", "'STORED AS ORC, b'")], location=None,
          comment="'AS SELECT 1'", sort=None, body=None)),
    # backticked and db-qualified names
    ("CREATE TABLE `db`.`t` (`my col` INT, `select` STRING) "
     "SORT BY ZORDER (`my col`)",
     dict(name="`db`.`t`", cols=[("my col", "INT", None),
                                 ("select", "STRING", None)],
          sort=(["my col"], "ZORDER"))),
    ("create table db.t (a int)", dict(name="db.t")),
    # nested types
    ("CREATE TABLE t (s STRUCT<a:DECIMAL(5,2), b:STRING COMMENT 'x'>, "
     "m MAP<STRING,ARRAY<INT>> COMMENT 'c')",
     dict(cols=[("s", "STRUCT<a:DECIMAL(5,2), b:STRING COMMENT 'x'>",
                 None), ("m", "MAP<STRING,ARRAY<INT>>", "'c'")])),
    # partition columns with comments
    ("CREATE TABLE t (a INT) PARTITIONED BY (y INT COMMENT 'year', "
     "d DECIMAL(9, 2) COMMENT 'd')",
     dict(part=[("y", "INT", "'year'"), ("d", "DECIMAL(9, 2)", "'d'")])),
    # CTAS with a name-only PARTITIONED BY
    ("CREATE TABLE t PARTITIONED BY (y, m) STORED AS PARQUET AS "
     "SELECT * FROM src WHERE s = 'AS' ;",
     dict(cols=None, part=[("y", None, None), ("m", None, None)],
          body="SELECT * FROM src WHERE s = 'AS'")),
    # both LIKE forms
    ("CREATE TABLE t LIKE db.src STORED AS PARQUET LOCATION '/l'",
     dict(like="db.src", stored_as="PARQUET", location="'/l'")),
    ("CREATE TABLE t LIKE PARQUET '/f/0.parq' PARTITIONED BY (p INT)",
     dict(like=None, like_fmt="PARQUET", like_path="'/f/0.parq'",
          part=[("p", "INT", None)])),
])
def test_parse_create(text, parts):
    c = _create(text)
    assert {k: getattr(c, k) for k in parts} == parts


@pytest.mark.parametrize("text", [
    "CREATE TABLE t (a INT) CACHED IN 'pool'",           # no such clause
    "CREATE TABLE t (a INT) STORED AS ORC STORED AS PARQUET",  # repeated
    "CREATE TABLE t (a INT) PARTITIONED BY (p INT, q)",  # typed and not
    "CREATE TABLE t (a INT",                             # unclosed
])
def test_parse_create_refuses(text):
    assert _create(text) is None


@pytest.mark.parametrize("text, spark", [
    ("create table t (a int) partitioned by (p string comment 'k') "
     "stored as parquet",
     "CREATE TABLE t (`a` int, `p` string COMMENT 'k') USING parquet "
     "PARTITIONED BY (`p`)"),
    ("CREATE EXTERNAL TABLE t (a INT) STORED AS ORC",
     "CREATE TABLE t (`a` INT) USING orc"),
    ("CREATE EXTERNAL TABLE t (a INT) STORED AS ORC LOCATION '/l'",
     "CREATE EXTERNAL TABLE t (`a` INT) USING orc LOCATION '/l'"),
    ("CREATE TABLE t (a INT) ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' "
     "ESCAPED BY '\\\\' WITH SERDEPROPERTIES ('k'='v')",
     "CREATE TABLE t (`a` INT) USING csv OPTIONS (ignoreLeadingWhiteSpace="
     "'false', ignoreTrailingWhiteSpace='false', nullValue='\\\\N', "
     "sep='|', escape='\\\\')"),
    ("CREATE TABLE t (a INT) COMMENT 'c'",
     "CREATE TABLE t (`a` INT) USING csv OPTIONS (sep='\x01', "
     "ignoreLeadingWhiteSpace='false', ignoreTrailingWhiteSpace='false', "
     "nullValue='\\\\N') COMMENT 'c'"),
    ("CREATE TABLE t (a INT, d DATE)", "CREATE TABLE t (`a` INT, `d` DATE)"),
    # the TEXT default looks at the types, not at a comment's words
    ("CREATE TABLE t (a INT COMMENT 'a date')",
     "CREATE TABLE t (`a` INT COMMENT 'a date') USING csv OPTIONS "
     "(sep='\x01', ignoreLeadingWhiteSpace='false', "
     "ignoreTrailingWhiteSpace='false', nullValue='\\\\N')"),
    ("CREATE TABLE t (a INT) WITH SERDEPROPERTIES ('k'='v') "
     "STORED AS AVRO TBLPROPERTIES ('x'='y')",
     "CREATE TABLE t (`a` INT) USING avro OPTIONS ('k'='v') "
     "TBLPROPERTIES ('x'='y')"),
    ("CREATE TABLE IF NOT EXISTS t LIKE s", "CREATE TABLE IF NOT EXISTS t "
     "LIKE s"),
    # Spark's own spelling passes through
    ("CREATE TABLE d.t (x INT) USING csv OPTIONS (sep=',')",
     "CREATE TABLE d.t (`x` INT) USING csv OPTIONS (sep=',')"),
    ("CREATE TABLE t LIKE PARQUET '/f'", None),
])
def test_create_spark_spelling(text, spark):
    from incubator_impala_spark.statements import translate_statement

    assert translate_statement(text) == spark


def test_every_row_has_a_case():
    from incubator_impala_spark import statements

    assert set(statements.KINDS) == {k for k, *_ in CASES}


# ---------------------------------------------------------------------
# one Engine.sql case per row
# ---------------------------------------------------------------------

_PLAIN = "stc_t (a INT) STORED AS PARQUET"

# (kind, setup statements, statement, expected rows, or the text the
# error carries)
CASES = [
    ("set_all", [], "SET ALL", None),
    ("set", [], "SET explain_level=1", [(1,)]),
    ("explain", ["SET explain_level=1"], "EXPLAIN SELECT 1",
     None),
    ("show_create", [f"CREATE TABLE {_PLAIN}"], "SHOW CREATE TABLE stc_t",
     None),
    ("create_table", [], f"CREATE TABLE {_PLAIN}",
     [("Table has been created.",)]),
    ("create_view", [], "CREATE VIEW stc_v AS SELECT 1 AS a",
     [("View has been created.",)]),
    ("drop_table", [f"CREATE TABLE {_PLAIN}"], "DROP TABLE stc_t",
     [("Table has been dropped.",)]),
    ("drop_view", ["CREATE VIEW stc_v AS SELECT 1 AS a"], "DROP VIEW stc_v",
     [("View has been dropped.",)]),
    ("analyze", [f"CREATE TABLE {_PLAIN}"],
     "ANALYZE TABLE stc_t COMPUTE STATISTICS FOR COLUMNS",
     [("Updated table stats.",)]),
    ("create_db", [], "CREATE DATABASE stc_db",
     [("Database has been created.",)]),
    ("drop_db", ["CREATE DATABASE stc_db"], "DROP DATABASE stc_db",
     [("Database has been dropped.",)]),
    ("show_dbs", ["CREATE DATABASE stc_db COMMENT 'c'"],
     "SHOW DATABASES LIKE 'stc_*'", [("stc_db", "c")]),
    ("use", ["CREATE DATABASE stc_db"], "USE stc_db", []),
    ("create_function", ["CREATE DATABASE stc_db"],
     "CREATE FUNCTION stc_db.f(INT) RETURNS INT LOCATION '/l/f.so' "
     "SYMBOL='f'", [("Function has been created.",)]),
    ("show_functions", [
        "CREATE DATABASE stc_db",
        "CREATE FUNCTION stc_db.f(INT) RETURNS INT LOCATION '/l/f.so' "
        "SYMBOL='f'"],
     "SHOW FUNCTIONS IN stc_db", [("INT", "f(INT)", "NATIVE", "true")]),
    ("drop_function", [
        "CREATE DATABASE stc_db",
        "CREATE FUNCTION stc_db.f(INT) RETURNS INT LOCATION '/l/f.so' "
        "SYMBOL='f'"],
     "DROP FUNCTION stc_db.f(INT)", [("Function has been dropped.",)]),
    ("show_tables", ["CREATE DATABASE stc_db",
                     "CREATE TABLE stc_db.t (a INT)"],
     "SHOW TABLES IN stc_db", [("t",)]),
    ("alter_view", ["CREATE VIEW stc_v AS SELECT 1 AS a"],
     "ALTER VIEW stc_v AS SELECT 2 AS a", [("View has been altered.",)]),
    ("alter_table", [f"CREATE TABLE {_PLAIN}"],
     "ALTER TABLE stc_t ADD COLUMNS (b STRING)",
     [("New column(s) have been added to the table.",)]),
    ("show_partitions", [
        "CREATE TABLE stc_t (a INT) PARTITIONED BY (y INT) "
        "STORED AS PARQUET",
        "INSERT INTO stc_t PARTITION (y=1) VALUES (5)"],
     "SHOW PARTITIONS stc_t", None),
    ("show_column_stats", [f"CREATE TABLE {_PLAIN}"],
     "SHOW COLUMN STATS stc_t", [("a", "INT", -1, -1, 4, 4.0, -1, -1)]),
    ("show_table_stats", [f"CREATE TABLE {_PLAIN}"],
     "SHOW TABLE STATS stc_t", None),
    ("show_files", [f"CREATE TABLE {_PLAIN}"], "SHOW FILES IN stc_t", []),
    ("describe_db", ["CREATE DATABASE stc_db COMMENT 'c'"],
     "DESCRIBE DATABASE stc_db",
     [("stc_db", "file:/test-warehouse/stc_db.db", "c"),
      ("managedlocation:", "file:/test-warehouse/managed/stc_db.db", "")]),
    ("describe", [f"CREATE TABLE {_PLAIN}"], "DESCRIBE stc_t",
     [("a", "int", "")]),
    ("compute_stats", [f"CREATE TABLE {_PLAIN}",
                       "INSERT INTO stc_t VALUES (1)"],
     "COMPUTE STATS stc_t",
     [("Updated 1 partition(s) and 1 column(s).",)]),
    ("drop_stats", [f"CREATE TABLE {_PLAIN}"], "DROP STATS stc_t",
     [("Stats have been dropped.",)]),
    ("truncate", [f"CREATE TABLE {_PLAIN}"], "TRUNCATE TABLE stc_t",
     [("Table has been truncated.",)]),
    ("insert", [f"CREATE TABLE {_PLAIN}"], "INSERT INTO stc_t VALUES (1)",
     [(": 1",)]),
    ("refresh", [f"CREATE TABLE {_PLAIN}"], "REFRESH stc_t", []),
    ("load", [f"CREATE TABLE {_PLAIN}"],
     "LOAD DATA INPATH '/nonexistent/stc' INTO TABLE stc_t",
     "LOAD DATA source not found"),
    ("create_role", [], "CREATE ROLE stc_r", [(1,)]),
    ("drop_role", ["CREATE ROLE stc_r"], "DROP ROLE stc_r", [(1,)]),
    ("grant_role", ["CREATE ROLE stc_r"], "GRANT ROLE stc_r TO GROUP stc_g",
     [(1,)]),
    ("revoke_role", ["CREATE ROLE stc_r"],
     "REVOKE ROLE stc_r FROM GROUP stc_g", [(1,)]),
    ("grant", ["CREATE ROLE stc_r"],
     "GRANT SELECT ON TABLE stc_t TO ROLE stc_r", [(1,)]),
    ("revoke", ["CREATE ROLE stc_r"],
     "REVOKE SELECT ON TABLE stc_t FROM ROLE stc_r", [(1,)]),
    ("show_roles", ["CREATE ROLE stc_r"], "SHOW ROLES", [("stc_r",)]),
    ("show_role_grant", ["CREATE ROLE stc_r",
                         "GRANT ROLE stc_r TO GROUP stc_g"],
     "SHOW ROLE GRANT GROUP stc_g", [("stc_r",)]),
    ("show_grant", ["CREATE ROLE stc_r",
                    "GRANT SELECT ON TABLE stc_t TO ROLE stc_r"],
     "SHOW GRANT ROLE stc_r",
     [("ROLE", "stc_r", "table", "stc_t", "select", False)]),
    ("show", [], "SHOW CURRENT NAMESPACE", [("spark_catalog", "default")]),
    ("delete", [f"CREATE TABLE {_PLAIN}"], "DELETE FROM stc_t WHERE a = 1",
     "UNSUPPORTED_FEATURE.TABLE_OPERATION"),
    ("update", [f"CREATE TABLE {_PLAIN}"], "UPDATE stc_t SET a = 2",
     "UNSUPPORTED_FEATURE.TABLE_OPERATION"),
    ("upsert", [f"CREATE TABLE {_PLAIN}"], "UPSERT INTO stc_t VALUES (1)",
     "PARSE_SYNTAX_ERROR"),
    ("ddl", [], "CREATE TEMPORARY VIEW stc_v AS SELECT 1 AS a", []),
    ("query", [], "SELECT 1 AS a", [(1,)]),
    ("other", [], "(SELECT 2)", [(2,)]),
]


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    e = Engine(spark, sf_dir=SF_SMALL)
    yield e
    _reset(e)


def _reset(e):
    e.sql("USE default")
    e.sql("DROP ROLE stc_r")
    e.grants.group_roles.pop("stc_g", None)
    e.sql("DROP DATABASE IF EXISTS stc_db CASCADE")
    for t in ("stc_t", "stc_p", "stc_acid"):
        e.sql(f"DROP TABLE IF EXISTS {t}")
    e.spark.catalog.dropTempView("stc_v")
    e.sql("SET explain_level=2")


def _rows(eng, text):
    return [tuple(r) for r in eng.sql(text).collect()]


@pytest.mark.parametrize("kind, setup, text, expected", CASES,
                         ids=[c[0] for c in CASES])
def test_row(eng, kind, setup, text, expected):
    _reset(eng)
    for s in setup:
        eng.sql(s)
    if isinstance(expected, str):
        with pytest.raises(Exception, match=expected):
            eng.sql(text).collect()
        return
    rows = _rows(eng, text)
    if expected is not None:
        assert rows == expected
    elif kind == "set_all":
        assert rows[0][0] == "ABORT_ON_ERROR"
    elif kind == "explain":
        assert ("PLAN-ROOT SINK",) in rows
    elif kind == "show_create":
        assert rows[0][0].startswith("CREATE EXTERNAL TABLE stc_t (")
    elif kind == "show_partitions":
        assert [r[:3] for r in rows] == [("1", -1, 1), ("Total", -1, 1)]
    elif kind == "show_table_stats":
        assert rows[0][:3] == (-1, 0, "0B")


# ---------------------------------------------------------------------
# leading comments and the ACID variants
# ---------------------------------------------------------------------

def test_leading_comment_create(eng):
    _reset(eng)
    assert _rows(eng, f"-- note\nCREATE TABLE {_PLAIN}") == [
        ("Table has been created.",)]


def test_leading_comment_insert(eng):
    _reset(eng)
    eng.sql(f"CREATE TABLE {_PLAIN}")
    assert _rows(eng, "/* x */ INSERT INTO stc_t VALUES (1)") == [(": 1",)]


def test_leading_comment_drop_acid_table(eng):
    from incubator_impala_spark import stats

    _reset(eng)
    eng.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    assert _rows(eng, "-- c\nDROP TABLE stc_acid") == [
        ("Table has been dropped.",)]
    assert stats.peek(eng, "stc_acid").acid is None
    eng.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    assert _rows(eng, "SELECT count(*) FROM stc_acid") == [(0,)]


@pytest.mark.parametrize("text, expected", [
    ("INSERT INTO stc_acid VALUES (1)", [("Inserted 1 row(s)",)]),
    ("TRUNCATE TABLE stc_acid", [("Table has been truncated.",)]),
    ("REFRESH stc_acid", []),
    ("ALTER TABLE stc_acid ADD COLUMNS (b INT)",
     "ALTER TABLE not supported on transactional"),
    ("DROP STATS stc_acid", "DROP STATS not supported on transactional"),
    ("DROP TABLE stc_acid", [("Table has been dropped.",)]),
])
def test_record_picks_the_acid_variant(eng, text, expected):
    _reset(eng)
    eng.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    if isinstance(expected, str):
        with pytest.raises(ValueError, match=expected):
            eng.sql(text)
    else:
        assert _rows(eng, text) == expected


# ---------------------------------------------------------------------
# a WITH list before an INSERT names engine-owned databases
# ---------------------------------------------------------------------

@pytest.mark.parametrize("use, src", [(None, "stc_db.src"),
                                      ("stc_db", "src")])
def test_with_led_insert_resolves_its_with_list(eng, use, src):
    _reset(eng)
    eng.sql("CREATE DATABASE stc_db")
    eng.sql("CREATE TABLE stc_db.src (a INT) STORED AS PARQUET")
    eng.sql("INSERT INTO stc_db.src VALUES (7), (8)")
    eng.sql(f"CREATE TABLE {_PLAIN}")
    if use:
        eng.sql(f"USE {use}")
    assert _rows(eng, f"WITH c AS (SELECT * FROM {src}) "
                      f"INSERT INTO default.stc_t SELECT * FROM c") == [
        (": 2",)]
    eng.sql("USE default")
    assert sorted(_rows(eng, "SELECT a FROM stc_t")) == [(7,), (8,)]


# ---------------------------------------------------------------------
# backticked write targets
# ---------------------------------------------------------------------

@pytest.mark.parametrize("text, expected", [
    ("INSERT INTO `stc_db`.`stc_t` VALUES (1)", [(": 1",)]),
    ("INSERT INTO `stc_t` VALUES (1)", [(": 1",)]),
    ("INSERT INTO `stc_acid` VALUES (1)", [("Inserted 1 row(s)",)]),
    ("TRUNCATE TABLE `stc_t`", [("Table has been truncated.",)]),
    ("COMPUTE STATS `stc_db`.`stc_t`",
     [("Updated 1 partition(s) and 1 column(s).",)]),
    ("DROP STATS `stc_t`", [("Stats have been dropped.",)]),
])
def test_backticked_write_targets(eng, text, expected):
    _reset(eng)
    eng.sql("CREATE DATABASE stc_db")
    for t in ("stc_db.stc_t", "stc_t"):
        eng.sql(f"CREATE TABLE {t} (a INT) STORED AS PARQUET")
    eng.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    assert _rows(eng, text) == expected


def test_importing_the_engine_does_not_load_pyarrow():
    # pyarrow loads when a scan-error probe fails, not with the engine
    code = ("import sys, incubator_impala_spark.engine; "
            "print('pyarrow' in sys.modules)")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
    assert out.stdout.strip() == "False"


# ---------------------------------------------------------------------
# the SHOW rows take the classified target
# ---------------------------------------------------------------------

@pytest.mark.parametrize("show", ["SHOW TABLE STATS", "SHOW COLUMN STATS",
                                  "SHOW PARTITIONS", "SHOW FILES IN"])
def test_backticked_show_targets(eng, show):
    _reset(eng)
    eng.sql("CREATE TABLE stc_p (a INT) PARTITIONED BY (y INT) "
            "STORED AS PARQUET")
    eng.sql("INSERT INTO stc_p PARTITION (y=1) VALUES (5)")
    assert _rows(eng, f"{show} `default`.`stc_p`") == \
        _rows(eng, f"{show} stc_p")


# ---------------------------------------------------------------------
# a PARTITION spec nests
# ---------------------------------------------------------------------

def test_partition_spec_with_nested_parens(eng, tmp_path):
    _reset(eng)
    eng.sql("CREATE TABLE stc_p (a INT) PARTITIONED BY (p STRING) "
            "STORED AS PARQUET")
    eng.spark.range(3).selectExpr("cast(id as int) a") \
        .coalesce(1).write.parquet(str(tmp_path / "src"))
    assert _rows(eng, f"LOAD DATA INPATH '{tmp_path / 'src'}' INTO TABLE "
                      f"stc_p PARTITION (p=upper('c'))")[0][0].startswith(
        "Loaded 1 file(s).")
    assert sorted(_rows(eng, "SELECT a, p FROM stc_p")) == [
        (0, "C"), (1, "C"), (2, "C")]
    assert _rows(eng, "COMPUTE INCREMENTAL STATS stc_p "
                      "PARTITION (p=upper('c'))") == [
        ("Updated 1 partition(s) and 1 column(s).",)]
    assert [r[:2] for r in _rows(eng, "SHOW PARTITIONS stc_p")] == [
        ("C", 3), ("Total", 3)]


# ---------------------------------------------------------------------
# DROP TABLE of an ACID table no record holds
# ---------------------------------------------------------------------

def test_drop_clears_acid_files_of_an_earlier_session(eng):
    from incubator_impala_spark.engine import Engine

    _reset(eng)
    first = Engine(eng.spark.newSession())
    first.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    first.sql("INSERT INTO stc_acid VALUES (1)")
    first.sql("TRUNCATE TABLE stc_acid")
    second = Engine(eng.spark.newSession())
    second.sql("DROP TABLE IF EXISTS stc_acid")
    second.sql(f"CREATE TABLE stc_acid (a INT) STORED AS PARQUET {_ACID}")
    # two writes: the earlier session's base_2 would cover both
    second.sql("INSERT INTO stc_acid VALUES (2)")
    second.sql("INSERT INTO stc_acid VALUES (3)")
    try:
        assert sorted(_rows(second, "SELECT a FROM stc_acid")) == [
            (2,), (3,)]
    finally:
        second.sql("DROP TABLE stc_acid")


# ---------------------------------------------------------------------
# CREATE TABLE from its parts
# ---------------------------------------------------------------------

@pytest.mark.parametrize("text", [
    "CREATE TABLE stc_t AS VALUES (1, 'a'), (2, 'b')",
    "CREATE EXTERNAL TABLE stc_t AS SELECT 1 AS _c0, 'a' AS _c1 "
    "UNION ALL SELECT 2, 'b'",
])
def test_ctas_counts_its_rows(eng, text):
    _reset(eng)
    assert _rows(eng, text) == [("Inserted 2 row(s)",)]
    assert sorted(_rows(eng, "SELECT _c0, _c1 FROM stc_t")) == [
        (1, "a"), (2, "b")]


def test_create_column_named_like_a_table_under_use(eng):
    # a column definition names no table: `t` stays `t` under USE
    _reset(eng)
    eng.sql("CREATE DATABASE stc_db")
    eng.sql("CREATE TABLE stc_db.t (a INT) STORED AS PARQUET")
    eng.sql("USE stc_db")
    eng.sql("CREATE TABLE stc_t (t INT) STORED AS PARQUET")
    eng.sql("USE default")
    assert eng.spark.table("stc_t").columns == ["t"]


def test_unparsed_create_runs_as_written(eng):
    _reset(eng)
    with pytest.raises(Exception,
                       match=r"CREATE TABLE stc_t \(a INT\) CACHED IN"):
        eng.sql("CREATE TABLE stc_t (a INT) CACHED IN 'pool'")
