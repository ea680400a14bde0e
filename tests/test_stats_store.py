"""The table-stats store (`incubator_impala_spark/stats.py`): one record
per table, keyed by the physical table with its database kept.

Each test drives statements through `Engine.sql` and reads the stats
back the way a user does, through SHOW COLUMN STATS and SHOW TABLE
STATS:
- a table's stats do not show on a same-named table in another
  database, and `t`, `default.t` and `` `t` `` name one table;
- an insert-only ACID table's COMPUTE STATS gives the values the same
  rows give in a plain parquet table (string Avg Size is the average,
  booleans get #Trues and #Falses), CHAR/VARCHAR columns included;
- a partitioned insert-only ACID table's key columns get the values a
  plain table's get, from the partition list;
- incremental stats follow a rename, and die with a dropped table;
- DROP INCREMENTAL STATS with a partition predicate drops the matched
  partitions only.
"""

from __future__ import annotations

from decimal import Decimal

import pytest

_ACID = ("TBLPROPERTIES ('transactional'='true', "
         "'transactional_properties'='insert_only')")


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    e = Engine(spark)
    for db in ("sst_a", "sst_b"):
        e.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        e.sql(f"CREATE DATABASE {db}")
        e.sql(f"CREATE TABLE {db}.t (x INT, s STRING) STORED AS PARQUET")
    e.sql("INSERT INTO sst_a.t VALUES (1, 'a'), (2, 'bb'), (3, 'ccc')")
    yield e
    for db in ("sst_a", "sst_b"):
        e.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _col_stats(eng, tbl: str) -> dict:
    return {r["Column"]: r.asDict()
            for r in eng.sql(f"SHOW COLUMN STATS {tbl}").collect()}


def _part_stats(eng, tbl: str) -> dict:
    """SHOW TABLE STATS rows of a table partitioned by `y`, by value."""
    return {r["y"]: r.asDict()
            for r in eng.sql(f"SHOW TABLE STATS {tbl}").collect()}


def _recreate(eng, tbl: str, ddl: str) -> None:
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} {ddl}")


def test_stats_do_not_leak_across_databases(eng):
    eng.sql("COMPUTE STATS sst_a.t")
    a = _col_stats(eng, "sst_a.t")
    assert (a["x"]["#Distinct Values"], a["s"]["Avg Size"]) == (3, 2.0)
    assert eng.sql("SHOW TABLE STATS sst_a.t").collect()[0]["#Rows"] == 3
    b = _col_stats(eng, "sst_b.t")
    assert b["x"]["#Distinct Values"] == -1
    assert b["s"]["#Distinct Values"] == -1
    assert b["s"]["Avg Size"] == -1.0
    assert eng.sql("SHOW TABLE STATS sst_b.t").collect()[0]["#Rows"] == -1


def test_set_column_stats_does_not_leak_across_databases(eng):
    eng.sql("ALTER TABLE sst_a.t SET COLUMN STATS x ('numDVs'='7')")
    assert _col_stats(eng, "sst_a.t")["x"]["#Distinct Values"] == 7
    assert _col_stats(eng, "sst_b.t")["x"]["#Distinct Values"] == -1


def test_default_db_spellings_share_one_record(eng):
    _recreate(eng, "sst_plain", "(x INT) STORED AS PARQUET")
    eng.sql("INSERT INTO sst_plain VALUES (1), (2)")
    eng.sql("COMPUTE STATS default.sst_plain")
    for name in ("sst_plain", "default.sst_plain", "`sst_plain`"):
        assert _col_stats(eng, name)["x"]["#Distinct Values"] == 2, name
    eng.sql("DROP TABLE `sst_plain`")


def test_acid_compute_stats_matches_plain_table(eng):
    # unaliased decimal literals name their source columns `1.50` and
    # `0.5`: the insert takes source columns by position
    rows = "(1, 'a', true, 1.50), (2, 'abcdef', false, NULL), " \
           "(3, 'abc', true, NULL), (4, 'ab', NULL, NULL)"
    cols = "(x INT, s STRING, b BOOLEAN, d DECIMAL(5,2)) STORED AS PARQUET"
    _recreate(eng, "sst_acid", f"{cols} {_ACID}")
    _recreate(eng, "sst_flat", cols)
    for tbl in ("sst_acid", "sst_flat"):
        eng.sql(f"INSERT INTO {tbl} VALUES {rows}")
        eng.sql(f"INSERT INTO {tbl} SELECT 5, 'abc', NULL, 0.5")
        eng.sql(f"COMPUTE STATS {tbl}")
    assert sorted(r.d for r in eng.sql("SELECT d FROM sst_acid").collect()
                  if r.d is not None) == [Decimal("0.50"), Decimal("1.50")]
    acid, flat = _col_stats(eng, "sst_acid"), _col_stats(eng, "sst_flat")
    assert acid["s"]["Avg Size"] == 3.0
    assert acid["s"]["Max Size"] == 6
    assert (acid["b"]["#Trues"], acid["b"]["#Falses"]) == (2, 1)
    assert (acid["b"]["#Distinct Values"], acid["b"]["#Nulls"]) == (2, 2)
    assert (acid["d"]["#Distinct Values"], acid["d"]["#Nulls"]) == (2, 3)
    assert acid == flat
    assert eng.sql("SHOW TABLE STATS sst_acid").collect()[0]["#Rows"] == 5
    for tbl in ("sst_acid", "sst_flat"):
        eng.sql(f"DROP TABLE {tbl}")


def test_acid_char_varchar_columns_read_and_compute_stats(eng):
    # Spark's file readers take no CHAR(n)/VARCHAR(n) schema: the ACID
    # view reads those columns as strings, with the plain table's values
    cols = "(v VARCHAR(10), c CHAR(5)) STORED AS PARQUET"
    _recreate(eng, "sst_acidv", f"{cols} {_ACID}")
    _recreate(eng, "sst_flatv", cols)
    for tbl in ("sst_acidv", "sst_flatv"):
        eng.sql(f"INSERT INTO {tbl} SELECT CAST('ab' AS VARCHAR(10)), "
                "CAST('ab' AS CHAR(5))")
        eng.sql(f"COMPUTE STATS {tbl}")
    rows = [tuple(r) for r in eng.sql("SELECT * FROM sst_acidv").collect()]
    assert rows == [("ab", "ab   ")]
    acid, flat = _col_stats(eng, "sst_acidv"), _col_stats(eng, "sst_flatv")
    assert (acid["v"]["#Distinct Values"], acid["v"]["Max Size"]) == (1, 2)
    for col in ("v", "c"):
        acid[col].pop("Type"), flat[col].pop("Type")
    assert acid == flat
    assert eng.sql("SHOW TABLE STATS sst_acidv").collect()[0]["#Rows"] == 1
    for tbl in ("sst_acidv", "sst_flatv"):
        eng.sql(f"DROP TABLE {tbl}")


def test_partitioned_acid_compute_stats_matches_plain_table(eng):
    # the key column's NDV counts the NULL partition and #Nulls counts
    # NULL partitions, not NULL rows; a string key has no sizes
    rows = "(1, 'a', 'p'), (2, 'abcdef', 'qq'), (3, 'abc', NULL), " \
           "(4, 'ab', NULL)"
    cols = "(x INT, s STRING) PARTITIONED BY (y STRING) STORED AS PARQUET"
    _recreate(eng, "sst_acidp", f"{cols} {_ACID}")
    _recreate(eng, "sst_flatp", cols)
    for tbl in ("sst_acidp", "sst_flatp"):
        eng.sql(f"INSERT INTO {tbl} PARTITION (y) VALUES {rows}")
        eng.sql(f"COMPUTE STATS {tbl}")
    acid, flat = _col_stats(eng, "sst_acidp"), _col_stats(eng, "sst_flatp")
    assert (acid["y"]["#Distinct Values"], acid["y"]["#Nulls"]) == (3, 1)
    assert (acid["y"]["Max Size"], acid["y"]["Avg Size"]) == (-1, -1.0)
    assert acid["s"]["Avg Size"] == 3.0
    assert acid == flat
    for tbl in ("sst_acidp", "sst_flatp"):
        eng.sql(f"DROP TABLE {tbl}")


def test_incremental_stats_follow_rename(eng):
    eng.sql("DROP TABLE IF EXISTS sst_ren2")
    _recreate(eng, "sst_ren", "(x INT) PARTITIONED BY (y INT) "
                              "STORED AS PARQUET")
    eng.sql("INSERT INTO sst_ren PARTITION (y) VALUES (1, 1), (2, 1), (3, 2)")
    eng.sql("COMPUTE INCREMENTAL STATS sst_ren")
    eng.sql("ALTER TABLE sst_ren RENAME TO sst_ren2")
    parts = _part_stats(eng, "sst_ren2")
    assert parts["1"]["Incremental stats"] == "true"
    assert parts["2"]["Incremental stats"] == "true"
    assert (parts["1"]["#Rows"], parts["Total"]["#Rows"]) == (2, 3)
    eng.sql("DROP TABLE sst_ren2")


def test_dropped_table_takes_its_incremental_stats(eng):
    ddl = "(x INT) PARTITIONED BY (y INT) STORED AS PARQUET"
    _recreate(eng, "sst_drop", ddl)
    eng.sql("INSERT INTO sst_drop PARTITION (y) VALUES (1, 1)")
    eng.sql("COMPUTE INCREMENTAL STATS sst_drop")
    assert _part_stats(eng, "sst_drop")["1"]["Incremental stats"] == "true"
    eng.sql("DROP TABLE sst_drop")
    eng.sql(f"CREATE TABLE sst_drop {ddl}")
    eng.sql("INSERT INTO sst_drop PARTITION (y) VALUES (1, 1)")
    parts = _part_stats(eng, "sst_drop")
    assert parts["1"]["Incremental stats"] == "false"
    assert parts["1"]["#Rows"] == -1
    assert parts["Total"]["#Rows"] == -1
    eng.sql("DROP TABLE sst_drop")


def test_drop_incremental_stats_by_predicate_keeps_other_partitions(eng):
    _recreate(eng, "sst_pred", "(x INT) PARTITIONED BY (y INT) "
                               "STORED AS PARQUET")
    eng.sql("INSERT INTO sst_pred PARTITION (y) "
            "VALUES (1, 1), (2, 1), (3, 5)")
    eng.sql("COMPUTE INCREMENTAL STATS sst_pred")
    eng.sql("DROP INCREMENTAL STATS sst_pred PARTITION (y < 3)")
    parts = _part_stats(eng, "sst_pred")
    assert parts["1"]["Incremental stats"] == "false"
    assert parts["5"]["Incremental stats"] == "true"
    # the table-level column stats are those of the partitions still
    # covered: y=5 holds the one row x=3
    x = _col_stats(eng, "sst_pred")["x"]
    assert (x["#Distinct Values"], x["#Nulls"]) == (1, 0)
    eng.sql("DROP TABLE sst_pred")
