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
  plain table's get, from the partition list, and its SHOW PARTITIONS,
  SHOW TABLE STATS and COMPUTE [INCREMENTAL] STATS summaries match the
  plain table's, string keys whose directory names are escaped
  included;
- partitions list in typed key order, NaN above every number and
  NULL last, for ACID and plain tables alike;
- DROP DATABASE ... CASCADE drops an ACID table with its state, and
  a DROP VIEW naming an ACID table is refused and keeps its rows;
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
    # the declared types show, not the STRING the files are read as
    assert (acid["v"]["Type"], acid["c"]["Type"]) == ("VARCHAR(10)",
                                                      "CHAR(5)")
    assert acid == flat
    assert [tuple(r)[:2] for r in eng.sql("DESCRIBE sst_acidv").collect()] \
        == [("v", "varchar(10)"), ("c", "char(5)")]
    assert eng.sql("SHOW TABLE STATS sst_acidv").collect()[0]["#Rows"] == 1
    for tbl in ("sst_acidv", "sst_flatv"):
        eng.sql(f"DROP TABLE {tbl}")


def _listing(eng, stmt: str) -> list[dict]:
    """The rows of a SHOW PARTITIONS / TABLE STATS statement, Location
    dropped (it names each table's own directory)."""
    return [{k: v for k, v in r.asDict().items() if k != "Location"}
            for r in eng.sql(stmt).collect()]


def test_partitioned_acid_compute_stats_matches_plain_table(eng):
    # the key column's NDV counts the NULL partition and #Nulls counts
    # NULL partitions, not NULL rows; a string key has no sizes
    rows = "(1, 'a', 'p'), (2, 'abcdef', 'qq'), (3, 'abc', NULL), " \
           "(4, 'ab', NULL)"
    cols = "(x INT, s STRING) PARTITIONED BY (y STRING) STORED AS PARQUET"
    _recreate(eng, "sst_acidp", f"{cols} {_ACID}")
    _recreate(eng, "sst_flatp", cols)
    summary = {}
    for tbl in ("sst_acidp", "sst_flatp"):
        eng.sql(f"INSERT INTO {tbl} PARTITION (y) VALUES {rows}")
        summary[tbl] = eng.sql(f"COMPUTE STATS {tbl}").collect()[0][0]
    assert summary["sst_acidp"] == summary["sst_flatp"] == \
        "Updated 3 partition(s) and 2 column(s)."
    acid, flat = _col_stats(eng, "sst_acidp"), _col_stats(eng, "sst_flatp")
    assert (acid["y"]["#Distinct Values"], acid["y"]["#Nulls"]) == (3, 1)
    assert (acid["y"]["Max Size"], acid["y"]["Avg Size"]) == (-1, -1.0)
    assert acid["s"]["Avg Size"] == 3.0
    assert acid == flat
    listing = _listing(eng, "SHOW PARTITIONS sst_acidp")
    assert [r["y"] for r in listing] == ["p", "qq", "NULL", "Total"]
    assert listing == _listing(eng, "SHOW PARTITIONS sst_flatp")
    for tbl in ("sst_acidp", "sst_flatp"):
        eng.sql(f"DROP TABLE {tbl}")


def _int_keyed_pair(eng) -> tuple[str, str]:
    """An insert-only ACID table and a plain one, each with rows in the
    `y INT` partitions 2, 10 and NULL and no stats computed."""
    rows = "(1, 2), (2, 10), (3, NULL), (4, 2)"
    cols = "(x INT) PARTITIONED BY (y INT) STORED AS PARQUET"
    _recreate(eng, "sst_acidi", f"{cols} {_ACID}")
    _recreate(eng, "sst_flati", cols)
    for tbl in ("sst_acidi", "sst_flati"):
        eng.sql(f"INSERT INTO {tbl} PARTITION (y) VALUES {rows}")
    return "sst_acidi", "sst_flati"


def test_show_partitions_typed_order_null_last(eng):
    for tbl in _int_keyed_pair(eng):
        assert [r["y"] for r in _listing(eng, f"SHOW PARTITIONS {tbl}")] \
            == ["2", "10", "NULL", "Total"], tbl
        eng.sql(f"DROP TABLE {tbl}")
    # NaN compares false both ways: it gets its own place, above the
    # numbers, and the next key orders the NaN partitions
    nan = "CAST('NaN' AS DOUBLE)"
    rows = f"(1, {nan}, 2), (2, {nan}, 10), (3, 10, 2), (4, -1, 10), " \
           "(5, NULL, 2), (6, 2.5, 2)"
    cols = "(x INT) PARTITIONED BY (y DOUBLE, z INT) STORED AS PARQUET"
    for tbl, ddl in (("sst_acidd", f"{cols} {_ACID}"),
                     ("sst_flatd", cols)):
        _recreate(eng, tbl, ddl)
        eng.sql(f"INSERT INTO {tbl} PARTITION (y, z) VALUES {rows}")
        assert [(r["y"], r["z"]) for r in
                _listing(eng, f"SHOW PARTITIONS {tbl}")][:-1] == [
            ("-1.0", "10"), ("2.5", "2"), ("10.0", "2"), ("NaN", "2"),
            ("NaN", "10"), ("NULL", "2")], tbl
        eng.sql(f"DROP TABLE {tbl}")


def test_acid_key_stats_known_before_compute(eng):
    # the catalog knows the key's NDV and #Nulls from the partition
    # list; nothing is computed
    for tbl in _int_keyed_pair(eng):
        y = _col_stats(eng, tbl)["y"]
        assert (y["#Distinct Values"], y["#Nulls"]) == (3, 1), tbl
        eng.sql(f"DROP TABLE {tbl}")


def test_acid_incremental_partition_compute(eng):
    acid, flat = _int_keyed_pair(eng)
    summary = {}
    for tbl in (acid, flat):
        summary[tbl] = eng.sql(f"COMPUTE INCREMENTAL STATS {tbl} "
                               "PARTITION (y=2)").collect()[0][0]
        part = _part_stats(eng, tbl)["2"]
        assert (part["#Rows"], part["Incremental stats"]) == (2, "true"), \
            tbl
    assert summary[acid] == summary[flat] == \
        "Updated 1 partition(s) and 1 column(s)."
    assert _listing(eng, f"SHOW TABLE STATS {acid}") == \
        _listing(eng, f"SHOW TABLE STATS {flat}")
    for tbl in (acid, flat):
        eng.sql(f"DROP TABLE {tbl}")


def _cascade_acid_db(eng) -> None:
    """sst_casc held the ACID tables a and b, each with rows 1 and 2,
    and was dropped with CASCADE, then created again empty."""
    eng.sql("DROP DATABASE IF EXISTS sst_casc CASCADE")
    eng.sql("CREATE DATABASE sst_casc")
    for t in ("a", "b"):
        eng.sql(f"CREATE TABLE sst_casc.{t} (x INT) STORED AS PARQUET "
                f"{_ACID}")
        eng.sql(f"INSERT INTO sst_casc.{t} VALUES (1), (2)")
    eng.sql("DROP DATABASE sst_casc CASCADE")
    eng.sql("CREATE DATABASE sst_casc")


def test_cascade_dropped_acid_rows_do_not_return(eng):
    _cascade_acid_db(eng)
    try:
        eng.sql("CREATE TABLE sst_casc.a (x INT)")
        eng.sql("INSERT INTO sst_casc.a VALUES (7)")
        assert [r.x for r in eng.sql("SELECT x FROM sst_casc.a")
                .collect()] == [7]
    finally:
        eng.sql("DROP DATABASE sst_casc CASCADE")


def test_drop_view_naming_an_acid_table_keeps_it(eng):
    for tbl in ("sst_a.acidv", "sst_acidv"):
        _recreate(eng, tbl, f"(x INT) STORED AS PARQUET {_ACID}")
        eng.sql(f"INSERT INTO {tbl} VALUES (1), (2)")
        assert eng.sql(f"DROP VIEW IF EXISTS {tbl}").collect()[0][0] \
            == "Drop view is not allowed on a table.", tbl
        with pytest.raises(Exception,
                           match="DROP VIEW not allowed on a table"):
            eng.sql(f"DROP VIEW {tbl}")
        assert sorted(r.x for r in eng.sql(f"SELECT x FROM {tbl}")
                      .collect()) == [1, 2], tbl
        eng.sql(f"DROP TABLE {tbl}")


def test_cascade_dropped_acid_name_can_be_created_again(eng):
    _cascade_acid_db(eng)
    try:
        out = eng.sql("CREATE TABLE IF NOT EXISTS sst_casc.b (x INT) "
                      f"STORED AS PARQUET {_ACID}").collect()[0][0]
        assert out == "Table has been created."
        assert eng.sql("SELECT x FROM sst_casc.b").collect() == []
    finally:
        eng.sql("DROP DATABASE sst_casc CASCADE")


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


def test_escaped_partition_keys_keep_one_spelling(eng):
    # `a/b` and `c:d` name their directories `y=a%2Fb` and `y=c%3Ad`;
    # per-partition stats are kept under that one spelling
    _recreate(eng, "sst_esc", "(x INT) PARTITIONED BY (y STRING) "
                              "STORED AS PARQUET")
    eng.sql("INSERT INTO sst_esc PARTITION (y) "
            "VALUES (1, 'a/b'), (2, 'c:d'), (3, 'e')")
    eng.sql("COMPUTE INCREMENTAL STATS sst_esc")
    parts = _part_stats(eng, "sst_esc")
    assert {y: (p["#Rows"], p["Incremental stats"])
            for y, p in parts.items() if y != "Total"} == {
        "a/b": (1, "true"), "c:d": (1, "true"), "e": (1, "true")}
    assert parts["a/b"]["Location"].endswith("/sst_esc/y=a%2Fb")
    paths = [r["Path"] for r in
             eng.sql("SHOW FILES IN sst_esc PARTITION (y='c:d')").collect()]
    assert len(paths) == 1 and "/sst_esc/y=c%3Ad/" in paths[0]
    eng.sql("DROP INCREMENTAL STATS sst_esc PARTITION (y='a/b')")
    eng.sql("COMPUTE INCREMENTAL STATS sst_esc PARTITION (y='c:d')")
    parts = _part_stats(eng, "sst_esc")
    assert [parts[y]["Incremental stats"] for y in ("a/b", "c:d", "e")] \
        == ["false", "true", "true"]
    eng.sql("DROP TABLE sst_esc")
    # a BOOLEAN key's directory is `y=true`, a DOUBLE NaN's `y=NaN`
    for typ, vals in (("BOOLEAN", "(1, true), (2, true), (3, false)"),
                      ("DOUBLE", "(1, cast('nan' as double)), (2, 1e20), "
                                 "(3, 1e20)")):
        _recreate(eng, "sst_esc", f"(x INT) PARTITIONED BY (y {typ}) "
                                  "STORED AS PARQUET")
        eng.sql(f"INSERT INTO sst_esc PARTITION (y) VALUES {vals}")
        eng.sql("COMPUTE STATS sst_esc")
        assert sorted(p["#Rows"] for y, p in _part_stats(eng, "sst_esc")
                      .items() if y != "Total") == [1, 2]
    eng.sql("DROP TABLE sst_esc")


def test_acid_escaped_partition_keys_match_plain_table(eng):
    # an ACID table names the directories of `a/b` (static) and `c:d`
    # (dynamic) `y=a%2Fb` and `y=c%3Ad`, as a plain table does, and its
    # view reads the keys back unescaped
    cols = "(x INT) PARTITIONED BY (y STRING) STORED AS PARQUET"
    _recreate(eng, "sst_acide", f"{cols} {_ACID}")
    _recreate(eng, "sst_flate", cols)
    out = {}
    for tbl in ("sst_acide", "sst_flate"):
        eng.sql(f"INSERT INTO {tbl} PARTITION (y='a/b') VALUES (1)")
        eng.sql(f"INSERT INTO {tbl} PARTITION (y) VALUES (2, 'c:d')")
        out[tbl] = (
            sorted(tuple(r) for r in
                   eng.sql(f"SELECT x, y FROM {tbl}").collect()),
            _listing(eng, f"SHOW PARTITIONS {tbl}"),
            eng.sql(f"COMPUTE INCREMENTAL STATS {tbl}").collect()[0][0],
            _listing(eng, f"SHOW PARTITIONS {tbl}"))
    assert out["sst_acide"][0] == [(1, "a/b"), (2, "c:d")]
    assert out["sst_acide"][2] == "Updated 2 partition(s) and 1 column(s)."
    assert [r["Incremental stats"] for r in out["sst_acide"][3]][:2] == [
        "true", "true"]
    assert out["sst_acide"] == out["sst_flate"]
    for tbl in ("sst_acide", "sst_flate"):
        eng.sql(f"DROP TABLE {tbl}")


def test_insert_into_a_float_partition_drops_its_incremental_cover(eng):
    # the float partition's directory is `f=1.0`; the INSERT summary
    # prints it `f=1`, but the cover is kept under the directory name
    _recreate(eng, "sst_flt", "(x INT) PARTITIONED BY (f DOUBLE) "
                              "STORED AS PARQUET")
    eng.sql("INSERT INTO sst_flt PARTITION (f) VALUES (1, 0.5), (2, 1.0)")
    eng.sql("COMPUTE INCREMENTAL STATS sst_flt")
    assert [tuple(r) for r in eng.sql(
        "INSERT INTO sst_flt PARTITION (f) VALUES (3, 1.0)").collect()] \
        == [("f=1/: 1",)]
    assert eng.sql("COMPUTE INCREMENTAL STATS sst_flt").collect()[0][0] \
        == "Updated 1 partition(s) and 1 column(s)."
    assert _part_stats_by(eng, "sst_flt", "f")["1.0"]["#Rows"] == 2
    eng.sql("DROP TABLE sst_flt")


def _part_stats_by(eng, tbl: str, key: str) -> dict:
    return {r[key]: r.asDict()
            for r in eng.sql(f"SHOW TABLE STATS {tbl}").collect()}
