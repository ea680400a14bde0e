"""The per-table catalog record (`incubator_impala_spark/stats.py`):
stats, SORT BY, per-partition overrides, the Avro flag, the SHOW
CREATE facets, the mixed-format flag and the schema overlay of one
table live in one record under one key.

Each test drives statements through `Engine.sql` and reads the
metadata back the way a user does:
- RENAME carries SORT BY (DESCRIBE FORMATTED) and the CREATE facets
  (SHOW CREATE TABLE, and the Format SHOW PARTITIONS gives an empty
  partition);
- same-named tables in two databases keep their own STORED AS;
- DROP TABLE takes the Avro flag with it, so a recreated parquet
  table adds columns with their declared types;
- DROP TABLE IF EXISTS of a missing table leaves other tables'
  schema overlays alone, however their names end, and RENAME moves
  an overlay with its table;
- a no-op CREATE TABLE IF NOT EXISTS keeps the live table's stats,
  SORT BY and SHOW CREATE facets, whatever it names, and so does a
  DROP VIEW IF EXISTS that names the table;
- DROP TABLE IF EXISTS of a table the catalog does not know clears
  its orphaned warehouse directory, so the next CREATE succeeds.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    e = Engine(spark)
    for db in ("trec_a", "trec_b"):
        e.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        e.sql(f"CREATE DATABASE {db}")
    yield e
    for db in ("trec_a", "trec_b"):
        e.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _fresh(eng, *names) -> None:
    for n in names:
        eng.sql(f"DROP TABLE IF EXISTS {n}")


def _sort_rows(eng, tbl: str) -> dict:
    return {r[1].strip(): r[2].strip()
            for r in eng.sql(f"DESCRIBE FORMATTED {tbl}").collect()
            if r[1] and r[1].strip().startswith("sort.")}


def _formats(eng, tbl: str) -> dict:
    return {r["p"]: r["Format"]
            for r in eng.sql(f"SHOW PARTITIONS {tbl}").collect()
            if r["p"] != "Total"}


def test_rename_keeps_sort_by(eng):
    _fresh(eng, "trec_s1", "trec_s2")
    eng.sql("CREATE TABLE trec_s1 (x INT, y INT) SORT BY (y) "
            "STORED AS PARQUET")
    assert _sort_rows(eng, "trec_s1") == {"sort.columns": "y",
                                          "sort.order": "LEXICAL"}
    eng.sql("ALTER TABLE trec_s1 RENAME TO trec_s2")
    assert _sort_rows(eng, "trec_s2") == {"sort.columns": "y",
                                          "sort.order": "LEXICAL"}
    eng.sql("DROP TABLE trec_s2")


def test_rename_keeps_create_facets(eng):
    _fresh(eng, "trec_c1", "trec_c2")
    eng.sql("CREATE TABLE trec_c1 (x INT) PARTITIONED BY (p INT) "
            "COMMENT 'kept' STORED AS PARQUET TBLPROPERTIES ('k'='v')")
    eng.sql("ALTER TABLE trec_c1 RENAME TO trec_c2")
    text = eng.sql("SHOW CREATE TABLE trec_c2").collect()[0][0]
    assert "STORED AS PARQUET" in text
    assert "COMMENT 'kept'" in text
    assert "'k'='v'" in text
    eng.sql("ALTER TABLE trec_c2 ADD PARTITION (p=1)")
    assert _formats(eng, "trec_c2") == {"1": "PARQUET"}
    eng.sql("DROP TABLE trec_c2")


def test_same_name_in_two_databases_keeps_its_format(eng):
    eng.sql("CREATE TABLE trec_a.t (x INT) PARTITIONED BY (p INT) "
            "STORED AS TEXTFILE")
    eng.sql("CREATE TABLE trec_b.t (x INT) PARTITIONED BY (p INT) "
            "STORED AS PARQUET")
    for db in ("trec_a", "trec_b"):
        eng.sql(f"ALTER TABLE {db}.t ADD PARTITION (p=1)")
    assert _formats(eng, "trec_a.t") == {"1": "TEXT"}
    assert _formats(eng, "trec_b.t") == {"1": "PARQUET"}
    for db in ("trec_a", "trec_b"):
        eng.sql(f"DROP TABLE {db}.t")


def test_drop_takes_the_avro_flag(eng):
    _fresh(eng, "trec_av")
    eng.sql("CREATE TABLE trec_av (x INT) STORED AS AVRO")
    eng.sql("DROP TABLE trec_av")
    eng.sql("CREATE TABLE trec_av (x INT) STORED AS PARQUET")
    eng.sql("ALTER TABLE trec_av ADD COLUMNS (z TINYINT)")
    z = next(r for r in eng.sql("DESCRIBE trec_av").collect()
             if r[0] == "z")
    assert (z[1], z[2] or "") == ("tinyint", "")
    eng.sql("DROP TABLE trec_av")


def test_schema_overlay_survives_other_drops_and_follows_a_rename(eng):
    # `trec_ab_t` ends with `ab_t`, the table the DROP names
    _fresh(eng, "trec_ab_t", "ab_t", "trec_ab_t2")
    eng.sql("CREATE TABLE trec_ab_t (a INT, b STRING) STORED AS PARQUET")
    eng.sql("INSERT INTO trec_ab_t VALUES (1, 'x')")
    eng.sql("SET ALTER_SCHEMA_IN_PLACE=1")
    try:
        eng.sql("ALTER TABLE trec_ab_t CHANGE b c STRING")
        assert eng.sql("SELECT * FROM trec_ab_t").columns == ["a", "c"]
        eng.sql("DROP TABLE IF EXISTS ab_t")
        assert eng.sql("SELECT * FROM trec_ab_t").columns == ["a", "c"]
        eng.sql("ALTER TABLE trec_ab_t RENAME TO trec_ab_t2")
        df = eng.sql("SELECT * FROM trec_ab_t2")
        assert df.columns == ["a", "c"]
        assert [tuple(r) for r in df.collect()] == [(1, "x")]
    finally:
        eng.sql("SET ALTER_SCHEMA_IN_PLACE=0")
    eng.sql("DROP TABLE trec_ab_t2")
    for name in ("trec_ab_t", "trec_ab_t2"):
        assert not eng.spark.catalog.tableExists(name), name


def test_noop_create_and_drop_keep_stats_and_sort_by(eng):
    _fresh(eng, "trec_k")
    eng.sql("CREATE TABLE trec_k (x INT, y INT) SORT BY (x) "
            "STORED AS PARQUET")
    eng.sql("INSERT INTO trec_k VALUES (1, 1), (2, 2)")
    eng.sql("COMPUTE STATS trec_k")
    for noop in ("CREATE TABLE IF NOT EXISTS trec_k (x INT, y INT) "
                 "SORT BY (y) STORED AS TEXTFILE",
                 "DROP VIEW IF EXISTS trec_k"):
        eng.sql(noop)
        assert eng.sql("SHOW TABLE STATS trec_k").collect()[0]["#Rows"] \
            == 2, noop
        x = next(r for r in eng.sql("SHOW COLUMN STATS trec_k").collect()
                 if r["Column"] == "x")
        assert x["#Distinct Values"] == 2, noop
        assert _sort_rows(eng, "trec_k")["sort.columns"] == "x", noop
        assert "STORED AS PARQUET" in \
            eng.sql("SHOW CREATE TABLE trec_k").collect()[0][0], noop
    eng.sql("DROP TABLE trec_k")


def test_drop_if_exists_clears_an_orphaned_directory(eng):
    _fresh(eng, "trec_orphan")
    orphan = os.path.join(eng._warehouse_dir(), "trec_orphan")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as fh:
        fh.write(b"left over")
    eng.sql("DROP TABLE IF EXISTS trec_orphan")
    assert not os.path.exists(orphan)
    eng.sql("CREATE TABLE trec_orphan (x INT) STORED AS PARQUET")
    eng.sql("INSERT INTO trec_orphan VALUES (1)")
    assert eng.sql("SELECT count(*) FROM trec_orphan").collect()[0][0] == 1
    eng.sql("DROP TABLE trec_orphan")
