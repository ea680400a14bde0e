"""Per-partition mixed-format scan dispatch (mixedformat.py): the
ALTER PARTITION SET FILEFORMAT / SET LOCATION round-trip and the
pruning-aware Avro reconciliation error — unit-level twins of the
reference's incompatible_avro_partition.test (wired with recorded
results in test_format_matrix.py).

Reference: fe/.../catalog/HdfsStorageDescriptor.java:46-82 (format is
per-partition metadata), fe/src/main/cup/sql-parser.cup:1206 (the
ALTER grammar), fe/.../util/AvroSchemaUtils.java reconcileSchemas."""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def avro_dir(tmp_path):
    from incubator_impala_spark.sources import avro_io

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "i", "type": ["null", "int"]},
        {"name": "t", "type": ["null", "int"]},
        {"name": "s", "type": ["null", "string"]}]}
    d = str(tmp_path / "avpart")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "f1.avro"), "wb") as fh:
        fh.write(avro_io.write_container(
            schema, [{"i": 9, "t": 9, "s": "x"}]))
    return d


def _fresh(engine, name, tcol):
    engine.sql(f"drop table if exists {name}")
    engine.sql(f"create table {name} (i int, t {tcol}, s string) "
               f"partitioned by (p int) stored as parquet")
    engine.sql(f"insert into {name} partition (p=1) "
               f"values (1, 2, 'a')")
    engine.sql(f"alter table {name} add partition (p=2)")
    engine.sql(f"alter table {name} partition (p=2) "
               f"set fileformat avro")


def test_alter_fileformat_roundtrip(engine, avro_dir):
    from incubator_impala_spark import scan_errors as se

    _fresh(engine, "mixrt", "tinyint")
    from incubator_impala_spark import stats

    # dispatch active, avro partition empty: original rows + types
    assert stats.peek(engine, "mixrt").mixed
    rows = engine.sql("select * from mixrt").collect()
    assert [tuple(r) for r in rows] == [(1, 2, "a", 1)]
    # SHOW PARTITIONS reflects the per-partition format
    fmts = {r["p"]: r["Format"] for r in
            engine.sql("show partitions mixrt").collect()
            if r["p"] not in ("Total",)}
    assert fmts == {"1": "PARQUET", "2": "AVRO"}
    # incompatible avro data: unpruned scans raise the reference's
    # reconcileSchemas error, pruned scans still succeed
    engine.sql(f"alter table mixrt partition (p=2) "
               f"set location '{avro_dir}'")
    engine.sql("refresh mixrt")
    with pytest.raises(se.ScanError,
                       match=r"Unresolvable types for column 't': "
                             r"declared column type: TINYINT, "
                             r"table's Avro schema type: int"):
        engine.sql("select * from mixrt").collect()
    assert engine.sql(
        "select count(*) c from mixrt where p = 1").collect()[0][0] == 1
    engine.sql("drop table mixrt")
    assert stats.key(engine, "mixrt") not in engine.tables


def test_compatible_avro_partition_union(engine, avro_dir):
    _fresh(engine, "mixok", "int")
    engine.sql(f"alter table mixok partition (p=2) "
               f"set location '{avro_dir}'")
    rows = sorted(tuple(r) for r in
                  engine.sql("select * from mixok").collect())
    assert rows == [(1, 2, "a", 1), (9, 9, "x", 2)]
    # base partitions keep flowing through the catalog table (one
    # pruned leg), only the overridden partition reads raw; the
    # location override and the dispatch follow a rename
    engine.sql("drop table if exists mixok2")
    engine.sql("alter table mixok rename to mixok2")
    rows = sorted(tuple(r) for r in
                  engine.sql("select * from mixok2").collect())
    assert rows == [(1, 2, "a", 1), (9, 9, "x", 2)]
    engine.sql("drop table mixok2")


@pytest.mark.parametrize("text", [
    "insert into mixdst select * from mixsrc",
    "with c as (select * from mixsrc) insert into mixdst select * from c",
])
def test_insert_reads_a_mixed_source_through_its_dispatch(engine, avro_dir,
                                                          text):
    # an INSERT's sources read every partition, the overridden Avro one
    # too; its target is the catalog table
    _fresh(engine, "mixsrc", "int")
    engine.sql(f"alter table mixsrc partition (p=2) "
               f"set location '{avro_dir}'")
    engine.sql("drop table if exists mixdst")
    engine.sql("create table mixdst (i int, t int, s string, p int) "
               "stored as parquet")
    assert engine.sql(text).collect()[0][0] == ": 2"
    assert sorted(tuple(r) for r in
                  engine.sql("select * from mixdst").collect()) == [
        (1, 2, "a", 1), (9, 9, "x", 2)]
    engine.sql("insert into mixsrc partition (p=1) values (3, 4, 'b')")
    assert sorted(tuple(r) for r in
                  engine.sql("select * from mixsrc").collect()) == [
        (1, 2, "a", 1), (3, 4, "b", 1), (9, 9, "x", 2)]
    engine.sql("drop table mixdst")
    engine.sql("drop table mixsrc")
