"""DML/DDL surface tests (SURVEY.md §2.13 / build plan M4): CTAS,
INSERT INTO / INSERT OVERWRITE PARTITION with dynamic-partition
semantics, clustered partitioned writes, COMPUTE STATS → ANALYZE, and
partition pruning on the written layout — the reference's
HdfsTableSink + catalog statements (CreateTableAsSelectStmt.java,
ComputeStatsStmt.java, HdfsPartitionPruner.java) re-expressed on
Spark's catalog."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def db(spark, tmp_path):
    name = "ddl_test_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{tmp_path}/wh'")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _lineitem(spark):
    from incubator_impala_spark.sources.tables import load_table

    return load_table(spark, SF_SMALL, "lineitem")


def test_ctas_roundtrip(spark, db):
    _lineitem(spark).createOrReplaceTempView("li_src")
    spark.sql(
        f"CREATE TABLE {db}.li_small AS "
        "SELECT l_orderkey, l_quantity, l_returnflag FROM li_src "
        "WHERE l_quantity < 10"
    )
    want = spark.table("li_src").where("l_quantity < 10").count()
    assert spark.table(f"{db}.li_small").count() == want
    cols = [f.name for f in spark.table(f"{db}.li_small").schema.fields]
    assert cols == ["l_orderkey", "l_quantity", "l_returnflag"]


def test_insert_into_appends(spark, db):
    spark.sql(f"CREATE TABLE {db}.t_app (k INT, v STRING)")
    spark.sql(f"INSERT INTO {db}.t_app VALUES (1, 'a'), (2, 'b')")
    spark.sql(f"INSERT INTO {db}.t_app VALUES (3, 'c')")
    assert spark.table(f"{db}.t_app").count() == 3


def test_insert_overwrite_dynamic_partitions(spark, db):
    """Impala INSERT OVERWRITE PARTITION replaces only the partitions
    present in the input — dynamic mode, not whole-table truncate."""
    from incubator_impala_spark.sources import sink

    sink.configure_dynamic_overwrite(spark)
    spark.sql(
        f"CREATE TABLE {db}.t_part (v STRING) PARTITIONED BY (p INT)"
    )
    spark.sql(f"INSERT INTO {db}.t_part PARTITION(p=1) VALUES ('one')")
    spark.sql(f"INSERT INTO {db}.t_part PARTITION(p=2) VALUES ('two')")
    # overwrite only p=2
    spark.sql(f"INSERT OVERWRITE TABLE {db}.t_part PARTITION(p=2) VALUES ('TWO')")
    rows = {(r.p, r.v) for r in spark.table(f"{db}.t_part").collect()}
    assert rows == {(1, "one"), (2, "TWO")}


def test_partitioned_clustered_write_and_pruning(spark, tmp_path):
    """write_partitioned lays out partition dirs; a filtered read must
    prune partitions (the reference's HdfsPartitionPruner.java:80 —
    on Spark, PartitionFilters in the scan node)."""
    from incubator_impala_spark.sources import sink

    li = _lineitem(spark)
    path = f"{tmp_path}/li_by_flag"
    sink.write_partitioned(
        li, path, partition_cols=["l_returnflag"], clustered_by=["l_shipdate"]
    )
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    plan = back.where("l_returnflag = 'R'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:200]
    want = li.where("l_returnflag = 'R'").count()
    assert back.where("l_returnflag = 'R'").count() == want


def test_compute_stats_feeds_cbo(spark, db, engine):
    """COMPUTE STATS (Impala spelling) must run through the dialect as
    ANALYZE TABLE and make row counts visible to the optimizer."""
    _lineitem(spark).createOrReplaceTempView("li_src")
    spark.sql(f"CREATE TABLE {db}.t_stats AS SELECT * FROM li_src")
    out = engine.translate(f"COMPUTE STATS {db}.t_stats")
    assert out == (
        f"ANALYZE TABLE {db}.t_stats COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    engine.sql(f"COMPUTE STATS {db}.t_stats").collect()
    desc = spark.sql(f"DESC EXTENDED {db}.t_stats").collect()
    stats = [r for r in desc if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0].data_type


def test_show_and_describe(spark, db):
    spark.sql(f"CREATE TABLE {db}.t_show (a INT, b STRING)")
    tables = {r.tableName for r in spark.sql(f"SHOW TABLES IN {db}").collect()}
    assert "t_show" in tables
    cols = {r.col_name for r in spark.sql(f"DESCRIBE {db}.t_show").collect()}
    assert {"a", "b"} <= cols


def test_compact_small_files(spark, tmp_path):
    """200 tiny files -> a handful of right-sized ones, same rows."""
    from incubator_impala_spark.sources.sink import compact_small_files

    li = _lineitem(spark)
    path = f"{tmp_path}/fragmented"
    li.repartition(200).write.parquet(path)
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 200
    want = li.count()
    n = compact_small_files(spark, path, target_file_mb=128)
    got_files = glob.glob(f"{path}/*.parquet")
    assert len(got_files) == n <= 4
    assert spark.read.parquet(path).count() == want


# ---------------------------------------------------------------------------
# Function DDL surface (reference: CreateUdfStmt.java, CreateUdaStmt,
# ShowFunctionsStmt, DropFunctionStmt; grammar sql-parser.cup
# create_udf_stmt) — SQL-created functions, listed and dropped in SQL.
# ---------------------------------------------------------------------------


def test_create_function_ddl_translation(engine):
    out = engine.translate(
        "CREATE FUNCTION my_fn(INT, STRING) RETURNS INT "
        "LOCATION '/does/not/exist.jar' SYMBOL='com.example.MyFn'"
    )
    assert out == "CREATE TEMPORARY FUNCTION my_fn AS 'com.example.MyFn'"
    out = engine.translate("SHOW AGGREGATE FUNCTIONS IN mydb 'ds_kll*'")
    # the db qualifier is kept (ADVICE r2: it was silently dropped)
    assert out == "SHOW USER FUNCTIONS IN mydb LIKE 'ds_kll*'"
    out = engine.translate("DROP FUNCTION IF EXISTS my_fn(INT, STRING)")
    assert out == "DROP TEMPORARY FUNCTION IF EXISTS my_fn"


def test_sql_function_lifecycle(engine):
    """Create in SQL, call in a query, SHOW lists it, DROP removes it."""
    engine.sql(
        "CREATE TEMPORARY FUNCTION plus_two(x INT) RETURNS INT RETURN x + 2"
    )
    assert engine.sql("SELECT plus_two(40) AS v").collect()[0].v == 42
    listed = {r.function for r in engine.sql("SHOW FUNCTIONS 'plus*'").collect()}
    assert any("plus_two" in f for f in listed)
    engine.sql("DROP FUNCTION plus_two(INT)")
    listed = {r.function for r in engine.sql("SHOW FUNCTIONS 'plus*'").collect()}
    assert not any("plus_two" in f for f in listed)


def test_show_functions_lists_registered_udfs(engine):
    listed = {r.function for r in engine.sql("SHOW FUNCTIONS").collect()}
    joined = ",".join(listed)
    assert "fnv_hash" in joined and "ds_hll_stringify_impl" in joined


def test_hive_java_udf_call_through():
    """End-to-end Hive GenericUDF via the Impala CREATE FUNCTION form.

    Needs spark.sql.catalogImplementation=hive at session build, which
    can't be flipped on the shared test session — run in a subprocess
    JVM (the reference's equivalent needs a whole cluster; ours needs
    a second JVM)."""
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from incubator_impala_spark.statements import translate_statement
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.catalogImplementation", "hive")
         .config("spark.sql.warehouse.dir", "/tmp/hive_udf_wh")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
stmt = translate_statement(
    "CREATE FUNCTION hive_upper LOCATION '' "
    "SYMBOL='org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'")
assert stmt == "CREATE TEMPORARY FUNCTION hive_upper AS " \\
    "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'", stmt
spark.sql(stmt)
assert spark.sql("SELECT hive_upper('abc') AS v").collect()[0].v == "ABC"
spark.sql(translate_statement("DROP FUNCTION hive_upper()"))
print("HIVE_UDF_OK")
"""
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, cwd="/tmp",
    )
    assert "HIVE_UDF_OK" in res.stdout, res.stderr[-2000:]


# ---------------------------------------------------------------------------
# LOAD DATA (LoadDataStmt.java) + ALTER TABLE ADD PARTITION
# (AlterTableAddPartitionStmt.java)
# ---------------------------------------------------------------------------


def test_load_data_into_partitioned_table(spark, engine, tmp_path):
    spark.sql("DROP TABLE IF EXISTS ld_pt")
    spark.sql(
        "CREATE TABLE ld_pt (x INT, p STRING) USING parquet PARTITIONED BY (p)"
    )
    try:
        import glob
        import os

        def stage(d):
            spark.range(5).selectExpr("CAST(id AS INT) AS x") \
                .coalesce(1).write.mode("overwrite").parquet(d)
            return d

        staged = stage(str(tmp_path / "staged"))
        engine.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE ld_pt PARTITION (p='a')")
        assert spark.table("ld_pt").where("p = 'a'").count() == 5
        # LOAD DATA *moves* files (LoadDataStmt.java) — the source is
        # drained, so appending needs a fresh staging copy
        assert not glob.glob(os.path.join(staged, "*.parquet"))
        stage(staged)
        engine.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE ld_pt PARTITION (p='a')")
        assert spark.table("ld_pt").where("p = 'a'").count() == 10
        # second partition untouched by the overwrite of 'a'
        stage(staged)
        engine.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE ld_pt PARTITION (p='b')")
        stage(staged)
        engine.sql(
            f"LOAD DATA INPATH '{staged}' OVERWRITE INTO TABLE ld_pt PARTITION (p='a')"
        )
        assert spark.table("ld_pt").where("p = 'a'").count() == 5
        assert spark.table("ld_pt").where("p = 'b'").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS ld_pt")


def test_load_data_unpartitioned(spark, engine, tmp_path):
    spark.sql("DROP TABLE IF EXISTS ld_flat")
    spark.sql("CREATE TABLE ld_flat (x INT) USING parquet")
    try:
        staged = str(tmp_path / "flat")
        spark.range(7).selectExpr("CAST(id AS INT) AS x").write.parquet(staged)
        engine.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE ld_flat")
        assert spark.table("ld_flat").count() == 7
    finally:
        spark.sql("DROP TABLE IF EXISTS ld_flat")


def test_partition_spec_folds_constant_expressions(spark, engine, tmp_path):
    """A partition spec value may be a constant expression
    (PartitionSpec): LOAD DATA and ADD PARTITION of an Avro-registered
    table fold it to its value; a key with no value is an error."""
    from incubator_impala_spark import avro_stale

    spark.sql("DROP TABLE IF EXISTS ld_fold")
    spark.sql("CREATE TABLE ld_fold (x INT, p STRING) USING parquet "
              "PARTITIONED BY (p)")
    try:
        staged = str(tmp_path / "fold")
        spark.range(3).selectExpr("CAST(id AS INT) AS x").write.parquet(staged)
        engine.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE ld_fold "
                   "PARTITION (p=1+1)")
        assert [tuple(r) for r in spark.sql(
            "SELECT p, count(*) FROM ld_fold GROUP BY p").collect()] == [
            ("2", 3)]
        schema = tmp_path / "av.json"
        schema.write_text('{"type": "record", "name": "r", "fields": '
                          '[{"name": "a", "type": "int"}]}')
        engine.sql("CREATE TABLE ld_av (a INT) PARTITIONED BY (y INT) "
                   f"TBLPROPERTIES ('avro.schema.url'='{schema}')")
        engine.sql("ALTER TABLE ld_av ADD PARTITION (y=1+1) "
                   f"LOCATION '{tmp_path}/y2'")
        info = engine.avro_stale[avro_stale._key("ld_av")]
        assert info["partitions"] == [({"y": "2"}, f"{tmp_path}/y2")]
        with pytest.raises(ValueError, match="no value for partition key"):
            engine.sql("ALTER TABLE ld_av ADD PARTITION (y)")
    finally:
        spark.sql("DROP TABLE IF EXISTS ld_fold")
        engine.avro_stale.pop(avro_stale._key("ld_av"), None)


def test_alter_table_add_partition_visibility(spark, engine):
    spark.sql("DROP TABLE IF EXISTS ap_pt")
    spark.sql(
        "CREATE TABLE ap_pt (x INT, p STRING) USING parquet PARTITIONED BY (p)"
    )
    try:
        # engine SHOW PARTITIONS speaks Impala's listing (partitions.py):
        # one row per partition keyed by the partition columns + a
        # 'Total' row
        engine.sql("ALTER TABLE ap_pt ADD IF NOT EXISTS PARTITION (p='z')")
        parts = {r.p for r in engine.sql("SHOW PARTITIONS ap_pt").collect()
                 if r.p != "Total"}
        assert "z" in parts
        engine.sql("ALTER TABLE ap_pt DROP IF EXISTS PARTITION (p='z')")
        parts = {r.p for r in engine.sql("SHOW PARTITIONS ap_pt").collect()
                 if r.p != "Total"}
        assert "z" not in parts
    finally:
        spark.sql("DROP TABLE IF EXISTS ap_pt")


# ---------------------------------------------------------------------------
# Broad DDL/admin statement surface (reference: 57 analysis classes in
# fe/.../analysis/ — the high-frequency ones exercised end-to-end)
# ---------------------------------------------------------------------------


def test_admin_statement_translations(engine):
    assert engine.translate("REFRESH my_t") == "REFRESH TABLE my_t"
    assert engine.translate("INVALIDATE METADATA my_t") == "REFRESH TABLE my_t"
    assert (
        engine.translate("DESCRIBE FORMATTED my_t")
        == "DESCRIBE TABLE EXTENDED my_t"
    )
    assert (
        engine.translate("SHOW TABLE STATS my_t")
        == "DESCRIBE TABLE EXTENDED my_t"
    )
    assert (
        engine.translate("SHOW COLUMN STATS my_t")
        == "DESCRIBE TABLE EXTENDED my_t"
    )


def test_alter_table_breadth(spark, engine):
    """ALTER TABLE RENAME / ADD COLUMNS / SET TBLPROPERTIES — the
    reference's AlterTable* analysis classes on Spark-native DDL."""
    spark.sql("DROP TABLE IF EXISTS alt_a")
    spark.sql("DROP TABLE IF EXISTS alt_b")
    spark.sql("CREATE TABLE alt_a (x INT) USING parquet")
    try:
        engine.sql("ALTER TABLE alt_a ADD COLUMNS (y STRING)")
        assert [f.name for f in spark.table("alt_a").schema.fields] == ["x", "y"]
        engine.sql("ALTER TABLE alt_a SET TBLPROPERTIES ('owner_team'='data')")
        tbl = engine.sql("SHOW TBLPROPERTIES alt_a").collect()
        assert any(r.key == "owner_team" and r.value == "data" for r in tbl)
        engine.sql("ALTER TABLE alt_a RENAME TO alt_b")
        assert spark.catalog.tableExists("alt_b")
        assert not spark.catalog.tableExists("alt_a")
    finally:
        spark.sql("DROP TABLE IF EXISTS alt_a")
        spark.sql("DROP TABLE IF EXISTS alt_b")


def test_view_lifecycle_and_show_create(spark, engine):
    spark.sql("DROP VIEW IF EXISTS v_nations")
    from tests.conftest import SF_SMALL

    from incubator_impala_spark.sources.tables import load_table

    load_table(spark, SF_SMALL, "nation").createOrReplaceTempView("nation")
    # a persistent view can't reference a temp view — Impala's CREATE
    # VIEW over catalog tables maps to the TEMPORARY form here
    engine.sql(
        "CREATE TEMPORARY VIEW v_nations AS "
        "SELECT n_name FROM nation WHERE n_regionkey = 0"
    )
    try:
        assert engine.sql("SELECT count(*) AS n FROM v_nations").collect()[0].n == 5
        cols = [f.name for f in engine.sql("SELECT * FROM v_nations").schema.fields]
        assert cols == ["n_name"]
    finally:
        engine.sql("DROP VIEW IF EXISTS v_nations")


def test_database_lifecycle(spark, engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS scratch_db")
    try:
        # Impala SHOW output shape (ShowDbsStmt/ShowTablesStmt):
        # one `name` column, not Spark's namespace/tableName
        dbs = {r.name for r in engine.sql("SHOW DATABASES").collect()}
        assert "scratch_db" in dbs
        engine.sql("CREATE TABLE scratch_db.t1 (x INT) USING parquet")
        tbls = {
            r.name for r in engine.sql("SHOW TABLES IN scratch_db").collect()
        }
        assert "t1" in tbls
        engine.sql("TRUNCATE TABLE scratch_db.t1")
        assert engine.sql("SELECT * FROM scratch_db.t1").count() == 0
    finally:
        engine.sql("DROP DATABASE IF EXISTS scratch_db CASCADE")


def test_refresh_and_comment(spark, engine, tmp_path):
    spark.sql("DROP TABLE IF EXISTS rf_t")
    spark.sql("CREATE TABLE rf_t (x INT) USING parquet")
    try:
        engine.sql("REFRESH rf_t")  # Impala spelling, no error
        engine.sql("COMMENT ON TABLE rf_t IS 'scratch table'")
        detail = engine.sql("DESCRIBE FORMATTED rf_t").collect()
        assert any(
            r.col_name == "Comment" and "scratch" in r.data_type for r in detail
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS rf_t")


def test_grant_revoke_lifecycle(engine):
    """GRANT/REVOKE veneer (GrantRevokeRoleStmt.java,
    GrantRevokePrivStmt.java, ShowGrantPrincipalStmt.java): parse,
    record in-memory, answer SHOW from the record. No enforcement
    exists in this environment (no auth service) — documented."""
    eng = engine
    eng.sql("CREATE ROLE analyst")
    eng.sql("CREATE ROLE admin_r")
    assert [r.role_name for r in eng.sql("SHOW ROLES").collect()] == [
        "admin_r", "analyst",
    ]
    eng.sql("GRANT ROLE analyst TO GROUP data_eng")
    assert [r.role_name for r in
            eng.sql("SHOW ROLE GRANT GROUP data_eng").collect()] == ["analyst"]
    eng.sql("GRANT SELECT ON TABLE lineitem TO ROLE analyst")
    eng.sql("GRANT INSERT ON DATABASE default TO analyst WITH GRANT OPTION")
    rows = eng.sql("SHOW GRANT ROLE analyst").collect()
    assert {(r.scope, r.name, r.privilege, r.grant_option) for r in rows} == {
        ("table", "lineitem", "select", False),
        ("database", "default", "insert", True),
    }
    # group principals resolve through membership
    via_group = eng.sql("SHOW GRANT GROUP data_eng").collect()
    assert {r.privilege for r in via_group} == {"select", "insert"}
    # ON-object filter
    only_tbl = eng.sql("SHOW GRANT ROLE analyst ON TABLE lineitem").collect()
    assert len(only_tbl) == 1 and only_tbl[0].privilege == "select"
    eng.sql("REVOKE SELECT ON TABLE lineitem FROM ROLE analyst")
    assert len(eng.sql("SHOW GRANT ROLE analyst").collect()) == 1
    eng.sql("DROP ROLE analyst")
    assert [r.role_name for r in eng.sql("SHOW ROLES").collect()] == ["admin_r"]
    assert eng.sql("SHOW GRANT GROUP data_eng").collect() == []


def test_show_grant_on_server_filters_to_server_scope(engine):
    """`SHOW GRANT ... ON SERVER` with no server name must restrict to
    server-scope grants (default server1, matching GRANT's default) —
    not fall through to all scopes (ADVICE r3)."""
    eng = engine
    eng.sql("CREATE ROLE srv_role")
    try:
        eng.sql("GRANT ALL ON SERVER TO ROLE srv_role")
        eng.sql("GRANT SELECT ON TABLE lineitem TO ROLE srv_role")
        rows = eng.sql("SHOW GRANT ROLE srv_role ON SERVER").collect()
        assert [(r.scope, r.name, r.privilege) for r in rows] == [
            ("server", "server1", "all")
        ]
        named = eng.sql("SHOW GRANT ROLE srv_role ON SERVER server1").collect()
        assert [(r.scope, r.name) for r in named] == [("server", "server1")]
    finally:
        eng.sql("DROP ROLE srv_role")


def test_grant_to_unknown_role_raises(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="role does not exist"):
        engine.sql("GRANT SELECT ON TABLE lineitem TO ROLE nonexistent_role")


# ---------------------------------------------------------------------------
# SHOW COLUMN STATS + ALTER TABLE SET COLUMN STATS
# (AlterTableSetColumnStats.java; alter-table-set-column-stats.test)
# ---------------------------------------------------------------------------


def test_set_and_show_column_stats(spark, engine):
    spark.sql("DROP TABLE IF EXISTS colstats_t")
    spark.sql("CREATE TABLE colstats_t (i INT, s STRING, b BOOLEAN) "
              "USING parquet")
    try:
        rows = {r["Column"]: r for r in
                engine.sql("show column stats colstats_t").collect()}
        # fixed-width sizes come from the type; counts unknown
        assert rows["i"]["Max Size"] == 4 and rows["i"]["#Distinct Values"] == -1
        assert rows["s"]["Max Size"] == -1
        assert rows["b"]["Avg Size"] == 1.0
        engine.sql("alter table colstats_t set column stats i "
                   "('numDVs'='100','numNulls'='20')")
        engine.sql("alter table colstats_t set column stats s "
                   "('maxSize'='555','avgSize'='60')")
        rows = {r["Column"]: r for r in
                engine.sql("show column stats colstats_t").collect()}
        assert rows["i"]["#Distinct Values"] == 100
        assert rows["i"]["#Nulls"] == 20
        assert rows["s"]["Max Size"] == 555 and rows["s"]["Avg Size"] == 60.0
        # -1 resets to unknown
        engine.sql("alter table colstats_t set column stats i "
                   "('numDVs'='-1','numNulls'='-1')")
        rows = {r["Column"]: r for r in
                engine.sql("show column stats colstats_t").collect()}
        assert rows["i"]["#Distinct Values"] == -1
    finally:
        spark.sql("DROP TABLE IF EXISTS colstats_t")


def test_show_table_stats_and_files(spark, engine):
    """SHOW TABLE STATS / SHOW FILES (partitions.py): partitioned
    tables get the Impala partition listing + Total row; unpartitioned
    tables one summary row; SHOW FILES lists per-partition files."""
    spark.sql("DROP TABLE IF EXISTS tstats_p")
    engine.sql("create table tstats_p (i int) partitioned by (p int) "
               "stored as textfile")
    try:
        engine.sql("insert into tstats_p partition (p=1) values (10)")
        engine.sql("insert into tstats_p partition (p=2) values (20)")
        rows = engine.sql("show table stats tstats_p").collect()
        assert [r.p for r in rows] == ["1", "2", "Total"]
        assert rows[0]["#Files"] == 1 and rows[2]["#Files"] == 2
        # compute stats records the table row count on the Total row
        engine.sql("compute incremental stats tstats_p partition (p>0)")
        rows = engine.sql("show table stats tstats_p").collect()
        assert rows[2]["#Rows"] == 2
        files = engine.sql("show files in tstats_p "
                           "partition (p=1)").collect()
        assert len(files) == 1 and files[0].Partition == "p=1"
    finally:
        spark.sql("DROP TABLE IF EXISTS tstats_p")


def test_default_text_table_empty_string_roundtrip(engine):
    """ADVICE r8: Impala text semantics keep '' distinct from \\N —
    the generated csv OPTIONS need emptyValue so Spark's csv reader
    doesn't fold inserted empty strings to NULL."""
    eng = engine
    eng.sql("DROP TABLE IF EXISTS txt_empty_rt")
    eng.sql("CREATE TABLE txt_empty_rt (id INT, s STRING)")
    eng.sql("INSERT INTO txt_empty_rt VALUES (1, ''), (2, NULL), "
            "(3, 'x')")
    rows = {r["id"]: r["s"]
            for r in eng.sql("SELECT id, s FROM txt_empty_rt")
            .collect()}
    assert rows[1] == "", f"empty string became {rows[1]!r}"
    assert rows[2] is None
    assert rows[3] == "x"
    eng.sql("DROP TABLE txt_empty_rt")


def test_incremental_colstats_null_partition_cover(engine):
    """ADVICE r8: the incremental-colstats cover predicate must treat
    the __HIVE_DEFAULT_PARTITION__ directory as `col IS NULL` (and
    unescape URL-escaped values) instead of silently dropping those
    partitions from the merge."""
    eng = engine
    eng.sql("DROP TABLE IF EXISTS inc_null_part")
    eng.sql("CREATE TABLE inc_null_part (v INT) PARTITIONED BY "
            "(p STRING) STORED AS PARQUET")
    eng.sql("INSERT INTO inc_null_part PARTITION(p='a') VALUES (1)")
    eng.sql("INSERT INTO inc_null_part PARTITION(p='b c') VALUES (2)")
    eng.sql("INSERT INTO inc_null_part PARTITION(p) "
            "SELECT 3, CAST(NULL AS STRING)")
    eng.sql("COMPUTE INCREMENTAL STATS inc_null_part")
    # drop one partition's stats: merged colstats recompute over the
    # remaining cover, which includes the NULL and escaped partitions
    eng.sql("DROP INCREMENTAL STATS inc_null_part PARTITION (p='a')")
    stats = {r["Column"]: r for r in
             eng.sql("SHOW COLUMN STATS inc_null_part").collect()}
    # v values 2 and 3 remain in the cover -> NDV 2, not 1
    assert stats["v"]["#Distinct Values"] == 2, dict(stats["v"].asDict())
    eng.sql("DROP TABLE inc_null_part")
