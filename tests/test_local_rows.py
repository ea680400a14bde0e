"""Driver-built result rows (`session.rows_df`).

The reference answers DDL and DML summaries from the coordinator and
the catalog, without running a query fragment (Impala, CIDR 2015).
Here those rows go to the JVM as one Arrow table: the DataFrame must
equal what `createDataFrame` over the same Python list gives, plan as
a LocalRelation, and collect without starting a Spark job."""

from __future__ import annotations

import datetime as dt
import time
import uuid
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DecimalType, StringType, StructField, StructType,
)

from incubator_impala_spark.session import rows_df

SCHEMA = ("s string, i int, b bigint, d double, f boolean, "
          "m decimal(15,2), dt date, ts timestamp, a array<string>, "
          "`#Rows` bigint")
ROWS = [
    ("x", 1, 2 ** 40, 1.5, True, Decimal("12.30"), dt.date(1400, 3, 1),
     dt.datetime(1500, 1, 2, 3, 4, 5, 6), ["p", None], 7),
    (None,) * 10,
    ("", -2 ** 31, -2 ** 63, -0.0, False, Decimal("-0.01"),
     dt.date(9999, 12, 31), dt.datetime(2020, 3, 8, 2, 30), [], None),
]
# a StructType schema keeps its nullability; decimal(38,38) holds the
# smallest value at its declared scale
STRUCT = StructType([StructField("k", StringType(), False),
                     StructField("v", DecimalType(38, 38))])
STRUCT_ROWS = [("a", Decimal("1E-38")), ("b", None)]


@pytest.fixture()
def utc_process(monkeypatch):
    """The list path reads naive datetimes in the process time zone,
    `rows_df` as UTC (the session time zone): compare in a UTC
    process."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("rows,schema", [
    (ROWS, SCHEMA), ([], SCHEMA), (STRUCT_ROWS, STRUCT), ([], STRUCT),
], ids=["ddl", "ddl-empty", "struct", "struct-empty"])
def test_rows_df_matches_list_path(spark, utc_process, rows, schema):
    got = rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # select("*") re-reads each schema from the JVM plan
    assert got.select("*").schema == want.select("*").schema
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_rows_df_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        rows_df(spark, [("a", 1), ("b",)], "s string, i int")
    with pytest.raises(ValueError):
        rows_df(spark, [("a",)], "s string, i int")


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName()


def _jobs_to_collect(spark, df) -> tuple[list, int]:
    sc = spark.sparkContext
    group = f"local-rows-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect a driver-built result")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ddl_dml_summaries_collect_without_a_job(spark, engine):
    """The DDL/DML session of the benchmark's load half: every summary
    plans as a LocalRelation and its collect starts no Spark job."""
    db = "local_rows_db"
    src = ("SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem "
           "WHERE l_orderkey < 200")
    n_src = engine.sql(f"SELECT count(*) FROM ({src}) s").collect()[0][0]
    per_flag = engine.sql(f"SELECT l_returnflag, count(*) FROM ({src}) s "
                          "GROUP BY 1 ORDER BY 1").collect()
    created = [("Table has been created.",)]
    stmts = [
        (f"CREATE DATABASE {db}", [("Database has been created.",)]),
        (f"CREATE TABLE {db}.part (k BIGINT, q DOUBLE) "
         "PARTITIONED BY (f STRING) STORED AS PARQUET", created),
        (f"CREATE TABLE {db}.flat (k BIGINT, q DOUBLE) STORED AS PARQUET",
         created),
        (f"CREATE TABLE {db}.acid (k BIGINT, q DOUBLE) STORED AS PARQUET "
         "TBLPROPERTIES ('transactional'='true', "
         "'transactional_properties'='insert_only')", created),
        (f"INSERT INTO {db}.part PARTITION (f) {src}",
         [(f"f={f}/: {n}",) for f, n in per_flag]),
        (f"INSERT INTO {db}.flat SELECT l_orderkey, l_quantity "
         f"FROM ({src}) s", [(f": {n_src}",)]),
        (f"INSERT INTO {db}.acid SELECT l_orderkey, l_quantity "
         f"FROM ({src}) s", [(f"Inserted {n_src} row(s)",)]),
        (f"COMPUTE STATS {db}.part",
         [(f"Updated {len(per_flag)} partition(s) and 2 column(s).",)]),
        (f"SHOW TABLES IN {db}", [("acid",), ("flat",), ("part",)]),
    ]
    try:
        for text, want in stmts:
            df = engine.sql(text)
            assert _plan_node(df) == "LocalRelation", text
            rows, jobs = _jobs_to_collect(spark, df)
            assert jobs == 0, text
            assert [tuple(r) for r in rows] == want, text
    finally:
        engine.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
