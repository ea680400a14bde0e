"""The write-path statements without redundant Spark jobs.

- COMPUTE STATS is one aggregate grouped by (partition keys) and ():
  its per-partition #Rows equal plain GROUP BY counts (a NULL
  partition and a listed empty partition included) for full,
  partition-scoped, incremental and ACID computes, and its default
  NDV is `approx_count_distinct(c, 0.04)`: the reference's
  precision-10 HLL.
- `partitions.partition_columns` reads the partition keys from the
  session catalog's table metadata: the catalog API's names, no job.
- A partitioned INSERT and a COMPUTE STATS each run at most half the
  jobs they ran when partition keys came from the catalog API's
  column listing, COMPUTE STATS counted partitions in a second scan
  and the INSERT summary was sorted on the cluster.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.errors import AnalysisException

from incubator_impala_spark import partitions

_ACID = ("TBLPROPERTIES ('transactional'='true', "
         "'transactional_properties'='insert_only')")


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    return Engine(spark)


def _recreate(eng, tbl: str, ddl: str) -> None:
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(f"CREATE TABLE {tbl} {ddl}")


def _part_rows(eng, tbl: str) -> dict:
    """SHOW PARTITIONS #Rows of a table partitioned by `y`, by value."""
    return {r["y"]: r["#Rows"]
            for r in eng.sql(f"SHOW PARTITIONS {tbl}").collect()}


def _group_by(eng, tbl: str) -> dict:
    """Plain GROUP BY counts of `tbl` by `y`, spelled as SHOW
    PARTITIONS spells the keys."""
    return {"NULL" if r[0] is None else str(r[0]): r[1] for r in
            eng.sql(f"SELECT y, count(*) FROM {tbl} GROUP BY y").collect()}


def _ndv(eng, tbl: str, col: str) -> int:
    return next(r["#Distinct Values"]
                for r in eng.sql(f"SHOW COLUMN STATS {tbl}").collect()
                if r["Column"] == col)


def _jobs(spark, fn) -> tuple:
    """`fn()` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"load-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one statement")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_compute_partition_rows_match_group_by(eng):
    _recreate(eng, "lp_full", "(x INT) PARTITIONED BY (y INT) "
                              "STORED AS PARQUET")
    eng.sql("INSERT INTO lp_full PARTITION (y) VALUES "
            "(1, 1), (2, 1), (3, 2), (4, NULL), (5, NULL), (6, NULL)")
    eng.sql("ALTER TABLE lp_full ADD PARTITION (y=9)")
    eng.sql("COMPUTE STATS lp_full")
    rows = _part_rows(eng, "lp_full")
    want = _group_by(eng, "lp_full")
    assert want == {"1": 2, "2": 1, "NULL": 3}
    # the listed partition with no rows records 0, not 'unset' (-1)
    assert rows == {**want, "9": 0, "Total": 6}
    eng.sql("DROP TABLE lp_full")


def test_partition_scoped_and_incremental_rows_match_group_by(eng):
    _recreate(eng, "lp_inc", "(x INT) PARTITIONED BY (y INT) "
                             "STORED AS PARQUET")
    eng.sql("INSERT INTO lp_inc PARTITION (y) VALUES "
            "(1, 1), (2, 1), (3, 2), (4, NULL)")
    eng.sql("COMPUTE INCREMENTAL STATS lp_inc PARTITION (y=1)")
    rows = _part_rows(eng, "lp_inc")
    assert rows == {"1": 2, "2": -1, "NULL": -1, "Total": 2}
    # a partition-scoped compute fills no table-level column stats
    assert _ndv(eng, "lp_inc", "x") == 2
    eng.sql("COMPUTE INCREMENTAL STATS lp_inc PARTITION (y IS NULL)")
    assert _part_rows(eng, "lp_inc")["NULL"] == 1
    # an incremental re-run counts the partitions a later insert made
    eng.sql("INSERT INTO lp_inc PARTITION (y) VALUES (5, 3), (6, 3)")
    eng.sql("COMPUTE INCREMENTAL STATS lp_inc")
    rows = _part_rows(eng, "lp_inc")
    assert rows == {**_group_by(eng, "lp_inc"), "Total": 6}
    eng.sql("DROP TABLE lp_inc")


def test_acid_partition_rows_match_group_by(eng):
    _recreate(eng, "lp_acid", "(x INT) PARTITIONED BY (y STRING) "
                              f"STORED AS PARQUET {_ACID}")
    eng.sql("INSERT INTO lp_acid PARTITION (y) VALUES "
            "(1, 'a'), (2, 'a'), (3, 'b c'), (4, NULL)")
    eng.sql("COMPUTE STATS lp_acid")
    rows = _part_rows(eng, "lp_acid")
    want = _group_by(eng, "lp_acid")
    assert want == {"a": 2, "b c": 1, "NULL": 1}
    assert rows == {**want, "Total": 4}
    eng.sql("DROP TABLE lp_acid")


def test_default_ndv_is_precision_10_hll(eng):
    """The table-level NDV of a partitioned compute is Spark's HLL++
    at rsd 0.04 (p = ceil(2·log2(1.106/0.04)) = 10) over the same
    rows; at rsd 0.023 (p=12) the estimate differs."""
    _recreate(eng, "lp_ndv", "(x BIGINT, s STRING) PARTITIONED BY (y INT) "
                             "STORED AS PARQUET")
    eng.sql("INSERT INTO lp_ndv PARTITION (y) SELECT id % 5000 * 7919, "
            "CAST(id % 3000 AS STRING), id % 4 FROM range(20000)")
    eng.sql("COMPUTE STATS lp_ndv")
    for col in ("x", "s"):
        p10, p12 = eng.spark.sql(
            f"SELECT approx_count_distinct({col}, 0.04), "
            f"approx_count_distinct({col}, 0.023) FROM lp_ndv").first()
        assert p10 != p12 and p10 < 20000
        assert _ndv(eng, "lp_ndv", col) == p10
    eng.sql("DROP TABLE lp_ndv")


def test_partition_columns_match_the_catalog_listing(eng, spark):
    _recreate(eng, "lp_keys", "(x INT) PARTITIONED BY (b STRING, a INT, "
                              "c DATE) STORED AS PARQUET")
    listed = [c.name for c in spark.catalog.listColumns("lp_keys")
              if c.isPartition]
    (got, jobs) = _jobs(spark, lambda: partitions.partition_columns(
        eng, "lp_keys"))
    assert got == listed == ["b", "a", "c"]
    assert jobs == 0
    for spelling in ("default.lp_keys", "`lp_keys`", "LP_KEYS",
                     "spark_catalog.default.lp_keys"):
        assert partitions.partition_columns(eng, spelling) == listed
    eng.sql("DROP TABLE lp_keys")


def test_partition_columns_of_views_and_missing_tables(eng, spark):
    spark.sql("CREATE OR REPLACE TEMP VIEW lp_view AS SELECT 1 AS y")
    assert partitions.partition_columns(eng, "lp_view") == []
    spark.catalog.dropTempView("lp_view")
    with pytest.raises(AnalysisException):
        partitions.partition_columns(eng, "lp_no_such_table")


def test_insert_summary_sorts_like_spark(eng):
    """The per-partition INSERT summary, sorted on the driver, keeps
    Spark's ascending order: NULL first, NaN after every number."""
    _recreate(eng, "lp_sort", "(x INT) PARTITIONED BY (y DOUBLE) "
                              "STORED AS PARQUET")
    src = " UNION ALL ".join(
        f"SELECT {x} AS x, CAST({y} AS DOUBLE) AS y" for x, y in
        ((1, "'NaN'"), (2, 2.5), (3, "NULL"), (4, -1.5), (5, 2.5)))
    got = [r[0] for r in
           eng.sql(f"INSERT INTO lp_sort PARTITION (y) {src}").collect()]
    want = [r[0] for r in eng.spark.sql(
        f"SELECT y FROM ({src}) GROUP BY y ORDER BY y").collect()]
    assert len(got) == len(want) == 4
    assert got[0].startswith("y=__HIVE_DEFAULT_PARTITION__/")
    assert got[-1] == "y=NaN/: 1"
    assert [g.split("/")[0] for g in got[1:3]] == ["y=-1.5", "y=2.5"]
    assert want[0] is None and want[-1] != want[-1]
    eng.sql("DROP TABLE lp_sort")


def test_partitioned_insert_and_compute_stats_job_counts(engine, spark):
    """A partitioned INSERT ran 7 jobs and its COMPUTE STATS 8; each
    now runs at most half of that."""
    engine.sql("DROP TABLE IF EXISTS lp_jobs")
    engine.sql("CREATE TABLE lp_jobs (k BIGINT, q DOUBLE, s STRING) "
               "PARTITIONED BY (f STRING) STORED AS PARQUET")
    insert = ("INSERT INTO lp_jobs PARTITION (f) SELECT l_orderkey, "
              "l_quantity, l_linestatus, l_returnflag FROM lineitem "
              "WHERE l_orderkey < 200")
    try:
        engine.sql(insert)
        summary, jobs = _jobs(spark, lambda: engine.sql(insert).collect())
        assert [r[0].split("/")[0] for r in summary] == [
            "f=A", "f=N", "f=R"]
        assert jobs <= 3
        done, jobs = _jobs(
            spark, lambda: engine.sql("COMPUTE STATS lp_jobs").collect())
        assert done[0][0] == "Updated 3 partition(s) and 3 column(s)."
        assert jobs <= 4
    finally:
        engine.sql("DROP TABLE IF EXISTS lp_jobs")
