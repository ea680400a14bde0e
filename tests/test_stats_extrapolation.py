"""Stats-extrapolation + round-9 scan-error surfaces, pinned directly
(the functional files exercise them through the harness; these tests
pin the formulas and contracts without it).

Reference parity points:
- FeFsTable.Utils.getExtrapolatedNumRows (FeFsTable.java:339):
  max(1, round(bytes * rows / totalSize)), 0 for empty, -1 unset.
- ComputeStatsStmt on an extrapolation-enabled table updates only the
  table-level row count ("Updated 1 partition(s)").
- scan_errors.check_magic: PARQUET_BAD_VERSION_NUMBER
  (generate_error_codes.py:195) on a non-PAR1 footer, unmaskable.
- hdfs-plugin-text-scanner.cc:108 CheckPluginEnabled: plugin error
  fires exactly when partition pruning keeps the bad partition.
"""

from __future__ import annotations

import os

import pytest

_BAD_MAGIC = "/root/reference/testdata/data/bad_magic_number.parquet"


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    return Engine(spark, sf_dir="/root/testdata/sf0.001")


def test_extrapolation_lifecycle(eng):
    eng.sql("drop table if exists xtst_extrap")
    eng.sql("create table xtst_extrap (i int) partitioned by (j int) "
            "stored as parquet")
    eng.sql('alter table xtst_extrap set tblproperties('
            '"impala.enable.stats.extrapolation"="true")')
    eng.sql("insert into xtst_extrap partition(j) "
            "select cast(id as int) i, cast(pmod(id, 3) as int) j "
            "from range(300)")
    # before compute: extrap column unset (-1)
    rows = {r["j"]: r for r in
            eng.sql("show table stats xtst_extrap").collect()
            if r["j"] != "Total"}
    assert all(r["Extrap #Rows"] == -1 for r in rows.values())
    out = eng.sql("compute stats xtst_extrap").collect()[0][0]
    # table-level only: 1 partition updated, no per-partition #Rows
    assert out.startswith("Updated 1 partition(s)")
    listing = eng.sql("show table stats xtst_extrap").collect()
    parts = [r for r in listing if r["j"] != "Total"]
    total = [r for r in listing if r["j"] == "Total"][0]
    assert all(r["#Rows"] == -1 for r in parts)
    assert total["#Rows"] == 300
    assert total["Extrap #Rows"] == 300
    # extrapolated counts are bytes-proportional and sum ≈ total
    est = sum(r["Extrap #Rows"] for r in parts)
    assert abs(est - 300) <= len(parts), (est, parts)
    eng.sql("drop table xtst_extrap")


def test_extrapolation_formula_bounds(eng):
    """getExtrapolatedNumRows edges: 0 bytes -> 0, missing stats -> -1,
    small bytes -> floor at 1."""
    from incubator_impala_spark import partitions as _p  # noqa: F401

    eng.sql("drop table if exists xtst_extrap2")
    eng.sql("create table xtst_extrap2 (i int) partitioned by (j int) "
            "stored as parquet")
    eng.sql('alter table xtst_extrap2 set tblproperties('
            '"impala.enable.stats.extrapolation"="true")')
    eng.sql("alter table xtst_extrap2 add partition (j=1)")  # empty
    eng.sql("insert into xtst_extrap2 partition(j) values (1, 2)")
    eng.sql("compute stats xtst_extrap2")
    rows = {r["j"]: r["Extrap #Rows"] for r in
            eng.sql("show table stats xtst_extrap2").collect()}
    assert rows["1"] == 0          # empty partition: 0, not -1
    assert rows["2"] >= 1          # max(1, ...) floor
    # stored rows==0 with non-empty files: FeFsTable returns -1
    # ("unavailable"), not max(1, 0) == 1 (ADVICE r9)
    key = eng._stats_key("xtst_extrap2")
    eng.table_numrows[key] = 0
    rows0 = {r["j"]: r["Extrap #Rows"] for r in
             eng.sql("show table stats xtst_extrap2").collect()}
    assert rows0["2"] == -1, rows0
    assert rows0["1"] == 0         # empty partition still 0
    eng.sql("drop table xtst_extrap2")


def test_incremental_cover_lifecycle(eng):
    eng.sql("drop table if exists xtst_inc")
    eng.sql("create table xtst_inc (i int) partitioned by (j int)")
    eng.sql("insert into xtst_inc partition(j) values (1,1),(2,2)")

    def flags():
        return {r["j"]: r["Incremental stats"] for r in
                eng.sql("show partitions xtst_inc").collect()
                if r["j"] != "Total"}

    eng.sql("compute incremental stats xtst_inc")
    assert set(flags().values()) == {"true"}
    eng.sql("compute stats xtst_inc")          # full compute resets
    assert set(flags().values()) == {"false"}
    eng.sql("compute incremental stats xtst_inc partition (j=1)")
    assert flags() == {"1": "true", "2": "false"}
    eng.sql("drop incremental stats xtst_inc partition (j=1)")
    assert set(flags().values()) == {"false"}
    eng.sql("drop table xtst_inc")


@pytest.mark.skipif(not os.path.exists(_BAD_MAGIC),
                    reason="reference test data not present")
def test_bad_magic_always_aborts(eng, tmp_path):
    """IMPALA-7662 contract: the bad-magic error fires with
    ABORT_ON_ERROR unset, and an INSERTed valid file doesn't mask it."""
    import shutil

    from incubator_impala_spark import scan_errors as se

    loc = str(tmp_path / "bad_magic_t")
    os.makedirs(loc, exist_ok=True)
    shutil.copyfile(_BAD_MAGIC, os.path.join(loc, "bad_magic_number.parquet"))
    eng.sql("drop table if exists xtst_badmagic")
    eng.spark.sql(f"CREATE TABLE xtst_badmagic (s string) "
                  f"USING parquet LOCATION '{loc}'")
    se.register_magic_dir_check(eng, "xtst_badmagic", loc, "/tw/x")
    eng.abort_on_error = False
    eng.sql("INSERT INTO xtst_badmagic SELECT 'good'")
    with pytest.raises(se.ScanError,
                       match="invalid Parquet version number: XXXX"):
        eng.sql("SELECT * FROM xtst_badmagic")
    eng.scan_checks.pop("xtst_badmagic", None)
    eng.spark.sql("DROP TABLE xtst_badmagic")


def test_plugin_partition_pruning(eng):
    from incubator_impala_spark import scan_errors as se

    eng.spark.createDataFrame([(1, 1)], "i int, month int") \
        .createOrReplaceTempView("xtst_plug")
    se.register_partition_plugin_check(
        eng, "xtst_plug", [({"year": 2009, "month": 3}, "LZ4")])
    # pruned away: fine
    assert eng.sql(
        "select count(*) c from xtst_plug where month <= 2"
    ).collect()[0][0] == 1
    # not pruned: the reference's CheckPluginEnabled error
    with pytest.raises(se.ScanError, match="Scanner plugin 'LZ4'"):
        eng.sql("select count(*) from xtst_plug where month <= 3")
    # no WHERE at all: every partition is live
    with pytest.raises(se.ScanError, match="LZ4"):
        eng.sql("select count(*) from xtst_plug")
    # alias-qualified partition predicate still prunes (ADVICE r9)
    assert eng.sql(
        "select count(*) c from xtst_plug m where m.month <= 2"
    ).collect()[0][0] == 1
    # a literal containing 'where' doesn't mis-scope the probe, and
    # a subquery WHERE isn't mistaken for the top-level clause
    assert eng.sql(
        "select count(*) c from (select * from xtst_plug "
        "where i = 1) t where t.month <= 2"
    ).collect()[0][0] == 1
    with pytest.raises(se.ScanError, match="LZ4"):
        eng.sql("select count(*), 'where month <= 2' "
                "from xtst_plug where month >= 3")
    eng.scan_checks.pop("xtst_plug", None)
