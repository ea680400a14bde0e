"""Full-schema TPC-H fixture access: Spark temp-view registration and
DuckDB oracle-SQL prefixing.

The fixture (fixtures/tpch/*.parquet, committed — see
scripts/gen_tpch_fixture.py) carries the COMPLETE public TPC-H schema
(all 8 tables, partsupp, lineitem commit/receipt dates, ship modes,
phones) so the reference's own TPC-H query texts
(testdata/workloads/tpch/queries/tpch-q*.test) run here verbatim with
DuckDB oracles. The driver's own testdata is a TPC-H *subset* (no
partsupp, fewer columns) — its tables keep serving the DataFrame
corpus; these views exist only for the text entries.

Every table name here collides with the driver's TPC-H-subset views
(and `customer` also with the TPC-DS fixture), and all three corpora
share one SparkSession — so the fast-path guard verifies a
full-schema-only column still resolves before trusting the
session-conf flag, exactly like sources/tpcds.py.
"""

from __future__ import annotations

import os
import re
import weakref
from contextlib import contextmanager

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

TPCH_TABLES = ["region", "nation", "supplier", "customer", "part",
               "partsupp", "orders", "lineitem"]

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fixture_dir() -> str:
    return os.path.join(_REPO_ROOT, "fixtures", "tpch")


def table_path(name: str) -> str:
    return os.path.join(fixture_dir(), f"{name}.parquet")


_REGISTERED_KEY = "spark.incubator_impala.tpchFullRegistered"


def register_tpch_full(spark: SparkSession) -> None:
    if spark.conf.get(_REGISTERED_KEY, None) == "1":
        try:
            if ("l_commitdate" in spark.table("lineitem").columns
                    and "c_phone" in spark.table("customer").columns):
                return
        except PySparkException:  # view dropped — re-register below
            pass
    for t in TPCH_TABLES:
        spark.read.parquet(table_path(t)).createOrReplaceTempView(t)
    spark.conf.set(_REGISTERED_KEY, "1")


# per session: the fixture's temp views, to put back under the bare
# names without reading the files again (the eight reads cost about
# 0.8 s a build on a 2-core local session; the 22 tpch_real builds
# take 3.2 s with this cache and 20.6 s without)
_FULL_VIEWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@contextmanager
def full_schema_views(spark: SparkSession):
    """The full-schema fixture under the bare TPC-H names for the
    body, with the session's own relations of those names back in
    place afterwards: the driver's subset views share the names, and
    a DataFrame built in the body keeps the fixture (Spark analyzes
    it when it is built)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    saved = {t: catalog.getRawTempView(t) for t in TPCH_TABLES}
    full = _FULL_VIEWS.get(spark)
    if full is None:
        register_tpch_full(spark)
        full = _FULL_VIEWS[spark] = {
            t: catalog.getRawTempView(t).get() for t in TPCH_TABLES}
    else:
        for t, view in full.items():
            catalog.createTempView(t, view, True)
    try:
        yield
    finally:
        for t, view in saved.items():
            if view.isDefined():
                catalog.createTempView(t, view.get(), True)
            else:
                catalog.dropTempView(t)


def referenced_tables(sql: str) -> list[str]:
    return [t for t in TPCH_TABLES
            if re.search(rf"\b{t}\b", sql, re.IGNORECASE)]


def duckdb_oracle_sql(sql: str) -> str:
    """Self-contained DuckDB statement: read_parquet CTEs for every
    referenced table, merged with the query's own WITH clause (the
    grading driver's DuckDB session has the SUBSET tables as views —
    these CTEs shadow them with the full-schema fixture)."""
    ctes = ",\n".join(
        f"{t} AS (SELECT * FROM read_parquet('{table_path(t)}'))"
        for t in referenced_tables(sql))
    body = sql.strip()
    m = re.match(r"^with\b", body, re.IGNORECASE)
    if m:
        return f"WITH {ctes},\n{body[m.end():].lstrip()}"
    return f"WITH {ctes}\n{body}"
