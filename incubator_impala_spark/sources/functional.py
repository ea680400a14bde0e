"""`functional` schema fixture access: Spark temp-view registration and
DuckDB oracle-SQL prefixing.

The fixture (fixtures/functional/*.parquet, committed — see
scripts/gen_functional_fixture.py) regenerates the reference's primary
test dataset (testdata/datasets/functional/functional_schema_template.sql)
so the reference's functional-query QueryTest texts run here verbatim.

Registration mirrors sources/tpcds.py: plain temp views over parquet so
every query stays a declarative scan (pushdown/pruning visible to
Catalyst). The schema template's SQL views (alltypes_view, complex_view,
...) are registered as Spark temp views with the same definitions —
Catalyst inlines them, so view queries cost nothing extra.

Timestamps are stored NTZ in the parquet (they are wall-clock values by
construction) and cast to TIMESTAMP at registration; the session
timezone is pinned UTC so the cast is exact (same normalization as the
sf-table loader, sources/tables.py).
"""

from __future__ import annotations

import os
import re

import duckdb
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from incubator_impala_spark.session import rows_df

try:
    from pyarrow.lib import ArrowException
except ImportError:  # pragma: no cover
    ArrowException = OSError

# expected failure surface for best-effort fixture registration:
# Spark analysis/execution errors and unreadable reference files —
# Python-side bugs propagate instead of silently dropping fixtures
_REG_ERR = (AnalysisException, Py4JJavaError, OSError)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FUNCTIONAL_TABLES = [
    "alltypes", "alltypessmall", "alltypestiny", "alltypesagg",
    "alltypesaggnonulls", "alltypesnopart", "dimtbl", "testtbl",
    "jointbl", "tinytable", "tinyinttable", "nulltable", "nullrows",
    "liketbl", "emptytable", "decimal_tbl", "decimal_tiny", "date_tbl",
    "chars_tiny", "zipcode_incomes", "greptiny", "chars_formats",
    "semijointbla", "semijointblb", "nullescapedtable",
    "tblwithraggedcolumns", "unsupported_types", "manynulls",
    "chars_medium", "overflow", "alltypes_date_partition",
    "strings_with_quotes", "part_strings_with_quotes",
]

# The schema template's views (functional_schema_template.sql, CREATE
# sections), verbatim modulo the {db_name} qualifier.
# The reference catalog's STORED view text for the template's SQL
# views (functional_schema_template.sql CREATE VIEW blocks after
# Impala's CreateViewStmt column-alias expansion — what its HMS holds
# and SHOW CREATE VIEW prints). Fixture metadata for the SHOW CREATE
# surface (showcreate.py); the executable adaptations live in
# FUNCTIONAL_VIEWS below.
IMPALA_VIEW_TEXTS = {
    "alltypes_view": "SELECT * FROM functional.alltypes",
    "view_view": "SELECT * FROM functional.alltypes_view",
    "complex_view":
        "SELECT complex_view.`_c0` abc, complex_view.string_col xyz "
        "FROM (SELECT count(a.bigint_col), b.string_col "
        "FROM functional.alltypesagg a "
        "INNER JOIN functional.alltypestiny b ON a.id = b.id "
        "WHERE a.bigint_col < 50 GROUP BY b.string_col "
        "HAVING count(a.bigint_col) > 1 "
        "ORDER BY b.string_col ASC LIMIT 100) complex_view",
}

FUNCTIONAL_VIEWS = {
    "alltypes_view": "SELECT * FROM alltypes",
    "alltypes_hive_view": "SELECT * FROM alltypes",
    "alltypes_view_sub":
        "SELECT int_col AS x, string_col AS y, timestamp_col AS z "
        "FROM alltypes",
    "alltypes_parens":
        "SELECT * FROM alltypes "
        "WHERE year = 2009 and (int_col < 100 OR bool_col = false) "
        "and month = 1",
    "complex_view":
        "SELECT COUNT(a.bigint_col) AS abc, b.string_col AS xyz FROM "
        "alltypesagg a INNER JOIN alltypestiny b "
        "ON a.id = b.id WHERE a.bigint_col < 50 "
        "GROUP BY b.string_col HAVING COUNT(a.bigint_col) > 1 "
        "ORDER BY b.string_col LIMIT 100",
    "view_view": "SELECT * FROM alltypes_view",
    "subquery_view":
        "SELECT COUNT(*) FROM alltypes "
        "WHERE id IN (SELECT id FROM alltypessmall where int_col < 5)",
    # template tables derivable from loaded ones (schema template
    # LOAD/DEPENDENT_LOAD sections): registered as lazy views so SHOW
    # TABLES parity and their (tiny) contents both hold
    "stringpartitionkey":
        "SELECT id, CAST(timestamp_col AS STRING) AS string_col "
        "FROM alltypestiny "
        "WHERE timestamp_col = '2009-01-01 00:00:00'",
    "alltypesaggmultifilesnopart":
        "SELECT id, bool_col, tinyint_col, smallint_col, int_col, "
        "bigint_col, float_col, double_col, date_string_col, "
        "string_col, timestamp_col FROM alltypesagg",
}


# avro_schema_resolution-derived views (registered by
# _register_avro_resolution_tables) — protected from the QueryTest
# harness's scratch-table pre-clean like the template fixtures
AVRO_FIXTURE_VIEWS = [
    "schema_resolution_test", "no_avro_schema", "avro_coldef",
    "avro_extra_coldef", "avro_alltypes", "alltypes_no_coldef",
    "alltypes_extra_coldef", "alltypes_missing_coldef",
    "alltypes_type_mismatch",
]


def fixture_dir() -> str:
    return os.path.join(_REPO_ROOT, "fixtures", "functional")


def table_path(name: str) -> str:
    return os.path.join(fixture_dir(), f"{name}.parquet")


_REGISTERED_KEY = "spark.incubator_impala.functionalRegistered"

# Empty INSERT-target tables from the reference's schema template
# (functional_schema_template.sql: alltypesinsert LIKE alltypes etc.).
# Created as REAL managed tables at registration — the workloads'
# own `create table X like $ORIGINAL_DB.X` blocks can't run without
# the test runner's variables. The QueryTest harness treats these as
# protected (its per-file cleanup must not drop them).
_ALLTYPES_COLS = (
    "id int, bool_col boolean, tinyint_col tinyint, "
    "smallint_col smallint, int_col int, bigint_col bigint, "
    "float_col float, double_col double, date_string_col string, "
    "string_col string, timestamp_col timestamp")
# Declared partition columns per fixture table (the schema template's
# PARTITION_COLUMNS sections) — CREATE TABLE LIKE clones these; the
# fixture stores each table as one flat parquet so the catalog itself
# carries no partition info.
PARTITIONED_BY = {
    "alltypes": ["year", "month"],
    "alltypessmall": ["year", "month"],
    "alltypestiny": ["year", "month"],
    "alltypesagg": ["year", "month", "day"],
    "alltypesaggnonulls": ["year", "month", "day"],
    "alltypesaggmultifiles": ["year", "month", "day"],
    "allcomplextypes": ["year", "month"],
    "emptytable": ["f2"],
    "decimal_tbl": ["d6"],
    "part_strings_with_quotes": ["p"],
    "date_tbl": ["date_part"],
    "alltypes_date_partition": ["date_col"],
    "avro_alltypes": ["year", "month"],
    "alltypes_extra_coldef": ["year", "month"],
    "alltypes_missing_coldef": ["year", "month"],
    "alltypes_type_mismatch": ["year", "month"],
    "no_avro_schema": ["year", "month"],
}

INSERT_TARGETS = {
    "alltypesinsert": (f"({_ALLTYPES_COLS}, year int, month int) "
                       "USING parquet PARTITIONED BY (year, month)"),
    "alltypesnopart_insert": f"({_ALLTYPES_COLS}) USING parquet",
    # LIKE alltypes with SORT BY ZORDER — the zorder clause is a
    # within-file layout hint (IMPALA-10233), no logical difference
    "partitioned_zorder_tbl": (f"({_ALLTYPES_COLS}, year int, month int) "
                               "USING parquet "
                               "PARTITIONED BY (year, month)"),
    "insert_string_partitioned": ("(s1 string, s2 string) USING parquet "
                                  "PARTITIONED BY (s2)"),
    "table_with_header_insert": "(i1 int) USING parquet",
    "insert_overwrite_nopart": "(col1 int) USING parquet",
    "insert_overwrite_partitioned": ("(col1 int, col2 int) USING parquet "
                                     "PARTITIONED BY (col2)"),
    # serialization.null.format='xyz' in the template is a TEXT-format
    # property; the parquet variant the workloads exercise ignores it
    # (values round-trip exactly), matching this managed-parquet clone
    "nullformat_custom": ("(id int, a boolean, b string, c int, "
                          "d double) USING parquet"),
}


def register_functional(spark: SparkSession) -> None:
    """Idempotent temp-view registration; none of the table names
    collides with the TPC-H/TPC-DS fixtures, so the conf flag plus a
    single existence probe is a safe fast path."""
    if spark.conf.get(_REGISTERED_KEY, None) == "1":
        try:
            if "timestamp_col" in spark.table("alltypes").columns:
                return
        except AnalysisException:
            pass
    for t in FUNCTIONAL_TABLES:
        df = spark.read.parquet(table_path(t))
        if "timestamp_col" in df.columns:
            df = df.withColumn(
                "timestamp_col", df["timestamp_col"].cast("timestamp"))
        if "id" in df.columns and t.startswith("alltypes"):
            # the reference's schema template puts COMMENT 'Add a
            # comment' on alltypes*.id (functional_schema_template.sql:
            # 10) — carried so DESCRIBE parity holds
            df = df.withMetadata("id", {"comment": "Add a comment"})
        df.createOrReplaceTempView(t)
    # complextypestbl: the reference's OWN nested parquet data files
    # (testdata/ComplexTypesTbl/{nullable,nonnullable}.parq — one table
    # of 8 rows); drives the nested-types corpus and path-syntax tests
    ct = spark.read.parquet(
        table_path("complextypestbl_nullable"),
        table_path("complextypestbl_nonnullable"))
    ct = ct.toDF(*[c.lower() for c in ct.columns])
    ct.createOrReplaceTempView("complextypestbl")
    # complextypestbl_medium: the template's Hive load is an 7300-way
    # row duplication (complextypestbl JOIN alltypes); a lazy view of
    # the same cross join keeps the fixture file-free
    spark.range(7300).toDF("_dup").crossJoin(ct) \
        .drop("_dup").createOrReplaceTempView("complextypestbl_medium")
    # complextypes_partitioned: the test harness's two-partition copy
    # (test_nested_types.py setup: same rows under part=1 and part=2)
    from pyspark.sql import functions as _F

    part1 = ct.select(_F.lit(1).alias("part"), "*")
    part1.unionByName(ct.select(_F.lit(2).alias("part"), "*")) \
        .createOrReplaceTempView("complextypes_partitioned")
    # allcomplextypes: the template declares the schema with NO load —
    # an empty table exercising every collection nesting combination
    _ACT_SCHEMA = (
        "id int, int_array_col array<int>, "
        "array_array_col array<array<int>>, "
        "map_array_col array<map<string,int>>, "
        "struct_array_col array<struct<f1: bigint, f2: string>>, "
        "int_map_col map<string, int>, "
        "array_map_col map<string, array<int>>, "
        "map_map_col map<string, map<string, int>>, "
        "struct_map_col map<string, struct<f1: bigint, f2: string>>, "
        "int_struct_col struct<f1: int, f2: int>, "
        "complex_struct_col struct<f1: int, f2: array<int>, "
        "f3: map<string, int>>, "
        "nested_struct_col struct<f1: int, f2: struct<f11: bigint, "
        "f12: struct<f21: bigint>>>, "
        "complex_nested_struct_col struct<f1: int, f2: "
        "array<struct<f11: bigint, f12: map<string, "
        "struct<f21: bigint>>>>>, year int, month int")
    rows_df(spark, [], _ACT_SCHEMA) \
        .createOrReplaceTempView("allcomplextypes")
    # multi-file layout variants carry the SAME rows as their base
    # table (the reference splits each partition into several files to
    # exercise scan-range assignment — a physical property with no
    # query-visible difference on this engine)
    spark.table("alltypesagg").createOrReplaceTempView(
        "alltypesaggmultifiles")
    # empty INSERT-target tables from the schema template
    # (functional_schema_template.sql: alltypesinsert LIKE alltypes,
    # alltypesnopart_insert, insert_string_partitioned,
    # table_with_header_insert) — real managed tables, recreated empty
    # at registration so insert workloads start hermetic
    import re as _re
    import shutil as _shutil

    wh = _re.sub(r"^file:", "",
                 spark.conf.get("spark.sql.warehouse.dir",
                                "spark-warehouse"))
    for name, ddl in INSERT_TARGETS.items():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
        spark.sql(f"CREATE TABLE {name} {ddl}")
    for name, sql in FUNCTIONAL_VIEWS.items():
        spark.sql(sql).createOrReplaceTempView(name)
    _register_raw_text_tables(spark)
    spark.conf.set(_REGISTERED_KEY, "1")


_REF_DATA = "/root/reference/testdata/data"


def _register_raw_text_tables(spark: SparkSession) -> None:
    """Delimited-text scanner tables loaded from the reference's OWN
    raw data files (testdata/data/*.txt — the schema template's LOAD
    sections point at them). Registered as csv reads with the
    template's exact delimiters/escapes, so the delimited-text corpus
    verifies this engine's text scanner against the reference's
    recorded parses. Reads are read-only from the reference tree."""
    from pyspark.sql import functions as F

    if not os.path.isdir(_REF_DATA):
        return

    def parse_hive_text(fname: str, ncols: int, sep: str,
                        esc: str | None, line_sep: str,
                        encoding: str = "utf-8") -> list[list]:
        """The reference text scanner's exact field splitting
        (be/src/exec/delimited-text-parser): the escape character
        makes the NEXT byte literal (so escaped delimiters don't
        split) and is removed from the value; ``\\N`` (unescaped) is
        NULL; missing trailing fields are NULL. These are KB-sized
        committed fixtures, parsed once at registration."""
        raw = open(os.path.join(_REF_DATA, fname), "rb").read() \
            .decode(encoding)
        parts = raw.split(line_sep)
        if parts and parts[-1] == "":
            parts.pop()          # trailing line terminator
        rows = []
        for line in parts:
            # an interior empty line IS a row (all columns NULL after
            # the ''-to-type casts) — hdfs-text-scan counts it
            fields, cur, i = [], [], 0
            while i < len(line):
                ch = line[i]
                if esc and ch == esc and i + 1 < len(line):
                    cur.append(line[i + 1])
                    i += 2
                elif ch == sep:
                    fields.append("".join(cur))
                    cur = []
                    i += 1
                else:
                    cur.append(ch)
                    i += 1
            fields.append("".join(cur))
            fields = [None if f == "\\N" else f for f in fields]
            fields += [None] * (ncols - len(fields))
            rows.append(fields[:ncols])
        return rows

    four = "col1 string, col2 string, col3 string, col4 string"
    specs = [
        ("text_comma_backslash_newline",
         "text-comma-backslash-newline.txt", ",", "\\", "\n", "utf-8"),
        ("text_dollar_hash_pipe", "text-dollar-hash-pipe.txt",
         "$", "#", "|", "utf-8"),
        ("text_thorn_ecirc_newline", "text-thorn-ecirc-newline.txt",
         "þ", "ê", "\n", "ISO-8859-1"),
    ]
    for name, fname, sep, esc, line_sep, enc in specs:
        if not os.path.exists(os.path.join(_REF_DATA, fname)):
            continue
        rows = parse_hive_text(fname, 4, sep, esc, line_sep, enc)
        rows_df(spark, rows, four).selectExpr(
            "col1", "col2", "cast(col3 as int) col3",
            "cast(col4 as int) col4") \
            .createOrReplaceTempView(name)
    nn_schema = ("id string, col_1 string, col_2 string, "
                 "col_3 string")
    nn_sel = ["cast(id as int) id", "cast(col_1 as boolean) col_1",
              "cast(col_2 as double) col_2",
              "cast(col_3 as timestamp) col_3"]
    if os.path.exists(os.path.join(_REF_DATA, "table_no_newline.csv")):
        nn = rows_df(
            spark, parse_hive_text("table_no_newline.csv", 4, ",", None,
                                   "\n"), nn_schema).selectExpr(*nn_sel)
        nn.createOrReplaceTempView("table_no_newline")
        parts = [nn.select("*", F.lit(2010).alias("year"),
                           F.lit(3).alias("month"))]
        if os.path.exists(os.path.join(_REF_DATA,
                                       "table_missing_columns.csv")):
            mc = rows_df(
                spark, parse_hive_text("table_missing_columns.csv", 4,
                                       ",", None, "\n"), nn_schema) \
                .selectExpr(*nn_sel)
            parts.append(mc.select(
                "*", F.lit(2015).alias("year"),
                F.lit(3).alias("month")))
        p0 = parts[0]
        for p in parts[1:]:
            p0 = p0.unionByName(p)
        p0.createOrReplaceTempView("table_no_newline_part")
    try:
        # alltypesmixedformat: the load scripts copy alltypes
        # 2009/months 1-4 into one partition per file format; the
        # logical contents are exactly that slice
        spark.table("alltypes") \
            .where("year = 2009 AND month IN (1, 2, 3, 4)") \
            .createOrReplaceTempView("alltypesmixedformat")
    except _REG_ERR:
        pass
    _register_raw_parquet_tables(spark)


# Scanner-edge-case tables served straight from the reference's OWN
# binary parquet files (testdata/data/*.parquet) — decimal physical
# encodings, zero-row layouts, RLE booleans, calendar edge cases.
# This points OUR parquet scanner at THEIR bytes, which is exactly
# what the corresponding QueryTest files verify.
_RAW_PARQUET = {
    # parquet page-index workload (test_parquet_stats.py stages these
    # under the unique db; value-skipping is the reference's scanner
    # concern — row-level results are what the blocks verify)
    "decimals_1_10": ["decimals_1_10.parquet"],
    "nested_decimals": ["nested_decimals.parquet"],
    "double_nested_decimals": ["double_nested_decimals.parquet"],
    "alltypes_tiny_pages": ["alltypes_tiny_pages.parquet"],
    "alltypes_tiny_pages_plain": ["alltypes_tiny_pages_plain.parquet"],
    "alltypes_empty_pages": ["alltypes_empty_pages.parquet"],
    "alltypes_invalid_pages": ["alltypes_invalid_pages.parquet"],
    "customer_multiblock_page_index":
        ["customer_multiblock_page_index.parquet"],
    "min_max_is_nan": ["min_max_is_nan.parquet"],
    "decimal_encodings": ["binary_decimal_dictionary.parquet",
                          "binary_decimal_no_dictionary.parquet"],
    "decimal_stored_as_int32": ["decimal_stored_as_int32.parquet"],
    "decimal_stored_as_int64": ["decimal_stored_as_int64.parquet"],
    "decimal_padded_fixed_len_byte_array":
        ["decimal_padded_fixed_len_byte_array.parquet"],
    "decimal_padded_fixed_len_byte_array2":
        ["decimal_padded_fixed_len_byte_array2.parquet"],
    "zero_rows_zero_row_groups": ["zero_rows_zero_row_groups.parquet"],
    "zero_rows_one_row_group": ["zero_rows_one_row_group.parquet"],
    "rle_encoded_bool": ["rle_encoded_bool.parquet"],
    "hive2_pre_gregorian": ["hive2_pre_gregorian.parquet"],
    "out_of_range_date": ["out_of_range_date.parquet"],
    "primitive_type_widening": ["primitive_type_widening.parquet"],
    "alltypes_agg_bitpacked_def_levels":
        ["alltypes_agg_bitpacked_def_levels.parquet"],
    "deprecated_stats": ["deprecated_statistics.parquet"],
    "kite_required_fields": ["kite_required_fields.parquet"],
    # IMPALA-720 block-boundary coverage: 20,000 lineitem rows split
    # over 200 row groups (absolute path: lives beside its README,
    # not under testdata/data)
    "lineitem_multiblock":
        ["/root/reference/testdata/LineItemMultiBlock/000000_0"],
    # nested TPC-H customer (c_orders array of structs with o_lineitems
    # inside) spanning several blocks — parquet-filtering.test's nested
    # stat-filtering cases scan it
    "customer_multiblock":
        ["/root/reference/testdata/CustomerMultiBlock/"
         "customer_multiblock.parquet"],
}


def _register_raw_parquet_tables(spark: SparkSession) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType

    for name, files in _RAW_PARQUET.items():
        paths = [f if os.path.isabs(f) else os.path.join(_REF_DATA, f)
                 for f in files]
        if not all(os.path.exists(p) for p in paths):
            continue
        try:
            # CORRECTED = read stored days/micros as proleptic
            # Gregorian without rebase — the reference's behavior
            # (it reads Hive2 pre-Gregorian dates "incorrectly",
            # hive2-pre-gregorian-date.test documents this)
            df = (spark.read
                  .option("datetimeRebaseMode", "CORRECTED")
                  .option("int96RebaseMode", "CORRECTED")
                  .parquet(*paths))
            try:
                import pyarrow.parquet as _pq

                # the scanner honors the footer's num_rows (a file
                # declaring 0 rows yields 0 even if a row group is
                # physically present — parquet-zero-rows.test)
                if all(_pq.ParquetFile(p).metadata.num_rows == 0
                       for p in paths):
                    df = df.limit(0)
            except (OSError, ArrowException):
                pass
            if name in ("decimal_encodings", "alltypes_empty_pages"):
                # binary-backed DECIMAL (NPE) and empty data pages
                # both trip the vectorized reader; materialize these
                # small fixtures via parquet-mr once
                prev = spark.conf.get(
                    "spark.sql.parquet.enableVectorizedReader")
                spark.conf.set(
                    "spark.sql.parquet.enableVectorizedReader",
                    "false")
                try:
                    df = rows_df(spark, df.collect(), df.schema)
                finally:
                    spark.conf.set(
                        "spark.sql.parquet.enableVectorizedReader",
                        prev)
            if name == "out_of_range_date":
                # the reference clamps DATE to 0001-01-01..9999-12-31
                # and yields NULL outside (DateValue range)
                lo = F.lit("0001-01-01").cast("date")
                hi = F.lit("9999-12-31").cast("date")
                df = df.select([
                    F.when(F.col(f.name).between(lo, hi),
                           F.col(f.name)).alias(f.name)
                    if isinstance(f.dataType, DateType)
                    else F.col(f.name)
                    for f in df.schema.fields])
            df.createOrReplaceTempView(name)
        except (*_REG_ERR, ArrowException):
            continue
    _register_dateless_timestamp_tables(spark)
    _register_overflow_table(spark)
    # widerow: one row whose string_col is 10 MiB (the reference's
    # testdata/bin/load-data generates it; only the length is asserted)
    spark.sql("select repeat('z', 10485760) as string_col") \
        .createOrReplaceTempView("widerow")
    # avro variant of date_tbl (avro_date.test): the 0001-01-01
    # partition's avro file aborts at the first Julian-shifted
    # out-of-range date (Hive2 wrote 0001-01-01 as 0000-12-30), so its
    # rows vanish whenever date_col is materialized
    spark.sql("select id_col, date_part, "
              "case when date_col < DATE'1582-10-15' "
              "then date_add(date_col, -2) else date_col end as date_col "
              "from date_tbl where date_part <> DATE'0001-01-01'") \
        .createOrReplaceTempView("avro_date_tbl")
    # rcfile escaping bug (string-escaping-rcfile-bug.test): the
    # reference's rcfile writer doubles backslashes on load
    spark.sql(r"select replace(s, '\\', '\\\\') as s "
              "from strings_with_quotes") \
        .createOrReplaceTempView("strings_with_quotes_rcfile")
    _register_out_of_range_timestamp(spark)
    _register_avro_resolution_tables(spark)
    _register_decimal_rtf_tables(spark)
    _register_bad_parquet_table(spark)
    _register_bzip_text_tables(spark)
    _register_header_tables(spark)
    register_tz_parquet_tables(spark, "UTC")


def _register_bzip_text_tables(spark: SparkSession) -> None:
    """bzip2_tbl / multistream_bzip2_tbl (functional_schema_template
    .sql:2588-2613): one STRING column over the reference's own .bz2
    text files (text-bzip-scan.test). Spark's Hadoop BZip2Codec
    decodes both single-stream and multi-stream (pbzip2) files, and
    bzip2 blocks are splittable — at scale this scan parallelizes per
    compression block; the view is a plain distributed text read, not
    a driver-side decode. large_*.bz2 twins are generated at load time
    upstream and not shipped in the checkout, so they stay
    unregistered (reason-coded xfails in the harness)."""
    for tbl, fname in (("bzip2_tbl", "data-bzip2.bz2"),
                       ("multistream_bzip2_tbl", "data-pbzip2.bz2")):
        p = os.path.join(_REF_DATA, fname)
        if os.path.exists(p):
            spark.read.text(p).withColumnRenamed("value", "col") \
                .createOrReplaceTempView(tbl)


def _register_header_tables(spark: SparkSession) -> None:
    """table_with_header / table_with_header_2 (schema template:
    skip.header.line.count = 1 / 2 over table_with_header[_2].csv,
    hdfs-text-scan-with-header.test). The reference's scanner drops
    the first N physical lines of each text file; these are 5-line
    committed fixtures, parsed once at registration."""
    for tbl, fname, skip in (("table_with_header",
                              "table_with_header.csv", 1),
                             ("table_with_header_2",
                              "table_with_header_2.csv", 2)):
        p = os.path.join(_REF_DATA, fname)
        if not os.path.exists(p):
            continue
        rows = []
        with open(p) as fh:
            for i, line in enumerate(fh):
                line = line.rstrip("\n")
                if i < skip or not line:
                    continue
                c1, c2 = line.split(",", 1)
                rows.append((int(c1), float(c2)))
        rows_df(spark, rows, "c1 int, c2 double") \
            .createOrReplaceTempView(tbl)


_TZ_TABLES_KEY = "spark.incubator_impala.tzTablesTz"


def register_tz_parquet_tables(spark: SparkSession,
                               tz: str = "UTC") -> None:
    """IMPALA-5050 int64-timestamp tables (parquet-int64-timestamps
    .test; reference setup tests/query_test/test_scanners.py:887-934):
    parquet columns with int64 physical / timestamp_millis|micros
    logical type, readable both as TIMESTAMP and as BIGINT.

    UTC-adjusted columns (isAdjustedToUTC=true) are converted to the
    query timezone on read — the reference scanner's behavior
    (be/src/exec/parquet-column-stats.inline.h + timezone conversion
    in parquet-column-readers.cc); local columns are wall-clock
    verbatim. The engine re-registers these views whenever SET
    TIMEZONE changes (engine.set_option), so the conversion follows
    the session option exactly like the reference's per-query state.
    The *_bigints twins are the reference's BIGINT-schema tables over
    the SAME files: raw int64 epoch values in the column's unit."""
    if spark.conf.get(_TZ_TABLES_KEY, None) == tz:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    # positional renames: the reference CREATEs declare new column
    # names over the file's schema (resolution by position)
    renames = {
        "int64_timestamps_dict": [
            "id", "new_logical_milli_utc", "new_logical_milli_local",
            "new_logical_micro_utc", "new_logical_micro_local"],
    }
    for name in ("int64_timestamps_plain", "int64_timestamps_dict",
                 "int64_timestamps_at_dst_changes"):
        p = os.path.join(_REF_DATA, f"{name}.parquet")
        if not os.path.exists(p):
            continue
        df = spark.read.parquet(p)
        if name in renames:
            df = df.toDF(*renames[name])
        df = df.select([
            F.from_utc_timestamp(F.col(f.name), tz).alias(f.name)
            if isinstance(f.dataType, TimestampType) else F.col(f.name)
            for f in df.schema.fields])
        df.createOrReplaceTempView(name)
    # BIGINT twins: raw int64 values (arrow cast timestamp -> int64
    # preserves the stored count in the column's own unit)
    bigints = {"int64_bigints_plain": "int64_timestamps_plain",
               "int64_bigints_dict": "int64_timestamps_dict"}
    for name, src in bigints.items():
        p = os.path.join(_REF_DATA, f"{src}.parquet")
        if not os.path.exists(p):
            continue
        t = pq.read_table(p)
        cols, fields = [], []
        for fld in t.schema:
            col = t.column(fld.name)
            if pa.types.is_timestamp(fld.type):
                col = col.cast(pa.int64())
                fields.append(f"{fld.name} bigint")
            elif pa.types.is_integer(fld.type):
                col = col.cast(pa.int32())
                fields.append(f"{fld.name} int")
            else:
                fields.append(f"{fld.name} string")
            cols.append(col.to_pylist())
        names = renames.get(src)
        if names:
            fields = [f"{n} {f.split(' ', 1)[1]}"
                      for n, f in zip(names, fields)]
        rows_df(spark, list(zip(*cols)), ", ".join(fields)) \
            .createOrReplaceTempView(name)
    # nano table: Spark timestamps are microsecond-precision, so the
    # sub-microsecond digits are truncated (the harness xfails the
    # ns-visible blocks with reason 'nanosecond-timestamp'); arrow
    # decodes the ns column and the truncation happens on cast
    p = os.path.join(_REF_DATA, "int64_timestamps_nano.parquet")
    if os.path.exists(p):
        t = pq.read_table(p)
        import pyarrow.compute as pc

        raw = t.column("rawValue").to_pylist()
        us = pc.cast(t.column("nanoUtc"),
                     pa.timestamp("us", tz="UTC"),
                     safe=False).to_pylist()
        loc = pc.cast(t.column("nanoNonUtc"), pa.timestamp("us"),
                      safe=False).to_pylist()
        df = rows_df(
            spark, [(r, u.replace(tzinfo=None), n)
                    for r, u, n in zip(raw, us, loc)],
            "rawvalue bigint, nanoutc timestamp, nanononutc timestamp")
        df = df.withColumn("nanoutc",
                           F.from_utc_timestamp("nanoutc", tz))
        df.createOrReplaceTempView("int64_timestamps_nano")
    spark.conf.set(_TZ_TABLES_KEY, tz)


def _register_bad_parquet_table(spark: SparkSession) -> None:
    """`bad_parquet` (functional_schema_template.sql:1719): one
    STRING-column table loaded from three parquet-mr files whose
    column is named `x` in two of them — the reference's scanner
    resolves by POSITION, so every file's first column feeds `field`.
    Spark resolves by name, so each file is read separately and
    renamed before the union (same 1,006 logical rows)."""
    files = ["bad_parquet_data.parquet", "repeated_values.parquet",
             "multiple_rowgroups.parquet", "long_page_header.parquet"]
    paths = [os.path.join(_REF_DATA, f) for f in files]
    if not all(os.path.exists(p) for p in paths):
        return
    try:
        import pyarrow.parquet as pq

        # decoded via Arrow once at registration: repeated_values.parquet
        # carries the 0-bit-width dictionary that IMPALA-694 is about
        # and Spark's readers reject it outright (1,006 rows total)
        rows = []
        for p in paths:
            col = pq.read_table(p).column(0).to_pylist()
            rows += [(v.decode("utf-8", "replace")
                      if isinstance(v, bytes) else
                      (None if v is None else str(v)),)
                     for v in col]
        rows_df(spark, rows, "field string") \
            .createOrReplaceTempView("bad_parquet")
    except (*_REG_ERR, ArrowException):
        pass


def _register_overflow_table(spark: SparkSession) -> None:
    """`overflow` (functional_schema_template.sql:1215): a text table
    whose rows 2-3 exceed every column's range. The reference's
    non-strict text scanner has C strto* semantics
    (be/src/util/string-parser.h): out-of-range integers SATURATE to
    the type's bounds and out-of-range floats become ±inf
    (overflow.test expects -128/-32768/... and -Infinity/inf rows);
    only --strict_mode turns these into NULL+error (strict-mode.test).
    Spark's string casts differ, so the saturating rules run here at
    registration; three rows, zero runtime cost."""
    import math  # noqa: F401 — kept for to_dec callers below
    from decimal import Decimal, InvalidOperation

    path = os.path.join(_REF_DATA, "overflow.txt")
    if not os.path.exists(path):
        return

    def to_int(s, lo, hi, strict):
        try:
            v = int(s)
        except ValueError:
            return None
        if strict and not lo <= v <= hi:
            return None
        return lo if v < lo else hi if v > hi else v

    def to_float(s, single, strict):
        try:
            v = float(s)  # strtod: overflow already saturates to ±inf
        except ValueError:
            return None
        overflowed = math.isinf(v) or (single and abs(v) > 3.4028235e38)
        if strict and overflowed:
            return None
        if single and abs(v) > 3.4028235e38:
            v = float("inf") if v > 0 else float("-inf")
        return v

    def to_dec(s, prec, scale):
        try:
            d = Decimal(s)
        except InvalidOperation:
            return None
        t = d.as_tuple()
        frac = max(-t.exponent, 0)
        if frac > scale:
            return None                      # fraction digits overflow
        if len(t.digits) - frac > prec - scale:
            return None                      # integer digits overflow
        return d

    for strict, view in ((False, "overflow"), (True, "overflow_strict")):
        rows = []
        try:
            for ln in open(path, encoding="utf-8").read().splitlines():
                f = ln.split(",")
                rows.append((
                    to_int(f[0], -128, 127, strict),
                    to_int(f[1], -32768, 32767, strict),
                    to_int(f[2], -2 ** 31, 2 ** 31 - 1, strict),
                    to_int(f[3], -2 ** 63, 2 ** 63 - 1, strict),
                    to_float(f[4], True, strict),
                    to_float(f[5], False, strict),
                    to_dec(f[6], 13, 4), to_dec(f[7], 38, 0),
                    to_dec(f[8], 38, 38)))
        except Exception:  # noqa: BLE001
            return
        rows_df(
            spark, rows,
            "tinyint_col tinyint, smallint_col smallint, int_col int, "
            "bigint_col bigint, float_col float, double_col double, "
            "decimal0_col decimal(13,4), decimal1_col decimal(38,0), "
            "decimal2_col decimal(38,38)").createOrReplaceTempView(view)


def _register_decimal_rtf_tables(spark: SparkSession) -> None:
    """decimal_rtf_tbl / decimal_rtf_tiny_tbl — the min-max
    runtime-filter decimal workload's tables
    (functional_schema_template.sql:1936,2015: 24 decimal columns at
    every precision class + a dpc=1 partition). Loaded from the
    reference's own comma-delimited data files; a value out of the
    column's range parses to NULL exactly as the reference's text
    scanner does (Spark csv permissive mode)."""
    cols = ["d5_0 decimal(5,0)", "d5_1 decimal(5,1)",
            "d5_3 decimal(5,3)", "d5_5 decimal(5,5)",
            "d9_0 decimal(9,0)", "d9_1 decimal(9,1)",
            "d9_5 decimal(9,5)", "d9_9 decimal(9,9)",
            "d14_0 decimal(14,0)", "d14_1 decimal(14,1)",
            "d14_7 decimal(14,7)", "d14_14 decimal(14,14)",
            "d18_0 decimal(18,0)", "d18_1 decimal(18,1)",
            "d18_9 decimal(18,9)", "d18_18 decimal(18,18)",
            "d28_0 decimal(28,0)", "d28_1 decimal(28,1)",
            "d28_14 decimal(28,14)", "d28_28 decimal(28,28)",
            "d38_0 decimal(38,0)", "d38_1 decimal(38,1)",
            "d38_19 decimal(38,19)", "d38_38 decimal(38,38)"]
    schema = ", ".join(cols)
    for tbl in ("decimal_rtf_tbl", "decimal_rtf_tiny_tbl"):
        p = os.path.join(_REF_DATA, f"{tbl}.txt")
        if not os.path.exists(p):
            continue
        (spark.read.schema(schema).option("mode", "PERMISSIVE")
         .csv(p)
         .selectExpr("*", "cast(1 as decimal(9,0)) as dpc")
         .createOrReplaceTempView(tbl))


def _register_avro_resolution_tables(spark: SparkSession) -> None:
    """functional_avro_snap tables (avro-schema-resolution.test):

    - schema_resolution_test: the reference's own records1/2.avro read
      under the DDL's READER schema (testdata/avro_schema_resolution/
      create_table.sql) — exercises avro_io's writer->reader
      resolution: missing fields fill from defaults, unions unwrap
    - no_avro_schema: alltypes with timestamp erased to STRING
      (IMPALA-1947 — avro tables store TIMESTAMP coldefs as string)
    - avro_coldef / avro_extra_coldef: the create_table.sql INSERTs
      (two 5-row partitions of alltypes), the extra coldef reading the
      same data with a NULL-filled trailing column (IMPALA-2798)"""
    import json as _json

    base = "/root/reference/testdata/avro_schema_resolution"
    if os.path.exists(os.path.join(base, "records1.avro")):
        from incubator_impala_spark.sources import avro_io

        reader = _json.loads("""{
        "name": "a", "type": "record",
        "fields": [
          {"name":"boolean1", "type":"boolean", "default": true},
          {"name":"int1",     "type":"int",     "default": 1},
          {"name":"long1",    "type":"long",    "default": 1},
          {"name":"float1",   "type":"float",   "default": 1.0},
          {"name":"double1",  "type":"double",  "default": 1.0},
          {"name":"date1",
           "type": {"type": "int", "logicalType": "date"},
           "default": 1},
          {"name":"string1",  "type":"string",
           "default": "default string"},
          {"name":"string2",  "type": ["string", "null"],
           "default": ""},
          {"name":"string3",  "type": ["null", "string"],
           "default": null}
        ]}""")
        try:
            df = avro_io.read_avro(
                spark, os.path.join(base, "records1.avro"), reader)
            df = df.unionByName(avro_io.read_avro(
                spark, os.path.join(base, "records2.avro"), reader))
            df.createOrReplaceTempView("schema_resolution_test")
        except Exception:  # noqa: BLE001 — fixture stays optional
            pass
    # only partitions (2009,9) and (2010,10) are registered for this
    # table (functional_schema_template.sql:2259-2264 ALTER section)
    spark.sql(
        "select id, bool_col, cast(tinyint_col as int) tinyint_col, "
        "cast(smallint_col as int) smallint_col, int_col, "
        "bigint_col, float_col, double_col, date_string_col, "
        "string_col, cast(timestamp_col as string) as timestamp_col, "
        "year, month from alltypes "
        "where (year=2009 and month=9) or (year=2010 and month=10)"
    ).createOrReplaceTempView("no_avro_schema")
    first5 = ("select bool_col, cast(tinyint_col as int) tinyint_col, "
              "cast(smallint_col as int) smallint_col, int_col, "
              "bigint_col, float_col, double_col, date_string_col, "
              "string_col, timestamp_col "
              "from (select * from alltypes order by id limit 5)")
    spark.sql(
        f"select *, 2014 as year, 1 as month from ({first5}) "
        f"union all select *, 2014 as year, 2 as month from ({first5})"
    ).createOrReplaceTempView("avro_coldef")
    spark.sql(
        "select bool_col, tinyint_col, smallint_col, int_col, "
        "bigint_col, float_col, double_col, date_string_col, "
        "string_col, timestamp_col, cast(null as string) as extra_col, "
        "year, month from avro_coldef"
    ).createOrReplaceTempView("avro_extra_coldef")
    # alltypes under the AVRO type system (AvroSchemaConverter:
    # TINYINT/SMALLINT -> INT, TIMESTAMP -> STRING) — the schema the
    # avro_schema_resolution mismatched-coldef tables all reconcile to
    # (the avro schema wins; compute-stats-avro.test clones these)
    avro_typed = (
        "select id, bool_col, cast(tinyint_col as int) tinyint_col, "
        "cast(smallint_col as int) smallint_col, int_col, bigint_col, "
        "float_col, double_col, date_string_col, string_col, "
        "cast(timestamp_col as string) as timestamp_col, year, month "
        "from alltypes")
    # matching coldefs (or none): the avro schema's types win;
    # MISMATCHED coldef counts/types: the column definitions win
    # (IMPALA-867/IMPALA-2798 reconciliation)
    spark.sql(avro_typed).createOrReplaceTempView("avro_alltypes")
    # alltypes_no_coldef: created WITHOUT a partition clause in
    # create_table.sql (unlike the *_coldef variants) — 11 avro cols
    spark.sql(avro_typed).drop("year", "month") \
        .createOrReplaceTempView("alltypes_no_coldef")
    spark.sql(
        "select id, bool_col, tinyint_col, smallint_col, int_col, "
        "bigint_col, float_col, double_col, date_string_col, "
        "string_col, timestamp_col, cast(null as string) as extra_col, "
        "year, month from alltypes"
    ).createOrReplaceTempView("alltypes_extra_coldef")
    spark.sql(
        "select id, bool_col, smallint_col, int_col, bigint_col, "
        "float_col, double_col, date_string_col, string_col, "
        "year, month from alltypes"
    ).createOrReplaceTempView("alltypes_missing_coldef")
    spark.sql(
        "select id, bool_col, tinyint_col, smallint_col, int_col, "
        "cast(bigint_col as string) bigint_col, float_col, "
        "double_col, date_string_col, string_col, timestamp_col, "
        "year, month from alltypes"
    ).createOrReplaceTempView("alltypes_type_mismatch")


def _register_out_of_range_timestamp(spark: SparkSession) -> None:
    """IMPALA-4363: reference parquet files carrying timestamps outside
    the engine's 1400..9999 range — the scanner NULLs them with a
    warning (out-of-range-timestamp-*.test). The clamp runs JVM-side:
    a year-10000 INT96 crashes Python datetime conversion otherwise."""
    p = os.path.join(_REF_DATA, "out_of_range_timestamp.parquet")
    if os.path.exists(p):
        spark.sql(
            f"select case when ts >= timestamp'1400-01-01' "
            f"and year(ts) <= 9999 then ts end as ts "
            f"from parquet.`{p}`"
        ).createOrReplaceTempView("out_of_range_timestamp")


def _register_dateless_timestamp_tables(spark: SparkSession) -> None:
    """"Dateless" timestamps: old Hive writers stored time-only values
    as INT96 with Julian day 0 / text rows with no date part. The
    reference NULLs them with a scan warning (its TimestampValue range
    is 1400-01-01..9999-12-31 — be/src/runtime/timestamp-value.h;
    dateless_timestamp_parquet.test, dateless_timestamp_text.test).
    Spark decodes Julian-day-0 INT96 to year -4713, so the same range
    predicate reproduces the NULLs — evaluated JVM-side (the Python
    datetime bridge cannot represent year -4713)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    lo = F.lit("1400-01-01").cast("timestamp")
    hi = F.lit("9999-12-31 23:59:59.999999").cast("timestamp")
    parq = os.path.join(_REF_DATA, "dateless_timestamps.parq")
    if os.path.exists(parq):
        try:
            df = (spark.read.option("int96RebaseMode", "CORRECTED")
                  .parquet(parq))
            df.select([
                F.when(F.col(f.name).between(lo, hi),
                       F.col(f.name)).alias(f.name)
                if isinstance(f.dataType, TimestampType)
                else F.col(f.name) for f in df.schema.fields]) \
                .createOrReplaceTempView("timestamp_table")
        except (*_REG_ERR, ArrowException):
            pass
    txt = os.path.join(_REF_DATA, "dateless_timestamps.txt")
    if os.path.exists(txt):
        try:
            # text scan: each line lax-casts to TIMESTAMP; time-only
            # rows have no date and fail the conversion -> NULL
            rows = [(ln,) for ln in
                    open(txt, encoding="utf-8").read().splitlines()]
            # (Spark's cast fills in the CURRENT date for time-only
            # strings; the reference's parser requires a date part, so
            # gate on a leading yyyy-MM-dd)
            rows_df(spark, rows, "t string") \
                .select(F.when(
                    F.col("t").rlike(r"^\d{4}-\d{1,2}-\d{1,2}"),
                    F.col("t").cast("timestamp")).alias("t")) \
                .createOrReplaceTempView("timestamp_text_table")
        except _REG_ERR:
            pass


def referenced_tables(sql: str) -> list[str]:
    found = [t for t in FUNCTIONAL_TABLES
             if re.search(rf"\b{t}\b", sql, re.IGNORECASE)]
    for view, view_sql in FUNCTIONAL_VIEWS.items():
        if re.search(rf"\b{view}\b", sql, re.IGNORECASE):
            for t in referenced_tables(view_sql):
                if t not in found:
                    found.append(t)
    return found


def duckdb_oracle_sql(sql: str) -> str:
    """Self-contained DuckDB statement over the same parquet: inject
    every referenced table as a read_parquet CTE (and referenced
    template views as their definitions), merged with the query's own
    WITH clause."""
    ctes = [
        f"{t} AS (SELECT * FROM read_parquet('{table_path(t)}'))"
        for t in referenced_tables(sql)]
    if re.search(r"\bcomplextypestbl\b", sql, re.IGNORECASE):
        ctes.append(
            "complextypestbl AS (SELECT * FROM read_parquet(["
            f"'{table_path('complextypestbl_nullable')}', "
            f"'{table_path('complextypestbl_nonnullable')}']))")
    # view closure: a view's definition may reference other views
    # (view_view -> alltypes_view), so include transitively to a
    # fixpoint (ADVICE r5); FUNCTIONAL_VIEWS dict order puts
    # dependencies before dependents, which DuckDB CTE scoping needs
    needed = {v for v in FUNCTIONAL_VIEWS
              if re.search(rf"\b{v}\b", sql, re.IGNORECASE)}
    while True:
        more = {v for v in FUNCTIONAL_VIEWS
                for inc in needed
                if v not in needed
                and re.search(rf"\b{v}\b", FUNCTIONAL_VIEWS[inc],
                              re.IGNORECASE)}
        if not more:
            break
        needed |= more
    for view, view_sql in FUNCTIONAL_VIEWS.items():
        if view in needed:
            ctes.append(f"{view} AS ({view_sql})")
    body = sql.strip()
    if not ctes:
        return body
    joined = ",\n".join(ctes)
    m = re.match(r"^with\b", body, re.IGNORECASE)
    if m:
        return f"WITH {joined},\n{body[m.end():].lstrip()}"
    return f"WITH {joined}\n{body}"


def duckdb_connection() -> "duckdb.DuckDBPyConnection":
    """Connection with every functional table registered as a view
    (for ad-hoc oracle checks in tests)."""
    con = duckdb.connect()
    for t in FUNCTIONAL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{table_path(t)}')")
    for name, sql in FUNCTIONAL_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con
