"""Run the reference's own functional-query QueryTest files — queries
AND inline expected results — against this engine.

This is direct reference parity with no oracle in between: the .test
files under the reference's
testdata/workloads/functional-query/queries/QueryTest/ carry the
recorded outputs of the reference engine over the `functional` dataset,
which fixtures/functional/ regenerates exactly
(scripts/gen_functional_fixture.py). The harness
(incubator_impala_spark/testing/querytest.py) re-expresses the
reference's section format and result-verifier rules.

Per file: every runnable block must pass unless listed in XFAIL with a
reason code; a listed block that passes fails the test (stale entry),
and the per-file pass floor catches silent regressions where blocks
start skipping. Reason codes (details in DIALECT.md "Functional-query
divergences"):

  ieee-div-zero     float/0 is ±inf/NaN in the reference, NULL here
  nan-semantics     Spark: NaN=NaN in joins/group/CASE; min/max skip NaN
  float-promotion   INT+FLOAT -> FLOAT here, DOUBLE there (and
                    DECIMAL+FLOAT -> DOUBLE here, FLOAT there)
  float-round-type  round(FLOAT,n)/float literal typing differences
  ts-range          reference clamps timestamps to 1400..9999 -> NULL
  ns-precision      engine carries µs; expected values need ns
  estimator         ndv/distinctpc/appx_count_distinct sketch-specific
                    expected numbers
  analyzer          Spark analyzer restrictions (mixed-type IN list,
                    window fn in ORDER BY, per-row group_concat
                    separator, grouping_id outside rollup,
                    avg(TIMESTAMP), correlated agg-subquery shapes,
                    partial CTE column alias lists)
  type-coercion     DATE/STRING and FLOAT/DECIMAL comparison coercion
                    picks a different common type; CHAR(m)-vs-CHAR(n)
                    comparison is pad-insensitive in the reference
  double-str-cast   cast(DOUBLE as STRING) mid-query: reference prints
                    integral doubles without ".0" (1 vs Spark's 1.0);
                    surfaced when round() regained its native DOUBLE
                    return type (ADVICE r5 — the prior bigint cast
                    masked it and silently nulled >int64 values)
  pipe-or           `||` as logical OR (kept as concat — see DIALECT)
  void-setop        INTERSECT over a NULL-literal (void) column
  nan-agg           min/max NaN propagation
  not-in-null       NULL-lhs NOT IN (subquery) tri-state differences
  needs-ddl         block depends on tables created by earlier DDL
                    blocks the harness does not execute
  needs-hive-data   block reads sketch tables serialized by a live
                    Hive (testdata/bin load scripts); the bytes are
                    not shipped in the reference repo
  pandas-udaf-empty Spark's AggregateInPandasExec emits no row for a
                    global aggregate over an empty relation (JVM
                    aggregates return the 1-row default); hits the
                    ds_kll_* pandas UDAFs on `emptytable`

(the former acid-synthetic code retired r10: the ACID model in
incubator_impala_spark/acid.py implements row__id — tests/test_acid.py)
"""

from __future__ import annotations

import collections
import os
import re

import pytest

QT_DIR = ("/root/reference/testdata/workloads/functional-query/queries/"
          "QueryTest")

# file -> (min_pass floor, {block index: reason})
# runtime-filter family: kudu/parquet-flavored db qualifiers map to
# the same logical tables; tpch spellings are the sf1 dbgen views
_RTF_REWRITES = {
    r"functional_kudu\.": "",
    r"functional_parquet\.": "",
    r"tpch_kudu\.": "tpch_ref_",
    r"tpch_parquet\.": "tpch_ref_",
    r"\btpch\.": "tpch_ref_",
}

FILES: dict[str, tuple[int, dict[int, str]]] = {
    "exprs": (253, {
        52: "float-promotion", 53: "float-promotion", 54: "float-promotion",
        88: "analyzer", 89: "analyzer",
        167: "ns-precision", 168: "ns-precision", 170: "ns-precision",
        172: "ts-range",
        176: "float-round-type", 177: "float-round-type",
        186: "float-promotion", 189: "float-promotion",
        191: "ieee-div-zero",
        240: "ts-range", 241: "ts-range", 251: "analyzer",
        255: "ts-range", 256: "ts-range", 257: "ts-range", 258: "ts-range",
        259: "ts-range", 260: "ts-range", 261: "ts-range", 262: "ts-range",
        265: "ts-range", 266: "ts-range",
        198: "double-str-cast", 199: "double-str-cast",
        200: "double-str-cast",
        278: "nan-semantics", 282: "ts-range", 293: "nan-semantics",
        297: "pipe-or",
    }),
    "aggregation": (105, {66: "analyzer", 74: "analyzer",
                          104: "nan-agg", 109: "nan-semantics"}),
    "analytic-fns": (83, {43: "ieee-div-zero", 59: "analyzer"}),
    "joins": (51, {49: "nan-semantics", 52: "nan-semantics",
                   53: "nan-semantics"}),
    "outer-joins": (33, {}),
    "outer-to-inner-joins": (18, {19: "needs-ddl"}),
    "semi-joins": (22, {}),
    "inline-view": (33, {}),
    "inline-view-limit": (7, {}),
    "subquery": (92, {51: "not-in-null"}),
    "subquery-in-constant-lhs": (32, {8: "not-in-null", 32: "not-in-null"}),
    "limit": (19, {}),
    "top-n": (54, {29: "ieee-div-zero", 30: "ieee-div-zero"}),
    "sort": (8, {}),
    "union": (61, {}),
    "intersect": (39, {12: "type-coercion", 35: "void-setop"}),
    "except": (55, {}),
    "distinct": (33, {}),
    # ndv()/distinctpc/distinctpcsa match the reference VERBATIM
    # (functions/hll.py, functions/pc.py — exact hash + sketch + bias)
    "distinct-estimate": (8, {}),
    "empty": (13, {}),
    "with-clause": (11, {3: "analyzer"}),
    "grouping-sets": (6, {5: "analyzer", 6: "analyzer", 7: "analyzer",
                          9: "analyzer", 10: "analyzer"}),
    "multiple-distinct-aggs": (30, {}),
    "null_data": (5, {}),
    "misc": (11, {}),
    "string-literals": (6, {}),
    "special-strings": (2, {}),
    "decimal": (31, {}),
    "decimal-exprs": (11, {39: "ns-precision"}),
    "alias": (7, {}),
    "chars": (14, {2: "type-coercion", 4: "type-coercion",
                   6: "type-coercion"}),
    "chars-formats": (4, {}),
    "scanners-many-nulls": (2, {}),
    "single-node-nlj": (15, {}),
    "semi-joins-exhaustive": (1, {}),
    "subquery-single-node": (2, {}),
    "select-lazy-timestamp": (0, {0: "needs-ddl"}),
    "views": (7, {}),
    "overflow": (1, {}),
    "random": (0, {0: "analyzer", 1: "analyzer", 2: "analyzer"}),
    "range-constant-propagation": (3, {}),
    "partition-key-scans": (8, {}),
    "nested-types-scanner-basic": (23, {}),
    "nested-types-scanner-maps": (10, {}),
    "nested-types-scanner-position": (33, {}),
    "nested-types-scanner-array-materialization": (66, {}),
    "nested-types-scanner-multiple-materialization": (3, {}),
    "nested-types-runtime": (26, {}),
    "nested-types-basic-partitioned": (24, {}),
    "nested-types-with-clause": (1, {3: "analyzer"}),
    "string-escaping": (5, {}),
    "mt-dop": (2, {}),
    "joins_mt_dop": (2, {}),
    "parquet-stats-agg": (8, {}),
    # Deliberately not wired (r6 triage; r7: analytic-fns-tpcds and
    # the nested-types-tpch family came online via the DuckDB
    # dbgen/dsdgen sf1 fixtures — sources/tpch_ref.py, tpcds_ref.py):
    #   explain-level0..3.test — asserts Impala's EXPLAIN text format
    #     (PLAN-ROOT SINK/EXCHANGE lines, per-host resource header);
    #     this engine's EXPLAIN is Catalyst's. Faking the text would
    #     test a string template, not a planner.
    #   dateless_timestamp_{text,parquet}.test — every block uses the
    #     $DATABASE runner variable + per-run HDFS file loads; nothing
    #     runnable remains after the runner-variable skip.
    # block 14 (describe <tbl>.row__id) implemented r10 with the ACID
    # model (acid.py; the fixed five-field synthetic struct)
    "describe-path": (14, {}),
    "hdfs-partitions": (19, {}),
    "insert": (62, {42: "double-str-cast"}),
    "insert_permutation": (40, {}, {r"insert_permutation_test\.": ""}),
    "scanners": (13, {}),
    "create-table-as-select": (14, {1: "type-coercion"}),
    "chars-tmp-tables": (27, {29: "type-coercion"}),
    "parquet-stats": (81, {
        65: "nan-semantics", 68: "nan-semantics", 70: "nan-semantics",
        71: "nan-semantics", 73: "nan-semantics", 74: "nan-semantics",
        76: "nan-semantics", 77: "nan-semantics", 78: "nan-semantics",
        79: "nan-semantics", 80: "nan-semantics", 81: "nan-semantics",
        # REPLACE COLUMNS type-narrowing on a table whose stats the
        # block then inspects via the reference's parquet-v1 layout
        28: "needs-ddl",
    }),
    # r8: the EXPLAIN blocks came online (db-qualified scan labels +
    # the HDFS partitions=pruned/total display); the one xfail is a
    # boolean-partition prune Catalyst resolves at runtime, not in
    # the compile-time footprint this renderer prints
    "partition-col-types": (19, {17: "bool-partition-prune-display"}),
    "insert_overwrite": (16, {}),
    "empty-build-joins": (14, {}),
    "cast_format_from_table": (11, {}),
    "datasketches-hll": (17, {
        15: "needs-hive-data", 20: "needs-hive-data",
        25: "needs-hive-data", 30: "needs-hive-data",
        31: "needs-hive-data", 32: "needs-hive-data",
        40: "needs-hive-data", 22: "pandas-udaf-empty",
    }),
    "datasketches-kll": (24, {
        12: "pandas-udaf-empty", 15: "pandas-udaf-empty",
        21: "pandas-udaf-empty", 26: "pandas-udaf-empty",
        30: "pandas-udaf-empty", 45: "pandas-udaf-empty",
        55: "pandas-udaf-empty", 66: "pandas-udaf-empty",
        14: "needs-hive-data", 19: "needs-hive-data",
        24: "needs-hive-data", 29: "needs-hive-data",
        69: "needs-hive-data",
    }),
    "date": (70, {
        49: "type-coercion", 51: "type-coercion", 52: "ts-range",
    }),
    # r6 ALTER TABLE veneer (altertable.py): 144/212 blocks pass; the
    # xfails are environment/semantics families, not bugs:
    #   runner-setup-table    part_data is created by the reference's
    #                         PYTHON driver, not the .test file
    #   varchar-erasure       DataFrame writes erase VARCHAR(n) to
    #                         STRING, describe shows the base type
    #   external-part-data    partitions LOCATION'd at reference
    #                         warehouse files this env doesn't have
    #   hive-default-partition NULL/'' partition keys map to
    #                         __HIVE_DEFAULT_PARTITION__ semantics
    #                         Spark's partition DDL can't spell
    #   location-semantics    SET LOCATION redirects reads to other
    #                         dirs (schema-on-location); managed
    #                         tables keep reading their own data
    #   partition-stats-layout SHOW PARTITIONS prints Impala's stats
    #                         table (sizes, Total row)
    #   schema-on-read-delim  changing the field delimiter re-reads
    #                         EXISTING text files under the new
    #                         delimiter (data reinterpretation)
    "alter-table": (147, dict(
        [(i, "runner-setup-table") for i in (11, 13)]
        + [(i, "varchar-erasure") for i in (33, 34)]
        # SET LOCATION onto the load cluster's warehouse dirs: the
        # listings expect the adopted files (r8, show-table-stats
        # blocks now runnable)
        + [(i, "warehouse-location-adoption")
           for i in (37, 39, 81, 84)]
        + [(i, "external-part-data") for i in (38, 41, 49, 77, 80)]
        + [(i, "location-semantics") for i in range(118, 130)]
        + [(i, "partition-stats-layout") for i in (135, 137)]
        + [(i, "schema-on-read-delim")
           for i in (172, 173, 175, 176, 177)])),
    # r6 scanner/DDL wave 2: raw-text fixture tables from the
    # reference's own data files, COMPUTE STATS summaries, scratch
    # tables shadowing fixture names
    "compute-stats": (41, {
        # SHOW TABLE STATS listings (runnable since the r8
        # show-table-stats wiring) pin the reference's canonical TEXT
        # byte sizes/file counts; these insert-target fixtures store
        # parquet, so Size/#Files cells differ (counts and stats
        # verified by the passing blocks)
        2: "default-format-bytes", 11: "default-format-bytes",
        15: "default-format-bytes", 19: "default-format-bytes",
        32: "default-format-bytes", 34: "default-format-bytes",
        # backtick-quoted numeric-leading identifiers (`123_table`):
        # the digit-leading COLUMN names in the create still fail
        # Spark's lexer; the backtick table name itself works (r8)
        53: "numeric-identifiers",
        # 1000-column widetable isn't part of the regenerated fixture
        59: "no-widetable-fixture", 60: "no-widetable-fixture",
        61: "no-widetable-fixture",
    }),
    "create-table": (27, {
        # avro.schema.url points into the load cluster's warehouse;
        # the schema json is not shipped in the reference repo
        17: "needs-avro-schema-file", 18: "needs-avro-schema-file",
        19: "needs-avro-schema-file", 20: "needs-avro-schema-file",
        21: "needs-avro-schema-file", 22: "needs-avro-schema-file",
        32: "varchar-erasure",
    }),
    "insert_null": (15, {
        # literal '\N' string round-trip: the csv writer does not
        # escape the null marker (Impala's text writer does)
        2: "csv-null-escape",
        # nullinsert_alt re-reads nullinsert's FILES under another
        # schema (shared LOCATION — schema-on-location)
        3: "schema-on-location",
    }),
    "delimited-text": (7, {}),
    "delimited-latin-text": (3, {}),
    "hdfs-text-scan": (10, {}),
    "mixed-format": (4, {}),
    "date-partitioning": (12, {}),
    "disable-codegen": (4, {}),
    "partition-key-scans-with-joins": (1, {}),
    # r6 scanner wave 3: tables served from the reference's own binary
    # parquet files (sources/functional._RAW_PARQUET), LIKE PARQUET,
    # incremental-stats partition tracking
    "parquet-decimal-formats": (7, {}),
    "parquet-zero-rows": (4, {}),
    "parquet-rle-encoded-bool": (2, {}),
    "parquet-deprecated-stats": (18, {}),
    "parquet-def-levels": (3, {}),
    "parquet-type-widening": (1, {}),
    "hive2-pre-gregorian-date": (2, {}),
    "out-of-range-date": (1, {}),
    "create-table-like-file": (21, {}),
    # r8: table-level column stats now follow the incremental-stats
    # COVER (merged like the reference's per-partition sketches —
    # engine._refresh_incremental_colstats), closing the
    # incremental-colstats-aggregation xfail; the listing blocks pin
    # the reference's canonical TEXT byte sizes (parquet here)
    # r9: the 'Incremental stats' column now renders the per-partition
    # cover (engine.inc_parts), which was the REAL blocker for 6 of
    # the listing blocks previously xfailed as default-format-bytes
    "compute-stats-incremental": (26, dict(
        [(i, "default-format-bytes")
         for i in (2, 5, 7, 17, 21, 23, 28, 29, 30, 32)])),
    # --- r8 functional wave 6 ---
    # footer-corrupt parquet under MT_DOP (scan_errors footer check)
    "mt-dop-parquet": (1, {}, None,
                       ["SET MT_DOP=4", "SET ABORT_ON_ERROR=1"]),
    "mt-dop-parquet-nested": (2, {}, {
        r"tpch_nested_parquet\.": "tpch_nested_"},
        ["SET MT_DOP=4"]),
    # hidden-file exclusion; block 0 pins the reference's canonical
    # text byte sizes (this fixture's parquet-derived rendition
    # differs in float/timestamp spellings — counts verified block 1)
    "hidden-files": (1, {0: "text-bytes"}),
    "insert_part_key": (1, {}),
    "insert-random-partition": (3, {}),
    # profile-verified limit enforcement (RowsProduced == result size)
    "single-node-joins-with-limits-exhaustive": (4, {}, _RTF_REWRITES),
    "single-node-large-sorts": (2, {}, _RTF_REWRITES),
    "single-node-nlj-exhaustive": (0, {
        # pinned l_comment text: DuckDB's dbgen comments differ
        # (dbgen-comment-variant, as in min_max_filters); the
        # mem-limit CATCH has no analogue (no per-query mem limits)
        0: "dbgen-comment-variant", 1: "no-query-mem-limit"},
        _RTF_REWRITES),
    # avro decimals over the reference's own container file; the sf1
    # aggregate block maps tpch_avro_snap onto the dbgen views
    "decimal_avro": (4, {}, {r"tpch_avro_snap\.": "tpch_ref_"}),
    # 100-deep complex types (Types.MAX_NESTING_DEPTH) over the
    # reference's own parquet files
    "max-nesting-depth": (1, {
        # absolute FROM-clause paths with ~100 hops: the collection
        # translator resolves the shallow corpus shapes but not yet
        # these (DIALECT.md deep-from-path); the struct column-path
        # block (100-deep SELECT path) passes
        1: "deep-from-path-translator",
        3: "deep-from-path-translator",
        5: "deep-from-path-translator",
        7: "deep-from-path-translator",
        # the 100-deep RELATIVE chains (100 nested lateral joins)
        # overflow the local JVM's thread stack during plan
        # serialization — hard-skipped to keep the session alive;
        # the absolute-path blocks scan the same 100-deep files
        2: "skip:deep-lateral-jvm-stack",
        4: "skip:deep-lateral-jvm-stack",
        6: "skip:deep-lateral-jvm-stack",
        8: "skip:deep-lateral-jvm-stack"},
        {r"qtest_maxnestingdepth\.": ""}),
    "date-fileformat-support": (5, {
        # the orc container's pre-Gregorian day number reads as
        # 0001-01-01 under Spark's proleptic rebase where the
        # reference NULLs it (orc-date-rebase); the final block
        # mounts OTHER tables' directories as mixed-format partitions
        3: "orc-date-rebase", 6: "mixed-format-partition-adoption"}, {
        r"qtest_datefileformatsupport\.date_tbl\b": "qscratch_date_tbl",
        r"qtest_datefileformatsupport\.": ""}),
    # tz flag must not change scanned timestamps across formats; every
    # functional_X qualifier resolves to the same flat fixture
    "file-formats-with-local-tz-conversion": (7, {
        # the avro dataset types timestamp_col STRING; the flat
        # fixture is TIMESTAMP (one shared relation for all variants)
        3: "avro-string-timestamp"}),
    # r8 stats lifecycle edges
    "mt-dop-compute-stats": (1, {}, None, ["SET MT_DOP=4"]),
    # ALTER SET TBLPROPERTIES numRows feeds SHOW TABLE STATS + the
    # corrupt-stats planner warning; the EXPLAIN blocks additionally
    # pin the reference's distributed-plan display (merge-agg node
    # ids, size-based cardinality fallback) — reason-coded xfails
    "corrupt-stats": (7, {
        9: "planner-estimate-display", 12: "planner-estimate-display",
        15: "planner-estimate-display", 16: "planner-estimate-display",
        19: "planner-estimate-display", 22: "planner-estimate-display",
        23: "planner-estimate-display"}),
    # COLUMN_STATS_ACCURATE lifecycle: Hive's ANALYZE (staged through
    # this engine) records the marker, an engine INSERT clears it
    "clear-statsaccurate": (4, {}),
    "compute-stats-date": (5, {
        2: "default-format-bytes", 7: "default-format-bytes"}),
    "compute-stats-decimal": (5, {2: "default-format-bytes"}),
    # r6 wave 4: dateless (time-only) timestamps — INT96 Julian day 0
    # and date-less text rows read as NULL (timestamp-value.h range);
    # the abort_on_error=1 CATCH blocks are skipped by the harness
    "dateless_timestamp_parquet": (1, {}),
    "dateless_timestamp_text": (1, {}),
    # r6 wave 4: Impala-format EXPLAIN (impala_explain.py renders the
    # reference's plan-text grammar from the Spark physical plan);
    # levels 2/3 assert the reference's per-fragment minicluster
    # memory ledger — out of scope (DIALECT.md)
    "explain-level0": (2, {}, None, ["set explain_level=0"]),
    "explain-level1": (2, {}, None, ["set explain_level=1"]),
    # levels 2/3 (r8): the per-fragment ledger renders (fragments,
    # DATASTREAM SINK, tuple-ids/row-size/cardinality, pipelines,
    # per-node memory, file formats) with HONEST estimates; blocks
    # pinning the reference's absolute minicluster numbers (row-size
    # bytes, hosts=3, Memory=74MB) are reason-coded xfails
    # (DIALECT.md minicluster-cost-model)
    # explain-level2 is NOT counted as wired (VERDICT r8 #3): every
    # one of its 3 blocks pins either host topology (hosts=3/hosts=2
    # from the minicluster's HDFS block placement) or absolute
    # cost-model outputs (Memory=74MB / 4.07GB) in PLAIN expected
    # lines — nothing deterministic is left to verify from the file
    # itself. The level-2 ledger structure (fragments, DATASTREAM
    # SINK, tuple-ids/row-size/cardinality, pipelines) is pinned by
    # tests/test_explain_levels.py instead; adjudication in
    # COVERAGE.md.
    "explain-level3": (2, {0: "minicluster-cost-model",
                           3: "oos-iceberg"},
                       None, ["set explain_level=3"]),
    "result-spooling": (7, {}),
    "hdfs-tiny-scan": (3, {}),
    # --strict_mode daemon flag: overflow converts to NULL instead of
    # the scanner's default strto* saturation (overflow_strict view)
    "strict-mode": (1, {}, {"overflow": "overflow_strict"}),
    "values": (6, {
        # IMPALA-2749 double<->decimal arithmetic result typing
        # (+,-,/ yield DECIMAL in the reference); this engine keeps
        # Spark's double-wins promotion — DIALECT.md
        7: "double-decimal-arith",
        # same family: dbl*dbl*dec multiplies in decimal first in the
        # reference, giving a last-ulp-different double print
        8: "double-decimal-arith",
    }),
    # db/table literally named with keywords (`parquet`.`parquet`);
    # the reference's pytest driver pre-creates them — mirrored here
    # as presets
    "partition-key-scans-plan-rows": (1, {}),
    # real TPC-H sf1 nested fixture (sources/tpch_ref.py — DuckDB
    # dbgen + the reference's load_nested.py schema); table_rewrites
    # point the plain/qualified spellings at our cached views
    "wide-row": (1, {}),
    "set": (6, {
        # OPTIMIZE_PARTITION_KEY_SCANS rewrites the agg into a UNION of
        # constant partition keys in the reference's planner; this
        # engine answers from the same metadata but renders the
        # ordinary scan plan, so the pinned node lines differ
        20: "partition-key-scan-plan",
        21: "partition-key-scan-plan",
        # r8: the EXPLAIN listing blocks came online ($FILESYSTEM_NAME
        # substitution); they additionally pin the reference's
        # distributed merge-agg node ids (planner display)
        22: "planner-estimate-display", 23: "planner-estimate-display",
        24: "planner-estimate-display", 25: "planner-estimate-display",
        26: "planner-estimate-display", 27: "planner-estimate-display",
    }),
    # the avro date_tbl variant drops the poisoned partition whenever
    # date_col is materialized; count(*) doesn't materialize it, so
    # that one block keeps the base table (3 ordered rewrites)
    "avro_date": (9, {}, {
        r"count\(\*\)\s+from\s+date_tbl": "count(*) from base_date_tbl",
        "date_tbl": "avro_date_tbl",
        "base_date_tbl": "date_tbl",
    }),
    "string-escaping-rcfile-bug": (5, {}, {
        "strings_with_quotes": "strings_with_quotes_rcfile",
    }),
    "out-of-range-timestamp-continue-on-error": (1, {
        # block 1's expected rows carry nanosecond time-of-day the
        # µs engine cannot represent (also needs an int64-nanos read)
        1: "ns-precision",
    }),
    # PARQUET_FALLBACK_SCHEMA_RESOLUTION (overlay tables +
    # schema_resolution.py); data staged via emulated SHELL copies;
    # metadata-only ALTER opted in (engine rewrites storage otherwise)
    "parquet-resolution-by-name": (12, {
        # switched_map.parq stores the MAP group's key/value members in
        # swapped order with swapped names; Spark's parquet map reader
        # is spec-positional and cannot re-pair them by name
        14: "parquet-map-field-names",
    }, None, ["set alter_schema_in_place=1"]),
    # IMPALA-901 hash-collision regression: the runner pre-creates the
    # 1-column table in its unique db
    "aggregation_no_codegen_only": (1, {}, None, [
        "drop table if exists imp_901",
        "create table imp_901 (col tinyint)",
    ]),
    # scanner-vs-metadata mismatch semantics: the runner pre-copies
    # jointbl's files under a fresh table; a managed CTAS + the ALTER
    # veneer reproduces the add/drop-column scan behavior
    "test-unmatched-schema": (10, {}, None, [
        "drop table if exists jointbl_test",
        "create table jointbl_test as select * from jointbl",
    ]),
    # real dsdgen sf1 item table (sources/tpcds_ref.py)
    "analytic-fns-tpcds": (8, {}, {"item": "tpcds_ref_item",
                               "customer": "tpcds_ref_customer"}),
    # r10: the pos-equality pair-alias join (block 11) translates to
    # a row-local sibling projection — xfail deleted
    "nested-types-tpch": (12, {}, {
        r"tpch_nested_parquet\.": "tpch_nested_",
        r"tpch_parquet\.": "tpch_ref_",
        "customer": "tpch_nested_customer",
        "region": "tpch_nested_region",
        "supplier": "tpch_nested_supplier",
        "part": "tpch_nested_part",
    }),
    "nested-types-tpch-limit": (2, {}, {
        "customer": "tpch_nested_customer",
    }),
    "nested-types-tpch-errors": (0, {}, {
        "customer": "tpch_nested_customer",
    }),
    "nested-types-subplan": (43, {
        # LIMIT 1 over an unordered DISTINCT pair join: the recorded
        # value is the reference loader's insertion-order artifact
        # (its own block 3 uses regex rows for exactly this reason)
        44: "subplan-limit-pick",
    }, {
        r"tpch_nested_parquet\.": "tpch_nested_",
        "customer": "tpch_nested_customer",
        "region": "tpch_nested_region",
        "supplier": "tpch_nested_supplier",
    }),
    "nested-types-subplan-single-node": (1, {}, {
        "customer": "tpch_nested_customer",
    }),
    # compressed-text scanner over the reference's own .bz2 files
    # (single-stream + pbzip2 multi-stream); large_* twins are
    # generated at load time upstream, not shipped in the checkout
    "text-bzip-scan": (7, {
        3: "reference-data-not-shipped",
        4: "reference-data-not-shipped",
        5: "reference-data-not-shipped",
        8: "reference-data-not-shipped",
        9: "reference-data-not-shipped",
    }),
    # IMPALA-5050 int64 timestamp_millis/micros columns read as
    # TIMESTAMP (with query-timezone conversion for isAdjustedToUTC)
    # and as BIGINT; PARQUET_TIMESTAMP_TYPE write rounding
    "parquet-int64-timestamps": (10, {
        8: "ns-precision", 13: "ns-precision",
    }),
    "hdfs-text-scan-with-header": (10, {}),
    # parquet dictionary/stat filtering incl. nested collections over
    # customer_multiblock and map-key predicates (LATERAL VIEW OUTER
    # translation of `left outer join f.int_map m`)
    "parquet-filtering": (34, {}),
    # CREATE TABLE LIKE across views/sources incl. STORED AS AVRO
    # column-type conversion, sort.columns inheritance, and external
    # LOCATION adoption of the source's data files
    "create-table-like-table": (30, {}),
    "parquet": (8, {
        # lineitem_sixblocks' parquet copy is not in the reference
        # checkout (only a 30k-row ORC sibling); the multiblock
        # twin covers the same scanner surface
        8: "reference-data-not-shipped",
        10: "reference-data-not-shipped",
        12: "reference-data-not-shipped",
    }),
    "compute-stats-keywords": (2, {}, None, [
        "drop database if exists `parquet` cascade",
        "create database `parquet`",
        "create table `parquet`.impala_1055 (i int)",
        "create table `parquet`.`parquet` (i int)",
    ]),
    # r6 timezone-conversion semantics (dialect.rewrite_local_tz)
    "local-timestamp-functions": (
        6, {}, None,
        ["set use_local_tz_for_unix_timestamp_conversions=1"]),
    "utc-timestamp-functions": (7, {}),
    # r6 namespace-shim wave: db-scoped DDL (namespaces.py)
    "views-ddl": (43, {}),
    "create-database": (29, {}),  # +12 r9: describe-database blocks verify
    "use": (2, {}),
    "show": (24, {
        # full-inventory listings assume the reference's exact loaded
        # table set (incl. error/unsupported variants this fixture
        # deliberately lacks)
        7: "catalog-inventory", 9: "catalog-inventory",
        # SHOW FILES over the flat parquet fixtures: the pinned
        # listings name the reference warehouse's per-partition text
        # files (this fixture is one parquet relation per table)
        27: "flat-fixture-layout", 28: "flat-fixture-layout",
        29: "flat-fixture-layout",
    }),
    # r8: t1/t2 column-stat blocks came online (the LOCATION-bearing
    # creates now execute); the two remaining xfails pin the
    # reference's canonical TEXT byte sizes (parquet-stored here)
    "truncate-table": (10, {
        0: "default-format-bytes", 4: "default-format-bytes",
    }),
    "functions-ddl": (20, {
        # VERIFY_IS_SUBSET probes into Impala's builtin signature
        # inventory (this engine's builtins are Spark's; the
        # _impala_builtins listing is deliberately empty)
        30: "builtin-introspection", 32: "builtin-introspection",
        34: "builtin-introspection",
        # native .so UDFs are catalog-surface only here
        37: "native-udf-exec", 42: "native-udf-exec",
    }),
    # r7 runtime-filter workloads: the queries are plain functional /
    # tpch joins whose RESULTS sections verify normally; the
    # RUNTIME_PROFILE counters they additionally pin (RowsRead, Files
    # rejected) are Impala-daemon introspection the harness does not
    # verify — Spark's equivalents are DPP + bloom runtime filters
    # (session.py confs), plan-asserted in test_plan_quality.py.
    # kudu-flavored spellings map to the same logical tables.
    # LOAD DATA move semantics over SETUP_HOOKS["load"]'s staging
    # (the reference drives this from tests/metadata/test_load.py)
    "load": (24, {}),
    # predicate partition specs + Impala SHOW PARTITIONS/FILES
    # listings (partitions.py)
    "partition-ddl-predicates-all-fs": (21, {}),
    # SHOW COLUMN STATS / ALTER SET COLUMN STATS (engine col_stats
    # registry; partition-key NDV derived from the key columns)
    "alter-table-set-column-stats": (6, {}),
    # parquet page-index workload over the reference's own data files
    # (decimals_1_10, alltypes_tiny_pages, nested_decimals, ... —
    # value-skipping is a scanner-internal concern; the row-level
    # results are the graded surface)
    "parquet-page-index": (18, {}, _RTF_REWRITES),
    # parquet-page-index-large NOT wired: all 11 blocks `select *`
    # sf1 lineitem rows incl. l_comment, whose text DuckDB's dbgen
    # generates differently than the official dbgen the reference
    # loaded (keys/prices/dates are bit-identical — see the
    # dbgen-comment-variant xfails in min_max_filters)
    "parquet-page-index-alltypes-tiny-pages": (7, {}),
    "parquet-page-index-alltypes-tiny-pages-plain": (7, {}),
    "nested-types-parquet-page-index": (31, {}),
    "nested-types-parquet-stats": (22, {}),
    # --- error-path wave (r8): the scanner abort/continue contract
    # over the reference's own corrupt files (scan_errors.py real
    # validations: footer arithmetic, thrift parse, declared-vs-
    # decoded counts, INT96 range via raw page decode) ---
    "strict-mode-abort": (9, {}, None,
                          ["SET STRICT_MODE=1", "SET ABORT_ON_ERROR=1"]),
    "parquet-abort-on-error": (2, {}, None, ["SET ABORT_ON_ERROR=1"]),
    "parquet-continue-on-error": (4, {}),
    "parquet-corrupt-footer-len-incr": (1, {}, None,
                                        ["SET ABORT_ON_ERROR=1"]),
    "parquet-corrupt-footer-len-decr": (1, {}, None,
                                        ["SET ABORT_ON_ERROR=1"]),
    "parquet-corrupt-rle-counts": (1, {}),
    "parquet-corrupt-rle-counts-abort": (1, {}, None,
                                         ["SET ABORT_ON_ERROR=1"]),
    "out-of-range-timestamp-abort-on-error": (2, {}, None,
                                              ["SET ABORT_ON_ERROR=1"]),
    "parquet-invalid-minmax-stats": (2, {
        # NaN comparison semantics: Impala NaN>0 is false / NOT(>=0)
        # is true; Spark orders NaN greatest (DIALECT.md nan-semantics)
        0: "nan-semantics", 2: "nan-semantics",
    }),
    # PARQUET_ARRAY_RESOLUTION: 2-vs-3-level list encoding resolved
    # by position/name per statement (array_resolution.py), incl. the
    # reference's pinned WRONG-data outcomes under mismatched policies
    "parquet-ambiguous-list-modern": (6, {}),
    "parquet-ambiguous-list-legacy": (6, {}),
    # IMPALA-867 avro coldef-mismatch clones: the avro schema wins
    # reconciliation, so the clones carry avro-converted types
    # (TINYINT/SMALLINT -> INT, TIMESTAMP -> STRING); rewrites run on
    # the protected qualifier form
    "compute-stats-avro": (12, dict(
        # avro.schema.url points into the load cluster's warehouse;
        # the json is not shipped in the reference repo (same family
        # as create-table's needs-avro-schema-file xfails)
        [(i, "needs-avro-schema-file")
         for i in (16, 17, 19, 20, 21, 23, 24, 25, 27)]
        # listings over tables whose bad-schema creating blocks the
        # engine rejects (r8, show-table-stats blocks runnable)
        + [(i, "avro-bad-schema-table") for i in (18, 22, 26)]), {
        r"__fxref__alltypes\b": "avro_alltypes",
    }),
    "hdfs-scan-node": (13, {
        # pre-Hive-9 RCFile binary (oldrcfile.rc): reading it needs
        # the Hive serde session (sources/formats.py read_rcfile);
        # the plain test session is catalog-less
        12: "needs-hive-serde-session",
    }),
    "mt-dop-parquet-scheduling": (8, {}),
    # avro_io reader-schema resolution over the reference's own
    # records1/2.avro (snappy blocks via pyarrow) + avro.schema.literal
    # DDL (schema favored over coldefs except CHAR/VARCHAR)
    # scratch table names shifted off the alltypesagg* prefix so
    # show.test's fixture-inventory LIKE listing stays exact
    "avro-schema-resolution": (8, {}, {
        "alltypesagg_mismatch_column_name_comment":
            "avroagg_mismatch_column_name_comment",
        "alltypesagg_alter_avro_name_comment":
            "avroagg_alter_avro_name_comment",
    }),
    # LIKE ORC file-schema clone; HIVE_QUERY staging runs through the
    # engine; char/varchar inferred via Spark's schema metadata
    "create-table-like-file-orc": (10, {
        # $TRANSACTIONAL_COMPLEXTYPESTBL_FILE: a Hive-ACID delta file
        # the reference repo does not ship
        11: "needs-acid-file",
    }),
    "runtime_filters": (21, {}, _RTF_REWRITES),
    "all_runtime_filters": (45, {}, _RTF_REWRITES),
    "bloom_filters": (8, {}, _RTF_REWRITES),
    "min_max_filters": (40, {
        # l_comment self-join counts: DuckDB dbgen's comment text RNG
        # diverges from the official dbgen the reference loaded, so
        # comment-duplicate distributions differ (keys/dates/prices
        # are bit-identical — every other block passes)
        39: "dbgen-comment-variant",
    }, _RTF_REWRITES),
    "decimal_min_max_filters": (126, {}, _RTF_REWRITES),
    "diff_runtime_filter_types": (12, {}, _RTF_REWRITES),
    "runtime_row_filters": (22, {
        20: "dbgen-comment-variant",
    }, _RTF_REWRITES),
    "runtime_filters_mt_dop": (21, {}, _RTF_REWRITES),
    # --- wave 7 (r9) ---
    # DESCRIBE DATABASE [EXTENDED|FORMATTED] (DescribeDbStmt.java);
    # dbs staged by _setup_describe_db mirroring the reference's
    # tests/metadata/test_metadata_query_statements.py test_describe_db
    "describe-db": (9, {}),
    "describe-hive-db": (5, {}),
    # parquet writer/reader codec error surface: unsupported codec in
    # a scanned file (scan_errors.check_codec raw-footer parse), and
    # the writer's codec validation (engine._insert pq_map reject)
    "parquet-bad-codec": (1, {}, None, ["SET ABORT_ON_ERROR=1"]),
    "insert_parquet_invalid_codec": (1, {}, None,
                                     ["SET COMPRESSION_CODEC=bzip2"]),
    # ORC DATE edges: proleptic no-rebase reads (the reference reads
    # Hive-2 pre-Gregorian dates 'incorrectly' and the test pins it)
    # + out-of-range -> NULL / abort (scan_errors raw pyarrow decode)
    "out-of-range-date-orc": (2, {}),
    "hive2-pre-gregorian-date-orc": (1, {}),
    # file:// LOCATION over the reference's shipped local_tbl csv
    "local-filesystem": (3, {}),
    # stale-avro-metadata contract (avro_stale.py), IMPALA-3092 avro
    # ADD COLUMNS NULL-fill, avro.schema.literal schema replacement
    "avro-schema-changes": (9, {}),
    # two more corrupt-parquet contracts (scan_errors raw byte
    # validations): declared-vs-decodable def levels per page, and an
    # undecompressable dictionary page
    "parquet-num-values-def-levels-mismatch": (
        1, {}, None, ["SET ABORT_ON_ERROR=1"]),
    "parquet-bad-compressed-dict-page-size": (
        1, {}, None, ["SET ABORT_ON_ERROR=1"]),
    # --- wave 8 (r9 continuation) ---
    # plain-RESULTS join blocks (the RUNTIME_PROFILE codegen counters
    # they additionally pin are impalad introspection, same
    # adjudication as the runtime-filter family)
    "datastream-sender-codegen": (3, {}),
    # predicate partition specs against parquet/avro format targets
    # (the all-fs twin is wired above; this file is the HDFS-only
    # remainder of the same partition-DDL surface)
    "partition-ddl-predicates-hdfs-only": (3, {}),
    # IMPALA-7662 error-propagation race: corrupt-magic file + a
    # freshly INSERTed valid file in one table — the scan still fails
    # (scan_errors.check_magic, unmaskable metadata error)
    "parquet-error-propagation-race": (2, {}),
    # LZ4/LZO plugin-gated text partitions: pruned scans succeed,
    # unpruned ones raise CheckPluginEnabled's error; unknown suffix
    # reads as uncompressed text whose garbage row drops
    "unsupported-compression-partitions": (4, {}),
    # legacy-Hive INT96 UTC->session-tz conversion + range validation
    # over the reference's own Hive-2.1.1 files (scan_errors
    # register_hive211_tz_check; the view follows SET TIMEZONE)
    "out-of-range-timestamp-local-tz-conversion": (4, {}),
    # the stats lifecycle at 1234 partitions (full compute, listing,
    # drop stats, incremental compute, listing) — real 2-byte text
    # files so the pinned '2B' sizes verify exactly
    "compute-stats-many-partitions": (4, {}),
    # stats extrapolation (impala.enable.stats.extrapolation):
    # table-level-only stats, EXTRAP #ROWS listing (bytes*rows/
    # totalSize — values match the reference exactly on our own
    # parquet layout), extrapolated-rows in EXPLAIN, unavailable
    # cardinality under DISABLE_HDFS_NUM_ROWS_ESTIMATE. xfails:
    #   hdfs-size-estimate      the reference estimates missing row
    #                           counts from ITS files' bytes/row-width
    #                           (5.97K/17.91K); this engine's honest
    #                           estimate is the parquet footer count
    #   single-node-explain     VERIFY_IS_EQUAL full explains pin the
    #                           num_nodes=1 layout, 'Codegen disabled
    #                           by planner' header and Impala's
    #                           analyzed-query CAST grammar
    "stats-extrapolation": (4, {
        1: "hdfs-size-estimate",
        5: "single-node-explain", 6: "single-node-explain",
        7: "single-node-explain", 8: "single-node-explain",
        9: "single-node-explain", 10: "hdfs-size-estimate",
    }, None, ["SET EXPLAIN_LEVEL=2"]),
}


def test_files_keys_unique():
    """A duplicate key in the FILES literal silently discards the
    earlier entry's config (it happened once: two "values" rows)."""
    src = open(__file__).read()
    start = src.index("FILES:")
    body = src[start:src.index("\n}\n", start) + 2]
    keys = re.findall(r'^\s{4}"([^"]+)":', body, re.MULTILINE)
    dupes = {k for k in keys if keys.count(k) > 1}
    assert not dupes, f"duplicate FILES keys: {sorted(dupes)}"
    assert len(keys) == len(FILES)


def _setup_load(engine, db):
    """Stage what the reference's tests/metadata/test_load.py stages:
    test_load (partitioned LIKE alltypes) + test_load_nopart text
    tables, and test_load_staging/{1..5} — dirs 1-3 one alltypes text
    file each (310 rows), dir 3 plus hidden `.`/`_` copies, dirs 4-5
    four files of 250 rows each, every dir a _hidden_dir."""
    import shutil

    spark = engine.spark
    wh = engine._warehouse_dir()
    for t in ("test_load", "test_load_nopart"):
        spark.sql(f"drop table if exists {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    staging = os.path.join(wh, "test_load_staging")
    shutil.rmtree(staging, ignore_errors=True)
    cols = ("id int, bool_col boolean, tinyint_col tinyint, "
            "smallint_col smallint, int_col int, bigint_col bigint, "
            "float_col float, double_col double, "
            "date_string_col string, string_col string, "
            "timestamp_col timestamp")
    engine.sql(f"create table test_load ({cols}) "
               "partitioned by (year int, month int) "
               "row format delimited fields terminated by ',' "
               "stored as textfile")
    engine.sql(f"create table test_load_nopart ({cols}) "
               "row format delimited fields terminated by ',' "
               "stored as textfile")
    base = spark.table("alltypes").where("year=2010 and month=1") \
        .drop("year", "month")
    tmp = os.path.join(staging, "__csv_tmp__")
    base.coalesce(1).write.option("timestampFormat",
                                  "yyyy-MM-dd HH:mm:ss").csv(tmp)
    src = next(os.path.join(tmp, f) for f in os.listdir(tmp)
               if f.endswith(".csv"))
    import itertools

    with open(src) as fh:
        lines = fh.readlines()
    for i in range(1, 6):
        d = os.path.join(staging, str(i))
        os.makedirs(os.path.join(d, "_hidden_dir"), exist_ok=True)
        if i <= 3:
            shutil.copyfile(src, os.path.join(d, "100101.txt"))
        else:
            quarter = itertools.cycle(lines)
            for k in range(4):
                with open(os.path.join(d, f"agg_{k}.txt"), "w") as out:
                    out.writelines(next(quarter) for _ in range(250))
    for hidden in (".100101.txt", "_100101.txt"):
        shutil.copyfile(src, os.path.join(staging, "3", hidden))
    shutil.rmtree(tmp, ignore_errors=True)


def _setup_ambig(which):
    """tests/query_test/test_nested_types.py::test_ambiguous_list —
    the runner declares ambig_{modern,legacy} with the LOGICAL element
    schema over the 3-level/2-level-encoded reference parquet file;
    the engine re-resolves the view per statement under the current
    (PARQUET_FALLBACK_SCHEMA_RESOLUTION, PARQUET_ARRAY_RESOLUTION)."""
    def hook(engine, db):
        engine.array_overlays[f"ambig_{which}"] = {
            "location": ("/root/reference/testdata/"
                         "parquet_nested_types_encodings/"
                         f"AmbiguousList_{which.capitalize()}.parquet"),
            "array_col": "ambigarray",
            "elem_fields": [
                ("s2", None, [("f21", "int", None),
                              ("f22", "int", None)]),
                ("f11", "int", None),
                ("f12", "int", None),
            ],
        }
    return hook


# per-file python staging the reference does in its pytest driver
# (outside the .test file)
_REFDATA = "/root/reference/testdata/data"
_BADPQ = "/root/reference/testdata/bad_parquet_data"


def _setup_scan_errors(engine, db):
    """Stage what tests/query_test/test_scanners.py stages: checked
    tables over the reference's own corrupt parquet fixtures
    (scan_errors.py implements the validation + continue-mode views)."""
    from incubator_impala_spark import scan_errors as se

    wh = f"/test-warehouse/{db}.db"
    se.register_parquet_check(
        engine, "bad_column_metadata",
        [f"{_REFDATA}/bad_column_metadata.parquet"],
        f"{wh}/bad_column_metadata", "counts",
        "id bigint, int_array array<int>")
    for post in ("incr", "decr"):
        se.register_parquet_check(
            engine, f"corrupt_footer_len_{post}",
            [f"{_REFDATA}/corrupt_footer_len_{post}.parquet"],
            f"{wh}/corrupt_footer_len_{post}", "footer", "c bigint")
    se.register_parquet_check(
        engine, "bad_rle_counts",
        [f"{_REFDATA}/bad_rle_literal_count.parquet",
         f"{_REFDATA}/bad_rle_repeat_count.parquet"],
        f"{wh}/bad_rle_counts", "decode", "c bigint")
    se.register_parquet_check(
        engine, "out_of_range_timestamp",
        [f"{_REFDATA}/out_of_range_timestamp.parquet"],
        f"{wh}/out_of_range_timestamp", "ts_range", "ts timestamp",
        ts_col="ts")
    se.register_parquet_check(
        engine, "out_of_range_time_of_day",
        [f"{_REFDATA}/out_of_range_time_of_day.parquet"],
        f"{wh}/out_of_range_time_of_day", "ts_range", "d timestamp",
        ts_col="d")
    se.register_parquet_check(
        engine, "bad_parquet_strings_negative_len",
        [f"{_BADPQ}/plain-encoded-negative-len.parq",
         f"{_BADPQ}/dict-encoded-negative-len.parq"],
        "/test-warehouse/bad_parquet_strings_negative_len_parquet",
        "decode", "s string")
    se.register_parquet_check(
        engine, "bad_parquet_strings_out_of_bounds",
        [f"{_BADPQ}/plain-encoded-out-of-bounds.parq",
         f"{_BADPQ}/dict-encoded-out-of-bounds.parq"],
        "/test-warehouse/bad_parquet_strings_out_of_bounds_parquet",
        "decode", "s string")


def _setup_bad_codec(engine, db):
    """test_scanners.py test_bad_compression_codec staging: the
    reference's own bad_codec.parquet (codec enum 5000) as a checked
    table."""
    from incubator_impala_spark import scan_errors as se

    wh = f"/test-warehouse/{db}.db"
    se.register_parquet_check(
        engine, "bad_codec", [f"{_REFDATA}/bad_codec.parquet"],
        f"{wh}/bad_codec", "codec",
        "id int, bool_col boolean, tinyint_col tinyint, "
        "smallint_col smallint, int_col int, bigint_col bigint, "
        "float_col float, double_col double, date_string_col string, "
        "string_col string, timestamp_col timestamp, "
        "year int, month int")


def _setup_def_levels_mismatch(engine, db):
    """test_scanners.py test_num_values_def_levels_mismatch staging."""
    from incubator_impala_spark import scan_errors as se

    se.register_parquet_check(
        engine, "num_values_def_levels_mismatch",
        [f"{_REFDATA}/num_values_def_levels_mismatch.parquet"],
        f"/test-warehouse/{db}.db/num_values_def_levels_mismatch",
        "def_levels", "_c0 boolean")


def _setup_bad_dict_page(engine, db):
    """test_scanners.py bad_compressed_dict_page_size staging."""
    from incubator_impala_spark import scan_errors as se

    se.register_parquet_check(
        engine, "bad_compressed_dict_page_size",
        [f"{_REFDATA}/bad_compressed_dict_page_size.parquet"],
        f"/test-warehouse/{db}.db/bad_compressed_dict_page_size",
        "dict_page", "col string")


def _setup_avro_schema_changes(engine, db):
    """Stage what the reference's load scripts stage for
    avro-schema-changes.test: the alltypesaggmultifilesnopart avro
    snapshot (11000 rows, regenerated from the functional alltypesagg
    fixture via this repo's own avro writer), its schema json under
    avro_schemas/, and the 3-row tinytable avro data."""
    import json

    from pyspark.sql import functions as F

    from incubator_impala_spark.sources import avro_io

    engine.avro_stale.clear()
    wh = engine._warehouse_dir()
    snap = os.path.join(wh, "alltypesaggmultifilesnopart_avro_snap")
    schema_dir = os.path.join(wh, "avro_schemas", "functional")
    tiny = os.path.join(wh, "tinytable_avro")
    # staged data dirs: the harness keeps LOCATION clauses that
    # resolve into these (querytest._strip_location)
    if not hasattr(engine, "staged_locations"):
        engine.staged_locations = set()
    engine.staged_locations.update({snap, tiny})
    spark = engine.spark
    if not os.path.exists(os.path.join(
            schema_dir, "alltypesaggmultifilesnopart.json")):
        os.makedirs(schema_dir, exist_ok=True)
        # the avro table's column types (TINYINT/SMALLINT->int,
        # TIMESTAMP->string — the reference's avro conversion)
        df = spark.table("alltypesagg").select(
            F.col("id").cast("int"),
            F.col("bool_col"),
            F.col("tinyint_col").cast("int").alias("tinyint_col"),
            F.col("smallint_col").cast("int").alias("smallint_col"),
            F.col("int_col"), F.col("bigint_col"),
            F.col("float_col"), F.col("double_col"),
            F.col("date_string_col"), F.col("string_col"),
            F.col("timestamp_col").cast("string")
            .alias("timestamp_col"))
        avro_io.write_avro(df.coalesce(4), snap)
        with open(os.path.join(
                schema_dir, "alltypesaggmultifilesnopart.json"),
                "w") as f:
            json.dump(avro_io.avro_schema_for_df(df), f)
    if not os.path.exists(tiny):
        tdf = spark.createDataFrame(
            [("aaaaaaa", "bbbbbbb"), ("ccccc", "dddd"),
             ("eeeeeeee", "f")], "a string, b string")
        avro_io.write_avro(tdf.coalesce(1), tiny)


def _setup_bad_magic(engine, db):
    """test_scanners.py::test_error_propagation_race staging
    (IMPALA-7662): a real parquet table whose directory holds the
    reference's bad_magic_number.parquet; the .test then INSERTs a
    valid file next to it and the scan must still fail."""
    import shutil

    from incubator_impala_spark import scan_errors as se

    spark = engine.spark
    spark.sql("DROP TABLE IF EXISTS bad_magic_number")
    loc = os.path.join(engine._warehouse_dir(), "bad_magic_number")
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(loc, exist_ok=True)
    shutil.copyfile(f"{_REFDATA}/bad_magic_number.parquet",
                    os.path.join(loc, "bad_magic_number.parquet"))
    spark.sql(f"CREATE TABLE bad_magic_number (s string) "
              f"USING parquet LOCATION '{loc}'")
    se.register_magic_dir_check(
        engine, "bad_magic_number", loc,
        f"/test-warehouse/{db}.db/bad_magic_number")


def _setup_multi_text_compression(engine, db):
    """tests/metadata/test_partition_metadata.py::
    test_unsupported_text_compression staging: a partitioned text
    table — 2009/1 plain text (310 alltypes rows), 2009/2 gzip text
    (280 rows), 2009/3 a fake .lz4 file, 2009/4 an unknown suffix
    (read as uncompressed text: its one garbage line drops in
    continue mode), 2009/5 a fake .lzo file."""
    import shutil

    from pyspark.sql import functions as F

    from incubator_impala_spark import scan_errors as se

    spark = engine.spark
    wh = engine._warehouse_dir()
    loc = os.path.join(wh, "multi_text_compression")
    base = spark.table("alltypes").drop("year", "month")
    if not os.path.isdir(os.path.join(loc, "year=2009", "month=5")):
        shutil.rmtree(loc, ignore_errors=True)
        for month, codec in ((1, None), (2, "gzip")):
            d = os.path.join(loc, "year=2009", f"month={month}")
            w = spark.table("alltypes") \
                .where(f"year=2009 and month={month}") \
                .drop("year", "month").coalesce(1).write \
                .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            if codec:
                w = w.option("compression", codec)
            w.csv(d)
        for month, fn, text in (
                (3, "fake.lz4", "some test data"),
                (4, "fake.fake_comp", "fake compression"),
                (5, "fake.lzo", "some test data")):
            d = os.path.join(loc, "year=2009", f"month={month}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, fn), "w") as f:
                f.write(text)
    parts = []
    for month in (1, 2, 4):
        d = os.path.join(loc, "year=2009", f"month={month}")
        parts.append(
            spark.read.schema(base.schema)
            .option("mode", "DROPMALFORMED")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(d)
            .withColumn("year", F.lit(2009))
            .withColumn("month", F.lit(month)))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.createOrReplaceTempView("multi_text_compression")
    se.register_partition_plugin_check(
        engine, "multi_text_compression",
        [({"year": 2009, "month": 3}, "LZ4"),
         ({"year": 2009, "month": 5}, "LZO")])


def _setup_many_partitions(engine, db):
    """testdata/bin/create-table-many-blocks.sh -p 1234 -b 1 staging:
    scale_db.num_partitions_1234_blocks_per_partition_1 — (i int)
    partitioned by (j int), one 2-byte text file ('1\\n') per
    partition. The test's surface is the stats lifecycle at four-digit
    partition counts (the reference updates partitions in 500-row HMS
    RPC batches; here the cost model is one listing + one group-by)."""
    import shutil

    spark = engine.spark
    tbl = "scale_db.num_partitions_1234_blocks_per_partition_1"
    loc = os.path.join(engine._warehouse_dir(),
                       "many_blocks_num_blocks_per_partition_1")
    engine.sql("create database if not exists scale_db")
    phys = engine.ns.phys("scale_db",
                          "num_partitions_1234_blocks_per_partition_1")
    if not spark.catalog.tableExists(phys):
        shutil.rmtree(loc, ignore_errors=True)
        for j in range(1, 1235):
            d = os.path.join(loc, f"j={j}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "impala_1.data"), "w") as f:
                f.write("1\n")
        engine.sql(f"create external table {tbl} (i int) "
                   f"partitioned by (j int) location '{loc}'")
        spark.sql(f"MSCK REPAIR TABLE {phys}")
    # re-runs start from the no-stats face
    engine.sql(f"drop stats {tbl}")


def _setup_hive211_tz(engine, db):
    """test_hive_parquet_timestamp_conversion.py::
    _test_conversion_with_validation staging: the reference's own
    Hive-2.1.1-written INT96 files as tz-converted checked tables
    (convert_legacy_hive_parquet_utc_timestamps=true cluster flag)."""
    from incubator_impala_spark import scan_errors as se

    for t in ("out_of_range_timestamp_hive_211",
              "out_of_range_timestamp2_hive_211"):
        se.register_hive211_tz_check(
            engine, t, f"{_REFDATA}/{t}.parquet",
            f"/test-warehouse/{db}.db/{t}")


def _setup_orc_out_of_range_date(engine, db):
    """test_scanners.py test_date_out_of_range_orc staging."""
    from incubator_impala_spark import scan_errors as se

    se.register_orc_date_check(
        engine, "out_of_range_date_orc",
        [f"{_REFDATA}/out_of_range_date.orc"],
        f"/test-warehouse/{db}.db/out_of_range_date_orc")


def _setup_orc_pre_gregorian(engine, db):
    """test_scanners.py test_pre_gregorian_date_orc staging."""
    from incubator_impala_spark import scan_errors as se

    se.register_orc_date_check(
        engine, "hive2_pre_gregorian_orc",
        [f"{_REFDATA}/hive2_pre_gregorian.orc"],
        f"/test-warehouse/{db}.db/hive2_pre_gregorian_orc")


def _setup_strict_abort(engine, db):
    from incubator_impala_spark import scan_errors as se

    se.register_text_check(
        engine, "overflow", f"{_REFDATA}/overflow.txt",
        ["tinyint", "smallint", "int", "bigint", "float", "double",
         "DECIMAL(13,4)", "DECIMAL(38,0)", "DECIMAL(38,38)"],
        ["tinyint_col", "smallint_col", "int_col", "bigint_col",
         "float_col", "double_col", "decimal0_col", "decimal1_col",
         "decimal2_col"])


def _setup_hidden_files(engine, db):
    """tests/metadata/test_hidden_files.py staging: a partitioned text
    table where partition 2010/1 holds one visible file plus hidden
    (`.`/`_`-prefixed) copies and 2010/2 holds ONLY hidden files —
    the scanner must count/read the visible file alone."""
    import shutil

    spark = engine.spark
    wh = engine._warehouse_dir()
    spark.sql("DROP TABLE IF EXISTS test_hidden_files")
    shutil.rmtree(os.path.join(wh, "test_hidden_files"),
                  ignore_errors=True)
    cols = ("id int, bool_col boolean, tinyint_col tinyint, "
            "smallint_col smallint, int_col int, bigint_col bigint, "
            "float_col float, double_col double, "
            "date_string_col string, string_col string, "
            "timestamp_col timestamp")
    engine.sql(f"create table test_hidden_files ({cols}) "
               "partitioned by (year int, month int) "
               "row format delimited fields terminated by ',' "
               "stored as textfile")
    engine.sql("alter table test_hidden_files "
               "add partition (year=2010, month=1)")
    engine.sql("alter table test_hidden_files "
               "add partition (year=2010, month=2)")
    base = spark.table("alltypes").where("year=2010 and month=1") \
        .drop("year", "month")
    tmp = os.path.join(wh, "__hidden_tmp__")
    shutil.rmtree(tmp, ignore_errors=True)
    base.coalesce(1).write.option("timestampFormat",
                                  "yyyy-MM-dd HH:mm:ss").csv(tmp)
    src = next(os.path.join(tmp, f) for f in os.listdir(tmp)
               if f.endswith(".csv"))
    p1 = os.path.join(wh, "test_hidden_files", "year=2010", "month=1")
    p2 = os.path.join(wh, "test_hidden_files", "year=2010", "month=2")
    os.makedirs(p1, exist_ok=True)
    os.makedirs(p2, exist_ok=True)
    shutil.copyfile(src, os.path.join(p1, "100101.txt"))
    for hidden in (".100101.txt", "_100101.txt"):
        shutil.copyfile(src, os.path.join(p1, hidden))
        shutil.copyfile(src, os.path.join(p2, hidden))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.refreshTable("test_hidden_files")


def _setup_bad_metadata_len(engine, db):
    from incubator_impala_spark import scan_errors as se

    se.register_parquet_check(
        engine, "bad_metadata_len",
        [f"{_REFDATA}/bad_metadata_len.parquet"],
        "/test-warehouse/bad_metadata_len_parquet", "footer",
        "c bigint")


def _setup_decimal_avro(engine, db):
    """avro_decimal_tbl over the reference's own container file
    (testdata/data/avro_decimal_tbl.avro) via the engine's split-aware
    Avro reader."""
    from incubator_impala_spark.sources.avro_io import read_avro

    read_avro(engine.spark, f"{_REFDATA}/avro_decimal_tbl.avro") \
        .createOrReplaceTempView("avro_decimal_tbl")


def _setup_max_nesting(engine, db):
    """tests/query_test/test_nested_types.py::test_max_nesting_depth
    staging: one table per 100-deep complex-type shape, straight over
    the reference's own parquet files."""
    base = "/root/reference/testdata/max_nesting_depth"
    for tbl in ("struct", "int_array", "struct_array", "int_map",
                "struct_map"):
        name = f"{tbl}_tbl"
        engine.spark.read.parquet(f"{base}/{tbl}/file.parq") \
            .createOrReplaceTempView(name)
        try:
            engine.ns.register(db, name, "view", name)
        except Exception:  # noqa: BLE001
            pass


def _setup_date_fileformat(engine, db):
    """tests/query_test/test_date_queries.py::test_fileformat_support
    staging: date tables over the reference's parquet/avro/orc
    container files + the partitioned text date_tbl."""
    import shutil

    from incubator_impala_spark.sources.avro_io import read_avro

    spark = engine.spark
    spark.read.parquet(f"{_REFDATA}/date_tbl.parquet") \
        .createOrReplaceTempView("parquet_date_src")
    wh = engine._warehouse_dir()
    for t in ("parquet_date_tbl",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    spark.sql("CREATE TABLE parquet_date_tbl (date_col date) "
              "USING parquet")
    spark.sql("INSERT INTO parquet_date_tbl "
              "SELECT * FROM parquet_date_src")
    read_avro(engine.spark, f"{_REFDATA}/date_tbl.avro") \
        .createOrReplaceTempView("avro_date_tbl")
    spark.read.orc(f"{_REFDATA}/date_tbl.orc") \
        .createOrReplaceTempView("orc_date_tbl")
    spark.sql("DROP TABLE IF EXISTS qscratch_date_tbl")
    shutil.rmtree(os.path.join(wh, "qscratch_date_tbl"),
                  ignore_errors=True)
    spark.sql("CREATE TABLE qscratch_date_tbl (date_col date) "
              "USING parquet PARTITIONED BY (date_part date)")


def _setup_mt_dop(engine, db):
    """The mt_dop table: an alltypes clone (24 partitions, 11 data
    columns) computed under MT_DOP>0 — the multithreaded-scan path is
    Spark's native local parallelism (mt_dop maps to
    shuffle.partitions, registry.QUERY_OPTION_MAP)."""
    import shutil

    spark = engine.spark
    spark.sql("DROP TABLE IF EXISTS mt_dop")
    shutil.rmtree(os.path.join(engine._warehouse_dir(), "mt_dop"),
                  ignore_errors=True)
    engine.sql("create table mt_dop partitioned by (year, month) as "
               "select * from alltypes")


def _setup_describe_db(engine, db):
    """Stage the describe-db dbs exactly as the reference runner does
    (tests/metadata/test_metadata_query_statements.py:178-186)."""
    for i in range(1, 6):
        engine.sql(f"DROP DATABASE IF EXISTS impala_test_desc_db{i} "
                   f"CASCADE")
    engine.sql("CREATE DATABASE impala_test_desc_db1")
    engine.sql("CREATE DATABASE impala_test_desc_db2 "
               "COMMENT 'test comment'")
    engine.sql("CREATE DATABASE impala_test_desc_db3 "
               "LOCATION '/testdb'")
    engine.sql("CREATE DATABASE impala_test_desc_db4 "
               "COMMENT 'test comment' LOCATION \"/test2.db\"")
    engine.sql("CREATE DATABASE impala_test_desc_db5 "
               "COMMENT 'test comment' MANAGEDLOCATION \"/test2.db\"")


def _setup_describe_hive_db(engine, db):
    """The hive-created dbs (run_stmt_in_hive in the reference runner,
    test_metadata_query_statements.py:188-191) — same DDL grammar."""
    engine.sql("DROP DATABASE IF EXISTS hive_test_desc_db CASCADE")
    engine.sql("DROP DATABASE IF EXISTS hive_test_desc_db2 CASCADE")
    engine.sql("CREATE DATABASE hive_test_desc_db "
               "COMMENT 'test comment' "
               "WITH DBPROPERTIES('pi' = '3.14', 'e' = '2.82')")
    engine.sql("CREATE DATABASE hive_test_desc_db2 "
               "COMMENT 'test comment' MANAGEDLOCATION '/test2.db'")


SETUP_HOOKS = {
    "load": _setup_load,
    "parquet-error-propagation-race": _setup_bad_magic,
    "out-of-range-timestamp-local-tz-conversion": _setup_hive211_tz,
    "compute-stats-many-partitions": _setup_many_partitions,
    "unsupported-compression-partitions": _setup_multi_text_compression,
    "describe-db": _setup_describe_db,
    "describe-hive-db": _setup_describe_hive_db,
    "parquet-bad-codec": _setup_bad_codec,
    "avro-schema-changes": _setup_avro_schema_changes,
    "parquet-num-values-def-levels-mismatch": _setup_def_levels_mismatch,
    "parquet-bad-compressed-dict-page-size": _setup_bad_dict_page,
    "out-of-range-date-orc": _setup_orc_out_of_range_date,
    "hive2-pre-gregorian-date-orc": _setup_orc_pre_gregorian,
    "mt-dop-compute-stats": _setup_mt_dop,
    "hidden-files": _setup_hidden_files,
    "mt-dop-parquet": _setup_bad_metadata_len,
    "decimal_avro": _setup_decimal_avro,
    "max-nesting-depth": _setup_max_nesting,
    "date-fileformat-support": _setup_date_fileformat,
    "parquet-ambiguous-list-modern": _setup_ambig("modern"),
    "parquet-ambiguous-list-legacy": _setup_ambig("legacy"),
    "strict-mode-abort": _setup_strict_abort,
    "parquet-abort-on-error": _setup_scan_errors,
    "parquet-continue-on-error": _setup_scan_errors,
    "parquet-corrupt-footer-len-incr": _setup_scan_errors,
    "parquet-corrupt-footer-len-decr": _setup_scan_errors,
    "parquet-corrupt-rle-counts": _setup_scan_errors,
    "parquet-corrupt-rle-counts-abort": _setup_scan_errors,
    "out-of-range-timestamp-abort-on-error": _setup_scan_errors,
    "out-of-range-timestamp-continue-on-error": _setup_scan_errors,
}

# files graded on the reference's error contract: an unmatched CATCH
# is a FAILURE, not the legacy documented skip
STRICT_CATCH_FILES = {
    "strict-mode-abort", "parquet-abort-on-error", "mt-dop-parquet",
    "parquet-bad-codec", "insert_parquet_invalid_codec",
    "out-of-range-date-orc", "avro-schema-changes",
    "parquet-num-values-def-levels-mismatch",
    "parquet-bad-compressed-dict-page-size",
    "parquet-corrupt-footer-len-incr",
    "parquet-corrupt-footer-len-decr",
    "parquet-error-propagation-race",
    "unsupported-compression-partitions",
    "out-of-range-timestamp-local-tz-conversion",
    "parquet-corrupt-rle-counts-abort",
    "out-of-range-timestamp-abort-on-error",
}


# files that need the sf1 tpch_ref fixture (DuckDB tpch extension)
TPCH_REF_FILES = {n for n in FILES
                  if n.startswith(("nested-types-tpch",
                                   "nested-types-subplan",
                                   "analytic-fns-tpcds"))} | {
    "all_runtime_filters", "bloom_filters", "min_max_filters",
    "diff_runtime_filter_types", "runtime_row_filters"}


@pytest.fixture(scope="module")
def functional_engine(engine):
    from incubator_impala_spark.sources.functional import register_functional

    register_functional(engine.spark)
    try:
        from incubator_impala_spark.sources.tpch_ref import register_tpch_ref
        from incubator_impala_spark.sources.tpcds_ref import \
            register_tpcds_ref

        register_tpch_ref(engine.spark)
        register_tpcds_ref(engine.spark)
        engine._tpch_ref_ok = True
    except Exception:  # noqa: BLE001 — extension absent: skip those files
        engine._tpch_ref_ok = False
    return engine


@pytest.mark.skipif(not os.path.isdir(QT_DIR),
                    reason="reference workload texts not present")
@pytest.mark.parametrize("name", sorted(FILES), ids=str)
def test_functional_query_file(functional_engine, name):
    from incubator_impala_spark.testing import querytest as qt

    entry = FILES[name]
    min_pass, xfail = entry[0], entry[1]
    if name in TPCH_REF_FILES and not getattr(
            functional_engine, "_tpch_ref_ok", False):
        pytest.skip("tpch_ref sf1 fixture unavailable")
    # optional third element: per-file table-name rewrites (e.g. a
    # scratch-db qualifier the runner would create -> our flat views);
    # optional fourth: preset SET statements (files the reference runs
    # under non-default impalad flags)
    rewrites = entry[2] if len(entry) > 2 else None
    presets = entry[3] if len(entry) > 3 else None
    blocks = qt.parse_test_file(os.path.join(QT_DIR, f"{name}.test"))
    # per-file scratch database for the runner's $DATABASE variable
    # (unique-database fixture in the reference's pytest driver)
    db = "qtest_" + re.sub(r"[^a-z0-9]", "", name.lower())
    if name in SETUP_HOOKS:
        SETUP_HOOKS[name](functional_engine, db)
    results = qt.run_blocks(functional_engine, blocks, xfail=xfail,
                            table_rewrites=rewrites, database=db,
                            presets=presets,
                            strict_catch=name in STRICT_CATCH_FILES)
    counts = collections.Counter(r.status for r in results)

    problems = []
    for r in results:
        if r.status in ("fail", "error"):
            q = " ".join(blocks[r.index].query.split())[:140]
            problems.append(
                f"[{r.index}] {r.status}: {r.reason}\n    Q: {q}\n    "
                + "\n    ".join(str(d) for d in r.diffs[:3]))
        elif r.status == "xpass":
            problems.append(f"[{r.index}] xpass — remove stale xfail "
                            f"({r.reason})")
    assert not problems, (
        f"{name}.test: {dict(counts)}\n" + "\n".join(problems))
    assert counts.get("pass", 0) >= min_pass, (
        f"{name}.test pass floor regressed: "
        f"{counts.get('pass', 0)} < {min_pass} ({dict(counts)})")


# ---------------------------------------------------------------------------
# views-compatibility.test — its own section grammar (CREATE_VIEW /
# CREATE_VIEW_RESULTS / QUERY_IMPALA_VIEW_RESULTS; the reference's
# tests/metadata/test_views_compatibility.py runner creates each view
# in Impala AND Hive and records per-engine success). The IMPALA=
# expectations run here (create through the engine, then EXPLAIN a
# probe select); HIVE= lines need a live Hive and are out of scope.
# ---------------------------------------------------------------------------

# Blocks where Spark's (Hive-flavored) grammar accepts what Impala's
# parser rejects — acceptance-surface deltas, not result divergences
VIEWS_COMPAT_XFAIL = {
    # Hive SORT BY in a view body: Impala's parser rejects it, Spark's
    # Hive-derived grammar accepts it (the view then also queries fine)
    14: "hive-sort-by-accepted",
}


@pytest.mark.skipif(not os.path.isdir(QT_DIR),
                    reason="reference workload texts not present")
def test_views_compatibility(functional_engine):
    eng = functional_engine
    content = open(os.path.join(QT_DIR, "views-compatibility.test"),
                   encoding="utf-8").read()
    blocks = [b for b in re.split(r"(?m)^====", content)
              if "---- CREATE_VIEW" in b]
    problems, n_pass = [], 0
    for idx, b in enumerate(blocks):
        subs = {}
        for sub in re.split(r"(?m)^----", b)[1:]:
            header, _, body = sub.partition("\n")
            subs[header.strip()] = body
        create = "\n".join(
            ln for ln in subs["CREATE_VIEW"].split("\n")
            if not ln.lstrip().startswith("#")).strip().rstrip(";")
        # fixture-variant qualifiers resolve to the flat views (same
        # rule as the harness's _rewrite_stmt)
        create = re.sub(r"\bfunctional(_\w+)?\.", "", create)
        exp = dict(
            ln.split("=", 1)
            for ln in subs.get("CREATE_VIEW_RESULTS", "").split("\n")
            if "=" in ln)
        if "IMPALA" not in exp:
            continue
        eng.sql("drop view if exists test")
        try:
            eng.sql(create)
            got = "SUCCESS"
        except Exception:  # noqa: BLE001
            got = "FAILURE"
        outcomes = [("create", got, exp["IMPALA"])]
        qexp = dict(
            ln.split("=", 1)
            for ln in subs.get("QUERY_IMPALA_VIEW_RESULTS", "").split("\n")
            if "=" in ln)
        if got == "SUCCESS" and "IMPALA" in qexp:
            try:
                eng.sql("select * from test").collect()
                qgot = "SUCCESS"
            except Exception:  # noqa: BLE001
                qgot = "FAILURE"
            outcomes.append(("query", qgot, qexp["IMPALA"]))
        bad = [(o, g, e) for o, g, e in outcomes if g != e.strip()]
        if bad and idx not in VIEWS_COMPAT_XFAIL:
            problems.append((idx, bad, " ".join(create.split())[:90]))
        elif not bad and idx in VIEWS_COMPAT_XFAIL:
            problems.append((idx, "stale xfail", ""))
        elif not bad:
            n_pass += 1
    eng.sql("drop view if exists test")
    assert not problems, problems
    assert n_pass >= 17, n_pass


@pytest.mark.skipif(not os.path.isdir(QT_DIR),
                    reason="reference workload texts not present")
def test_invalid_header_rejected():
    """invalid_header.test: the reference's meta-contract
    (tests/query_test/test_invalid_test_header.py) — a .test file
    whose header starts with '----' must be rejected, not silently
    partially ignored."""
    from incubator_impala_spark.testing import querytest as qt

    with pytest.raises(RuntimeError, match="Header must not start"):
        qt.parse_test_file(os.path.join(QT_DIR, "invalid_header.test"))
