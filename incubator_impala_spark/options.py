"""Query options: one table, modelled on the reference's
QUERY_OPTS_TABLE (be/src/service/query-options.h).

Each row names an option once: the Engine attribute or Spark conf its
parsed value lands in, its default (spelled as SET would spell it),
its SET ALL display default and level, and its parser. `Engine.__init__`
sets the defaults, `Engine.set_option` looks a name up here, `SET ALL`
renders the listed rows, and the querytest harness resets and restores
options from the same rows. Adding an option means adding one row.

The reference exposes ~118 options. A name without a row, and a row
with neither attribute nor conf (listed only for SET ALL), is accepted
and ignored (`set_option` returns False), as the reference ignores
options inapplicable to a given query.
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, NamedTuple


class Option(NamedTuple):
    name: str                      # lowercase; SET ALL shows it upper
    attr: str | None = None        # Engine attribute the value sets
    default: str = ""              # as SET spells it; parsed into attr
    parse: Callable[[str], Any] = str
    conf: str | None = None        # Spark conf the value sets instead
    display: str = ""              # SET ALL value while unset
    level: str | None = None       # SET ALL level; None = not listed
    render: Callable[[Any], str] | None = None  # SET ALL value of attr
    on_set: Callable[[Any], None] | None = None  # after each SET


def _flag(v: str) -> bool:
    return v.lower() in ("1", "true")


def _positive_int(v: str) -> str | None:
    # MT_DOP=0 means "auto" (query-options.h): a non-positive or
    # garbage value leaves the conf alone, never shuffle.partitions=0
    return v if v.lstrip("-").isdigit() and int(v) > 0 else None


def _transactional_type(v: str) -> str | None:
    # CREATE TABLE makes an insert-only ACID table under INSERT_ONLY
    # (CreateTableStmt); validation matches ParseUtil (set.test)
    v = v.lower()
    if v not in ("none", "0", "insert_only", "1", ""):
        raise ValueError(
            f"Invalid default transactional type: '{v}'. "
            "Valid values are NONE(0), INSERT_ONLY(1).")
    return "insert_only" if v in ("insert_only", "1") else None


_ARRAY_RES = {"three_level": "three_level", "0": "three_level",
              "two_level": "two_level", "1": "two_level",
              "two_level_then_three_level": "two_level_then_three_level",
              "2": "two_level_then_three_level"}


def _array_resolution(v: str) -> str:
    v = v.lower()
    if v not in _ARRAY_RES:
        raise ValueError(
            f"Invalid parquet array resolution: '{v}'. Valid "
            "values are THREE_LEVEL(0), TWO_LEVEL(1), "
            "TWO_LEVEL_THEN_THREE_LEVEL(2).")
    return _ARRAY_RES[v]


_EXPLAIN_LEVELS = ["minimal", "standard", "extended", "verbose"]


def _explain_level(v: str) -> int:
    # TExplainLevel: a name or its number; anything else is STANDARD
    v = v.lower()
    if v in _EXPLAIN_LEVELS:
        return _EXPLAIN_LEVELS.index(v)
    return int(v) if v.lstrip("-").isdigit() else 1


def _explain_name(level: int) -> str:
    return _EXPLAIN_LEVELS[level].upper() if 0 <= level < 4 \
        else "STANDARD"


def _tz_views(engine) -> None:
    """tz-converted scanner views (IMPALA-5050 int64 timestamp tables)
    and checked views (scan_errors.register_hive211_tz_check) follow
    the session TIMEZONE: metadata-only re-registration."""
    from incubator_impala_spark.sources import functional

    if engine.spark.conf.get(functional._REGISTERED_KEY, None) == "1":
        functional.register_tz_parquet_tables(engine.spark, engine.tz)
    for build in engine.tz_check_views.values():
        build(engine.tz)


OPTIONS: dict[str, Option] = {o.name: o for o in [
    # SET ALL lists these rows, in this order: the subset of
    # query-options.h the workloads assert (set.test VERIFY_IS_SUBSET)
    # with Impala's defaults shown. ABORT_ON_ERROR / STRICT_MODE are
    # the scan-error contract (scan_errors.py): abort raises the
    # reference-shaped message, continue skips/NULLs bad data.
    Option("abort_on_error", "abort_on_error", "0", _flag,
           display="1", level="REGULAR"),
    Option("batch_size", display="0", level="DEVELOPMENT"),
    Option("buffer_pool_limit", level="ADVANCED"),
    # the two sink-abort actions the ACID corpus injects
    # (acid-insert-fail.test); consumed by acid._insert_acid
    Option("debug_action", "debug_action", "", lambda v: v or None,
           level="DEVELOPMENT"),
    # whole-stage codegen off
    Option("disable_codegen", parse=lambda v: str(not _flag(v)).lower(),
           conf="spark.sql.codegen.wholeStage", display="0",
           level="REGULAR"),
    Option("disable_outermost_topn", display="0", level="DEVELOPMENT"),
    Option("explain_level", "explain_level", "1", _explain_level,
           level="REGULAR", render=_explain_name),
    Option("hbase_cache_blocks", display="0", level="ADVANCED"),
    Option("hbase_caching", display="0", level="ADVANCED"),
    Option("max_errors", display="100", level="ADVANCED"),
    Option("max_scan_range_length", display="0", level="DEVELOPMENT"),
    Option("mem_limit", display="0", level="REGULAR"),
    Option("num_nodes", display="0", level="DEVELOPMENT"),
    Option("num_scanner_threads", display="0", level="REGULAR"),
    # THdfsCompression names are all accepted at SET time
    # (query-options.cc ParseUtil); the parquet writer validates its
    # subset at INSERT (Engine._insert). ZSTD:<level> carries a level.
    Option("compression_codec", "compression_codec", "",
           lambda v: v.lower().split(":")[0] or None, level="REGULAR"),
    Option("parquet_file_size", display="0", level="ADVANCED"),
    Option("request_pool", level="REGULAR"),
    Option("sync_ddl", display="0", level="REGULAR"),
    Option("default_file_format", display="TEXT", level="REGULAR"),
    # read by impala_explain's cardinality estimate
    Option("disable_hdfs_num_rows_estimate", display="0", level="REGULAR"),
    # OFF disables Spark's bloom-filter runtime filters
    Option("runtime_filter_mode",
           parse=lambda v: "false" if v.lower() == "off" else "true",
           conf="spark.sql.optimizer.runtime.bloomFilter.enabled",
           display="GLOBAL", level="REGULAR"),
    # 0=POSITION, 1=NAME: how parquet columns bind to the table schema
    # (schema_resolution.py)
    Option("parquet_fallback_schema_resolution", "parquet_resolution",
           "position",
           lambda v: "name" if v.lower() in ("name", "1") else "position",
           level="ADVANCED", render=str.upper),
    Option("timezone", "tz", "", lambda v: v or "UTC", level="REGULAR",
           on_set=_tz_views),
    # unixtime conversions in the session timezone
    # (dialect.rewrite_local_tz)
    Option("use_local_tz_for_unix_timestamp_conversions", "use_local_tz",
           "0", _flag),
    # the reference test harness's fake clock (FORMAT-cast century
    # inference); unset = wall clock
    Option("now_string", "now", "",
           lambda v: datetime.datetime.fromisoformat(v) if v else None),
    # TParquetTimestampType: INT64_MILLIS/NANOS change what a CTAS
    # stores (Engine._ctas_ts_rewrite)
    Option("parquet_timestamp_type", "parquet_ts_type", "INT96_NANOS",
           str.upper),
    # COUNT(DISTINCT x) → NDV(x) (AppxCountDistinctRule)
    Option("appx_count_distinct", "appx_count_distinct", "0", _flag),
    # this engine's scale escape hatch (DIALECT.md): 0 plans ndv() and
    # COMPUTE STATS NDV on Spark's JVM HLL++ (CBO needs only the
    # estimate's scale); 1 reproduces the reference's precision-10 HLL
    # bit-for-bit (functions/hll.py)
    Option("exact_ndv", "exact_ndv", "0", _flag),
    # 0 selects the legacy V1 CAST semantics: decimal→int truncates
    # instead of the V2 rounding rewrite. V1's division/avg result
    # typing is not emulated (DIALECT.md)
    Option("decimal_v2", "decimal_v2", "1", _flag),
    Option("strict_mode", "strict_mode", "0", _flag),
    # metadata-only ALTERs of parquet tables (altertable.py); the
    # schema-resolution workload opts in per file
    Option("alter_schema_in_place", "alter_in_place", "0", _flag),
    Option("default_transactional_type", "default_transactional_type",
           "none", _transactional_type),
    Option("parquet_array_resolution", "parquet_array_res",
           "two_level_then_three_level", _array_resolution),
    # options with a Spark-conf analogue; no default, so the session's
    # own conf stands until a SET
    Option("broadcast_bytes_limit",
           conf="spark.sql.autoBroadcastJoinThreshold"),
    Option("parquet_read_statistics",
           parse=lambda v: str(_flag(v)).lower(),
           conf="spark.sql.parquet.filterPushdown"),
    Option("mt_dop", parse=_positive_int,
           conf="spark.sql.shuffle.partitions"),
]}
