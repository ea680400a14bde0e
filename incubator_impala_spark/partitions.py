"""Impala partition surface: predicate partition specs, the
SHOW PARTITIONS / SHOW FILES listings, and per-partition metadata.

The reference accepts general comparison predicates wherever a
partition set is named (AlterTableDropPartitionStmt,
AlterTableSetStmt, ComputeStatsStmt `PARTITION (j < 2, k = "a")`) and
answers SHOW PARTITIONS with a 10-column metadata table
(fe/src/main/java/org/apache/impala/service/DescribeResultFactory /
client PrintResults: key cols, #Rows, #Files, Size, Bytes Cached,
Cache Replication, Format, Incremental stats, Location).

All of it is metadata-sized work: the partition inventory comes from
the catalog (one SHOW PARTITIONS), predicate evaluation happens over
ONE inline relation with as many rows as partitions, and file counts
are directory listings — nothing scans data, so the same code holds
with 100k partitions on a real cluster.

Display convention: partition NULLs print as 'NULL' and live in
__HIVE_DEFAULT_PARTITION__ directories (both engines use the Hive
layout); an empty-string partition value is stored AS the default
partition (Hive semantics the reference inherits), so an `=''`
predicate matches the NULL partition. Locations render warehouse-
rooted in the reference's `/test-warehouse/<db>.db/` notation — the
inverse of the engine's `_resolve_fs_path` mapping, so a displayed
path feeds straight back into LOAD DATA."""

from __future__ import annotations

import os
import re
import urllib.parse

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)
from pyspark.sql import DataFrame

from incubator_impala_spark import sqlscan, stats
from incubator_impala_spark.session import rows_df

_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def list_partitions(engine, tbl: str) -> list[dict]:
    """[{col: value-or-None}] straight from the catalog."""
    return [parse_suffix(r[0])
            for r in engine.spark.sql(f"SHOW PARTITIONS {tbl}").collect()]


def parse_suffix(suffix: str) -> dict:
    """`k=v/k2=v2` directory spelling → {col: value-or-None}."""
    kv = {}
    for item in suffix.split("/"):
        k, v = item.split("=", 1)
        v = urllib.parse.unquote(v)
        kv[k] = None if v == _NULL_DIR else v
    return kv


def _translate_pred(spec: str) -> str:
    """Impala partition-predicate spellings → one Spark boolean:
    comma-separated items AND together; `= NULL` / `= ''` match the
    default (NULL) partition."""
    items = []
    for item in sqlscan.split_top(spec):
        m = re.match(r"^(`?\w+`?)\s*=\s*(NULL|''|\"\")\s*$", item,
                     re.IGNORECASE)
        if m:
            items.append(f"{m.group(1)} IS NULL")
        else:
            items.append(f"({item})")
    return " AND ".join(items) if items else "true"


def match_partitions(engine, tbl: str, spec: str | None) -> list[dict]:
    """Partitions of `tbl` whose key values satisfy `spec` (all of
    them when spec is None/empty). One inline-relation query total."""
    parts = list_partitions(engine, tbl)
    if not spec or not spec.strip() or not parts:
        return parts
    spark = engine.spark
    types = {c.name.lower(): c.dataType
             for c in spark.catalog.listColumns(tbl) if c.isPartition}
    rows = []
    for i, kv in enumerate(parts):
        assigns = ", ".join(
            ("CAST(NULL AS {t}) AS `{k}`" if v is None
             else "CAST('{v}' AS {t}) AS `{k}`").format(
                k=k, t=types.get(k.lower(), "string"),
                v=str(v).replace("'", "''"))
            for k, v in kv.items())
        rows.append(f"SELECT {i} AS __pidx__, {assigns}")
    pred = _translate_pred(spec)
    hit = spark.sql(
        "SELECT __pidx__ FROM (" + " UNION ALL ".join(rows) +
        f") WHERE {pred}").collect()
    return [parts[r[0]] for r in hit]


def part_suffix(kv: dict) -> str:
    return "/".join(
        f"{k}={_NULL_DIR if v is None else v}" for k, v in kv.items())


def drop_spec(kv: dict) -> str:
    return ", ".join(
        f"`{k}`=" + ("NULL" if v is None
                     else "'" + str(v).replace("'", "''") + "'")
        for k, v in kv.items())


def _display_location(engine, tbl: str, suffix: str = "") -> str:
    db = engine.ns.current or "default"
    name = tbl.split(".")[-1].lower()
    # the qscratch_ prefix is harness plumbing (a file-created table
    # shadowing a fixture name) — the displayed location carries the
    # table's logical name, like the reference warehouse
    if name.startswith("qscratch_"):
        name = name[len("qscratch_"):]
    base = f"file:/test-warehouse/{db}.db/{name}"
    return f"{base}/{suffix}" if suffix else base


def _meta_format(engine, tbl: str) -> str | None:
    """STORED AS spelling recorded at CREATE time (showcreate.py
    facet registry) — authoritative when the table holds no files."""
    key = tbl.strip('`').split('.')[-1].lower()
    for k, meta in getattr(engine, "create_meta", {}).items():
        if k.split(".")[-1] == key and meta.get("format"):
            f = meta["format"].upper()
            return {"TEXTFILE": "TEXT", "SEQUENCEFILE": "SEQUENCE",
                    "RCFILE": "RC"}.get(f, f)
    return None


def _format_of(files: list) -> str:
    """Display format from the partition's actual data files (an
    explicit ALTER SET FILEFORMAT override wins over this)."""
    for f, _ in files:
        ext = os.path.splitext(f)[1].lower()
        if ext in (".parquet", ".parq"):
            return "PARQUET"
        if ext == ".orc":
            return "ORC"
        if ext == ".avro":
            return "AVRO"
    return "TEXT"


def _part_dir(engine, tbl: str, suffix: str) -> str:
    return os.path.join(engine._table_location(tbl), suffix)


def _files_in(d: str) -> list[tuple[str, int]]:
    if not os.path.isdir(d):
        return []
    return sorted(
        (f, os.path.getsize(os.path.join(d, f)))
        for f in os.listdir(d)
        if not f.startswith((".", "_"))
        and os.path.isfile(os.path.join(d, f)))


def _human(n: int) -> str:
    for unit, div in (("GB", 1 << 30), ("MB", 1 << 20), ("KB", 1 << 10)):
        if n >= div:
            return f"{n / div:.2f}{unit}"
    return f"{n}B"


def show_partitions(engine, tbl: str) -> DataFrame:
    """Impala's SHOW PARTITIONS listing + 'Total' row."""
    spark = engine.spark
    pcols = [c.name for c in spark.catalog.listColumns(
        tbl.strip('`')) if c.isPartition]
    parts = list_partitions(engine, tbl)
    parts.sort(key=lambda kv: [
        (v is not None, str(v)) for v in kv.values()])
    key = stats.key(engine, tbl)
    rec = stats.get(engine, tbl)
    fmts = engine.part_formats
    # stats-extrapolation tables carry an extra EXTRAP #ROWS column
    # (FeFsTable.Utils.getExtrapolatedNumRows: bytes * rows/totalSize)
    extrap_on = False
    try:
        extrap_on = engine._extrapolation_enabled(tbl)
    except (AttributeError, KeyError, _PYSPARK_ERR):  # no registry
        pass
    nrows_stat, stat_bytes = rec.rows, rec.bytes

    def _extrap(nbytes: int) -> int:
        if nbytes == 0:
            return 0
        # stored rows==0 with non-empty files is "unavailable" (-1)
        # in FeFsTable.getExtrapolatedNumRows, not 1 (ADVICE r9)
        if nrows_stat is None or not stat_bytes or nrows_stat == 0:
            return -1
        return max(1, round(nbytes * nrows_stat / stat_bytes))

    rows, tot_files, tot_size = [], 0, 0
    for kv in parts:
        suffix = part_suffix(kv)
        files = _files_in(_part_dir(engine, tbl, suffix))
        size = sum(s for _, s in files)
        tot_files += len(files)
        tot_size += size
        rows.append(
            tuple("NULL" if v is None else str(v) for v in kv.values())
            + (rec.parts.get(suffix, -1),)
            + ((_extrap(size),) if extrap_on else ())
            + (len(files), _human(size),
               "NOT CACHED", "NOT CACHED",
               fmts.get((key, suffix),
                        (_format_of(files) if files
                         else _meta_format(engine, tbl)) or "TEXT"),
               "true" if suffix in rec.incremental else "false",
               _display_location(engine, tbl, suffix)))
    nrows = -1 if rec.rows is None else rec.rows
    rows.append(("Total",) + ("",) * (len(pcols) - 1)
                + (nrows,)
                + ((nrows,) if extrap_on else ())
                + (tot_files, _human(tot_size), "0B",
                   "", "", "", ""))
    schema = ", ".join(f"`{c}` string" for c in pcols) + (
        ", `#Rows` bigint, "
        + ("`Extrap #Rows` bigint, " if extrap_on else "")
        + "`#Files` bigint, Size string, "
        "`Bytes Cached` string, `Cache Replication` string, "
        "Format string, `Incremental stats` string, Location string")
    return rows_df(spark, rows, schema)


def show_table_stats(engine, tbl: str) -> DataFrame:
    """SHOW TABLE STATS: the partition listing for partitioned tables
    (identical to SHOW PARTITIONS), one summary row otherwise."""
    spark = engine.spark
    try:
        pcols = [c.name for c in spark.catalog.listColumns(
            tbl.strip('`')) if c.isPartition]
    except _PYSPARK_ERR:  # not a catalog table
        pcols = []
    if pcols:
        return show_partitions(engine, tbl)
    files = _files_in(engine._table_location(tbl))
    size = sum(s for _, s in files)
    nrows = stats.get(engine, tbl).rows
    row = (-1 if nrows is None else nrows, len(files), _human(size),
           "NOT CACHED", "NOT CACHED",
           (_format_of(files) if files
            else _meta_format(engine, tbl)) or "TEXT", "false",
           _display_location(engine, tbl))
    return rows_df(
        spark, [row], "`#Rows` bigint, `#Files` bigint, Size string, "
                      "`Bytes Cached` string, `Cache Replication` string, "
                      "Format string, `Incremental stats` string, "
                      "Location string")


def show_files(engine, tbl: str, spec: str | None) -> DataFrame:
    """SHOW FILES IN t [PARTITION (pred)] — (Path, Size, Partition)."""
    spark = engine.spark
    pcols = [c.name for c in spark.catalog.listColumns(
        tbl.strip('`')) if c.isPartition]
    rows = []
    if pcols:
        for kv in match_partitions(engine, tbl, spec):
            suffix = part_suffix(kv)
            for f, s in _files_in(_part_dir(engine, tbl, suffix)):
                rows.append((
                    _display_location(engine, tbl, f"{suffix}/{f}"),
                    _human(s), suffix))
    else:
        for f, s in _files_in(engine._table_location(tbl)):
            rows.append((_display_location(engine, tbl, f),
                         _human(s), ""))
    return rows_df(spark, rows, "Path string, Size string, Partition string")
