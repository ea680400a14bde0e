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

import json
import math
import os
import re
import urllib.parse
from decimal import Decimal, InvalidOperation

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from incubator_impala_spark import sqlscan, stats
from incubator_impala_spark.session import rows_df

_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _key_fields(engine, tbl: str) -> list[tuple[str, str]]:
    """(name, type) of the table's partition columns in declaration
    order: an ACID table's from its record, any other's from the
    session catalog's table metadata, with no Spark job (the catalog
    API's column listing walks a Dataset and runs two). Empty for a
    temp view; an unknown table raises AnalysisException."""
    t = stats.peek(engine, tbl).acid
    if t is not None:
        return list(t.pcols)
    # `db.t` in one pair of backticks names db.t, as SHOW PARTITIONS
    # spells it
    name = re.sub(r"^`([^`]*)`$", r"\1", tbl.strip())
    name = re.sub(r"(?i)^`?spark_catalog`?\.", "", name)
    state = engine.spark._jsparkSession.sessionState()
    meta = state.catalog().getTempViewOrPermanentTableMetadata(
        state.sqlParser().parseTableIdentifier(name))
    schema = StructType.fromJson(json.loads(meta.partitionSchema().json()))
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def partition_columns(engine, tbl: str) -> list[str]:
    """The table's partition column names in declaration order."""
    return [n for n, _ in _key_fields(engine, tbl)]


def _typed(value: str, ty: str):
    """A partition value as its key type orders it."""
    if ty in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    if ty in ("float", "double"):
        return float(value)
    if ty.startswith("decimal"):
        return Decimal(value)
    return value


def list_partitions(engine, tbl: str) -> list[tuple[str, dict]]:
    """(directory suffix, {col: value-or-None}) of each partition, in
    the one listing order: typed key values, NULL last. An ACID
    table's partitions are its snapshot's leaves, any other table's
    the catalog's."""
    t = stats.peek(engine, tbl).acid
    if t is not None:
        from incubator_impala_spark import acid

        if not t.pcols:
            raise ValueError(f"Table is not partitioned: {t.display}")
        suffixes = [s for s, _ in acid._leaf_dirs(t)]
    else:
        suffixes = [r[0] for r in
                    engine.spark.sql(f"SHOW PARTITIONS {tbl}").collect()]
    types = dict(_key_fields(engine, tbl))

    def order(item):
        # per key: numbers, then NaN (above every number, as Spark
        # sorts it), then values not of the key type, then NULL
        out = []
        for c, v in item[1].items():
            try:
                x = 0 if v is None else _typed(v, types.get(c, "string"))
            except (ValueError, InvalidOperation):  # not of its type
                out.append((False, 2, v))
                continue
            nan = isinstance(x, float) and math.isnan(x)
            out.append((v is None, int(nan), 0 if nan else x))
        return out

    return sorted(((s, parse_suffix(s)) for s in suffixes), key=order)


def parse_suffix(suffix: str) -> dict:
    """`k=v/k2=v2` directory spelling → {col: value-or-None}; {} for
    the unpartitioned ''."""
    kv = {}
    for item in filter(None, suffix.split("/")):
        k, v = item.split("=", 1)
        v = urllib.parse.unquote(v)
        kv[k] = None if v == _NULL_DIR else v
    return kv


def parse_spec(spec: str | None) -> dict:
    """`k=v, k2, ...` partition spec (InsertStmt, LoadDataStmt, ALTER
    TABLE ... PARTITION; an UPDATE's SET list and ALTER TABLE ... SET
    COLUMN STATS' property list have its shape) → {key:
    value text, None for a key without a value (a dynamic key)}; keys
    lower-case, backticks dropped."""
    kv = {}
    for item in sqlscan.split_top(spec or ""):
        k, eq, v = item.partition("=")
        kv[k.strip().strip("`").lower()] = v.strip() if eq else None
    return kv


def fold_spec(engine, spec: str) -> dict:
    """A `k=v, ...` partition spec whose values are constant
    expressions (PartitionSpec) → {key: SQL literal}: a literal stays
    as written, an expression folds through Spark."""
    kv = parse_spec(spec)
    for k, v in kv.items():
        if v is None:
            raise ValueError(
                f"Syntax error: no value for partition key '{k}'")
        if re.fullmatch(r"-?\d+(\.\d+)?|'(?:[^']|'')*'|NULL", v,
                        re.IGNORECASE):
            continue
        x = engine.spark.sql(
            "SELECT " + engine.translate_query(v)).collect()[0][0]
        kv[k] = "NULL" if x is None else str(x) \
            if isinstance(x, (bool, int, float, Decimal)) \
            else "'" + str(x).replace("'", "''") + "'"
    return kv


def spec_sql(kv: dict) -> str:
    """A folded spec (fold_spec) as the inside of Spark's PARTITION
    clause."""
    return ", ".join(f"`{k}`={v}" for k, v in kv.items())


_LITERAL = re.compile(
    r"""'(?P<sq>(?:[^'\\]|''|\\.)*)'|"(?P<dq>(?:[^"\\]|""|\\.)*)"|"""
    r"[-+]?(?:\d+\.?\d*|\.\d+)(?:e[-+]?\d+)?|true|false|(?P<null>null)",
    re.IGNORECASE | re.DOTALL)


def literal(text: str) -> str | None:
    """A partition value written as a literal → the value its
    directory spells (None for NULL); ValueError for an expression,
    whose value only Spark knows."""
    m = _LITERAL.fullmatch(text.strip())
    if m is None:
        raise ValueError(f"not a literal partition value: {text}")
    if m.group("null"):
        return None
    s = m.group("sq") if m.group("sq") is not None else m.group("dq")
    if s is None:       # a number or a boolean
        return m.group().lower()
    q = m.group()[0]
    return re.sub(r"\\(.)", r"\1", s.replace(q * 2, q))


def spec_suffix(spec: dict, keys: list[str]) -> str:
    """The directory of the partition a spec of literal values names
    (parse_spec), its keys in the table's order `keys`."""
    return part_suffix({k: literal(spec[k.lower()]) for k in keys
                        if k.lower() in spec})


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


def match_partitions(engine, tbl: str,
                     spec: str | None) -> list[tuple[str, dict]]:
    """The listed partitions of `tbl` (list_partitions) whose key
    values satisfy `spec` (all of them when spec is None/empty). One
    inline-relation query total."""
    parts = list_partitions(engine, tbl)
    if not spec or not spec.strip() or not parts:
        return parts
    spark = engine.spark
    types = {f.name.lower(): f.dataType.simpleString()
             for f in spark.table(tbl).schema.fields}
    rows = []
    for i, (_, kv) in enumerate(parts):
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


# Hive's FileUtils.escapePathName set, as Spark escapes partition
# directory names
_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(i) for i in range(1, 32)}


def escape_value(v: str) -> str:
    """A partition key value as its directory name spells it."""
    return "".join(f"%{ord(ch):02X}" if ch in _ESCAPED else ch for ch in v)


def part_suffix(kv: dict) -> str:
    """`k=v/k2=v2`, the partition's directory spelling: the one key of
    its per-partition state (row counts, incremental-stats cover,
    format and location overrides)."""
    return "/".join(
        f"{k}={_NULL_DIR if v in (None, '') else escape_value(str(v))}"
        for k, v in kv.items())


def summary_suffix(kv: dict) -> str:
    """The INSERT summary's name of a written partition ({col: typed
    value}): its directory spelling, a float key shortest-form (`f=0`
    where the directory is `f=0.0`), as impala-shell prints it."""
    return part_suffix({k: ("NaN" if v != v else f"{v:g}")
                        if isinstance(v, float) else v
                        for k, v in kv.items()})


def drop_spec(kv: dict) -> str:
    return ", ".join(
        f"`{k}`=" + ("NULL" if v is None
                     else "'" + str(v).replace("'", "''") + "'")
        for k, v in kv.items())


def _display_location(engine, tbl: str, suffix: str = "") -> str:
    db = engine.ns.current or "default"
    name = tbl.replace("`", "").split(".")[-1].lower()
    # the qscratch_ prefix is harness plumbing (a file-created table
    # shadowing a fixture name) — the displayed location carries the
    # table's logical name, like the reference warehouse
    if name.startswith("qscratch_"):
        name = name[len("qscratch_"):]
    base = f"file:/test-warehouse/{db}.db/{name}"
    return f"{base}/{suffix}" if suffix else base


def _meta_format(engine, tbl: str) -> str | None:
    """STORED AS spelling recorded at CREATE time (the table record's
    SHOW CREATE facets) — authoritative when the table holds no
    files."""
    f = (stats.peek(engine, tbl).create or {}).get("format", "").upper()
    return {"TEXTFILE": "TEXT", "SEQUENCEFILE": "SEQUENCE",
            "RCFILE": "RC"}.get(f, f) or None


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


def _source(engine, tbl: str):
    """Where the listings read the table: (its directory, the files
    of a partition directory as [(path under it, size)], the format
    of a partition given its suffix and files, the display base of
    its paths). An ACID table lists its snapshot's live files; any
    other table its directory contents."""
    rec = stats.peek(engine, tbl)
    loc, t = engine._table_location(tbl), rec.acid
    if t is not None:
        from incubator_impala_spark import acid

        return (loc, lambda d: acid._live_files(t, d),
                lambda suffix, files: t.fmt.upper(), acid._display_base(t))

    def fmt(suffix: str, files: list) -> str:
        return rec.formats.get(suffix, (_format_of(files) if files
                                        else _meta_format(engine, tbl))
                               or "TEXT")

    return loc, _files_in, fmt, _display_location(engine, tbl)


_LISTING = ("`#Files` bigint, Size string, `Bytes Cached` string, "
            "`Cache Replication` string, Format string, "
            "`Incremental stats` string, Location string")


def show_partitions(engine, tbl: str) -> DataFrame:
    """Impala's SHOW PARTITIONS listing + 'Total' row."""
    spark = engine.spark
    pcols = partition_columns(engine, tbl)
    parts = list_partitions(engine, tbl)
    loc, files_in, fmt, base = _source(engine, tbl)
    rec = stats.get(engine, tbl)
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
    for suffix, kv in parts:
        files = files_in(os.path.join(loc, suffix))
        size = sum(s for _, s in files)
        tot_files += len(files)
        tot_size += size
        rows.append(
            tuple("NULL" if v is None else str(v) for v in kv.values())
            + (rec.parts.get(suffix, -1),)
            + ((_extrap(size),) if extrap_on else ())
            + (len(files), _human(size), "NOT CACHED", "NOT CACHED",
               fmt(suffix, files),
               "true" if suffix in rec.incremental else "false",
               f"{base}/{suffix}"))
    nrows = -1 if rec.rows is None else rec.rows
    rows.append(("Total",) + ("",) * (len(pcols) - 1)
                + (nrows,)
                + ((nrows,) if extrap_on else ())
                + (tot_files, _human(tot_size), "0B",
                   "", "", "", ""))
    schema = ", ".join(f"`{c}` string" for c in pcols) + (
        ", `#Rows` bigint, "
        + ("`Extrap #Rows` bigint, " if extrap_on else "") + _LISTING)
    return rows_df(spark, rows, schema)


def show_table_stats(engine, tbl: str) -> DataFrame:
    """SHOW TABLE STATS: the partition listing for partitioned tables
    (identical to SHOW PARTITIONS), one summary row otherwise."""
    try:
        pcols = partition_columns(engine, tbl)
    except _PYSPARK_ERR:  # not a catalog table
        pcols = []
    if pcols:
        return show_partitions(engine, tbl)
    loc, files_in, fmt, base = _source(engine, tbl)
    files = files_in(loc)
    nrows = stats.get(engine, tbl).rows
    row = (-1 if nrows is None else nrows, len(files),
           _human(sum(s for _, s in files)), "NOT CACHED", "NOT CACHED",
           fmt("", files), "false", base)
    return rows_df(engine.spark, [row], "`#Rows` bigint, " + _LISTING)


def show_files(engine, tbl: str, spec: str | None) -> DataFrame:
    """SHOW FILES IN t [PARTITION (pred)] — (Path, Size, Partition)."""
    parts = (match_partitions(engine, tbl, spec)
             if partition_columns(engine, tbl) else [("", {})])
    loc, files_in, _, base = _source(engine, tbl)
    rows = [(f"{base}/{path}", _human(s), urllib.parse.unquote(suffix))
            for suffix, _ in parts
            for f, s in files_in(os.path.join(loc, suffix))
            for path in ["/".join(x for x in (suffix, f) if x)]]
    return rows_df(engine.spark, rows,
                   "Path string, Size string, Partition string")
