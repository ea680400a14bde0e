"""The per-table catalog record: one record per table, one key.

The reference keeps a table's metadata in one catalog object
(`HdfsTable`): stats, sort order, per-partition formats and
locations, the CREATE-time facets. DROP and RENAME act on that
object as a whole (Impala, CIDR 2015). This engine keeps the same in
`engine.tables`: one `TableRecord` per table, keyed by `key()`, the
physical table with its database kept. So `t`, `default.t` and `` `t`
`` share a record, and `a.t` and `b.t` do not.

* `drop()` / `put()`: DROP TABLE/VIEW, a CREATE that takes effect,
  ALTER TABLE ... RENAME, and the undo of a statement that fails; a
  transactional table's ACID state is part of its record, so dropping
  the record is how an ACID table leaves the registry;
* `clear()`: TRUNCATE, DROP STATS and the ACID write path (stats only);
* `table()` / `peek()`: the record, stored or read-only;
* `compute()`: the one COMPUTE STATS aggregate and fill (table-level
  column stats and per-partition row counts in one scan), used by
  full, incremental, partition-scoped and ACID computes;
* `get()` / `record()`: the stats lookups of SHOW COLUMN STATS, SHOW
  TABLE STATS, SHOW PARTITIONS and EXPLAIN.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

if TYPE_CHECKING:
    from incubator_impala_spark.acid import AcidTable


@dataclass
class TableStats:
    rows: int | None = None     # numRows; None is unset (shown as -1)
    bytes: int | None = None    # totalSize at compute time, the
    #                             extrapolation base
    computed: bool = False      # a full COMPUTE STATS ran
    # {column: {ndv, nulls, max, avg, trues, falses}}
    cols: dict[str, dict] = field(default_factory=dict)
    # {partition suffix: #rows}
    parts: dict[str, int] = field(default_factory=dict)
    # partitions a compute has covered (None: none yet); an
    # incremental re-run counts only partitions outside it
    cover: set[str] | None = None
    # partitions whose stats came from COMPUTE INCREMENTAL STATS (the
    # 'Incremental stats' column; a full compute replaces them)
    incremental: set[str] = field(default_factory=set)


@dataclass
class TableRecord:
    stats: TableStats = field(default_factory=TableStats)
    # SORT BY write layout (IMPALA-4166): (columns, LEXICAL|ZORDER),
    # DESCRIBE FORMATTED's sort.columns/sort.order rows
    sort: tuple[list, str] | None = None
    # ALTER ... PARTITION SET FILEFORMAT / SET LOCATION overrides,
    # {partition suffix: display format / resolved path}
    formats: dict[str, str] = field(default_factory=dict)
    locations: dict[str, str] = field(default_factory=dict)
    # created STORED AS AVRO: added columns take the Avro type mapping
    avro: bool = False
    # SHOW CREATE facets recorded at CREATE time (showcreate.py)
    create: dict | None = None
    # per-partition mixed-format scan dispatch is on (mixedformat.py)
    mixed: bool = False
    # logical schema of a metadata-only ALTER overlay, read from the
    # table's files (schema_resolution.py)
    overlay: StructType | None = None
    # a transactional table's ACID state (acid.py)
    acid: AcidTable | None = None
    # the row__id shadow standing for the table in a statement that
    # names row__id: (shadow view, spellings besides the physical
    # name, columns a bare `*` expands to)
    rowid: tuple[str, list, list] | None = None


def key(engine, name: str) -> str:
    """`db.table` of a table spelling: backticks and the session
    catalog dropped, an unqualified name in `default` (or, under USE,
    the registered object it resolves to), and an engine-owned
    database's table under its physical name."""
    name = name.replace("`", "").strip().lower()
    if name.startswith("spark_catalog."):
        name = name[len("spark_catalog."):]
    db, _, tbl = name.rpartition(".")
    if not db and tbl in engine.ns.dbs.get(engine.ns.current, ()):
        db = engine.ns.current
    if db in engine.ns.dbs:
        return "default." + engine.ns.phys(db, tbl)
    return f"{db or 'default'}.{tbl}"


def view_name(k: str) -> str:
    """The temp-view name that shadows the table of key `k` (overlay
    and mixed-format views)."""
    return k.removeprefix("default.")


def peek(engine, name: str) -> TableRecord:
    """The table's record; an empty one (not stored) when it has none."""
    return engine.tables.get(key(engine, name)) or TableRecord()


def table(engine, name: str) -> TableRecord:
    """The table's stored record, created on first write."""
    return engine.tables.setdefault(key(engine, name), TableRecord())


def get(engine, name: str) -> TableStats:
    """The table's stats; empty ones (not stored) when it has none."""
    return peek(engine, name).stats


def record(engine, name: str) -> TableStats:
    """The table's stored stats, created on first write."""
    return table(engine, name).stats


def clear(engine, name: str) -> None:
    """Forget every stat of the table (TruncateStmt: "statistics are
    removed"); the rest of its record stays."""
    rec = engine.tables.get(key(engine, name))
    if rec is not None:
        rec.stats = TableStats()


def drop(engine, name: str) -> TableRecord | None:
    """Remove the table's record (DROP, a CREATE that takes effect,
    the old name of a RENAME), with the temp view an overlay or
    mixed-format record shadows the table with and that view's
    partition scan check; returns the record, for `put()`."""
    k = key(engine, name)
    rec = engine.tables.pop(k, None)
    if rec is not None and (rec.overlay or rec.mixed):
        view = view_name(k)
        engine.spark.catalog.dropTempView(view)
        if engine.scan_checks.get(view, {}).get("kind") == \
                "format_partition":
            del engine.scan_checks[view]
    return rec


def put(engine, name: str, rec: TableRecord | None) -> None:
    """Store `rec` as the table's record, over anything recorded
    since `drop()`; None leaves the table without one. A failed
    statement puts its record back; a RENAME puts it under the new
    name."""
    k = key(engine, name)
    if rec is None:
        engine.tables.pop(k, None)
    else:
        engine.tables[k] = rec


def scalar_columns(schema: StructType, exclude=()) -> list[str]:
    """The columns COMPUTE STATS covers: scalar ones (the reference
    skips collection and struct columns — ComputeStatsStmt)."""
    return [f.name for f in schema.fields
            if f.name not in exclude
            and not isinstance(f.dataType, (ArrayType, MapType, StructType))]


def key_stats(parts: list[dict]) -> dict[str, tuple[int, int]]:
    """Partition-key (NDV, #Nulls) from the partition list
    ([{col: value-or-None}]), as the reference's catalog knows them:
    NDV counts distinct partition values INCLUDING the NULL
    partition, #Nulls counts NULL partitions."""
    return {c.lower(): (len({kv.get(c) for kv in parts}),
                        sum(kv.get(c) is None for kv in parts))
            for c in (parts[0] if parts else ())}


def agg_df(engine, df: DataFrame, wanted: list, types: dict,
           pcols=()) -> DataFrame:
    """The one-scan COMPUTE STATS aggregate over `df` (unexecuted).

    Without partition columns it is one row over the whole of `df`.
    With them it groups by the sets (`pcols`, as `__dir_<col>`
    strings) and (): one row per partition and one grand-total row,
    told apart by `__gid__` (0 for a partition). Every row carries the
    same aggregates, so the grand total holds the table-level column
    stats and each partition row its #Rows — the reference's
    per-partition and table-level child queries in one scan. An empty
    `df` yields no grand-total row.

    NDV expression per EXACT_NDV (DIALECT.md): the default is Spark's
    JVM HLL++ at the reference's precision 10 (`approx_count_distinct`
    with rsd 0.04: Spark's p = ceil(2·log2(1.106/rsd)) = 10), so the
    whole stats scan stays inside whole-stage codegen with no Python
    in the plan; EXACT_NDV=1 is the reference's own precision-10 HLL
    (functions/hll.py, a pandas-UDF hash per value) for the
    pinned-output parity surface (distinct-estimate / compute-stats
    .test files)."""
    ndv_expr = (
        (lambda c: f"impala_hll_est(collect_set("
                   f"hll_slot_typed(`{c}`, typeof(`{c}`))))")
        if engine.exact_ndv else
        (lambda c: f"approx_count_distinct(`{c}`, 0.04)"))
    aggs = [F.count(F.lit(1)).alias("__nrows__")]
    for c in wanted:
        aggs += [F.expr(ndv_expr(c)).alias(f"ndv_{c}"),
                 F.count(F.when(F.col(c).isNull(), 1)).alias(f"nul_{c}")]
        if types.get(c) == "boolean":
            aggs += [F.count(F.when(F.col(c), 1)).alias(f"tru_{c}"),
                     F.count(F.when(~F.col(c), 1)).alias(f"fls_{c}")]
        elif types.get(c) == "string":
            aggs += [F.max(F.length(c)).alias(f"max_{c}"),
                     F.avg(F.length(c)).alias(f"avg_{c}")]
    if not pcols:
        return df.agg(*aggs)
    # grouped on the keys' string casts, Spark's spelling of their
    # partition directories (`true`, `NaN`, `1.0E20`)
    keys = [f"__dir_{c}" for c in pcols]
    return df.select("*", *[F.col(f"`{c}`").cast("string").alias(k)
                            for c, k in zip(pcols, keys)]) \
        .groupingSets([keys, []], *keys).agg(
            F.grouping_id().alias("__gid__"), *aggs)


def compute(engine, name: str, df: DataFrame, wanted: list,
            pcols=(), listed=()) -> int:
    """Run `agg_df` over `df`: fill the stats of the `wanted` columns
    into the table's record and, given partition columns, each
    partition's row count into `rec.parts` (what the reference
    persists as each partition's #ROWS; a `listed` partition the scan
    finds no rows in records 0, not 'unset' — IMPALA-2199). Returns
    the scanned row count."""
    from incubator_impala_spark.partitions import part_suffix

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    agg = agg_df(engine, df, wanted, types, pcols)
    rows = agg.collect()
    rec = record(engine, name)
    if pcols:
        rec.parts.update(dict.fromkeys(listed, 0))
        for r in rows:
            if not r["__gid__"]:
                rec.parts[part_suffix({c: r[f"__dir_{c}"]
                                       for c in pcols})] = r["__nrows__"]
    # grouping sets emit no grand total over empty input: all zeros
    row = next((r for r in rows if not pcols or r["__gid__"]), None) \
        or dict.fromkeys(agg.columns, 0)
    nrows = row["__nrows__"]
    for c in wanted:
        st = rec.cols.setdefault(c.lower(), {})
        # the reference caps the HLL estimate at the row count
        # (ColumnStats); boolean NDV is the type's domain size
        # regardless of data
        st["ndv"] = min(row[f"ndv_{c}"], nrows)
        st["nulls"] = row[f"nul_{c}"]
        if types.get(c) == "boolean":
            st["ndv"] = 2
            st["trues"] = row[f"tru_{c}"]
            st["falses"] = row[f"fls_{c}"]
        elif types.get(c) == "string":
            # an empty computed table reports sizes 0
            st["max"] = (row[f"max_{c}"] or -1) if nrows else 0
            avg = row[f"avg_{c}"] if nrows else 0.0
            # the reference stores avg size as FLOAT
            st["avg"] = -1 if avg is None else \
                struct.unpack("f", struct.pack("f", float(avg)))[0]
    return nrows


def refresh_incremental(engine, tbl: str, pcols: list) -> None:
    """Table-level column stats from the incremental-stats COVER.

    The reference merges per-partition incremental sketches, so
    table-level column stats reflect exactly the partitions that
    currently HAVE incremental stats (dropping one shifts NDV and
    #Trues — compute-stats-incremental.test). This engine holds no
    per-partition sketch store; it recomputes the merged values
    with ONE scan restricted to the cover (partition-pruned, so
    the cost tracks the covered data like the reference's merge
    tracks its sketch count)."""
    rec = get(engine, tbl)
    if rec.cover is None:
        return
    if not rec.cover:
        rec.cols.clear()
        return
    from incubator_impala_spark.partitions import parse_suffix

    preds = []
    for suffix in rec.cover:
        conj = []
        for k, v in parse_suffix(suffix).items():
            if v is None:
                conj.append(f"`{k}` IS NULL")
            else:
                esc = v.replace("\\", "\\\\").replace("'", "\\'")
                conj.append(f"`{k}` = '{esc}'")
        preds.append("(" + " AND ".join(conj) + ")")
    df = engine.spark.table(tbl)
    compute(engine, tbl, df.where(" OR ".join(preds)),
            scalar_columns(df.schema, pcols))
