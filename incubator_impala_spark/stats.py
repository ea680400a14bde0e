"""Table and column statistics: one record per table, one key.

The reference keeps table and column stats in its catalog, and every
statement reads or writes them there (Impala, CIDR 2015). This engine
keeps them in `engine.table_stats`: one `TableStats` record per table,
keyed by `key()`, the physical table with its database kept. So `t`,
`default.t` and `` `t` `` share a record, and `a.t` and `b.t` do not.

* `compute()`: the one COMPUTE STATS aggregate and fill, used by
  full, incremental, partition-scoped and ACID computes;
* `count_partitions()`: the per-partition row counts;
* `clear()`: DROP TABLE, TRUNCATE, DROP STATS and the ACID write path;
* `rename()`: ALTER TABLE ... RENAME;
* `get()` / `record()`: the lookups of SHOW COLUMN STATS, SHOW TABLE
  STATS, SHOW PARTITIONS and EXPLAIN.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


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


def key(engine, name: str) -> str:
    """`db.table` of a table spelling: backticks and the session
    catalog dropped, an unqualified name in `default`, and an
    engine-owned database's table under its physical name."""
    name = name.replace("`", "").strip().lower()
    if name.startswith("spark_catalog."):
        name = name[len("spark_catalog."):]
    db, _, tbl = name.rpartition(".")
    if db in engine.ns.dbs:
        return "default." + engine.ns.phys(db, tbl)
    return f"{db or 'default'}.{tbl}"


def get(engine, name: str) -> TableStats:
    """The table's record; an empty one (not stored) when it has none."""
    return engine.table_stats.get(key(engine, name)) or TableStats()


def record(engine, name: str) -> TableStats:
    """The table's stored record, created on first write."""
    return engine.table_stats.setdefault(key(engine, name), TableStats())


def clear(engine, name: str) -> None:
    """Forget every stat of the table (TruncateStmt: "statistics are
    removed"; a dropped table's stats die with it)."""
    engine.table_stats.pop(key(engine, name), None)


def rename(engine, old: str, new: str) -> None:
    """Stats follow the table through a rename (the catalog carries
    them in the reference)."""
    rec = engine.table_stats.pop(key(engine, old), None)
    if rec is not None:
        engine.table_stats[key(engine, new)] = rec


def forget_covers(engine) -> None:
    """Drop every table's incremental cover, so the next incremental
    compute counts all partitions again."""
    for rec in engine.table_stats.values():
        rec.cover = None


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


def agg_df(engine, df: DataFrame, wanted: list, types: dict) -> DataFrame:
    """The one-scan COMPUTE STATS aggregate over `df` (unexecuted).

    NDV expression per EXACT_NDV (DIALECT.md): default = Spark's
    JVM HLL++ (`approx_count_distinct`) so the whole stats scan
    stays inside whole-stage codegen — zero Python in the plan at
    any scale; EXACT_NDV=1 = the reference's precision-10 HLL
    (functions/hll.py, pandas-UDF hash per value) for the
    pinned-output parity surface (distinct-estimate /
    compute-stats .test files). CBO only needs the estimate's
    scale, so the JVM path is the 100 TB default."""
    ndv_expr = (
        (lambda c: f"impala_hll_est(collect_set("
                   f"hll_slot_typed(`{c}`, typeof(`{c}`))))")
        if engine.exact_ndv else
        (lambda c: f"approx_count_distinct(`{c}`, 0.023)"))
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
    return df.agg(*aggs)


def compute(engine, name: str, df: DataFrame, wanted: list) -> int:
    """Run `agg_df` over `df` and fill the stats of the `wanted`
    columns into the table's record; returns the scanned row count."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    row = agg_df(engine, df, wanted, types).collect()[0]
    nrows = row["__nrows__"]
    cols = record(engine, name).cols
    for c in wanted:
        st = cols.setdefault(c.lower(), {})
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


def count_partitions(engine, tbl: str, pcols: list, listed,
                     where: str | None = None) -> None:
    """Per-partition row counts in one grouped scan (what the
    reference persists as each partition's #ROWS). A `listed`
    partition the scan finds no rows in records 0, not 'unset'
    (IMPALA-2199)."""
    from incubator_impala_spark.partitions import part_suffix

    parts = record(engine, tbl).parts
    parts.update(dict.fromkeys(listed, 0))
    cols = ", ".join(pcols)
    filt = f"WHERE {where} " if where else ""
    for r in engine.spark.sql(
            f"SELECT {cols}, count(*) c FROM {tbl} {filt}GROUP BY {cols}") \
            .collect():
        parts[part_suffix({c: r[c] for c in pcols})] = r["c"]


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
    preds = []
    for suffix in rec.cover:
        conj = []
        for k, v in (x.split("=", 1) for x in suffix.split("/")):
            # directory spellings are URL-escaped and NULL is
            # __HIVE_DEFAULT_PARTITION__ — compare against the
            # real column values
            v = unquote(v)
            if v == "__HIVE_DEFAULT_PARTITION__":
                conj.append(f"`{k}` IS NULL")
            else:
                esc = v.replace("\\", "\\\\").replace("'", "\\'")
                conj.append(f"`{k}` = '{esc}'")
        preds.append("(" + " AND ".join(conj) + ")")
    df = engine.spark.table(tbl)
    compute(engine, tbl, df.where(" OR ".join(preds)),
            scalar_columns(df.schema, pcols))
