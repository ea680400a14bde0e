"""Per-partition mixed-format scan dispatch.

Impala carries the file format (and location) PER PARTITION
(reference fe/.../catalog/HdfsStorageDescriptor.java:46-82; grammar
`ALTER TABLE ... PARTITION (...) SET FILEFORMAT | LOCATION`,
fe/src/main/cup/sql-parser.cup:1206), and the scan node dispatches a
scanner per partition format. Spark's catalog tables are one-format,
so this module re-expresses the dispatch Spark-first: when any
partition's effective format or location diverges from the table's
base, the table name gets a temp view that UNIONs one DataFrame leg
per partition — each leg read with that partition's format reader and
cast to the table's declared schema — shadowing the catalog table for
SELECTs while DDL/DML statements drop the shadow and hit the catalog
object directly (engine.sql pre-pass).

Avro partitions additionally run the reference's schema
reconciliation (fe/.../util/AvroSchemaUtils.java reconcileSchemas,
exercised by incompatible_avro_partition.test): each declared column
must map to the partition's Avro schema type; an unresolvable pair
raises the reference-shaped error — but only for queries whose
partition pruning does NOT exclude the bad partition, the same
pruning-aware contract as the plugin-text scan checks
(scan_errors._partition_survives)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from incubator_impala_spark import partitions as _parts
from incubator_impala_spark import sqlscan, stats
from incubator_impala_spark.session import rows_df

# declared (Spark simpleString) type -> acceptable Avro schema types.
# TINYINT/SMALLINT are absent on purpose: Avro has no 8/16-bit ints,
# which is exactly the unresolvable pair the reference test pins.
_DECL_TO_AVRO = {
    "int": {"int"},
    "bigint": {"long"},
    "float": {"float"},
    "double": {"double"},
    "boolean": {"boolean"},
    "string": {"string"},
    "binary": {"bytes"},
    "date": {"int"},
}

_DECL_DISPLAY = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
    "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "boolean": "BOOLEAN", "string": "STRING", "binary": "BINARY",
    "date": "DATE", "timestamp": "TIMESTAMP",
}


def _display_type(simple: str) -> str:
    m = re.match(r"(char|varchar)\((\d+)\)", simple)
    if m:
        return f"{m.group(1).upper()}({m.group(2)})"
    if simple.startswith("decimal"):
        return simple.upper()
    return _DECL_DISPLAY.get(simple, simple.upper())


def _avro_ok(simple: str, avro_type: str) -> bool:
    if simple.startswith(("char(", "varchar(")):
        return avro_type == "string"
    if simple.startswith("decimal"):
        return avro_type in ("bytes", "fixed")
    return avro_type in _DECL_TO_AVRO.get(simple, ())


def maybe_activate(engine, tbl: str) -> None:
    """Activate dispatch when any partition's format/location
    override diverges from the table base; views rebuild lazily per
    SELECT (refresh_views)."""
    rec = stats.table(engine, tbl)
    base = (_parts._meta_format(engine, tbl) or "PARQUET").upper()
    if rec.locations or any(v.upper() != base
                            for v in rec.formats.values()):
        rec.mixed = True


def refresh_views(engine, sql_text: str, scan: bool,
                  target: "stats.TableRecord | None" = None) -> None:
    """engine.sql pre-pass: a statement that reads rows (`scan`) gets
    a fresh dispatch view for every referenced mixed table but its
    `target` record (an INSERT's sink); DDL, writes and that target
    drop the shadow so they operate on the catalog object itself."""
    low = sqlscan.shadow(sql_text).lower()
    for k, rec in [(k, r) for k, r in engine.tables.items() if r.mixed]:
        phys = stats.view_name(k)
        if not re.search(rf"\b{re.escape(phys)}\b", low):
            continue
        if not scan or rec is target:
            engine.spark.catalog.dropTempView(phys)
            continue
        build_view(engine, phys)


def _effective(engine, phys: str, suffix: str) -> tuple[str, str]:
    """(format, location) for one partition after ALTER overrides."""
    rec = stats.peek(engine, phys)
    loc = rec.locations.get(suffix) \
        or _parts._part_dir(engine, phys, suffix)
    fmt = rec.formats.get(suffix)
    if not fmt:
        files = _parts._files_in(loc)
        fmt = (_parts._format_of(files) if files
               else _parts._meta_format(engine, phys)) or "TEXT"
    return fmt.upper(), loc


def build_view(engine, phys: str) -> None:
    from pyspark.errors import AnalysisException

    spark = engine.spark
    spark.catalog.dropTempView(phys)
    try:
        full = spark.table(phys)
        pcols = _parts.partition_columns(engine, phys)
    except AnalysisException:  # table dropped out from under us
        stats.peek(engine, phys).mixed = False
        return
    data_fields = [f for f in full.schema.fields
                   if f.name not in pcols]
    data_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in data_fields)
    pcol_types = {f.name: f.dataType.simpleString()
                  for f in full.schema.fields if f.name in pcols}
    rec = stats.peek(engine, phys)
    base = (_parts._meta_format(engine, phys) or "PARQUET").upper()
    # overridden partitions get a raw per-format read; everything
    # else stays ONE catalog-table leg (its own reader options,
    # partition pruning and stats intact — at 100 TB the override
    # set is a handful of partitions, the base leg is the fleet)
    over, legs = [], []
    bad_parts: list[tuple[dict, str]] = []
    for suffix, kv in _parts.list_partitions(engine, phys):
        fmt = (rec.formats.get(suffix) or base).upper()
        if suffix not in rec.locations and fmt == base:
            continue
        over.append(kv)
        _, loc = _effective(engine, phys, suffix)
        files = _parts._files_in(loc)
        leg = None
        if not files:
            leg = rows_df(spark, [], data_ddl)
        elif fmt == "AVRO":
            msg = _avro_reconcile(engine, data_fields, loc)
            if msg:
                bad_parts.append((kv, msg))
                leg = rows_df(spark, [], data_ddl)
            else:
                leg = _read_avro_leg(engine, data_fields, data_ddl, loc)
        elif fmt == "PARQUET":
            leg = spark.read.schema(data_ddl).parquet(loc)
        elif fmt == "ORC":
            leg = spark.read.schema(data_ddl).orc(loc)
        else:  # TEXT and friends: Impala delimited defaults
            from incubator_impala_spark.sources.formats import (
                TEXT_OPTIONS,
            )

            leg = spark.read.schema(data_ddl).options(
                **TEXT_OPTIONS).csv(loc)
        for p in pcols:
            leg = leg.withColumn(
                p, F.lit(kv[p]).cast(pcol_types[p]))
        legs.append(leg.select(*[f.name for f in full.schema.fields]))
    df = full
    if over:
        keep = ~_parts_pred(full, over)
        df = full.where(keep)
    for leg in legs:
        df = df.unionByName(leg)
    df.createOrReplaceTempView(phys)
    # pruning-aware reconciliation error for unresolvable partitions
    checks = engine.scan_checks
    if bad_parts:
        checks[phys.lower()] = {
            "kind": "format_partition", "bad_parts": bad_parts,
            "always": True,
        }
    elif checks.get(phys.lower(), {}).get("kind") == "format_partition":
        checks.pop(phys.lower())


def _parts_pred(df, kvs: list[dict]):
    """Boolean Column: row belongs to one of the `kvs` partitions."""
    pred = F.lit(False)
    for kv in kvs:
        one = F.lit(True)
        for k, v in kv.items():
            one = one & (F.col(k).isNull() if v is None
                         else (F.col(k).cast("string") == F.lit(v)))
        pred = pred | one
    return pred


def _avro_reconcile(engine, data_fields, loc: str) -> str | None:
    """First unresolvable declared-column/Avro-type pair, rendered as
    the reference's error (AvroSchemaUtils.reconcileSchemas)."""
    from incubator_impala_spark.sources import avro_io

    fs = sorted(f for f, _ in _parts._files_in(loc))
    if not fs:
        return None
    with open(os.path.join(loc, fs[0]), "rb") as fh:
        writer, _, _ = avro_io.read_header(fh)
    avro_types = {}
    for fld in writer.get("fields", []):
        t = avro_io._unwrap_nullable(fld["type"])
        avro_types[fld["name"].lower()] = (
            t if isinstance(t, str) else t.get("type", str(t)))
    for f in data_fields:
        at = avro_types.get(f.name.lower())
        if at is None:
            continue  # missing column NULL-fills (IMPALA-3092)
        simple = f.dataType.simpleString()
        if not _avro_ok(simple, at):
            return (f"Unresolvable types for column '{f.name}': "
                    f"declared column type: {_display_type(simple)}, "
                    f"table's Avro schema type: {at}")
    return None


def _read_avro_leg(engine, data_fields, data_ddl: str, loc: str):
    from incubator_impala_spark.sources import avro_io

    df = avro_io.read_avro(engine.spark, loc)
    have = {c.lower() for c in df.columns}
    cols = []
    for f in data_fields:
        if f.name.lower() in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
