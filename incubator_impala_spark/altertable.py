"""ALTER TABLE veneer: Impala's column/partition DDL over Spark
datasource tables, with the reference's one-row summaries.

Reference surface: AlterTableStmt family
(fe/src/main/java/org/apache/impala/analysis/AlterTable*.java) and the
CatalogOpExecutor summary strings ('New column(s) have been added to
the table.', 'Dropped 1 partition(s).', ...).

Spark's v1 in-memory catalog natively supports ADD COLUMNS and
ADD/DROP PARTITION but not DROP/CHANGE/REPLACE COLUMNS; those are
expressed as a rewrite: project the table to the new schema, save
under a temp name, swap. That is a data-rewriting operation — correct
and idempotent, and on a real deployment it is exactly what a
schema-migration job does; the reference's metadata-only variant
relies on Hive schema-on-read, which parquet-by-name reads replace
here.

Partition-spec values may be constant expressions in Impala
(``j=cast(2-1 as int)``); they are folded to literals with a 1-row
SELECT before handing Spark the partition DDL.
"""

from __future__ import annotations

import re

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)
from pyspark.sql import DataFrame, functions as F

from incubator_impala_spark import sqlscan, stats
from incubator_impala_spark.session import rows_df

__all__ = ["handle"]

_ALTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][\w.]*)\s+(?P<rest>[\s\S]+)$",
    re.IGNORECASE)

_ADD_COLS = re.compile(
    r"^ADD\s+(?P<ine1>IF\s+NOT\s+EXISTS\s+)?COLUMNS\s*"
    r"\((?P<cols>[\s\S]*)\)\s*;?\s*$",
    re.IGNORECASE)
_ADD_COL = re.compile(
    r"^ADD\s+COLUMN\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<col>[\s\S]+?)\s*;?\s*$",
    re.IGNORECASE)
_DROP_COL = re.compile(
    r"^DROP\s+(?:COLUMN\s+)?(`?)(?P<col>[A-Za-z_]\w*)\1\s*;?\s*$",
    re.IGNORECASE)
_CHANGE_COL = re.compile(
    r"^CHANGE\s+(?:COLUMN\s+)?(`?)(?P<old>[A-Za-z_]\w*)\1\s+"
    r"(`?)(?P<new>[A-Za-z_]\w*)\3\s+(?P<type>[\s\S]+?)"
    r"(?:\s+COMMENT\s+'(?P<comment>(?:[^']|'')*)')?\s*;?\s*$",
    re.IGNORECASE)
_SET_COMMENT = re.compile(
    r"^ALTER\s+COLUMN\s+(`?)(?P<col>[A-Za-z_]\w*)\1\s+SET\s+COMMENT\s+"
    r"'(?P<comment>(?:[^']|'')*)'\s*;?\s*$",
    re.IGNORECASE)
_REPLACE_COLS = re.compile(
    r"^REPLACE\s+COLUMNS\s*\((?P<cols>[\s\S]*)\)\s*;?\s*$",
    re.IGNORECASE)
_ADD_PART = re.compile(
    r"^ADD\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?PARTITION\s*"
    r"\((?P<spec>[\s\S]*?)\)\s*"
    r"(?:LOCATION\s+'[^']*'\s*)?(?:(?:UN)?CACHED[\s\S]*)?;?\s*$",
    re.IGNORECASE)
_DROP_PART = re.compile(
    r"^DROP\s+(?P<ife>IF\s+EXISTS\s+)?PARTITION\s*"
    r"\((?P<spec>[\s\S]*?)\)\s*(?:PURGE\s*)?;?\s*$",
    re.IGNORECASE)
# metadata-only settings this engine records as accepted: storage
# hints with no logical-result difference (sort order, caching,
# serde/fileformat of future writes, table properties)
_SET_META = re.compile(
    r"^(?:PARTITION\s*\((?P<spec>(?:[^()]|\([^()]*\))*)\)\s+)?SET\s+"
    r"(?:TBLPROPERTIES|SERDEPROPERTIES|FILEFORMAT|ROW\s+FORMAT|"
    r"LOCATION|CACHED|UNCACHED|OWNER)\b[\s\S]*$",
    re.IGNORECASE)
_SORT_BY = re.compile(
    r"^SORT\s+BY\s*(?:ZORDER\s*|LEXICAL\s*)?\([\s\S]*?\)\s*;?\s*$",
    re.IGNORECASE)


def _summary(spark, text: str) -> DataFrame:
    return rows_df(spark, [(text,)], "summary string")



def _col_def(item: str):
    """('name', 'type sql', comment|None) from a column definition."""
    m = re.match(
        r"\s*(`?)(?P<name>[A-Za-z_]\w*)\1\s+(?P<type>[\s\S]+?)"
        r"(?:\s+COMMENT\s+'(?P<comment>(?:[^']|'')*)')?\s*$",
        item, re.IGNORECASE)
    if not m:
        raise ValueError(f"Cannot parse column definition: {item!r}")
    c = m.group("comment")
    return (m.group("name"), m.group("type").strip(),
            c.replace("''", "'") if c is not None else None)


def _partition_cols(spark, tbl: str) -> list[str]:
    try:
        return [c.name for c in spark.catalog.listColumns(tbl)
                if c.isPartition]
    except _PYSPARK_ERR:  # not a catalog table
        return []


def _orphan_dir(spark, tbl: str) -> str:
    """Warehouse directory a managed table named `tbl` would occupy —
    default-db tables live at ``wh/<name>``, others at
    ``wh/<db>.db/<name>``."""
    import os

    parts = tbl.split(".")
    name = parts[-1].lower()
    db = (parts[-2].lower() if len(parts) > 1
          else (spark.catalog.currentDatabase() or "default"))
    wh = re.sub(r"^file:", "", spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"))
    return (os.path.join(wh, name) if db == "default"
            else os.path.join(wh, f"{db}.db", name))


def _overlay_for(engine, tbl: str):
    """Existing or newly-eligible schema overlay for metadata-only
    CHANGE/REPLACE COLUMNS (schema_resolution.py). Eligible: an
    unpartitioned managed table whose directory holds parquet files —
    the reference never rewrites data for these ALTERs; the resolution
    mode decides what a scan sees."""
    import glob
    import os

    key = tbl.lower()
    ov = engine.schema_overlays.get(key)
    if ov is not None:
        return ov
    # Metadata-only ALTER is opt-in (SET ALTER_SCHEMA_IN_PLACE=1):
    # the overlay temp view shadows the managed table for subsequent
    # INSERT/ALTER/DROP, which the general ALTER surface (alter-table
    # workload) exercises heavily — there the engine's documented
    # rewrite strategy applies. The schema-resolution workload, whose
    # semantics REQUIRE untouched data files, opts in per-file.
    if not engine.alter_in_place:
        return None
    if _partition_cols(engine.spark, tbl):
        return None
    loc = _orphan_dir(engine.spark, tbl)
    if not os.path.isdir(loc):
        return None
    files = [f for f in glob.glob(os.path.join(loc, "*"))
             if f.endswith((".parquet", ".parq"))]
    if not files:
        return None
    return {"location": loc, "logical": engine.spark.table(tbl).schema}


def _overlay_install(engine, tbl: str, ov: dict, logical) -> None:
    ov["logical"] = logical
    engine.schema_overlays[tbl.lower()] = ov
    engine._refresh_overlays("")


def _parse_type(spark, typ: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(typ)


def _recreate(engine, tbl: str, exprs: list) -> None:
    """Project `tbl` through `exprs` and swap the result in under the
    same name, preserving the partition spec. The projection runs
    distributed (one write job over the table's current files).

    Swap order keeps the data reachable at every step: write tmp,
    rename the original aside, rename tmp in (restoring the original
    on failure), then drop the set-aside copy — a failure anywhere
    leaves the table under its original or ``__alter_old`` name, never
    lost."""
    spark = engine.spark
    pcols = _partition_cols(spark, tbl)
    df = spark.table(tbl).select(exprs)
    tmp = f"{tbl}__alter_tmp"
    old = f"{tbl}__alter_old"
    import shutil

    for scratch in (tmp, old):
        spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        # orphan warehouse dir from a crashed prior run would collide
        shutil.rmtree(_orphan_dir(spark, scratch), ignore_errors=True)
    writer = df.write.format("parquet")
    # partition columns must survive the projection by name
    keep = [p for p in pcols if p in df.columns]
    if keep:
        writer = writer.partitionBy(*keep)
    writer.saveAsTable(tmp)
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {old}")
    try:
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {tbl}")
    except _PYSPARK_ERR:
        spark.sql(f"ALTER TABLE {old} RENAME TO {tbl}")
        raise
    spark.sql(f"DROP TABLE {old}")
    if keep:
        # the catalog's rename does not carry partition entries over;
        # rebuild them from the moved directories
        spark.sql(f"MSCK REPAIR TABLE {tbl}")


def _fold_spec(engine, spec: str) -> list[tuple[str, str]]:
    """Partition spec with constant-folded values as SQL literals."""
    items = []
    for item in sqlscan.split_top(spec):
        k, v = item.split("=", 1)
        v = v.strip()
        if not re.fullmatch(r"-?\d+(\.\d+)?|'(?:[^']|'')*'|NULL", v,
                            re.IGNORECASE):
            row = engine.spark.sql(
                "SELECT " + engine.translate(v)).collect()[0][0]
            v = "NULL" if row is None else \
                "'" + str(row).replace("'", "''") + "'" \
                if isinstance(row, str) else str(row)
        items.append((k.strip().strip("`"), v))
    return items


def _drop_sort_col(engine, tbl: str, col: str) -> None:
    sp = engine.sort_props.get(tbl.lower())
    if sp:
        engine.sort_props[tbl.lower()] = (
            [c for c in sp[0] if c.lower() != col.lower()], sp[1])


def _rename_sort_col(engine, tbl: str, old: str, new: str) -> None:
    sp = engine.sort_props.get(tbl.lower())
    if sp:
        engine.sort_props[tbl.lower()] = (
            [new if c.lower() == old.lower() else c for c in sp[0]],
            sp[1])


def handle(engine, sql_text: str) -> DataFrame | None:
    m = _ALTER.match(sql_text)
    if m is None:
        return None
    spark = engine.spark
    tbl, rest = m.group("tbl"), m.group("rest").strip()

    am = _ADD_COLS.match(rest) or _ADD_COL.match(rest)
    if am:
        if "cols" in am.groupdict() and am.group("cols") is not None:
            defs = [_col_def(x)
                    for x in sqlscan.split_top(am.group("cols"), angle=True)]
            ine = bool(am.group("ine1"))
        else:
            defs = [_col_def(am.group("col"))]
            ine = bool(am.group("ine"))
        existing = {c.lower() for c in spark.table(tbl).columns}
        new = [d for d in defs if d[0].lower() not in existing]
        if ine and not new:
            return _summary(
                spark, "No new column(s) have been added to the table.")
        if not new and not ine:
            raise ValueError(f"Column already exists: {defs[0][0]}")
        if stats.key(engine, tbl) in engine.avro_tables:
            # avro tables convert added columns through the Avro type
            # mapping (TINYINT/SMALLINT->INT, TIMESTAMP->STRING) and
            # default the comment to 'from deserializer'
            # (avro-schema-changes.test IMPALA-3092 block)
            new = [(n, engine._avro_type(t),
                    c if c is not None else "from deserializer")
                   for n, t, c in new]
        ddl = ", ".join(
            f"`{n}` {t}" + (f" COMMENT '{c}'" if c is not None else "")
            for n, t, c in new)
        spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS ({ddl})")
        return _summary(
            spark, "New column(s) have been added to the table.")

    dm = _DROP_COL.match(rest)
    if dm and dm.group("col").lower() != "partition":
        col = dm.group("col")
        cols = spark.table(tbl).schema.fields
        if col.lower() not in {f.name.lower() for f in cols}:
            raise ValueError(f"Column does not exist: {col}")
        exprs = [F.col(f"`{f.name}`") for f in cols
                 if f.name.lower() != col.lower()]
        _recreate(engine, tbl, exprs)
        _drop_sort_col(engine, tbl, col)
        return _summary(spark, "Column has been dropped.")

    cm = _CHANGE_COL.match(rest)
    if cm:
        old, new, typ = cm.group("old"), cm.group("new"), \
            cm.group("type")
        comment = cm.group("comment")
        ov = _overlay_for(engine, tbl)
        if ov is not None:
            from pyspark.sql.types import StructField, StructType

            fields, found = [], False
            for f in ov["logical"].fields:
                if f.name.lower() == old.lower():
                    found = True
                    fields.append(StructField(
                        new, _parse_type(spark, typ), True))
                else:
                    fields.append(f)
            if not found:
                raise ValueError(f"Column does not exist: {old}")
            _overlay_install(engine, tbl, ov, StructType(fields))
            _rename_sort_col(engine, tbl, old, new)
            return _summary(spark, "Column has been altered.")
        exprs = []
        found = False
        df0 = spark.table(tbl)
        for f in df0.schema.fields:
            if f.name.lower() == old.lower():
                found = True
                meta = dict(f.metadata or {})
                if comment is not None:
                    meta["comment"] = comment.replace("''", "'")
                e = F.col(f"`{f.name}`").cast(typ)
                try:
                    df0.select(e)     # analysis-only validity probe
                except _PYSPARK_ERR:  # uncastable column type
                    # uncastable retype reads as NULL (what a parquet
                    # re-read under the new schema yields)
                    e = F.lit(None).cast(typ)
                exprs.append(e.alias(new, metadata=meta))
            else:
                exprs.append(F.col(f"`{f.name}`"))
        if not found:
            raise ValueError(f"Column does not exist: {old}")
        _recreate(engine, tbl, exprs)
        _rename_sort_col(engine, tbl, old, new)
        return _summary(spark, "Column has been altered.")

    scm = _SET_COMMENT.match(rest)
    if scm:
        col = scm.group("col")
        exprs = []
        for f in spark.table(tbl).schema.fields:
            if f.name.lower() == col.lower():
                meta = dict(f.metadata or {})
                meta["comment"] = scm.group("comment").replace("''", "'")
                exprs.append(F.col(f"`{f.name}`")
                             .alias(f.name, metadata=meta))
            else:
                exprs.append(F.col(f"`{f.name}`"))
        _recreate(engine, tbl, exprs)
        return _summary(spark, "Column has been altered.")

    rm = _REPLACE_COLS.match(rest)
    if rm:
        defs = [_col_def(x)
                for x in sqlscan.split_top(rm.group("cols"), angle=True)]
        ov = _overlay_for(engine, tbl)
        if ov is not None:
            from pyspark.sql.types import StructField, StructType

            logical = StructType([
                StructField(n, _parse_type(spark, t), True,
                            {"comment": c} if c is not None else {})
                for n, t, c in defs])
            _overlay_install(engine, tbl, ov, logical)
            return _summary(spark, "Table columns have been replaced.")
        pcols = _partition_cols(spark, tbl)
        fields = [f for f in spark.table(tbl).schema.fields
                  if f.name not in pcols]
        exprs = []
        # Hive REPLACE COLUMNS is positional schema-on-read: the i-th
        # new column reads the i-th existing data column; an
        # uncastable pairing reads as NULL (what a parquet re-read
        # under the new schema yields)
        df0 = spark.table(tbl)
        for i, (n, t, c) in enumerate(defs):
            meta = {"comment": c} if c is not None else {}
            e = F.lit(None).cast(t)
            if i < len(fields):
                try:
                    cast_e = F.col(f"`{fields[i].name}`").cast(t)
                    df0.select(cast_e)   # analysis-only validity probe
                    e = cast_e
                except _PYSPARK_ERR:  # uncastable column type
                    pass
            exprs.append(e.alias(n, metadata=meta))
        exprs += [F.col(f"`{p}`") for p in pcols]
        _recreate(engine, tbl, exprs)
        # positional replace: the i-th sort column follows the rename
        # of the i-th data column, dropped columns fall out
        ren = {fields[i].name.lower(): defs[i][0]
               for i in range(min(len(fields), len(defs)))}
        sp = engine.sort_props.get(tbl.lower())
        if sp:
            cols = [ren[c.lower()] for c in sp[0] if c.lower() in ren]
            engine.sort_props[tbl.lower()] = (cols, sp[1])
        return _summary(spark, "Table columns have been replaced.")

    n_specs = len(re.findall(r"\bPARTITION\s*\(", rest, re.IGNORECASE))
    pm = _ADD_PART.match(rest) if n_specs <= 1 else None
    if pm is None and re.match(
            r"^ADD\s+(?:IF\s+NOT\s+EXISTS\s+)?PARTITION\b", rest,
            re.IGNORECASE):
        # multi-partition form: ADD PARTITION (..) [opts] PARTITION
        # (..) [opts] ... (AlterTableAddPartitionStmt repeated specs)
        ine = bool(re.match(r"^ADD\s+IF\s+NOT\s+EXISTS\b", rest,
                            re.IGNORECASE))
        specs = re.findall(r"PARTITION\s*\(((?:[^()]|\([^()]*\))*)\)",
                           rest, re.IGNORECASE)
        for raw in specs:
            spec = _fold_spec(engine, raw)
            sql_spec = ", ".join(f"`{k}`={v}" for k, v in spec)
            kw = "IF NOT EXISTS " if ine else ""
            spark.sql(
                f"ALTER TABLE {tbl} ADD {kw}PARTITION ({sql_spec})")
        return _summary(
            spark, "New partition has been added to the table.")
    if pm:
        spec = _fold_spec(engine, pm.group("spec"))
        sql_spec = ", ".join(f"`{k}`={v}" for k, v in spec)
        ine = "IF NOT EXISTS " if pm.group("ine") else ""
        spark.sql(f"ALTER TABLE {tbl} ADD {ine}PARTITION ({sql_spec})")
        return _summary(
            spark, "New partition has been added to the table.")

    pm = _DROP_PART.match(rest)
    if pm:
        # every spec form — exact, NULL-valued, or comparison
        # predicates — evaluates against the catalog's partition list
        # (AlterTableDropPartitionStmt); metadata-sized
        from incubator_impala_spark import partitions

        matched = partitions.match_partitions(
            engine, tbl, engine.translate(pm.group("spec")))
        key = stats.key(engine, tbl)
        prows = stats.get(engine, tbl).parts
        for kv in matched:
            spark.sql(f"ALTER TABLE {tbl} DROP PARTITION "
                      f"({partitions.drop_spec(kv)})")
            suffix = partitions.part_suffix(kv)
            engine.part_formats.pop((key, suffix), None)
            prows.pop(suffix, None)
        return _summary(spark,
                        f"Dropped {len(matched)} partition(s).")

    sm = _SET_META.match(rest)
    if sm:
        lm = re.search(r"avro\.schema\.literal'\s*=\s*'([^']*)'", rest)
        if lm and not sm.group("spec"):
            # a new avro literal REPLACES the table schema
            # (AvroSchemaUtils.reconcileSchemas); these tables are
            # metadata-only, so recreate under the new literal
            engine.create_avro_from_literal(tbl, lm.group(1), None)
            return _summary(spark, "Updated table.")
        # stats-bearing properties: Hive/Impala stats live in
        # numRows tblproperties; ALTER SET with a (possibly corrupt —
        # 0 or negative) value feeds SHOW TABLE STATS and the
        # planner's corrupt-stats warning (corrupt-stats.test,
        # HdfsScanNode.hasCorruptTableStats)
        nm = re.search(r"(?i)'numRows'\s*=\s*'(-?\d+)'", rest)
        if re.match(r"^\s*SET\s+TBLPROPERTIES\b", rest, re.IGNORECASE) \
                and not sm.group("spec"):
            try:  # real property store when Spark supports it
                spark.sql(f"ALTER TABLE {tbl} {rest}")
            except _PYSPARK_ERR:  # view / non-catalog relation
                pass
            if nm:
                stats.record(engine, tbl).rows = int(nm.group(1))
        if sm.group("spec"):
            from incubator_impala_spark import partitions

            matched = partitions.match_partitions(
                engine, tbl, engine.translate(sm.group("spec")))
            lp = re.match(r"^\s*PARTITION\s*\([^)]*(?:\([^)]*\)[^)]*)*\)"
                          r"\s+SET\s+LOCATION\s+'(?P<loc>[^']*)'",
                          rest, re.IGNORECASE)
            if lp:
                # per-partition location override: recorded for the
                # mixed-format scan dispatch (HdfsStorageDescriptor
                # keeps location per partition) and resolved against
                # the warehouse root like LOAD DATA paths
                from incubator_impala_spark import mixedformat
                from incubator_impala_spark import partitions as _pt

                key = stats.key(engine, tbl)
                for kv in matched:
                    engine.part_locations[
                        (key, _pt.part_suffix(kv))] = \
                        engine._resolve_fs_path(lp.group("loc"))
                if matched:
                    mixedformat.maybe_activate(
                        engine, tbl.strip("`").split(".")[-1].lower())
                # partition found → the reference's per-partition
                # message; an empty match is a no-op with the
                # table-level message (partition-ddl-predicates)
                return _summary(
                    spark, "New location has been set for the "
                           "specified partition." if matched
                    else "New location has been set.")
            if nm:
                prows = stats.record(engine, tbl).parts
                for kv in matched:
                    prows[partitions.part_suffix(kv)] = int(nm.group(1))
            fm = re.search(r"\bSET\s+FILEFORMAT\s+(\w+)", rest,
                           re.IGNORECASE)
            if fm:
                key = stats.key(engine, tbl)
                disp = {"textfile": "TEXT", "sequencefile": "SEQUENCE",
                        "rcfile": "RC"}.get(fm.group(1).lower(),
                                            fm.group(1).upper())
                for kv in matched:
                    engine.part_formats[
                        (key, partitions.part_suffix(kv))] = disp
                if matched:
                    from incubator_impala_spark import mixedformat

                    mixedformat.maybe_activate(
                        engine, tbl.strip("`").split(".")[-1].lower())
            return _summary(spark,
                            f"Updated {len(matched)} partition(s).")
        return _summary(spark, "Updated table.")

    sb = re.match(r"^SORT\s+BY\s*(?P<ord>ZORDER|LEXICAL)?\s*"
                  r"\((?P<cols>[\s\S]*?)\)\s*;?\s*$", rest,
                  re.IGNORECASE)
    if sb:
        # write-layout metadata (IMPALA-4166/IMPALA-10233): recorded
        # for DESCRIBE FORMATTED's sort.columns/sort.order rows; no
        # effect on stored data. The analyzer validates the column
        # list against the CURRENT schema
        # (AlterTableSortByStmt.analyze) — a dropped column must fail
        # without touching the recorded layout (alter-table.test
        # CATCH blocks 154/193)
        cols = [c.strip().strip("`")
                for c in sb.group("cols").split(",") if c.strip()]
        have = {f.name.lower() for f in spark.table(tbl).schema.fields}
        for c in cols:
            if c.lower() not in have:
                raise ValueError(
                    f"AnalysisException: Could not find SORT BY "
                    f"column '{c}' in table.")
        engine.sort_props[tbl.lower()] = (
            cols, (sb.group("ord") or "LEXICAL").upper())
        return _summary(spark, "Updated table.")

    return None
