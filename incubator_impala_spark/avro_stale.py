"""Stale-Avro-metadata semantics (avro-schema-changes.test blocks 0-9).

Reference behavior (fe table loading + be/src/exec/hdfs-avro-scanner):
a table created WITHOUT an Avro format whose fileformat is later
ALTERed to AVRO keeps serving the pre-alter (schema-less) metadata
until INVALIDATE METADATA reloads it — scans in the stale window fail
with "Missing Avro schema in scan node. This could be due to stale
metadata."; after invalidation the Avro schema (avro.schema.url) is
applied and scans work.

Spark has no stale-metadata window (temp views re-resolve per query),
so the contract is modeled as an explicit registry on the engine:

* CREATE EXTERNAL TABLE ... TBLPROPERTIES('avro.schema.url'=...)
  with no STORED AS AVRO registers here (state 'text', nothing is
  created in the Spark catalog — the reference's pre-alter reads are
  not exercised by the test).
* ALTER ... SET FILEFORMAT AVRO (table- or partition-level) moves the
  entry to 'stale'.
* Any query referencing a stale entry raises the reference's message
  (checked on the neutralized shadow, same as scan_errors).
* INVALIDATE METADATA / REFRESH materializes the table: the reader
  schema comes from the avro.schema.url json, data from the
  registered location(s) via sources.avro_io.read_avro (distributed
  container scan), partition values as literal columns — then the
  entry is 'loaded' and queries flow normally.
"""
from __future__ import annotations

import json
import re

from incubator_impala_spark import partitions, sqlscan
from incubator_impala_spark.session import rows_df, summary

# what follows ALTER TABLE and REFRESH / INVALIDATE METADATA
# (statements.py matches the heads and reads a CREATE TABLE; the
# ALTER parts are matched with sqlscan.match)
_SET_FMT = re.compile(
    r"\s+[A-Za-z_][\w.]*\s+"
    r"(?:PARTITION\s*\([^)]*\)\s+)?SET\s+FILEFORMAT\s+AVRO\s*;?\s*$",
    re.IGNORECASE)
_ADD_PART = re.compile(
    r"\s+[A-Za-z_][\w.]*\s+"
    r"ADD\s+PARTITION\s*\((?P<spec>[^)]*)\)\s*"
    r"(?:LOCATION\s+'(?P<loc>[^']*)')?\s*;?\s*$",
    re.IGNORECASE)
_TABLE = re.compile(r"\s+[A-Za-z_][\w.]*\s*;?\s*$")

STALE_MSG = ("Missing Avro schema in scan node. This could be due to "
             "stale metadata.")


def _key(tbl: str) -> str:
    return tbl.strip("`").split(".")[-1].lower()


def create(engine, c):
    """CREATE TABLE (cols) [PARTITIONED BY] [LOCATION] TBLPROPERTIES
    ('avro.schema.url'=...), its only property, with no format (its
    parts `c`, statements.Create): a new registry entry, still text;
    None for any other CREATE."""
    props = c.props
    if c.cols is None or list(props) != ["avro.schema.url"] or c.ine \
            or c.serde is not None or any((
                c.sort, c.comment, c.row_format, c.stored_as, c.clustered,
                c.like, c.like_fmt, c.body)):
        return None
    engine.avro_stale[_key(c.name)] = {
        "display": c.name,
        "part": c.part,
        "location": c.location and sqlscan.unquote(c.location),
        "url": props["avro.schema.url"],
        "partitions": [],
        "state": "text",
    }
    return summary(engine.spark, "Table has been created.")


def alter(engine, stmt):
    """ALTER TABLE SET FILEFORMAT AVRO (the entry goes stale) or ADD
    PARTITION of a registered table; None otherwise."""
    info = engine.avro_stale.get(_key(stmt.name or ""))
    if info is not None and sqlscan.match(_SET_FMT, stmt.tail):
        info["state"] = "stale"
        return summary(engine.spark, "Updated table.")
    m = info is not None and sqlscan.match(_ADD_PART, stmt.tail)
    if not m:
        return None
    spec = {k: partitions.literal(v) for k, v in
            partitions.fold_spec(engine, m.group("spec")).items()}
    info["partitions"].append((spec, m.group("loc")))
    return summary(engine.spark,
                   "New partition has been added to the table.")


def refresh(engine, stmt):
    """REFRESH / INVALIDATE METADATA of a registered table: load it
    under its current state; None otherwise."""
    key = _key(stmt.name or "")
    if key not in engine.avro_stale or not _TABLE.match(stmt.tail):
        return None
    _materialize(engine, engine.avro_stale[key], key)
    return rows_df(engine.spark, [], "status string")


def _materialize(engine, info: dict, name: str) -> None:
    from pyspark.sql import functions as F

    from incubator_impala_spark.sources import avro_io

    spark = engine.spark
    reader = json.loads(
        open(engine._resolve_fs_path(info["url"])).read())
    parts = []
    if info["location"]:
        parts.append(({}, info["location"]))
    parts += [(spec, loc) for spec, loc in info["partitions"] if loc]
    dfs = []
    pcols = [(n, t or "string") for n, t, _ in info["part"] or []]
    for spec, loc in parts:
        df = avro_io.read_avro(
            spark, engine._resolve_fs_path(loc), reader)
        for pname, ptype in pcols:
            df = df.withColumn(
                pname,
                F.lit(spec.get(pname.lower())).cast(ptype))
        dfs.append(df)
    if dfs:
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
    else:
        from incubator_impala_spark.sources.avro_io import (
            spark_schema_for,
        )

        out = rows_df(spark, [], spark_schema_for(reader))
    out.createOrReplaceTempView(name)
    info["state"] = "loaded"


def check_query(engine, sql_text: str) -> None:
    """Raise the stale-metadata error when a statement that reads or
    writes rows references a stale entry (neutralized shadow —
    literals/comments blanked); DDL never reaches the scanner."""
    stale = {k for k, v in engine.avro_stale.items()
             if v["state"] == "stale"}
    if not stale:
        return
    low = sqlscan.shadow(sql_text).lower()
    for name in stale:
        if re.search(rf"\b{re.escape(name)}\b", low):
            raise ValueError(STALE_MSG)
