"""Hive ACID table semantics: insert-only and full-transactional
tables, modeled in-engine the way the reference models them in its
frontend catalog + ORC scanner.

Reference behavior re-expressed here (no code ported):

* Table identity: ``tblproperties('transactional'='true')`` marks a
  table ACID; ``'transactional_properties'='insert_only'`` selects the
  insert-only (micromanaged-directory) flavor, otherwise the table is
  full ACID and must be ORC (fe/src/main/java/org/apache/impala/util/
  AcidUtils.java, catalog/Table.java).  ``SET DEFAULT_TRANSACTIONAL_
  TYPE=insert_only`` makes plain CREATEs transactional
  (query-options.h, CreateTableStmt.java).
* Storage layout: every transactional write allocates a table-level
  write id and lands in ``delta_<w>_<w>/`` (INSERT),
  ``base_<w>/`` (INSERT OVERWRITE / major compaction / TRUNCATE),
  or ``delete_delta_<w>_<w>/`` (Hive DELETE) under the table or
  partition directory (AcidUtils.java filename grammar).
* Snapshot isolation: the engine caches a ValidWriteIdList when table
  metadata loads; Hive-side commits are INVISIBLE until
  REFRESH / INVALIDATE METADATA re-captures the list
  (fe/.../catalog/HdfsTable loadValidWriteIdList; the acid.test
  "insert from Hive then refresh" contract).  A file is selected when
  its write-id range is committed in the snapshot; the newest visible
  base hides originals and older deltas (AcidUtils.filterFilesForAcidState).
* Full-ACID ORC files carry the five ACID columns wrapping a ``row``
  struct (operation, originalTransaction, bucket, rowId,
  currentTransaction); scans surface the synthetic ``row__id`` struct,
  filter rows whose currentTransaction is not committed in the
  snapshot (Hive streaming side-files hold several write ids in one
  file — be/src/exec/orc/hdfs-orc-scanner.cc row validation), and
  anti-join delete_delta keys (originalTransaction, bucket, rowId).
* "Original files" (pre-upgrade data in a promoted table) synthesize
  row__id as (operation=0, originalTransaction=0, bucket from the
  ``<bucket>_<copy>`` filename, rowId = row index within the file,
  currentTransaction=0); a file whose name does not parse as
  ``<digits>_<digits>`` aborts the scan with "Found original file with
  unexpected name" (AcidUtils.java original-file row-id synthesis).
* Engine-side INSERT/TRUNCATE clear Hive's COLUMN_STATS_ACCURATE
  marker (acid-clear-statsaccurate contract, CatalogOpExecutor).
* Negative surface: ALTER/DROP STATS are rejected on any ACID table;
  INSERT/TRUNCATE additionally on full ACID
  (AnalysisException texts from fe/.../analysis/*Stmt.java).

Spark-first notes for the 100 TB path: the visible-file selection is
pure metadata (directory names encode write ids — no data is read to
decide), the insert-only read path is Spark's native distributed
parquet/ORC/text readers over the selected files with partition
values attached as literals (partition pruning still applies through
the view's partition columns), and the full-ACID row filter is a
write-id range predicate that only materializes per-row work inside
multi-write-id streaming files.  The one deliberately local piece is
original-file rowId synthesis, which needs the row's ordinal within
its file — the reference derives it from scan-range offsets inside the
scanner; here it is a single-pass pyarrow read per original file,
acceptable because original files exist only in freshly-promoted
tables (one file per pre-upgrade write) and are folded into a base by
the first compaction.
"""
from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from incubator_impala_spark import dialect, partitions, sqlscan, stats
from incubator_impala_spark.namespaces import refuse_drop_view
from incubator_impala_spark.partitions import partition_columns
from incubator_impala_spark.session import rows_df, summary

_SPARK_TYPES = {
    "int": "int", "integer": "int", "tinyint": "tinyint",
    "smallint": "smallint", "bigint": "bigint", "boolean": "boolean",
    "float": "float", "double": "double", "string": "string",
    "timestamp": "timestamp", "date": "date",
}

_BUCKET0 = 536870912          # BucketCodec v1, bucket 0: (1 << 29)


def bucket_code(n: int) -> int:
    """Hive BucketCodec V1: version 1 in bits 29-31, bucket id in
    bits 16-28 (org.apache.hadoop.hive.ql.io.BucketCodec)."""
    return (1 << 29) | (n << 16)


@dataclass
class AcidTable:
    display: str                 # user-facing (possibly db-qualified)
    phys: str                    # temp-view / registry key
    db: str | None
    location: str                # real directory on disk
    cols: list                   # [(name, spark_type)] data columns
    pcols: list                  # [(name, spark_type)] partition cols
    insert_only: bool
    fmt: str                     # 'text' | 'orc' | 'parquet'
    highwater: int = 0           # metastore-truth last write id
    aborted: set = field(default_factory=set)
    open_txns: set = field(default_factory=set)
    snap_hw: int = 0             # engine-cached ValidWriteIdList
    snap_exc: set = field(default_factory=set)
    partitions: set = field(default_factory=set)   # registered suffixes
    has_originals: bool = False  # promoted table w/ pre-ACID files
    display_loc: str | None = None   # SHOW FILES base override
    dirty: bool = True
    fixture: bool = False        # functional-dataset fixture: kept by reset

    def visible(self, w: int, hw: int | None = None,
                exc: set | None = None) -> bool:
        hw = self.snap_hw if hw is None else hw
        exc = self.snap_exc if exc is None else exc
        return w == 0 or (w <= hw and w not in exc)


# ---------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------

def _tables(engine) -> list[AcidTable]:
    """The registered ACID tables: the ACID state of the catalog
    records that carry one."""
    return [rec.acid for rec in engine.tables.values()
            if rec.acid is not None]


def _alloc(t: AcidTable) -> int:
    t.highwater += 1
    return t.highwater


def _engine_commit(t: AcidTable, w: int) -> None:
    """An engine-side write is immediately visible to the engine;
    Hive writes that happened since the last refresh stay invisible
    (they enter the snapshot as exceptions below the new high-water,
    exactly a ValidWriteIdList with open write ids)."""
    for i in range(t.snap_hw + 1, w):
        t.snap_exc.add(i)
    t.snap_hw = max(t.snap_hw, w)
    t.snap_exc.discard(w)
    t.dirty = True


def _refresh_snapshot(t: AcidTable) -> None:
    t.snap_hw = t.highwater
    t.snap_exc = set(t.aborted) | set(t.open_txns)
    t.dirty = True


def commit_writeid(engine, name: str, w: int | None = None) -> None:
    """Commit the lowest open write id (Hive Streaming commit —
    the acid-row-validation driver's AcidTxn.commit_txn)."""
    t = stats.peek(engine, name).acid
    if w is None:
        w = min(t.open_txns)
    t.open_txns.discard(w)
    t.dirty = True


# ---------------------------------------------------------------------
# directory / file helpers
# ---------------------------------------------------------------------

_DELTA_RE = re.compile(r"^delta_(\d+)_(\d+)(?:_v\d+|_\d+)?$")
_DELETE_RE = re.compile(r"^delete_delta_(\d+)_(\d+)(?:_v\d+|_\d+)?$")
_BASE_RE = re.compile(r"^base_(\d+)(?:_v\d+)?$")
_ORIG_NAME = re.compile(r"^(\d+)_\d+$")


def _leaves(root: str, depth: int) -> dict:
    """{suffix: directory} of the `k=v` directories `depth` levels
    under `root` (Spark's and Hive's partition layout)."""
    leaves = {}

    def walk(d: str, parts: list) -> None:
        if len(parts) == depth:
            leaves["/".join(parts)] = d
            return
        if not os.path.isdir(d):
            return
        for e in sorted(os.listdir(d)):
            if "=" in e and os.path.isdir(os.path.join(d, e)):
                walk(os.path.join(d, e), parts + [e])

    walk(root, [])
    return leaves


def _leaf_dirs(t: AcidTable) -> list:
    """(suffix, real_dir) per partition leaf ('' for unpartitioned).
    Registered partitions are included even when empty on disk."""
    if not t.pcols:
        return [("", t.location)]
    leaves = _leaves(t.location, len(t.pcols))
    for suffix in t.partitions:
        leaves.setdefault(suffix,
                          os.path.join(t.location, suffix))
    return sorted(leaves.items())


def _select_files(t: AcidTable, leaf: str, hw: int | None = None,
                  exc: set | None = None, cap: int | None = None):
    """AcidUtils.filterFilesForAcidState: pick the newest visible
    base, then visible deltas above it, plus originals when no base
    covers them.  Returns (data_files, delete_files, orig_files) as
    (relpath, writeid_lo, writeid_hi) triples.  ``cap`` (compaction
    only) excludes any delta/delete dir whose range reaches above it —
    Hive's compactor never consumes a directory that may still hold
    an open write id."""
    data, deletes, originals = [], [], []
    if not os.path.isdir(leaf):
        return data, deletes, originals
    best_base, best_w = None, -1
    entries = sorted(os.listdir(leaf))
    for e in entries:
        m = _BASE_RE.match(e)
        if m and t.visible(int(m.group(1)), hw, exc) \
                and int(m.group(1)) > best_w:
            best_base, best_w = e, int(m.group(1))
    for e in entries:
        p = os.path.join(leaf, e)
        if os.path.isfile(p):
            if best_base is None and not e.startswith((".", "_")):
                originals.append((e, 0, 0))
            continue
        m = _DELTA_RE.match(e)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            if hi > best_w and (cap is None or hi <= cap) and any(
                    t.visible(w, hw, exc)
                    for w in range(lo, hi + 1)):
                for f in sorted(os.listdir(p)):
                    if not f.startswith((".", "_")):
                        data.append((os.path.join(e, f), lo, hi))
            continue
        m = _DELETE_RE.match(e)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            if hi > best_w and (cap is None or hi <= cap) and any(
                    t.visible(w, hw, exc)
                    for w in range(lo, hi + 1)):
                for f in sorted(os.listdir(p)):
                    if not f.startswith((".", "_")):
                        deletes.append((os.path.join(e, f), lo, hi))
            continue
        m = _BASE_RE.match(e)
        if m and e == best_base:
            for f in sorted(os.listdir(p)):
                if not f.startswith((".", "_")):
                    data.append((os.path.join(e, f),
                                 best_w, best_w))
    return data, deletes, originals


def _schema_ddl(cols: list) -> str:
    return ", ".join(f"`{n}` {ty}" for n, ty in cols)


def _read_schema(cols: list) -> str:
    """Schema DDL for reading a table's files: Spark's file readers
    take no CHAR(n)/VARCHAR(n), so those read as STRING (the write
    cast already padded or bounded the values)."""
    return _schema_ddl([
        (n, re.sub(r"(?i)\b(?:var)?char\s*\(\s*\d+\s*\)", "string", ty))
        for n, ty in cols])


def _read_plain(engine, t: AcidTable, files: list):
    """Distributed read of insert-only data files in the table's
    declared format with the registry schema."""
    spark = engine.spark
    schema = _read_schema(t.cols)
    if t.fmt == "text":
        return (spark.read.schema(schema)
                .options(sep="\x01", nullValue="\\N", emptyValue="")
                .csv(files))
    if t.fmt == "orc":
        return spark.read.schema(schema).orc(files)
    return spark.read.schema(schema).parquet(*files)


def _empty_df(engine, t: AcidTable, with_rowid: bool = False):
    cols = _read_schema(t.cols + t.pcols)
    if with_rowid:
        cols = ("row__id struct<operation:int,"
                "originaltransaction:bigint,bucket:int,rowid:bigint,"
                "currenttransaction:bigint>, " + cols)
    return rows_df(engine.spark, [], cols)


# The engine's own full-ACID files store the five ACID columns
# FLATTENED under these names, next to the data columns.  Spark's
# ORC reader special-cases files whose top-level schema matches
# Hive's ACID wrapper (operation .. currentTransaction, row struct)
# and mis-resolves every pruned/projected read of them
# (OrcUtils column-id mapping) — so the Hive-exact piece here is the
# directory grammar, write-id assignment and row__id VALUES, while
# the in-file layout avoids the wrapper pattern and keeps the scan
# on Spark's native vectorized ORC path (predicate + column pruning
# intact).  Genuine Hive-written ACID files (e.g. the reference's
# streaming.orc staged by the row-validation driver) read through
# the pyarrow fallback below.
_ACID_FLAT = [("_acid_operation", "int"),
              ("_acid_original_txn", "bigint"),
              ("_acid_bucket", "int"),
              ("_acid_rowid", "bigint"),
              ("_acid_current_txn", "bigint")]
_ACID_KEY = ["_acid_original_txn", "_acid_bucket", "_acid_rowid"]


def _rowid_struct():
    return F.struct(
        F.col("_acid_operation").alias("operation"),
        F.col("_acid_original_txn").alias("originaltransaction"),
        F.col("_acid_bucket").alias("bucket"),
        F.col("_acid_rowid").alias("rowid"),
        F.col("_acid_current_txn").alias("currenttransaction"),
    ).alias("row__id")


_WRAPPED_CACHE: dict = {}


def _is_wrapped_acid(path: str) -> bool:
    """Footer check: a genuine Hive ACID file (wrapper schema).
    Cached per (path, mtime, size) — ACID files are immutable once
    their directory commits (a new write is a new delta/base dir), so
    each file pays ONE driver-side footer read per lifetime instead
    of one per view rebuild (O(files) metadata reads otherwise)."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return False
    if key in _WRAPPED_CACHE:
        return _WRAPPED_CACHE[key]
    try:
        import pyarrow as pa
        from pyarrow import orc as pa_orc

        names = [f.name for f in pa_orc.ORCFile(path).schema]
        val = names[:5] == ["operation", "originalTransaction",
                            "bucket", "rowId",
                            "currentTransaction"] and "row" in names
    except (OSError, pa.lib.ArrowException):  # unreadable: not wrapped
        val = False
    _WRAPPED_CACHE[key] = val
    return val


def _read_wrapped_acid(engine, t: AcidTable, files: list):
    """Genuine Hive ACID ORC files (wrapper schema) -> the flat
    column layout, read DISTRIBUTED: the driver plans one
    (path, stripe) row per ORC stripe (footer-only nstripes read,
    amortized by the same immutability as _is_wrapped_acid) and each
    executor task decodes its stripe with pyarrow inside an
    Arrow-batched ``mapInPandas`` (the `sources/avro_io.py` split
    pattern) — file bytes never touch the driver, and one multi-GB
    streaming side-file fans out across tasks instead of serializing
    (safe because the wrapper schema CARRIES rowId; nothing is
    synthesized from file position).  Spark's ORC reader cannot
    prune/project the wrapper pattern (OrcUtils column-id mapping),
    hence the pyarrow decode; the reference runs the same per-row
    work inside each scanner (be/src/exec/orc/hdfs-orc-scanner.cc
    row validation)."""
    from pyarrow import orc as _pa_orc

    cols = list(t.cols)
    out_schema = _read_schema(_ACID_FLAT + cols)
    splits = []
    for p in files:
        for i in range(_pa_orc.ORCFile(p).nstripes):
            splits.append((p, i))

    def _decode(it):
        import pandas as pd
        import pyarrow as pa
        from pyarrow import orc as pa_orc

        for pdf_in in it:
            for path, stripe in zip(pdf_in["path"],
                                    pdf_in["stripe"]):
                tbl = pa.Table.from_batches(
                    [pa_orc.ORCFile(path).read_stripe(int(stripe))])
                grab = {n.lower(): n for n in tbl.column_names}
                data = {
                    "_acid_operation":
                        tbl.column(grab["operation"]).to_pandas(),
                    "_acid_original_txn":
                        tbl.column(grab["originaltransaction"])
                        .to_pandas(),
                    "_acid_bucket":
                        tbl.column(grab["bucket"]).to_pandas(),
                    "_acid_rowid":
                        tbl.column(grab["rowid"]).to_pandas(),
                    "_acid_current_txn":
                        tbl.column(grab["currenttransaction"])
                        .to_pandas(),
                }
                row = tbl.column(grab["row"]).combine_chunks()
                fields = {row.type.field(i).name.lower(): row.field(i)
                          for i in range(row.type.num_fields)}
                for cname, _ in cols:
                    data[cname] = (fields[cname].to_pandas()
                                   if cname in fields
                                   else pd.Series([None] * len(tbl)))
                yield pd.DataFrame(data)

    paths = rows_df(
        engine.spark, splits, "path string, stripe int"
    ).repartition(len(splits))
    return paths.mapInPandas(_decode, schema=out_schema)


def _read_original_acid(engine, t: AcidTable, leaf: str,
                        origs: list):
    """Original files of a promoted full-ACID table: synthesize the
    ACID columns.  rowId is the row's ordinal within its file — a
    scanner-side offset in the reference, synthesized here inside the
    executor task that decodes the file (driver plans one row per
    file; the per-file ordinal is a range over that task's own read,
    so a freshly-promoted warehouse scans distributed, one task per
    pre-upgrade file).  Filename validation stays on the driver so
    the reference's error surfaces before any job is launched."""
    paths = []
    for rel, _, _ in origs:
        base = os.path.basename(rel)
        if not _ORIG_NAME.match(base):
            raise ValueError(
                f"Found original file with unexpected name: "
                f"{os.path.join(leaf, rel)}")
        paths.append(os.path.join(leaf, rel))
    cols = list(t.cols)
    out_schema = _read_schema(_ACID_FLAT + cols)

    def _decode(it):
        import pandas as pd

        for pdf_in in it:
            for path in pdf_in["path"]:
                with open(path, "rb") as fh:
                    magic = fh.read(4)
                if magic[:3] == b"ORC":
                    from pyarrow import orc as pa_orc

                    tbl = pa_orc.ORCFile(path).read()
                else:
                    import pyarrow.parquet as pq

                    tbl = pq.read_table(path)
                grab = {n.lower(): n for n in tbl.column_names}
                bkt = bucket_code(
                    int(os.path.basename(path).split("_")[0]))
                n = len(tbl)
                data = {
                    "_acid_operation": pd.Series([0] * n,
                                                 dtype="int32"),
                    "_acid_original_txn": pd.Series([0] * n,
                                                    dtype="int64"),
                    "_acid_bucket": pd.Series([bkt] * n,
                                              dtype="int32"),
                    "_acid_rowid": pd.Series(range(n),
                                             dtype="int64"),
                    "_acid_current_txn": pd.Series([0] * n,
                                                   dtype="int64"),
                }
                for cname, _ in cols:
                    data[cname] = (tbl.column(grab[cname]).to_pandas()
                                   if cname in grab
                                   else pd.Series([None] * n))
                yield pd.DataFrame(data)

    df = rows_df(
        engine.spark, [(p,) for p in paths], "path string"
    ).repartition(len(paths))
    return df.mapInPandas(_decode, schema=out_schema)


def _visible_pred(t: AcidTable, col, hw: int, exc: set):
    pred = (col <= F.lit(hw)) | (col == F.lit(0))
    bad = sorted(w for w in exc if w <= hw)
    if bad:
        pred = pred & ~col.isin(bad)
    return pred


def _read_leaf(engine, t: AcidTable, suffix: str, leaf: str,
               hw: int, exc: set, with_rowid: bool,
               cap: int | None = None):
    """One partition leaf -> DataFrame of visible rows (data cols,
    plus row__id first when requested), or None when empty."""
    spark = engine.spark
    data, deletes, origs = _select_files(t, leaf, hw, exc, cap)
    dfs = []
    if t.insert_only:
        files = [os.path.join(leaf, rel) for rel, _, _ in data] + \
                [os.path.join(leaf, rel) for rel, _, _ in origs]
        files = [f for f in files
                 if os.path.basename(f) != "empty"
                 and os.path.getsize(f) > 0]
        if files:
            dfs.append(_read_plain(engine, t, files))
    else:
        acid_files = [os.path.join(leaf, rel) for rel, lo, hi in data
                      if os.path.getsize(os.path.join(leaf, rel)) > 0]
        multi = any(lo != hi for _, lo, hi in data)
        wrapped = [f for f in acid_files if _is_wrapped_acid(f)]
        flat = [f for f in acid_files if f not in wrapped]
        if flat:
            dfs.append(spark.read.schema(
                _read_schema(_ACID_FLAT + t.cols)).orc(flat))
        if wrapped:
            dfs.append(_read_wrapped_acid(engine, t, wrapped))
        if origs:
            dfs.append(_read_original_acid(engine, t, leaf, origs))
        if dfs:
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d)
            if multi or exc:
                # Hive Streaming side-files hold several write ids in
                # one file — per-row validation on the write-id range
                # (hdfs-orc-scanner.cc row validation)
                df = df.filter(_visible_pred(
                    t, F.col("_acid_current_txn"), hw, exc))
            del_files = [os.path.join(leaf, rel)
                         for rel, lo, hi in deletes
                         if os.path.getsize(
                             os.path.join(leaf, rel)) > 0]
            if del_files:
                dd = spark.read.schema(
                    _schema_ddl(_ACID_FLAT)).orc(del_files)
                dd = dd.filter(_visible_pred(
                    t, F.col("_acid_current_txn"), hw, exc))
                dd = dd.select(*_ACID_KEY)
                df = df.join(F.broadcast(dd), on=_ACID_KEY,
                             how="left_anti")
            out_cols = ([_rowid_struct()] if with_rowid else []) + \
                [F.col(n) for n, _ in t.cols]
            dfs = [df.select(*out_cols)]
    if not dfs:
        return None
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    if t.insert_only and with_rowid:
        raise ValueError("row__id is only defined on full "
                         "transactional tables")
    # partition values as typed literal columns (partition pruning on
    # the view folds these to constants)
    kvs = partitions.parse_suffix(suffix)
    for pname, ptype in t.pcols:
        df = df.withColumn(pname, F.lit(kvs.get(pname)).cast(ptype))
    return df


def build_view(engine, t: AcidTable, *, hw: int | None = None,
               exc: set | None = None, with_rowid: bool = False):
    """Visible-snapshot DataFrame for the table (optionally with the
    row__id struct, full ACID only)."""
    hw = t.snap_hw if hw is None else hw
    exc = t.snap_exc if exc is None else exc
    parts = []
    for suffix, leaf in _leaf_dirs(t):
        df = _read_leaf(engine, t, suffix, leaf, hw, exc, with_rowid)
        if df is not None:
            parts.append(df)
    if not parts:
        out = _empty_df(engine, t, with_rowid and not t.insert_only)
    else:
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
    # CHAR(n)/VARCHAR(n) columns read as STRING (_read_schema); the
    # view carries the declared type in the field metadata, as a
    # catalog table's schema does, so the listings show it
    declared = {n: re.sub(r"\s+", "", ty.lower())
                for n, ty in t.cols + t.pcols
                if re.match(r"(?i)(?:var)?char\s*\(", ty)}
    if declared:
        out = out.select([
            F.col(c).alias(c, metadata={
                "__CHAR_VARCHAR_TYPE_STRING": declared[c]})
            if c in declared else F.col(c) for c in out.columns])
    return out


def refresh_views(engine, force: bool = False) -> None:
    """Re-register temp views for dirty ACID tables (pre-statement
    hook, like mixedformat.refresh_views)."""
    for t in _tables(engine):
        if not (t.dirty or force):
            continue
        try:
            build_view(engine, t).createOrReplaceTempView(t.phys)
            if not t.insert_only:
                build_view(engine, t, with_rowid=True) \
                    .createOrReplaceTempView(_shadow_name(t.phys))
            t.dirty = False
        except ValueError:
            raise
        except Exception:  # noqa: BLE001 — pre-load window: the view
            pass           # materializes at the next REFRESH


def _shadow_name(phys: str) -> str:
    return f"{phys}__acidrowid__"


# ---------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------

def _writer(df, t: AcidTable):
    if t.fmt == "text":
        return (df.write.options(sep="\x01", nullValue="\\N",
                                 emptyValue="")
                .format("csv"))
    return df.write.format(t.fmt)


def _move_leaf_files(src: str, dest: str, *,
                     copies: bool = False) -> None:
    """Move data files from a Spark output dir into `dest` with
    Hive-style names 0000NN_0, replacing a file of that name (a
    repeated compaction rewrites its own base).  With `copies`, a
    taken name gets 0000NN_0_copy_M instead, as Hive names a plain
    table's new files."""
    os.makedirs(dest, exist_ok=True)
    n = 0
    for f in sorted(os.listdir(src)):
        p = os.path.join(src, f)
        if f.startswith((".", "_")) or not os.path.isfile(p):
            continue
        name = target = os.path.join(dest, f"{n:06d}_0")
        c = 1
        while copies and os.path.exists(target):
            target = f"{name}_copy_{c}"
            c += 1
        shutil.move(p, target)
        n += 1


def write_rows(engine, t: AcidTable, df, wid: int, *,
               overwrite: bool, static_leaf: str | None = None,
               acid_cols: bool = False, vtxn: int | None = None,
               dirname: str | None = None,
               nrows: int | None = None) -> list:
    """Write a DataFrame as one delta/base directory (per affected
    partition leaf).  Returns the list of affected suffixes.

    Small writes (nrows<=1000, or unknown) coalesce to ONE file per
    leaf like the reference's single-coordinator writer (SHOW FILES
    counts pin this); larger insert-only writes keep full write
    parallelism — one 0000NN_0 file per task, the reference's
    per-node writer layout.  Full-ACID writes always single-file:
    their per-leaf rowId window is inherently ordered (and only the
    Hive shim writes full ACID)."""
    ddir = dirname or (f"base_{wid}" if overwrite
                       else f"delta_{wid}_{wid}")
    single = acid_cols or nrows is None or nrows <= 1000
    if acid_cols and not t.insert_only:
        from pyspark.sql import Window

        w = Window.partitionBy(*[p for p, _ in t.pcols]) \
            .orderBy(F.monotonically_increasing_id()) \
            if t.pcols else Window.orderBy(
                F.monotonically_increasing_id())
        df = df.withColumn(
            "_acid_rowid",
            F.row_number().over(w).cast("bigint") - 1)
        df = df.select(
            F.lit(0).cast("int").alias("_acid_operation"),
            F.lit(wid).cast("bigint").alias("_acid_original_txn"),
            F.lit(_BUCKET0).cast("int").alias("_acid_bucket"),
            F.col("_acid_rowid"),
            F.lit(wid).cast("bigint").alias("_acid_current_txn"),
            *[F.col(n) for n, _ in t.cols],
            *[F.col(p) for p, _ in t.pcols])
    tmp = os.path.join(t.location,
                       f"_tmp_write_{wid}_{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    affected = []
    if t.pcols:
        pnames = [p for p, _ in t.pcols]
        _writer(df.repartition(1) if single else df,
                t).partitionBy(*pnames).save(tmp)
        # move each written leaf's files into <leaf>/<ddir>/
        for suffix, d in _leaves(tmp, len(pnames)).items():
            _move_leaf_files(d, os.path.join(t.location, suffix, ddir))
            affected.append(suffix)
            t.partitions.add(suffix)
        if static_leaf and not affected:
            # a fully-static spec with an empty source still claims
            # its partition (empty base/delta dir)
            os.makedirs(os.path.join(t.location, static_leaf, ddir),
                        exist_ok=True)
            affected.append(static_leaf)
            t.partitions.add(static_leaf)
    else:
        _writer(df.repartition(1) if single else df, t).save(tmp)
        dest = os.path.join(t.location, ddir)
        _move_leaf_files(tmp, dest)
        os.makedirs(dest, exist_ok=True)
        affected.append("")
    shutil.rmtree(tmp, ignore_errors=True)
    return affected


def write_truncate(engine, t: AcidTable, wid: int) -> None:
    """TRUNCATE on an insert-only ACID table: a new base_<w>
    containing a literal 'empty' marker file in every partition
    (the reference's truncate leaves exactly this layout —
    acid-truncate.test SHOW FILES rows)."""
    leaves = _leaf_dirs(t) if t.pcols else [("", t.location)]
    for suffix, leaf in leaves:
        d = os.path.join(leaf, f"base_{wid}")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "empty"), "w").close()


def compact(engine, t: AcidTable, suffix: str | None) -> None:
    """Hive ``ALTER TABLE ... COMPACT 'major' AND WAIT``: merge the
    Hive-visible rows of each (selected) partition into
    base_<zero-padded hw>_v<visibility txn>/ and drop the replaced
    dirs (the compactor + cleaner in one step).  Like Hive's
    compactor, the covered range is capped at min(open write id) - 1:
    directories whose range reaches an open transaction are neither
    consumed nor cleaned, so staged-but-uncommitted rows survive and
    become visible at their later commit."""
    open_ids = set(t.open_txns)
    cap = min(open_ids) - 1 if open_ids else t.highwater
    if open_ids and cap < 1:
        # every write id is still open — nothing is compactable
        t.dirty = True
        return
    hw, exc = cap, {a for a in t.aborted if a <= cap}
    vtxn = 1000 + t.highwater
    leaves = [(s, d) for s, d in _leaf_dirs(t)
              if suffix is None or s == suffix]
    for s, leaf in leaves:
        if not os.path.isdir(leaf):
            continue
        df = _read_leaf(engine, t, s, leaf, hw, exc,
                        with_rowid=not t.insert_only, cap=cap)
        ddir = f"base_{hw:07d}_v{vtxn:07d}"
        dest = os.path.join(leaf, ddir)
        tmp = os.path.join(leaf, "_tmp_compact")
        shutil.rmtree(tmp, ignore_errors=True)
        if df is not None:
            if not t.insert_only:
                # rebuild the physical ACID columns from row__id
                df = df.select(
                    F.col("row__id.operation")
                    .alias("_acid_operation"),
                    F.col("row__id.originaltransaction")
                    .alias("_acid_original_txn"),
                    F.col("row__id.bucket").alias("_acid_bucket"),
                    F.col("row__id.rowid").alias("_acid_rowid"),
                    F.col("row__id.currenttransaction")
                    .alias("_acid_current_txn"),
                    *[F.col(n) for n, _ in t.cols])
            else:
                df = df.select(*[F.col(n) for n, _ in t.cols])
            _writer(df.repartition(1), t).save(tmp)
            _move_leaf_files(tmp, dest)
            shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(dest, exist_ok=True)
        # the cleaner: drop only REPLACED dirs (range wholly <= cap);
        # dirs holding open write ids stay on disk
        for e in list(os.listdir(leaf)):
            p = os.path.join(leaf, e)
            if e == ddir:
                continue
            m = _DELTA_RE.match(e) or _DELETE_RE.match(e)
            if m:
                if int(m.group(2)) <= cap:
                    shutil.rmtree(p, ignore_errors=True)
                continue
            m = _BASE_RE.match(e)
            if m:
                if int(m.group(1)) <= cap:
                    shutil.rmtree(p, ignore_errors=True)
                continue
            if os.path.isfile(p) and not e.startswith((".", "_")):
                os.remove(p)
    t.has_originals = False
    t.dirty = True


# ---------------------------------------------------------------------
# statement grammar
# ---------------------------------------------------------------------

# What follows a statement head (statements.py matches the heads and
# reads a CREATE TABLE). ALTER TABLE (Hive side), matched with
# sqlscan.match:
_HIVE_SET_PROPS = re.compile(
    r"(?is)\s+(?P<tbl>[A-Za-z_][\w.]*)\s+"
    r"SET\s+TBLPROPERTIES\s*\((?P<kv>[^)]*)\)\s*;?\s*$")
_HIVE_COMPACT = re.compile(
    r"(?is)\s+(?P<tbl>[A-Za-z_][\w.]*)\s*"
    r"(?:PARTITION\s*\((?P<spec>[^)]*)\)\s*)?"
    r"COMPACT\s+'(?P<kind>[^']*)'(?:\s+AND\s+WAIT)?\s*;?\s*$")
_ADD_PART = re.compile(
    r"(?is)\s+(?P<tbl>[A-Za-z_][\w.]*)\s+"
    r"ADD\s+(?:IF\s+NOT\s+EXISTS\s+)?PARTITION\s*"
    r"\((?P<spec>[^)]*)\)\s*;?\s*$")
# DELETE and UPDATE (Hive side)
_HIVE_DELETE = re.compile(
    r"(?is)\s+FROM\s+(?P<tbl>[A-Za-z_][\w.]*)\s*"
    r"(?:WHERE\s+(?P<where>[\s\S]*?))?\s*;?\s*$")
_HIVE_UPDATE = re.compile(
    r"(?is)\s+(?P<tbl>[A-Za-z_][\w.]*)\s+"
    r"SET\s+(?P<sets>[\s\S]*?)"
    r"(?:\s+WHERE\s+(?P<where>[\s\S]*?))?\s*;?\s*$")


def _transactional(engine, stmt) -> tuple | None:
    """(its parts, insert_only) when a CREATE TABLE (not LIKE) makes
    an ACID table: TBLPROPERTIES ('transactional'='true'), or no
    'transactional'='false' under DEFAULT_TRANSACTIONAL_TYPE
    insert_only."""
    from incubator_impala_spark.statements import parse_create

    c = parse_create(stmt)
    if c is None or c.like or c.like_fmt:
        return None
    props = {k: v.lower() for k, v in c.props.items()}
    flag = props.get("transactional")
    if flag == "true":
        return c, props.get("transactional_properties") == "insert_only"
    if flag != "false" and engine.default_transactional_type == "insert_only":
        return c, True
    return None


def _cols(cols: list | None) -> list:
    """(name, Spark type) of parsed column definitions; a partition
    column named without a type is a string."""
    out = []
    for name, ty, _ in cols or []:
        ty = (ty or "string").lower()
        out.append((name.lower(), _SPARK_TYPES.get(ty, ty)))
    return out



def _register(engine, display: str, phys: str, db: str | None,
              cols: list, pcols: list, insert_only: bool, fmt: str,
              location: str | None = None,
              fixture: bool = False) -> AcidTable:
    loc = location or _managed_dir(engine, db, phys)
    os.makedirs(loc, exist_ok=True)
    t = AcidTable(display=display, phys=phys, db=db, location=loc,
                  cols=cols, pcols=pcols, insert_only=insert_only,
                  fmt=fmt, fixture=fixture)
    rec = stats.table(engine, phys)
    rec.acid = t
    ns = engine.ns
    if db and db in ns.dbs:
        ns.register(db, phys.split("__")[-1]
                    if "__" in phys else display.split(".")[-1].lower(),
                    "table", phys)
    if not t.insert_only:
        rec.rowid = (_shadow_name(phys),
                     [display, display.split(".")[-1]],
                     [c for c, _ in cols + pcols])
    return t


def _managed_dir(engine, db: str | None, phys: str) -> str:
    return os.path.join(engine._warehouse_dir(), "managed",
                        f"{db or 'default'}.db", phys.split("__")[-1])


def clear_orphan(engine, name: str) -> None:
    """Remove the directory an ACID table named `name` (resolved)
    would occupy, for a DROP TABLE of a name no record holds: a table
    an earlier session made leaves its base and delta directories
    there, and a table re-created under the name would read them."""
    _, phys, db = _split_name(engine, name)
    shutil.rmtree(_managed_dir(engine, db, phys), ignore_errors=True)


def _split_name(engine, raw: str) -> tuple:
    """(display, phys, db) for a name as it appears in resolved
    statement text."""
    n = raw.strip().strip("`")
    ns = engine.ns
    db, obj = ns.split(n)
    if db is not None:
        return f"{db}.{obj}", ns.phys(db, obj), db
    return n, n.lower(), ns.current


# ---------------------------------------------------------------------
# engine-side handler
# ---------------------------------------------------------------------

def handle(engine, stmt, ins=None):
    """The ACID rows of the statement table (statements.py): a CREATE
    TABLE that makes a transactional table (None for any other
    CREATE), and the INSERT (its parts `ins`), TRUNCATE, REFRESH, DROP
    TABLE, ALTER TABLE and DROP STATS of a table whose record holds
    ACID state (a DROP VIEW naming it is refused). The listings and
    COMPUTE STATS are the plain tables' (partitions.py,
    Engine._compute_stats) over the snapshot's files."""
    if stmt.kind == "create_table":
        acid = _transactional(engine, stmt)
        return acid and _create(engine, stmt, *acid, hive=False)
    t = stmt.acid
    if stmt.kind in ("alter_table", "drop_stats"):
        what = "ALTER TABLE" if stmt.kind == "alter_table" else "DROP STATS"
        raise ValueError(f"AnalysisException: {what} not supported on "
                         f"transactional (ACID) table: {t.display}")
    if stmt.kind == "drop_table":
        return _drop(engine, t)
    if stmt.kind == "drop_view":
        # DROP VIEW naming a table leaves it in place, as for any table
        return refuse_drop_view(engine.spark, stmt.target, stmt.group("ine"))
    if stmt.kind == "refresh":
        _refresh_snapshot(t)
        refresh_views(engine)
        return rows_df(engine.spark, [], "status string")
    if not t.insert_only:
        raise ValueError(
            f"AnalysisException: {stmt.kind.upper()} not supported on "
            f"full transactional (ACID) table: {t.display}")
    if stmt.kind == "insert":
        return _insert_acid(engine, t, ins, hive=False)
    w = _alloc(t)
    _engine_commit(t, w)
    write_truncate(engine, t, w)
    _clear_stats(engine, t)
    refresh_views(engine)
    return summary(engine.spark, "Table has been truncated.")


def _clear_stats(engine, t: AcidTable) -> None:
    """Engine-side writes clear Hive's COLUMN_STATS_ACCURATE and the
    engine's own stats registries (clear-statsaccurate contract)."""
    for name in (t.display, t.phys):
        meta = stats.peek(engine, name).create
        if meta:
            meta.get("tblproperties", {}).pop(
                "COLUMN_STATS_ACCURATE", None)
    stats.clear(engine, t.phys)


def _drop(engine, t: AcidTable):
    """DROP TABLE of an ACID table: its record, its snapshot and
    row__id views, its files and its database entry."""
    spark = engine.spark
    from pyspark.errors.exceptions.base import PySparkException

    stats.drop(engine, t.phys)
    for v in (t.phys, _shadow_name(t.phys)):
        try:
            spark.catalog.dropTempView(v)
        except PySparkException:  # view never materialized
            pass
    shutil.rmtree(t.location, ignore_errors=True)
    ns = engine.ns
    if t.db and t.db in ns.dbs:
        ns.dbs[t.db].pop(t.phys.split("__")[-1], None)
        ns.dbs[t.db].pop(t.display.split(".")[-1].lower(), None)
    return summary(engine.spark, "Table has been dropped.")


def _create(engine, stmt, c, insert_only: bool, hive: bool):
    """CREATE TABLE of an ACID table (its parts `c`,
    statements.Create)."""
    display, phys, db = _split_name(engine, c.name)
    if c.ine and stats.peek(engine, phys).acid is not None:
        return summary(engine.spark, "Table already exists.")
    fmt = (c.stored_as or "").lower()
    fmt = {"textfile": "text", "orc": "orc",
           "parquet": "parquet", "": ""}.get(fmt, fmt)
    if not insert_only and fmt in ("", "text"):
        fmt = "orc"        # full ACID is ORC-only in the reference
    fmt = fmt or "text"    # Impala's default table format
    if c.body is not None:
        if not insert_only and not hive:
            # CTAS is an INSERT under analysis; the reference rejects
            # it on full-ACID targets before creating the table
            # (InsertStmt.ensureTableNotFullAcid)
            raise ValueError(
                "AnalysisException: INSERT not supported on full "
                f"transactional (ACID) table: {display}")
        df = engine.spark.sql(engine.translate_query(c.body))
        pnames = [n.lower() for n, _, _ in c.part or []]
        cols = [(f.name.lower(), f.dataType.simpleString())
                for f in df.schema.fields
                if f.name.lower() not in pnames]
        pcols = [(f.name.lower(), f.dataType.simpleString())
                 for f in df.schema.fields
                 if f.name.lower() in pnames]
        t = _register(engine, display, phys, db, cols, pcols,
                      insert_only, fmt)
        w = _alloc(t)
        if hive:
            t.dirty = True
        else:
            _engine_commit(t, w)
        n = df.count()
        write_rows(engine, t, df.select(
            *[c for c, _ in cols + pcols]), w, overwrite=False,
            acid_cols=not t.insert_only, nrows=n)
        refresh_views(engine)
        return summary(engine.spark, f"Inserted {n} row(s)")
    cols, pcols = _cols(c.cols), _cols(c.part)
    _register(engine, display, phys, db, cols, pcols,
              insert_only, fmt)
    refresh_views(engine)
    if hive:
        from incubator_impala_spark import showcreate

        showcreate.record_create(engine, stmt)
    return summary(engine.spark, "Table has been created.")


def _insert_acid(engine, t: AcidTable, ins, hive: bool):
    """INSERT (its parts `ins`, statements.Insert) into an insert-only
    ACID table: one new delta under a fresh write id."""
    dbg = engine.debug_action
    if not hive and dbg and \
            "FIS_FAIL_HDFS_TABLE_SINK_FLUSH_FINAL:FAIL" in dbg:
        w = _alloc(t)
        t.aborted.add(w)
        raise ValueError(f"Query aborted:Debug Action: {dbg}")

    def build_df():
        src = engine.spark.sql(engine.translate_query(ins.body))
        return ins.project(src, t.cols + t.pcols)

    if hive:
        df = _with_hive_views(engine, build_df)
    else:
        df = build_df()
    overwrite = ins.overwrite
    w = _alloc(t)
    static_leaf = None
    if t.pcols and all(p in ins.static for p, _ in t.pcols):
        try:
            static_leaf = partitions.spec_suffix(
                ins.static, [p for p, _ in t.pcols])
        except ValueError:  # an expression: only a written row names it
            pass
    n = df.count()
    write_rows(engine, t, df, w, overwrite=overwrite,
               static_leaf=static_leaf,
               acid_cols=not t.insert_only, nrows=n)
    if not hive and dbg and \
            "CLIENT_REQUEST_UPDATE_CATALOG:FAIL" in dbg:
        t.aborted.add(w)
        t.dirty = True
        raise ValueError(f"Query aborted:Debug Action: {dbg}")
    if hive:
        t.dirty = True
    else:
        _engine_commit(t, w)
        _clear_stats(engine, t)
    refresh_views(engine)
    return summary(engine.spark, f"Inserted {n} row(s)")


def _with_hive_views(engine, fn):
    """Run `fn` with every ACID table's view rebuilt at the HIVE
    snapshot (Hive reads all committed write ids, not the engine's
    cached list), restoring the engine views afterwards."""
    swapped = []
    try:
        for t in _tables(engine):
            hv = build_view(engine, t, hw=t.highwater,
                            exc=set(t.aborted) | set(t.open_txns))
            hv.createOrReplaceTempView(t.phys)
            swapped.append(t)
        out = fn()
        if hasattr(out, "persist"):
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        for t in swapped:
            t.dirty = True
        refresh_views(engine)


# ---------------------------------------------------------------------
# listings (SHOW FILES / SHOW PARTITIONS / SHOW TABLE STATS)
# ---------------------------------------------------------------------

def _display_base(t: AcidTable) -> str:
    if t.display_loc:
        return t.display_loc
    name = t.display.split(".")[-1].lower()
    return (f"file:/test-warehouse/managed/"
            f"{t.db or 'default'}.db/{name}")


def _live_files(t: AcidTable, leaf: str) -> list:
    """(relpath, size) of the snapshot-selected files in one leaf —
    SHOW FILES lists the valid selection, not raw directory contents
    (obsolete deltas under a newer base are invisible)."""
    data, deletes, origs = _select_files(t, leaf)
    out = []
    for rel, _, _ in data + deletes + origs:
        p = os.path.join(leaf, rel)
        if os.path.isfile(p):
            out.append((rel, os.path.getsize(p)))
    return out


# ---------------------------------------------------------------------
# Hive shim
# ---------------------------------------------------------------------

def hive_sql(engine, text: str):
    """Execute one statement as the Hive side of the reference's
    minicluster would: transactional writes allocate write ids in the
    shared 'metastore' registry WITHOUT advancing the engine's cached
    snapshot (visible only after REFRESH / INVALIDATE METADATA)."""
    from incubator_impala_spark import statements

    stmt = statements.classify(engine, engine.ns.resolve(text))
    t, tail = stmt.acid, stmt.tail
    if stmt.kind == "create_table":
        acid = _transactional(engine, stmt)
        if acid is not None:
            return _create(engine, stmt, *acid, hive=True)
    elif stmt.kind == "alter_table":
        m = _HIVE_SET_PROPS.match(tail)
        if m:
            props = {k.lower(): v.lower() for k, v in re.findall(
                r"'([^']*)'\s*=\s*'([^']*)'", m.group("kv"))}
            if props.get("transactional") == "true":
                return _promote(engine, m.group("tbl"), props)
        m = sqlscan.match(_HIVE_COMPACT, tail)
        if m and t is not None \
                and m.group("kind").lower() in ("major", "minor"):
            compact(engine, t, m.group("spec") and _spec_suffix(
                engine, t, m.group("spec")))
            return summary(engine.spark, "Compaction enqueued.")
        m = sqlscan.match(_ADD_PART, tail)
        if m and t is not None:
            suffix = _spec_suffix(engine, t, m.group("spec"))
            t.partitions.add(suffix)
            os.makedirs(os.path.join(t.location, suffix), exist_ok=True)
            return summary(engine.spark, "New partition has been added.")
    elif stmt.kind == "delete" and t is not None:
        m = _HIVE_DELETE.match(tail)
        if m:
            return _hive_delete(engine, t, m.group("where"))
    elif stmt.kind == "update" and t is not None:
        m = _HIVE_UPDATE.match(tail)
        if m:
            return _hive_update(engine, t, m.group("sets"),
                                m.group("where"))
    elif stmt.kind == "insert":
        ins = statements.parse_insert(stmt)
        if ins is not None:
            if t is not None:
                return _insert_acid(engine, t, ins, hive=True)
            # Hive INSERT into a plain table writes Hive-named files
            # (0000NN_0, _copy_M on collision) straight into the table
            # directory — the original-file layout a later ACID upgrade
            # inherits (acid-negative's test_promotion_fail shape)
            return _hive_plain_insert(engine, ins, text)
    return engine.sql(text)


def _spec_suffix(engine, t: AcidTable, spec: str) -> str:
    """The leaf directory of a `k=v, ...` partition spec."""
    return partitions.spec_suffix(partitions.fold_spec(engine, spec),
                                  [p for p, _ in t.pcols])


def _hive_visible(t: AcidTable) -> tuple:
    return t.highwater, set(t.aborted) | set(t.open_txns)


def _hive_delete(engine, t: AcidTable, where: str | None):
    if t.insert_only:
        raise ValueError(
            "DELETE is only supported on full ACID tables")
    hw, exc = _hive_visible(t)
    w = _alloc(t)
    for suffix, leaf in _leaf_dirs(t):
        df = _read_leaf(engine, t, suffix, leaf, hw, exc,
                        with_rowid=True)
        if df is None:
            continue
        if where:
            df.createOrReplaceTempView("__acid_del_src__")
            df = engine.spark.sql(engine.translate_query(
                f"select * from __acid_del_src__ where {where}"))
        keys = df.select(
            F.lit(2).cast("int").alias("_acid_operation"),
            F.col("row__id.originaltransaction")
            .alias("_acid_original_txn"),
            F.col("row__id.bucket").alias("_acid_bucket"),
            F.col("row__id.rowid").alias("_acid_rowid"),
            F.lit(w).cast("bigint").alias("_acid_current_txn"))
        if keys.isEmpty():
            continue
        dest = os.path.join(leaf, f"delete_delta_{w}_{w}")
        tmp = os.path.join(leaf, "_tmp_delete")
        shutil.rmtree(tmp, ignore_errors=True)
        keys.repartition(1).write.format("orc").save(tmp)
        _move_leaf_files(tmp, dest)
        shutil.rmtree(tmp, ignore_errors=True)
    t.dirty = True
    return summary(engine.spark, "Deleted rows.")


def _hive_update(engine, t: AcidTable, sets: str,
                 where: str | None):
    """Hive UPDATE on a full ACID table = delete_delta of the matched
    keys + a delta of the rewritten rows, one write id."""
    if t.insert_only:
        raise ValueError(
            "UPDATE is only supported on full ACID tables")
    hw, exc = _hive_visible(t)
    w = _alloc(t)
    assigns = partitions.parse_spec(sets)   # `col = expr, ...`
    for suffix, leaf in _leaf_dirs(t):
        df = _read_leaf(engine, t, suffix, leaf, hw, exc,
                        with_rowid=True)
        if df is None:
            continue
        df.createOrReplaceTempView("__acid_upd_src__")
        cond = f" where {where}" if where else ""
        matched = engine.spark.sql(engine.translate_query(
            f"select * from __acid_upd_src__{cond}"))
        matched = matched.localCheckpoint(eager=True)
        if matched.isEmpty():
            continue
        keys = matched.select(
            F.lit(2).cast("int").alias("_acid_operation"),
            F.col("row__id.originaltransaction")
            .alias("_acid_original_txn"),
            F.col("row__id.bucket").alias("_acid_bucket"),
            F.col("row__id.rowid").alias("_acid_rowid"),
            F.lit(w).cast("bigint").alias("_acid_current_txn"))
        dest = os.path.join(leaf, f"delete_delta_{w}_{w}")
        tmp = os.path.join(leaf, "_tmp_update")
        shutil.rmtree(tmp, ignore_errors=True)
        keys.repartition(1).write.format("orc").save(tmp)
        _move_leaf_files(tmp, dest)
        shutil.rmtree(tmp, ignore_errors=True)
        sel = []
        for cname, cty in t.cols:
            if cname in assigns:
                sel.append(F.expr(assigns[cname]).cast(cty)
                           .alias(cname))
            else:
                sel.append(F.col(cname))
        new_rows = matched.select(*sel)
        kvs = partitions.parse_suffix(suffix)
        for pname, pty in t.pcols:
            new_rows = new_rows.withColumn(
                pname, F.lit(kvs.get(pname)).cast(pty))
        write_rows(engine, t, new_rows, w, overwrite=False,
                   acid_cols=True)
    t.dirty = True
    return summary(engine.spark, "Updated rows.")


def _hive_plain_insert(engine, ins, stmt: str):
    """Hive INSERT (its parts `ins`, statements.Insert) into a non-ACID
    table: write Hive-named files (0000NN_0 / _copy_M) into the table's
    directory, or its partitions' directories, so a later ACID upgrade
    sees them as original files."""
    spark = engine.spark
    tbl = ins.tbl
    if not spark.catalog.tableExists(tbl):
        # non-catalog target (temp-view-backed): hand the ORIGINAL
        # statement to engine.sql verbatim — reassembling it from
        # match groups would drop PARTITION clauses / column lists
        return engine.sql(stmt)
    df = ins.project(spark.sql(engine.translate_query(ins.body)),
                     [(f.name, f.dataType.simpleString())
                      for f in spark.table(tbl).schema.fields])
    pcols = partition_columns(engine, tbl)
    loc = engine._table_location(tbl)
    provider = _table_provider(engine, tbl)
    tmp = os.path.join(loc, "_tmp_hive_insert")
    shutil.rmtree(tmp, ignore_errors=True)
    w = df.repartition(1).write
    if provider == "csv":
        w = w.options(sep="\x01", nullValue="\\N")
    if pcols:
        w = w.partitionBy(*pcols)
    w.format(provider).save(tmp)
    for suffix, d in _leaves(tmp, len(pcols)).items():
        _move_leaf_files(d, os.path.join(loc, suffix), copies=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if pcols:
        # the catalog lists a partitioned table's partitions: register
        # the directories the insert created
        spark.catalog.recoverPartitions(tbl)
    spark.catalog.refreshTable(tbl)
    return summary(engine.spark, "Inserted rows.")


def _table_provider(engine, tbl: str) -> str:
    """The writer format of a plain table's files (parquet when the
    catalog names none)."""
    return {"orc": "orc", "csv": "csv", "text": "csv"}.get(
        engine._table_provider(tbl) or "", "parquet")


def _promote(engine, raw: str, props: dict):
    """ALTER ... SET TBLPROPERTIES('transactional'='true'):
    upgrade an existing plain table to ACID — its current files
    become 'original files' (write id 0) and every later write is
    transactional (AcidUtils original-file semantics)."""
    display, phys, db = _split_name(engine, raw)
    if stats.peek(engine, raw).acid is not None:
        return summary(engine.spark, "Updated table.")
    spark = engine.spark
    tbl = phys if spark.catalog.tableExists(phys) else raw
    target = spark.table(tbl)
    pnames = [c.lower() for c in partition_columns(engine, tbl)]
    cols = [(f.name.lower(), f.dataType.simpleString())
            for f in target.schema.fields
            if f.name.lower() not in pnames]
    pcols = [(f.name.lower(), f.dataType.simpleString())
             for f in target.schema.fields
             if f.name.lower() in pnames]
    provider = _table_provider(engine, tbl)
    fmt = {"csv": "text"}.get(provider, provider)
    insert_only = props.get("transactional_properties") \
        == "insert_only"
    t = _register(engine, display, phys, db, cols, pcols,
                  insert_only, fmt,
                  location=engine._table_location(tbl))
    t.has_originals = True
    t.dirty = True
    return summary(engine.spark, "Updated table.")


# ---------------------------------------------------------------------
# pre-statement hook: view refresh + row__id query rewrite
# ---------------------------------------------------------------------

_ROWID_REF = re.compile(r"(?i)\brow__id\b")
_BARE_STAR = re.compile(r"(?is)(?<![\w.`(])\*(?=\s*(?:,|from\b))")
# the end of a FROM region: its scope's `)` or a clause keyword
_REGION_END = re.compile(
    r"\)|(?<![\w.`])(?:where|group|having|order|limit|union|intersect|"
    r"except)\b", re.IGNORECASE)


def _from_region(sql: str, pos: int) -> str:
    """The FROM-clause region governing the select-list position
    ``pos``: at the star's paren depth, from its FROM keyword until
    the enclosing scope closes or a top-level clause keyword starts."""
    top = sqlscan.top_level(sql[pos:])
    fm = re.search(r"(?<![\w.`])from\b", top, re.IGNORECASE)
    if fm is None or ")" in top[:fm.start()]:
        return ""
    em = _REGION_END.search(top, fm.end())
    return sql[pos + fm.end():pos + (em.start() if em else len(top))]


def _expand_stars(sql: str, swapped: list) -> str:
    """Expand each bare select-list star (next token a comma or FROM
    — never ``count(*)`` or a multiplication operator) whose OWN
    from-clause references exactly one swapped shadow relation, using
    that relation's data columns; any other star is left alone
    (Impala's ``*`` never expands the hidden row__id)."""
    shadow_sql = sqlscan.shadow(sql)
    out, last = [], 0
    for m in _BARE_STAR.finditer(shadow_sql):
        region = _from_region(shadow_sql, m.end())
        hits = [cols for shadow, cols in swapped
                if cols and re.search(
                    rf"(?i)(?<![\w.`]){re.escape(shadow)}(?![\w.])",
                    region)]
        out.append(sql[last:m.start()])
        out.append(", ".join(hits[0]) if len(hits) == 1 else "*")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def prepare(engine, sql_text: str) -> str:
    """Engine.sql pre-dispatch: rebuild dirty ACID views, and when the
    statement references the synthetic ``row__id`` column, swap each
    full-ACID relation for its row__id-bearing shadow view (Impala
    exposes row__id as a hidden virtual column — ``*`` never expands
    it, so bare stars over a swapped relation are expanded to the
    data columns here).  Every match runs on the literal/comment-blind
    shadow, and star expansion is scoped to the select list whose
    FROM clause actually references a swapped relation."""
    if any(t.dirty for t in _tables(engine)):
        refresh_views(engine)
    # backtick identifiers stay visible: `row__id` and a quoted table
    # spelling are references, not literals
    if not _ROWID_REF.search(sqlscan.shadow(sql_text, idents=False)):
        return sql_text
    sql, swapped = sql_text, []
    for k, rec in engine.tables.items():
        if rec.rowid is None:
            continue
        shadow, spellings, cols = rec.rowid
        hit = False
        for sp in sorted({stats.view_name(k), *spellings}, key=len,
                         reverse=True):
            pat = re.compile(
                rf"(?i)(?<![\w.`]){re.escape(sp)}(?![\w.])")
            new_text = dialect._shadow_sub(
                pat, shadow, sql, sqlscan.shadow(sql, idents=False))
            if new_text != sql:
                sql = new_text
                hit = True
        if hit:
            swapped.append((shadow, cols))
    if swapped:
        sql = _expand_stars(sql, swapped)
    return sql


# ---------------------------------------------------------------------
# fixture registration (functional / functional_orc_def ACID tables)
# ---------------------------------------------------------------------

def register_fixture_acid(engine) -> None:
    """Stand up the functional-dataset ACID fixtures:

    * ``insert_only_transactional_table`` / ``full_transactional_table``
      — empty single-column ACID tables (negative-surface targets).
    * ``alltypes_deleted_rows`` — alltypes loaded full-ACID, then the
      (month%2=0 AND year%2=0 AND id%10=0) rows Hive-DELETEd
      (functional_schema_template.sql DEPENDENT_LOAD_ACID).
    * row__id shadows for alltypestiny / complextypestbl /
      complextypestbl_deleted_rows / complextypestbl_minor_compacted,
      synthesizing the ACID columns the reference's loads produce:
      one write id per Hive load statement, bucket from the load file,
      rowId = ordinal within the file (full-acid-rowid.test values).
    """
    spark = engine.spark
    if stats.peek(engine, "insert_only_transactional_table").acid is None:
        _register(engine, "functional.insert_only_transactional_table",
                  "insert_only_transactional_table", "functional",
                  [("col1", "int")], [], True, "text", fixture=True)
        _register(engine, "functional_orc_def.full_transactional_table",
                  "full_transactional_table", "functional_orc_def",
                  [("col1", "int")], [], False, "orc", fixture=True)
    refresh_views(engine)
    # views over the plain fixture relations
    spark.sql(
        "SELECT * FROM alltypes WHERE NOT (month % 2 = 0 AND "
        "year % 2 = 0 AND id % 10 = 0)"
    ).createOrReplaceTempView("alltypes_deleted_rows")
    spark.sql(
        "SELECT * FROM complextypestbl WHERE id % 2 = 1"
    ).createOrReplaceTempView("complextypestbl_deleted_rows")
    spark.sql("SELECT * FROM complextypestbl") \
        .createOrReplaceTempView("complextypestbl_minor_compacted")

    def _shadow_sql(src: str, rowid_expr: str, cols: list,
                    where: str = "") -> str:
        return (f"SELECT {rowid_expr} AS row__id, "
                + ", ".join(cols)
                + f" FROM {src}" + (f" WHERE {where}" if where else ""))

    at_cols = [f.name for f in spark.table("alltypestiny")
               .schema.fields]
    # alltypestiny: one Hive load per (year, month) partition, all in
    # write id 1, one bucket-0 file per partition, rows in id order
    spark.sql(_shadow_sql(
        "alltypestiny",
        "named_struct('operation', 0, 'originaltransaction', "
        "CAST(1 AS BIGINT), 'bucket', 536870912, 'rowid', "
        "CAST(row_number() OVER (PARTITION BY year, month "
        "ORDER BY id) - 1 AS BIGINT), 'currenttransaction', "
        "CAST(1 AS BIGINT))", at_cols)) \
        .createOrReplaceTempView("alltypestiny__acidrowid__")
    ct_cols = [f.name for f in spark.table("complextypestbl")
               .schema.fields]
    # complextypestbl: single write id, ids 1-7 in the bucket-0 file
    # (rowId = id-1), id 8 alone in the bucket-1 file
    ct_rowid = (
        "named_struct('operation', 0, 'originaltransaction', "
        "CAST(1 AS BIGINT), 'bucket', "
        "CASE WHEN id <= 7 THEN 536870912 ELSE 536936448 END, "
        "'rowid', CAST(CASE WHEN id <= 7 THEN id - 1 ELSE 0 END "
        "AS BIGINT), 'currenttransaction', CAST(1 AS BIGINT))")
    spark.sql(_shadow_sql("complextypestbl", ct_rowid, ct_cols)) \
        .createOrReplaceTempView("complextypestbl__acidrowid__")
    spark.sql(_shadow_sql(
        "complextypestbl",
        "named_struct('operation', 0, 'originaltransaction', "
        "CAST(1 AS BIGINT), 'bucket', 536870912, 'rowid', "
        "CAST(id - 1 AS BIGINT), 'currenttransaction', "
        "CAST(1 AS BIGINT))", ct_cols, where="id % 2 = 1")) \
        .createOrReplaceTempView(
            "complextypestbl_deleted_rows__acidrowid__")
    # minor compaction merges the 8 single-row deltas preserving each
    # row's original/current write id (delta_1_8)
    spark.sql(_shadow_sql(
        "complextypestbl",
        "named_struct('operation', 0, 'originaltransaction', "
        "CAST(id AS BIGINT), 'bucket', 536870912, 'rowid', "
        "CAST(0 AS BIGINT), 'currenttransaction', "
        "CAST(id AS BIGINT))", ct_cols)) \
        .createOrReplaceTempView(
            "complextypestbl_minor_compacted__acidrowid__")
    # alltypes_promoted: alltypes loaded as ORC originals, then
    # upgraded — row__id synthesizes with write id 0 throughout
    # (full-acid-original-file.test blocks 12-15 pin the txn ids)
    spark.sql("SELECT * FROM alltypes") \
        .createOrReplaceTempView("alltypes_promoted")
    ap_cols = [f.name for f in spark.table("alltypes").schema.fields]
    spark.sql(_shadow_sql(
        "alltypes",
        "named_struct('operation', 0, 'originaltransaction', "
        "CAST(0 AS BIGINT), 'bucket', 536870912, 'rowid', "
        "CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT), "
        "'currenttransaction', CAST(0 AS BIGINT))", ap_cols)) \
        .createOrReplaceTempView("alltypes_promoted__acidrowid__")
    # complextypestbl_minor_compacted additionally exists as a REAL
    # minor-compacted layout on disk (acid.test lists its files):
    # the 8 single-row write ids merged into delta_1_8, preserving
    # each row's original/current write id — written once, then the
    # registered table reads from the files like any ACID table
    if stats.peek(engine, "complextypestbl_minor_compacted").acid is None:
        loc = os.path.join(engine._warehouse_dir(), "managed",
                           "complextypestbl_minor_compacted_orc_def")
        ddir = os.path.join(loc, "delta_0000001_0000008_v0000009")
        cols = [(f.name.lower(), f.dataType.simpleString())
                for f in spark.table("complextypestbl")
                .schema.fields]
        if not os.path.isdir(ddir):
            os.makedirs(loc, exist_ok=True)
            df = spark.sql(
                "SELECT CAST(0 AS INT) AS _acid_operation, "
                "CAST(id AS BIGINT) AS _acid_original_txn, "
                "CAST(536870912 AS INT) AS _acid_bucket, "
                "CAST(0 AS BIGINT) AS _acid_rowid, "
                "CAST(id AS BIGINT) AS _acid_current_txn, * "
                "FROM complextypestbl")
            tmp = os.path.join(loc, "_tmp_fixture")
            shutil.rmtree(tmp, ignore_errors=True)
            df.repartition(1).write.format("orc").save(tmp)
            os.makedirs(ddir, exist_ok=True)
            for f in sorted(os.listdir(tmp)):
                if not f.startswith((".", "_")):
                    shutil.move(os.path.join(tmp, f),
                                os.path.join(ddir, "bucket_00000"))
                    break
            shutil.rmtree(tmp, ignore_errors=True)
        t = _register(
            engine, "complextypestbl_minor_compacted",
            "complextypestbl_minor_compacted", "functional_orc_def",
            cols, [], False, "orc", location=loc, fixture=True)
        t.display_loc = ("file:/test-warehouse/managed/"
                         "complextypestbl_minor_compacted_orc_def")
        t.highwater = t.snap_hw = 8
        t.dirty = True
        refresh_views(engine)
    # the five fixture shadows answer to the functional qualifiers too
    for name in ("alltypes_promoted", "alltypestiny", "complextypestbl",
                 "complextypestbl_deleted_rows",
                 "complextypestbl_minor_compacted"):
        stats.table(engine, name).rowid = (
            f"{name}__acidrowid__",
            [f"functional_orc_def.{name}", f"functional.{name}"],
            [f.name for f in spark.table(name).schema.fields])


def reset(engine, keep_fixtures: bool = True) -> None:
    """Per-test-file cleanup: drop non-fixture ACID tables and their
    views/dirs (the harness's hermetic-rerun contract)."""
    for t in _tables(engine):
        if not (keep_fixtures and t.fixture):
            _drop(engine, t)
