"""Engine facade: the reference's query entry point, Spark-native.

The reference's lifecycle (SURVEY.md §3) is: HS2 ExecuteStatement →
JNI → CUP parse → analyze/rewrite → single-node plan → distributed
plan → admission → coordinator fan-out → Volcano execution. On Spark
the whole pipeline is `spark.sql(text)` (ANTLR → Catalyst → AQE →
DAGScheduler); our job is the *surface*: dialect translation, function
registry, table catalog, and session semantics.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, PySparkException
from py4j.protocol import Py4JJavaError

# expected Spark failure surface for best-effort veneers: analysis
# errors (temp views, missing objects) and JVM execution errors —
# Python-side bugs (KeyError/TypeError/AttributeError) propagate
_SPARK_ERR = (AnalysisException, Py4JJavaError)
# analysis OR runtime Spark failure (collect()-driven stat probes)
_SPARK_ANY = (PySparkException, Py4JJavaError)

from pyspark.sql import DataFrame, SparkSession

import os
import re

from incubator_impala_spark import dialect, options, sqlscan, stats
from incubator_impala_spark.grants import GrantRegistry
from incubator_impala_spark.functions.registry import (
    MACROS,
    MACROS_SCALE,
    register_all,
)
from incubator_impala_spark.session import configure_session, rows_df
from incubator_impala_spark.sources.tables import register_tables

_SET_STMT = re.compile(
    r"^\s*SET\s+([A-Za-z_][\w.]*)\s*=\s*(.+?)\s*;?\s*$", re.IGNORECASE
)
_SET_ALL_STMT = re.compile(r"^\s*SET\s+ALL\s*;?\s*$", re.IGNORECASE)

# LOAD DATA INPATH 'p' [OVERWRITE] INTO TABLE t [PARTITION (k=v, ...)]
# (reference fe/.../analysis/LoadDataStmt.java; grammar
# sql-parser.cup load_stmt). The reference *moves files* into the
# table directory; Spark's native LOAD DATA only supports Hive tables,
# so for datasource tables the veneer reads the staged files with the
# table's own format and appends (or overwrites the target partition)
# — same observable result, and the write goes through the normal
# distributed sink path.
_LOAD_DATA = re.compile(
    r"^\s*LOAD\s+DATA\s+INPATH\s+'(?P<path>[^']+)'\s+"
    r"(?P<over>OVERWRITE\s+)?INTO\s+TABLE\s+(?P<tbl>[A-Za-z_][\w.]*)\s*"
    r"(?:PARTITION\s*\((?P<part>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)


# plain DESCRIBE <path> — Impala's three-column column listing incl.
# paths into complex types (describe.py). FORMATTED/EXTENDED keep the
# Spark extended-describe mapping in dialect._SIMPLE_STMTS.
_DESCRIBE_PATH = re.compile(
    r"^\s*DESCRIBE\s+(?!FORMATTED\b|EXTENDED\b|TABLE\b|DATABASE\b)"
    r"((?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))*)\s*;?\s*$",
    re.IGNORECASE,
)
# non-CTAS CREATE TABLE returns the reference's DDL summary row
# (impala-shell surface: 'Table has been created.')
_CREATE_TABLE_PLAIN = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\b(?![\s\S]*\bAS\s+SELECT\b)"
    r"[\s\S]*$",
    re.IGNORECASE,
)
# CTAS returns 'Inserted N row(s)' (ComputeStatsStmt-adjacent DDL
# summaries; impala-shell surface). N comes from Spark's own
# DataWritingCommand metric — no extra job.
_CTAS_STMT = re.compile(
    r"^\s*(?P<pre>CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)[\s\S]*?\bAS)\s*"
    r"(?P<body>\(?\s*(?:SELECT|WITH)\b[\s\S]*)$",
    re.IGNORECASE,
)
# INSERT INTO/OVERWRITE with optional column permutation and PARTITION
# clause (reference InsertStmt.java). Routed through a DataFrame write
# so the reference's per-partition row-count summary (`year=2009/
# month=4/: 25` rows, `: N` unpartitioned) can be returned.
_INSERT_STMT = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    # static partition values may be expressions with nested calls —
    # two paren levels covers cast('x' as char(5))
    r"(?:PARTITION\s*\((?P<part>(?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)"
    r"\s*)?"
    r"(?P<body>(?:SELECT|WITH|VALUES)\b[\s\S]*)?$",
    re.IGNORECASE,
)
# SORT BY on CREATE TABLE — captured for the sort_props registry
# before the dialect strips it (write-layout metadata surfaced by
# DESCRIBE FORMATTED)
_CREATE_SORT = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)[\s\S]*?"
    r"\bSORT\s+BY\s*(?P<ord>ZORDER|LEXICAL)?\s*\((?P<cols>[^)]*)\)",
    re.IGNORECASE,
)
_DESCRIBE_FMT = re.compile(
    r"^\s*DESCRIBE\s+FORMATTED\s+([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)
# COMPUTE [INCREMENTAL] STATS t [(col, ...)] [PARTITION (spec)] —
# ComputeStatsStmt.java; summary 'Updated N partition(s) and M
# column(s).' (incremental: only new/targeted partitions count)
_COMPUTE_STATS_STMT = re.compile(
    r"^\s*COMPUTE\s+(?P<inc>INCREMENTAL\s+)?STATS\s+"
    r"(?P<tbl>`[\w.]+`|[A-Za-z_][\w.]*)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE,
)
# CREATE TABLE t LIKE PARQUET 'path' — schema inferred from the file
# footer (CreateTableLikeFileStmt.java). Unreachable warehouse paths
# fall back to a basename lookup in the reference's testdata dirs.
_CREATE_LIKE_PARQUET = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)\s+LIKE\s+(?P<fmt>PARQUET|ORC)\s+"
    r"'(?P<path>[^']+)'"
    r"(?:\s+PARTITIONED\s+BY\s*\((?P<part>[^)]*)\))?"
    r"(?:\s+STORED\s+AS\s+\w+)?"
    r"(?:\s+LOCATION\s+'(?P<loc>[^']+)')?"
    r"[\s\S]*$",
    re.IGNORECASE,
)
# DROP [INCREMENTAL] STATS t [PARTITION (spec)] — clears the
# incremental-stats cover so the next compute recounts
_DROP_STATS_STMT = re.compile(
    r"^\s*DROP\s+(?:INCREMENTAL\s+)?STATS\s+(?P<tbl>[A-Za-z_][\w.]*)"
    r"\s*(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE,
)
# EXPLAIN <query> — rendered in the reference's plan-text format
# (impala_explain.py; explain-level0/1.test pin the grammar)
_EXPLAIN_STMT = re.compile(
    r"^\s*EXPLAIN\s+(?P<body>(?:select|with|values|insert|create)"
    r"\b[\s\S]*)$",
    re.IGNORECASE,
)
_TRUNCATE_STMT = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<ife>IF\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE TABLE t (cols) ... STORED AS AVRO with no explicit Avro
# schema: the reference infers the Avro schema from the column defs
# and CONVERTS the table schema to what Avro can carry
# (fe/src/main/java/org/apache/impala/analysis/CreateTableStmt.java
# analyzeAvroSchema + util/AvroSchemaConverter: TINYINT/SMALLINT ->
# INT, TIMESTAMP -> STRING; CHAR/VARCHAR/DECIMAL/complex preserved),
# stamping 'from deserializer' on columns without an explicit comment.
_CREATE_AVRO = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)\s*"
    r"\((?P<cols>[\s\S]*?)\)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<part>[^)]*)\)\s*)?"
    r"STORED\s+AS\s+AVRO\b(?P<tail>[\s\S]*)$",
    re.IGNORECASE,
)

# CREATE TABLE t LIKE src [STORED AS fmt] — clone schema + partition
# spec, no data (CreateTableLikeStmt.java). The fixture relations are
# temp views, so the clone is built from the source schema rather than
# Spark's native LIKE (which requires a catalog table).
_CREATE_LIKE = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<tbl>[A-Za-z_][\w.]*)\s+"
    r"(?:SORT\s+BY\s*(?:ZORDER\s*|LEXICAL\s*)?\([^)]*\)\s*)?"
    r"LIKE\s+(?P<src>[A-Za-z_][\w.]*)"
    r"[\s\S]*$",
    re.IGNORECASE,
)


class Engine:
    """A SQL engine with the reference's dialect & function surface.

    Usage::

        eng = Engine(spark, sf_dir="/root/testdata/sf0.01")
        df = eng.sql("SELECT zeroifnull(sum(l_quantity)) FROM lineitem")
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = configure_session(spark)
        register_all(self.spark)
        # GRANT/REVOKE/role veneer (no auth service in env; see
        # grants.py — accept-and-record, SHOW answers from the record)
        self.grants = GrantRegistry()
        # query options (options.py): each row's default, parsed
        for opt in options.OPTIONS.values():
            if opt.attr:
                setattr(self, opt.attr, opt.parse(opt.default))
        # raw display values of session-SET options (SET ALL listing)
        self.option_display: dict[str, str] = {}
        from incubator_impala_spark.namespaces import Namespaces

        # db-scoped DDL surface (CREATE DATABASE / VIEW / SHOW TABLES
        # ... with the reference's summary rows) — namespaces.py
        self.ns = Namespaces()
        # SORT BY write-layout metadata (IMPALA-4166/IMPALA-10233):
        # recorded per table, surfaced as the reference's
        # sort.columns/sort.order property rows in DESCRIBE FORMATTED
        self.sort_props: dict[str, tuple[list, str]] = {}
        # table and column stats, one record per table (stats.py)
        self.table_stats: dict[str, stats.TableStats] = {}
        # per-table metadata-only ALTER overlays (schema_resolution.py)
        # — {physical name: {"location","logical"}}
        self.schema_overlays: dict[str, dict] = {}
        # PARQUET_ARRAY_RESOLUTION views (array_resolution.py):
        # {view name: {"location", "array_col", "elem_fields"}}
        self.array_overlays: dict[str, dict] = {}
        # partition surface (partitions.py): per-partition fileformat
        # overrides, keyed (stats.key, partition suffix)
        self.part_formats: dict[tuple[str, str], str] = {}
        # per-partition location overrides (ALTER ... PARTITION ...
        # SET LOCATION) — consumed by mixedformat dispatch views
        self.part_locations: dict[tuple[str, str], str] = {}
        # engine-created avro-typed tables (type-mapping surface) and
        # the stale-avro-metadata registry (avro_stale.py)
        self.avro_tables: set[str] = set()
        self.avro_stale: dict[str, dict] = {}
        if sf_dir:
            register_tables(self.spark, sf_dir)

    def register_tables(self, sf_dir: str) -> None:
        register_tables(self.spark, sf_dir)

    def translate(self, sql_text: str) -> str:
        """Impala SQL → Spark SQL (dialect shim only, no execution)."""
        macros = MACROS if self.exact_ndv else MACROS_SCALE
        return dialect.translate(sql_text, macros, now=self.now,
                                 decimal_v2=self.decimal_v2)

    def set_option(self, name: str, value: str) -> bool:
        """Impala SET <option>=<value> (118 options,
        be/src/service/query-options.h). Options in options.OPTIONS
        set their Engine attribute or Spark conf; Spark conf names
        pass through; everything else is accepted and ignored
        (returns False). An invalid value raises ValueError."""
        text = str(value).strip().strip("'\"")
        opt = options.OPTIONS.get(name.lower())
        parsed = opt.parse(text) if opt else None
        self.option_display[name.upper()] = \
            {"true": "1", "false": "0"}.get(text.lower(), text)
        if opt is None:
            if name.startswith("spark."):
                self.spark.conf.set(name, str(value))
                return True
            return False
        if opt.attr:
            setattr(self, opt.attr, parsed)
        elif opt.conf and parsed is not None:
            self.spark.conf.set(opt.conf, parsed)
        if opt.on_set:
            opt.on_set(self)
        return bool(opt.attr or opt.conf)

    def _ctas_ts_rewrite(self, m: "re.Match") -> str | None:
        """PARQUET_TIMESTAMP_TYPE write semantics for CTAS (reference
        be/src/exec/parquet/hdfs-parquet-table-writer.cc: INT64_MILLIS
        truncates to milliseconds; INT64_NANOS stores NULL outside the
        int64-nanosecond range). Applied by wrapping the CTAS body so
        the truncation is part of the same declarative plan — no
        second write pass. Spark timestamps are microsecond-precision,
        so INT64_MICROS/INT96_NANOS are identity here."""
        if self.parquet_ts_type not in ("INT64_MILLIS", "INT64_NANOS"):
            return None
        from pyspark.sql.types import TimestampType

        body = m.group("body")
        try:
            schema = self.spark.sql(self.translate(
                f"SELECT * FROM ({body}) __pqt_probe__")).schema
        except (AnalysisException, ValueError):  # probe-only
            return None
        if not any(isinstance(f.dataType, TimestampType)
                   for f in schema.fields):
            return None
        exprs = []
        for f in schema.fields:
            q = "`" + f.name.replace("`", "``") + "`"
            if not isinstance(f.dataType, TimestampType):
                exprs.append(q)
            elif self.parquet_ts_type == "INT64_MILLIS":
                exprs.append(
                    f"timestamp_millis(unix_millis({q})) AS {q}")
            else:  # INT64_NANOS: NULL outside the representable range
                exprs.append(
                    f"CASE WHEN {q} BETWEEN "
                    f"TIMESTAMP'1677-09-21 00:12:43.145225' AND "
                    f"TIMESTAMP'2262-04-11 23:47:16.854775' "
                    f"THEN {q} END AS {q}")
        return (f"{m.group('pre')} SELECT {', '.join(exprs)} "
                f"FROM ({body}) __pqt_ts__")

    def _refresh_overlays(self, sql_text: str) -> None:
        """Re-project overlay tables (metadata-only ALTERed parquet
        tables) under the CURRENT resolution mode; clean up overlays
        whose table is being dropped."""
        import re as _re

        from incubator_impala_spark import schema_resolution

        dm = _re.match(r"(?is)\s*drop\s+table\s+(?:if\s+exists\s+)?"
                       r"`?([\w.]+)`?", sql_text)
        dropping = dm.group(1).split(".")[-1].lower() if dm else None
        for tbl, ov in list(self.schema_overlays.items()):
            if dropping and tbl.lower().endswith(dropping):
                self.spark.catalog.dropTempView(tbl)
                del self.schema_overlays[tbl]
                continue
            try:
                df = schema_resolution.resolve_overlay(
                    self.spark, ov["location"], ov["logical"],
                    self.parquet_resolution)
                df.createOrReplaceTempView(tbl)
            except (AnalysisException, ValueError, OSError):
                # an unresolvable logical/file pairing under the
                # CURRENT mode must not abort an unrelated statement;
                # the next mode change re-resolves
                pass

    def _set_all(self) -> DataFrame:
        rows = [(o.name.upper(),
                 o.render(getattr(self, o.attr)) if o.render else
                 self.option_display.get(o.name.upper(), o.display),
                 o.level)
                for o in options.OPTIONS.values() if o.level]
        return rows_df(
            self.spark, rows, "option string, value string, level string")

    def hive_sql(self, sql_text: str) -> DataFrame:
        """Execute a statement as the minicluster's HIVE side would
        (the .test corpora's HIVE_QUERY staging): transactional DML
        allocates write ids without advancing this engine's cached
        ValidWriteIdList — invisible until REFRESH / INVALIDATE
        METADATA (acid.py). Non-ACID statements run normally."""
        from incubator_impala_spark import acid

        return acid.hive_sql(self, sql_text)

    def sql(self, sql_text: str) -> DataFrame:
        if _SET_ALL_STMT.match(sql_text):
            return self._set_all()
        m = _SET_STMT.match(sql_text)
        if m:
            self.set_option(m.group(1), m.group(2).strip("'\""))
            return self.spark.sql("SELECT 1 AS status")
        m = _EXPLAIN_STMT.match(sql_text)
        if m:
            # runs BEFORE namespace resolution: the renderer needs the
            # query's original db-qualified spellings for node labels
            # and the missing-stats header
            from incubator_impala_spark import impala_explain

            lines = impala_explain.render_explain(
                self, m.group("body"), self.explain_level)
            return rows_df(
                self.spark, [(ln,) for ln in lines], "explain_string string")
        if self.schema_overlays:
            self._refresh_overlays(sql_text)
        for name, ov in list(self.array_overlays.items()):
            from incubator_impala_spark import array_resolution

            try:
                array_resolution.resolve_array_view(
                    self.spark, ov["location"], ov["array_col"],
                    ov["elem_fields"], self.parquet_resolution,
                    self.parquet_array_res,
                ).createOrReplaceTempView(name)
            except (AnalysisException, ValueError, OSError):  # re-resolved next stmt
                pass
        if getattr(self, "acid_tables", None) \
                or getattr(self, "acid_shadows", None):
            # ACID snapshot views rebuild before the statement plans;
            # row__id references swap to the shadow views (acid.py)
            from incubator_impala_spark import acid

            sql_text = acid.prepare(self, sql_text)
        if getattr(self, "mixed_tables", None):
            # per-partition mixed-format tables: SELECTs read through
            # a freshly-built dispatch view, DDL/DML drops the shadow
            # (mixedformat.refresh_views); must run before the scan
            # checks so avro-reconciliation errors are registered
            from incubator_impala_spark import mixedformat

            mixedformat.refresh_views(self, sql_text)
        if getattr(self, "scan_checks", None) and (
                self.abort_on_error
                or any(c.get("always")
                       for c in self.scan_checks.values())):
            # checked-table scan validation (scan_errors.py): raise
            # the reference-shaped abort before planning; "always"
            # checks model unmaskable metadata errors (bad footer
            # magic, disabled scanner plugins)
            from incubator_impala_spark import scan_errors

            scan_errors.check_query(self, sql_text)
        # SHOW CREATE TABLE/VIEW renderer + CREATE-time facet
        # recording (showcreate.py) — runs on the pre-resolution text
        # so the record keeps the user's logical names and Impala-form
        # clauses the dialect shim would translate away
        from incubator_impala_spark import showcreate

        handled = showcreate.handle(self, sql_text)
        if handled is not None:
            return handled
        if re.match(r"(?is)^\s*create\s+(?:external\s+)?"
                    r"(?:table|view)\b", sql_text):
            return self._sql_create_recorded(sql_text)
        return self._sql_stmt(sql_text)

    def _sql_create_recorded(self, sql_text: str) -> DataFrame:
        """Run a CREATE TABLE/VIEW, committing the SHOW CREATE facet
        record only when the statement takes effect: a failed CREATE
        must not clobber the live object's recorded definition, and an
        IF NOT EXISTS no-op over an existing object keeps the
        existing record (the reference reflects the actual catalog,
        ToSqlUtils.getCreateTableSql renders live metadata)."""
        from incubator_impala_spark import showcreate

        skip = False
        if re.match(r"(?is)^\s*create\s+(?:external\s+)?"
                    r"(?:table|view)\s+if\s+not\s+exists\b",
                    sql_text):
            try:
                rm = re.match(
                    r"(?is)^\s*create\s+(?:external\s+)?"
                    r"(?:table|view)\s+if\s+not\s+exists\s+"
                    r"(`?[\w.]+`?)", self.ns.resolve(sql_text))
                skip = rm is not None and \
                    self.spark.catalog.tableExists(
                        rm.group(1).replace("`", ""))
            except AnalysisException:  # unresolvable name: record
                skip = False           # as before (best-effort)
        out = self._sql_stmt(sql_text)
        if not skip:
            showcreate.record_create(self, sql_text)
        return out

    def _sql_stmt(self, sql_text: str) -> DataFrame:
        from incubator_impala_spark import showcreate

        dv = re.match(r"(?is)^\s*drop\s+(?:table|view)\s+"
                      r"(?:if\s+exists\s+)?`?([\w.]+)`?", sql_text)
        if dv:
            showcreate.forget(self, dv.group(1))
        am = re.match(
            r"(?is)^\s*ANALYZE\s+TABLE\s+(?P<tbl>[\w.]+)\s*"
            r"(?:PARTITION\s*\([^)]*\)\s*)?"
            r"COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s*;?\s*$",
            sql_text)
        if am:
            # Hive's bare ANALYZE ... FOR COLUMNS (the
            # clear-statsaccurate staging runs it through this
            # engine): compute the stats and record Hive's
            # COLUMN_STATS_ACCURATE marker, which an engine-side
            # INSERT then clears
            tbl = am.group("tbl")
            try:
                self.spark.sql(self.ns.resolve(
                    f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
                    f"FOR ALL COLUMNS"))
            except _SPARK_ERR:
                pass
            from incubator_impala_spark import showcreate

            if not hasattr(self, "create_meta"):
                self.create_meta = {}
            meta = self.create_meta.setdefault(
                showcreate.meta_key(self, tbl),
                {"kind": "table", "external": True, "display": tbl})
            meta.setdefault("tblproperties", {})[
                "COLUMN_STATS_ACCURATE"] = \
                '{\\"BASIC_STATS\\":\\"true\\"}'
            return rows_df(
                self.spark, [("Updated table stats.",)], "summary string")
        # namespace shim: engine-owned db references become physical
        # (mangled) names; db-scoped DDL returns its summary rows here
        sql_text = self.ns.resolve(sql_text)
        dm = re.match(r"(?is)^\s*(?:drop|create)\s+(?:external\s+)?"
                      r"table\s+(?:if\s+(?:not\s+)?exists\s+)?"
                      r"`?([\w.]+)`?", sql_text)
        if dm:
            # stats die with the table (and a recreate starts clean) —
            # BEFORE ns.handle, which serves registered-object drops
            stats.clear(self, dm.group(1))
            skey = stats.key(self, dm.group(1))
            for reg in (self.part_formats, self.part_locations):
                for k in [k for k in reg if k[0] == skey]:
                    del reg[k]
            # SORT BY layout metadata dies with the table too — a
            # recreate without SORT BY must not inherit it
            # (_CREATE_SORT re-records when the new DDL has one)
            self.sort_props.pop(dm.group(1).lower(), None)
        if getattr(self, "acid_tables", None) is not None \
                or "transactional" in sql_text.lower() \
                or self.default_transactional_type:
            # ACID statement surface (acid.py): transactional CREATEs
            # and every statement touching a registered ACID table
            from incubator_impala_spark import acid

            handled = acid.handle(self, sql_text)
            if handled is not None:
                return handled
        handled = self.ns.handle(self, sql_text)
        if handled is not None:
            return handled
        # stale-avro-metadata registry (avro_stale.py): its DDL runs
        # BEFORE altertable (the registered tables exist only there,
        # not in the Spark catalog)
        from incubator_impala_spark import altertable, avro_stale

        handled = avro_stale.handle(self, sql_text)
        if handled is not None:
            return handled
        avro_stale.check_query(self, sql_text)

        handled = altertable.handle(self, sql_text)
        if handled is not None:
            return handled
        m = re.match(r"(?is)^\s*SHOW\s+PARTITIONS\s+"
                     r"(`[\w.]+`|[A-Za-z_][\w.]*)\s*;?\s*$", sql_text)
        if m:
            from incubator_impala_spark import partitions

            return partitions.show_partitions(self, m.group(1))
        m = re.match(r"(?is)^\s*SHOW\s+COLUMN\s+STATS\s+"
                     r"(`[\w.]+`|[A-Za-z_][\w.]*)\s*;?\s*$", sql_text)
        if m:
            return self._show_column_stats(m.group(1))
        m = re.match(r"(?is)^\s*SHOW\s+TABLE\s+STATS\s+"
                     r"(`[\w.]+`|[A-Za-z_][\w.]*)\s*;?\s*$", sql_text)
        if m:
            from incubator_impala_spark import partitions

            return partitions.show_table_stats(self, m.group(1))
        m = re.match(
            r"(?is)^\s*ALTER\s+TABLE\s+(?P<tbl>[A-Za-z_][\w.]*)\s+"
            r"SET\s+COLUMN\s+STATS\s+(?P<col>`?\w+`?)\s*"
            r"\((?P<kv>[^)]*)\)\s*;?\s*$", sql_text)
        if m:
            # AlterTableSetColumnStats.java: manual per-column stats;
            # -1 resets a value to unknown
            st = stats.record(self, m.group("tbl")).cols.setdefault(
                m.group("col").strip("`").lower(), {})
            names = {"numdvs": "ndv", "numnulls": "nulls",
                     "maxsize": "max", "avgsize": "avg",
                     "numtrues": "trues", "numfalses": "falses"}
            for item in m.group("kv").split(","):
                if "=" not in item:
                    continue
                k, v = item.split("=", 1)
                k = k.strip().strip("'\"").lower()
                v = v.strip().strip("'\"")
                if k in names:
                    st[names[k]] = float(v) if k == "avgsize" \
                        else int(v)
            return rows_df(
                self.spark, [("Column stats have been set.",)],
                "summary string")
        m = re.match(r"(?is)^\s*SHOW\s+FILES\s+IN\s+([A-Za-z_][\w.]*)"
                     r"(?:\s+PARTITION\s*\((?P<spec>(?:[^()]|"
                     r"\([^()]*\))*)\))?\s*;?\s*$", sql_text)
        if m:
            from incubator_impala_spark import partitions

            return partitions.show_files(self, m.group(1),
                                         m.group("spec"))
        m = _CREATE_SORT.match(sql_text)
        if m:
            cols = [c.strip().strip("`")
                    for c in m.group("cols").split(",") if c.strip()]
            self.sort_props[m.group("tbl").lower()] = (
                cols, (m.group("ord") or "LEXICAL").upper())
        m = _DESCRIBE_FMT.match(sql_text)
        if m and m.group(1).lower() in self.sort_props:
            base = self.spark.sql(f"DESCRIBE TABLE EXTENDED {m.group(1)}")
            cols, order = self.sort_props[m.group(1).lower()]
            extra = rows_df(self.spark, [
                ("", "sort.columns".ljust(20), ",".join(cols).ljust(20)),
                ("", "sort.order".ljust(20), order.ljust(20))],
                base.schema)
            return base.unionByName(extra)
        m = _COMPUTE_STATS_STMT.match(sql_text)
        if m:
            return self._compute_stats(m)
        m = _DESCRIBE_PATH.match(sql_text)
        if m:
            from incubator_impala_spark.describe import describe_df

            if re.match(r"(?i)^(?:functional_orc_def\.)?\w+"
                        r"\.row__id$", m.group(1)):
                # the synthetic transactional struct on a full-ACID
                # table (describe-path.test; Path.java ROW__ID
                # registration — fixed five-field shape)
                return rows_df(self.spark, [
                    ("operation", "int", ""),
                    ("originaltransaction", "bigint", ""),
                    ("bucket", "int", ""),
                    ("rowid", "bigint", ""),
                    ("currenttransaction", "bigint", "")],
                    "name string, type string, comment string")
            # db-qualifier conventions match the query path: functional
            # variants resolve to the flat fixture views
            path = re.sub(r"^functional(_\w+)?\.", "", m.group(1))
            return describe_df(self.spark, path)
        m = _CTAS_STMT.match(sql_text)
        if m:
            if m.group("ine") and self.spark.catalog.tableExists(
                    m.group("tbl")):
                n = 0  # IF NOT EXISTS on an existing table: no insert
            else:
                stmt = self._ctas_ts_rewrite(m) or sql_text
                self.spark.sql(self.translate(stmt))
                # CTAS runs as ExecutedCommandExec (no write metrics),
                # so the summary count comes from the fresh table —
                # parquet count(*) folds to footer row counts
                n = self.spark.table(m.group("tbl")).count()
            return rows_df(
                self.spark, [(f"Inserted {n} row(s)",)], "summary string")
        m = _DROP_STATS_STMT.match(sql_text)
        if m:
            tbl, spec = m.group("tbl"), (m.group("part") or "").strip()
            rec = stats.get(self, tbl)
            if not spec:
                stats.clear(self, tbl)
            elif rec.cover:
                # a partition-scoped DROP INCREMENTAL STATS keeps the
                # table-level stats; it shrinks the cover, and the
                # reference derives table-level column stats by
                # merging per-partition incremental sketches, so that
                # shifts them (DIALECT.md
                # incremental-colstats-aggregation, closed r8). The
                # partitions are chosen as COMPUTE chooses them.
                from incubator_impala_spark import partitions

                try:
                    hit = {partitions.part_suffix(kv) for kv in
                           partitions.match_partitions(self, tbl, spec)}
                    dropped = {
                        p for p in rec.cover if p in hit or
                        partitions.part_suffix(
                            partitions.parse_suffix(p)) in hit}
                    if dropped:
                        rec.cover -= dropped
                        rec.incremental -= dropped
                        pcols = [c.name for c in
                                 self.spark.catalog.listColumns(tbl)
                                 if c.isPartition]
                        stats.refresh_incremental(self, tbl, pcols)
                except (*_SPARK_ANY, KeyError):
                    pass  # table dropped / cover emptied
            return rows_df(
                self.spark, [("Stats have been dropped.",)], "summary string")
        lm = re.match(
            r"(?is)^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(?P<tbl>[A-Za-z_][\w.]*)\s*"
            r"(?:\((?P<cols>[\s\S]*?)\)\s*)?"
            r"(?:PARTITIONED\s+BY\s*\((?P<part>[^)]*)\)\s*)?"
            r"(?:STORED\s+AS\s+AVRO\b|WITH\s+SERDEPROPERTIES\b)"
            r"[\s\S]*?avro\.schema\.literal'\s*=\s*'(?P<lit>[^']*)'"
            r"[\s\S]*$", sql_text)
        if lm and not re.search(r"\bAS\s+SELECT\b", sql_text,
                                re.IGNORECASE):
            return self.create_avro_from_literal(
                lm.group("tbl"), lm.group("lit"), lm.group("cols"),
                lm.group("part"))
        m = _CREATE_AVRO.match(sql_text)
        if m and not re.search(r"\bAS\s+SELECT\b|avro\.schema",
                               sql_text, re.IGNORECASE):
            handled = self._create_avro(m)
            if handled is not None:
                return handled
        m = _CREATE_LIKE_PARQUET.match(sql_text)
        if m:
            return self._create_like_parquet(m)
        m = _CREATE_LIKE.match(sql_text)
        if m:
            return self._create_like(m)
        m = _CREATE_TABLE_PLAIN.match(sql_text)
        if m:
            im = re.match(
                r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+"
                r"IF\s+NOT\s+EXISTS\s+([A-Za-z_][\w.]*)",
                sql_text, re.IGNORECASE)
            if im and self.spark.catalog.tableExists(im.group(1)):
                return rows_df(
                    self.spark, [("Table already exists.",)], "summary string")
            self.spark.sql(self.translate(sql_text))
            return rows_df(
                self.spark, [("Table has been created.",)], "summary string")
        m = _TRUNCATE_STMT.match(sql_text)
        if m:
            tbl = m.group("tbl")
            if not self.spark.catalog.tableExists(tbl):
                if m.group("ife"):
                    return rows_df(
                        self.spark, [("Table does not exist.",)],
                        "summary string")
                raise ValueError(f"Table does not exist: {tbl}")
            self.spark.sql(f"TRUNCATE TABLE {tbl}")
            # TRUNCATE drops the table AND column stats with the data
            stats.clear(self, tbl)
            return rows_df(
                self.spark, [("Table has been truncated.",)], "summary string")
        # INSERT detection runs on hint-stripped text (the reference
        # allows /*+ clustered,shuffle */ between the target and the
        # select) and handles the WITH-prefix form by folding the
        # leading CTEs into the body
        ins_text = dialect.strip_plan_hints(sql_text)
        cte_prefix = ""
        if re.match(r"^\s*with\b", ins_text, re.IGNORECASE):
            # INSERT at paren depth 0 after the CTE list
            depth0 = sqlscan.top_level(ins_text)
            im = re.search(r"\binsert\b", depth0, re.IGNORECASE)
            if im:
                cte_prefix = ins_text[:im.start()].rstrip()
                ins_text = ins_text[im.start():]
        m = _INSERT_STMT.match(ins_text)
        if m:
            return self._insert(m, cte_prefix)
        granted = self.grants.handle(self.spark, sql_text)
        if granted is not None:
            return granted
        m = _LOAD_DATA.match(sql_text)
        if m:
            return self._load_data(
                m.group("path"), m.group("tbl"),
                overwrite=bool(m.group("over")),
                partition=m.group("part"),
            )
        from incubator_impala_spark import nested_paths

        # dialect first (plan hints stripped, macros expanded), then
        # collection-path resolution on the cleaned text
        translated = self.translate(sql_text)
        if self.appx_count_distinct:
            def _acd(a):
                m2 = re.match(r"(?is)^\s*distinct\s+(.+)$", a[0]) \
                    if len(a) == 1 else None
                if m2 is None:
                    raise ValueError("keep native count")
                inner = m2.group(1).strip()
                if not self.exact_ndv:
                    return f"approx_count_distinct({inner}, 0.023)"
                return (f"impala_hll_est(collect_set("
                        f"hll_slot_typed({inner}, typeof({inner}))))")
            translated = dialect.rewrite_macro_calls(
                translated, "count", _acd)
        if self.use_local_tz and self.tz.upper() not in ("UTC", "GMT"):
            translated = dialect.rewrite_local_tz(translated, self.tz)
        translated = nested_paths.rewrite_collection_refs(
            self.spark, translated)
        # Impala DECIMAL_V2 avg() result typing (scale max(6,s)) —
        # type-aware, so it runs on the final Spark text with an
        # analysis-only schema probe (no execution)
        translated = dialect.rewrite_decimal_avg(
            translated, self._schema_of)
        return self.spark.sql(translated)

    def _schema_of(self, probe_sql: str):
        """Analyzed output fields of `probe_sql` as
        [(name, (precision, scale) | None), ...] — lazy, no job runs."""
        from pyspark.sql.types import DecimalType

        out = []
        for f in self.spark.sql(probe_sql).schema.fields:
            dt = f.dataType
            out.append((f.name,
                        (dt.precision, dt.scale)
                        if isinstance(dt, DecimalType) else None))
        return out

    def _show_column_stats(self, tbl: str) -> DataFrame:
        """Impala's SHOW COLUMN STATS listing (Column, Type, #Distinct
        Values, #Nulls, Max Size, Avg Size, #Trues, #Falses). Sizes of
        fixed-width types come from the type itself (the reference
        shows them without any stats computed); variable-width sizes
        and counts are -1 until COMPUTE STATS / SET COLUMN STATS."""
        rec = stats.get(self, tbl)
        try:
            pcols = [c.name.lower()
                     for c in self.spark.catalog.listColumns(tbl)
                     if c.isPartition]
        except AnalysisException:  # temp view / unknown table
            pcols = []
        pstats: dict[str, tuple] = {}
        if pcols:
            # the reference knows partition-key NDV/nulls WITHOUT
            # compute stats (catalog metadata)
            from incubator_impala_spark import partitions as _parts

            try:
                plist = _parts.list_partitions(self, tbl)
            except (*_SPARK_ERR, OSError):
                plist = []
            if plist:
                pstats = stats.key_stats(plist)
            elif rec.computed:
                # computed-but-empty partitioned table: the reference
                # reports 0 partitions as 0, not unknown
                for c0 in pcols:
                    pstats[c0] = (0, 0)
            else:
                # path-discovered tables (no catalog partitions):
                # derive from the key columns — with parquet layout
                # that reads directory names / footers, not data
                try:
                    from pyspark.sql import functions as F

                    aggs = []
                    for c in pcols:
                        aggs += [
                            F.countDistinct(c).alias(f"d_{c}"),
                            F.count(F.when(F.col(c).isNull(), 1))
                            .alias(f"n_{c}")]
                    row = self.spark.table(tbl).agg(*aggs).collect()[0]
                    for c in pcols:
                        # an empty table has no partitions → unknown
                        # (-1), matching the reference's unloaded clone
                        if row[f"d_{c}"] or row[f"n_{c}"]:
                            pstats[c] = (row[f"d_{c}"], row[f"n_{c}"])
                except _SPARK_ANY:  # source unresolvable mid-clone
                    pass
        rows = []
        for f in self.spark.table(tbl).schema.fields:
            t = f.dataType.simpleString()
            raw = (f.metadata or {}).get("__CHAR_VARCHAR_TYPE_STRING")
            disp = (raw or t).upper()
            fixed = {"tinyint": 1, "smallint": 2, "int": 4,
                     "bigint": 8, "float": 4, "double": 8,
                     "boolean": 1, "timestamp": 16, "date": 4}
            if t in fixed:
                size = fixed[t]
            elif t.startswith("decimal"):
                p = int(re.match(r"decimal\((\d+)", t).group(1))
                size = 4 if p <= 9 else 8 if p <= 18 else 16
            elif raw and raw.lower().startswith("char("):
                size = int(re.match(r"(?i)char\((\d+)\)", raw).group(1))
            else:
                size = -1
            st = rec.cols.get(f.name.lower(), {})
            pdefault = pstats.get(f.name.lower(), (-1, -1))
            rows.append((
                f.name.lower(), disp,
                int(st.get("ndv", pdefault[0])),
                int(st.get("nulls", pdefault[1])),
                int(st.get("max", size)),
                float(st.get("avg", size)),
                int(st.get("trues", -1)), int(st.get("falses", -1))))
        return rows_df(
            self.spark, rows, "`Column` string, Type string, "
                              "`#Distinct Values` bigint, `#Nulls` bigint, "
                              "`Max Size` bigint, `Avg Size` double, "
                              "`#Trues` bigint, `#Falses` bigint")

    def _extrapolation_enabled(self, tbl: str) -> bool:
        """FeFsTable.Utils.isStatsExtrapolationEnabled: the
        impala.enable.stats.extrapolation table property (the startup
        flag variant is oos — property-driven like the reference's own
        stats-extrapolation test)."""
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {tbl}").collect()
            return any(
                r[0] == "impala.enable.stats.extrapolation"
                and str(r[1]).strip().lower() == "true" for r in rows)
        except AnalysisException:  # temp views have no props
            return False

    def _table_bytes(self, tbl: str) -> int | None:
        """Total visible data bytes under the table location (the
        totalSize stat COMPUTE STATS records alongside numRows)."""
        import os as _os

        try:
            loc = self._table_location(tbl)
        except _SPARK_ERR:
            return None
        if not loc or not _os.path.isdir(loc):
            return None
        total = 0
        for root, dirs, files in _os.walk(loc):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.startswith((".", "_")) \
                        and not f.endswith(".crc"):
                    total += _os.path.getsize(_os.path.join(root, f))
        return total

    def _compute_stats(self, m: re.Match) -> DataFrame:
        """COMPUTE STATS veneer: runs Spark's ANALYZE (footer counts +
        per-column min/max/ndv/null stats into the catalog — what the
        planner consumes) and returns the reference's summary row
        'Updated N partition(s) and M column(s).'
        (ComputeStatsStmt.java; N = partitions touched, M = columns
        with fresh stats)."""
        tbl = m.group("tbl")
        cols_g = m.group("cols")
        spec = (m.group("part") or "").strip()
        pcols = []
        try:
            pcols = [c.name
                     for c in self.spark.catalog.listColumns(tbl)
                     if c.isPartition]
        except _SPARK_ERR:
            pass
        wanted = stats.scalar_columns(self.spark.table(tbl).schema, pcols)
        if cols_g is not None:
            wanted = [c.strip().strip("`")
                      for c in cols_g.split(",") if c.strip()]
        try:
            if wanted:
                self.spark.sql(
                    f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
                    f"FOR COLUMNS {', '.join(wanted)}")
            else:
                self.spark.sql(
                    f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        except _SPARK_ERR:
            pass          # temp-view fixtures: stats are advisory
        # SHOW COLUMN STATS values: one scan with per-column
        # aggregates (that IS compute stats' cost model; stats.compute).
        # A partition-scoped compute does NOT refresh table-level
        # column stats (the reference fills those only on full
        # computes).
        if not spec:
            try:
                nrows = stats.compute(self, tbl, self.spark.table(tbl),
                                      wanted)
                rec = stats.record(self, tbl)
                rec.computed, rec.rows = True, nrows
                # totalSize at compute time — the extrapolation base
                # (extrapolated rows = numRows * bytes_now / bytes_then)
                sz = self._table_bytes(tbl)
                if sz is not None:
                    rec.bytes = sz
            except _SPARK_ANY:
                pass  # unloadable table
        n_parts = 1
        if pcols:
            parts: set = set()
            try:
                parts = {r[0] for r in self.spark.sql(
                    f"SHOW PARTITIONS {tbl}").collect()}
            except AnalysisException:  # unpartitioned table
                pass
            rec = stats.record(self, tbl)
            if spec:
                from incubator_impala_spark import partitions

                matched = partitions.match_partitions(self, tbl, spec)
                hit = {partitions.part_suffix(kv) for kv in matched}
                n_parts = len(hit)
                rec.cover = (rec.cover or set()) | hit
                if m.group("inc"):
                    rec.incremental |= hit
                # per-partition row counts (what the reference's
                # incremental stats persist): one partition-pruned
                # aggregate over the matched set
                try:
                    stats.count_partitions(
                        self, tbl, pcols, hit,
                        partitions._translate_pred(spec))
                    rec.rows = sum(rec.parts.values())
                except _SPARK_ANY:  # per-partition scan failed
                    pass
                if m.group("inc"):
                    try:
                        stats.refresh_incremental(self, tbl, pcols)
                    except (*_SPARK_ANY, KeyError):
                        pass  # sketch cover incomplete
            elif m.group("inc") and rec.cover is not None:
                # incremental re-run: only partitions not yet covered
                new = parts - rec.cover
                n_parts = len(new)
                rec.cover = parts
                rec.incremental |= new
                try:
                    stats.count_partitions(self, tbl, pcols, parts)
                except _SPARK_ERR:
                    pass
                if n_parts == 0:
                    return rows_df(
                        self.spark, [("No partitions selected for "
                                      "incremental stats update.",)],
                        "summary string")
            elif self._extrapolation_enabled(tbl):
                # extrapolation tables store ONLY the table-level row
                # count (ComputeStatsStmt: "Updated 1 partition(s)"),
                # never per-partition counts — SHOW TABLE STATS
                # extrapolates them from file sizes instead
                n_parts = 1
                rec.cover, rec.incremental = parts, set()
                rec.parts.clear()
            else:
                n_parts = len(parts)
                rec.cover = parts
                # incremental compute marks every partition's cover;
                # a full compute REPLACES incremental stats (flag off)
                rec.incremental = set(parts) if m.group("inc") else set()
                # a full compute persists per-partition row counts
                # too (the reference's table stats carry #ROWS per
                # partition after COMPUTE STATS — corrupt-stats.test)
                try:
                    stats.count_partitions(self, tbl, pcols, parts)
                except _SPARK_ERR:
                    pass
        return rows_df(
            self.spark, [(f"Updated {n_parts} partition(s) and "
                          f"{len(wanted)} column(s).",)], "summary string")

    def _create_like_parquet(self, m: re.Match) -> DataFrame:
        """CREATE TABLE LIKE PARQUET|ORC 'file': clone the file
        footer's schema into an empty managed table
        (CreateTableLikeFileStmt.java). Unreachable test-warehouse
        paths resolve first against the session warehouse (staged by
        an earlier CTAS — a named file like 000000_0 falls back to any
        data file in the same directory), then by basename against the
        reference's testdata (the files the load scripts would have
        staged)."""
        import os

        fmt = (m.group("fmt") or "PARQUET").upper()
        reader = (self.spark.read.orc if fmt == "ORC"
                  else self.spark.read.parquet)
        tbl, path = m.group("tbl"), m.group("path")
        if m.group("ine") and self.spark.catalog.tableExists(tbl):
            return rows_df(
                self.spark, [("Table already exists.",)], "summary string")
        if not os.path.exists(path):
            cands = []
            wh = self._resolve_fs_path(path)
            cands.append(wh)
            if os.path.isdir(os.path.dirname(wh)):
                # the runner names Hive's output file (000000_0); any
                # data file in the staged directory has the schema
                cands += sorted(
                    os.path.join(os.path.dirname(wh), f)
                    for f in os.listdir(os.path.dirname(wh))
                    if not f.startswith((".", "_")))
            if path.startswith("/test-warehouse/"):
                # the load scripts stage testdata/data/** under
                # /test-warehouse/** — reverse the mapping
                cands.append(os.path.join(
                    "/root/reference/testdata/data",
                    path[len("/test-warehouse/"):]))
            base = os.path.basename(path)
            cands += [
                os.path.join(d, base)
                for d in ("/root/reference/testdata/data",
                          "/root/reference/testdata/data/schemas",
                          "/root/reference/testdata/data/schemas/nested",
                          "/root/reference/testdata/ComplexTypesTbl")]
            for cand in cands:
                if os.path.isfile(cand):
                    path = cand
                    break
            else:
                raise ValueError(
                    f"LIKE {fmt} source not found: {path}")
        src = reader(path)

        def impala_type(f) -> str:
            # CHAR/VARCHAR survive in Spark's schema metadata; an
            # un-annotated BINARY infers as STRING
            # (ParquetHelper.java / OrcSchemaExtractor type mapping)
            raw = (f.metadata or {}).get("__CHAR_VARCHAR_TYPE_STRING")
            if raw:
                return raw.lower()
            return f.dataType.simpleString().replace("binary", "string")

        fmt_disp = "Parquet" if fmt == "PARQUET" else fmt
        cols_ddl = ", ".join(
            f"`{f.name}` {impala_type(f)} "
            f"COMMENT 'Inferred from {fmt_disp} file.'"
            for f in src.schema.fields)
        part = ""
        if m.group("part"):
            items = sqlscan.split_top(m.group("part"))
            typed = [i for i in items if len(i.split()) >= 2]
            if typed:
                cols_ddl += ", " + ", ".join(items)
                part = (" PARTITIONED BY ("
                        + ", ".join(i.split()[0] for i in items) + ")")
            else:
                part = f" PARTITIONED BY ({', '.join(items)})"
        self.spark.sql(
            f"CREATE TABLE {tbl} ({cols_ddl}) "
            f"USING {fmt.lower()}{part}")
        if m.group("loc") and not m.group("part"):
            # external LOCATION over staged data: the created table
            # reads those rows (loaded here since the warehouse path
            # resolves to the reference's testdata copy)
            try:
                from pyspark.sql import functions as F

                tfields = self.spark.table(tbl).schema.fields
                src.select([
                    F.col(f"`{sf.name}`").cast(tf.dataType)
                    .alias(tf.name)
                    for sf, tf in zip(src.schema.fields, tfields)
                ]).write.insertInto(tbl)
            except _SPARK_ANY:  # no staged data at the location
                pass
        return rows_df(
            self.spark, [("Table has been created.",)], "summary string")

    @staticmethod
    def _avro_type(sql_type: str) -> str:
        """Impala's Avro-schema column-type conversion
        (fe/.../util/AvroSchemaConverter.java): Avro has no 1/2-byte
        ints and no timestamp — TINYINT/SMALLINT become INT,
        TIMESTAMP becomes STRING; everything else is representable
        and preserved (CHAR/VARCHAR/DECIMAL via Avro logical types)."""
        t = sql_type.strip()
        low = t.lower()
        if low in ("tinyint", "smallint"):
            return "int"
        if low == "timestamp":
            return "string"
        return t

    def create_avro_from_literal(self, tbl: str, literal: str,
                                 coldefs: str | None,
                                 part: str | None = None) -> DataFrame:
        """CREATE/ALTER with `avro.schema.literal`: the AVRO SCHEMA is
        the table schema (AvroSchemaParser/AvroSchemaUtils — names,
        types, and `doc` comments come from the literal), EXCEPT that
        CHAR/VARCHAR column-definition types are kept positionally
        (IMPALA-3687: avro stores them as string; the coldef preserves
        the length)."""
        import json as _json

        from incubator_impala_spark.sources.avro_io import (
            avro_field_spark_type,
        )

        fields = _json.loads(literal)["fields"]
        cd_types: list[str] = []
        if coldefs:
            col_re = re.compile(
                r"^\s*`?(?P<name>[A-Za-z_]\w*)`?\s+(?P<type>[\w()<>, ]+?)"
                r"(?:\s+COMMENT\s+'(?:[^']|'')*')?\s*$", re.IGNORECASE)
            for item in sqlscan.split_top(coldefs, angle=True):
                cm = col_re.match(item)
                cd_types.append(cm.group("type").strip() if cm else "")
        defs = []
        for i, f in enumerate(fields):
            typ = avro_field_spark_type(f["type"])
            if i < len(cd_types) and re.match(
                    r"(?i)\s*(char|varchar)\s*\(", cd_types[i]):
                typ = cd_types[i].lower()
            comment = (f.get("doc") or "from deserializer") \
                .replace("'", "''")
            defs.append(f"`{f['name']}` {typ} COMMENT '{comment}'")
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        import shutil as _sh

        _sh.rmtree(os.path.join(
            self._warehouse_dir(), tbl.split(".")[-1].lower()),
            ignore_errors=True)
        pclause = ""
        if part and part.strip():
            pnames = []
            for item in sqlscan.split_top(part, angle=True):
                pm2 = re.match(r"\s*`?(\w+)`?\s+(\S+)", item)
                if pm2:
                    defs.append(f"`{pm2.group(1)}` {pm2.group(2)}")
                    pnames.append(pm2.group(1))
            if pnames:
                pclause = f" PARTITIONED BY ({', '.join(pnames)})"
        self.spark.sql(
            f"CREATE TABLE {tbl} ({', '.join(defs)}) "
            f"USING parquet{pclause}")
        self.avro_tables.add(stats.key(self, tbl))
        return rows_df(
            self.spark, [("Table has been created.",)], "summary string")

    def _create_avro(self, m: re.Match) -> DataFrame:
        """CREATE TABLE ... STORED AS AVRO without an explicit Avro
        schema (see _CREATE_AVRO). The converted schema is created as
        a managed parquet table — the storage format is an engine
        detail; the reference-visible surface is the converted column
        types and 'from deserializer' comments."""
        tbl = m.group("tbl")
        if m.group("ine") and self.spark.catalog.tableExists(tbl):
            return rows_df(
                self.spark, [("Table already exists.",)], "summary string")
        col_re = re.compile(
            r"^\s*(?P<bq>`?)(?P<name>[A-Za-z_]\w*)(?P=bq)\s+"
            r"(?P<type>[\s\S]*?)"
            r"(?:\s+COMMENT\s+'(?P<cm>(?:[^']|'')*)')?\s*$",
            re.IGNORECASE)
        defs = []
        for item in sqlscan.split_top(m.group("cols"), angle=True):
            cm = col_re.match(item)
            if not cm:
                return None  # unparsed column def: fall through
            comment = (cm.group("cm") or "from deserializer") \
                .replace("'", "''")
            defs.append(f"`{cm.group('name')}` "
                        f"{self._avro_type(cm.group('type'))} "
                        f"COMMENT '{comment}'")
        pnames = []
        for item in sqlscan.split_top(m.group("part") or "", angle=True):
            cm = col_re.match(item)
            if cm:
                defs.append(f"`{cm.group('name')}` {cm.group('type')}")
                pnames.append(cm.group("name"))
        part = (f" PARTITIONED BY ({', '.join(pnames)})"
                if pnames else "")
        self.spark.sql(f"CREATE TABLE {tbl} ({', '.join(defs)}) "
                       f"USING parquet{part}")
        self.avro_tables.add(stats.key(self, tbl))
        # EXTERNAL ... LOCATION over existing avro container files:
        # adopt the data (avro-schema-changes.test
        # avro_alter_table_add_new_column over tinytable_avro)
        lm = re.search(r"(?is)\blocation\s+'([^']+)'",
                       m.group("tail") or "")
        if lm and not pnames:
            import glob as _glob

            loc = self._resolve_fs_path(lm.group(1))
            if _glob.glob(os.path.join(loc, "*.avro")):
                from incubator_impala_spark.sources import avro_io

                avro_io.read_avro(self.spark, loc) \
                    .write.insertInto(tbl)
        return rows_df(
            self.spark, [("Table has been created.",)], "summary string")

    def _create_like(self, m: re.Match) -> DataFrame:
        """CREATE TABLE LIKE: clone the source's schema and partition
        spec into an empty managed parquet table. Partition columns
        come from the catalog when the source is a real table, else
        from the functional schema template's declared partition
        columns (sources/functional.py PARTITIONED_BY)."""
        tbl = m.group("tbl")
        src = re.sub(r"^functional(_\w+)?\.", "", m.group("src"))
        if m.group("ine") and self.spark.catalog.tableExists(tbl):
            return rows_df(
                self.spark, [("Table already exists.",)], "summary string")
        if tbl.split(".")[-1].lower() == src.split(".")[-1].lower() \
                and self.spark.catalog.tableExists(tbl):
            # self-LIKE of a template target (the harness resolves
            # `functional.X` to the local X): fresh-create semantics
            # without destroying the source — truncate in place
            self.spark.sql(f"TRUNCATE TABLE {tbl}")
            return rows_df(
                self.spark, [("Table has been created.",)], "summary string")
        # explicit SORT BY was recorded by _CREATE_SORT before this
        # branch; otherwise the clone inherits the source's layout
        # (CreateTableLikeStmt copies sort.columns — IMPALA-4166)
        if tbl.lower() not in self.sort_props \
                and src.lower() in self.sort_props:
            self.sort_props[tbl.lower()] = self.sort_props[src.lower()]
        created = False
        try:
            if self.spark.catalog.getTable(src).tableType \
                    not in ("TEMPORARY", "VIEW"):
                # catalog-table source: Spark's native LIKE preserves
                # column comments and CHAR/VARCHAR types verbatim
                self.spark.sql(f"CREATE TABLE {tbl} LIKE {src}")
                created = True
        except AnalysisException:  # temp-view source: schema clone
            pass
        if not created:
            df = self.spark.table(src)
            pcols: list[str] = []
            try:
                pcols = [c.name
                         for c in self.spark.catalog.listColumns(src)
                         if c.isPartition]
            except AnalysisException:  # temp views carry none
                pass
            if not pcols:
                from incubator_impala_spark.sources.functional import (
                    PARTITIONED_BY,
                )

                pcols = [c for c in PARTITIONED_BY.get(src.lower(), [])
                         if c in df.columns]
            avro = bool(re.search(r"\bSTORED\s+AS\s+AVRO\b", m.string,
                                  re.IGNORECASE))
            cols_ddl = ", ".join(
                f"`{f.name}` " +
                (self._avro_type(f.dataType.simpleString())
                 if avro and f.name not in pcols
                 else f.dataType.simpleString())
                for f in df.schema.fields)
            part = (f" PARTITIONED BY ({', '.join(pcols)})"
                    if pcols else "")
            self.spark.sql(
                f"CREATE TABLE {tbl} ({cols_ddl}) USING parquet{part}")
        lm = re.search(r"\bLOCATION\s+'(?P<loc>[^']*)'", m.string,
                       re.IGNORECASE)
        if lm and src.split(".")[-1].lower().lstrip("_") in \
                os.path.basename(lm.group("loc")).lower():
            # EXTERNAL ... LOCATION pointing at the source table's own
            # warehouse dir: the new table adopts the existing data
            # files (the reference reads them in place) — populate the
            # clone with the source rows so reads match
            self.spark.table(src).write.insertInto(tbl)
        return rows_df(
            self.spark, [("Table has been created.",)], "summary string")

    def _insert(self, m: re.Match, cte_prefix: str = "") -> DataFrame:
        """INSERT INTO/OVERWRITE via a DataFrame write, returning the
        reference's summary rows: per modified partition
        `k1=v1/k2=v2/: N` (InsertStmt summary as impala-shell prints
        it), or `: N` for an unpartitioned table. Handles the column-
        permutation form (listed columns map by position, unlisted
        data columns fill with NULL — InsertStmt.java column
        permutations) and static/dynamic PARTITION specs (a static
        spec becomes a literal column, so OVERWRITE under Spark's
        dynamic partition-overwrite replaces exactly that partition,
        matching the reference's static-partition overwrite)."""
        from pyspark.sql import functions as F

        tbl = m.group("tbl")
        # an engine-side write invalidates Hive-computed column stats:
        # the reference clears COLUMN_STATS_ACCURATE on INSERT
        # (clear-statsaccurate.test; CatalogOpExecutor unsets the
        # property Hive's ANALYZE set)
        try:
            from incubator_impala_spark import showcreate

            meta = getattr(self, "create_meta", {}).get(
                showcreate.meta_key(self, tbl))
            if meta:
                meta.get("tblproperties", {}).pop(
                    "COLUMN_STATS_ACCURATE", None)
        except (KeyError, AttributeError):  # malformed facet record
            pass
        overwrite = m.group("mode").upper() == "OVERWRITE"
        # `insert into t()` with no source: one all-default row
        # (InsertStmt with an empty permutation and no query)
        body = m.group("body") or "select 1 as __dummy__"
        if re.match(r"^\s*values\b", body, re.IGNORECASE):
            body = "select * from (" + body + ") __v"
        if cte_prefix:
            # `with t1 as (..) insert .. [with t2 as (..)] select` —
            # fold the prefix CTEs into the body's WITH list
            bm = re.match(r"^\s*with\b", body, re.IGNORECASE)
            if bm:
                body = cte_prefix + ", " + body[bm.end():]
            else:
                body = cte_prefix + " " + body
        df = self.spark.sql(self.translate(body))

        target = self.spark.table(tbl)
        tcols = target.columns
        ttypes = dict(zip(tcols, [f.dataType.simpleString()
                                  for f in target.schema.fields]))
        pcols = [c.name for c in self.spark.catalog.listColumns(tbl)
                 if c.isPartition]
        static: dict[str, str] = {}
        dyn: list[str] = []
        for item in sqlscan.split_top(m.group("part") or ""):
            if "=" in item:
                k, v = item.split("=", 1)
                # the value may be an Impala expression (char casts…)
                static[k.strip().strip("`").lower()] = (
                    dialect.rewrite_char_casts(v.strip()))
            else:
                dyn.append(item.strip("`").lower())
        # columns the SELECT supplies, in order; with a column
        # permutation the dynamic partition keys append after the
        # listed columns (InsertStmt.java permutation rules)
        cols_g = m.group("cols")
        if cols_g is not None:  # () is a valid EMPTY permutation
            listed = [c for c in
                      (x.strip().strip("`").lower()
                       for x in cols_g.split(","))
                      if c] + dyn
        else:
            listed = [c.lower() for c in tcols if c.lower() not in static]
        if listed:
            df = df.toDF(*listed)
        out = []
        for c in tcols:
            if c.lower() in static:
                out.append(F.expr(static[c.lower()])
                           .cast(ttypes[c]).alias(c))
            elif c.lower() in listed:
                out.append(F.col(c.lower()).cast(ttypes[c]).alias(c))
            else:
                out.append(F.lit(None).cast(ttypes[c]).alias(c))
        final = df.select(out)
        # serialization.null.format tables: writing the null-format
        # string stores NULL (the reference's text serde round-trip;
        # nullformat_custom carries 'xyz')
        if tbl.split(".")[-1].lower() == "nullformat_custom":
            final = final.select([
                F.nullif(F.col(c), F.lit("xyz")).alias(c)
                if t == "string" else F.col(c)
                for c, t in ttypes.items()])

        # persist so the summary count and the write share one scan of
        # the source (also isolates self-inserts from the new data)
        final = final.persist()
        if pcols:
            counts = (final.groupBy(*pcols).count()
                      .orderBy(*pcols).collect())

            def fmt(v):
                # NULL and '' partition keys land in Hive's default
                # partition; string values print URL-escaped exactly
                # as they name partition directories (Hive
                # FileUtils.escapePathName, mirrored by the
                # reference's summary)
                if v is None or v == "":
                    return "__HIVE_DEFAULT_PARTITION__"
                if isinstance(v, str):
                    # Hive FileUtils.escapePathName's exact char set
                    # (space, +, etc. stay literal)
                    return "".join(
                        f"%{ord(ch):02X}"
                        if ch in '"#%\'*/:=?\\{[]^' or ord(ch) < 0x20
                        else ch
                        for ch in v)
                if isinstance(v, float):
                    # partition dirs print floats shortest-form
                    # (float_col=0, not 0.0)
                    return f"{v:g}"
                return str(v)

            # an insert that modified no partition prints nothing
            # (the reference's summary is the per-partition map)
            rows = [("/".join(f"{c}={fmt(r[c])}" for c in pcols)
                     + f"/: {r['count']}",)
                    for r in counts]
            # modified partitions lose their incremental-stats cover
            # (the next COMPUTE INCREMENTAL STATS recounts them)
            touched = {"/".join(f"{c}={fmt(r[c])}" for c in pcols)
                       for r in counts}
            cover = stats.get(self, tbl).cover
            if cover is not None:
                cover -= touched
        else:
            rows = [(f": {final.count()}",)]
        # tiny inserts write like the reference's single coordinator
        # writer — one file per modified partition, not one per task
        # (SHOW TABLE STATS file counts pin this; large inserts keep
        # full write parallelism)
        try:
            total = sum(r["count"] for r in counts) if pcols \
                else int(rows[0][0][2:])
            if total <= 1000:
                final = final.coalesce(1)
        except (ValueError, KeyError, IndexError, TypeError):
            pass  # summary row not in the ': N' shape
        # COMPRESSION_CODEC: the parquet writer accepts only
        # NONE/GZIP/SNAPPY/ZSTD/LZ4 (hdfs-parquet-table-writer.cc:
        # 1019-1027; insert_parquet_invalid_codec.test pins the bzip2
        # reject); valid codecs flow to the parquet write conf
        pq_codec = None
        cc = self.compression_codec
        if cc:
            pq_map = {"none": "uncompressed", "default": "snappy",
                      "snappy": "snappy", "gzip": "gzip",
                      "zstd": "zstd", "lz4": "lz4"}
            if self._table_provider(tbl) == "parquet":
                if cc not in pq_map:
                    raise ValueError(
                        f"Invalid parquet compression codec {cc}")
                pq_codec = pq_map[cc]
        prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        prev_codec = self.spark.conf.get(
            "spark.sql.parquet.compression.codec", "snappy")
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic")
        if pq_codec:
            self.spark.conf.set(
                "spark.sql.parquet.compression.codec", pq_codec)
        try:
            final.write.insertInto(tbl, overwrite=overwrite)
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev)
            self.spark.conf.set(
                "spark.sql.parquet.compression.codec", prev_codec)
            final.unpersist()
        return rows_df(self.spark, rows, "__insert_summary__ string")

    def _table_provider(self, tbl: str) -> str | None:
        """Catalog provider ('parquet', 'csv', ...) of a persistent
        table, None for temp views / unknown — one metadata lookup,
        no job."""
        try:
            for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {tbl}").collect():
                if r[0] == "Provider":
                    return (r[1] or "").strip().lower()
        except AnalysisException:  # temp view or missing table
            pass
        return None

    def _warehouse_dir(self) -> str:
        return re.sub(r"^file:", "", self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"))

    def _resolve_fs_path(self, path: str) -> str:
        """The reference's paths are warehouse-rooted
        (`/test-warehouse/...`); map that root onto the session
        warehouse so LOAD DATA / LIKE-file texts run verbatim. A
        `<db>.db/<tbl>` component probes the engine's two physical
        layouts for db-scoped tables (plain name for tables created
        under USE, `db__name` for the namespace-mangled form)."""
        p = re.sub(r"^file:", "", path)
        m = re.match(r"/?test-warehouse/(.*)$", p)
        if not m:
            return p
        rel = m.group(1)
        wh = self._warehouse_dir()
        dm = re.match(r"([\w]+)\.db/([\w.=-]+)(/.*)?$", rel)
        if dm:
            db, tbl, rest = dm.group(1), dm.group(2), dm.group(3) or ""
            for phys in (tbl.lower(), f"{db.lower()}__{tbl.lower()}"):
                cand = os.path.join(wh, phys + rest)
                if os.path.exists(cand) or os.path.isdir(
                        os.path.dirname(cand)):
                    return cand
            return os.path.join(wh, tbl.lower() + rest)
        return os.path.join(wh, rel)

    def _table_location(self, table: str) -> str:
        for r in self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {table}").collect():
            if r["col_name"] == "Location":
                return re.sub(r"^file:", "", r["data_type"])
        return os.path.join(self._warehouse_dir(),
                            table.split(".")[-1].lower())

    def _load_data(self, path: str, table: str, overwrite: bool,
                   partition: str | None) -> DataFrame:
        """LOAD DATA: MOVE staged files into the table/partition
        directory — the reference's semantics exactly
        (fe/.../analysis/LoadDataStmt.java, service: LoadData RPC):
        hidden files (`.`/`_` prefix) and subdirectories are skipped,
        OVERWRITE clears the destination first, a same-named file gets
        a uniquified name, sources vanish from their old location, and
        the returned row is the shell's
        'Loaded N file(s). Total files in destination location: M'.
        Pure metadata work — no data is read or rewritten, which is
        also why it scales: moving 10k files is a namenode op, not a
        100 TB rewrite (the old veneer re-inserted the data)."""
        import shutil
        import uuid

        src = self._resolve_fs_path(path.strip())
        dest = self._table_location(table)
        if partition:
            for item in partition.split(","):
                k, v = item.split("=", 1)
                dest = os.path.join(
                    dest, f"{k.strip()}={v.strip().strip(chr(39))}")
        os.makedirs(dest, exist_ok=True)
        if os.path.isdir(src):
            files = sorted(
                os.path.join(src, f) for f in os.listdir(src)
                if not f.startswith((".", "_"))
                and os.path.isfile(os.path.join(src, f)))
        elif os.path.isfile(src):
            files = [src]
        else:
            raise FileNotFoundError(f"LOAD DATA source not found: {src}")
        src_real = {os.path.realpath(f) for f in files}
        if overwrite:
            for f in os.listdir(dest):
                fp = os.path.join(dest, f)
                if os.path.isfile(fp) \
                        and os.path.realpath(fp) not in src_real:
                    os.remove(fp)
        for f in files:
            target = os.path.join(dest, os.path.basename(f))
            if os.path.realpath(f) == os.path.realpath(target):
                continue  # self-load: already in place
            if os.path.exists(target):
                stem, ext = os.path.splitext(os.path.basename(f))
                target = os.path.join(
                    dest, f"{stem}_{uuid.uuid4().hex[:8]}{ext}")
            shutil.move(f, target)
        total = sum(
            1 for f in os.listdir(dest)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(dest, f)))
        if partition:
            # a catalog-tracked partitioned table only sees the new
            # directory once the partition is registered
            try:
                self.spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS "
                               f"PARTITION ({partition})")
            except AnalysisException:  # path-discovered tables
                pass
        try:
            self.spark.catalog.refreshTable(table)
        except _SPARK_ANY:  # temp-view-backed tables
            pass
        msg = (f"Loaded {len(files)} file(s). "
               f"Total files in destination location: {total}")
        return rows_df(self.spark, [(msg,)], "summary string")

    def explain(self, sql_text: str, mode: str = "formatted") -> str:
        """EXPLAIN surface (reference: sql-parser.cup:765-775)."""
        import contextlib
        import io

        df = self.sql(sql_text)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()
