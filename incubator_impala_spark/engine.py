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

from incubator_impala_spark import (
    dialect, options, partitions, sqlscan, statements, stats)
from incubator_impala_spark.grants import GrantRegistry
from incubator_impala_spark.functions.registry import (
    MACROS,
    MACROS_SCALE,
    register_all,
)
from incubator_impala_spark.session import configure_session, rows_df, summary
from incubator_impala_spark.sources.tables import register_tables

# What follows the head of a statement (statements.py matches the
# heads).
# plain DESCRIBE <path> — Impala's three-column column listing incl.
# paths into complex types (describe.py). FORMATTED/EXTENDED keep the
# Spark extended-describe mapping (dialect.describe_formatted_stmt).
_DESCRIBE_PATH = re.compile(
    r"\s+(?!FORMATTED\b|EXTENDED\b|TABLE\b|DATABASE\b)"
    r"((?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))*)\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_FMT = re.compile(
    r"\s+FORMATTED\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)
# ANALYZE TABLE t [PARTITION (..)] COMPUTE STATISTICS FOR COLUMNS
_ANALYZE = re.compile(
    r"\s+TABLE\s+(?P<tbl>[\w.]+)\s*(?:PARTITION\s*\([^)]*\)\s*)?"
    r"COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s*;?\s*$", re.IGNORECASE)
_SET_COLUMN_STATS = re.compile(
    r"\s+(?P<tbl>[A-Za-z_][\w.]*)\s+SET\s+COLUMN\s+STATS\s+"
    r"(?P<col>`?\w+`?)\s*\((?P<kv>[^)]*)\)\s*;?\s*$", re.IGNORECASE)
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
        # each table's catalog record (stats.py): stats, SORT BY,
        # partition overrides, SHOW CREATE facets, schema overlay, ACID
        # state and row__id shadow
        self.tables: dict[str, stats.TableRecord] = {}
        # PARQUET_ARRAY_RESOLUTION views (array_resolution.py):
        # {view name: {"location", "array_col", "elem_fields"}}
        self.array_overlays: dict[str, dict] = {}
        # the stale-avro-metadata registry (avro_stale.py)
        self.avro_stale: dict[str, dict] = {}
        # checked-table scan validation (scan_errors.py), {view name:
        # check}, and the TIMEZONE-following checked views' builders
        self.scan_checks: dict[str, dict] = {}
        self.tz_check_views: dict[str, object] = {}
        if sf_dir:
            register_tables(self.spark, sf_dir)

    def register_tables(self, sf_dir: str) -> None:
        register_tables(self.spark, sf_dir)

    def translate(self, sql_text: str) -> str:
        """Impala SQL → Spark SQL, no execution: the Spark spelling of
        a statement a row of the dispatch table translates, else the
        query pipeline."""
        return statements.translate_statement(sql_text) \
            or self.translate_query(sql_text)

    def translate_query(self, sql_text: str) -> str:
        """The dialect's query pipeline (dialect shim only, no
        execution)."""
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

    def _ctas_ts_body(self, body: str) -> str | None:
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

        try:
            schema = self.spark.sql(self.translate_query(
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
        return f"SELECT {', '.join(exprs)} FROM ({body}) __pqt_ts__"

    def _refresh_overlays(self) -> None:
        """Re-project overlay tables (metadata-only ALTERed parquet
        tables) and PARQUET_ARRAY_RESOLUTION views under the CURRENT
        resolution modes."""
        from incubator_impala_spark import array_resolution, schema_resolution

        for k, rec in self.tables.items():
            if not rec.overlay:
                continue
            view = stats.view_name(k)
            try:
                df = schema_resolution.resolve_overlay(
                    self.spark, self._managed_dir(view), rec.overlay,
                    self.parquet_resolution)
                df.createOrReplaceTempView(view)
            except (AnalysisException, ValueError, OSError):
                # an unresolvable logical/file pairing under the
                # CURRENT mode must not abort an unrelated statement;
                # the next mode change re-resolves
                pass
        for name, ov in list(self.array_overlays.items()):
            try:
                array_resolution.resolve_array_view(
                    self.spark, ov["location"], ov["array_col"],
                    ov["elem_fields"], self.parquet_resolution,
                    self.parquet_array_res,
                ).createOrReplaceTempView(name)
            except (AnalysisException, ValueError, OSError):
                # re-resolved on the next statement
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
        """Classify the statement, run the hooks of its kind, and call
        its row of the dispatch table (statements.py)."""
        stmt = statements.classify(self, sql_text)
        for hook in stmt.row.hooks:
            hook(self, stmt)
        return stmt.row(self, stmt)

    def clear_orphan(self, tbl: str) -> None:
        """Remove the warehouse directory a managed table named `tbl`
        would occupy when the catalog knows no such table: an aborted
        earlier run leaves it, and Spark refuses to create or rename
        a table onto it."""
        import shutil

        if not self.spark.catalog.tableExists(tbl):
            shutil.rmtree(self._managed_dir(tbl), ignore_errors=True)

    def _managed_dir(self, tbl: str) -> str:
        """Warehouse directory of a managed table named `tbl`:
        ``wh/<name>`` in the default database, ``wh/<db>.db/<name>``
        in others."""
        db, _, name = tbl.lower().rpartition(".")
        db = db or self.spark.catalog.currentDatabase() or "default"
        return os.path.join(self._warehouse_dir(),
                            *([] if db == "default" else [f"{db}.db"]),
                            name)


    def _analyze(self, stmt) -> DataFrame | None:
        """Hive's bare ANALYZE ... FOR COLUMNS (the clear-statsaccurate
        staging runs it through this engine): compute the stats and
        record Hive's COLUMN_STATS_ACCURATE marker, which an
        engine-side INSERT then clears."""
        am = sqlscan.match(_ANALYZE, stmt.rest)
        if am is None:
            return None
        tbl = am.group("tbl")
        try:
            self.spark.sql(self.ns.resolve(
                f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
                f"FOR ALL COLUMNS"))
        except _SPARK_ERR:
            pass
        rec = stats.table(self, tbl)
        if rec.create is None:
            rec.create = {"kind": "table", "external": True,
                          "display": tbl}
        rec.create.setdefault("tblproperties", {})[
            "COLUMN_STATS_ACCURATE"] = \
            '{\\"BASIC_STATS\\":\\"true\\"}'
        return summary(self.spark, "Updated table stats.")

    def _set_column_stats(self, stmt) -> DataFrame | None:
        """AlterTableSetColumnStats.java: manual per-column stats; -1
        resets a value to unknown."""
        m = _SET_COLUMN_STATS.match(stmt.tail)
        if m is None:
            return None
        st = stats.record(self, m.group("tbl")).cols.setdefault(
            m.group("col").strip("`").lower(), {})
        names = {"numdvs": "ndv", "numnulls": "nulls",
                 "maxsize": "max", "avgsize": "avg",
                 "numtrues": "trues", "numfalses": "falses"}
        for k, v in partitions.parse_spec(m.group("kv")).items():
            k = k.strip("'\"")
            if k in names and v is not None:
                v = v.strip("'\"")
                st[names[k]] = float(v) if k == "avgsize" else int(v)
        return summary(self.spark, "Column stats have been set.")

    def _describe(self, stmt) -> DataFrame | None:
        """DESCRIBE FORMATTED of a table with a recorded SORT BY, and
        plain DESCRIBE <path>; other forms run as translated by the
        dialect."""
        tail = stmt.tail
        m = _DESCRIBE_FMT.match(tail)
        sort = m and stats.peek(self, m.group(1)).sort
        if sort:
            base = self.spark.sql(f"DESCRIBE TABLE EXTENDED {m.group(1)}")
            cols, order = sort
            extra = rows_df(self.spark, [
                ("", "sort.columns".ljust(20), ",".join(cols).ljust(20)),
                ("", "sort.order".ljust(20), order.ljust(20))],
                base.schema)
            return base.unionByName(extra)
        m = _DESCRIBE_PATH.match(tail)
        if m is None:
            return None
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

    def _create_table(self, stmt) -> DataFrame | None:
        """CREATE TABLE, from its parts (statements.parse_create): a
        transactional table (acid.py), a stale-Avro registry entry
        (avro_stale.py), CTAS, the Avro forms, LIKE PARQUET|ORC 'file',
        LIKE <table>, or a plain CREATE, which returns the reference's
        DDL summary row. None (run as written) when it does not parse."""
        from incubator_impala_spark import acid, avro_stale

        out = acid.handle(self, stmt)
        if out is not None:
            return out
        if stmt.name is not None:
            self.ns.record_table(stmt.name.replace("`", ""))
        c = statements.parse_create(stmt)
        if c is None:
            return None
        out = avro_stale.create(self, c)
        if out is not None:
            return out
        if c.body is not None:
            # CTAS returns 'Inserted N row(s)' (impala-shell surface)
            if c.ine and self.spark.catalog.tableExists(c.name):
                n = 0  # IF NOT EXISTS on an existing table: no insert
            else:
                self.spark.sql(self.translate_query(
                    c.spark(self._ctas_ts_body(c.body))))
                # CTAS runs as ExecutedCommandExec (no write metrics),
                # so the summary count comes from the fresh table —
                # parquet count(*) folds to footer row counts
                n = self.spark.table(c.name).count()
            return summary(self.spark, f"Inserted {n} row(s)")
        if c.ine and self.spark.catalog.tableExists(c.name):
            return summary(self.spark, "Table already exists.")
        fmt = (c.stored_as or "").upper()
        literal = c.props.get("avro.schema.literal")
        if literal is not None and (fmt == "AVRO" or c.serde is not None):
            return self.create_avro_from_literal(c.name, literal, c.cols,
                                                 c.part)
        if fmt == "AVRO" and c.cols and all(t for _, t, _ in c.cols) \
                and not any(k.startswith("avro.schema") for k in c.props):
            return self._create_avro(c)
        if c.like_fmt:
            return self._create_like_parquet(c)
        if c.like:
            return self._create_like(c)
        self.spark.sql(self.translate_query(c.spark()))
        return summary(self.spark, "Table has been created.")

    def _drop_stats(self, stmt, m: re.Match) -> DataFrame:
        """DROP [INCREMENTAL] STATS t [PARTITION (spec)]: clears the
        incremental-stats cover so the next compute recounts."""
        tbl, spec = stmt.name, (m.group("part") or "").strip()
        rec = stats.get(self, tbl)
        if not spec:
            stats.clear(self, tbl)
        elif rec.cover:
            # a partition-scoped DROP INCREMENTAL STATS keeps the
            # table-level stats; it shrinks the cover, and the
            # reference derives table-level column stats by merging
            # per-partition incremental sketches, so that shifts them
            # (DIALECT.md incremental-colstats-aggregation, closed
            # r8). The partitions are chosen as COMPUTE chooses them.
            try:
                dropped = rec.cover & {
                    p for p, _ in
                    partitions.match_partitions(self, tbl, spec)}
                if dropped:
                    rec.cover -= dropped
                    rec.incremental -= dropped
                    stats.refresh_incremental(
                        self, tbl, partitions.partition_columns(self, tbl))
            except (*_SPARK_ANY, KeyError):
                pass  # table dropped / cover emptied
        return summary(self.spark, "Stats have been dropped.")

    def _truncate(self, stmt, m: re.Match) -> DataFrame:
        tbl = stmt.name
        if not self.spark.catalog.tableExists(tbl):
            if m.group("ife"):
                return summary(self.spark, "Table does not exist.")
            raise ValueError(f"Table does not exist: {tbl}")
        self.spark.sql(f"TRUNCATE TABLE {tbl}")
        # TRUNCATE drops the table AND column stats with the data
        stats.clear(self, tbl)
        return summary(self.spark, "Table has been truncated.")

    def _query(self, sql_text: str) -> DataFrame:
        """A statement no row handles: the dialect first (plan hints
        stripped, macros expanded), then `_run`."""
        return self._run(self.translate_query(sql_text))

    def _run(self, translated: str) -> DataFrame:
        """Spark text through the session-dependent rewrites
        (APPX_COUNT_DISTINCT, local time zone, collection paths,
        DECIMAL_V2 avg typing), then Spark."""
        from incubator_impala_spark import nested_paths

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
            pcols = [c.lower() for c in
                     partitions.partition_columns(self, tbl)]
        except AnalysisException:  # unknown table
            pcols = []
        pstats: dict[str, tuple] = {}
        if pcols:
            # the reference knows partition-key NDV/nulls WITHOUT
            # compute stats (catalog metadata)
            try:
                plist = [kv for _, kv in
                         partitions.list_partitions(self, tbl)]
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
        try:
            loc = self._table_location(tbl)
        except _SPARK_ERR:
            return None
        if not loc or not os.path.isdir(loc):
            return None
        total = 0
        for root, dirs, files in os.walk(loc):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.startswith((".", "_")) \
                        and not f.endswith(".crc"):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    def _compute_stats(self, stmt, m: re.Match) -> DataFrame:
        """COMPUTE STATS veneer: runs Spark's ANALYZE (footer counts +
        per-column min/max/ndv/null stats into the catalog — what the
        planner consumes) and returns the reference's summary row
        'Updated N partition(s) and M column(s).'
        (ComputeStatsStmt.java; N = partitions touched, M = columns
        with fresh stats). An ACID table computes over its snapshot
        view, with its partitions and location from its record."""
        tbl, inc = stmt.name, bool(stmt.group("inc"))
        cols_g = m.group("cols")
        spec = (m.group("part") or "").strip()
        pcols = []
        try:
            pcols = partitions.partition_columns(self, tbl)
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
        parts = {raw for raw, _ in partitions.list_partitions(self, tbl)} \
            if pcols else set()
        hit = {p for p, _ in partitions.match_partitions(self, tbl, spec)} \
            if spec and pcols else set()
        rerun = bool(pcols and inc
                     and stats.get(self, tbl).cover is not None)
        # extrapolation tables store ONLY the table-level row count
        # (ComputeStatsStmt: "Updated 1 partition(s)"), never
        # per-partition counts — SHOW TABLE STATS extrapolates them
        # from file sizes instead
        extrap = bool(pcols and not spec and not rerun
                      and self._extrapolation_enabled(tbl))
        # SHOW COLUMN STATS values and per-partition #Rows: one scan
        # with per-column aggregates grouped by (partition) and ()
        # (stats.compute). A partition-scoped compute counts its
        # partitions' rows but does NOT refresh table-level column
        # stats (the reference fills those only on full computes).
        try:
            if spec and pcols:
                stats.compute(self, tbl, self.spark.table(tbl).where(
                    partitions._translate_pred(spec)), [], pcols, hit)
            elif not spec:
                nrows = stats.compute(
                    self, tbl, self.spark.table(tbl), wanted,
                    [] if extrap else pcols, parts)
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
            rec = stats.record(self, tbl)
            if spec:
                n_parts = len(hit)
                rec.cover = (rec.cover or set()) | hit
                rec.rows = sum(rec.parts.values())
                if inc:
                    rec.incremental |= hit
                    try:
                        stats.refresh_incremental(self, tbl, pcols)
                    except (*_SPARK_ANY, KeyError):
                        pass  # sketch cover incomplete
            elif rerun:
                # incremental re-run: only partitions not yet covered
                new = parts - rec.cover
                n_parts = len(new)
                rec.cover = parts
                rec.incremental |= new
                if n_parts == 0:
                    return summary(self.spark, "No partitions selected "
                                   "for incremental stats update.")
            elif extrap:
                n_parts = 1
                rec.cover, rec.incremental = parts, set()
                rec.parts.clear()
            else:
                n_parts = len(parts)
                rec.cover = parts
                # incremental compute marks every partition's cover;
                # a full compute REPLACES incremental stats (flag off)
                rec.incremental = set(parts) if inc else set()
        return summary(self.spark, f"Updated {n_parts} partition(s) and "
                                   f"{len(wanted)} column(s).")

    def _create_like_parquet(self, c) -> DataFrame:
        """CREATE TABLE LIKE PARQUET|ORC 'file': clone the file
        footer's schema into an empty managed table
        (CreateTableLikeFileStmt.java). Unreachable test-warehouse
        paths resolve first against the session warehouse (staged by
        an earlier CTAS — a named file like 000000_0 falls back to any
        data file in the same directory), then by basename against the
        reference's testdata (the files the load scripts would have
        staged)."""
        fmt = c.like_fmt.upper()
        reader = (self.spark.read.orc if fmt == "ORC"
                  else self.spark.read.parquet)
        tbl, path = c.name, sqlscan.unquote(c.like_path)
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
        if c.part:
            cols_ddl += "".join(f", `{n}` {t}" for n, t, _ in c.part if t)
            part = (" PARTITIONED BY ("
                    + ", ".join(f"`{n}`" for n, _, _ in c.part) + ")")
        self.spark.sql(
            f"CREATE TABLE {tbl} ({cols_ddl}) "
            f"USING {fmt.lower()}{part}")
        if c.location and not c.part:
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
        return summary(self.spark, "Table has been created.")

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
                                 cols: list | None = None,
                                 part: list | None = None) -> DataFrame:
        """CREATE/ALTER with `avro.schema.literal`: the AVRO SCHEMA is
        the table schema (AvroSchemaParser/AvroSchemaUtils — names,
        types, and `doc` comments come from the literal), EXCEPT that
        CHAR/VARCHAR column-definition types are kept positionally
        (IMPALA-3687: avro stores them as string; the coldef preserves
        the length). `cols` and `part` are parsed column definitions
        (statements.Create)."""
        import json as _json

        from incubator_impala_spark.sources.avro_io import (
            avro_field_spark_type,
        )

        fields = _json.loads(literal)["fields"]
        cd_types = [t or "" for _, t, _ in cols or []]
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
        self.clear_orphan(tbl)
        self._create_avro_table(tbl, defs, part)
        return summary(self.spark, "Table has been created.")

    def _create_avro_table(self, tbl: str, defs: list,
                           part: list | None) -> list:
        """Create the converted Avro schema `defs` as a managed parquet
        table (the storage format is an engine detail), partitioned by
        the typed partition columns `part`; returns their names."""
        pnames = []
        for n, t, _ in part or []:
            if t:
                defs.append(f"`{n}` {t}")
                pnames.append(n)
        part = (f" PARTITIONED BY ({', '.join(pnames)})"
                if pnames else "")
        self.spark.sql(f"CREATE TABLE {tbl} ({', '.join(defs)}) "
                       f"USING parquet{part}")
        stats.table(self, tbl).avro = True
        return pnames

    def _create_avro(self, c) -> DataFrame:
        """CREATE TABLE ... STORED AS AVRO without an explicit Avro
        schema: the reference infers the Avro schema from the column
        definitions and CONVERTS the table schema to what Avro can
        carry (CreateTableStmt.analyzeAvroSchema, AvroSchemaConverter:
        TINYINT/SMALLINT -> INT, TIMESTAMP -> STRING), stamping 'from
        deserializer' on columns without a comment. The converted
        schema is created as a managed parquet table — the storage
        format is an engine detail."""
        tbl = c.name
        defs = [f"`{n}` {self._avro_type(t)} COMMENT '" + (
                    sqlscan.unquote(cm) if cm else "from deserializer")
                .replace("'", "''") + "'" for n, t, cm in c.cols]
        pnames = self._create_avro_table(tbl, defs, c.part)
        # EXTERNAL ... LOCATION over existing avro container files:
        # adopt the data (avro-schema-changes.test
        # avro_alter_table_add_new_column over tinytable_avro)
        if c.location and not pnames:
            import glob as _glob

            loc = self._resolve_fs_path(sqlscan.unquote(c.location))
            if _glob.glob(os.path.join(loc, "*.avro")):
                from incubator_impala_spark.sources import avro_io

                avro_io.read_avro(self.spark, loc) \
                    .write.insertInto(tbl)
        return summary(self.spark, "Table has been created.")

    def _create_like(self, c) -> DataFrame:
        """CREATE TABLE LIKE: clone the source's schema and partition
        spec into an empty managed parquet table. Partition columns
        come from the catalog when the source is a real table, else
        from the functional schema template's declared partition
        columns (sources/functional.py PARTITIONED_BY)."""
        tbl = c.name
        src = re.sub(r"^functional(_\w+)?\.", "", c.like)
        if tbl.split(".")[-1].lower() == src.split(".")[-1].lower() \
                and self.spark.catalog.tableExists(tbl):
            # self-LIKE of a template target (the harness resolves
            # `functional.X` to the local X): fresh-create semantics
            # without destroying the source — truncate in place
            self.spark.sql(f"TRUNCATE TABLE {tbl}")
            return summary(self.spark, "Table has been created.")
        # the clone inherits the source's layout (CreateTableLikeStmt
        # copies sort.columns — IMPALA-4166); an explicit SORT BY is
        # recorded over it once the CREATE succeeds
        src_sort = stats.peek(self, src).sort
        if src_sort:
            stats.table(self, tbl).sort = src_sort
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
            # temp views carry none
            pcols = partitions.partition_columns(self, src)
            if not pcols:
                from incubator_impala_spark.sources.functional import (
                    PARTITIONED_BY,
                )

                pcols = [c for c in PARTITIONED_BY.get(src.lower(), [])
                         if c in df.columns]
            avro = (c.stored_as or "").upper() == "AVRO"
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
        if c.location and src.split(".")[-1].lower().lstrip("_") in \
                os.path.basename(sqlscan.unquote(c.location)).lower():
            # EXTERNAL ... LOCATION pointing at the source table's own
            # warehouse dir: the new table adopts the existing data
            # files (the reference reads them in place) — populate the
            # clone with the source rows so reads match
            self.spark.table(src).write.insertInto(tbl)
        return summary(self.spark, "Table has been created.")

    def _insert(self, ins) -> DataFrame:
        """INSERT INTO/OVERWRITE via a DataFrame write, returning the
        reference's summary rows: per modified partition
        `k1=v1/k2=v2/: N` (InsertStmt summary as impala-shell prints
        it), or `: N` for an unpartitioned table. The rows are the
        source's as `Insert.project` maps them to the target's columns
        (a static partition value becomes a column, so OVERWRITE under
        Spark's dynamic partition-overwrite replaces exactly that
        partition, matching the reference's static-partition
        overwrite)."""
        from pyspark.sql import functions as F

        tbl = ins.tbl
        # an engine-side write invalidates Hive-computed column stats:
        # the reference clears COLUMN_STATS_ACCURATE on INSERT
        # (clear-statsaccurate.test; CatalogOpExecutor unsets the
        # property Hive's ANALYZE set)
        meta = stats.peek(self, tbl).create
        if meta:
            meta.get("tblproperties", {}).pop("COLUMN_STATS_ACCURATE", None)
        overwrite = ins.overwrite
        src = self.spark.sql(self.translate_query(ins.body))
        ttypes = {f.name: f.dataType.simpleString()
                  for f in self.spark.table(tbl).schema.fields}
        pcols = partitions.partition_columns(self, tbl)
        final = ins.project(src, list(ttypes.items()))
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
            # a few rows: sorted on the driver in Spark's ascending
            # order (NULL first, NaN after every number)
            counts = sorted(
                final.groupBy(*pcols).count().select("*", *[
                    F.col(f"`{c}`").cast("string").alias(f"__dir_{c}")
                    for c in pcols]).collect(),
                key=lambda r: [(r[c] is not None, r[c] != r[c], r[c])
                               for c in pcols])

            # an insert that modified no partition prints nothing
            # (the reference's summary is the per-partition map)
            rows = [(partitions.summary_suffix({c: r[c] for c in pcols})
                     + f"/: {r['count']}",)
                    for r in counts]
            # modified partitions lose their incremental-stats cover
            # (the next COMPUTE INCREMENTAL STATS recounts them), named
            # as their directories are: the key values cast to strings
            touched = {partitions.part_suffix(
                {c: r[f"__dir_{c}"] for c in pcols}) for r in counts}
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
        t = stats.peek(self, table).acid
        if t is not None:
            return t.location
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
            # the directory names the keys in the table's order (a
            # temp-view-backed table names none: the spec's order)
            spec = partitions.fold_spec(self, partition)
            dest = os.path.join(dest, partitions.spec_suffix(
                spec, partitions.partition_columns(self, table)
                or list(spec)))
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
                               f"PARTITION ({partitions.spec_sql(spec)})")
            except AnalysisException:  # path-discovered tables
                pass
        try:
            self.spark.catalog.refreshTable(table)
        except _SPARK_ANY:  # temp-view-backed tables
            pass
        msg = (f"Loaded {len(files)} file(s). "
               f"Total files in destination location: {total}")
        return summary(self.spark, msg)

    def explain(self, sql_text: str, mode: str = "formatted") -> str:
        """EXPLAIN surface (reference: sql-parser.cup:765-775)."""
        import contextlib
        import io

        df = self.sql(sql_text)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()
