"""Database-namespace shim: Impala's db-scoped DDL surface over a
temp-view catalog.

The reference's catalog is a real metastore: databases own tables,
views, and functions, and DDL statements return one-row summaries
(fe/src/main/java/org/apache/impala/service/CatalogOpExecutor.java —
'Database has been created.', 'View has been altered.', ...). This
engine's fixture relations are session temp views (sources/*.py), and
Spark persistent views cannot reference temp views — so db-scoped DDL
is served by a lightweight namespace registry instead:

* An engine-owned database is a dict of objects; an object named
  ``db.name`` is backed by a temp view / managed table whose physical
  name is the mangled ``db__name``.
* ``resolve()`` rewrites qualified references to engine-owned dbs into
  the mangled physical names (literal-safe: matching runs on the
  sqlscan shadow), so SELECT/INSERT/DESCRIBE statements
  flow through the normal engine path unchanged.
* ``handle()`` intercepts the DDL statements themselves — CREATE/DROP
  DATABASE, CREATE/ALTER/DROP VIEW, RENAME, SHOW TABLES/DATABASES,
  USE — and returns the reference's exact summary rows
  (CatalogOpExecutor.java strings; ShowTablesStmt single-column
  output).

Scale note: this is metadata-only surface — no data paths change; a
resolved query is the same declarative Spark plan it always was.
"""

from __future__ import annotations

import re

from incubator_impala_spark import dialect, sqlscan, stats
from incubator_impala_spark.session import rows_df

__all__ = ["Namespaces"]


_CREATE_DB = re.compile(
    r"^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<bq>`?)(?P<name>[A-Za-z_]\w*)(?P=bq)\s*"
    r"(?:COMMENT\s+(?P<q>['\"])(?P<comment>.*?)(?P=q)\s*)?"
    r"(?:LOCATION\s+(?P<lq>['\"])(?P<loc>[^'\"]*)(?P=lq)\s*)?"
    r"(?:MANAGEDLOCATION\s+(?P<mq>['\"])(?P<mloc>[^'\"]*)(?P=mq)\s*)?"
    r"(?:WITH\s+DBPROPERTIES\s*\((?P<props>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE)
_DESCRIBE_DB = re.compile(
    r"^\s*DESCRIBE\s+(?:DATABASE|SCHEMA)\s+"
    r"(?P<ext>EXTENDED\s+|FORMATTED\s+)?"
    r"(?P<bq>`?)(?P<name>[A-Za-z_]\w*)(?P=bq)\s*;?\s*$",
    re.IGNORECASE)
_DROP_DB = re.compile(
    r"^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(?P<ife>IF\s+EXISTS\s+)?"
    r"(?P<bq>`?)(?P<name>[A-Za-z_]\w*)(?P=bq)\s*"
    r"(?P<mode>CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE)
_SHOW_DBS = re.compile(
    r"^\s*SHOW\s+(?:DATABASES|SCHEMAS)"
    r"(?:\s+LIKE)?(?:\s+(?P<q>['\"])(?P<pat>[^'\"]*)(?P=q))?\s*;?\s*$",
    re.IGNORECASE)
_SHOW_TABLES = re.compile(
    r"^\s*SHOW\s+TABLES"
    r"(?:\s+IN\s+(?P<db>[A-Za-z_]\w*))?"
    r"(?:\s+LIKE)?(?:\s+(?P<q>['\"])(?P<pat>[^'\"]*)(?P=q))?\s*;?\s*$",
    re.IGNORECASE)
_USE = re.compile(r"^\s*USE\s+(`?)(?P<name>[A-Za-z_]\w*)\1\s*;?\s*$",
                  re.IGNORECASE)
# CREATE VIEW v [(col [COMMENT 'c'], ...)] AS body / ALTER VIEW ... AS
_CREATE_VIEW = re.compile(
    r"^\s*(?P<op>CREATE|ALTER)\s+VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*"
    r"(?:\((?P<cols>[^()]*(?:\([^()]*\)[^()]*)*)\)\s*)?"
    r"AS\s+(?P<body>[\s\S]+)$",
    re.IGNORECASE)
_RENAME = re.compile(
    r"^\s*ALTER\s+(?P<kind>VIEW|TABLE)\s+"
    r"(?P<src>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s+RENAME\s+TO\s+"
    r"(?P<dst>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*;?\s*$",
    re.IGNORECASE)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<ife>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*;?\s*$",
    re.IGNORECASE)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ife>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*"
    r"(?:PURGE\s*)?;?\s*$",
    re.IGNORECASE)
_CREATE_TABLE_NAME = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)",
    re.IGNORECASE)
# native/Java UDF+UDA DDL (CreateUdfStmt.java / CreateUdaStmt.java).
# The .so binaries are the reference's C++ test UDFs — unloadable
# here, so the DDL is catalog surface only: recorded with its exact
# signature for SHOW FUNCTIONS, never executed.
_CREATE_FN = re.compile(
    r"^\s*CREATE\s+(?P<agg>AGGREGATE\s+)?FUNCTION\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*"
    r"(?:\((?P<args>[^)]*)\)\s*)?"
    r"(?:RETURNS\s+(?P<ret>[A-Za-z_]\w*(?:\([^)]*\))?)\s*)?"
    r"(?:INTERMEDIATE\s+\S+\s*)?"
    r"LOCATION\s+'(?P<loc>[^']*)'"
    r"[\s\S]*$",
    re.IGNORECASE)
_DROP_FN = re.compile(
    r"^\s*DROP\s+(?P<agg>AGGREGATE\s+)?FUNCTION\s+"
    r"(?P<ife>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w]*(?:\.[A-Za-z_]\w*)?)\s*"
    r"(?:\((?P<args>[^)]*)\)\s*)?;?\s*$",
    re.IGNORECASE)
_SHOW_FNS = re.compile(
    r"^\s*SHOW\s+(?P<kind>AGGREGATE\s+|ANALYTIC\s+)?FUNCTIONS"
    r"(?:\s+IN\s+(?P<db>[A-Za-z_]\w*))?"
    r"(?:\s+(?:LIKE\s+)?(?P<q>['\"])(?P<pat>[^'\"]*)(?P=q))?\s*;?\s*$",
    re.IGNORECASE)

# databases the engine serves without a registry entry: the flat
# default plus the fixture workloads' db names (every variant resolves
# to the same fixture views)
STANDING_DBS = {
    "default": "Default Hive database",
    "functional": "",
    "functional_parquet": "",
    "functional_avro": "",
    "functional_seq_snap": "",
    "functional_orc_def": "",
    "tpch": "",
    "tpch_parquet": "",
    "tpcds": "",
    "tpcds_parquet": "",
}


def _sig(name: str, args: str | None) -> str:
    """Impala's function-signature rendering: ``fn(INT, STRING)``,
    varargs ``fn(INT...)`` (Function.java signatureString)."""
    items = []
    for a in (args or "").split(","):
        a = a.strip()
        if not a:
            continue
        var = a.endswith("...")
        a = a[:-3].strip() if var else a
        items.append(a.upper() + ("..." if var else ""))
    return f"{name}({', '.join(items)})"


def impala_pattern(pat: str) -> "re.Pattern":
    """Impala's SHOW pattern grammar: ``*`` matches any sequence, ``|``
    separates full alternatives, matching is case-insensitive and
    anchored (fe/.../analysis/ShowTablesStmt.java → like-pattern)."""
    alts = [re.escape(p).replace(r"\*", ".*") for p in pat.split("|")]
    return re.compile("^(?:" + "|".join(alts or ["$^"]) + ")$",
                      re.IGNORECASE)


class Namespaces:
    """Engine-owned database registry (see module docstring)."""

    def __init__(self):
        # db -> {obj_name: {"kind": "view"|"table"}}
        self.dbs: dict[str, dict[str, dict]] = {}
        self.comments: dict[str, str] = {}   # db -> db comment
        self.locations: dict[str, str] = {}  # db -> custom LOCATION
        self.dbprops: dict[str, dict] = {}   # db -> DBPROPERTIES
        self.current: str | None = None
        # db -> {(name, SIGNATURE): {"ret":, "agg":, "binary":}}
        self.fns: dict[str, dict[tuple, dict]] = {}

    # -- name plumbing --------------------------------------------------

    def mangle(self, db: str, name: str) -> str:
        return f"{db.lower()}__{name.lower()}"

    def phys(self, db: str, obj: str) -> str:
        """Physical (session-catalog) name of a registered object.
        Qualified creations are mangled ``db__name``; unqualified
        creations under USE keep their plain name (they live in the
        flat catalog, the registry only scopes them)."""
        info = self.dbs.get(db, {}).get(obj)
        return info["phys"] if info and "phys" in info \
            else self.mangle(db, obj)

    def register(self, db: str, obj: str, kind: str, phys: str) -> None:
        self.dbs[db][obj] = {"kind": kind, "phys": phys}

    def resolve(self, sql: str) -> str:
        """Rewrite ``db.obj`` (and, under USE, unqualified registered
        names) to mangled physical names. Matching runs on the
        sqlscan shadow so string literals are never touched."""
        if self.dbs:
            # identifier-preserving shadow: a registered db may be
            # spelled `parquet` (backquoted keyword)
            shadow = sqlscan.shadow(sql, idents=False)
            pat = re.compile(
                r"(`?)\b(" + "|".join(map(re.escape, self.dbs)) +
                r")\b\1\.(`?)([A-Za-z_]\w*)\3", re.IGNORECASE)
            out, pos = [], 0
            for m in pat.finditer(shadow):
                out.append(sql[pos:m.start()])
                out.append(self.phys(m.group(2).lower(),
                                     m.group(4).lower()))
                pos = m.end()
            out.append(sql[pos:])
            sql = "".join(out)
        cur = self.current
        if cur and self.dbs.get(cur):
            shadow = sqlscan.shadow(sql)
            # Match a registered name standing alone (relation/identifier
            # position) OR used as a column qualifier (`t.x`, `t.*`) — the
            # qualifier must mangle together with the relation it refers
            # to, else `select t.x from t` leaves an unresolvable `t`.
            # Word-alias occurrences (`from s t`) also match standalone,
            # so qualifier and alias rewrite consistently.
            pat = re.compile(
                r"(?<![\w.`])(" +
                "|".join(map(re.escape, self.dbs[cur])) +
                r")(?:(?=\.[A-Za-z_`*])|(?![\w.(]))", re.IGNORECASE)
            out, pos = [], 0
            for m in pat.finditer(shadow):
                repl = self.phys(cur, m.group(1).lower())
                if repl == m.group(1).lower():
                    continue         # plain-named object: no rewrite
                out.append(sql[pos:m.start()])
                out.append(repl)
                pos = m.end()
            out.append(sql[pos:])
            sql = "".join(out)
        return sql

    def split(self, name: str) -> tuple[str | None, str]:
        """('db', 'obj') for names owned by a registered db — accepts
        both dotted and already-mangled spellings."""
        if "." in name:
            db, obj = name.split(".", 1)
            if db.lower() in self.dbs:
                return db.lower(), obj.lower()
            return None, name.lower()
        for db in self.dbs:
            pref = db + "__"
            if name.lower().startswith(pref):
                return db, name.lower()[len(pref):]
        if self.current and name.lower() in self.dbs.get(self.current, {}):
            return self.current, name.lower()
        return None, name.lower()

    # -- statement handling ---------------------------------------------

    def handle(self, engine, sql_text: str):
        """Intercept namespace DDL on the already-resolve()d text;
        returns a summary DataFrame or None to fall through."""
        spark = engine.spark

        def summary(*rows):
            return rows_df(spark, [(r,) for r in rows], "summary string")

        m = _CREATE_DB.match(sql_text)
        if m:
            name = m.group("name").lower()
            if name in self.dbs:
                if m.group("ine"):
                    return summary("Database already exists.")
                raise ValueError(f"Database already exists: {name}")
            self.dbs[name] = {}
            self.comments[name] = m.group("comment") or ""
            if m.group("loc"):
                self.locations[name] = m.group("loc")
            if m.group("props"):
                self.dbprops[name] = dict(re.findall(
                    r"'([^']*)'\s*=\s*'([^']*)'", m.group("props")))
            # a MANAGEDLOCATION clause is accepted but not displayed:
            # Hive ignores it (HIVE-24175) and the reference's
            # describe-db.test pins the default managed location
            return summary("Database has been created.")
        m = _DROP_DB.match(sql_text)
        if m:
            name = m.group("name").lower()
            if name not in self.dbs:
                if m.group("ife"):
                    return summary("Database does not exist.")
                raise ValueError(f"Database does not exist: {name}")
            if self.dbs[name] and not (m.group("mode") or ""
                                       ).upper() == "CASCADE":
                raise ValueError(
                    f"Cannot drop non-empty database: {name}")
            for obj, info in list(self.dbs[name].items()):
                self._drop_object(engine, name, obj, info)
            del self.dbs[name]
            self.comments.pop(name, None)
            self.locations.pop(name, None)
            self.dbprops.pop(name, None)
            self.fns.pop(name, None)
            if self.current == name:
                self.current = None
            return summary("Database has been dropped.")
        m = _DESCRIBE_DB.match(sql_text)
        if m:
            return self._describe_db(engine, m)
        m = _SHOW_DBS.match(sql_text)
        if m:
            pat = impala_pattern(m.group("pat")) if m.group("pat") \
                else None
            names = sorted(set(self.dbs) | set(STANDING_DBS))
            rows = [(n, self.comments.get(n, STANDING_DBS.get(n, "")))
                    for n in names if pat is None or pat.match(n)]
            return rows_df(spark, rows, "name string, comment string")
        m = _USE.match(sql_text)
        if m:
            name = m.group("name").lower()
            self.current = name if name in self.dbs else None
            return rows_df(spark, [], "status string")
        m = _CREATE_FN.match(sql_text)
        if m:
            return self._create_fn(engine, m)
        m = _SHOW_FNS.match(sql_text)
        if m:
            db = (m.group("db") or self.current or "").lower()
            if db == "_impala_builtins":
                # built-in introspection by Impala signature is oos
                # (this engine's builtins are Spark's); empty listing
                return rows_df(
                    spark, [], "`return type` string, signature string, "
                        "`binary type` string, `is persistent` string")
            if db not in self.fns and db not in self.dbs:
                return None          # built-in listing: dialect path
            want_agg = (m.group("kind") or "").strip().upper()
            rows = []
            pat = impala_pattern(m.group("pat")) if m.group("pat") \
                else None
            for (fname, sig), info in self.fns.get(db, {}).items():
                if want_agg == "AGGREGATE" and not info["agg"]:
                    continue
                if want_agg in ("", None) and info["agg"]:
                    continue
                if want_agg == "ANALYTIC":
                    continue         # UDFs are never analytic
                if pat is not None and not pat.match(fname):
                    continue
                rows.append((info["ret"], sig, info["binary"], "true"))
            schema = ("`return type` string, signature string, "
                      "`binary type` string, `is persistent` string")
            return rows_df(spark, rows, schema)
        m = _DROP_FN.match(sql_text)
        if m:
            db, fname = self.split(m.group("name"))
            db = db or self.current
            if db in self.fns:
                sig = _sig(fname, m.group("args"))
                hits = [k for k in self.fns[db]
                        if k[0] == fname and
                        (m.group("args") is None or k[1] == sig)]
                if hits:
                    for k in hits:
                        del self.fns[db][k]
                    return summary("Function has been dropped.")
            if m.group("ife"):
                return summary("Function does not exist.")
            return None              # built-in drop: dialect path
        m = _SHOW_TABLES.match(sql_text)
        if m:
            db = (m.group("db") or "").lower()
            if not db and self.current:
                db = self.current
            if db in self.dbs:
                # purge entries whose CREATE failed after registration
                # (the record is written before the statement runs)
                reg = self.dbs[db]
                for obj in list(reg):
                    phys = reg[obj].get("phys") or self.mangle(db, obj)
                    if not spark.catalog.tableExists(phys):
                        del reg[obj]
                names = sorted(reg)
            else:
                # flat catalog: session temp views + managed tables,
                # minus the mangled physical names of engine dbs
                names = sorted(
                    t.name for t in spark.catalog.listTables()
                    if self.split(t.name)[0] is None)
            if m.group("pat") is not None:
                pat = impala_pattern(m.group("pat"))
                names = [n for n in names if pat.match(n)]
            return rows_df(spark, [(n,) for n in names], "name string")
        m = _RENAME.match(sql_text)
        if m:
            return self._rename(engine, m)
        m = _CREATE_VIEW.match(sql_text)
        if m:
            return self._create_view(engine, m)
        m = _DROP_VIEW.match(sql_text)
        if m:
            return self._drop_view(engine, m)
        m = _DROP_TABLE.match(sql_text)
        if m:
            return self._drop_table(engine, m)
        m = _CREATE_TABLE_NAME.match(sql_text)
        if m:
            # not intercepted — just recorded, so SHOW TABLES / DROP
            # guards know the object; the engine's normal CREATE path
            # runs it. The matched spelling IS the physical name
            # (qualified references were resolved to mangled form
            # before handle()).
            name = m.group("name")
            db, obj = self.split(name)
            if db is not None:
                self.register(db, obj, "table", name)
            elif self.current and "." not in name:
                self.register(self.current, obj, "table", name)
        return None

    def _describe_db(self, engine, m: re.Match):
        """Impala's DESCRIBE DATABASE [EXTENDED|FORMATTED] output
        (fe/src/main/java/org/apache/impala/analysis/DescribeDbStmt
        .java; result rows shaped by the frontend's
        DescribeResultFactory): 3 string columns (name, location,
        comment); base rows are the db line and the
        ``managedlocation:`` line; EXTENDED adds the owner rows and
        any DBPROPERTIES. Locations display in the reference's
        /test-warehouse notation (partitions._display_location
        convention); a custom CREATE-time LOCATION displays verbatim;
        MANAGEDLOCATION always shows the default (Hive ignores the
        clause — HIVE-24175, pinned by describe-db.test)."""
        import getpass

        name = m.group("name").lower()
        known = name in self.dbs or name in STANDING_DBS
        if not known:
            raise ValueError(f"Database does not exist: {name}")
        comment = self.comments.get(name,
                                    STANDING_DBS.get(name, ""))
        if name == "default":
            ext = "file:/test-warehouse"
            managed = "file:/test-warehouse/managed"
        else:
            loc = self.locations.get(name)
            ext = f"file:{loc}" if loc \
                else f"file:/test-warehouse/{name}.db"
            managed = f"file:/test-warehouse/managed/{name}.db"
        rows = [(name, ext, comment),
                ("managedlocation:", managed, "")]
        if m.group("ext"):
            rows.append(("", getpass.getuser(), "USER"))
            rows.append(("Owner: ", "", ""))
            props = self.dbprops.get(name)
            if props:
                rows.append(("Parameter: ", "", ""))
                rows += [("", k, v) for k, v in sorted(props.items())]
        return rows_df(
            engine.spark, rows, "name string, location string, comment string")

    # -- object ops -----------------------------------------------------

    def _drop_object(self, engine, db: str, obj: str, info: dict):
        phys = info.get("phys") or self.mangle(db, obj)
        if info.get("kind") == "table":
            engine.spark.sql(f"DROP TABLE IF EXISTS {phys}")
        else:
            engine.spark.catalog.dropTempView(phys)

    def _create_fn(self, engine, m: re.Match):
        db, fname = self.split(m.group("name"))
        db = db or self.current or "default"
        sig = _sig(fname, m.group("args"))
        loc = m.group("loc").lower()
        binary = "JAVA" if loc.endswith(".jar") else \
            "IR" if loc.endswith(".ll") else "NATIVE"
        reg = self.fns.setdefault(db, {})
        key = (fname, sig)
        if key in reg:
            if m.group("ine"):
                return rows_df(
                    engine.spark, [("Function already exists.",)],
                    "summary string")
            raise ValueError(f"Function already exists: {sig}")
        # Java UDF type surface (FunctionsUtil / AnalysisException in
        # the reference FE, pinned by java-udf.test blocks 35-36):
        # DATE and TIMESTAMP arguments are rejected at CREATE time
        if binary == "JAVA":
            for a in (m.group("args") or "").split(","):
                t = a.strip().rstrip(".").upper()
                if t in ("DATE", "TIMESTAMP"):
                    raise ValueError(
                        f"AnalysisException: Type {t} is not "
                        f"supported for Java UDFs.")
        ret = (m.group("ret") or "STRING").upper()
        reg[key] = {"ret": ret, "agg": bool(m.group("agg")),
                    "binary": binary}
        # real call-through when the jar is locally resolvable AND the
        # session can host Hive-bridge UDFs (hive catalog): ADD JAR +
        # CREATE TEMPORARY FUNCTION, so load-java-udfs.test's DDL
        # genuinely loads the functions it declares. Plain in-memory
        # sessions keep the catalog-surface-only behavior.
        if binary == "JAVA" and not m.group("agg"):
            import os as _os

            sym = re.search(r"(?i)symbol\s*=\s*'([^']+)'",
                            m.group(0) or "")
            jar = engine._resolve_fs_path(m.group("loc"))
            if sym and _os.path.exists(jar) and engine.spark.conf.get(
                    "spark.sql.catalogImplementation", "in-memory") \
                    == "hive":
                engine.spark.sql(f"ADD JAR file://{jar}")
                # per-signature registrations of one name all map to
                # the same class (overloads resolve at call time)
                engine.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {fname} "
                    f"AS '{sym.group(1)}'")
        return rows_df(
            engine.spark, [("Function has been created.",)], "summary string")

    def _create_view(self, engine, m: re.Match):
        from pyspark.sql import functions as F

        spark = engine.spark
        name = m.group("name")
        db, obj = self.split(name)
        alter = m.group("op").upper() == "ALTER"
        info = self.dbs[db].get(obj) if db is not None else None
        if not alter and info is not None and m.group("ine"):
            return rows_df(
                spark, [("View already exists.",)], "summary string")
        body = m.group("body").strip().rstrip(";")
        # functional fixture qualifiers resolve to the flat views
        # (same convention as the engine's DESCRIBE path); ns.resolve
        # already rewrote registered-db qualifiers, so any surviving
        # functional.* spelling is a fixture reference
        exec_body = body
        if "functional" not in self.dbs:
            exec_body = dialect._shadow_sub(
                re.compile(r"\bfunctional(_\w+)?\.", re.IGNORECASE),
                "", body)
        df = spark.sql(engine.translate(exec_body))
        # explicit column list: rename positionally, carry COMMENTs;
        # otherwise strip inherited metadata (a view does not inherit
        # base-column comments — CreateOrAlterViewStmtBase.java)
        sel = []
        cols = m.group("cols")
        items = sqlscan.split_top(cols) if cols else None
        for i, f0 in enumerate(df.schema.fields):
            # backtick-quote: derived-expression column names contain
            # dots/parens that F.col would parse as path steps
            col = F.col("`" + f0.name.replace("`", "``") + "`")
            if items is not None and i < len(items):
                cm = re.match(
                    r"\s*(`?)([A-Za-z_]\w*)\1"
                    r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*$",
                    items[i], re.IGNORECASE)
                newname = cm.group(2) if cm else f0.name
                comment = (cm.group(3) or "").replace("''", "'") \
                    if cm else ""
            else:
                newname, comment = f0.name, ""
            sel.append(col.alias(newname,
                                 metadata={"comment": comment}))
        out = df.select(sel)
        if db is not None:
            phys = self.phys(db, obj)
        elif self.current:
            db, phys = self.current, obj
        else:
            phys = obj
        out.createOrReplaceTempView(phys)
        if db is not None:
            self.register(db, obj, "view", phys)
        msg = "View has been altered." if alter else \
            "View has been created."
        return rows_df(spark, [(msg,)], "summary string")

    def _rename(self, engine, m: re.Match):
        spark = engine.spark
        src, dst = m.group("src"), m.group("dst")
        sdb, sobj = self.split(src)
        info = self.dbs[sdb].get(sobj) if sdb is not None else None
        if info is None:
            if not spark.catalog.tableExists(src):
                return None  # unknown object: fall through to Spark
            info = {"kind": "table", "phys": src}
        ddb, dobj = self.split(dst)
        if ddb is not None:
            new = self.mangle(ddb, dobj)
        elif "." not in dst and self.current:
            ddb, dobj, new = self.current, dst.lower(), dst
        else:
            ddb, dobj, new = None, dst.lower(), dst
        old = info.get("phys") or self.mangle(sdb, sobj)
        if info.get("kind") == "table":
            if not spark.catalog.tableExists(new):
                # clear an orphan warehouse dir left by an earlier
                # aborted run — Spark refuses to rename onto it
                import os
                import shutil

                wh = re.sub(r"^file:", "", spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"))
                shutil.rmtree(
                    os.path.join(wh, new.split(".")[-1].lower()),
                    ignore_errors=True)
            spark.sql(f"ALTER TABLE {old} RENAME TO {new}")
            try:
                if any(c.isPartition
                       for c in spark.catalog.listColumns(new)):
                    # catalog rename loses partition entries; rebuild
                    spark.sql(f"MSCK REPAIR TABLE {new}")
            except Exception:  # noqa: BLE001
                pass
        else:
            df = spark.table(old)
            spark.catalog.dropTempView(old)
            df.createOrReplaceTempView(new)
        if sdb is not None:
            self.dbs[sdb].pop(sobj, None)
        if ddb is not None:
            self.register(ddb, dobj, info.get("kind", "table"), new)
        # stats and partition formats follow the table through a
        # rename (the catalog carries them in the reference)
        stats.rename(engine, old, new)
        okey, nkey = stats.key(engine, old), stats.key(engine, new)
        for (t, suffix) in list(engine.part_formats):
            if t == okey:
                engine.part_formats[(nkey, suffix)] = \
                    engine.part_formats.pop((t, suffix))
        return rows_df(
            spark, [("Renaming was successful.",)], "summary string")

    def _drop_view(self, engine, m: re.Match):
        spark = engine.spark
        db, obj = self.split(m.group("name"))
        info = self.dbs[db].get(obj) if db is not None else None
        if info is None:
            phys = self.mangle(db, obj) if db is not None else obj
            if db is None and spark.catalog.dropTempView(phys):
                return rows_df(
                    spark, [("View has been dropped.",)], "summary string")
            if m.group("ife"):
                return rows_df(
                    spark, [("View does not exist.",)], "summary string")
            raise ValueError(f"View does not exist: {m.group('name')}")
        if info.get("kind") == "table":
            if m.group("ife"):
                return rows_df(
                    spark, [("Drop view is not allowed on a table.",)],
                    "summary string")
            raise ValueError("DROP VIEW not allowed on a table: "
                             f"{m.group('name')}")
        self._drop_object(engine, db, obj, info)
        del self.dbs[db][obj]
        return rows_df(spark, [("View has been dropped.",)], "summary string")

    def _drop_table(self, engine, m: re.Match):
        spark = engine.spark
        name = m.group("name")
        db, obj = self.split(name)
        info = self.dbs[db].get(obj) if db is not None else None
        if db is not None and info is not None \
                and info.get("kind") == "view":
            if m.group("ife"):
                return rows_df(
                    spark, [("Drop table is not allowed on a view.",)],
                    "summary string")
            raise ValueError("DROP TABLE not allowed on a view: "
                             f"{name}")
        phys = (info or {}).get("phys") or \
            (self.mangle(db, obj) if db is not None else name)
        exists = spark.catalog.tableExists(phys)
        if not exists:
            if m.group("ife"):
                if db is None and "." in name:
                    dbpart = name.split(".", 1)[0].lower()
                    if dbpart not in STANDING_DBS \
                            and not spark.catalog.databaseExists(dbpart):
                        return rows_df(
                            spark, [(f"Database does not exist: {dbpart}",)],
                            "summary string")
                return rows_df(
                    spark, [("Table does not exist.",)], "summary string")
            # fall through to Spark for its native error
            return None
        spark.sql(f"DROP TABLE {phys}")
        if db is not None:
            self.dbs[db].pop(obj, None)
        return rows_df(spark, [("Table has been dropped.",)], "summary string")
