"""One statement classifier and one dispatch table.

The reference parses a statement once and picks its execution path in
one place: `Frontend.doCreateExecRequest` over a `StatementBase`
(SURVEY.md §3, entry point C). Here `classify` reads a statement's
head once, on its `sqlscan` shadow with leading comments skipped, into
a `Stmt`: its kind, target table and that table's catalog record.
`ROWS` maps each kind to its pre-statement hooks and its handler;
`Engine.sql` runs the three.

* Heads are matched only here. A handler gets the parts of what
  follows the head (`Stmt.tail`, matched with `sqlscan.match`, so a
  parenthesized list such as a PARTITION spec nests; the statement is
  resolved to engine-owned database names once, in `classify`); a
  None from it runs the statement as a query.
* A CREATE TABLE's clauses are read once, by `parse_create`, into a
  `Create` every consumer reads; `Create.spark` is its Spark spelling.
* For INSERT, TRUNCATE, ALTER TABLE, DROP STATS, REFRESH, DROP TABLE
  and DROP VIEW the target's record picks the ACID variant
  (`acid.handle`).
* A hook runs only for the kinds whose result it can change.
* Handlers are looked up when a row runs, so a wrapper installed on
  `Engine._insert`, `acid.handle` and the like is the one called.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from incubator_impala_spark import (
    acid, altertable, avro_stale, dialect, grants, mixedformat, namespaces,
    partitions, scan_errors, showcreate, sqlscan, stats)
from incubator_impala_spark.session import rows_df


# a table name: backticked or bare parts, dot-separated
_TARGET = r"(?:`[^`]*`|\w+)(?:\.(?:`[^`]*`|\w+))*"


@dataclass
class Stmt:
    kind: str
    row: "Row"
    text: str            # from the head on; acid.prepare may rewrite it
    lead: str            # the comments and blanks before the head
    head: re.Match       # the row's match on the shadow of `text`
    target: str | None = None
    record: stats.TableRecord | None = None
    resolved: str = ""   # `text`, engine-owned database names resolved
    before: str = ""     # what precedes the head's keywords in `resolved`
    tail: str = ""       # what follows the head's keywords in `resolved`
    after: str = ""      # what follows the head (and target) in `resolved`
    name: str | None = None  # `target`, resolved
    resolver: Callable = str  # what resolved it
    create: "Create | None" = None  # parse_create's parts, once read

    def resolve(self, resolve=str, text: str | None = None) -> None:
        """Set `text` and resolve it once with `resolve` (the engine's
        `Namespaces.resolve`). The head's keywords name no table and
        stay as written; a WITH list before an INSERT is resolved with
        the rest."""
        if text is not None:
            self.text = text
        self.resolver, self.create = resolve, None
        self.name = self.target and resolve(self.target)
        s, e = self.head.span("kw")
        h = self.head.end()
        self.before = resolve(self.text[:s]) if s else ""
        self.after = resolve(self.text[h:])
        self.tail = (resolve(self.text[e:h]) if h > e else "") + self.after
        self.resolved = self.before + self.text[s:e] + self.tail

    def group(self, name: str) -> str | None:
        """A group of the head match, sliced from `text`; None when
        the row's head has no such group or it did not take part."""
        if name not in self.head.re.groupindex:
            return None
        s, e = self.head.span(name)
        return self.text[s:e] if s >= 0 else None

    @property
    def acid(self):
        """The target's ACID state, when it is a transactional table."""
        return self.record.acid if self.record is not None else None

    @property
    def rest(self) -> str:
        """What follows the head's keywords, as written."""
        return self.text[self.head.end("kw"):]


# ---------------------------------------------------------------------
# hooks
# ---------------------------------------------------------------------

def _overlays(engine, stmt):
    engine._refresh_overlays()


def _acid_views(engine, stmt):
    if any(rec.acid or rec.rowid for rec in engine.tables.values()):
        text = acid.prepare(engine, stmt.text)
        if text != stmt.text:
            stmt.resolve(engine.ns.resolve, text)


def _mixed(scan: bool):
    """Mixed-format tables: the tables a statement reads get their
    dispatch views; DDL, writes and an INSERT's target drop them and
    act on the catalog table."""
    def hook(engine, stmt):
        if any(rec.mixed for rec in engine.tables.values()):
            mixedformat.refresh_views(engine, stmt.text, scan, stmt.record)

    return hook


def _scan_checks(engine, stmt):
    checks = engine.scan_checks
    if not checks or not (engine.abort_on_error
                          or any(c.get("always") for c in checks.values())):
        return
    # the target of an INSERT (not one led by WITH) is a sink, not a scan
    sink = stmt.kind == "insert" and stmt.target and not stmt.head.start()
    scan_errors.check_query(engine, stmt.text,
                            stmt.head.end("target") if sink else 0,
                            reads=stmt.kind in ("query", "insert"))


def _avro_stale(engine, stmt):
    if any(v["state"] == "stale" for v in engine.avro_stale.values()):
        avro_stale.check_query(engine, stmt.resolved)


# statements that name tables without reading rows; statements that
# write rows; statements that read them (an INSERT reads its sources)
DDL = (_overlays, _acid_views, _mixed(False), _scan_checks)
WRITE = DDL + (_avro_stale,)
READ = (_overlays, _acid_views, _mixed(True), _scan_checks, _avro_stale)


# ---------------------------------------------------------------------
# handlers: (engine, Stmt, parts match) -> DataFrame, or None to run
# the statement as a query
# ---------------------------------------------------------------------

def query(engine, stmt, m=None):
    """The default row: the statement as a query."""
    return engine._query(stmt.lead + stmt.resolved)


def _set(engine, stmt, m):
    engine.set_option(stmt.group("name"), stmt.group("value").strip("'\""))
    return engine.spark.sql("SELECT 1 AS status")


def _explain(engine, stmt, m):
    # runs BEFORE namespace resolution: the renderer needs the query's
    # original db-qualified spellings for node labels and the
    # missing-stats header
    from incubator_impala_spark import impala_explain

    lines = impala_explain.render_explain(engine, stmt.rest,
                                          engine.explain_level)
    return rows_df(engine.spark, [(ln,) for ln in lines],
                   "explain_string string")


def _create_drop(inner):
    """A CREATE or DROP of a table or view, run by `inner`. It replaces
    the object's catalog record only when it takes effect: the record
    goes before the statement runs and comes back when the statement
    fails or the dropped object is still there, and an IF NOT EXISTS
    no-op over an existing object keeps it (the reference reflects the
    actual catalog). A CREATE that takes effect records its SHOW
    CREATE facets and SORT BY; a DROP TABLE first clears the
    warehouse directories of a table neither the catalog nor a record
    knows."""
    def run(engine, stmt, m):
        if stmt.target is None:
            return inner(engine, stmt)
        name = stmt.name.replace("`", "")
        create = stmt.kind.startswith("create")
        if create and stmt.group("ine"):
            try:
                if engine.spark.catalog.tableExists(name) \
                        or stmt.acid is not None:
                    return inner(engine, stmt)
            except AnalysisException:  # unresolvable name: create
                pass
        elif stmt.kind == "drop_table":
            engine.clear_orphan(name)
            acid.clear_orphan(engine, stmt.name)
        old = stats.drop(engine, name)
        try:
            out = inner(engine, stmt)
            if out is None:
                out = query(engine, stmt)
        except Exception:
            stats.put(engine, name, old)
            raise
        if create:
            showcreate.record_create(engine, stmt)
        elif engine.spark.catalog.tableExists(name):
            # a DROP that left the object in place (DROP VIEW IF EXISTS
            # naming a table)
            stats.put(engine, name, old)
        return out

    return run


def _first(*handlers):
    """The first of `handlers` that does not return None."""
    def run(engine, stmt, m):
        for h in handlers:
            out = h(engine, stmt)
            if out is not None:
                return out
        return None

    return run


# what follows an INSERT's target: the optional column permutation and
# PARTITION clause, then the source (reference InsertStmt.java)
_INSERT_PARTS = re.compile(
    r"\s*(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?"
    r"(?P<body>(?:SELECT|WITH|VALUES)\b[\s\S]*)?$",
    re.IGNORECASE)
_WITH = re.compile(r"\s*WITH\b", re.IGNORECASE)
_INSERT_WORD = re.compile(r"\binsert\b", re.IGNORECASE)


def _insert_at(text: str) -> int | None:
    """Where the INSERT of a statement that opens with a WITH list
    starts (at paren depth 0); None when there is none."""
    if not _WITH.match(text):
        return None
    im = _INSERT_WORD.search(sqlscan.top_level(text))
    return im.start() if im else None


@dataclass
class Insert:
    """An INSERT's parts; `body` is its source as one SELECT (VALUES
    wrapped, a leading WITH list folded in, one all-default row for
    `insert into t()`)."""
    tbl: str
    overwrite: bool
    cols: list | None
    static: dict
    dyn: list
    body: str

    def project(self, src, target: list):
        """The source's rows as the target's columns (`target`, its
        (name, type) pairs in table order), by InsertStmt's rules, for
        every writer: the source gives the permutation's columns, then
        the dynamic partition keys; without a permutation, every column
        no static value sets, in table order. A source that gives more
        or fewer columns is an error. A static value is an Impala
        expression; a column nothing gives is NULL."""
        static = {k: dialect.rewrite_char_casts(v)
                  for k, v in self.static.items()}
        if self.cols is not None:
            listed = self.cols + self.dyn
        else:
            listed = [c.lower() for c, _ in target
                      if c.lower() not in static]
        if listed:
            src = src.toDF(*listed)
        out = []
        for c, ty in target:
            k = c.lower()
            col = (F.expr(static[k]) if k in static
                   else F.col(k) if k in listed else F.lit(None))
            out.append(col.cast(ty).alias(c))
        return src.select(out)


def parse_insert(stmt: Stmt) -> Insert | None:
    """The parts of an INSERT (a classified `Stmt`) from what follows
    its target, parsed with plan hints stripped (the reference allows
    /*+ clustered,shuffle */ between the target and the select); None
    when it does not parse."""
    m = stmt.name and sqlscan.match(
        _INSERT_PARTS, dialect.strip_plan_hints(stmt.after))
    if not m:
        return None
    spec = partitions.parse_spec(m.group("part"))
    cols = m.group("cols")
    if cols is not None:    # () is a valid EMPTY permutation
        cols = [c.strip("`").lower() for c in sqlscan.split_top(cols)]
    body = m.group("body") or "select 1 as __dummy__"
    if re.match(r"(?i)\s*values\b", body):
        body = "select * from (" + body + ") __v"
    cte = dialect.strip_plan_hints(stmt.before).strip()
    if cte:
        # `with t1 as (..) insert .. [with t2 as (..)] select` — fold
        # the prefix CTEs into the body's WITH list
        bm = _WITH.match(body)
        body = cte + (", " + body[bm.end():] if bm else " " + body)
    return Insert(stmt.name, stmt.group("mode").upper() == "OVERWRITE",
                  cols, {k: v for k, v in spec.items() if v is not None},
                  [k for k, v in spec.items() if v is None], body)


def _insert(engine, stmt, m):
    ins = parse_insert(stmt)
    if ins is None:
        return None
    if stmt.acid is not None:
        return acid.handle(engine, stmt, ins)
    return engine._insert(ins)


# ---------------------------------------------------------------------
# CREATE TABLE
# ---------------------------------------------------------------------

_LIT = r"(?:'[^']*'|\"[^\"]*\")"   # a literal, on the shadow
# one clause after the column list, in any order (sql-parser.cup
# create_tbl_stmt, tbl_def_with(out)_col_defs, tbl_options; Spark's
# USING and OPTIONS as well); a clause that opens a parenthesized list
# ends at its `(`
_CLAUSE = re.compile(
    r"\s*(?:(?P<part>PARTITIONED\s+BY\s*\()"
    r"|(?P<sort>SORT\s+BY\s*(?:(?P<ord>ZORDER|LEXICAL)\s*)?\()"
    rf"|COMMENT\s+(?P<comment>{_LIT})"
    r"|(?P<row_format>ROW\s+FORMAT\s+DELIMITED"
    rf"(?:\s+FIELDS\s+TERMINATED\s+BY\s+(?P<sep>{_LIT}))?"
    rf"(?:\s+ESCAPED\s+BY\s+(?P<esc>{_LIT}))?"
    rf"(?:\s+LINES\s+TERMINATED\s+BY\s+(?P<lin>{_LIT}))?)"
    r"|(?P<serde>(?:WITH\s+SERDEPROPERTIES|OPTIONS)\s*\()"
    r"|STORED\s+AS\s+(?P<stored_as>\w+)|USING\s+(?P<using>\w+)"
    r"|(?P<clustered>CLUSTERED\s+BY\s*\([^)]*\)"
    r"(?:\s*SORTED\s+BY\s*\([^)]*\))?\s*INTO\s+\d+\s+BUCKETS)"
    rf"|LOCATION\s+(?P<location>{_LIT})"
    r"|(?P<tblprops>TBLPROPERTIES\s*\()"
    rf"|LIKE\s+(?:(?P<like_fmt>PARQUET|ORC)\s+(?P<like_path>{_LIT})"
    rf"|(?P<like>{_TARGET}))"
    r"|(?P<body>AS\b))", re.IGNORECASE)
# one column: name, type, COMMENT; a partition column may be a name
_COLUMN = re.compile(
    r"(?P<name>`[^`]*`|\w+)(?:\s+(?P<type>\S.*?))??"
    rf"(?:\s+COMMENT\s+(?P<comment>{_LIT}))?\s*$",
    re.IGNORECASE | re.DOTALL)
_PROPERTY = re.compile(rf"({_LIT})\s*=\s*({_LIT})")
_PROVIDERS = {"parquet": "parquet", "parquetfile": "parquet",
              "orc": "orc", "orcfile": "orc", "avro": "avro",
              "avrofile": "avro", "textfile": "csv", "rcfile": "csv",
              "sequencefile": "csv"}
# text-table semantics on Spark's csv source: whitespace kept verbatim
# (the csv writer trims by default), NULL spelled \N (the reference's
# text null sequence), so '' and NULL stay distinct (Spark's csv
# writes '' quoted and reads it back as '')
_TEXT_OPTIONS = ("ignoreLeadingWhiteSpace='false', "
                 "ignoreTrailingWhiteSpace='false', nullValue='\\\\N'")


def properties(raw: str | None) -> dict:
    """The `'k'='v', ...` pairs of a property list, each as written
    without its quotes."""
    sh = sqlscan.shadow(raw or "")
    return {sqlscan.unquote(raw[m.start(1):m.end(1)]):
            sqlscan.unquote(raw[m.start(2):m.end(2)])
            for m in _PROPERTY.finditer(sh)}


def _columns(raw: str) -> list | None:
    """(name, type or None, COMMENT literal or None) per item."""
    out = []
    for item in sqlscan.split_top(raw, angle=True):
        m = sqlscan.match(_COLUMN, item)
        if m is None:
            return None
        out.append((sqlscan.unquote(m.group("name")), m.group("type"),
                    m.group("comment")))
    return out


@dataclass
class Create:
    """A CREATE TABLE's parts (CreateTableStmt / TableDef): names and
    types as written, literals with their quotes, property lists as
    the text between their parens, the target, LIKE source and CTAS
    query resolved."""
    name: str
    external: bool = False
    ine: bool = False
    cols: list | None = None        # [(name, type, comment)]
    part: list | None = None        # [(name, type or None, comment)]
    sort: tuple | None = None       # ([names], 'LEXICAL' | 'ZORDER')
    comment: str | None = None
    row_format: dict | None = None  # {'sep'|'esc'|'lin': literal}
    serde: str | None = None        # or Spark's OPTIONS
    stored_as: str | None = None
    using: str | None = None        # Spark's provider
    clustered: str | None = None
    location: str | None = None
    tblprops: str | None = None
    like: str | None = None
    like_fmt: str | None = None
    like_path: str | None = None
    body: str | None = None

    @property
    def props(self) -> dict:
        """SERDEPROPERTIES and TBLPROPERTIES, keys lower-cased."""
        return {k.lower(): v for raw in (self.serde, self.tblprops)
                for k, v in properties(raw).items()}

    def _provider(self) -> tuple[str | None, str | None]:
        """(Spark provider, OPTIONS text). Spark's USING is kept. ROW
        FORMAT DELIMITED makes a text table the csv source with its
        delimiters; another STORED AS format drops them. WITH
        SERDEPROPERTIES are the OPTIONS otherwise. With neither clause nor STORED AS, a table of
        scalar columns takes Impala's TEXT default ('\\x01' fields);
        DATE and TIMESTAMP columns keep Spark's parquet default (the
        csv source rebases pre-Gregorian values), so do complex types
        (csv cannot store them), CTAS and LIKE."""
        fmt = self.stored_as and self.stored_as.lower()
        rf = self.row_format
        if self.using:
            return self.using, self.serde
        if rf is not None and fmt in (None, "textfile"):
            return "csv", ", ".join(
                [_TEXT_OPTIONS] + [f"{o}={rf[k]}" for k, o in
                                   (("sep", "sep"), ("esc", "escape"))
                                   if k in rf])
        options = self.serde if rf is None else None
        if fmt is not None:
            return _PROVIDERS.get(fmt), options
        types = [t or "" for _, t, _ in (self.cols or []) +
                 (self.part or [])]
        if options is None and rf is None and self.cols \
                and self.body is None and self.like is None \
                and not any("<" in t or re.search(
                    r"(?i)\b(date|timestamp)\b", t) for t in types):
            return "csv", f"sep='\x01', {_TEXT_OPTIONS}"
        return None, options

    def spark(self, body: str | None = None) -> str | None:
        """Spark's CREATE TABLE for these parts (`body` in place of the
        CTAS query): the provider and OPTIONS from STORED AS, ROW
        FORMAT, SERDEPROPERTIES or the TEXT default; typed partition
        columns join the column list and PARTITIONED BY names them;
        SORT BY is a layout hint and is left out; EXTERNAL without
        LOCATION is a managed table. None for LIKE PARQUET|ORC,
        which Spark cannot spell."""
        if self.like_fmt:
            return None
        out = ["CREATE " + ("EXTERNAL " if self.external and self.location
                            else "") + "TABLE "
               + ("IF NOT EXISTS " if self.ine else "") + self.name]
        if self.like:
            out.append(f"LIKE {self.like}")
        cols, names = list(self.cols or []), None
        if self.part:
            cols += [p for p in self.part if p[1]]
            names = ", ".join(_quote(p[0]) for p in self.part)
        if cols:
            out.append("(" + ", ".join(
                f"{_quote(n)} {t or ''}"
                + (f" COMMENT {c}" if c else "") for n, t, c in cols) + ")")
        provider, options = self._provider()
        if provider:
            out.append(f"USING {provider}")
        elif self.stored_as:
            out.append(f"STORED AS {self.stored_as}")
        if options is not None:
            out.append(f"OPTIONS ({options})")
        if names:
            out.append(f"PARTITIONED BY ({names})")
        for kw, v in (("", self.clustered), ("COMMENT ", self.comment),
                      ("LOCATION ", self.location)):
            if v:
                out.append(kw + v)
        if self.tblprops is not None:
            out.append(f"TBLPROPERTIES ({self.tblprops})")
        body = body or self.body
        if body is not None:
            out.append(f"AS {body}")
        return " ".join(out)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def parse_create(stmt: Stmt) -> Create | None:
    """The parts of a CREATE TABLE (a classified `Stmt`), read once
    from what follows its target as written; the LIKE source and the
    CTAS query are resolved as the statement is. None when it does
    not parse: an unknown or repeated clause, an unclosed list."""
    if stmt.create is not None or stmt.kind != "create_table" \
            or stmt.name is None:
        return stmt.create
    text = stmt.text[stmt.head.end():]
    sh = sqlscan.shadow(text, idents=False)
    c = Create(stmt.name, bool(stmt.group("ext")), bool(stmt.group("ine")))
    pos, seen = 0, set()
    m = re.match(r"\s*\(", sh)
    if m:
        end = sqlscan.close_paren(sh, m.end() - 1)
        c.cols = end > 0 and _columns(text[m.end():end])
        if not c.cols:
            return None
        pos = end + 1
    while not re.fullmatch(r"\s*;?\s*", sh[pos:]):
        m = _CLAUSE.match(sh, pos)
        if m is None:
            return None
        key = next(k for k in ("part", "sort", "comment", "row_format",
                               "serde", "stored_as", "using", "clustered",
                               "location", "tblprops", "like_fmt",
                               "like", "body") if m.group(k))
        clause = {"like_fmt": "like", "using": "stored_as"}.get(key, key)
        if clause in seen:
            return None
        seen.add(clause)
        pos = m.end()
        if key == "body":
            end = len(sh[pos:].rstrip().rstrip(";").rstrip()) + pos
            c.body = stmt.resolver(text[pos:end].strip())
            break
        if sh[pos - 1] == "(":
            end = sqlscan.close_paren(sh, pos - 1)
            if end < 0:
                return None
            inner, pos = text[m.end():end], end + 1
            if key == "part":
                c.part = _columns(inner)
                # typed (Hive) or name-only (CTAS, Spark), not both
                if not c.part or len({t is None for _, t, _ in c.part}) > 1:
                    return None
            elif key == "sort":
                c.sort = ([sqlscan.unquote(n)
                           for n in sqlscan.split_top(inner)],
                          (m.group("ord") or "LEXICAL").upper())
            else:
                setattr(c, key, inner)
        elif key == "row_format":
            c.row_format = {k: text[m.start(k):m.end(k)]
                            for k in ("sep", "esc", "lin") if m.group(k)}
        else:   # one literal or word; LIKE PARQUET|ORC takes a path
            for k in (key, "like_path"):
                if m.group(k) is not None:
                    setattr(c, k, text[m.start(k):m.end(k)])
    if c.like:
        c.like = stmt.resolver(c.like)
    stmt.create = c
    return c


# ---------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------

@dataclass
class Row:
    kind: str
    head: re.Pattern      # the keywords (group `kw`), then the target
    handler: Callable     # (engine, Stmt, parts) -> DataFrame | None
    hooks: tuple = ()
    parts: re.Pattern | None = None   # over `Stmt.tail` (sqlscan.match)
    acid: bool = False    # the target's ACID state picks acid.handle
    # (Stmt) -> the statement's Spark spelling (dialect.py), for what
    # the handler leaves to Spark; None runs it as a query
    spark: Callable | None = None

    def __call__(self, engine, stmt):
        if self.acid and stmt.acid is not None:
            return acid.handle(engine, stmt)
        m = sqlscan.match(self.parts, stmt.tail) if self.parts else None
        out = None if self.parts and m is None else \
            self.handler(engine, stmt, m)
        if out is None:
            text = self.spark and self.spark(stmt)
            out = engine._run(text) if text else query(engine, stmt)
        return out


# a parts pattern skips the target (`_SKIP`), its handler takes
# `Stmt.name`
_NAME = f"(?P<target>{_TARGET})"
_SKIP = r"\s+" + _TARGET
_IF = r"\s+(?P<ine>IF\s+(?:NOT\s+)?EXISTS\s+)?" + _NAME
_T = r"\s+" + _NAME
_END = r"\s*;?\s*$"
_ONLY = _SKIP + _END   # the target, nothing after it


def _row(kind, head, handler=query, hooks=(), target=None, parts=None,
         acid=False, spark=None):
    pat = f"(?P<kw>{head})" + (f"(?:{target})?" if target else "")
    return Row(kind, re.compile(pat, re.IGNORECASE), handler, hooks,
               parts and re.compile(parts, re.IGNORECASE), acid, spark)


def _spell(template):
    """A row's Spark spelling: `template` filled with the target
    (`Stmt.name`) when nothing follows it; None otherwise."""
    return lambda stmt: stmt.name and re.match(_ONLY, stmt.tail) \
        and template.format(stmt.name)


def _refresh(stmt):
    """REFRESH t and INVALIDATE METADATA [t] (ResetMetadataStmt): Spark
    has no loaded-vs-unloaded catalog state to invalidate, so both are
    its metadata refresh; the global form flushes the whole cache."""
    if stmt.group("inv") and re.fullmatch(_END, stmt.tail):
        return "CLEAR CACHE"
    return _spell("REFRESH TABLE {0}")(stmt)


def _ns(name: str, parts: str, registry: str = "ns"):
    """Keywords for a row served by method `name` of an engine-owned
    registry (`engine.ns`, namespaces.py, or `engine.grants`,
    grants.py), over the parts `parts` parses."""
    return dict(parts=parts, handler=lambda e, s, m: getattr(
        getattr(e, registry), name)(e, s, m))


def _auth(name: str, parts: str):
    return _ns(name, parts, "grants")


_INSERT_ROW = _row("insert", r"INSERT\b", _insert, READ,
                   r"\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?" + _NAME)

ROWS = [
    _row("set_all", r"SET\s+ALL\s*;?\s*$", lambda e, s, m: e._set_all()),
    _row("set", r"SET\s+(?P<name>[A-Za-z_][\w.]*)\s*=\s*(?P<value>.+?)"
         r"\s*;?\s*$", _set),
    _row("explain", r"EXPLAIN\s+(?=(?:SELECT|WITH|VALUES|INSERT|CREATE)\b)",
         _explain),
    _row("show_create", r"SHOW\s+CREATE\s+(?:TABLE|VIEW)\b",
         lambda e, s, m: showcreate.handle(e, s.rest), DDL),
    _row("create_table", r"CREATE\s+(?P<ext>EXTERNAL\s+)?TABLE\b",
         _create_drop(lambda e, s: e._create_table(s)), DDL, _IF,
         spark=lambda s: (c := parse_create(s)) and c.spark()),
    _row("create_view", r"CREATE\s+(?:EXTERNAL\s+)?VIEW\b",
         _create_drop(lambda e, s: e.ns.create_view(e, s)), DDL, _IF),
    _row("drop_table", r"DROP\s+(?:EXTERNAL\s+)?TABLE\b",
         _create_drop(lambda e, s: e.ns.drop_table(e, s)), DDL, _IF,
         acid=True),
    _row("drop_view", r"DROP\s+(?:EXTERNAL\s+)?VIEW\b",
         _create_drop(lambda e, s: e.ns.drop_view(e, s)), DDL, _IF,
         acid=True),
    _row("analyze", r"ANALYZE\b", lambda e, s, m: e._analyze(s), READ),
    _row("create_db", r"CREATE\s+(?:DATABASE|SCHEMA)\b",
         **_ns("create_db", namespaces.CREATE_DB)),
    _row("drop_db", r"DROP\s+(?:DATABASE|SCHEMA)\b",
         **_ns("drop_db", namespaces.DROP_DB)),
    _row("show_dbs", r"SHOW\s+(?:DATABASES|SCHEMAS)\b",
         **_ns("show_dbs", namespaces.SHOW_DBS)),
    _row("use", r"USE\b", **_ns("use", namespaces.USE)),
    _row("create_function", r"CREATE\s+(?P<agg>AGGREGATE\s+)?FUNCTION\b",
         **_ns("create_fn", namespaces.CREATE_FN),
         spark=lambda s: dialect.create_function_stmt(s.tail)),
    _row("show_functions",
         r"SHOW\s+(?P<fkind>AGGREGATE\s+|ANALYTIC\s+)?FUNCTIONS\b",
         **_ns("show_fns", namespaces.SHOW_FNS),
         spark=lambda s: dialect.show_functions_stmt(s.tail)),
    _row("drop_function", r"DROP\s+(?:AGGREGATE\s+)?FUNCTION\b",
         **_ns("drop_fn", namespaces.DROP_FN),
         spark=lambda s: dialect.drop_function_stmt(s.tail)),
    _row("show_tables", r"SHOW\s+TABLES\b",
         **_ns("show_tables", namespaces.SHOW_TABLES)),
    _row("alter_view", r"ALTER\s+VIEW\b", _first(
        lambda e, s: e.ns.rename(e, s),
        lambda e, s: e.ns.create_view(e, s)), DDL, _T),
    _row("alter_table", r"ALTER\s+TABLE\b", _first(
        lambda e, s: e.ns.rename(e, s), lambda e, s: avro_stale.alter(e, s),
        lambda e, s: altertable.handle(e, s),
        lambda e, s: e._set_column_stats(s)), DDL, _T, acid=True),
    _row("show_partitions", r"SHOW\s+PARTITIONS\b",
         lambda e, s, m: partitions.show_partitions(e, s.name),
         DDL, _T, parts=_ONLY),
    # SHOW TABLE/COLUMN STATS t (ShowStatsStmt.java): Spark's closest
    # shape is the extended describe, whose Statistics row carries the
    # ANALYZE-computed numbers
    _row("show_column_stats", r"SHOW\s+COLUMN\s+STATS\b",
         lambda e, s, m: e._show_column_stats(s.name), DDL, _T,
         parts=_ONLY, spark=_spell("DESCRIBE TABLE EXTENDED {0}")),
    _row("show_table_stats", r"SHOW\s+TABLE\s+STATS\b",
         lambda e, s, m: partitions.show_table_stats(e, s.name),
         DDL, _T, parts=_ONLY, spark=_spell("DESCRIBE TABLE EXTENDED {0}")),
    _row("show_files", r"SHOW\s+FILES\s+IN\b",
         lambda e, s, m: partitions.show_files(e, s.name, m.group("spec")),
         DDL, _T, parts=_SKIP + r"(?:\s+PARTITION\s*\((?P<spec>[^)]*)\))?"
                          + _END),
    _row("describe_db", r"DESCRIBE\s+(?:DATABASE|SCHEMA)\b",
         **_ns("describe_db", namespaces.DESCRIBE_DB)),
    _row("describe", r"DESCRIBE\b", lambda e, s, m: e._describe(s), DDL,
         spark=lambda s: (m := re.match(
             r"(?i)\s+FORMATTED\s+([A-Za-z_][\w.]*)" + _END, s.tail))
         and f"DESCRIBE TABLE EXTENDED {m.group(1)}"),
    # COMPUTE [INCREMENTAL] STATS t [(col, ...)] [PARTITION (spec)]
    # (ComputeStatsStmt.java)
    _row("compute_stats", r"COMPUTE\s+(?P<inc>INCREMENTAL\s+)?STATS\b",
         lambda e, s, m: e._compute_stats(s, m), WRITE, _T,
         parts=_SKIP + r"\s*(?:\((?P<cols>[^)]*)\)\s*)?"
               r"(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?;?\s*$",
         spark=_spell("ANALYZE TABLE {0} COMPUTE STATISTICS "
                      "FOR ALL COLUMNS")),
    _row("drop_stats", r"DROP\s+(?:INCREMENTAL\s+)?STATS\b",
         lambda e, s, m: e._drop_stats(s, m), DDL, _T,
         parts=_SKIP + r"\s*(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?"
               r";?\s*$", acid=True),
    _row("truncate", r"TRUNCATE\b", lambda e, s, m: e._truncate(s, m),
         WRITE, r"(?:\s+TABLE)?\s+(?:IF\s+EXISTS\s+)?" + _NAME,
         parts=r"(?:\s+TABLE)?(?P<ife>\s+IF\s+EXISTS)?" + _SKIP
               + r"\s*;?\s*$", acid=True),
    _INSERT_ROW,
    _row("refresh", r"(?:REFRESH|(?P<inv>INVALIDATE\s+METADATA))\b",
         lambda e, s, m: avro_stale.refresh(e, s), DDL, _T, acid=True,
         spark=_refresh),
    # LOAD DATA INPATH 'p' [OVERWRITE] INTO TABLE t [PARTITION (k=v,..)]
    # (LoadDataStmt.java)
    _row("load", r"LOAD\b", lambda e, s, m: e._load_data(
        m.group("path"), s.name, overwrite=bool(m.group("over")),
        partition=m.group("part")), WRITE,
        r"\s+DATA\s+INPATH\s+'[^']*'\s+(?:OVERWRITE\s+)?INTO\s+TABLE"
        + _T, parts=r"\s+DATA\s+INPATH\s+'(?P<path>[^']+)'\s+"
                    r"(?P<over>OVERWRITE\s+)?INTO\s+TABLE" + _SKIP
                    + r"\s*(?:PARTITION\s*\((?P<part>[^)]*)\))?\s*;?\s*$"),
    _row("create_role", r"CREATE\s+ROLE\b",
         **_auth("create_role", grants.ROLE)),
    _row("drop_role", r"DROP\s+ROLE\b", **_auth("drop_role", grants.ROLE)),
    _row("grant_role", r"GRANT\s+ROLE\b",
         **_auth("grant_role", grants.GRANT_ROLE)),
    _row("revoke_role", r"REVOKE\s+ROLE\b",
         **_auth("revoke_role", grants.REVOKE_ROLE)),
    _row("grant", r"GRANT\b", **_auth("grant", grants.GRANT)),
    _row("revoke", r"REVOKE\b", **_auth("revoke", grants.REVOKE)),
    _row("show_roles", r"SHOW\s+(?:CURRENT\s+)?ROLES\b",
         **_auth("show_roles", grants.NOTHING)),
    _row("show_role_grant", r"SHOW\s+ROLE\s+GRANT\b",
         **_auth("show_role_grant", grants.GROUP)),
    _row("show_grant", r"SHOW\s+GRANT\b",
         **_auth("show_grant", grants.PRINCIPAL)),
    _row("show", r"SHOW\b", hooks=DDL),
    _row("delete", r"DELETE\b", hooks=WRITE, target=r"\s+FROM\s+" + _NAME),
    _row("update", r"UPDATE\b", hooks=WRITE, target=_T),
    _row("upsert", r"UPSERT\b", hooks=WRITE),
    _row("ddl", r"(?:CREATE|DROP|ALTER|INVALIDATE)\b", hooks=DDL),
    _row("query", r"(?:SELECT|WITH|VALUES)\b", hooks=READ),
    _row("other", r"", hooks=READ),
]
KINDS = {row.kind: row for row in ROWS}


def parse(sql_text: str) -> Stmt:
    """The statement's row and head match, its text unresolved.
    Leading comments are skipped; keywords inside literals, comments
    and backticks never count."""
    sh = sqlscan.shadow(sql_text, idents=False)
    start = len(sh) - len(sh.lstrip())
    text, sh = sql_text[start:], sh[start:]
    for row in ROWS:
        m = row.head.match(sh)
        if m:
            break
    if row.kind == "query" and (at := _insert_at(text)):
        row, m = _INSERT_ROW, _INSERT_ROW.head.match(sh, at)
    target = m.groupdict().get("target")
    if target is not None:
        target = text[m.start("target"):m.end("target")]
    return Stmt(row.kind, row, text, sql_text[:start], m, target)


def classify(engine, sql_text: str) -> Stmt:
    """The statement's row, head match, target and the target's
    record, resolved to the engine's databases."""
    stmt = parse(sql_text)
    if stmt.target:
        stmt.record = stats.peek(engine, stmt.target)
    stmt.resolve(engine.ns.resolve)
    return stmt


def translate_statement(sql_text: str) -> str | None:
    """The Spark spelling of a statement a row translates (CREATE
    TABLE, function DDL, REFRESH and INVALIDATE METADATA, DESCRIBE
    FORMATTED, COMPUTE STATS, SHOW TABLE/COLUMN STATS); None for the
    rest."""
    stmt = parse(sql_text)
    stmt.resolve()
    return stmt.row.spark(stmt) if stmt.row.spark else None
