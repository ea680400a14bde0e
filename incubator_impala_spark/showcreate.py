"""SHOW CREATE TABLE / SHOW CREATE VIEW.

Reference surface: ToSqlUtils.getCreateTableSql (fe/src/main/java/org/
apache/impala/analysis/ToSqlUtils.java) rendered through the
show-create-table.test corpus; the reference's runner
(tests/metadata/test_show_create_table.py) additionally re-executes the
rendered statement and asserts the round trip is a fixpoint — the
engine-side contract implemented here.

Spark's own `SHOW CREATE TABLE` prints the USING-provider form and
loses the Impala-form facets (STORED AS spelling, ROW FORMAT
delimiters, EXTERNAL-ness, SORT BY) that the dialect shim translates
away, so the engine records those facets at CREATE time
(`record_create`) and renders from the record plus the LIVE catalog
schema (so ALTER ADD COLUMNS etc. are reflected). Tables render in the
reference's Hive-3 style: managed tables print as
`CREATE EXTERNAL TABLE ... TBLPROPERTIES ('external.table.purge'=
'TRUE')` (the translated-external form the corpus' RESULTS-HIVE-3
sections pin). Views print Impala's catalog form: the original body
verbatim, or — when the CREATE had an explicit column-alias list —
the inline-view expansion Impala stores in the HMS
(CreateOrAlterViewStmtBase.java):
``SELECT v.c1 a1, ... FROM (<body>) v``.
"""
from __future__ import annotations

import re

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)

from incubator_impala_spark import dialect, sqlscan, stats
from incubator_impala_spark.session import rows_df

# minimal reserved set that forces quoting in rendered identifiers —
# Impala quotes what the Hive lexer can't take bare (ToSqlUtils
# identSql); the corpus exercises the leading-underscore rule
_KEYWORDS = {
    "add", "all", "alter", "and", "as", "asc", "between", "by",
    "case", "cast", "column", "comment", "create", "date", "desc",
    "distinct", "div", "drop", "else", "end", "exists", "explain",
    "false", "from", "full", "group", "having", "in", "inner",
    "insert", "into", "is", "join", "left", "like", "limit",
    "location", "not", "null", "on", "or", "order", "outer",
    "partition", "right", "select", "set", "show", "table", "then",
    "true", "union", "update", "using", "values", "view", "when",
    "where", "with",
}

_IDENT = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def quote_ident(name: str) -> str:
    if _IDENT.match(name) and name.lower() not in _KEYWORDS:
        return name
    return "`" + name.replace("`", "``") + "`"


def impala_type(dt) -> str:
    """Spark DataType -> Impala type spelling (keywords uppercased,
    struct field names kept verbatim)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{impala_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (f"MAP<{impala_type(dt.keyType)},"
                f"{impala_type(dt.valueType)}>")
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{impala_type(f.dataType)}"
                         for f in dt.fields)
        return f"STRUCT<{inner}>"
    return dt.simpleString().upper()


# ---------------------------------------------------------------------------
# CREATE-time recording
# ---------------------------------------------------------------------------

_ROW_FORMAT = re.compile(
    r"(?is)\brow\s+format\s+delimited"
    r"(?:\s+fields\s+terminated\s+by\s+(?P<sep>'[^']*'))?"
    r"(?:\s+escaped\s+by\s+(?P<esc>'[^']*'))?"
    r"(?:\s+lines\s+terminated\s+by\s+(?P<lin>'[^']*'))?")


def _parse_props(raw: str) -> dict:
    return dict(re.findall(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'",
                           raw))


def record_create(engine, stmt) -> None:
    """Parse the Impala-form facets of a CREATE TABLE/VIEW (a
    classified statement, statements.py) and store them on the engine
    for later SHOW CREATE rendering. Never raises — an unparseable
    statement simply renders from catalog fallbacks."""
    try:
        _record_create(engine, stmt)
    except Exception:  # noqa: BLE001 — recording is best-effort
        pass


def _record_create(engine, stmt) -> None:
    if stmt.target is None:
        return
    rest = stmt.text[stmt.head.end("target"):].lstrip()
    rest_shadow = sqlscan.shadow(rest)
    meta: dict = {"kind": stmt.kind.removeprefix("create_"),
                  "external": bool(stmt.group("ext")),
                  "display": stmt.target.replace("`", "")}

    # leading parenthesized list (columns for TABLE, aliases for VIEW)
    cols_raw = None
    lead = re.match(r"\s*\(", rest_shadow)
    if lead:
        close = sqlscan.close_paren(rest_shadow, lead.end() - 1)
        if close > 0:
            cols_raw = rest[lead.end():close]
            tail_shadow = rest_shadow[close + 1:]
            tail = rest[close + 1:]
        else:
            tail_shadow, tail = rest_shadow, rest
    else:
        tail_shadow, tail = rest_shadow, rest

    if meta["kind"] == "view":
        am = re.search(r"(?is)\bas\b", tail_shadow)
        if am is None:
            return
        meta["aliases"] = None
        if cols_raw is not None:
            meta["aliases"] = []
            for item in sqlscan.split_top(cols_raw):
                im = re.match(r"\s*(`?)([A-Za-z_]\w*)\1", item)
                if im:
                    meta["aliases"].append(im.group(2))
        meta["body"] = tail[am.end():].strip().rstrip(";")
        stats.table(engine, stmt.target).create = meta
        return

    # TABLE facets
    if cols_raw is not None:
        cols = []
        for item in sqlscan.split_top(cols_raw):
            cm = re.match(
                r"(?is)\s*(`?)(?P<name>[A-Za-z_]\w*)\1\s+"
                r"(?P<type>[\s\S]+?)"
                r"(?:\s+comment\s+'(?P<cmt>(?:[^']|'')*)')?\s*$",
                item)
            if cm is None:
                cols = None
                break
            cols.append((cm.group("name"), cm.group("type").strip(),
                         cm.group("cmt")))
        meta["columns"] = cols
    pm = re.search(r"(?is)\bpartitioned\s+by\s*\(", tail_shadow)
    if pm:
        close = sqlscan.close_paren(tail_shadow, pm.end() - 1)
        parts = []
        for item in sqlscan.split_top(tail[pm.end():close]):
            toks = item.split()
            if not toks:
                continue
            nm = toks[0].strip("`")
            ty = " ".join(toks[1:]) or None
            cmt = None
            cm = re.match(
                r"(?is)\s*(`?)(\w+)\1\s+(?P<type>[\s\S]+?)"
                r"\s+comment\s+'(?P<cmt>(?:[^']|'')*)'\s*$", item)
            if cm:
                ty, cmt = cm.group("type").strip(), cm.group("cmt")
            parts.append((nm, ty, cmt))
        meta["partitions"] = parts
    sm = re.search(
        r"(?is)\bsort\s+by\s+(?P<ord>lexical\s+|zorder\s+)?\(",
        tail_shadow)
    if sm:
        close = sqlscan.close_paren(tail_shadow, sm.end() - 1)
        meta["sort_cols"] = [c.strip().strip("`") for c in
                             tail[sm.end():close].split(",")
                             if c.strip()]
        meta["sort_order"] = (sm.group("ord") or "LEXICAL") \
            .strip().upper()
    # table COMMENT: at clause level (not inside parens). The
    # length-preserving paren strip blanks literals too, so the
    # keyword is found on the stripped text and the literal is read
    # from the original at the same offset.
    top = sqlscan.top_level(tail_shadow)
    for cm in re.finditer(r"(?is)\bcomment\b", top):
        j = cm.end()
        while j < len(tail) and tail[j].isspace():
            j += 1
        lit = re.match(r"'((?:[^']|'')*)'", tail[j:])
        if lit:
            meta["comment"] = lit.group(1)
            break
    rm = _ROW_FORMAT.search(tail_shadow)
    if rm:
        meta["row_format"] = {
            k: tail[rm.start(k) + 1:rm.end(k) - 1]
            for k in ("sep", "esc", "lin") if rm.group(k)}
    fm = re.search(r"(?is)\bstored\s+as\s+(\w+)", tail_shadow)
    if fm:
        meta["format"] = fm.group(1).upper()
    tm = re.search(r"(?is)\btblproperties\s*\(", tail_shadow)
    if tm:
        close = sqlscan.close_paren(tail_shadow, tm.end() - 1)
        meta["tblproperties"] = _parse_props(tail[tm.end():close])
    meta["ctas"] = bool(re.search(r"(?is)\bas\s+select\b",
                                  sqlscan.top_level(tail_shadow)))
    stats.table(engine, stmt.target).create = meta


# ---------------------------------------------------------------------------
# Rendering
# ---------------------------------------------------------------------------


def _phys_name(engine, display: str) -> str:
    """Physical (catalog/temp-view) relation behind a display name."""
    name = display.replace("`", "")
    ns = engine.ns
    if "." in name:
        db, obj = name.split(".", 1)
        info = ns.dbs.get(db.lower(), {}).get(obj.lower())
        if info:
            return info.get("phys") or name
    elif ns.current:
        info = ns.dbs.get(ns.current, {}).get(name.lower())
        if info:
            return info.get("phys") or name
    # functional fixture qualifiers resolve to the flat views (same
    # convention as the engine's DESCRIBE path)
    return re.sub(r"(?i)^functional(_\w+)?\.", "", name)


def _location_of(engine, phys: str) -> str:
    try:
        for r in engine.spark.sql(
                f"DESCRIBE TABLE EXTENDED {phys}").collect():
            if r.col_name == "Location":
                return r.data_type
    except _PYSPARK_ERR:  # non-catalog relation
        pass
    wh = engine.spark.conf.get("spark.sql.warehouse.dir",
                               "spark-warehouse")
    return f"{wh}/{phys.split('.')[-1].lower()}"


def _fixture_format(display: str) -> str:
    qm = re.match(r"(?i)^functional_(\w+)\.", display)
    if qm:
        fmt = qm.group(1).upper()
        return {"SEQ": "SEQUENCEFILE", "RC": "RCFILE",
                "TEXT": "TEXTFILE"}.get(fmt, fmt)
    return "TEXTFILE"


def _is_fixture(display: str) -> bool:
    return bool(re.match(r"(?i)^functional(_\w+)?\.", display))


def _expand_view_body(engine, meta: dict, simple_name: str) -> str:
    """Impala's HMS-stored view text: body verbatim, or the
    inline-view expansion when the CREATE had a column-alias list."""
    body = meta["body"]
    if not meta.get("aliases"):
        return body
    # Impala stores the parsed statement's toSql(), which re-quotes
    # identifiers the Hive lexer can't take bare (leading underscore)
    body = dialect._shadow_sub(
        re.compile(r"(?<![\w`.$])(_\w+)\b"),
        lambda m2: "`" + m2.group(1) + "`", body)
    exec_body = re.sub(r"(?i)\bfunctional(_\w+)?\.", "", body)
    schema = engine.spark.sql(engine.translate_query(
        f"SELECT * FROM ({exec_body}) __scv_probe__")).schema
    v = quote_ident(simple_name)
    items = []
    for i, f in enumerate(schema.fields):
        inner = f.name if _IDENT.match(f.name) or \
            re.match(r"^_\w+$", f.name) else f"_c{i}"
        items.append(f"{v}.{quote_ident(inner)} "
                     f"{quote_ident(meta['aliases'][i])}"
                     if i < len(meta["aliases"])
                     else f"{v}.{quote_ident(inner)}")
    return (f"SELECT {', '.join(items)} FROM ({body}) {v}")


def render(engine, name: str) -> str:
    """The SHOW CREATE statement text for `name` (table or view)."""
    rec = stats.peek(engine, name)
    meta = rec.create
    display = name.replace("`", "")
    if meta is None and _is_fixture(display):
        # fixture views with reference-catalog text
        from incubator_impala_spark.sources.functional import (
            IMPALA_VIEW_TEXTS,
        )

        simple = display.split(".")[-1].lower()
        if simple in IMPALA_VIEW_TEXTS:
            qname = _qualify(display)
            return (f"CREATE VIEW {qname} AS\n"
                    f"{IMPALA_VIEW_TEXTS[simple]}")
    if meta is not None and meta["kind"] == "view":
        simple = display.split(".")[-1]
        body = _expand_view_body(engine, meta, simple)
        return f"CREATE VIEW {_qualify(display)} AS\n{body}"
    return _render_table(engine, display, meta, rec.sort)


def _qualify(display: str) -> str:
    if "." in display:
        db, obj = display.split(".", 1)
        return f"{quote_ident(db)}.{quote_ident(obj)}"
    return quote_ident(display)


def _render_table(engine, display: str, meta: dict | None,
                  sort: tuple[list, str] | None) -> str:
    spark = engine.spark
    phys = _phys_name(engine, display)
    schema = spark.table(phys).schema
    fixture = _is_fixture(display) and meta is None
    meta = meta or {}
    part_names = [p[0].lower() for p in meta.get("partitions", [])]
    # recorded column comments/type spellings take precedence (they
    # carry the Impala spelling); live schema drives existence+order
    rec = {c[0].lower(): c for c in (meta.get("columns") or [])}
    col_lines = []
    for f in schema.fields:
        if f.name.lower() in part_names:
            continue
        r = rec.get(f.name.lower())
        ty = impala_type(f.dataType)
        if r and r[1]:
            ty_rec = r[1].upper()
            # the recorded spelling wins when it names the same type
            # family (preserves e.g. DECIMAL default spellings)
            ty = ty_rec if ty_rec.split("(")[0] == ty.split("(")[0] \
                else ty
        cmt = r[2] if r else \
            (f.metadata.get("comment") if f.metadata else None)
        line = f"  {quote_ident(f.name)} {ty}"
        if cmt:
            line += f" COMMENT '{cmt}'"
        col_lines.append(line)
    out = [f"CREATE EXTERNAL TABLE {_qualify(display)} ("]
    out.append(",\n".join(col_lines))
    out.append(")")
    parts = meta.get("partitions") or []
    if parts:
        by_name = {f.name.lower(): f for f in schema.fields}
        plines = []
        for nm, ty, cmt in parts:
            t = (ty.upper() if ty else
                 impala_type(by_name[nm.lower()].dataType))
            ln = f"  {quote_ident(nm)} {t}"
            if cmt:
                ln += f" COMMENT '{cmt}'"
            plines.append(ln)
        out.append("PARTITIONED BY (")
        out.append(",\n".join(plines))
        out.append(")")
    sort_cols, sort_order = meta.get("sort_cols"), \
        meta.get("sort_order")
    if not sort_cols and sort:
        sort_cols, sort_order = sort
    if sort_cols:
        out.append(f"SORT BY {sort_order or 'LEXICAL'} "
                   f"({', '.join(sort_cols)})")
    if meta.get("comment"):
        out.append(f"COMMENT '{meta['comment']}'")
    rf = meta.get("row_format")
    if rf:
        ln = "ROW FORMAT DELIMITED"
        serde = {}
        if "sep" in rf:
            ln += f" FIELDS TERMINATED BY '{rf['sep']}'"
            serde["field.delim"] = rf["sep"]
            serde["serialization.format"] = rf["sep"]
        if "esc" in rf:
            ln += f" ESCAPED BY '{rf['esc']}'"
            serde["escape.delim"] = rf["esc"]
        if "lin" in rf:
            ln += f" LINES TERMINATED BY '{rf['lin']}'"
            serde["line.delim"] = rf["lin"]
        out.append(ln)
        if serde:
            out.append("WITH SERDEPROPERTIES (" + ", ".join(
                f"'{k}'='{v}'" for k, v in serde.items()) + ")")
    fmt = meta.get("format") or (
        _fixture_format(display) if fixture else "TEXTFILE")
    out.append(f"STORED AS {fmt}")
    out.append(f"LOCATION '{_location_of(engine, phys)}'")
    props = dict(meta.get("tblproperties") or {})
    transactional = str(props.get(
        "transactional", "")).lower() == "true"
    if transactional:
        # ACID tables are MANAGED (no EXTERNAL keyword, no purge
        # property) and Hive normalizes an absent
        # transactional_properties to 'default'
        # (show-create-table-full-acid.test RESULTS-HIVE-3)
        out[0] = out[0].replace("CREATE EXTERNAL TABLE ",
                                "CREATE TABLE ")
        props.setdefault("transactional_properties", "default")
    elif not fixture:
        # Hive-3 translated-external managed table (RESULTS-HIVE-3)
        props.setdefault("external.table.purge", "TRUE")
    if props:
        out.append("TBLPROPERTIES (" + ", ".join(
            f"'{k}'='{v}'" for k, v in props.items()) + ")")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# Statement dispatch
# ---------------------------------------------------------------------------

# what follows SHOW CREATE TABLE|VIEW (statements.py matches the head)
_SHOW_CREATE = re.compile(
    r"(?is)\s+(?P<name>`?[A-Za-z_]\w*`?(?:\.`?[A-Za-z_]\w*`?)?)\s*;?\s*$")


def handle(engine, rest: str):
    """SHOW CREATE TABLE|VIEW <name> -> one-row DataFrame, or None.

    Both spellings work on both object kinds, as in the reference
    (show-create-table.test: 'SHOW CREATE VIEW should also work on
    tables')."""
    m = _SHOW_CREATE.match(rest)
    if m is None:
        return None
    text = render(engine, m.group("name"))
    return rows_df(engine.spark, [(text,)], "result string")
