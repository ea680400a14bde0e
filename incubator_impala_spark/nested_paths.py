"""Impala nested-collection path references on Spark.

The reference lets a FROM clause reference collections by path
(fe/.../analysis/CollectionTableRef.java, Path.java; executed by
SubplanNode + UnnestNode, be/src/exec/subplan-node.cc):

    select item from complextypestbl.int_array            -- table-level
    select a.item from complextypestbl t, t.int_array a   -- correlated
    select key, value from complextypestbl t, t.int_map m -- maps
    from t, t.nested_struct.c.d d1, d1.item i1            -- chained
    from t, (select count(item) c from t.int_array) v     -- relative
                                                          -- subquery

Spark has the same engine capabilities under different spellings —
LATERAL VIEW [OUTER] posexplode for unnest, LATERAL correlated
subqueries for the subplan form — so this module rewrites the path
syntax schema-aware (the collection-vs-map decision and struct-field
casing need the resolved type, exactly as the reference resolves paths
during analysis):

* correlated item `t.path a`  -> `LATERAL VIEW posexplode(t.path) a AS
  pos, item` (maps: `explode(...) a AS key, value`), replacing the
  comma-join — INNER semantics: rows with empty/NULL collections drop,
  like the reference's inner subplan. LEFT [OUTER] JOIN variants emit
  `LATERAL VIEW OUTER`.
* table-level item `tbl.path a` -> `tbl _tN LATERAL VIEW ...`.
* mid-path collections flatten through hidden lateral views with
  unambiguous `_pN/_iN` output names.
* a FROM-subquery whose items resolve against an outer alias becomes a
  Spark `LATERAL (...)` subquery; a relative item inside it (no base
  relation to attach to) becomes a generator-derived table
  `(select posexplode(outer.path) as (pos, item)) alias`.

Plans stay fully declarative: every rewrite lands on Generate /
LateralJoin operators that Catalyst optimizes like hand-written
LATERAL VIEW SQL — nothing is collected or evaluated in Python.
"""

from __future__ import annotations

import re

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)
from pyspark.sql import SparkSession
from pyspark.sql.types import (ArrayType, DataType, DecimalType, MapType,
                               StructField, StructType)

from incubator_impala_spark import sqlscan

_IDENT = r"[A-Za-z_][A-Za-z_0-9]*"
_PATH_ITEM = re.compile(
    rf"^\s*({_IDENT}(?:\.{_IDENT})+)(?:\s+(?:as\s+)?({_IDENT}))?\s*$",
    re.IGNORECASE)
# a joined collection path WITH an ON condition (pair-alias joins:
# `JOIN c.c_orders o2 ON (o1.pos = o2.pos)`)
_PATH_ON_ITEM = re.compile(
    rf"^\s*({_IDENT}(?:\.{_IDENT})+)(?:\s+(?:as\s+)?({_IDENT}))?"
    rf"\s+on\s+(.+)$",
    re.IGNORECASE | re.DOTALL)
_TABLE_ITEM = re.compile(
    rf"^\s*({_IDENT})(?:\s+(?:as\s+)?({_IDENT}))?\s*$", re.IGNORECASE)
# a joined table with an ON condition: register the alias, leave text
_TABLE_ON_ITEM = re.compile(
    rf"^\s*({_IDENT})(?:\s+(?:as\s+)?({_IDENT}))?\s+on\s+.+$",
    re.IGNORECASE | re.DOTALL)
_FROM_KW = re.compile(r"\bfrom\b", re.IGNORECASE)
# a FROM item list ends at its scope's `)` or a clause keyword
_FROM_END = re.compile(
    r"\)|\b(where|group|having|order|limit|offset|union|intersect|except|"
    r"minus|window)\b", re.IGNORECASE)
_UNION = re.compile(r"\bunion(\s+(all|distinct))?\b", re.IGNORECASE)
_JOINER = re.compile(
    r",|\b(?:(left|right|full|cross|inner)\s+)?(?:(outer|anti|semi)\s+)?"
    r"join\b", re.IGNORECASE)


class _Env(dict):
    """alias(lower) -> column dict {name(lower): (actual, DataType)}"""


def _cols(dtype) -> dict:
    if isinstance(dtype, StructType):
        return {f.name.lower(): (f.name, f.dataType) for f in dtype.fields}
    return {}


def _lv_cols(dtype) -> dict:
    from pyspark.sql.types import IntegerType, StringType
    if isinstance(dtype, ArrayType):
        out = {"pos": ("pos", IntegerType()),
               "item": ("item", dtype.elementType)}
        # the reference exposes a struct element's fields directly on
        # the collection alias (i.e. `arr.f` == `arr.item.f`)
        if isinstance(dtype.elementType, StructType):
            for f in dtype.elementType.fields:
                out.setdefault(f.name.lower(), (f.name, f.dataType))
        return out
    return {"key": ("key", dtype.keyType if isinstance(dtype, MapType)
                    else StringType()),
            "value": ("value", dtype.valueType
                      if isinstance(dtype, MapType) else StringType())}


class _Scope:
    def __init__(self, spark: SparkSession, outer: "_Scope | None"):
        self.spark = spark
        self.outer = outer
        self.env: _Env = _Env()
        self.used_outer = False
        self.n = 0
        # emptiness predicates pending WHERE injection (semi/anti
        # joins against a relative collection path become row-local
        # size() checks — no join, no shuffle)
        self.pending_preds: list[str] = []
        # table-backed aliases of THIS scope and hoisted path columns
        # (struct-descent exprs precomputed on the base relation so a
        # correlated aggregate only references a plain column — Spark's
        # DecorrelateInnerQuery rejects struct-typed outer refs)
        self.table_items: dict = {}
        self.hoists: dict = {}
        # exploded-collection aliases -> source path text (lowered);
        # lets the pair-alias translation prove two aliases explode
        # the SAME in-row array
        self.path_items: dict = {}
        self.ctx = outer.ctx if outer is not None else {
            "markers": {}, "n": 0}

    def lookup(self, alias: str):
        a = alias.lower()
        if a in self.env:
            return self.env[a], False
        s = self.outer
        while s is not None:
            if a in s.env:
                return s.env[a], True
            s = s.outer
        return None, False

    def owning_scope(self, alias: str):
        a = alias.lower()
        s = self
        while s is not None:
            if a in s.env:
                return s
            s = s.outer
        return None

    def request_hoist(self, alias: str, suffix: str) -> str:
        byalias = self.hoists.setdefault(alias.lower(), {})
        key = suffix.lower()
        if key not in byalias:
            self.n += 1
            byalias[key] = (suffix, f"_nph{self.n}")
        return byalias[key][1]

    def table_schema(self, name: str):
        try:
            return self.spark.table(name).schema
        except _PYSPARK_ERR:
            return None

    def fresh(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}{self.n}"


def _collect_steps(root_expr: str, root_cols: dict, segs: list[str]):
    """Walk `segs` from a column dict, returning the explode chain:
    ([(dtype, expr)], ok). Each step's expr references `@` as the
    previous step's element placeholder (substituted at emission)."""
    steps: list[tuple] = []
    expr, cur_t, cur_cols = root_expr, None, root_cols
    i = 0
    while i < len(segs):
        seg = segs[i].lower()
        if cur_cols is None or seg not in cur_cols:
            return steps, None
        actual, cur_t = cur_cols[seg]
        expr = f"{expr}.{actual}" if expr else actual
        cur_cols = _cols(cur_t) or None
        i += 1
        if isinstance(cur_t, (ArrayType, MapType)) and i < len(segs):
            nxt = segs[i].lower()
            steps.append((cur_t, expr))
            if isinstance(cur_t, ArrayType):
                if nxt == "item":
                    expr, cur_t = "@item", cur_t.elementType
                    i += 1
                elif isinstance(cur_t.elementType, StructType) and \
                        nxt in {f.name.lower()
                                for f in cur_t.elementType.fields}:
                    # implicit element hop: the reference's
                    # `customer.c_orders.o_lineitems` unnests c_orders
                    # and descends into the element struct without an
                    # `item` segment (Path.java LegalPathType)
                    expr, cur_t = "@item", cur_t.elementType
                else:
                    return steps, None
            else:
                if nxt not in ("key", "value"):
                    return steps, None
                expr = "@key" if nxt == "key" else "@value"
                cur_t = (cur_t.keyType if nxt == "key"
                         else cur_t.valueType)
                i += 1
            cur_cols = _cols(cur_t) or None
    if not isinstance(cur_t, (ArrayType, MapType)):
        return steps, None
    steps.append((cur_t, expr))
    return steps, cur_t


def _gen_call(dtype, expr: str) -> tuple[str, str, str]:
    """(generator call, out-names tuple, select list) for a step."""
    if isinstance(dtype, ArrayType):
        return f"posexplode({expr})", "(pos, item)", "pos, item"
    return f"explode({expr})", "(key, value)", "key, value"


def _build_relation(scope: "_Scope", steps: list, final_t,
                    alias: str, base_table: str | None) -> str:
    """Compose the explode chain into one self-contained relation:

      (select F.pos, F.item
       from <base|generator-derived> [hidden LATERAL VIEWs] ...) alias

    Single-relation-plus-lateral-views inside the subquery keeps to
    Spark's FROM grammar; the whole thing composes freely with commas
    and joins outside."""
    names = (("pos", "item") if isinstance(final_t, ArrayType)
             else ("key", "value"))
    # the reference exposes struct-element fields on the alias itself
    extras = []
    if isinstance(final_t, ArrayType) and isinstance(
            final_t.elementType, StructType):
        extras = [f.name for f in final_t.elementType.fields
                  if f.name.lower() not in ("pos", "item")]
    if base_table is None and len(steps) == 1:
        call, outs, _ = _gen_call(*steps[0])
        if not extras:
            return f"(select {call} as {outs}) {alias}"
        sel = ", ".join(names) + ", " + ", ".join(
            f"item.{f} as {f}" for f in extras)
        return f"(select {sel} from (select {call} as {outs})) {alias}"
    parts = []
    prev_alias = None
    if base_table is not None:
        bt = scope.fresh("_npt")
        parts.append(f"{base_table} {bt}")
        # step exprs are rooted at the hidden base alias
        steps = [(d, e.replace("@base", bt)) for d, e in steps]
    for k, (dtype, expr) in enumerate(steps):
        if prev_alias is not None:
            expr = expr.replace("@item", f"{prev_alias}_i")                        .replace("@key", f"{prev_alias}_k")                        .replace("@value", f"{prev_alias}_v")
        last = k == len(steps) - 1
        g = scope.fresh("_npg")
        if k == 0 and base_table is None:
            call, _, _ = _gen_call(dtype, expr)
            if isinstance(dtype, ArrayType):
                parts.append(f"(select {call} as ({g}_p, {g}_i))")
            else:
                parts.append(f"(select {call} as ({g}_k, {g}_v))")
        else:
            call, _, _ = _gen_call(dtype, expr)
            if last:
                parts.append(f"LATERAL VIEW {call} {g} AS "
                             + ", ".join(names))
                prev_alias = g
                continue
            if isinstance(dtype, ArrayType):
                parts.append(f"LATERAL VIEW {call} {g} AS {g}_p, {g}_i")
            else:
                parts.append(f"LATERAL VIEW {call} {g} AS {g}_k, {g}_v")
        prev_alias = g
    sel = ", ".join(f"{prev_alias}.{n}" for n in names)
    if extras:
        sel += ", " + ", ".join(
            f"{prev_alias}.item.{f} as {f}" for f in extras)
    return f"(select {sel} from " + " ".join(parts) + f") {alias}"


def _build_lateral_chain(scope: "_Scope", steps: list, final_t,
                         alias: str) -> list[str]:
    """Alias-rooted (correlated) chains become SIBLING lateral
    relations — `LATERAL (select posexplode(x) as (_p1,_i1)) _g1 ,
    LATERAL (select explode(_g1._i1) as (key,value)) a` — because
    Spark's decorrelation accepts a correlated collection reference at
    the top select of a lateral subquery but not nested one level
    deeper (probed: array-of-map chains). Intermediate outputs use
    hidden names so bare pos/item stay unambiguous."""
    extras = []
    if isinstance(final_t, ArrayType) and isinstance(
            final_t.elementType, StructType):
        extras = [f.name for f in final_t.elementType.fields
                  if f.name.lower() not in ("pos", "item")]
    rels = []
    prev = None
    for k, (dtype, expr) in enumerate(steps):
        if prev is not None:
            expr = (expr.replace("@item", f"{prev}_i")
                        .replace("@key", f"{prev}_k")
                        .replace("@value", f"{prev}_v"))
        last = k == len(steps) - 1
        if last:
            call, outs, names = _gen_call(dtype, expr)
            if extras:
                sel = names + ", " + ", ".join(
                    f"item.{f} as {f}" for f in extras)
                rels.append(f"(select {sel} from "
                            f"(select {call} as {outs})) {alias}")
            else:
                rels.append(f"(select {call} as {outs}) {alias}")
        else:
            g = scope.fresh("_npl")
            if isinstance(dtype, ArrayType):
                rels.append(f"(select posexplode({expr}) "
                            f"as ({g}_p, {g}_i)) {g}")
            else:
                rels.append(f"(select explode({expr}) "
                            f"as ({g}_k, {g}_v)) {g}")
            prev = g
    return rels


def _split_from_items(text: str) -> list[tuple[str, str]]:
    """[(joiner_text, item_text)] — joiner '' for the first item."""
    items, joiner, pos = [], "", 0
    for m in _JOINER.finditer(sqlscan.top_level(text)):
        items.append((joiner, text[pos:m.start()]))
        joiner, pos = text[m.start():m.end()], m.end()
    items.append((joiner, text[pos:]))
    return items


def _find_from_clauses(sql: str) -> list[tuple[int, int]]:
    """(start, end) spans of top-level FROM item lists (after the FROM
    keyword up to the clause terminator)."""
    top = sqlscan.top_level(sql)
    spans, pos = [], 0
    while fm := _FROM_KW.search(top, pos):
        em = _FROM_END.search(top, fm.end())
        pos = em.start() if em else len(sql)
        spans.append((fm.end(), pos))
    return spans


def _rewrite_scope(scope: _Scope, sql: str) -> str:
    spans = _find_from_clauses(sql)
    if not spans:
        return _rewrite_subselects(scope, sql)
    out, prev = [], 0
    for (s, e) in spans:
        out.append(_rewrite_subselects(scope, sql[prev:s]))
        scope.pending_preds = []
        out.append(_rewrite_from_list(scope, sql[s:e]))
        prev = e
        if scope.pending_preds:
            pred = " and ".join(scope.pending_preds)
            m = re.match(r"\s*where\b", sql[prev:], re.IGNORECASE)
            if m:
                out.append(sql[prev:prev + m.end()] + " " + pred + " and ")
                prev += m.end()
            else:
                out.append(" where " + pred + " ")
            scope.pending_preds = []
    out.append(_rewrite_subselects(scope, sql[prev:]))
    return "".join(out)


def _rewrite_subselects(scope: _Scope, text: str) -> str:
    """Recurse into parenthesized SELECTs outside FROM clauses
    (scalar/EXISTS subqueries may carry relative refs too)."""
    shadow = sqlscan.shadow(text)
    out, pos = [], 0
    while (i := shadow.find("(", pos)) >= 0:
        j = sqlscan.close_paren(shadow, i)
        if j < 0:
            break
        out.append(text[pos:i])
        pos = j + 1
        inner = text[i + 1:j]
        if not re.match(r"\s*select\b", inner, re.IGNORECASE):
            out.append("(" + _rewrite_subselects(scope, inner) + ")")
            continue
        # row-local SubplanNode shapes first (EXISTS / scalar
        # aggregate over a relative collection → HOF, no
        # correlated subquery at all)
        joined = "".join(out)
        m_ex = re.search(r"(?is)\b(not\s+)?exists\s*$", joined)
        repl = _subplan_where_expr(scope, inner, exists_ctx=bool(m_ex))
        if repl is not None:
            if m_ex:
                out = [joined[:m_ex.start()] + (m_ex.group(1) or "")]
            out.append(f"({repl})")
            continue
        sub = _Scope(scope.spark, scope)
        out.append("(" + _rewrite_scope(sub, inner) + ")")
        if sub.used_outer:
            scope.used_outer = True
    out.append(text[pos:])
    return "".join(out)


def _rewrite_from_list(scope: _Scope, text: str) -> str:
    items = _split_from_items(text)
    parts = []
    for joiner, item in items:
        rewritten, joiner_out = _rewrite_item(scope, item, joiner)
        parts.append((joiner_out, rewritten, item))
    # Join-order aid for pure comma lists that mix correlated lateral
    # chains with standalone base tables (tpch_nested q21: `supplier
    # s, customer c, c.c_orders o, o.o_lineitems l1, ...`): Spark's
    # ReorderJoin cannot move a plain relation past a LateralJoin, so
    # a standalone table BEFORE the chain becomes a real cartesian
    # (supplier x customer before the WHERE's equi key even exists).
    # Emitting owner chains first and standalone tables last keeps
    # semantics (comma = inner) and lets the filter collapse the top
    # cross joins into equi joins.
    if len(parts) > 2 \
            and any(r.lstrip().startswith("LATERAL")
                    for _, r, _ in parts) \
            and all(j.strip() in ("", ",") for j, _, _ in parts):
        heads = set()
        for _, _, orig in parts:
            pm = _PATH_ITEM.match(orig.strip())
            if pm:
                heads.add(pm.group(1).split(".")[0].lower())
        lateral_text = " ".join(
            r for _, r, _ in parts
            if r.lstrip().startswith("LATERAL")).lower()

        def standalone(t) -> bool:
            _, r, orig = t
            if r.lstrip().startswith("LATERAL") or not r.strip():
                return False
            tm = _TABLE_ITEM.match(orig.strip())
            if not tm:
                return False
            a = (tm.group(2) or tm.group(1)).lower()
            # an owner alias, or one referenced inside any lateral
            # item (subplan subqueries over t.<collection>), must
            # stay ahead of its dependents
            return a not in heads and not re.search(
                rf"(?<![\w.`]){re.escape(a)}\s*\.", lateral_text)

        tail = [t for t in parts if standalone(t)]
        chain = [t for t in parts if not standalone(t)]
        if tail and chain and len(tail) < len(parts):
            # moved items lose their original surrounding whitespace;
            # pad explicitly so the clause after the FROM list stays
            # separated
            reordered = chain + tail
            parts = [("", reordered[0][1] + " ",
                      reordered[0][2])] + [
                (" , ", r + " ", o) for _, r, o in reordered[1:]]
    out = []
    for joiner_out, rewritten, _orig in parts:
        out.append(joiner_out)
        out.append(rewritten)
    return "".join(out)


def _rewrite_item(scope: _Scope, item: str, joiner: str) -> tuple[str, str]:
    """Returns (rewritten item text, joiner text to emit)."""
    stripped = item.strip()
    outer_join = bool(re.search(r"\b(left|full|outer)\b", joiner,
                                re.IGNORECASE))
    if stripped.startswith("("):
        j = sqlscan.close_paren(stripped, 0)
        if j < 0:  # unbalanced — leave untouched
            return item, joiner
        inner, tail = stripped[1:j], stripped[j + 1:]
        alias = re.sub(r"(?i)^\s*as\s+", "", tail).strip()
        # row-local SubplanNode FROM shapes (filter/sort/limit/group
        # over a relative collection → HOFs + one inner lateral)
        if re.match(r"\s*select\b", inner, re.IGNORECASE) \
                and not re.search(r"(?i)\b(left|right|full|outer|anti|"
                                  r"semi)\b", joiner):
            sub_rel = _subplan_from_rel(scope, inner, alias)
            if sub_rel is not None:
                if alias:
                    scope.env[alias.lower()] = {}
                return f" LATERAL {sub_rel}{tail} ", joiner
        sub = _Scope(scope.spark, scope)
        new_inner = _rewrite_scope(sub, inner)
        lead = " LATERAL " if sub.used_outer else " "
        if alias:
            scope.env[alias.lower()] = {}
        return f"{lead}({new_inner}){tail} ", joiner

    m = _TABLE_ITEM.match(stripped)
    if m:
        name, alias = m.group(1), m.group(2) or m.group(1)
        schema = scope.table_schema(name)
        if schema is None:
            return item, joiner
        scope.env[alias.lower()] = _cols(schema)
        scope.table_items[alias.lower()] = name
        ctx = scope.ctx
        ctx["n"] += 1
        marker = f"\x01NPH{ctx['n']}\x01"
        ctx["markers"][marker] = (scope, alias.lower(), name, item)
        return marker, joiner

    m = _TABLE_ON_ITEM.match(stripped)
    if m and m.group(1).lower() not in ("select",):
        name, alias = m.group(1), m.group(2) or m.group(1)
        schema = scope.table_schema(name)
        if schema is not None:
            scope.env[alias.lower()] = _cols(schema)
            scope.table_items[alias.lower()] = name
        return item, joiner

    pm = _PATH_ON_ITEM.match(stripped)
    if pm:
        # `[LEFT OUTER] JOIN c.c_orders [o] ON (row-local pred)` —
        # when the ON condition references only the collection
        # element's fields, the reference plans a per-row SubplanNode:
        # the join IS a filter over the row's own array (tpch_nested
        # q13: `customer c left outer join c.c_orders on (o_comment
        # not like ...)`). Translate to an explode of the filtered
        # array — padded for OUTER (keep the customer with a NULL
        # order), plain for INNER. Non-row-local conditions fall
        # through to the pair-alias guard below.
        path, alias, cond = pm.group(1), pm.group(2), pm.group(3)
        segs = path.split(".")
        entry, from_outer = scope.lookup(segs[0])
        if entry is not None and len(segs) == 2:
            steps, final_t = _collect_steps(segs[0], entry, segs[1:])
            if final_t is not None and len(steps) == 1 \
                    and isinstance(final_t, ArrayType) \
                    and isinstance(final_t.elementType, StructType):
                fields = [f.name for f in final_t.elementType.fields]
                cond_text = cond.strip()
                if cond_text.startswith("(") and cond_text.endswith(")"):
                    cond_text = cond_text[1:-1]
                # row-local iff every identifier resolves to an
                # element field (alias-qualified or bare) or is a
                # keyword/function — probed by _elem_refs leaving no
                # other dotted/base refs behind
                a = alias or segs[-1]
                var = scope.fresh("__jv")
                pred = _elem_refs(cond_text, a, fields, var)
                # a dotted ref to anything but the lambda variable
                # (another exploded alias, e.g. o1.pos) is not
                # row-local — keep the pair-alias guard for those
                other_refs = False
                if pred is not None:
                    shadow_p = re.sub(
                        rf"(?i)(?<![\w.`]){re.escape(var)}\.\w+",
                        "", sqlscan.shadow(pred))
                    other_refs = bool(re.search(
                        r"(?i)(?<![\w.`'])[A-Za-z_]\w*\s*\.\s*"
                        r"[A-Za-z_]", shadow_p))
                if pred is not None and not other_refs:
                    arr = steps[0][1]
                    arr_f = (f"filter({arr}, {var} -> "
                             f"coalesce({pred}, false))")
                    if from_outer:
                        scope.used_outer = True
                    scope.env[a.lower()] = _lv_cols(final_t)
                    scope.path_items[a.lower()] = path.lower()
                    el_ddl = final_t.elementType.simpleString()
                    sel = ["pos", "item"]
                    sel += [f"item.{f} as {f}" for f in fields
                            if f.lower() not in ("pos", "item")]
                    if outer_join:
                        empty = (f"({arr_f} is null or "
                                 f"size({arr_f}) = 0)")
                        sel[0] = (f"case when {empty} then "
                                  f"cast(null as int) else pos end "
                                  f"as pos")
                        rel = (f"(select {', '.join(sel)} from "
                               f"(select posexplode(if({empty}, "
                               f"array(cast(null as {el_ddl})), "
                               f"{arr_f})) as (pos, item))) {a}")
                    else:
                        rel = (f"(select {', '.join(sel)} from "
                               f"(select posexplode({arr_f}) as "
                               f"(pos, item))) {a}")
                    return f" LATERAL {rel} ", " , "

    if pm and not outer_join:
        # `JOIN c.c_orders o2 ON (o1.pos = o2.pos)` — a FROM-level
        # pair join of one collection under two aliases.
        # (r10) The pos-EQUALITY pair over the SAME collection is
        # translated: both aliases explode the identical in-row
        # array, so matching positions means the second alias is a
        # row-local 1:1 projection of the first — a FROM-less
        # LATERAL subquery over the sibling alias, zero shuffle,
        # zero decorrelation (nested-types-tpch.test block 11).
        path2, alias2, cond2 = pm.group(1), pm.group(2), pm.group(3)
        a2 = (alias2 or path2.split(".")[-1]).lower()
        ct = cond2.strip()
        while ct.startswith("(") and ct.endswith(")"):
            ct = ct[1:-1].strip()
        em = re.match(
            rf"^({_IDENT})\s*\.\s*pos\s*=\s*({_IDENT})\s*\.\s*pos$",
            ct, re.IGNORECASE)
        if em:
            x, y = em.group(1).lower(), em.group(2).lower()
            other = y if x == a2 else (x if y == a2 else None)
            if other and other in scope.env \
                    and scope.path_items.get(other) == path2.lower():
                cols = scope.env[other]
                sel = ", ".join(f"{other}.{c} as {c}" for c in cols)
                scope.env[a2] = dict(cols)
                scope.path_items[a2] = path2.lower()
                return f" LATERAL (select {sel}) {a2} ", " JOIN "
        # (r11) GENERAL pair conditions (`o1.pos < o2.pos`, element
        # field comparisons) over the SAME collection path: row-local
        # HOF pair enumeration. The second alias explodes the in-row
        # index set FILTERED by the pair condition, with every
        # correlated reference (the array, the sibling alias's
        # columns) kept INSIDE the one generator argument — the r9
        # probes that decorrelated into an array-keyed domain join
        # (Exchange hashpartitioning on the whole nested array) all
        # had the condition OUTSIDE the generator, as a lateral
        # ON / WHERE. Zero shuffle, zero decorrelation; the first
        # alias's relation is untouched.
        quals = {q.lower() for q in re.findall(
            rf"(?<![\w.`])({_IDENT})\s*\.", ct)}
        other = next((q for q in sorted(quals)
                      if q != a2 and scope.path_items.get(q)
                      == path2.lower()), None)
        if other and quals <= {a2, other}:
            segs2 = path2.split(".")
            entry2, _fo = scope.lookup(segs2[0])
            if entry2 is not None:
                steps2, final2 = _collect_steps(segs2[0], entry2,
                                                segs2[1:])
                if final2 is not None and len(steps2) == 1 \
                        and isinstance(final2, ArrayType):
                    arr2 = steps2[0][1]
                    fields2 = ([f.name
                                for f in final2.elementType.fields]
                               if isinstance(final2.elementType,
                                             StructType) else [])
                    vj = scope.fresh("__pj")
                    ai = f"{arr2}[{vj}]"
                    a2p = re.escape(a2)
                    c2 = re.sub(rf"(?i)(?<![\w.`]){a2p}\s*\.\s*"
                                rf"pos\b", vj, ct)
                    c2 = re.sub(rf"(?i)(?<![\w.`]){a2p}\s*\.\s*"
                                rf"item\s*\.\s*(\w+)",
                                lambda mm: f"{ai}.{mm.group(1)}", c2)
                    c2 = re.sub(rf"(?i)(?<![\w.`]){a2p}\s*\.\s*"
                                rf"item\b", lambda mm: ai, c2)
                    c2 = re.sub(rf"(?i)(?<![\w.`]){a2p}\s*\.\s*"
                                rf"(\w+)",
                                lambda mm: f"{ai}.{mm.group(1)}", c2)
                    ve, vz = scope.fresh("__pe"), scope.fresh("__pz")
                    idxs = f"transform({arr2}, ({ve}, {vj}) -> {vj})"
                    pairs = (f"transform(filter({idxs}, {vj} -> "
                             f"coalesce({c2}, false)), {vz} -> "
                             f"named_struct('pos', {vz}, 'item', "
                             f"{arr2}[{vz}]))")
                    vv = scope.fresh("__pv")
                    sel2 = [f"{vv}.pos as pos", f"{vv}.item as item"]
                    sel2 += [f"{vv}.item.{f} as {f}" for f in fields2
                             if f.lower() not in ("pos", "item")]
                    scope.env[a2] = _lv_cols(final2)
                    scope.path_items[a2] = path2.lower()
                    rel = (f"(select {', '.join(sel2)} from "
                           f"(select explode({pairs}) as {vv})) {a2}")
                    return f" LATERAL {rel} ", " JOIN "
        # Remaining shapes (bare-field refs, a third alias in the
        # condition, different collection paths) stay the documented
        # blocker — DIALECT.md subplan-pair-alias.
        return item, joiner

    m = _PATH_ITEM.match(stripped)
    if not m:
        return item, joiner
    path, alias = m.group(1), m.group(2)
    segs = path.split(".")
    head = segs[0]
    alias = alias or segs[-1]

    entry, from_outer = scope.lookup(head)
    if entry is not None:
        steps, final_t = _collect_steps(head, entry, segs[1:])
        if final_t is None:
            return item, joiner
        # `c LEFT SEMI/ANTI JOIN c.c_orders` tests only the collection's
        # emptiness — a row-local predicate, not a join (the reference
        # plans it as a SubplanNode with a nested-loop semi/anti over
        # the in-row collection; a real join would shuffle the full
        # nested column as a key). Single-segment relative paths only.
        anti_semi = re.search(r"\b(anti|semi)\b", joiner, re.IGNORECASE)
        if (anti_semi and len(segs) == 2 and not from_outer
                and re.search(r"\bleft\b", joiner, re.IGNORECASE)):
            if anti_semi.group(1).lower() == "anti":
                pred = f"({path} is null or size({path}) = 0)"
            else:
                pred = f"(size({path}) > 0)"
            scope.pending_preds.append(pred)
            return "", " "
        if from_outer:
            scope.used_outer = True
        d0, e0 = steps[0]
        if e0.lower().startswith(head.lower() + ".") \
                and (e0.count(".") >= 2 or len(steps) > 1):
            owning = scope.owning_scope(head)
            if owning is not None \
                    and head.lower() in owning.table_items:
                hname = owning.request_hoist(head, e0[len(head) + 1:])
                steps[0] = (d0, f"{head}.{hname}")
        rels = _build_lateral_chain(scope, steps, final_t, alias)
        scope.env[alias.lower()] = _lv_cols(final_t)
        scope.path_items[alias.lower()] = path.lower()
        # an alias-rooted relation is correlated -> Spark LATERAL;
        # LEFT/OUTER joins keep collection-less rows (subplan OUTER)
        if outer_join:
            # single-step ARRAY outer: explode a NULL-padded array via
            # an INNER lateral instead of OUTER JOIN LATERAL — Spark
            # decorrelates the latter into a SortMergeJoin KEYED ON THE
            # WHOLE NESTED ARRAY (shuffles every byte of the collection
            # column twice); the padded form stays a single Generate
            # with nested-field pruning intact. pos is re-NULLed on
            # padded rows (a genuine null element keeps its position).
            if (len(steps) == 1 and isinstance(final_t, ArrayType)
                    and not re.search(r"\bfull\b", joiner, re.IGNORECASE)):
                arr = steps[0][1]
                el_ddl = final_t.elementType.simpleString()
                empty = f"({arr} is null or size({arr}) = 0)"
                sel = [f"case when {empty} then cast(null as int) "
                       f"else pos end as pos", "item"]
                if isinstance(final_t.elementType, StructType):
                    sel += [f"item.{f.name} as {f.name}"
                            for f in final_t.elementType.fields
                            if f.name.lower() not in ("pos", "item")]
                rel = (f"(select {', '.join(sel)} from (select "
                       f"posexplode(if({empty}, array(cast(null as "
                       f"{el_ddl})), {arr})) as (pos, item))) {alias}")
                return f" LATERAL {rel} ", " , "
            if len(rels) == 1:
                # map-typed correlated refs are rejected by Spark's
                # DecorrelateInnerQuery inside OUTER JOIN LATERAL
                # (UNSUPPORTED_CORRELATED_REFERENCE_DATA_TYPE);
                # LATERAL VIEW OUTER expresses the same keep-empty
                # semantics without a correlated subquery
                if isinstance(final_t, MapType):
                    mlv = re.match(
                        r"\(select (\w+\([^()]*(?:\([^()]*\)[^()]*)*\))"
                        r" as \(([^)]*)\)\) (\w+)$", rels[0])
                    if mlv:
                        return (f" LATERAL VIEW OUTER {mlv.group(1)} "
                                f"{mlv.group(3)} AS {mlv.group(2)} ",
                                " ")
                return f" LATERAL {rels[0]} ON true ", " LEFT OUTER JOIN "
            joined = " , LATERAL ".join(rels[:-1])
            return (f" LATERAL {joined} LEFT OUTER JOIN LATERAL "
                    f"{rels[-1]} ON true ", joiner)
        return " LATERAL " + " , LATERAL ".join(rels) + " ", joiner

    schema = scope.table_schema(head)
    if schema is None:
        return item, joiner
    steps, final_t = _collect_steps("@base", _cols(schema), segs[1:])
    if final_t is None:
        return item, joiner
    rel = _build_relation(scope, steps, final_t, alias, head)
    scope.env[alias.lower()] = _lv_cols(final_t)
    scope.path_items[alias.lower()] = path.lower()
    if outer_join:
        return f" {rel} ON true ", " LEFT OUTER JOIN "
    return f" {rel} ", joiner


# a dotted token directly after FROM/JOIN, or a comma-joined dotted
# item (possibly aliased) ending at a clause boundary — may
# over-match select lists, in which case the rewriter is a no-op
_PATH_HINT = re.compile(
    rf"\b(?:from|join)\s+{_IDENT}(?:\.{_IDENT})+"
    rf"|,\s*{_IDENT}(?:\.{_IDENT})+(?:\s+(?:as\s+)?{_IDENT})?\s*"
    r"(?=,|$|\)|\bjoin\b|\bwhere\b|\bgroup\b|\border\b|\blimit\b|"
    r"\bleft\b|\bright\b|\bfull\b|\binner\b|\bcross\b|\bunion\b)",
    re.IGNORECASE)


# ---------------------------------------------------------------------------
# SubplanNode row-local translation (round 7).
#
# The reference evaluates subqueries over a row's own collection
# (`exists (select ... from c.c_orders ...)`, `(select avg(x) from
# c.c_orders)`, `(select * from c.c_orders order by f limit 2) v`)
# with a per-row SubplanNode (be/src/exec/subplan-node.h). Spark's
# generic decorrelation of such correlated subqueries builds a domain
# join KEYED ON THE COLLECTION VALUE — it broadcasts/shuffles every
# byte of the nested column, which is catastrophic at scale (and OOMs
# at sf1 locally). These helpers translate the common shapes into
# higher-order functions over the array: zero joins, zero shuffles,
# exactly the SubplanNode cost model.
# ---------------------------------------------------------------------------

def _sub_outside_strings(text: str, fn) -> str:
    """Apply fn to the segments of `text` outside string literals."""
    # the shadow keeps only the quotes that delimit literals (escaped
    # quotes, comments and identifiers are blanked), so they pair up
    # in order; an odd one opens a literal that runs to the end
    quotes = [m.start() for m in re.finditer(r"['\"]", sqlscan.shadow(text))]
    out, start = [], 0
    for lo, hi in zip(quotes[::2], quotes[1::2] + [len(text) - 1]):
        out.append(fn(text[start:lo]))
        out.append(text[lo:hi + 1])
        start = hi + 1
    out.append(fn(text[start:]))
    return "".join(out)


def _elem_refs(text: str, alias: str | None, fields: list[str],
               var: str) -> str | None:
    """Rewrite element references (`o.f`, `o.item[.f]`, bare field
    names, bare `item`) to lambda-variable access. Outer-alias refs
    pass through untouched (valid inside a HOF lambda — same row).
    Returns None when the text needs `pos` — a HOF lambda has no
    element position, so the caller must fall back."""
    low = {f.lower() for f in fields}
    bail: list[int] = []

    def seg(s: str) -> str:
        if alias:
            a = re.escape(alias)
            if re.search(rf"(?i)(?<![\w.`]){a}\.pos\b", s):
                bail.append(1)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.item\.(\w+)",
                       rf"{var}.\1", s)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.item\b", var, s)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.(\w+)",
                       rf"{var}.\1", s)
        if fields:
            pat = re.compile(
                r"(?i)(?<![\w.`'])("
                + "|".join(map(re.escape,
                               sorted(fields, key=len, reverse=True)))
                + r")\b(?!\s*\()")
            s = pat.sub(lambda m: f"{var}.{m.group(1)}", s)
        if "item" not in low:
            s = re.sub(r"(?i)(?<![\w.`'])item\b(?!\s*\()", var, s)
        if "pos" not in low and re.search(
                r"(?i)(?<![\w.`'])pos\b(?!\s*\()", s):
            bail.append(1)
        return s

    out = _sub_outside_strings(text, seg)
    return None if bail else out


def _split_clauses(inner: str) -> dict | None:
    """Parse a flat `select ... from <dotted-path> [alias] [where]
    [group by] [order by] [limit]` subquery. None if it has joins,
    commas in FROM, nested selects, DISTINCT, or HAVING."""
    if re.search(r"(?is)\(\s*select\b", inner):
        return None
    m = re.match(r"(?is)\s*select\s+(?!distinct\b)(?P<sel>.*?)\s+from\s+"
                 r"(?P<path>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)"
                 r"(?:\s+(?:as\s+)?"
                 r"(?P<alias>(?!where\b|group\b|order\b|limit\b|on\b|"
                 r"join\b|having\b)[A-Za-z_]\w*))?"
                 r"(?P<rest>.*)$", inner)
    if not m:
        return None
    rest = m.group("rest")
    if re.match(r"(?is)\s*(,|join\b|left\b|right\b|inner\b|cross\b)",
                rest):
        return None
    cl = {"sel": m.group("sel").strip(), "path": m.group("path"),
          "alias": m.group("alias"), "where": None, "group": None,
          "order": None, "limit": None}
    pat = re.compile(r"(?is)\b(where|group\s+by|order\s+by|limit|having)\b")
    pos = 0
    pieces = []
    for km in pat.finditer(rest):
        pieces.append((km.group(1).lower(), km.start(), km.end()))
    for k, (kw, s, e) in enumerate(pieces):
        end = pieces[k + 1][1] if k + 1 < len(pieces) else len(rest)
        body = rest[e:end].strip()
        key = kw.split()[0]
        if key == "having":
            return None
        cl[key] = body
    head = rest[:pieces[0][1]] if pieces else rest
    if head.strip():
        return None
    return cl


def _resolve_rel_array(scope: "_Scope", path: str):
    """(head, arr_expr, fields) for a single-step alias-rooted
    array-of-struct path; None otherwise."""
    segs = path.split(".")
    head = segs[0]
    entry, _ = scope.lookup(head)
    if entry is None:
        return None
    steps, final_t = _collect_steps(head, entry, segs[1:])
    if final_t is None or len(steps) != 1:
        return None
    if isinstance(final_t, MapType):
        # a relative MAP collection enters the HOF machinery as its
        # entry array (key/value struct elements) — Spark rejects a
        # correlated MAP-type reference outright
        # (UNSUPPORTED_CORRELATED_REFERENCE_DATA_TYPE), but the
        # row-local map_entries array needs no decorrelation at all
        return head, f"map_entries({steps[0][1]})", ["key", "value"]
    if not isinstance(final_t, ArrayType) \
            or not isinstance(final_t.elementType, StructType):
        return None
    return head, steps[0][1], [f.name for f in final_t.elementType.fields]


def _probe_elem_type(scope: "_Scope", head: str, expr: str):
    """Element DataType of an array expression, by Spark analysis over
    the alias's base table. None if unresolvable (→ caller bails)."""
    owner = scope.owning_scope(head)
    tbl = owner.table_items.get(head.lower()) if owner else None
    if tbl is None:
        return None
    try:
        dt = scope.spark.table(tbl).alias(head) \
            .selectExpr(f"{expr} as __p").schema[0].dataType
        return dt.elementType if isinstance(dt, ArrayType) else dt
    except _PYSPARK_ERR:  # unresolvable path probe
        return None


def _sum_type(dt: DataType) -> str:
    if isinstance(dt, DecimalType):
        return f"decimal(38,{dt.scale})"  # reference: SUM(DECIMAL(p,s))
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    return "double"


_AGG_RE = re.compile(r"(?is)^\s*(count|sum|avg|min|max)\s*\((.*)\)\s*$")


def _agg_hof(scope: "_Scope", head: str, func: str, arg: str,
             arr_f: str, fields: list[str], alias: str | None,
             probe_arr: str | None = None):
    """One aggregate over a (filtered) array as a HOF expression.
    None if the shape can't be typed. `probe_arr`: standalone-valid
    array expr for the type probe when arr_f itself references free
    lambda variables (the group-by per-key filter)."""
    func = func.lower()
    arr_f = f"coalesce({arr_f}, array())"  # NULL collection == empty
    if func == "count" and arg.strip() == "*":
        return f"cast(size({arr_f}) as bigint)"
    var = scope.fresh("__sv")
    argx = _elem_refs(arg, alias, fields, var)
    if argx is None:
        return None
    vals = f"transform({arr_f}, {var} -> {argx})"
    nn = f"filter({vals}, __nnv -> __nnv is not null)"
    if func == "count":
        return f"cast(size({nn}) as bigint)"
    if func == "min":
        return f"array_min({nn})"
    if func == "max":
        return f"array_max({nn})"
    probe = vals if probe_arr is None else \
        f"transform({probe_arr}, {var} -> {argx})"
    elem_t = _probe_elem_type(scope, head, probe)
    if elem_t is None:
        return None
    st = _sum_type(elem_t)
    sum_expr = (f"aggregate({nn}, cast(null as {st}), (__acc, __v) -> "
                f"case when __acc is null then __v "
                f"else __acc + __v end)")
    if func == "sum":
        return sum_expr
    if isinstance(elem_t, DecimalType):
        # reference avg(DECIMAL) result scale 6 (ScalarType.java)
        return f"cast({sum_expr} / size({nn}) as decimal(38,6))"
    return f"cast({sum_expr} as double) / nullif(size({nn}), 0)"


def _subplan_where_expr(scope: "_Scope", inner: str,
                        exists_ctx: bool) -> str | None:
    """EXISTS/scalar-agg subquery over a relative collection → boolean
    or scalar HOF expression (row-local)."""
    cl = _split_clauses(inner)
    if cl is None or cl["group"] or cl["order"] or cl["limit"]:
        return None
    r = _resolve_rel_array(scope, cl["path"])
    if r is None:
        return None
    head, arr, fields = r
    alias = cl["alias"]
    arr_f = arr
    if cl["where"]:
        var = scope.fresh("__sv")
        pred = _elem_refs(cl["where"], alias, fields, var)
        if pred is None:
            return None
        arr_f = f"filter({arr}, {var} -> coalesce({pred}, false))"
    if exists_ctx:
        return f"coalesce(size({arr_f}) > 0, false)"
    m = _AGG_RE.match(cl["sel"])
    if not m:
        return None
    return _agg_hof(scope, head, m.group(1), m.group(2), arr_f,
                    fields, alias)


def _order_comparator(ordspec: str, alias: str | None,
                      fields: list[str], va: str, vb: str) -> str | None:
    """array_sort comparator for `f1 [asc|desc], f2 ...` (reference
    default null ordering: last for asc, first for desc)."""
    terms = []
    for item in ordspec.split(","):
        m = re.match(r"(?is)^\s*(.+?)\s*(asc|desc)?"
                     r"\s*(?:nulls\s+(first|last))?\s*$", item)
        if not m:
            return None
        key, direction = m.group(1), (m.group(2) or "asc").lower()
        nulls = (m.group(3) or
                 ("last" if direction == "asc" else "first")).lower()
        ka = _elem_refs(key, alias, fields, va)
        kb = _elem_refs(key, alias, fields, vb)
        if ka is None or kb is None:
            return None
        lo, hi = ("-1", "1") if direction == "asc" else ("1", "-1")
        nl, nh = ("1", "-1") if nulls == "last" else ("-1", "1")
        terms.append(
            f"case when {ka} is null and {kb} is null then 0 "
            f"when {ka} is null then {nl} when {kb} is null then {nh} "
            f"when {ka} < {kb} then {lo} when {ka} > {kb} then {hi} "
            f"else 0 end")
    if len(terms) == 1:
        return terms[0]
    # lexicographic chain
    expr = terms[-1]
    for t in reversed(terms[:-1]):
        expr = f"case when ({t}) <> 0 then ({t}) else ({expr}) end"
    return expr


def _parse_union_branches(inner: str) -> list[tuple[str, str | None]]:
    """[(branch_text, union_mode_before)] — top-level UNION split;
    mode is 'all' or 'distinct' (bare UNION = distinct)."""
    out, start, mode = [], 0, None
    for m in _UNION.finditer(sqlscan.top_level(inner)):
        out.append((inner[start:m.start()], mode))
        mode = (m.group(2) or "distinct").lower()
        start = m.end()
    out.append((inner[start:], mode))
    return out


def _parse_subq(text: str) -> dict | None:
    """Multi-item variant of _split_clauses: FROM may hold several
    comma/JOIN items, each `path [alias] [on cond]` or a
    parenthesized subquery (handled recursively by the caller)."""
    m = re.match(r"(?is)\s*select\s+(?P<dist>distinct\s+)?(?P<sel>.*?)"
                 r"\s+from\s+(?P<rest>.*)$", text)
    if not m:
        return None
    rest = m.group("rest")
    pat = re.compile(
        r"(?is)\b(where|group\s+by|order\s+by|limit|having)\b")
    pieces = [(km.group(1).lower(), km.start(), km.end())
              for km in pat.finditer(rest)]
    cl = {"sel": m.group("sel").strip(),
          "distinct": bool(m.group("dist")),
          "where": None, "group": None, "order": None, "limit": None}
    for k, (kw, s0, e0) in enumerate(pieces):
        endp = pieces[k + 1][1] if k + 1 < len(pieces) else len(rest)
        key = kw.split()[0]
        if key == "having":
            return None
        cl[key] = rest[e0:endp].strip()
    fromtext = rest[:pieces[0][1]] if pieces else rest
    items = []
    for joiner, item in _split_from_items(fromtext):
        pm = re.match(rf"(?is)^\s*\((?P<sub>.*)\)\s*(?:as\s+)?"
                      rf"(?P<alias>{_IDENT})?\s*$", item)
        if pm:
            items.append((joiner.strip().lower(), None,
                          pm.group("alias"), None, pm.group("sub")))
            continue
        im = re.match(
            rf"(?is)^\s*(?P<path>{_IDENT}(?:\.{_IDENT})+)"
            rf"(?:\s+(?:as\s+)?(?P<alias>(?!on\b|where\b|group\b|"
            rf"order\b|limit\b){_IDENT}))?"
            r"(?:\s+on\s+(?P<on>.*?))?\s*$", item)
        if not im:
            return None
        items.append((joiner.strip().lower(), im.group("path"),
                      im.group("alias"), im.group("on"), None))
    if not items:
        return None
    # nested selects are only supported as the FROM item itself
    for part in ("sel", "where", "group", "order", "limit"):
        if cl[part] and re.search(r"(?is)\(\s*select\b", cl[part]):
            return None
    cl["items"] = items
    return cl


def _resolve_rel_array2(scope: "_Scope", path: str):
    """Like _resolve_rel_array but also returns the element
    StructType (for typed NULL padding)."""
    segs = path.split(".")
    head = segs[0]
    entry, _ = scope.lookup(head)
    if entry is None:
        return None
    steps, final_t = _collect_steps(head, entry, segs[1:])
    if final_t is None or len(steps) != 1:
        return None
    if isinstance(final_t, MapType):
        # see _resolve_rel_array: MAP collection -> entry array
        et = StructType([StructField("key", final_t.keyType, False),
                         StructField("value", final_t.valueType)])
        return head, f"map_entries({steps[0][1]})", ["key", "value"], et
    if not isinstance(final_t, ArrayType) \
            or not isinstance(final_t.elementType, StructType):
        return None
    return head, steps[0][1], \
        [f.name for f in final_t.elementType.fields], final_t.elementType


def _lambda_refs(text: str, amap: dict) -> str | None:
    """Rewrite refs against several aliases to their lambda vars.
    amap: alias -> (var_expr, fields). None on pos refs or ambiguous
    bare fields."""
    bail: list[int] = []
    owners: dict = {}
    for al, (var, fields) in amap.items():
        for f in fields:
            owners.setdefault(f.lower(), []).append((var, f))
    unique = {f: v[0] for f, v in owners.items() if len(v) == 1}
    amb = [f for f, v in owners.items() if len(v) > 1]

    def seg(s: str) -> str:
        for al, (var, fields) in amap.items():
            if al is None:
                continue
            a = re.escape(al)
            if re.search(rf"(?i)(?<![\w.`]){a}\.pos\b", s):
                bail.append(1)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.item\.(\w+)",
                       rf"{var}.\1", s)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.item\b", var, s)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.(\w+)", rf"{var}.\1", s)
        if unique:
            pat = re.compile(
                r"(?i)(?<![\w.`'])("
                + "|".join(map(re.escape,
                               sorted(unique, key=len, reverse=True)))
                + r")\b(?!\s*\()")
            s = pat.sub(
                lambda mm: f"{unique[mm.group(1).lower()][0]}."
                           f"{unique[mm.group(1).lower()][1]}", s)
        if amb:
            pat2 = re.compile(
                r"(?i)(?<![\w.`'])(" + "|".join(map(re.escape, amb))
                + r")\b(?!\s*\()")
            if pat2.search(s):
                bail.append(1)
        if re.search(r"(?i)(?<![\w.`'])pos\b(?!\s*\()", s) \
                and "pos" not in owners:
            bail.append(1)
        return s

    out = _sub_outside_strings(text, seg)
    return None if bail else out


_OVER_RE = re.compile(
    r"(?is)^\s*(count|sum|avg|min|max)\s*\((.*?)\)\s*over\s*"
    r"\(\s*(?:partition\s+by\s+(.+?))?\s*\)\s*$")

# row_number() over an ORDER BY of the collection's own fields — a
# row-local ranking: sort the tuple array by the spec, then number by
# the index-aware transform lambda (no partition clause: the window
# spans the one row's collection)
_RN_OVER_RE = re.compile(
    r"(?is)^\s*row_number\s*\(\s*\)\s*over\s*"
    r"\(\s*order\s+by\s+(.+?)\s*\)\s*$")


def _sel_items(sel: str) -> list[tuple[str, str | None]]:
    out = []
    for item in sqlscan.split_top(sel):
        im = re.match(r"(?is)^\s*(.*?)(?:\s+(?:as\s+)?"
                      r"([A-Za-z_]\w*))?\s*$", item)
        out.append((im.group(1), im.group(2)))
    return out


def _single_tuple_array(scope: "_Scope", cl: dict,
                        want_cols: list | None, source=None):
    """(array_expr, cols, head) for a one-collection branch. Elements
    are structs named by the select list (or the raw elements for *).
    `source`: (head, arr_expr, fields) for a pre-built tuple array
    (parenthesized FROM subquery) instead of a path."""
    joiner, path, alias, on, _sub = cl["items"][0]
    if on or re.search(r"(?i)\b(left|right|full|outer|anti|semi)\b",
                       joiner):
        return None
    if source is not None:
        head, arr, fields = source
    else:
        r = _resolve_rel_array2(scope, path)
        if r is None:
            return None
        head, arr, fields, _et = r
    arr_f = arr
    if cl["where"]:
        var = scope.fresh("__sv")
        pred = _elem_refs(cl["where"], alias, fields, var)
        if pred is None:
            return None
        arr_f = f"filter({arr}, {var} -> coalesce({pred}, false))"

    if cl["group"]:
        if cl["order"] or cl["limit"] or cl["distinct"]:
            return None
        gkeys = [g.strip() for g in cl["group"].split(",") if g.strip()]
        if len(gkeys) != 1:
            return None
        var = scope.fresh("__sv")
        gkey = _elem_refs(gkeys[0], alias, fields, var)
        if gkey is None:
            return None
        keys = f"array_distinct(transform({arr_f}, {var} -> {gkey}))"
        # One struct per group, computed entirely INSIDE the single
        # generator argument: a second correlated ref outside it
        # forces Spark's domain-join decorrelation, keyed on the
        # collection value.
        kv = scope.fresh("__sk")
        var2 = scope.fresh("__sv")
        gkey2 = _elem_refs(gkeys[0], alias, fields, var2)
        if gkey2 is None:
            return None
        per_key = f"filter({arr_f}, {var2} -> ({gkey2} <=> {kv}))"
        pairs, names = [], []
        for k, (expr, oname) in enumerate(_sel_items(cl["sel"])):
            am = _AGG_RE.match(expr)
            if am and not _OVER_RE.match(expr):
                hof = _agg_hof(scope, head, am.group(1), am.group(2),
                               per_key, fields, alias, probe_arr=arr_f)
                if hof is None:
                    return None
                name = oname or f"__c{k}"
                pairs.append(f"'{name}', {hof}")
            else:
                if expr.strip().lower() != gkeys[0].strip().lower():
                    return None
                name = oname or expr.strip().split(".")[-1]
                pairs.append(f"'{name}', {kv}")
            names.append(name)
        return (f"transform({keys}, {kv} -> "
                f"named_struct({', '.join(pairs)}))"), names, head

    if cl["order"]:
        va, vb = scope.fresh("__sa"), scope.fresh("__sb")
        cmp_ = _order_comparator(cl["order"], alias, fields, va, vb)
        if cmp_ is None:
            return None
        arr_f = f"array_sort({arr_f}, ({va}, {vb}) -> {cmp_})"
    if cl["limit"]:
        if not re.fullmatch(r"\d+", cl["limit"].strip()):
            return None
        arr_f = f"slice({arr_f}, 1, {cl['limit'].strip()})"

    items = _sel_items(cl["sel"]) if cl["sel"].strip() != "*" else None
    if items is None:
        if cl["distinct"]:
            arr_f = f"array_distinct({arr_f})"
        return arr_f, list(fields), head

    aggs = [bool(_AGG_RE.match(e) and not _OVER_RE.match(e))
            for e, _ in items]
    overs = [bool(_OVER_RE.match(e)) for e, _ in items]
    if all(aggs) and items:
        # global aggregate: a one-row relation per parent
        pairs, names = [], []
        for k, (expr, oname) in enumerate(items):
            am = _AGG_RE.match(expr)
            hof = _agg_hof(scope, head, am.group(1), am.group(2),
                           arr_f, fields, alias)
            if hof is None:
                return None
            name = oname or f"__c{k}"
            pairs.append(f"'{name}', {hof}")
            names.append(name)
        return f"array(named_struct({', '.join(pairs)}))", names, head
    if any(aggs):
        return None

    var = scope.fresh("__sv")
    idx = None
    rn_specs = {m.group(1).strip().lower()
                for m in (_RN_OVER_RE.match(e) for e, _ in items) if m}
    if rn_specs:
        if len(rn_specs) != 1:
            return None
        va, vb = scope.fresh("__sa"), scope.fresh("__sb")
        cmp_ = _order_comparator(next(iter(rn_specs)), alias, fields,
                                 va, vb)
        if cmp_ is None:
            return None
        arr_f = f"array_sort({arr_f}, ({va}, {vb}) -> {cmp_})"
        idx = scope.fresh("__sx")
    pairs, names = [], []
    for k, (expr, oname) in enumerate(items):
        if expr.strip() == "*":
            for f in fields:
                pairs.append(f"'{f}', {var}.{f}")
                names.append(f)
            continue
        rm = _RN_OVER_RE.match(expr)
        if rm:
            name = oname or f"__c{k}"
            pairs.append(f"'{name}', cast({idx} + 1 as bigint)")
            names.append(name)
            continue
        om = _OVER_RE.match(expr)
        if om:
            fn, arg, part = om.group(1), om.group(2), om.group(3)
            if part is not None:
                y = scope.fresh("__sw")
                px = _elem_refs(part, alias, fields, var)
                py = _elem_refs(part, alias, fields, y)
                if px is None or py is None:
                    return None
                sub_arr = f"filter({arr_f}, {y} -> ({py} <=> {px}))"
            else:
                sub_arr = arr_f
            hof = _agg_hof(scope, head, fn, arg, sub_arr, fields,
                           alias, probe_arr=arr_f)
            if hof is None:
                return None
            name = oname or f"__c{k}"
            pairs.append(f"'{name}', {hof}")
            names.append(name)
            continue
        ex = _elem_refs(expr, alias, fields, var)
        if ex is None:
            return None
        name = oname or (expr.strip().split(".")[-1]
                         if re.fullmatch(r"[\w.]+", expr.strip())
                         else f"__c{k}")
        pairs.append(f"'{name}', {ex}")
        names.append(name)
    lam = (f"({var}, {idx}) ->" if idx is not None else f"{var} ->")
    out = f"transform({arr_f}, {lam} named_struct({', '.join(pairs)}))"
    if cl["distinct"]:
        out = f"array_distinct({out})"
    if cl["limit"]:
        if not re.fullmatch(r"\d+", cl["limit"].strip()):
            return None
        out = f"slice({out}, 1, {cl['limit'].strip()})"
    return out, names, head


def _multi_tuple_array(scope: "_Scope", cl: dict):
    """Row-local join of several relative collections: nested
    transform/flatten builds the tuple array (the reference's nested
    SubplanNode nested-loop join), then ON/WHERE filter and the select
    list project it. Supports N-way inner/cross and 2-way LEFT/RIGHT
    OUTER ON."""
    if cl["group"] or cl["order"]:
        return None
    if cl["limit"] and not re.fullmatch(r"\d+", cl["limit"].strip()):
        return None
    resolved = []
    for joiner, path, alias, on, sub in cl["items"]:
        if sub is not None:
            return None
        r = _resolve_rel_array2(scope, path)
        if r is None:
            return None
        head, arr, fields, et = r
        al = (alias or path.split(".")[-1]).lower()
        resolved.append({"joiner": joiner, "arr": arr, "fields": fields,
                         "et": et, "alias": al, "on": on, "head": head})
    aliases = [it["alias"] for it in resolved]
    if len(set(aliases)) != len(aliases):
        return None
    outer_at = [k for k, it in enumerate(resolved)
                if re.search(r"\b(left|right|full)\b", it["joiner"],
                             re.IGNORECASE)]
    if any(re.search(r"\b(anti|semi|full)\b", it["joiner"],
                     re.IGNORECASE) for it in resolved):
        return None

    vars_ = [scope.fresh("__sj") for _ in resolved]
    pref = {it["alias"]: it["alias"] + "__" for it in resolved}
    ns_pairs = []
    for k, it in enumerate(resolved):
        for f in it["fields"]:
            ns_pairs.append(f"'{pref[it['alias']]}{f}', {vars_[k]}.{f}")
    ns = f"named_struct({', '.join(ns_pairs)})"
    amap_lambda = {it["alias"]: (vars_[k], it["fields"])
                   for k, it in enumerate(resolved)}

    if outer_at:
        if len(resolved) != 2 or outer_at != [1] \
                or not resolved[1]["on"]:
            return None
        it1, it2 = resolved
        right = bool(re.search(r"\bright\b", it2["joiner"],
                               re.IGNORECASE))
        outer_it, inner_it = (it2, it1) if right else (it1, it2)
        outer_var, inner_var = (vars_[1], vars_[0]) if right \
            else (vars_[0], vars_[1])
        cond = _lambda_refs(it2["on"], amap_lambda)
        if cond is None:
            return None
        matched = (f"filter({inner_it['arr']}, {inner_var} -> "
                   f"coalesce({cond}, false))")
        null_inner = f"cast(null as {inner_it['et'].simpleString()})"
        ns_null = ns.replace(f"{inner_var}.", f"{null_inner}.")
        tuples = (f"flatten(transform({outer_it['arr']}, {outer_var} ->"
                  f" if(size({matched}) = 0, array({ns_null}), "
                  f"transform({matched}, {inner_var} -> {ns}))))")
    else:
        conds = []
        for it in resolved:
            if it["on"]:
                conds.append(it["on"])
        tuples = f"transform({resolved[-1]['arr']}, {vars_[-1]} -> {ns})"
        for k in range(len(resolved) - 2, -1, -1):
            tuples = (f"flatten(transform({resolved[k]['arr']}, "
                      f"{vars_[k]} -> {tuples}))")
        if conds:
            t = scope.fresh("__st")
            amap_post = {it["alias"]:
                         (t, [])  # alias.f only; bare handled below
                         for it in resolved}
            cond_txt = " and ".join(f"({c})" for c in conds)
            cx = _post_refs(cond_txt, resolved, t)
            if cx is None:
                return None
            tuples = f"filter({tuples}, {t} -> coalesce({cx}, false))"

    if cl["where"]:
        t = scope.fresh("__st")
        wx = _post_refs(cl["where"], resolved, t)
        if wx is None:
            return None
        tuples = f"filter({tuples}, {t} -> coalesce({wx}, false))"

    items = _sel_items(cl["sel"]) if cl["sel"].strip() != "*" else None
    if items is None:
        return None
    t = scope.fresh("__st")
    pairs, names = [], []
    for k, (expr, oname) in enumerate(items):
        if _AGG_RE.match(expr):
            return None
        ex = _post_refs(expr, resolved, t)
        if ex is None:
            return None
        name = oname or (expr.strip().split(".")[-1]
                         if re.fullmatch(r"[\w.]+", expr.strip())
                         else f"__c{k}")
        pairs.append(f"'{name}', {ex}")
        names.append(name)
    out = f"transform({tuples}, {t} -> named_struct({', '.join(pairs)}))"
    if cl["distinct"]:
        out = f"array_distinct({out})"
    if cl["limit"]:
        out = f"slice({out}, 1, {cl['limit'].strip()})"
    return out, names, resolved[0]["head"]


def _post_refs(text: str, resolved: list, var: str) -> str | None:
    """Rewrite `alias.f` / unique bare `f` to tuple-struct access
    `var.alias__f` after the join build."""
    amap = {}
    for it in resolved:
        amap[it["alias"]] = (var, it["fields"], it["alias"] + "__")
    bail: list[int] = []
    owners: dict = {}
    for it in resolved:
        for f in it["fields"]:
            owners.setdefault(f.lower(), []).append(
                f"{var}.{it['alias']}__{f}")
    unique = {f: v[0] for f, v in owners.items() if len(v) == 1}
    amb = [f for f, v in owners.items() if len(v) > 1]

    def seg(s: str) -> str:
        for it in resolved:
            a = re.escape(it["alias"])
            if re.search(rf"(?i)(?<![\w.`]){a}\.pos\b", s):
                bail.append(1)
            s = re.sub(rf"(?i)(?<![\w.`]){a}\.(\w+)",
                       rf"{var}.{it['alias']}__\1", s)
        if unique:
            pat = re.compile(
                r"(?i)(?<![\w.`'])("
                + "|".join(map(re.escape,
                               sorted(unique, key=len, reverse=True)))
                + r")\b(?!\s*\()")
            s = pat.sub(lambda mm: unique[mm.group(1).lower()], s)
        if amb:
            pat2 = re.compile(
                r"(?i)(?<![\w.`'])(" + "|".join(map(re.escape, amb))
                + r")\b(?!\s*\()")
            if pat2.search(s):
                bail.append(1)
        return s

    out = _sub_outside_strings(text, seg)
    return None if bail else out


def _values_tuple_array(text: str, want_cols: list | None):
    """VALUES union operand → array of structs. Accepts both the raw
    `values(..),(..)` spelling and the dialect shim's output
    `select col1 AS x[, ...] from (values (..), (..))`."""
    if not want_cols:
        return None
    sel_items = None
    m = re.match(r"(?is)^\s*values\s*(.*)$", text)
    if not m:
        m2 = re.match(r"(?is)^\s*select\s+(?P<sel>.*?)\s+from\s*"
                      r"\(\s*values\s*(?P<rows>.*?)\)\s*"
                      r"(?:as\s+)?\w*\s*$", text)
        if not m2:
            return None
        sel_items = [
            re.sub(r"(?is)\s+as\s+(`[^`]*`|\w+)\s*$", "", e)
            for e, _ in _sel_items(m2.group("sel"))]
        rows_txt = m2.group("rows")
    else:
        rows_txt = m.group(1)
    rows = []
    for row in sqlscan.split_top(rows_txt):
        if not (row.startswith("(") and row.endswith(")")):
            return None
        vals = sqlscan.split_top(row[1:-1])
        if sel_items is not None:
            # positional colN substitution through the select list
            out_vals = []
            for e in sel_items:
                for k, v in enumerate(vals):
                    e = re.sub(rf"(?i)\bcol{k + 1}\b", v, e)
                out_vals.append(e)
            vals = out_vals
        if len(vals) != len(want_cols):
            return None
        rows.append("named_struct(" + ", ".join(
            f"'{c}', {v}" for c, v in zip(want_cols, vals)) + ")")
    return f"array({', '.join(rows)})", list(want_cols), None


def _subq_tuple_array(scope: "_Scope", inner: str,
                      want_cols: list | None = None):
    """(array_expr, cols, head) for a subquery over relative
    collections — including UNION [ALL|DISTINCT] chains, VALUES
    operands, and a parenthesized FROM subquery."""
    branches = _parse_union_branches(inner)
    if len(branches) > 1:
        expr, cols, head0 = None, want_cols, None
        for text, mode in branches:
            r = _values_tuple_array(text, cols)
            if r is None:
                r = _subq_tuple_array(scope, text, cols)
            if r is None:
                return None
            barr, bcols, bh = r
            head0 = head0 or bh
            if cols is None:
                cols = bcols
            elif len(bcols) != len(cols):
                return None
            if expr is None:
                expr = barr
            else:
                # a NULL operand (NULL source collection) is an EMPTY
                # union operand, and concat propagates NULL
                expr = (f"concat(coalesce({expr}, array()), "
                        f"coalesce({barr}, array()))")
                if mode == "distinct":
                    expr = f"array_distinct({expr})"
        return expr, cols, head0
    cl = _parse_subq(inner)
    if cl is None:
        return None
    if len(cl["items"]) == 1:
        sub = cl["items"][0][4]
        if sub is not None:
            r = _subq_tuple_array(scope, sub)
            if r is None:
                return None
            sarr, scols, shead = r
            if shead is None:
                return None
            return _single_tuple_array(
                scope, cl, want_cols, source=(shead, sarr, scols))
        return _single_tuple_array(scope, cl, want_cols)
    return _multi_tuple_array(scope, cl)


def _subplan_from_rel(scope: "_Scope", inner: str,
                      out_alias: str) -> str | None:
    """FROM-item subquery over relative collections → one inner
    LATERAL posexplode over a HOF-built tuple array. Returns the
    parenthesized relation text (without trailing alias)."""
    r = _subq_tuple_array(scope, inner)
    if r is None:
        return None
    arr, cols, _head = r
    if len(set(c.lower() for c in cols)) != len(cols):
        return None
    proj = ", ".join(f"__si.{c} as {c}" for c in cols)
    return (f"(select {proj} from "
            f"(select posexplode({arr}) as (__sp, __si)))")


def rewrite_collection_refs(spark: SparkSession, sql: str) -> str:
    """Entry point: no-op unless the statement might carry a dotted
    FROM item (fast pre-filter keeps other queries untouched)."""
    if not _PATH_HINT.search(sql):
        return sql
    # Impala's lexer allows whitespace/newlines around the dots of a
    # path (max-nesting-depth.test wraps 100-hop chains across lines);
    # collapse `x.\n  y` to `x.y` so the path scanner sees one token
    # (literal-safe: runs on the neutralized shadow's match positions)
    from incubator_impala_spark import dialect as _d

    sql = _d._shadow_sub(
        re.compile(r"(?<=[\w`])\.\s+(?=[A-Za-z_`])"), ".", sql)
    root = _Scope(spark, None)
    out = _rewrite_scope(root, sql)
    for marker, (sc, alias, name, original) in root.ctx["markers"].items():
        hoists = sc.hoists.get(alias)
        if hoists:
            exprs = ", ".join(f"{alias}.{suf} as {hn}"
                              for suf, hn in hoists.values())
            repl = f" (select {alias}.*, {exprs} from {name} {alias}) {alias} "
        else:
            repl = original
        out = out.replace(marker, repl)
    return out
