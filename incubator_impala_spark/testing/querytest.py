"""Run the reference's QueryTest `.test` files against this engine.

The reference drives its primary correctness corpus
(testdata/workloads/functional-query/queries/QueryTest/*.test, 331
files) through a section-format test harness
(tests/util/test_file_parser.py + tests/common/test_result_verifier.py).
This module re-expresses that harness for Spark so the SAME test texts
— queries AND inline expected results — verify this engine directly
against the reference's recorded outputs, with no oracle in between.

Format honored (the subset the query corpus uses):

* ``====``-delimited blocks, ``----``-prefixed sections: QUERY,
  RESULTS (with optional ``: VERIFY_*`` tag), TYPES, LABELS, CATCH.
* ``#`` and ``--`` full-line comments inside sections.
* Result-row grammar: comma-separated; strings single-quoted with
  ``''`` escaping; ``NULL``; ``row_regex:`` whole-row patterns and
  ``regex:`` per-column patterns.
* Verification: unordered (sort both sides) unless the query has a
  top-level ORDER BY or the tag says VERIFY_IS_EQUAL; float columns
  compare with |x-y| <= 1e-4, doubles 1e-9, NULLs strictly, NaN==NaN
  — the reference verifier's exact rules.

Deliberate divergences (documented, visible in every report):

* TYPES sections are checked under a widening equivalence: Spark types
  integer literals as INT/BIGINT where Impala infers the narrowest
  fit, so an actual integer type at least as wide as expected (and
  DECIMAL with different (p,s), CHAR/VARCHAR as STRING) counts as
  matching. Value comparison still uses the EXPECTED type's epsilon
  rules, so this loosens nothing about the data check.
* CATCH blocks (expected-error text) are skipped: Spark error strings
  legitimately differ from impalad's.
* Blocks that are DDL/DML or reference test-runner variables
  ($DATABASE, $NAMENODE, ...) are skipped with a counted reason.
"""

from __future__ import annotations

import decimal
import math
import os
import re
import shutil
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException

from incubator_impala_spark import options, sqlscan, stats

# catalog/DDL probe guard: Spark analysis errors + JVM-side failures
# surfacing through the py4j bridge
_SPARK_ERR = (AnalysisException, Py4JJavaError)

__all__ = ["parse_test_file", "run_blocks", "Block", "BlockResult"]


# --------------------------------------------------------------------------
# parsing

@dataclass
class Block:
    """One ``====`` section of a .test file."""
    index: int          # 0-based position among QUERY blocks in the file
    query: str
    results: list | None
    types: list | None
    labels: list | None
    verifier: str | None
    has_catch: bool
    sections: dict
    # SHELL-only sections preceding this block (`hdfs dfs -cp ...`
    # data staging in the reference's runner) — emulated locally
    shell: list = None
    # HIVE_QUERY-only sections preceding this block (the runner stages
    # data via a beeline session) — run through this engine (the DDL
    # the corpus uses is the shared subset)
    hive: list = None


def _strip_comments(text: str) -> str:
    lines = [ln for ln in text.split("\n")
             if not ln.lstrip().startswith(("#", "--"))]
    return "\n".join(lines)


def parse_test_file(path: str) -> list[Block]:
    with open(path, encoding="utf-8") as f:
        content = f.read()
    # the reference rejects files whose pre-'====' header starts with
    # a subsection delimiter — everything before the first '====' is
    # ignored as header text, so such a file would silently skip its
    # first test case (test_file_parser.py:168-176,
    # invalid_header.test meta-contract)
    m = re.search(r"(?m)^====", content)
    if m and re.match(r"^----", content[:m.start()]):
        raise RuntimeError(
            "Header must not start with '----'. Everything before the "
            "first line matching '====' is considered header "
            "information and will be ignored. However a header must "
            "not start with '----' to prevent test cases from "
            "accidentally being ignored.")
    blocks: list[Block] = []
    pending_shell: list[str] = []
    pending_hive: list[str] = []
    for section in re.split(r"(?m)^====", content):
        if "---- SHELL" in section and "---- QUERY" not in section:
            m = re.search(r"(?ms)^---- SHELL\s*\n(.*)", section)
            if m:
                pending_shell.append(m.group(1))
            continue
        if "---- HIVE_QUERY" in section and "---- QUERY" not in section:
            m = re.search(r"(?ms)^---- HIVE_QUERY\s*\n(.*?)(?=^----|\Z)",
                          section)
            if m:
                pending_hive.append(_strip_comments(m.group(1)).strip())
            continue
        if not section.strip() or "---- QUERY" not in section:
            continue
        subs: dict[str, tuple[str | None, str]] = {}
        for sub in re.split(r"(?m)^----", section)[1:]:
            header, _, body = sub.partition("\n")
            name, _, tag = header.strip().partition(":")
            subs[name.strip()] = (tag.strip() or None, body)
        if "QUERY" not in subs:
            continue
        results = None
        verifier = None
        if "RESULTS" in subs:
            verifier, body = subs["RESULTS"]
            results = [ln for ln in body.split("\n")
                       if ln != "" and not ln.startswith("#")]
        types = None
        if "TYPES" in subs:
            types = [t.strip().upper()
                     for t in subs["TYPES"][1].strip().split(",")]
        labels = None
        if "LABELS" in subs:
            labels = [x.strip() for x in subs["LABELS"][1].strip().split(",")]
        blocks.append(Block(
            index=len(blocks),
            query=_strip_comments(subs["QUERY"][1]).strip().rstrip(";"),
            results=results, types=types, labels=labels,
            verifier=verifier, has_catch="CATCH" in subs,
            sections=subs, shell=pending_shell or None,
            hive=pending_hive or None))
        pending_shell = []
        pending_hive = []
    return blocks


# --------------------------------------------------------------------------
# SHELL data staging (`hdfs dfs -cp/-copyFromLocal SRC DST`) — the
# reference's runner stages data files over HDFS; emulated as local
# copies with the known source spellings mapped to this repo's fixture
# files and warehouse layout.

_SHELL_SRC_MAP = {
    "test-warehouse/complextypestbl_parquet/nullable.parq":
        ("functional", "complextypestbl_nullable.parquet"),
    "test-warehouse/complextypestbl_parquet/nonnullable.parq":
        ("functional", "complextypestbl_nonnullable.parquet"),
}


def _shell_path(token: str, engine, database: str | None) -> str | None:
    import os

    t = token.replace("$FILESYSTEM_PREFIX", "").lstrip("/")
    if t.startswith("$IMPALA_HOME/"):
        return "/root/reference/" + t[len("$IMPALA_HOME/"):]
    for pref, (fixdir, fname) in _SHELL_SRC_MAP.items():
        if t == pref:
            root = os.path.dirname(os.path.dirname(
                os.path.dirname(os.path.abspath(__file__))))
            return os.path.join(root, "fixtures", fixdir, fname)
    m = re.match(r"test-warehouse/\$DATABASE\.db/([\w./=-]+)$", t)
    if m and database:
        wh = re.sub(r"^file:", "", engine.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"))
        rel = m.group(1)
        parts = rel.split("/", 1)
        # physical dir: the preceding CREATE already made it — probe
        # the plain spelling (unqualified creation under USE) first,
        # then the mangled db__name form
        cands = [parts[0].lower(), f"{database}__{parts[0].lower()}"]
        phys = next((c for c in cands
                     if os.path.isdir(os.path.join(wh, c))), cands[0])
        p = os.path.join(wh, phys, *(parts[1:] or [""]))
        if rel.endswith("/") and not p.endswith("/"):
            p += "/"
        _SHELL_TOUCHED.append(phys)
        return p
    return None


_SHELL_TOUCHED: list = []


def _emulate_shell(engine, text: str, database: str | None) -> bool:
    """True iff every command in the SHELL text was emulated."""
    import os
    import shutil

    cmds, cur = [], ""
    for ln in text.strip().split("\n"):
        ln = ln.strip()
        if ln.endswith("\\"):
            cur += ln[:-1] + " "
            continue
        cur += ln
        if cur.strip():
            cmds.append(cur)
        cur = ""
    if cur.strip():
        cmds.append(cur)
    for one in [c for cmd in cmds
                for c in re.split(r"\s*(?:&&|;)\s*", cmd)]:
        if not one.strip():
            continue
        m = re.match(r"hdfs\s+dfs\s+-(?:cp|copyFromLocal)"
                     r"((?:\s+-\w+)*)\s+(.+)$", one.strip())
        if not m:
            return False
        toks = m.group(2).split()
        if len(toks) < 2:
            return False
        dst = _shell_path(toks[-1], engine, database)
        srcs = [_shell_path(x, engine, database) for x in toks[:-1]]
        if dst is None or any(x is None for x in srcs):
            return False
        for src in srcs:
            if not os.path.exists(src):
                return False
            target = (os.path.join(dst, os.path.basename(src))
                      if dst.endswith("/") or os.path.isdir(dst)
                      else dst)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            shutil.copyfile(src, target)
    for phys in set(_SHELL_TOUCHED):
        try:
            engine.spark.catalog.refreshTable(phys)
        except _SPARK_ERR:  # not (yet) a catalog table
            pass
    _SHELL_TOUCHED.clear()
    return True


# --------------------------------------------------------------------------
# actual-result stringification (the server-output + quoting convention)

def _fmt_timestamp(v) -> str:
    base = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond:
        base += f".{v.microsecond * 1000:09d}"
    return base


def _fmt_value(v, dtype: str, scale: int | None = None) -> str:
    # NULL prints bare for non-string columns; for string-family
    # columns the server prints NULL and the harness quotes every
    # string value, so it appears as 'NULL' (the reference's
    # parse_result_rows convention, mirrored by its expected files)
    if v is None:
        return "'NULL'" if dtype in ("string", "char", "varchar",
                                     "binary") else "NULL"
    if dtype == "boolean":
        s = "true" if v else "false"
    elif dtype in ("float", "double"):
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
        else:
            s = repr(float(v))
    elif dtype == "timestamp":
        s = _fmt_timestamp(v)
    elif dtype == "date":
        s = v.isoformat()
    elif dtype == "binary":
        s = v.decode("latin-1")
    elif dtype == "decimal":
        # the JVM->Python bridge can widen a BigDecimal's scale past
        # the declared one (py4j collect: 18E-14 in a decimal(14,14)
        # arrives as Decimal('1.80E-13'), scale 15); re-quantize to
        # the DECLARED scale when known, else clamp at 38 (the max
        # any declared DECIMAL can carry)
        with decimal.localcontext() as ctx:
            # default context precision (28) raises InvalidOperation
            # quantizing 38-digit SUM results; match Impala's max
            ctx.prec = 76
            if scale is not None:
                v = v.quantize(decimal.Decimal(1).scaleb(-scale))
            elif -v.as_tuple().exponent > 38:
                v = v.quantize(decimal.Decimal(1).scaleb(-38))
        s = format(v, "f")   # never scientific (0E-8 -> 0.00000000)
    else:
        s = str(v)
    if dtype in ("string", "char", "varchar", "binary"):
        s = s.encode("unicode_escape").decode("ascii").replace("'", "''")
        return f"'{s}'"
    return s


_SPARK_TO_IMPALA = {
    "tinyint": "tinyint", "smallint": "smallint", "int": "int",
    "bigint": "bigint", "float": "float", "double": "double",
    "string": "string", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "binary": "binary", "void": "null",
}


def _col_kind(spark_type: str) -> str:
    t = spark_type.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("char"):
        return "char"
    if t.startswith("varchar"):
        return "varchar"
    return _SPARK_TO_IMPALA.get(t, t)


def dataframe_rows(df) -> tuple[list[str], list[str]]:
    """Collect a DataFrame into .test row strings; returns (rows,
    column kinds)."""
    if df.columns == ["__insert_summary__"]:
        # the engine's INSERT summary (`: N` / `year=.../: N` rows)
        # prints raw — the reference harness carries it as the insert
        # RPC's partition map, not as a quoted result set
        return [r[0] for r in df.collect()], ["string"]
    kinds = [_col_kind(f.dataType.simpleString()) for f in df.schema.fields]
    # declared decimal scales, for re-quantizing bridge-widened values
    scales = []
    for f in df.schema.fields:
        m = re.match(r"decimal\((\d+),(\d+)\)", f.dataType.simpleString())
        scales.append(int(m.group(2)) if m else None)
    rows = []
    for row in df.collect():
        rows.append(",".join(
            _fmt_value(v, k, sc)
            for v, k, sc in zip(row, kinds, scales)))
    return rows, kinds


# --------------------------------------------------------------------------
# comparison (the reference verifier's rules)

def _tokenize_row(row: str) -> list[str]:
    vals, cur, in_q, i = [], [], False, 0
    while i < len(row):
        c = row[i]
        if not in_q and c == ",":
            vals.append("".join(cur))
            cur = []
        else:
            cur.append(c)
            if c == "'":
                if in_q and i + 1 < len(row) and row[i + 1] == "'":
                    i += 1      # escaped quote: keep one, stay quoted
                else:
                    in_q = not in_q
        i += 1
    vals.append("".join(cur))
    return vals


def _compare_float(x: float, y: float, eps: float) -> bool:
    if math.isnan(x) and math.isnan(y):
        return True
    if math.isinf(x) or math.isinf(y):
        return x == y
    return abs(x - y) <= eps


def _values_equal(exp: str, act: str, col_type: str) -> bool:
    if exp.startswith("regex:"):
        return re.match(exp[len("regex:"):].strip(), act) is not None
    if exp == "NULL" or act == "NULL":
        return exp == act
    t = col_type.lower()
    if t == "float":
        return _compare_float(float(exp), float(act), 10e-5)
    if t == "double":
        return _compare_float(float(exp), float(act), 10e-10)
    if t == "boolean":
        return exp.lower() == act.lower()
    if exp == act:
        return True
    if t == "string" and not exp.startswith("'") and not act.startswith("'"):
        # blocks without a TYPES section fall back to text compare;
        # only *plain* int/decimal literals (no exponent, no leading
        # zeros) may still match numerically, and then exactly — so the
        # engines' integral-double printing difference (42 vs 42.0)
        # doesn't read as a value difference, while '1e3' vs '1000' or
        # a leading-zero ID stays a textual mismatch
        lit = r"-?(?:0|[1-9]\d*)(?:\.\d+)?"
        if re.fullmatch(lit, exp) and re.fullmatch(lit, act):
            from decimal import Decimal

            return Decimal(exp) == Decimal(act)
    return False


def _mask_row(row: str, positions: list) -> str:
    """Replace the tokens at `positions` with a placeholder (both
    sides of a compare get this, see run_blocks mask_cols)."""
    if row.startswith(("row_regex:", "regex:")):
        return row
    toks = _tokenize_row(row)
    for p in positions:
        if p < len(toks):
            toks[p] = "'__masked__'"
    return ",".join(toks)


def _rows_equal(exp: str, act: str, col_types: list[str]) -> bool:
    if exp.startswith("row_regex:"):
        # DOTALL: a row can be a multi-line payload (SHOW CREATE TABLE
        # returns the whole statement as one row) — `.*prop.*` and
        # `(?!.*prop)` must see past the first line, as the reference
        # verifier's single-string row data does
        return re.match(exp[len("row_regex:"):].strip(), act,
                        re.DOTALL) is not None
    et, at = _tokenize_row(exp), _tokenize_row(act)
    if len(et) != len(at) or len(et) != len(col_types):
        return exp == act
    return all(_values_equal(e, a, t) for e, a, t in zip(et, at, col_types))


def compare_results(expected: list[str], actual: list[str],
                    col_types: list[str] | None,
                    order_matters: bool,
                    subset: bool = False) -> list[str]:
    """Returns a list of human-readable diffs; empty means equal.
    `subset`: VERIFY_IS_SUBSET — every expected row must appear
    somewhere in the actual rows (the reference verifier's tag for
    describe-formatted style spot checks)."""
    if subset in (True, "subset"):
        types = col_types or []
        diffs = []
        for e in expected:
            ct = types if types else ["string"] * len(_tokenize_row(e))
            if not any(_rows_equal(e, a, ct) for a in actual):
                diffs.append(f"expected row not found: {e!r}")
        return diffs
    if subset == "not_in":
        types = col_types or []
        diffs = []
        for e in expected:
            ct = types if types else ["string"] * len(_tokenize_row(e))
            if any(_rows_equal(e, a, ct) for a in actual):
                diffs.append(f"forbidden row present: {e!r}")
        return diffs
    exp, act = list(expected), list(actual)
    if not order_matters:
        exp.sort()
        act.sort()
    diffs = []
    if len(exp) != len(act):
        diffs.append(f"row count: expected {len(exp)}, actual {len(act)}")
    types = col_types or []
    for i, (e, a) in enumerate(zip(exp, act)):
        ct = types if types else ["string"] * len(_tokenize_row(e))
        if not _rows_equal(e, a, ct):
            diffs.append(f"row {i}: expected {e!r}, actual {a!r}")
            if len(diffs) >= 5:
                diffs.append("...")
                break
    return diffs


_INT_WIDTH = {"TINYINT": 1, "SMALLINT": 2, "INT": 3, "BIGINT": 4}


def types_compatible(expected: list[str], actual: list[str]) -> bool:
    if len(expected) != len(actual):
        return False
    for e, a in zip(expected, actual):
        e, a = e.upper(), a.upper()
        if e == a:
            continue
        if e in _INT_WIDTH and a in _INT_WIDTH and _INT_WIDTH[a] >= _INT_WIDTH[e]:
            continue
        if e.startswith("DECIMAL") and a.startswith("DECIMAL"):
            continue
        if e in ("CHAR", "VARCHAR", "STRING") and a in ("CHAR", "VARCHAR",
                                                        "STRING"):
            continue
        return False
    return True


# --------------------------------------------------------------------------
# execution

_RUNNABLE = re.compile(
    r"^[\s(]*(select|with|values|describe|explain|"
    r"show\s+partitions|show\s+files|show\s+column\s+stats|"
    r"show\s+table\s+stats|"
    r"invalidate\s+metadata|refresh|"
    r"create\s+(?:external\s+)?table|"
    r"insert\s+(?:into|overwrite)|drop\s+table|"
    r"truncate|alter\s+table|use|"
    r"show\s+(?:tables|databases|schemas)|"
    r"show\s+(?:aggregate\s+|analytic\s+)?functions|"
    r"create\s+(?:database|schema|view)|"
    r"drop\s+(?:database|schema|view)|alter\s+view|"
    r"create\s+(?:aggregate\s+)?function|drop\s+function|"
    r"compute\s+(?:incremental\s+)?stats|"
    r"drop\s+(?:incremental\s+)?stats|load\s+data|"
    r"show\s+create\s+(?:table|view))\b",
    re.IGNORECASE)
_VAR = re.compile(r"\$[A-Z][A-Z0-9_]*")


def _split_statements(text: str) -> list[str]:
    """Split `text` on the `;`s that end statements: a `;` inside a
    literal, a backtick identifier or a comment does not count."""
    stmts, start = [], 0
    for m in re.finditer(";", sqlscan.shadow(text)):
        stmts.append(text[start:m.start()])
        start = m.end()
    stmts.append(text[start:])
    return [s.strip() for s in stmts if s.strip()]


_ORDER_BY = re.compile(r"\border\s+by\b", re.IGNORECASE)


@dataclass
class BlockResult:
    index: int
    status: str              # pass | fail | skip | error | xfail | xpass
    reason: str = ""
    diffs: list = field(default_factory=list)
    type_ok: bool = True


_DB_VAR = re.compile(r"\$DATABASE(\w*)")


def run_blocks(engine, blocks: list[Block], *,
               rewrite=None, xfail: dict | None = None,
               table_rewrites: dict | None = None,
               database: str | None = None,
               presets: list[str] | None = None,
               strict_catch: bool = False,
               mask_cols: dict | None = None) -> list[BlockResult]:
    """Execute each runnable block and verify against its RESULTS.

    `rewrite`: optional fn(sql) -> sql applied before the dialect shim
    (used for per-file spelling fixes, applied identically everywhere).
    `xfail`: {block_index: reason} — known, documented divergences; a
    passing xfail block reports `xpass` so stale entries surface.
    `database`: value substituted for the reference runner's
    ``$DATABASE`` variable (suffixed variants ``$DATABASE_2`` map to
    ``<database>_2``); the dbs are dropped+created fresh before the
    file runs, mirroring the runner's unique-database fixture.
    ``$ORIGINAL_DB`` always substitutes to ``functional``.
    `mask_cols`: {block_index: [column positions]} — those columns
    are replaced by a placeholder in BOTH expected and actual rows
    before compare. For recorded answers whose only divergence is a
    documented data-stream variant in a DISPLAY column (dbgen's
    address/comment RNG text), this verifies every other column
    exactly instead of xfailing the whole block.
    """
    xfail = xfail or {}
    # reference runner variable substitution (query AND expected rows)
    dbs_used: set[str] = set()
    for b in blocks:
        def _sub(m: "re.Match") -> str:
            name = f"{database}{m.group(1).lower()}"
            dbs_used.add(name)
            return name
        if database:
            b.query = _DB_VAR.sub(_sub, b.query)
            if b.results is not None:
                b.results = [_DB_VAR.sub(_sub, r) for r in b.results]
            if b.hive:
                b.hive = [_DB_VAR.sub(_sub, h) for h in b.hive]
        if b.results is not None:
            # expected-row variables the reference runner substitutes
            # (__do_replacements): the filesystem display name and the
            # namenode uri prefix — this engine's warehouse paths
            # print as file:/test-warehouse/... (_display_location)
            import getpass

            # $EXTERNAL/$MANAGED_WAREHOUSE_DIR: the reference's
            # Hive-3 values (tests/common/environ.py:77-80); $USER:
            # getuser() (impala_test_suite.py __do_replacements)
            b.results = [r.replace("$NAMENODE", "file:")
                          .replace("$FILESYSTEM_NAME", "HDFS")
                          .replace("$EXTERNAL_WAREHOUSE_DIR",
                                   "test-warehouse")
                          .replace("$MANAGED_WAREHOUSE_DIR",
                                   "test-warehouse/managed")
                          .replace("$USER", getpass.getuser())
                         for r in b.results]
        if b.has_catch:
            tag, body = b.sections["CATCH"]
            if database:
                body = _DB_VAR.sub(_sub, body)
            body = body.replace("$ORIGINAL_DB", "functional") \
                .replace("$FILESYSTEM_PREFIX", "") \
                .replace("$NAMENODE", "")
            b.sections["CATCH"] = (tag, body)
        b.query = b.query.replace("$ORIGINAL_DB", "functional")
        # the reference's default-filesystem prefix is the empty
        # string (tests/common: FILESYSTEM_PREFIX='' on HDFS)
        b.query = b.query.replace("$FILESYSTEM_PREFIX", "")
        b.query = b.query.replace("$NAMENODE", "")
        b.query = b.query.replace("$EXTERNAL_WAREHOUSE_DIR",
                                  "test-warehouse")
        b.query = b.query.replace("$MANAGED_WAREHOUSE_DIR",
                                  "test-warehouse/managed")
        # file:// LOCATIONs into the reference checkout
        # (local-filesystem.test reads testdata/data/local_tbl)
        b.query = b.query.replace("$IMPALA_HOME", "/root/reference")
        # runtime-filter workloads parameterize the filter-arrival
        # wait; any value works — the SET is accepted session-side and
        # Spark's DPP/bloom runtime filters need no arrival wait
        b.query = b.query.replace("$RUNTIME_FILTER_WAIT_TIME_MS",
                                  "10000")
    engine.ns.current = None     # a prior file's USE must not leak
    # the reference harness resets explicitly-SET query options
    # between test files; SET ALL listings assume defaults
    for opt in options.OPTIONS.values():
        if opt.attr:
            engine.set_option(opt.name, opt.default)
    engine.option_display.clear()
    # the parity harness runs with the reference-exact HLL so pinned
    # NDV outputs (distinct-estimate, compute-stats, SHOW COLUMN
    # STATS) match verbatim; the engine default is the JVM
    # approx_count_distinct scale path (DIALECT.md EXACT_NDV)
    engine.exact_ndv = True
    # a prior file's stale-avro registry views must not leak into
    # this file's SHOW TABLES listings (show.test LIKE patterns)
    for vname in engine.avro_stale:
        engine.spark.catalog.dropTempView(vname)
    engine.avro_stale.clear()
    if getattr(engine, "acid_tables", None):
        # a prior file's ACID tables must not leak (registry + temp
        # views + managed dirs); fixtures stay
        from incubator_impala_spark import acid

        acid.reset(engine)
    # array_overlays are installed by the per-file SETUP hook (which
    # runs BEFORE run_blocks), so they are not cleared here; each hook
    # replaces its own entries. Metadata-only ALTER overlays are
    # per-file (alter_schema_in_place is reset above).
    for tbl in engine.schema_overlays:
        try:
            engine.spark.catalog.dropTempView(tbl)
        except _SPARK_ERR:  # overlay view already gone
            pass
    engine.schema_overlays.clear()
    stats.forget_covers(engine)   # incremental-stats state per file
    for p in presets or []:
        # file-level startup flags (the reference runs some files with
        # impalad flags, e.g. -use_local_tz_for_unix_timestamp_conversions)
        dm = re.match(r"(?i)\s*drop\s+table\s+if\s+exists\s+([\w.]+)",
                      p)
        if dm:
            # a crashed prior session can leave the warehouse dir of a
            # preset-created table orphaned; the drop can't see it
            wh = re.sub(r"^file:", "", engine.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"))
            shutil.rmtree(os.path.join(
                wh, dm.group(1).split(".")[-1].lower()),
                ignore_errors=True)
        engine.sql(p)
    for name in sorted(dbs_used):
        try:
            engine.sql(f"drop database if exists {name} cascade")
            # the BASE $DATABASE and digit-suffixed variants
            # ($DATABASE2 — the runner's second unique db) are
            # pre-created; underscore-suffixed variants
            # ($DATABASE_2, ...) are created by the file itself
            if name == database or (name.startswith(database)
                                    and name[len(database):].isdigit()):
                engine.sql(f"create database {name}")
        except _SPARK_ERR:  # pre-existing from an earlier file
            pass
    if database and database in engine.ns.dbs:
        # the runner connects with the unique db as the session
        # database (impala-shell -d): unqualified DDL targets it
        engine.ns.current = database
        # runner-PRELOADED tables: the reference's python driver
        # copies data files into the unique db before the .test runs
        # (e.g. hive2_pre_gregorian). A `$DATABASE.X` reference whose
        # X the file never creates, but which exists as a flat
        # fixture relation, aliases to that relation.
        created_l = set()
        referenced = set()
        for b in blocks:
            for cm in re.finditer(
                    rf"(?is)\b(?:create|alter)\s+"
                    rf"(?:external\s+)?(?:table|view)\s+"
                    rf"(?:if\s+not\s+exists\s+)?{database}\.(\w+)",
                    b.query):
                created_l.add(cm.group(1).lower())
            for rm in re.finditer(rf"(?i)\b{database}\.(\w+)",
                                  b.query):
                referenced.add(rm.group(1).lower())
        for name in sorted(referenced - created_l):
            if name in engine.ns.dbs[database]:
                continue
            try:
                if engine.spark.catalog.tableExists(name):
                    engine.ns.register(database, name, "view", name)
            except _SPARK_ERR:  # probe only
                pass
    # hermetic re-runs: the session catalog is in-memory but the
    # warehouse directory persists across pytest runs, so every table
    # a file creates is dropped (catalog entry AND orphan dir) ONCE
    # before the file runs — not per block, which would break
    # IF NOT EXISTS semantics that later blocks assert on.
    created = set()
    for b in blocks:
        for text in [b.query] + (b.hive or []):
            for cm in re.finditer(
                    r"(?is)\bcreate\s+(?:external\s+)?table\s+"
                    r"(?:if\s+not\s+exists\s+)?"
                    r"(`[\w.]+`|[A-Za-z_][\w.]*)", text):
                created.add(cm.group(1).strip("`"))
            # RENAME TO targets are file-owned objects too: a leftover
            # from another file (or an aborted run) must not collide
            for cm in re.finditer(
                    r"(?is)\brename\s+to\s+(`[\w.]+`|[A-Za-z_][\w.]*)",
                    text):
                created.add(cm.group(1).strip("`"))
    # scratch tables that SHADOW fixture views (the reference file
    # creates `alltypes` in its unique db, distinct from
    # functional.alltypes): rename the scratch table throughout —
    # `functional.X` references keep resolving to the fixture
    # (_rewrite_stmt protects the qualified spelling before this
    # rewrite applies)
    table_rewrites = dict(table_rewrites or {})
    try:
        from incubator_impala_spark.sources.functional import (
            AVRO_FIXTURE_VIEWS,
            FUNCTIONAL_TABLES,
            FUNCTIONAL_VIEWS,
        )

        fixture_names = set(FUNCTIONAL_TABLES) | set(FUNCTIONAL_VIEWS) \
            | set(AVRO_FIXTURE_VIEWS)
        for name in list(created):
            if "." not in name and name.lower() in fixture_names:
                table_rewrites.setdefault(
                    name.lower(), f"qscratch_{name.lower()}")
                created.discard(name)
                created.add(f"qscratch_{name.lower()}")
    except ImportError:  # functional fixture module absent
        pass
    try:
        from incubator_impala_spark.sources.functional import (
            INSERT_TARGETS,
        )

        # template-owned insert targets are (re)created empty by
        # register_functional; their in-file `create ... like
        # $ORIGINAL_DB.x` blocks skip, so dropping them here would
        # orphan every insert that follows
        created -= set(INSERT_TARGETS)
    except ImportError:  # functional fixture module absent
        pass
    for name in created:
        try:
            engine.spark.sql(f"DROP TABLE IF EXISTS {name}")
            wh = engine.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse")
            shutil.rmtree(
                os.path.join(re.sub(r"^file:", "", wh),
                             name.split(".")[-1].lower()),
                ignore_errors=True)
        except (*_SPARK_ERR, OSError):  # unresolvable stale name
            pass
    out: list[BlockResult] = []
    for b in blocks:
        if b.shell and not all(_emulate_shell(engine, sh, database)
                               for sh in b.shell):
            out.append(BlockResult(b.index, "skip", "shell-staging"))
            continue
        if b.hive:
            # beeline staging sections run through this engine — the
            # corpus' HIVE_QUERY DDL is the shared SQL subset; an
            # unstageable section skips the dependent block
            try:
                hive_exec = getattr(engine, "hive_sql", engine.sql)
                for htext in b.hive:
                    for s in _split_statements(htext):
                        s = _rewrite_stmt(s, rewrite,
                                          table_rewrites or {})
                        if s.strip():
                            hive_exec(s)
            except Exception:  # noqa: BLE001
                out.append(BlockResult(b.index, "skip",
                                       "hive-staging"))
                continue
        if b.index in xfail and str(xfail[b.index]).startswith("skip:"):
            # hard skip: the block would destabilize the session
            # (e.g. a 100-deep lateral chain overflows the JVM
            # thread stack) — recorded as a reason-coded xfail
            out.append(BlockResult(b.index, "xfail", xfail[b.index]))
            continue
        r = _run_one(engine, b, rewrite, table_rewrites or {},
                     strict_catch=strict_catch,
                     mask=(mask_cols or {}).get(b.index))
        if b.index in xfail:
            if r.status == "fail" or r.status == "error":
                r = BlockResult(b.index, "xfail", xfail[b.index])
            elif r.status == "pass":
                r = BlockResult(b.index, "xpass",
                                f"stale xfail: {xfail[b.index]}")
        out.append(r)
    return out


_SIDE_EFFECT = re.compile(
    r"(?im)^[\s(]*(create\s+(?:external\s+)?table|alter\s+table|insert\s+(?:into|overwrite)|"
    r"drop\s+table|truncate|use|create\s+(?:database|schema|view)|"
    r"drop\s+(?:database|schema|view)|alter\s+view|"
    r"create\s+(?:aggregate\s+)?function|drop\s+function|"
    r"compute\s+(?:incremental\s+)?stats|"
    r"drop\s+(?:incremental\s+)?stats|"
    r"invalidate\s+metadata|refresh)\b")


_LOCATION_CLAUSE = re.compile(
    r"\s+(?:MANAGED)?LOCATION\s+'[^']*'", re.IGNORECASE)


def _strip_location(stmt: str, engine=None) -> str:
    """CREATE TABLE/DATABASE LOCATION clauses point into the
    reference's HDFS test-warehouse (usually through
    $DATABASE/$FILESYSTEM variables); this engine's equivalent is a
    managed object, so the clause is dropped (with EXTERNAL, which
    Spark ties to LOCATION). Harness-level adaptation only — the
    engine keeps LOCATION."""
    if not re.match(
            r"\s*create\s+(external\s+)?table\b",
            stmt, re.IGNORECASE):
        # CREATE DATABASE/SCHEMA LOCATION is display-only metadata in
        # the namespace registry (DESCRIBE DATABASE renders it; no
        # files are touched) — keep it (create-database.test)
        return stmt
    if re.search(r"\blike\b", stmt, re.IGNORECASE):
        # LIKE PARQUET keeps its LOCATION (the engine resolves the
        # schema file and data dir against the reference's testdata
        # copies); CREATE TABLE LIKE <t> keeps it too — an EXTERNAL
        # location naming the source's own warehouse dir means the
        # new table adopts the existing data files (engine
        # _create_like populates the clone to match)
        return stmt
    lm = re.search(r"(?i)\blocation\s+'file://(/[^']*)'", stmt)
    if lm and os.path.exists(lm.group(1)):
        # a file:// LOCATION that exists on THIS machine is readable
        # as-is (local-filesystem.test points into the reference
        # checkout) — keep it
        return stmt
    if engine is not None:
        # a LOCATION the engine resolves INTO a hook-staged data
        # directory (engine.staged_locations — avro snapshots etc.)
        # is real pre-written data: keep the clause AND the EXTERNAL
        # keyword. Existence alone is NOT enough — a stale orphan
        # warehouse dir from an earlier file must not turn a managed
        # create into an external one (truncate-table.test t1).
        lm2 = re.search(r"(?i)\blocation\s+'(/?test-warehouse/[^']*|"
                        r"/[^']*)'", stmt)
        if lm2:
            try:
                resolved = engine._resolve_fs_path(lm2.group(1))
                staged = getattr(engine, "staged_locations", ())
                if any(resolved == s
                       or resolved.startswith(s + os.sep)
                       for s in staged):
                    return stmt
            except (OSError, ValueError, KeyError):  # unresolvable: strip
                pass
    out = _LOCATION_CLAUSE.sub("", stmt)
    return re.sub(r"(?i)\bcreate\s+external\s+table\b", "create table",
                  out)


def _shadow_sub(pattern: str, repl, s: str) -> str:
    """re.sub that matches on the literal/comment-blind shadow, so
    string literals are never rewritten (ADVICE r5 applied to the
    harness's own table-name rewrites)."""
    from incubator_impala_spark import dialect

    return dialect._shadow_sub(re.compile(pattern), repl, s)


def _strip_location_all(text: str) -> str:
    return ";".join(_strip_location(x) for x in _split_statements(text))


def _preclear_create(engine, s: str) -> None:
    """A PLAIN create (no IF NOT EXISTS) asserts the table is fresh:
    clear a leftover (catalog entry AND orphan warehouse dir) from an
    earlier failed run before running it."""
    cm = re.match(
        r"(?is)\s*create\s+(?:external\s+)?table\s+"
        r"(?!if\s+not\s+exists\b)(`[\w.]+`|[A-Za-z_][\w.]*)", s)
    if not cm:
        return
    name = cm.group(1)
    lm = re.match(rf"(?is)\s*create\s+(?:external\s+)?table\s+"
                  rf"{re.escape(name)}\s+like\s+([A-Za-z_][\w.]*)", s)
    if lm and lm.group(1).split(".")[-1].lower() == \
            name.split(".")[-1].lower():
        # self-LIKE (template-target recreation): dropping first would
        # destroy the clone source; the engine truncates instead
        return
    name = engine.ns.resolve(name)
    try:
        engine.spark.sql(f"DROP TABLE IF EXISTS {name}")
    except _SPARK_ERR:  # e.g. a temp view shadows the name
        pass
    wh = engine.spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(re.sub(r"^file:", "", wh),
                     name.split(".")[-1].lower()),
        ignore_errors=True)


def _rewrite_stmt(s: str, rewrite, table_rewrites: dict | None) -> str:
    """Per-statement harness rewrites, all literal-safe:
    functional_parquet/_avro/... are file-format variants of the same
    dataset, so every variant's qualifier resolves to the flat fixture
    views; then per-file table-name rewrites and the optional spelling
    fixer."""
    if re.match(r"(?i)\s*explain\b", s):
        # EXPLAIN keeps its original qualified spellings: the renderer
        # resolves standing-db qualifiers itself and uses them for
        # scan labels and the missing-stats header (impala_explain.py).
        # Per-file table rewrites still apply — a file-created scratch
        # table shadowing a fixture name (qscratch_*) must be the one
        # the explain plans — with qualified fixture spellings
        # protected-and-restored, never stripped
        if table_rewrites:
            keep: list[str] = []

            def _protect(m) -> str:
                keep.append(m.group(0))
                return f"__kq{len(keep) - 1}q__"

            s = _shadow_sub(r"\bfunctional(_\w+)?\.", _protect, s)
            for old, new in table_rewrites.items():
                s = _shadow_sub(rf"\b{old}\b", new, s)
            for i, orig in enumerate(keep):
                s = s.replace(f"__kq{i}q__", orig)
        return s
    # qualified fixture references are PROTECTED with a marker while
    # table rewrites run: a file-created scratch `alltypes` renames to
    # qscratch_alltypes everywhere, but `functional.alltypes` must
    # keep naming the fixture
    s = _shadow_sub(r"\bfunctional(_\w+)?\.(?=[A-Za-z_`])",
                    "__fxref__", s)
    # backtick-quoted qualifiers are identifiers, not literals — the
    # shadow masks them, so this one runs on the raw text
    s = re.sub(r"`functional(_\w+)?`\.", "__fxref__", s)
    for old, new in (table_rewrites or {}).items():
        s = _shadow_sub(rf"\b{old}\b", new, s)
    s = s.replace("__fxref__", "")
    if rewrite is not None:
        s = rewrite(s)
    return s


def _query_vars(text: str) -> bool:
    """Runner variables in the executable text — `#` comment lines
    don't count (e.g. the reference's `# ... insert$TABLE ...` headers
    are commentary, not substitution points)."""
    stripped = "\n".join(ln for ln in text.split("\n")
                         if not ln.lstrip().startswith("#"))
    return _VAR.search(stripped) is not None


_SET_NAME = re.compile(r"(?i)^\s*set\s+([A-Za-z_][\w.]*)\s*=")


def _option_snapshot(engine, names: list) -> dict | None:
    """Pre-block state of every option the block is about to SET.

    The reference harness restores explicitly-SET query options after
    EACH query block (tests/common/impala_test_suite.py
    __exec_in_impala / __restore_query_options) — a SET persists only
    across the semicolon-separated statements of its own block. This
    snapshot captures the engine attrs, Spark confs, and SET-ALL
    display values those names touch so `_option_restore` can undo
    them. Pre-block state == file defaults + presets (earlier blocks
    were themselves restored), so restoring the snapshot is the
    reference's restore-to-defaults."""
    if not names:
        return None
    snap: dict = {"attrs": {}, "confs": {}, "display": {}}
    for raw in names:
        snap["display"].setdefault(
            raw.upper(), engine.option_display.get(raw.upper()))
        opt = options.OPTIONS.get(raw.lower())
        if opt and opt.attr:
            snap["attrs"].setdefault(opt, getattr(engine, opt.attr))
        conf = opt.conf if opt else (
            raw if raw.startswith("spark.") else None)
        if conf and conf not in snap["confs"]:
            snap["confs"][conf] = engine.spark.conf.get(conf, None)
    return snap


def _option_restore(engine, snap: dict | None) -> None:
    if not snap:
        return
    for opt, v in snap["attrs"].items():
        setattr(engine, opt.attr, v)
        if opt.on_set:
            opt.on_set(engine)
    for conf, v in snap["confs"].items():
        try:
            if v is None:
                engine.spark.conf.unset(conf)
            else:
                engine.spark.conf.set(conf, v)
        except _SPARK_ERR:  # non-runtime-settable conf
            pass
    for k, v in snap["display"].items():
        if v is None:
            engine.option_display.pop(k, None)
        else:
            engine.option_display[k] = v


def _run_catch(engine, b: Block, rewrite, table_rewrites) \
        -> BlockResult:
    """CATCH block: execute expecting an error; at least ONE catch
    line must match the (newline-stripped) error text — substring, or
    row_regex (reference impala_test_suite.__verify_exceptions).
    `__NO_ERROR__` inverts: the query must succeed."""
    lines = [ln.strip() for ln in b.sections["CATCH"][1].split("\n")
             if ln.strip() and not ln.lstrip().startswith("#")]
    no_error = any("__NO_ERROR__" in ln for ln in lines)
    stmts = [_strip_location(x, engine)
             for x in _split_statements(b.query)]
    if _query_vars(_strip_location_all(b.query)):
        return BlockResult(b.index, "skip", "runner-variable")
    sql_stmts = [_rewrite_stmt(s, rewrite, table_rewrites)
                 for s in stmts]
    snap = _option_snapshot(
        engine, [m.group(1) for s in sql_stmts
                 if (m := _SET_NAME.match(s))])
    err = None
    try:
        df = None
        for s in sql_stmts:
            if s.lower().startswith("set "):
                engine.sql(s)
            else:
                df = engine.sql(s)
        if df is not None:
            df.collect()  # errors surface at execution
    except Exception as exc:  # noqa: BLE001
        err = str(exc).replace("\n", "")
    finally:
        _option_restore(engine, snap)
    if no_error:
        return BlockResult(b.index, "pass", "") if err is None else \
            BlockResult(b.index, "fail", f"unexpected error: "
                                         f"{err[:200]}")
    if err is None:
        return BlockResult(b.index, "fail",
                           f"catch: no error raised (expected "
                           f"{lines[0][:120]})")
    for ln in lines:
        if ln.startswith("row_regex:"):
            if re.search(ln[len("row_regex:"):].strip(), err):
                return BlockResult(b.index, "pass", "")
        elif ln in err:
            return BlockResult(b.index, "pass", "")
    return BlockResult(
        b.index, "fail", "catch-mismatch",
        [f"expected one of {lines}", f"actual: {err[:300]}"])


def _run_one(engine, b: Block, rewrite, table_rewrites,
             strict_catch: bool = False,
             mask: list | None = None) -> BlockResult:
    if b.has_catch:
        if not strict_catch:
            # default: CATCH blocks stay documented skips WITHOUT
            # executing — a statement the reference expects to FAIL
            # must not apply its side effects here (a succeeded
            # "failing" insert would corrupt later blocks). Files
            # wired for the error contract pass strict_catch=True and
            # grade catches for real (scan_errors surface).
            return BlockResult(b.index, "skip", "catch-block")
        return _run_catch(engine, b, rewrite, table_rewrites)
    if b.results is None and "RUNTIME_PROFILE" in b.sections:
        # profile-verified blocks (single-node-joins-with-limits):
        # the reference asserts the exec summary's RowsProduced — the
        # observable contract is the result-set size, checked here by
        # running the query and counting
        nums = []
        for ln in b.sections["RUNTIME_PROFILE"][1].splitlines():
            if "RowsProduced" in ln:
                g = re.findall(r"(\d+)",
                               ln.split("RowsProduced", 1)[1])
                if g:
                    nums.append(int(g[-1]))
        stmts = [s for s in _split_statements(b.query)]
        if nums and re.match(r"(?is)^\s*select\b", stmts[-1]):
            snap = _option_snapshot(
                engine, [m.group(1) for s in stmts
                         if (m := _SET_NAME.match(s))])
            try:
                df = None
                for s in stmts:
                    s = _rewrite_stmt(s, rewrite, table_rewrites)
                    df = engine.sql(s)
                got = df.count()
            except Exception as exc:  # noqa: BLE001
                first = next((ln for ln in str(exc).split("\n")
                              if ln.strip()), "")
                return BlockResult(b.index, "error",
                                   f"{type(exc).__name__}: "
                                   f"{first}"[:300])
            finally:
                _option_restore(engine, snap)
            if got != max(nums):
                return BlockResult(
                    b.index, "fail", "rows-produced-mismatch",
                    [f"expected {max(nums)} rows, got {got}"])
            return BlockResult(b.index, "pass", "")
    if b.results is None:
        # DDL/DML blocks without a RESULTS section still EXECUTE (the
        # reference harness runs every block; later blocks read the
        # tables these populate) — verification is skipped, errors are
        # surfaced so a broken setup fails loudly at the source block
        if (_SIDE_EFFECT.search(b.query)
                and not _query_vars(_strip_location_all(b.query))
                and not re.search(r"\b(tpch|tpcds)\w*\.", b.query,
                                  re.IGNORECASE)):
            stmts = [_strip_location(x, engine)
                     for x in _split_statements(b.query)]
            if all(_RUNNABLE.match(s) or s.lower().startswith("set ")
                   for s in stmts):
                snap = _option_snapshot(
                    engine, [m.group(1) for s in stmts
                             if (m := _SET_NAME.match(s))])
                try:
                    for s in stmts:
                        s = _rewrite_stmt(s, rewrite, table_rewrites)
                        _preclear_create(engine, s)
                        engine.sql(s)
                except Exception as exc:  # noqa: BLE001
                    first = next(
                        (ln for ln in str(exc).split("\n")
                         if ln.strip()), "")
                    return BlockResult(
                        b.index, "error",
                        f"{type(exc).__name__}: {first}"[:300])
                finally:
                    _option_restore(engine, snap)
                return BlockResult(b.index, "skip", "executed-no-verify")
        return BlockResult(b.index, "skip", "no-results-section")
    if _query_vars(_strip_location_all(b.query)):
        return BlockResult(b.index, "skip", "runner-variable")
    for row in b.results:
        if not row.startswith("row_regex:") and _VAR.search(row):
            return BlockResult(b.index, "skip", "runner-variable")
        if row.startswith("aggregation("):
            return BlockResult(b.index, "skip", "profile-aggregation")
    stmts = [_strip_location(x, engine)
             for x in _split_statements(b.query)]
    if not all(_RUNNABLE.match(s) or s.lower().startswith("set ")
               for s in stmts):
        return BlockResult(b.index, "skip", "non-query-statement")
    if any(re.match(r"(?i)set\s+decimal_v2\s*=\s*(false|0)", s)
           for s in stmts):
        # DECIMAL V1 is the reference's deprecated legacy mode; the
        # engine's V1 mode covers CAST truncation (SET DECIMAL_V2=0,
        # tpcds legacy-corpus oracle tier), but these functional
        # blocks pin V1's division/avg RESULT TYPING (smaller scales,
        # last-digit truncation) which stays out of scope (DIALECT.md)
        return BlockResult(b.index, "skip", "decimal-v1-legacy")
    if re.search(r"\b(pid|coordinator|current_session|sleep)\s*\(",
                 b.query, re.IGNORECASE):
        # daemon/session introspection with no analogue in a library
        # engine (DIALECT.md out-of-scope list)
        return BlockResult(b.index, "skip", "oos-daemon-introspection")
    # a block's SET NOW_STRING must not leak into later blocks (the
    # reference harness re-sets it per block; expected values of other
    # blocks assume the real clock is irrelevant)
    engine.now = None
    sql_stmts = [_rewrite_stmt(s, rewrite, table_rewrites)
                 for s in stmts]
    if re.search(r"\b(?!tpch_ref_|tpcds_ref_|tpch_(?:nested|masked)_"
                 r"(?:customer|region|supplier|part)\b)"
                 r"(tpch|tpcds)\w*\.", " ".join(sql_stmts),
                 re.IGNORECASE) \
            and not re.match(r"(?i)\s*explain\b", b.query):
        # other-workload dbs at the reference's load scale; their
        # expected rows assume SF1 data this fixture doesn't carry —
        # checked AFTER table_rewrites, so a file whose rewrites map
        # tpch spellings onto the sf1 dbgen views runs normally (the
        # engine's own tpch_ref_/tpch_nested_/tpcds_ref_ views ARE
        # that sf1 data; a collection path like
        # tpch_nested_customer.c_orders must not re-trip the skip)
        return BlockResult(b.index, "skip", "other-workload-db")
    snap = _option_snapshot(
        engine, [m.group(1) for s in sql_stmts
                 if (m := _SET_NAME.match(s))])
    try:
        df = None
        for s in sql_stmts:
            _preclear_create(engine, s)
            if s.lower().startswith("set ") \
                    and not re.match(r"(?i)\s*set\s+all\s*$", s):
                engine.sql(s)
            else:
                df = engine.sql(s)  # `set all` RETURNS the listing
        # a block of only SET statements verifies as zero rows
        actual, kinds = dataframe_rows(df) if df is not None else ([], [])
    except Exception as exc:  # noqa: BLE001 - report, don't crash the file
        first = next((ln for ln in str(exc).split("\n") if ln.strip()), "")
        msg = f"{type(exc).__name__}: {first}"[:300]
        return BlockResult(b.index, "error", msg)
    finally:
        # reference harness contract: a block's SETs do not leak into
        # the next block (__restore_query_options per query block)
        _option_restore(engine, snap)

    order_matters = (b.verifier == "VERIFY_IS_EQUAL"
                     or (_ORDER_BY.search(sql_stmts[-1]) is not None
                         and b.verifier != "VERIFY_IS_EQUAL_SORTED"))
    mode = {"VERIFY_IS_SUBSET": "subset",
            "VERIFY_IS_NOT_IN": "not_in"}.get(b.verifier or "", False)
    expected = b.results
    if mask:
        expected = [_mask_row(r, mask) for r in expected]
        actual = [_mask_row(r, mask) for r in actual]
    diffs = compare_results(expected, actual, b.types, order_matters,
                            subset=mode)
    type_ok = (b.types is None
               or types_compatible(b.types, [k.upper() for k in kinds]))
    if diffs:
        return BlockResult(b.index, "fail", "value-mismatch", diffs, type_ok)
    return BlockResult(b.index, "pass", "", [], type_ok)
