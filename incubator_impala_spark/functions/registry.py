"""Scalar-function surface: Impala builtins on Spark.

The reference registers ~570 signatures / 217 unique names
(`common/function-registry/impala_functions.py`, impls under
`be/src/exprs/*-ir.cc` — string-functions-ir.cc 1,542 LoC,
math-functions-ir.cc 798 LoC, timestamp-functions-ir.cc 948 LoC, ...).

Coverage strategy (SURVEY.md §2.11):
- ~190 names are native Spark functions (identical or renamed) — the
  renames are expressed as MACROS expanded by the dialect shim so they
  stay JVM-side inside whole-stage codegen (never Python).
- A small set of true gaps (value-stable hashes, edit-distance
  variants) are Python UDFs registered on the session — explicitly the
  slow path, documented as such, never used in hot benchmark queries.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# Macro aliases: Impala name -> Spark SQL expansion (dialect-shim level,
# stays in codegen). Each value maps arg-string list -> SQL text.
# Cites: BuiltinsDb.java / impala_functions.py registrations.
# ---------------------------------------------------------------------------


def _ignore_nulls_fn(name):
    """Impala spells IGNORE NULLS inside the call parens —
    ``last_value(x ignore nulls)`` (fe/.../FunctionCallExpr.java);
    Spark takes it between the call and OVER. Rewrites only when the
    suffix is present; otherwise the native call stands."""
    def tpl(a):
        if a and re.search(r"(?i)\signore\s+nulls\s*$", a[-1]):
            args = a[:-1] + [re.sub(r"(?i)\signore\s+nulls\s*$", "",
                                    a[-1]).strip()]
            return f"{name}({', '.join(args)}) ignore nulls"
        raise ValueError("keep native spelling")
    return tpl


def _raise_keep_native():
    """Raising from a macro template makes rewrite_macro_calls keep the
    original call text — used when an arg shape should fall through to
    Spark's native function."""
    raise ValueError("keep native spelling")


def _kll_points(args):
    """Constant KLL probe points: variadic args, where a quoted
    comma list ('0.25,0.5,0.75') contributes each of its items."""
    pts = []
    for x in (x.strip() for x in args):
        if len(x) > 1 and x[0] == x[-1] == "'":
            pts.extend(p.strip() for p in x[1:-1].split(","))
        else:
            pts.append(x)
    return pts


def _kll_ranks(a):
    """Exclusive ranks of the split points a[1:] in sketch a[0], as an
    array (see the -x note on the ds_kll_* macros)."""
    pts = ", ".join(f"-cast({p} as double)" for p in _kll_points(a[1:]))
    return (f"transform(kll_sketch_get_rank_double("
            f"cast({a[0]} as binary), array({pts})), r -> 1d - r)")


def _cxx_g(v):
    """C++ default ostream text of double `v` (printf %g: 6
    significant digits, trailing zeros dropped), the reference's
    stringstream formatting in datasketches-common.cc. Java's %g keeps
    the zeros, so they are stripped from the mantissa."""
    return (f"regexp_replace(regexp_replace(format_string('%.6g', {v}), "
            f"'([.][0-9]*?)0+(e|$)', '$1$2'), '[.](e|$)', '$1')")



def _kll_stringify(sk):
    """kll_sketch::to_string's fields (datasketches-functions-ir.cc:
    209-221) on one line, so the row survives the test files'
    row_regex verification. The native summary describes the -x
    sketch, so min and max are negated and swapped back."""
    def field(label):
        return (f"regexp_extract(kll_sketch_to_string_double("
                f"cast({sk} as binary)), '(?m)^ *{label} *: *(.*)$', 1)")

    def negated(label):
        return f"cast(-cast({field(label)} as double) as string)"

    fields = [("K", field("K")), ("Epsilon", field("Epsilon")),
              ("Epsilon PMF", field("Epsilon PMF")),
              ("Empty", field("Empty")),
              ("Estimation mode", field("Estimation Mode")),
              ("N", field("N")), ("Levels", field("Levels")),
              ("Retained items", field("Retained Items")),
              ("Min value", negated("Max Item")),
              ("Max value", negated("Min Item"))]
    body = ", '; ', ".join(f"'{name} : ', {expr}" for name, expr in fields)
    return (f"concat('### KLL sketch summary: ', {body}, "
            f"' ### End sketch summary')")

MACROS = {
    # conditional family (be/src/exprs/conditional-functions*.cc)
    "zeroifnull": lambda a: f"coalesce({a[0]}, 0)",
    "nullifzero": lambda a: f"nullif({a[0]}, 0)",
    "isnull": lambda a: f"coalesce({a[0]}, {a[1]})",
    "istrue": lambda a: f"(({a[0]}) IS TRUE)",
    "isfalse": lambda a: f"(({a[0]}) IS FALSE)",
    "isnottrue": lambda a: f"(({a[0]}) IS NOT TRUE)",
    "isnotfalse": lambda a: f"(({a[0]}) IS NOT FALSE)",
    "nonnullvalue": lambda a: f"(({a[0]}) IS NOT NULL)",
    "nullvalue": lambda a: f"(({a[0]}) IS NULL)",
    # string family (be/src/exprs/string-functions-ir.cc)
    "strleft": lambda a: f"left({a[0]}, {a[1]})",
    "strright": lambda a: f"right({a[0]}, {a[1]})",
    "char_length": lambda a: f"length({a[0]})",
    # base64 pair (string-functions-ir.cc Base64Encode/Base64Decode):
    # Impala's forms are STRING->STRING; Spark's base64/unbase64 work
    # on BINARY, so cast both directions.
    "base64encode": lambda a: f"base64(cast({a[0]} as binary))",
    # invalid input returns NULL (string-functions-ir.cc Base64Decode
    # checks length%4 and the alphabet), where Spark's unbase64
    # best-effort-decodes garbage
    "base64decode": lambda a: (
        f"if(length({a[0]}) % 4 = 0 and "
        f"{a[0]} rlike '^[A-Za-z0-9+/]*={{0,2}}$', "
        f"cast(unbase64({a[0]}) as string), null)"),
    # math (be/src/exprs/math-functions-ir.cc)
    "dround": lambda a: f"round({', '.join(a)})",
    "dceil": lambda a: f"ceil({a[0]})",
    "dfloor": lambda a: f"floor({a[0]})",
    "quotient": lambda a: f"(({a[0]}) div ({a[1]}))",
    "fmod": lambda a: f"mod({a[0]}, {a[1]})",
    # truncate toward zero to d decimals (math-functions-ir.cc): the
    # bigint cast truncates toward zero, matching Impala semantics.
    "truncate": lambda a: (
        f"(cast(({a[0]}) * pow(10, {a[1]}) as bigint) / pow(10, {a[1]}))"
        if len(a) == 2
        else f"cast({a[0]} as bigint)"
    ),
    # timestamp family (be/src/exprs/timestamp-functions-ir.cc)
    "dayname": lambda a: f"date_format({a[0]}, 'EEEE')",
    "monthname": lambda a: f"date_format({a[0]}, 'MMMM')",
    "dayofyear": lambda a: f"dayofyear({a[0]})",
    # interval forms (not date_add/add_months, which return DATE and
    # would truncate a TIMESTAMP's time-of-day): `x + make_interval`
    # preserves the input type — DATE stays DATE, TIMESTAMP stays
    # TIMESTAMP — matching the reference's TIMESTAMP→TIMESTAMP
    # signatures (impala_functions.py days_add et al.)
    # TIMESTAMP -> TIMESTAMP, like months_add (Spark's native
    # add_months returns DATE and drops the time-of-day)
    "add_months": lambda a: f"({a[0]} + make_interval(0,{a[1]},0,0,0,0,0))",
    # to_date returns STRING in the reference (impala_functions.py);
    # the 2-arg form only exists as our CAST..FORMAT lowering — leave it
    "to_date": lambda a: (f"cast(to_date({a[0]}) as string)"
                          if len(a) == 1 else _raise_keep_native()),
    # round stays native both arities: the reference returns DOUBLE for
    # round(DOUBLE) (impala_functions.py:351, math-functions-ir.cc:119)
    # and DECIMAL(p-s+1,0) for round(DECIMAL) — exactly Spark's native
    # typing; a bigint cast would silently NULL values beyond int64
    # (ADVICE r5). Spark round is HALF_UP like the reference.
    "round": lambda a: f"round({', '.join(a)})",
    # Oracle-style decode with NULL-safe matching (conditional-
    # functions.cc DecodeExpr); Spark's native decode stringifies the
    # result values, losing the branch type
    # expr + k (search, result) pairs + optional default: the default
    # is present exactly when the arg count is even
    "decode": lambda a: (
        "(case "
        + " ".join(f"when ({a[0]}) <=> ({a[i]}) then ({a[i + 1]})"
                   for i in range(1, 1 + 2 * ((len(a) - 1) // 2), 2))
        + (f" else ({a[-1]})" if len(a) % 2 == 0 else "")
        + " end)") if len(a) >= 3 else _raise_keep_native(),
    # Impala's 2-arg EXTRACT(ts, unit) allows a non-constant unit;
    # the 1-arg `extract(unit FROM ts)` ANSI form passes through
    "extract": lambda a: (
        f"extract({a[0]})" if len(a) == 1 else
        f"(case lower({a[1]}) "
        f"when 'year' then cast(year({a[0]}) as bigint) "
        f"when 'quarter' then cast(quarter({a[0]}) as bigint) "
        f"when 'month' then cast(month({a[0]}) as bigint) "
        f"when 'day' then cast(day({a[0]}) as bigint) "
        f"when 'hour' then cast(hour({a[0]}) as bigint) "
        f"when 'minute' then cast(minute({a[0]}) as bigint) "
        f"when 'second' then cast(floor(second({a[0]})) as bigint) "
        f"when 'millisecond' then cast(floor(second({a[0]})) as bigint)"
        f" * 1000 + cast(date_format({a[0]}, 'SSS') as bigint) "
        f"when 'epoch' then unix_timestamp({a[0]}) "
        f"end)"),
    # 3-arg regexp_like carries Impala match-parameter flags
    # (string-functions-ir.cc RegexpLike): i=case-insensitive,
    # c=sensitive (default), m=multi-line, n=dot-matches-newline
    "regexp_like": lambda a: (
        f"regexp_like({a[0]}, {a[1]})" if len(a) == 2 else
        f"regexp_like({a[0]}, concat("
        f"if(contains({a[2]}, 'i'), '(?i)', ''), "
        f"if(contains({a[2]}, 'm'), '(?m)', ''), "
        f"if(contains({a[2]}, 'n'), '(?s)', ''), {a[1]}))"),
    # date_add/date_sub follow the same rule (reference signatures are
    # TIMESTAMP,BIGINT->TIMESTAMP and DATE,INT->DATE): the second arg
    # is either a day count or an INTERVAL expression (already lowered
    # to make_interval by rewrite_interval_expr when non-literal)
    "date_add": lambda a: (
        f"({a[0]} + {a[1]})"
        if re.match(r"(?i)\s*(interval\b|make_interval\s*\()", a[1])
        else f"({a[0]} + make_interval(0,0,0,{a[1]},0,0,0))"),
    "date_sub": lambda a: (
        f"({a[0]} - {a[1]})"
        if re.match(r"(?i)\s*(interval\b|make_interval\s*\()", a[1])
        else f"({a[0]} - make_interval(0,0,0,{a[1]},0,0,0))"),
    "adddate": lambda a: f"({a[0]} + make_interval(0,0,0,{a[1]},0,0,0))",
    "subdate": lambda a: f"({a[0]} - make_interval(0,0,0,{a[1]},0,0,0))",
    "weeks_add": lambda a: f"({a[0]} + make_interval(0,0,{a[1]},0,0,0,0))",
    "weeks_sub": lambda a: f"({a[0]} - make_interval(0,0,{a[1]},0,0,0,0))",
    "days_add": lambda a: f"({a[0]} + make_interval(0,0,0,{a[1]},0,0,0))",
    "days_sub": lambda a: f"({a[0]} - make_interval(0,0,0,{a[1]},0,0,0))",
    "months_add": lambda a: f"({a[0]} + make_interval(0,{a[1]},0,0,0,0,0))",
    "months_sub": lambda a: f"({a[0]} - make_interval(0,{a[1]},0,0,0,0,0))",
    "years_add": lambda a: f"({a[0]} + make_interval({a[1]},0,0,0,0,0,0))",
    "years_sub": lambda a: f"({a[0]} - make_interval({a[1]},0,0,0,0,0,0))",
    "hours_add": lambda a: f"({a[0]} + make_interval(0,0,0,0,{a[1]},0,0))",
    "hours_sub": lambda a: f"({a[0]} - make_interval(0,0,0,0,{a[1]},0,0))",
    "minutes_add": lambda a: f"({a[0]} + make_interval(0,0,0,0,0,{a[1]},0))",
    "minutes_sub": lambda a: f"({a[0]} - make_interval(0,0,0,0,0,{a[1]},0))",
    "seconds_add": lambda a: f"({a[0]} + make_interval(0,0,0,0,0,0,{a[1]}))",
    "seconds_sub": lambda a: f"({a[0]} - make_interval(0,0,0,0,0,0,{a[1]}))",
    # sub-second interval arithmetic (impala_functions.py
    # milliseconds_add/microseconds_add/nanoseconds_add): make_interval's
    # seconds arg takes fractional decimals; nanos truncate to µs (the
    # documented TIMESTAMP precision gap, SURVEY.md §1.2)
    "milliseconds_add": lambda a: (
        f"({a[0]} + make_interval(0,0,0,0,0,0,"
        f" cast({a[1]} as decimal(20,3)) / 1000))"
    ),
    "milliseconds_sub": lambda a: (
        f"({a[0]} - make_interval(0,0,0,0,0,0,"
        f" cast({a[1]} as decimal(20,3)) / 1000))"
    ),
    "microseconds_add": lambda a: (
        f"({a[0]} + make_interval(0,0,0,0,0,0,"
        f" cast({a[1]} as decimal(24,6)) / 1000000))"
    ),
    "microseconds_sub": lambda a: (
        f"({a[0]} - make_interval(0,0,0,0,0,0,"
        f" cast({a[1]} as decimal(24,6)) / 1000000))"
    ),
    "nanoseconds_add": lambda a: (
        f"({a[0]} + make_interval(0,0,0,0,0,0,"
        f" cast(({a[1]}) div 1000 as decimal(24,6)) / 1000000))"
    ),
    "nanoseconds_sub": lambda a: (
        f"({a[0]} - make_interval(0,0,0,0,0,0,"
        f" cast(({a[1]}) div 1000 as decimal(24,6)) / 1000000))"
    ),
    "months_add_interval": lambda a: (
        f"({a[0]} + make_interval(0,{a[1]},0,0,0,0,0))"
    ),
    "months_sub_interval": lambda a: (
        f"({a[0]} - make_interval(0,{a[1]},0,0,0,0,0))"
    ),
    "millisecond": lambda a: f"cast(date_format({a[0]}, 'SSS') as int)",
    "week": lambda a: f"weekofyear({a[0]})",
    "weekofyear": lambda a: f"weekofyear({a[0]})",
    # reference truncates toward zero (static_cast<int32_t>,
    # timestamp-functions-ir.cc:603); Spark's double->int cast matches
    # (floor() would be off by one for negative differences)
    "int_months_between": lambda a: (
        f"cast(months_between({a[0]}, {a[1]}) as int)"
    ),
    "from_timestamp": lambda a: f"date_format({a[0]}, {a[1]})",
    "date_cmp": lambda a: (
        f"(CASE WHEN {a[0]} < {a[1]} THEN -1 WHEN {a[0]} > {a[1]} THEN 1 "
        f"WHEN {a[0]} = {a[1]} THEN 0 END)"
    ),
    "timestamp_cmp": lambda a: (
        f"(CASE WHEN {a[0]} < {a[1]} THEN -1 WHEN {a[0]} > {a[1]} THEN 1 "
        f"WHEN {a[0]} = {a[1]} THEN 0 END)"
    ),
    # range-clamped like the reference (TimestampValue::FromUnixTimeMicros
    # valid range 1400-01-01..9999-12-31 23:59:59.999999 -> NULL outside)
    "unix_micros_to_utc_timestamp": lambda a: (
        f"CASE WHEN ({a[0]}) BETWEEN -17987443200000000 AND "
        f"253402300799999999 THEN timestamp_micros({a[0]}) END"),
    "utc_to_unix_micros": lambda a: (
        f"unix_micros(cast({a[0]} as timestamp))"
    ),
    "timeofday": lambda a: (
        "date_format(now(), 'EEE MMM dd HH:mm:ss yyyy z')"
    ),
    "utc_timestamp": lambda a: "to_utc_timestamp(now(), current_timezone())",
    # predicates / inspection (operators-ir.cc, utility-functions-ir.cc)
    "distinctfrom": lambda a: f"(({a[0]}) IS DISTINCT FROM ({a[1]}))",
    "notdistinct": lambda a: f"(({a[0]}) IS NOT DISTINCT FROM ({a[1]}))",
    "is_nan": lambda a: f"isnan({a[0]})",
    "is_inf": lambda a: (
        f"(abs(cast({a[0]} as double)) = cast('Infinity' as double))"
    ),
    "effective_user": lambda a: "current_user()",
    # decimal introspection (decimal-functions-ir.cc precision/scale):
    # derived from typeof() text — works on any expression, stays in
    # codegen after constant folding
    "precision": lambda a: (
        f"(CASE WHEN lower(typeof({a[0]})) LIKE 'decimal%' THEN "
        f"cast(regexp_extract(lower(typeof({a[0]})), "
        f"'decimal\\\\((\\\\d+)', 1) as int) END)"
    ),
    "scale": lambda a: (
        f"(CASE WHEN lower(typeof({a[0]})) LIKE 'decimal%' THEN "
        f"cast(regexp_extract(lower(typeof({a[0]})), "
        f"',(\\\\d+)\\\\)', 1) as int) END)"
    ),
    # the reference's typeof prints type names in caps — DECIMAL(2,1),
    # TINYINT (expr-test.cc TypeOf expectations)
    "typeof": lambda a: f"upper(typeof({a[0]}))",
    # integer type bounds (math-functions-ir.cc MaxInt/MinInt family)
    "max_tinyint": lambda a: "cast(127 as tinyint)",
    "min_tinyint": lambda a: "cast(-128 as tinyint)",
    "max_smallint": lambda a: "cast(32767 as smallint)",
    "min_smallint": lambda a: "cast(-32768 as smallint)",
    "max_int": lambda a: "cast(2147483647 as int)",
    "min_int": lambda a: "cast(-2147483648 as int)",
    "max_bigint": lambda a: "cast(9223372036854775807 as bigint)",
    "min_bigint": lambda a: "cast(-9223372036854775808 as bigint)",
    # regex utilities (string-functions-ir.cc RegexpEscape/MatchCount)
    # byte-exact escape set from the reference (string-functions-ir.cc
    # RegexpEscape): .\+*?[^]$(){}=!<>|:- — includes = ! < > : - which a
    # minimal regex-metachar set would omit
    "regexp_escape": lambda a: (
        f"regexp_replace({a[0]}, "
        "'([.\\\\\\\\+*?\\\\[^\\\\]$(){}=!<>|:-])', '\\\\\\\\$1')"
    ),
    # 4-arg form adds start_pos (1-based) and Impala match-parameter
    # flags (string-functions-ir.cc RegexpMatchCount4Args); flags map
    # to inline regex modifiers like regexp_like above
    "regexp_match_count": lambda a: (
        f"size(regexp_extract_all({a[0]}, {a[1]}, 0))" if len(a) == 2
        else f"size(regexp_extract_all(substr({a[0]}, {a[2]}), concat("
             f"if(contains({a[3]}, 'i'), '(?i)', ''), "
             f"if(contains({a[3]}, 'm'), '(?m)', ''), "
             f"if(contains({a[3]}, 'n'), '(?s)', ''), {a[1]}), 0))"
        if len(a) == 4 else
        f"size(regexp_extract_all(substr({a[0]}, {a[2]}), {a[1]}, 0))"),
    # the one being shifted must be BIGINT: shiftleft on an INT masks the
    # count to 5 bits, so setbit(BIGINT, 40) would set bit 8. The reference
    # supports positions up to 63 (impala_functions.py:800). Result widens
    # to BIGINT for narrower inputs (documented in DIALECT.md).
    "setbit": lambda a: (
        f"(({a[0]}) | (cast(1 as bigint) << ({a[1]})))"
        if len(a) == 2
        else (
            f"(CASE WHEN ({a[2]}) = 0 THEN "
            f"(({a[0]}) & ~(cast(1 as bigint) << ({a[1]}))) "
            f"ELSE (({a[0]}) | (cast(1 as bigint) << ({a[1]}))) END)"
        )
    ),
    # bit/byte (be/src/exprs/bit-byte-functions-ir.cc)
    "bitand": lambda a: f"(({a[0]}) & ({a[1]}))",
    "bitor": lambda a: f"(({a[0]}) | ({a[1]}))",
    "bitxor": lambda a: f"(({a[0]}) ^ ({a[1]}))",
    "bitnot": lambda a: f"(~({a[0]}))",
    # countset(x[, v]): set (v=1, default) or clear (v=0) bits within
    # the input type's width (bit-byte-functions.cc CountSet); the
    # clear-bit count needs the width, recovered from typeof() (a
    # constant-folded literal per column)
    "countset": lambda a: (
        f"bit_count({a[0]})" if len(a) == 1 else
        f"(case when ({a[1]}) = 1 then bit_count({a[0]}) else "
        f"(case typeof({a[0]}) when 'tinyint' then 8 "
        f"when 'smallint' then 16 when 'int' then 32 else 64 end) "
        f"- bit_count({a[0]}) end)"),
    # 64-bit rotate; the wrap-around term must be a LOGICAL shift
    # (shiftrightunsigned) — `>>` sign-extends and corrupts negative
    # inputs. Scope: BIGINT width only (the reference rotates within
    # the input type's width, bit-byte-functions-ir.cc RotateLeftImpl;
    # narrower types are documented in DIALECT.md as 64-bit here).
    "rotateleft": lambda a: (
        f"((({a[0]}) << ({a[1]})) | shiftrightunsigned({a[0]}, 64 - ({a[1]})))"
    ),
    "rotateright": lambda a: (
        f"(shiftrightunsigned({a[0]}, {a[1]}) | (({a[0]}) << (64 - ({a[1]}))))"
    ),
    "getbit": lambda a: f"((({a[0]}) >> ({a[1]})) & 1)",
    # misc
    # empty input (or all-NULL separator arg) follows the reference:
    # no rows -> NULL result, NULL separator -> the default ', '
    # (aggregate-functions-ir.cc StringConcat)
    "group_concat": lambda a: (
        f"if(count({a[0]}) = 0, null, concat_ws("
        + (f"coalesce({a[1]}, ', ')" if len(a) > 1 else "', '")
        + f", collect_list({a[0]})))"
    ),
    "first_value": _ignore_nulls_fn("first_value"),
    "last_value": _ignore_nulls_fn("last_value"),
    "lead": _ignore_nulls_fn("lead"),
    "lag": _ignore_nulls_fn("lag"),
    "nth_value": _ignore_nulls_fn("nth_value"),
    # byte-exact reference hashes: route through the typed UDFs with
    # the column's type name so each value hashes its raw slot bytes
    # (utility-functions-ir.cc; see functions/udfs.py _typed_bytes)
    "murmur_hash": lambda a: f"murmur_hash_typed({a[0]}, typeof({a[0]}))",
    "fnv_hash": lambda a: f"fnv_hash_typed({a[0]}, typeof({a[0]}))",
    # alias spellings of the variance family (BuiltinsDb.java)
    "variance_samp": lambda a: f"var_samp({a[0]})",
    "variance_pop": lambda a: f"var_pop({a[0]})",
    # Impala-exact PCSA (functions/pc.py): 32 JVM bit_or longs carry
    # the 64x32 Flajolet-Martin bitmap; values match
    # distinct-estimate.test verbatim
    "distinctpcsa": lambda a: (
        "pcsa_est(array(" + ", ".join(
            f"bit_or(pcsa_long_typed({a[0]}, typeof({a[0]}), {i}))"
            for i in range(32)) + "))"),
    # zero-arg count() is count(*) in the reference's parser
    "count": lambda a: "count(*)" if not a else _raise_keep_native(),
    # the reference's NDV exactly: murmur2-64(FNV seed) over typed
    # bytes → 1024-bucket HLL with HLL++ bias/linear-counting
    # (functions/hll.py; values match distinct-estimate.test verbatim).
    # The aggregate itself is a JVM collect_set over ≤56k packed slot
    # codes — partial-agg friendly, bounded at any scale; only the
    # per-value hash and the one finalize call are pandas UDFs.
    # The 2-arg form (ndv(x, scale), precision scale+8) keeps Spark's
    # HLL++ estimate — only p=10 bias tables are carried.
    "ndv": lambda a: (
        f"impala_hll_est(collect_set("
        f"hll_slot_typed({a[0]}, typeof({a[0]}))))" if len(a) == 1
        else f"approx_count_distinct({a[0]}, 0.02)"),
    # sampled_ndv(col, sample_perc) SQL form: HLL over the rows given
    # (reference pairs it with TABLESAMPLE — the sample_perc arg only
    # feeds its extrapolation curve-fit). Extrapolation lives in the
    # DataFrame operator operators/sampling.py::sampled_ndv (Duj1);
    # the SQL macro estimates the rows it sees, documented in
    # DIALECT.md as the no-extrapolation form.
    "sampled_ndv": lambda a: f"approx_count_distinct({a[0]}, 0.02)",
    "distinctpc": lambda a: (
        "pc_est(array(" + ", ".join(
            f"bit_or(pc_long_typed({a[0]}, typeof({a[0]}), {i}))"
            for i in range(32)) + "))"),
    # appx_median is the reference's reservoir median: sorted-sample
    # element at n/2 (0-based) — the UPPER median, reproduced exactly
    # (AppxMedianFinalize / ReservoirSampleState::GetMedian). The
    # reference itself materializes a <=20k sample; this form sorts the
    # full group (see SCALE.md note) — percentile_approx remains the
    # sketch path for unbounded groups.
    "appx_median": lambda a: (
        f"element_at(array_sort(collect_list({a[0]})), "
        f"cast(count({a[0]}) div 2 + 1 as int))"),
    # DataSketches HLL family (BuiltinsDb.java:1056-1082; scalar
    # estimators be/src/exprs/datasketches-functions-ir.cc) — Spark
    # 3.5+/4.x ships the same Apache DataSketches HLL under native
    # names, so sketches stay JVM-side and mergeable.
    # Input widening: the reference accepts tinyint/float/double too
    # (Spark's agg takes int/bigint/string/binary), so items feed in
    # under an injective string encoding; estimates are item-set
    # cardinalities either way. nullif('') reproduces IMPALA-9942:
    # empty strings are not distinct items. Sketches round-trip
    # through STRING table columns (the reference stores them that way
    # pending its binary support), so the scalar side casts back to
    # binary, with NULL/too-short guards mapping to NULL like the
    # reference's null/empty handling.
    # The aggregates return NULL over empty/all-NULL input (the
    # reference UDA's finalize: no update -> NULL); the scalar
    # union_f() instead substitutes a serialized EMPTY sketch for
    # NULL/'' inputs, so estimate(union_f(null, null)) is 0 while
    # estimate(null) stays NULL — exactly the test-pinned contract.
    "ds_hll_sketch": lambda a: (
        (lambda x: (
            f"if(count(nullif(cast({x} as string), '')) = 0, null, "
            f"hll_sketch_agg(nullif(cast({x} as string), '')))"
        ))(a[0])
    ),
    "ds_hll_union": lambda a: (
        (lambda x: (
            f"if(count(nullif(cast({x} as binary), cast('' as binary)))"
            f" = 0, null, hll_union_agg(cast({x} as binary)))"
        ))(a[0])
    ),
    "ds_hll_estimate": lambda a: (
        f"if(length(cast({a[0]} as binary)) < 8, null, "
        f"hll_sketch_estimate(cast({a[0]} as binary)))"),
    "ds_hll_union_f": lambda a: (
        (lambda x, y: (
            f"hll_union("
            f"if({x} is null or length(cast({x} as binary)) < 8, "
            f"unhex('0201070C03040008'), cast({x} as binary)), "
            f"if({y} is null or length(cast({y} as binary)) < 8, "
            f"unhex('0201070C03040008'), cast({y} as binary)))"
        ))(a[0], a[1])
    ),
    "ds_hll_sketch_and_estimate": lambda a: (
        (lambda x: (
            f"if(count(nullif(cast({x} as string), '')) = 0, null, "
            f"hll_sketch_estimate("
            f"hll_sketch_agg(nullif(cast({x} as string), ''))))"
        ))(a[0])
    ),
    # HLL debug printers (impala_functions.py:936-942): the sketch
    # preamble + the reference's own CouponList/HllArray bound
    # formulas, reproduced over Spark's DataSketches binary in
    # sketches.py (ds_hll_*_impl pandas UDFs, which read the sketch
    # preamble no native exposes).
    "ds_hll_stringify": lambda a: (
        f"ds_hll_stringify_impl(cast({a[0]} as binary), "
        f"if(length(cast({a[0]} as binary)) < 8, null, "
        f"hll_sketch_estimate(cast({a[0]} as binary))))"
    ),
    "ds_hll_estimate_bounds_as_string": lambda a: (
        (lambda s, kappa: (
            f"ds_hll_bounds_impl(cast({s} as binary), "
            f"if(length(cast({s} as binary)) < 8, null, "
            f"hll_sketch_estimate(cast({s} as binary))), {kappa})"
        ))(a[0], a[1] if len(a) > 1 else "2")
    ),
    # DataSketches KLL family (BuiltinsDb.java:1327-1374; scalar
    # estimators be/src/exprs/datasketches-functions-ir.cc) on Spark
    # 4.1's native DataSketches KLL, so sketches stay JVM-side and
    # partially aggregate map-side. The natives rank INCLUSIVELY; the
    # reference's get_rank/get_quantile are exclusive (less-than
    # comparator, kll_sketch_impl.hpp:313-331). A sketch therefore
    # holds -x: quantile(phi) = -q_incl(1 - phi) and rank(v) =
    # 1 - r_incl(-v). Rank, quantile and split arguments must be
    # constants (Spark raises NON_FOLDABLE_INPUT otherwise), so the
    # list forms build literal arrays here. Sketches are BINARY and
    # round-trip through STRING columns like the HLL ones; compaction
    # is randomized, as in the reference's library, so estimates vary
    # between runs once a sketch compacts. The aggregates return NULL
    # over empty/all-NULL input (reference UDA finalize: no update ->
    # NULL); the natives would return an empty sketch.
    "ds_kll_sketch": lambda a: (
        f"if(count({a[0]}) = 0, null, "
        f"kll_sketch_agg_double(-cast({a[0]} as double)))"),
    "ds_kll_union": lambda a: (
        f"if(count({a[0]}) = 0, null, "
        f"kll_merge_agg_double(cast({a[0]} as binary)))"),
    "ds_kll_quantile": lambda a: (
        f"(-kll_sketch_get_quantile_double(cast({a[0]} as binary), "
        f"1d - cast({a[1]} as double)))"),
    "ds_kll_rank": lambda a: (
        f"(1d - kll_sketch_get_rank_double(cast({a[0]} as binary), "
        f"-cast({a[1]} as double)))"),
    "ds_kll_n": lambda a: f"kll_sketch_get_n_double(cast({a[0]} as binary))",
    "ds_kll_quantiles_as_string": lambda a: (
        f"array_join(transform(kll_sketch_get_quantile_double("
        f"cast({a[0]} as binary), array("
        + ", ".join(f"1d - cast({p} as double)" for p in _kll_points(a[1:]))
        + f")), v -> {_cxx_g('-v')}), ',')"),
    # CDF: the exclusive rank at each split point plus the trailing
    # 1.0 (DataSketches get_CDF contract); PMF: successive differences
    "ds_kll_cdf_as_string": lambda a: (
        f"array_join(transform(concat({_kll_ranks(a)}, array(1d)), "
        f"v -> {_cxx_g('v')}), ',')"),
    "ds_kll_pmf_as_string": lambda a: (
        f"array_join(zip_with(concat({_kll_ranks(a)}, array(1d)), "
        f"concat(array(0d), {_kll_ranks(a)}), "
        f"(hi, lo) -> {_cxx_g('hi - lo')}), ',')"),
    "ds_kll_stringify": lambda a: _kll_stringify(a[0]),
    # histogram (BuiltinsDb.java:1001; HistogramFinalize,
    # aggregate-functions-ir.cc:1413-1435): min(n,100) values from the
    # sorted sample at indices (i+1)*max(n/100,1)-1 — reproduced
    # exactly, so small inputs print every value, as the reference's
    # expected files record. The reference bounds memory with a 20k
    # reservoir; this form sorts the full group (SCALE.md note).
    # value printing mirrors the C++ ostream forms the expected files
    # record: booleans as 0/1, floats without a trailing ".0"
    "histogram": lambda a: (
        f"if(count({a[0]}) = 0, null, "
        f"array_join(transform("
        f"sequence(1, cast(least(count({a[0]}), 100) as int)), "
        f"i -> (case when typeof(element_at(array_sort("
        f"collect_list({a[0]})), 1)) = 'boolean' "
        f"then cast(cast(element_at(array_sort(collect_list({a[0]})), "
        f"cast(i * greatest(count({a[0]}) div 100, 1) as int)) as int) "
        f"as string) "
        f"else regexp_replace(cast(element_at(array_sort("
        f"collect_list({a[0]})), "
        f"cast(i * greatest(count({a[0]}) div 100, 1) as int)) "
        f"as string), '^(-?[0-9]+)\\\\.0$', '$1') end)), ', '))"),
    # masking family beyond Spark's mask() (mask-functions-ir.cc, 735
    # LoC: mask_first_n/last_n/show_first_n/show_last_n/mask_hash).
    # Impala default n=4; mask_hash is sha256 hex for strings.
    "mask_first_n": lambda a: (
        f"concat(mask(left({a[0]}, {a[1] if len(a) > 1 else 4})),"
        f" substr({a[0]}, {a[1] if len(a) > 1 else 4} + 1))"
    ),
    "mask_last_n": lambda a: (
        f"concat(substr({a[0]}, 1, length({a[0]}) - {a[1] if len(a) > 1 else 4}),"
        f" mask(right({a[0]}, {a[1] if len(a) > 1 else 4})))"
    ),
    "mask_show_first_n": lambda a: (
        f"concat(left({a[0]}, {a[1] if len(a) > 1 else 4}),"
        f" mask(substr({a[0]}, {a[1] if len(a) > 1 else 4} + 1)))"
    ),
    "mask_show_last_n": lambda a: (
        f"concat(mask(substr({a[0]}, 1, length({a[0]}) - {a[1] if len(a) > 1 else 4})),"
        f" right({a[0]}, {a[1] if len(a) > 1 else 4}))"
    ),
    "mask_hash": lambda a: f"lower(sha2({a[0]}, 256))",
}

# Scale-mode macro table (engine default, SET EXACT_NDV=0): ndv() runs
# on Spark's JVM HLL++ (approx_count_distinct, whole-stage codegen,
# zero Python in the plan) instead of the reference-exact pandas-UDF
# HLL above. The exact table is what the querytest parity harness and
# distinct-estimate-sensitive paths enable via SET EXACT_NDV=1 — the
# estimate differs slightly between the two HLLs, never the scale of
# the answer. rsd 0.023 is Spark's precision 12 (p = ceil(2·log2(
# 1.106/rsd)), 4096 registers), finer than the reference's precision
# 10 (COMPUTE STATS uses rsd 0.04, which is p=10).
MACROS_SCALE = dict(
    MACROS,
    ndv=lambda a: (f"approx_count_distinct({a[0]}, 0.023)"
                   if len(a) == 1
                   else f"approx_count_distinct({a[0]}, 0.02)"),
)


def register_all(spark: SparkSession) -> None:
    """Register Python-UDF gap functions on the session.

    Kept tiny on purpose: everything that *can* be a macro or native
    call is; only value-stable hashes & rare edit distances land here.
    """
    from incubator_impala_spark.functions import sketches, udfs

    udfs.register(spark)
    sketches.register(spark)
