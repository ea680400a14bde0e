"""Dialect-shim unit tests — mirror of the reference's ParserTest /
ExprRewriteRulesTest layer (fe/src/test/java/org/apache/impala/...):
macro expansion with balanced-paren parsing, Impala NULL-ordering
defaults, and end-to-end Engine.sql execution."""

from __future__ import annotations

from incubator_impala_spark import dialect, sqlscan
from incubator_impala_spark.functions.registry import MACROS


def tr(sql: str) -> str:
    return dialect.translate(sql, MACROS)


def test_macro_simple():
    assert tr("SELECT zeroifnull(x) FROM t") == "SELECT coalesce(x, 0) FROM t"


def test_macro_nested_call():
    out = tr("SELECT zeroifnull(nullifzero(a + b)) FROM t")
    assert out == "SELECT coalesce(nullif(a + b, 0), 0) FROM t"


def test_macro_args_with_commas_in_parens():
    out = tr("SELECT isnull(f(a, b), g(c, d)) FROM t")
    assert out == "SELECT coalesce(f(a, b), g(c, d)) FROM t"
    # a comma inside an escaped literal or a backtick identifier is
    # not an argument separator
    assert tr(r"SELECT zeroifnull('it\'s, x') FROM t") == \
        r"SELECT coalesce('it\'s, x', 0) FROM t"
    assert tr("SELECT zeroifnull(`a,b`) FROM t") == \
        "SELECT coalesce(`a,b`, 0) FROM t"
    assert sqlscan.split_top(r"p='a\'b,c', q=1") == [r"p='a\'b,c'", "q=1"]
    # an empty argument is malformed: the call is left for Spark to
    # reject, not templated over the remaining arguments
    assert tr("SELECT zeroifnull(, x) FROM t") == \
        "SELECT zeroifnull(, x) FROM t"


def test_macro_string_arg_with_paren():
    out = tr("SELECT strleft(concat(a, ')('), 3) FROM t")
    assert out == "SELECT left(concat(a, ')('), 3) FROM t"


def test_macro_case_insensitive():
    assert "coalesce" in tr("SELECT ZEROIFNULL(x) FROM t")


def test_macro_not_applied_to_substring_names():
    # 'myzeroifnull' must not be rewritten
    out = tr("SELECT myzeroifnull(x) FROM t")
    assert out == "SELECT myzeroifnull(x) FROM t"


def test_null_ordering_asc_gets_nulls_last():
    out = tr("SELECT a FROM t ORDER BY a ASC")
    assert "NULLS LAST" in out


def test_null_ordering_desc_gets_nulls_first():
    out = tr("SELECT a FROM t ORDER BY a DESC")
    assert "NULLS FIRST" in out


def test_null_ordering_explicit_untouched():
    sql = "SELECT a FROM t ORDER BY a ASC NULLS FIRST"
    assert "NULLS FIRST" in tr(sql) and "NULLS LAST" not in tr(sql)


def test_null_ordering_bare_item_gets_asc_nulls_last():
    # implicit ASC is Impala-NULLS-LAST too (OrderByElement.java:74-85)
    out = tr("SELECT a FROM t ORDER BY a")
    assert out.rstrip().endswith("ORDER BY a ASC NULLS LAST")


def test_null_ordering_parenthesized_item():
    # round-1 known limitation, now handled: f(x) DESC
    out = tr("SELECT a FROM t ORDER BY coalesce(a, b) DESC")
    assert "coalesce(a, b) DESC NULLS FIRST" in out


def test_null_ordering_multi_item_mixed():
    out = tr("SELECT * FROM t ORDER BY f(a), b DESC, c ASC NULLS FIRST LIMIT 5")
    assert "f(a) ASC NULLS LAST" in out
    assert "b DESC NULLS FIRST" in out
    assert out.count("NULLS FIRST") == 2  # explicit one untouched
    assert out.rstrip().endswith("LIMIT 5")
    # a `--` comment ending an item: the suffix goes before it and the
    # line break after it stays, so `, b` and LIMIT are not commented out
    assert tr("select a, b from t order by a -- first key\n, b desc "
              "limit 5") == ("select a, b from t order by a ASC NULLS LAST "
                             "-- first key\n, b desc NULLS FIRST limit 5")


def test_null_ordering_window_spec_stops_at_rows():
    out = tr(
        "SELECT sum(x) OVER (PARTITION BY g ORDER BY ts "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
    )
    assert "ORDER BY ts ASC NULLS LAST ROWS BETWEEN" in out


def test_null_ordering_subquery_boundary():
    out = tr("SELECT * FROM (SELECT a FROM t ORDER BY g(a) DESC) q ORDER BY a")
    assert "g(a) DESC NULLS FIRST" in out
    assert out.rstrip().endswith("ORDER BY a ASC NULLS LAST")


def test_days_add_preserves_timestamp_time_of_day(engine):
    """Reference registers TIMESTAMP→TIMESTAMP for days_add/months_add
    (impala_functions.py) — the macro must not truncate to DATE."""
    row = engine.sql(
        "SELECT days_add(TIMESTAMP '2024-01-01 10:30:00', 1) AS d, "
        "weeks_add(TIMESTAMP '2024-01-01 10:30:00', 1) AS w, "
        "months_add(TIMESTAMP '2024-01-31 08:15:00', 1) AS m, "
        "years_sub(TIMESTAMP '2024-02-29 23:59:59', 1) AS y"
    ).collect()[0]
    assert str(row.d) == "2024-01-02 10:30:00"
    assert str(row.w) == "2024-01-08 10:30:00"
    assert str(row.m) == "2024-02-29 08:15:00"
    assert str(row.y) == "2023-02-28 23:59:59"


def test_days_add_on_date_stays_date(engine):
    df = engine.sql("SELECT days_add(DATE '2024-02-28', 1) AS d")
    assert df.schema["d"].dataType.simpleString() == "date"
    assert str(df.collect()[0].d) == "2024-02-29"


def test_rotateleft_negative_input(engine):
    """Logical (not arithmetic) shift in the wrap term: rotate of a
    negative 64-bit value must match the pure-Python reference."""

    def rol64(x: int, n: int) -> int:
        ux = x & 0xFFFFFFFFFFFFFFFF
        r = ((ux << n) | (ux >> (64 - n))) & 0xFFFFFFFFFFFFFFFF
        return r - (1 << 64) if r >= (1 << 63) else r

    for x, n in [(-1, 3), (-2, 1), (1, 63), (-(2**62), 2)]:
        got = engine.sql(
            f"SELECT rotateleft(CAST({x} AS BIGINT), {n}) AS r"
        ).collect()[0].r
        assert got == rol64(x, n), (x, n, got, rol64(x, n))


def test_mt_dop_zero_means_auto(engine):
    before = engine.spark.conf.get("spark.sql.shuffle.partitions")
    engine.sql("SET MT_DOP=0")
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") == before
    engine.sql("SET MT_DOP=8")
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") == "8"
    engine.sql(f"SET MT_DOP={before}")


def test_engine_null_ordering_implicit_asc(engine):
    engine.spark.sql(
        "SELECT * FROM VALUES (1), (NULL), (2) AS t(v)"
    ).createOrReplaceTempView("null_imp_t")
    vals = [r.v for r in engine.sql("SELECT v FROM null_imp_t ORDER BY v").collect()]
    assert vals == [1, 2, None]
    # parenthesized sort item, DESC → NULLS FIRST
    vals = [
        r.v
        for r in engine.sql(
            "SELECT v FROM null_imp_t ORDER BY coalesce(v, v) DESC"
        ).collect()
    ]
    assert vals == [None, 2, 1]


def test_engine_sql_end_to_end(engine):
    df = engine.sql(
        "SELECT strleft(c_name, 8) AS pfx, zeroifnull(NULL) AS z "
        "FROM customer LIMIT 1"
    )
    row = df.collect()[0]
    assert row.pfx == "Customer" and row.z == 0


def test_engine_null_ordering_semantics(engine):
    """Impala ASC => NULLS LAST (OrderByElement.java:74-85), opposite
    of Spark's default — verify rows actually come back that way."""
    engine.spark.sql(
        "SELECT * FROM VALUES (1), (NULL), (2) AS t(v)"
    ).createOrReplaceTempView("null_t")
    vals = [r.v for r in engine.sql("SELECT v FROM null_t ORDER BY v ASC").collect()]
    assert vals == [1, 2, None]
    vals = [r.v for r in engine.sql("SELECT v FROM null_t ORDER BY v DESC").collect()]
    assert vals == [None, 2, 1]


def test_cast_format_clause_translation():
    out = tr("SELECT CAST(ts AS STRING FORMAT 'YYYY-MM-DD') FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"
    out = tr("SELECT CAST(ts AS STRING FORMAT 'DD Month YYYY HH24:MI:SS') FROM t")
    assert out == "SELECT date_format(ts, 'dd MMMM yyyy HH:mm:ss') FROM t"


def test_cast_format_end_to_end(engine):
    row = engine.sql(
        "SELECT CAST(TIMESTAMP '2024-02-29 13:05:07' AS STRING "
        "FORMAT 'YYYY-MM-DD HH24:MI:SS') AS s, "
        "CAST(DATE '2024-01-01' AS STRING FORMAT 'DY DD Mon YYYY') AS d"
    ).collect()[0]
    assert row.s == "2024-02-29 13:05:07"
    assert row.d == "Mon 01 Jan 2024"


def test_cast_without_format_untouched():
    sql = "SELECT CAST(x AS STRING) FROM t"
    assert tr(sql) == sql


# --- round-3 fixes: literal/comment-blind keyword scanning (ADVICE r2) ---


def test_order_by_inside_string_literal_untouched():
    sql = "SELECT * FROM t WHERE s = 'ORDER BY oops' AND y=1"
    assert tr(sql) == sql


def test_order_by_inside_comment_untouched():
    sql = "SELECT * FROM t -- ORDER BY c\nWHERE x = 1"
    assert tr(sql) == sql
    sql2 = "SELECT * FROM t /* ORDER BY c */ WHERE x = 1"
    assert tr(sql2) == sql2


def test_order_by_after_string_literal_still_rewritten():
    out = tr("SELECT a FROM t WHERE s='ORDER BY x' ORDER BY a DESC LIMIT 5")
    assert out == (
        "SELECT a FROM t WHERE s='ORDER BY x' ORDER BY a DESC NULLS FIRST LIMIT 5"
    )


def test_macro_name_inside_string_literal_untouched():
    sql = "SELECT 'zeroifnull(x)' FROM t"
    assert tr(sql) == sql


def test_cast_format_parenthesized_expr():
    out = tr("SELECT CAST(f(x) AS STRING FORMAT 'YYYY-MM-DD') FROM t")
    assert out == "SELECT date_format(f(x), 'yyyy-MM-dd') FROM t"


def test_cast_format_nested_inside_plain_cast():
    out = tr("CAST(concat(CAST(d AS STRING FORMAT 'YYYY'), '-x') AS STRING)")
    assert out == "CAST(concat(date_format(d, 'yyyy'), '-x') AS STRING)"


def test_cast_format_untranslatable_token_left_alone():
    # FF9 (nanosecond fraction) stays untranslatable — the engine
    # carries microseconds (SSSSS gained a real translation in r6)
    sql = "SELECT CAST(x AS STRING FORMAT 'FF9') FROM t"
    assert "FORMAT 'FF9'" in tr(sql)


def test_cast_format_varchar_with_length():
    out = tr("SELECT CAST(ts AS VARCHAR(10) FORMAT 'YYYY-MM-DD') FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"


def test_show_functions_in_db_keeps_qualifier():
    from incubator_impala_spark.statements import translate_statement

    assert translate_statement("SHOW FUNCTIONS IN mydb") == (
        "SHOW USER FUNCTIONS IN mydb"
    )
    assert translate_statement("SHOW FUNCTIONS IN mydb 'foo*'") == (
        "SHOW USER FUNCTIONS IN mydb LIKE 'foo*'"
    )
