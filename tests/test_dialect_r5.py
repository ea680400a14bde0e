"""Unit tests for the round-5 dialect rewrites (string-level, no
Spark session) — the parser extensions discovered by running the
reference's functional-query texts. Each rewrite's semantics cite:
fe/src/main/cup/sql-parser.cup (set ops, VALUES, hints) and the
functional-query corpus behaviors they reproduce."""

from __future__ import annotations

from incubator_impala_spark.dialect import (
    clamp_offset,
    rewrite_char_casts,
    rewrite_interval_expr,
    rewrite_right_semi,
    rewrite_setop_operand_limits,
    rewrite_setop_precedence,
    rewrite_values_aliases,
    strip_plan_hints,
)
from incubator_impala_spark.functions.registry import MACROS


def test_values_first_row_aliases():
    out = rewrite_values_aliases("(values(1 a, 2 b), (3, 4)) x")
    assert "col1 AS `a`" in out and "col2 AS `b`" in out
    assert "(values (1, 2), (3, 4))" in out


def test_values_rows_in_one_group():
    out = rewrite_values_aliases("values((1, 'a'), (2, 'b'))")
    assert "values (1, 'a'), (2, 'b')" in out


def test_values_implicit_expression_labels():
    out = rewrite_values_aliases("values (0), (cast('inf' as double))")
    assert "col1 AS `0`" in out


def test_values_not_confused_by_map_values():
    sql = "SELECT map_values(map('a', 1)) AS v"
    assert rewrite_values_aliases(sql) == sql


def test_right_semi_commutes_single_relation():
    out = rewrite_right_semi(
        "select * from a t1 right semi join b t2 on t1.x = t2.x where t2.y")
    assert "b t2 left semi join a t1 on t1.x = t2.x" in out
    assert out.rstrip().endswith("where t2.y")


def test_right_semi_left_join_tree_untouched():
    sql = "select * from a join c on a.i=c.i right semi join b on a.x = b.x"
    assert rewrite_right_semi(sql) == sql
    # the join keywords inside a string literal are data
    sql = "select * from t where s = 'a right semi join b on c'"
    assert rewrite_right_semi(sql) == sql


def test_setop_precedence_left_assoc():
    out = rewrite_setop_precedence(
        "select 100 union select 101 intersect select 101")
    assert out.startswith("((select 100) union select 101) intersect")


def test_setop_homogeneous_chain_untouched():
    sql = "select a from t intersect select b from u intersect select c from v"
    assert rewrite_setop_precedence(sql) == sql


def test_setop_operand_limit_wraps_mid_chain():
    out = rewrite_setop_operand_limits(
        "select a from t order by a limit 10 union all select b from u")
    assert "(select a from t order by a limit 10)" in out


def test_setop_trailing_clause_binds_to_bare_final_operand():
    # IMPALA-4741: order by/limit bind to the select_stmt, not the set op
    out = rewrite_setop_operand_limits(
        "select a from t union all select b from u order by 1 limit 5")
    assert out.rstrip().endswith("(select b from u order by 1 limit 5)")


def test_setop_trailing_clause_stays_global_after_parens():
    sql = "(select a from t) union all (select b from u) order by 1 limit 5"
    assert rewrite_setop_operand_limits(sql) == sql


def test_char_cast_pads_and_varchar_truncates():
    out = rewrite_char_casts("select cast(x as char(5)), cast(y as varchar(3))")
    assert "rpad(cast(x as string), 5, ' ')" in out
    assert "substr(cast(y as string), 1, 3)" in out


def test_interval_expression_becomes_make_interval():
    out = rewrite_interval_expr("select ts + interval n days from t")
    assert "make_interval(0, 0, 0, (n), 0, 0, 0)" in out


def test_interval_literal_untouched():
    sql = "select ts + interval 3 days from t"
    assert rewrite_interval_expr(sql) == sql


def test_limit_offset_clamped_to_int():
    out = clamp_offset("select 1 limit 9223372036854775807 offset 9223372036854775807")
    assert "9223372036854775807" not in out


def test_plan_hints_stripped_all_styles():
    out = strip_plan_hints(
        "select straight_join * from a join [shuffle] b /*+broadcast*/ "
        "join -- +clustered\n c")
    for frag in ("straight_join", "[shuffle]", "/*+", "-- +"):
        assert frag not in out


def test_decode_macro_default_parity():
    # default present iff arg count is even (3 args: one pair, no default)
    three = MACROS["decode"](["x", "1", "'one'"])
    assert "else" not in three
    four = MACROS["decode"](["x", "1", "'one'", "'other'"])
    assert "else ('other')" in four


def test_count_zero_args_macro():
    assert MACROS["count"]([]) == "count(*)"


# ---------------------------------------------------------------------------
# r7: IN-subquery DISTINCT (semi/anti-join build-side dedup)
# ---------------------------------------------------------------------------


def test_in_subquery_distinct_rewrite():
    from incubator_impala_spark.dialect import rewrite_in_subquery_distinct

    r = rewrite_in_subquery_distinct
    # plain IN and NOT IN subqueries dedup their build side
    assert r("select * from t where x in (select y from u)") \
        == "select * from t where x in (select distinct y from u)"
    assert "not in (select distinct y" in \
        r("select * from t where x not in (select y from u)")
    # nested IN subqueries each rewritten
    out = r("select * from t where x in (select y from u "
            "where z in (select w from v))")
    assert out.count("select distinct") == 2
    # a top-level LIMIT/OFFSET pins the multiset — no rewrite there,
    # but an enclosing subquery without one still rewrites
    assert r("select * from t where x in (select y from u limit 5)") \
        == "select * from t where x in (select y from u limit 5)"
    out = r("select * from t where x in (select y from u "
            "where q in (select 1 from v limit 2))")
    assert "in (select distinct y" in out
    assert "in (select 1 from v limit 2)" in out
    # already-distinct, literals, and value lists untouched
    sql = "select * from t where x in (select distinct y from u)"
    assert r(sql) == sql
    sql = "select * from t where x in ('in (select', 'b')"
    assert r(sql) == sql
    sql = "select * from t where x in (1, 2, 3)"
    assert r(sql) == sql


def test_in_subquery_distinct_semantics(spark):
    from incubator_impala_spark.dialect import rewrite_in_subquery_distinct

    spark.range(10).selectExpr("id", "id % 3 AS k") \
        .createOrReplaceTempView("ind_t")
    q = ("select count(*) c from ind_t where k in "
         "(select id % 2 from ind_t)")
    a = spark.sql(q).collect()[0][0]
    b = spark.sql(rewrite_in_subquery_distinct(q)).collect()[0][0]
    assert a == b


def test_string_literal_alias_doubled_quote():
    """Impala string-literal aliases escape an inner double quote by
    doubling it (as "a""b" is identifier a"b) — the backtick rewrite
    must unescape (ADVICE r9)."""
    from incubator_impala_spark.dialect import translate

    out = translate('select 1 as "a""b" from t')
    assert 'as `a"b`' in out, out
    out = translate('select 1 as "order count" from t')
    assert "as `order count`" in out, out
    # `as "..."` inside a single-quoted literal is data, not an alias
    sql = "select 'x as \"y\"' from t"
    assert translate(sql) == sql


def test_decimal_v2_int_cast_rounds(spark):
    """DECIMAL_V2 cast-to-integer rounds half away from zero where
    Spark truncates (decimal-operators-ir.cc CAST_DECIMAL_TO_INT);
    DOUBLE casts keep truncating in both systems. The rewrite fires
    on the division idiom (r10, found by the TPC-DS q54 oracle)."""
    from incubator_impala_spark.dialect import translate

    q = translate(
        "select cast((cast(0.98 as decimal(5,2))/1) as int) a, "
        "cast((cast(-0.98 as decimal(5,2))/1) as int) b, "
        "cast((cast(2.5 as decimal(5,2))/1) as int) c, "
        "cast((3/2) as int) d")
    row = spark.sql(q).collect()[0]
    assert (row.a, row.b, row.c, row.d) == (1, -1, 3, 1)
    # non-division casts keep Spark's plain cast (documented
    # narrowing) and never break analysis
    assert translate("select cast(x as int) from t") \
        == "select cast(x as int) from t"


def test_decimal_v1_int_cast_truncates(spark):
    """DECIMAL_V2=0 (legacy V1): decimal→int casts TRUNCATE
    (decimal-operators-ir.cc `is_decimal_v2 ? ROUND : TRUNCATE`) —
    translate skips the rounding rewrite so Spark's native truncation
    applies; the DuckDB oracle side gets the matching trunc()
    adaptation (tpcds legacy corpus, r11)."""
    import duckdb

    from incubator_impala_spark.dialect import translate
    from incubator_impala_spark.testing.tpcds_oracle import (
        rewrite_int_casts_trunc,
    )

    src = ("select cast((cast(0.98 as decimal(5,2))/1) as int) a, "
           "cast((cast(-0.98 as decimal(5,2))/1) as int) b, "
           "cast((cast(2.5 as decimal(5,2))/1) as int) c")
    q = translate(src, decimal_v2=False)
    assert "round(" not in q.lower()
    row = spark.sql(q).collect()[0]
    assert (row.a, row.b, row.c) == (0, 0, 2)
    drow = duckdb.sql(rewrite_int_casts_trunc(src)).fetchone()
    assert drow == (0, 0, 2)


def test_general_pair_alias_collection_join(spark):
    """(r11) FROM-level pair join of one collection under two aliases
    with a GENERAL condition (pos inequality / element-field
    comparison) — the former DIALECT.md subplan-pair-alias blocker.
    Translation: row-local HOF pair enumeration with every correlated
    ref inside the one generator argument, so the plan carries no
    hash exchange and no domain join (the r9 probe shapes shuffled
    the whole nested array). Oracle: itertools over the collected
    raw arrays — an independent, non-dialect computation."""
    import itertools

    from incubator_impala_spark.engine import Engine
    from incubator_impala_spark.sources.functional import (
        register_functional,
    )

    register_functional(spark)
    eng = Engine(spark, sf_dir=None)
    rows = spark.table("complextypestbl") \
        .select("id", "int_array").collect()
    exp_pos, exp_item = [], []
    for r in rows:
        arr = list(r.int_array or [])
        for i, j in itertools.combinations(range(len(arr)), 2):
            exp_pos.append((r.id, i, j))
            if arr[i] is not None and arr[j] is not None \
                    and arr[i] < arr[j]:
                exp_item.append((r.id, arr[i], arr[j]))
    q_pos = ("select id, a1.pos p1, a2.pos p2 from complextypestbl t "
             "join t.int_array a1 join t.int_array a2 "
             "on (a1.pos < a2.pos)")
    got = sorted(tuple(r) for r in eng.sql(q_pos).collect())
    assert got == sorted(exp_pos)
    got2 = sorted(tuple(r) for r in eng.sql(
        "select id, a1.item i1, a2.item i2 from complextypestbl t "
        "join t.int_array a1 join t.int_array a2 "
        "on (a1.item < a2.item)").collect())
    assert got2 == sorted(exp_item)
    plan = eng.sql(q_pos)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "DomainJoin" not in plan


def test_general_pair_alias_struct_fields_sf1(spark):
    """Struct-element pair condition (o1.o_orderkey < o2.o_orderkey)
    on the sf1 nested-TPC-H fixture, verified against a python
    enumeration of the same customers' order arrays."""
    import itertools

    import pytest as _pytest

    from incubator_impala_spark.engine import Engine

    try:
        from incubator_impala_spark.sources.tpch_ref import (
            register_tpch_ref,
        )

        register_tpch_ref(spark)
    except Exception as exc:  # noqa: BLE001 — fixture absent
        _pytest.skip(f"tpch_nested sf1 fixture unavailable: {exc}")
    eng = Engine(spark, sf_dir=None)
    got = eng.sql(
        "select c_custkey, o1.o_orderkey k1, o2.o_orderkey k2 "
        "from tpch_nested_customer c join c.c_orders o1 "
        "join c.c_orders o2 on (o1.o_orderkey < o2.o_orderkey) "
        "where c_custkey <= 200").collect()
    exp = []
    for r in spark.table("tpch_nested_customer") \
            .filter("c_custkey <= 200") \
            .selectExpr("c_custkey",
                        "transform(c_orders, o -> o.o_orderkey) ks") \
            .collect():
        ks = list(r.ks or [])
        for a, b in itertools.permutations(ks, 2):
            if a < b:
                exp.append((r.c_custkey, a, b))
    assert sorted(tuple(r) for r in got) == sorted(exp)
