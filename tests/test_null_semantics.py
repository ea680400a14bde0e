"""NULL / error semantics — the reference's documented behaviors
(SURVEY.md hard part #3): non-decimal division is DOUBLE and
divide-by-zero yields NULL (not an error) outside ANSI mode;
`DIV` is integer division; NULL ordering defaults are shimmed;
null-safe equality (<=>) matches IS NOT DISTINCT FROM; a scalar
subquery that returns more than one row raises."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _one(spark, expr: str):
    return spark.sql(f"SELECT {expr} AS v").collect()[0].v


def test_division_by_zero_is_null(spark):
    # session.py sets ansi off: Impala returns NULL for x/0
    assert _one(spark, "1 / 0") is None
    assert _one(spark, "1.5 / 0.0") is None
    assert _one(spark, "1 % 0") is None


def test_int_division_returns_double(spark):
    v = _one(spark, "7 / 2")
    assert isinstance(v, float) and v == 3.5


def test_div_keyword_integer_division(spark):
    assert _one(spark, "7 DIV 2") == 3
    assert _one(spark, "-7 DIV 2") == -3  # truncation toward zero


def test_null_safe_equality(spark):
    assert _one(spark, "NULL <=> NULL") is True
    assert _one(spark, "1 <=> NULL") is False
    assert _one(spark, "1 <=> 1") is True


def test_null_propagation_in_functions(spark):
    assert _one(spark, "concat('a', NULL)") is None
    assert _one(spark, "length(NULL)") is None
    assert _one(spark, "upper(NULL)") is None
    # concat_ws skips NULLs (Impala-compatible)
    assert _one(spark, "concat_ws('-', 'a', NULL, 'b')") == "a-b"


def test_aggregates_ignore_nulls(spark):
    spark.sql(
        "SELECT * FROM VALUES (1), (NULL), (3) AS t(v)"
    ).createOrReplaceTempView("agg_nulls")
    row = spark.sql(
        "SELECT count(*) AS n_star, count(v) AS n_v, sum(v) AS s, avg(v) AS a "
        "FROM agg_nulls"
    ).collect()[0]
    assert (row.n_star, row.n_v, row.s, row.a) == (3, 2, 4, 2.0)


def test_count_star_on_all_null_group(spark):
    row = spark.sql(
        "SELECT sum(v) AS s, min(v) AS mn FROM VALUES (CAST(NULL AS INT)) t(v)"
    ).collect()[0]
    assert row.s is None and row.mn is None


def test_in_with_null_semantics(spark):
    # 1 IN (2, NULL) is NULL (UNKNOWN), which filters out
    assert _one(spark, "1 IN (2, NULL)") is None
    assert _one(spark, "2 IN (2, NULL)") is True


def test_scalar_subquery_cardinality_check(spark):
    """Uncorrelated scalar subquery returning >1 row must raise — the
    reference guards this with CardinalityCheckNode
    (be/src/exec/cardinality-check-node.h:33-40); Spark enforces the
    same contract at runtime."""
    from incubator_impala_spark.sources.tables import load_table

    load_table(spark, SF_SMALL, "region").createOrReplaceTempView("region_cc")
    with pytest.raises(Exception, match="(?i)more than one row|MULTI_VALUE"):
        spark.sql(
            "SELECT (SELECT r_name FROM region_cc) AS x"
        ).collect()
