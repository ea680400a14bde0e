"""One INSERT projection for every writer (`statements.Insert.project`).

The plain parquet writer (`Engine._insert`), the insert-only ACID writer
(`acid._insert_acid`) and the Hive-side plain writer
(`acid._hive_plain_insert`, through `Engine.hive_sql`) map an INSERT's
source to the target's columns by one set of rules (InsertStmt): the
same INSERT gives the same rows in each, or the same error:
- a column permutation, with the dynamic partition key after it;
- the empty permutation `()`, which sets no column;
- too few or too many source columns, an error;
- VALUES, whose generated column names (`0.5`) name no column;
- a static value that is an Impala expression (`cast(.. as char(3))`);
- a NULL key, static or dynamic, in the default partition;
- a string key with characters its directory name escapes.
"""

from __future__ import annotations

import pytest

_ACID = ("TBLPROPERTIES ('transactional'='true', "
         "'transactional_properties'='insert_only')")
_COLS = "(a DOUBLE, b STRING) PARTITIONED BY (p STRING) STORED AS PARQUET"

CASES = {
    "permutation_with_dynamic_key":
        "INSERT INTO {t} (b, a) PARTITION (p) SELECT 'x', 1, 'k'",
    "empty_permutation": "INSERT INTO {t} () PARTITION (p='e')",
    "too_few_columns": "INSERT INTO {t} PARTITION (p) SELECT 1, 'x'",
    "too_many_columns":
        "INSERT INTO {t} PARTITION (p) SELECT 1, 'x', 'k', 4",
    "values_generated_names":
        "INSERT INTO {t} PARTITION (p) VALUES (0.5, 'v', 'k')",
    "static_char_cast":
        "INSERT INTO {t} PARTITION (p=cast('a' as char(3))) SELECT 1, 'x'",
    "static_null_key": "INSERT INTO {t} PARTITION (p=NULL) SELECT 1, 'x'",
    "dynamic_null_key":
        "INSERT INTO {t} PARTITION (p) VALUES (1, 'x', NULL)",
    "escaped_key":
        "INSERT INTO {t} PARTITION (p='a/b') VALUES (1, 'x')",
}


@pytest.fixture(scope="module")
def eng(spark):
    from incubator_impala_spark.engine import Engine

    e = Engine(spark)
    yield e
    for kind in ("plain", "acid", "hive"):
        e.sql(f"DROP TABLE IF EXISTS iw_{kind}")


def _outcome(eng, kind: str, text: str):
    """The target's rows after the INSERT, or the INSERT's error."""
    t = f"iw_{kind}"
    eng.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql(f"CREATE TABLE {t} {_COLS}" + (f" {_ACID}" if kind == "acid"
                                           else ""))
    run = eng.hive_sql if kind == "hive" else eng.sql
    try:
        run(text.format(t=t)).collect()
    except Exception as e:  # noqa: BLE001 — the outcome compared
        return f"{type(e).__name__}: {str(e).splitlines()[0]}"
    return sorted(tuple(r) for r in
                  eng.sql(f"SELECT a, b, p FROM {t}").collect())


@pytest.mark.parametrize("text", CASES.values(), ids=CASES.keys())
def test_writers_agree(eng, text):
    plain = _outcome(eng, "plain", text)
    assert _outcome(eng, "acid", text) == plain
    assert _outcome(eng, "hive", text) == plain


def test_rules_follow_insert_stmt(eng):
    # the agreed outcomes are the plain writer's InsertStmt rules
    out = {name: _outcome(eng, "acid", text)
           for name, text in CASES.items()}
    assert out["permutation_with_dynamic_key"] == [(1.0, "x", "k")]
    assert out["empty_permutation"] == [(None, None, "e")]
    for name in ("too_few_columns", "too_many_columns"):
        assert "ASSIGNMENT_ARITY_MISMATCH" in out[name]
    assert out["values_generated_names"] == [(0.5, "v", "k")]
    assert out["static_char_cast"] == [(1.0, "x", "a  ")]
    assert out["static_null_key"] == out["dynamic_null_key"] == [
        (1.0, "x", None)]
    assert out["escaped_key"] == [(1.0, "x", "a/b")]
