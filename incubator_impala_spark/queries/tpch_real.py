"""The reference's own TPC-H query texts, run end-to-end.

Each entry loads a near-verbatim public TPC-H benchmark query text
(tpch_real_sql/q*.sql, extracted from the reference's
testdata/workloads/tpch/queries/ — the SQL is the public TPC-H spec)
and runs it through the dialect shim against the committed full-schema
fixture (fixtures/tpch/), with the SAME text as a self-contained
DuckDB oracle. The DataFrame corpus (queries/tpch.py) re-expresses
these queries Spark-first over the driver's subset tables; THIS corpus
proves the reference's actual SQL executes and is bit-right.

Reuses the cross-engine determinism machinery from tpcds_real
(identical normalization applied to BOTH engines' texts): avg ->
sum/count double quotient, opt-in div-to-double for decimal-quotient
outputs, output-naming patches.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from incubator_impala_spark.dialect import translate
from incubator_impala_spark.queries.tpcds_real import (
    rewrite_avg,
    rewrite_div_double,
)
from incubator_impala_spark.sources.tpch_full import (
    duckdb_oracle_sql,
    full_schema_views,
)

_SQL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tpch_real_sql")

QUERIES: dict = {}
ORACLE_SQL: dict = {}

# Spark evaluates decimal/decimal exactly; DuckDB as IEEE double —
# queries whose OUTPUT carries a full-precision decimal quotient get
# the numerator cast to double in both texts (repo convention).
_DIV_TO_DOUBLE = {"8", "14", "17", "22"}

# name-only / dtype patches applied identically to both texts
# (q3: a raw DATE projection comes back as datetime.date from Spark
# but datetime64 from DuckDB's pandas bridge; cast-to-timestamp in
# the projection puts both sides in the same value domain)
_PATCHES: dict[str, list[tuple[str, str]]] = {
    "3": [("as revenue,\n  o_orderdate,",
           "as revenue,\n  cast(o_orderdate as timestamp)"
           " as o_orderdate,")],
    "18": [("  o_orderdate,\n  o_totalprice,",
            "  cast(o_orderdate as timestamp) as o_orderdate,"
            "\n  o_totalprice,")],
}


def load_text(label: str) -> str:
    with open(os.path.join(_SQL_DIR, f"q{label}.sql")) as f:
        lines = [ln for ln in f
                 if not ln.lstrip().startswith(("--", "#"))]
    text = "".join(lines).strip()
    for old, new in _PATCHES.get(label, []):
        assert old in text, f"q{label}: patch target not found: {old!r}"
        text = text.replace(old, new)
    if label in _DIV_TO_DOUBLE:
        text = rewrite_div_double(text)
    return rewrite_avg(text)


def _register(label: str) -> None:
    text = load_text(label)
    name = f"tpch_real_q{label}"

    def fn(spark: SparkSession, sf_dir: str, _t=text) -> DataFrame:
        # sf_dir intentionally unused: the full-schema fixture is its
        # own (fixed-size) dataset; the driver's subset tables cannot
        # run these texts (no partsupp / commitdate / phone columns),
        # and keep their names once the text is analyzed
        with full_schema_views(spark):
            return spark.sql(translate(_t))

    fn.__name__ = name
    fn.__doc__ = (
        f"TPC-H q{label}, near-verbatim reference query text "
        f"(testdata/workloads/tpch/queries/tpch-q{label}.test) on the "
        f"full-schema synthetic fixture, via the dialect shim.")
    QUERIES[name] = fn
    ORACLE_SQL[name] = duckdb_oracle_sql(text)


def available_labels() -> list[str]:
    labels = [f[1:-4] for f in os.listdir(_SQL_DIR)
              if re.fullmatch(r"q\d+\.sql", f)]
    return sorted(labels, key=int)


for _q in available_labels():
    _register(_q)
