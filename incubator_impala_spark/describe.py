"""Impala-style DESCRIBE, including paths into complex types.

Reference surface: DescribeTableStmt with a resolved path
(fe/src/main/java/org/apache/impala/analysis/DescribeTableStmt.java,
Path.java) and the catalog's type printer that renders nested structs
across multiple lines with two-space indent per level
(fe/.../catalog/StructType.java prettyPrint). Semantics reproduced:

* ``DESCRIBE t`` — one row per column: (name, type, comment).
* ``DESCRIBE t.struct_col`` — the struct's fields.
* ``DESCRIBE t.array_col`` — the flattened element view: ``item`` (the
  element type) and ``pos``.
* ``DESCRIBE t.map_col`` — ``key`` and ``value``.
* Path steps: struct field names, ``item`` into an array element,
  ``key``/``value`` into a map side (case-insensitive, like Impala).

Column comments come from the StructField metadata (the functional
fixture carries the schema template's ``COMMENT`` strings); absent
comments print as '' exactly as the reference does.
"""

from __future__ import annotations

from pyspark.errors.exceptions.base import (
    PySparkException as _PYSPARK_ERR,
)
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from incubator_impala_spark.session import rows_df


def impala_type_str(dt: DataType, indent: int = 0) -> str:
    """The reference's type rendering: structs break across lines with
    two-space indent per nesting level; array/map wrappers stay inline
    and pass the current indent through to any struct inside."""
    if isinstance(dt, StructType):
        # Impala stores identifiers lowercase (case-insensitive
        # catalog); the reference's describe prints them that way even
        # when the parquet footer carries mixed case
        inner = ",\n".join(
            f"{' ' * (indent + 2)}{f.name.lower()}:"
            f"{impala_type_str(f.dataType, indent + 2)}"
            for f in dt.fields)
        return f"struct<\n{inner}\n{' ' * indent}>"
    if isinstance(dt, ArrayType):
        return f"array<{impala_type_str(dt.elementType, indent)}>"
    if isinstance(dt, MapType):
        return (f"map<{impala_type_str(dt.keyType, indent)},"
                f"{impala_type_str(dt.valueType, indent)}>")
    s = dt.simpleString()
    return s


def _comment(field) -> str:
    try:
        return field.metadata.get("comment", "") or ""
    except (AttributeError, TypeError):  # metadata absent
        return ""


def describe_rows(spark, path: str) -> list[tuple[str, str, str]]:
    """Rows for DESCRIBE over a dotted path; raises ValueError when the
    path does not resolve (caller surfaces as an analysis error)."""
    segs = [s.strip("`") for s in path.split(".") if s.strip("`")]
    # longest table/view prefix first: `db.t.col` arrives with the db
    # already stripped by callers, but a plain `t.col` must try `t`
    df = None
    rest: list[str] = []
    for k in range(len(segs), 0, -1):
        name = ".".join(segs[:k])
        try:
            df = spark.table(name)
            rest = segs[k:]
            break
        except _PYSPARK_ERR:  # not this prefix — try shorter
            continue
    if df is None:
        raise ValueError(f"Could not resolve path: {path}")

    def field_type(f) -> str:
        # Spark erases CHAR(n)/VARCHAR(n) to string in DataFrame
        # schemas, keeping the declared type in field metadata —
        # surface the declared spelling like the reference does
        try:
            raw = f.metadata.get("__CHAR_VARCHAR_TYPE_STRING")
            if raw:
                return raw.lower()
        except (AttributeError, TypeError):  # metadata absent
            pass
        return impala_type_str(f.dataType)

    if not rest:
        return [(f.name.lower(), field_type(f), _comment(f))
                for f in df.schema.fields]

    dt: DataType = df.schema
    for seg in rest:
        low = seg.lower()
        if isinstance(dt, StructType):
            match = next((f for f in dt.fields
                          if f.name.lower() == low), None)
            if match is None:
                raise ValueError(
                    f"Could not resolve path: {path} (no field {seg})")
            dt = match.dataType
        elif isinstance(dt, ArrayType) and low == "item":
            dt = dt.elementType
        elif isinstance(dt, ArrayType) and low == "pos":
            raise ValueError(f"Cannot describe scalar path: {path}")
        elif isinstance(dt, MapType) and low in ("key", "value"):
            dt = dt.keyType if low == "key" else dt.valueType
        else:
            raise ValueError(f"Could not resolve path: {path}")

    if isinstance(dt, StructType):
        return [(f.name.lower(), impala_type_str(f.dataType), _comment(f))
                for f in dt.fields]
    if isinstance(dt, ArrayType):
        return [("item", impala_type_str(dt.elementType), ""),
                ("pos", "bigint", "")]
    if isinstance(dt, MapType):
        return [("key", impala_type_str(dt.keyType), ""),
                ("value", impala_type_str(dt.valueType), "")]
    raise ValueError(f"Cannot describe scalar path: {path}")


def describe_df(spark, path: str):
    rows = describe_rows(spark, path)
    return rows_df(spark, rows, "name string, type string, comment string")
