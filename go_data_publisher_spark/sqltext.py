"""SQL text for the engine's per-batch plans.

The merge and read paths describe each DataFrame step as SQL strings handed
to ``selectExpr`` / ``where`` / ``F.expr``.  A Column tree built in Python
costs one py4j round trip per node (``F.col``, ``.cast``, ``.alias``,
``F.lit`` ...), about 25 per cast column; a SQL string crosses the boundary
once and Catalyst parses it into the same expressions, so the analyzed and
optimized plans do not change.

Every column name goes through ``ident`` so reserved words (``order``,
``select``) and names with dots stay plain column references.
"""

from __future__ import annotations

from pyspark.sql import types as T


def ident(name: str) -> str:
    """Backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_literal(s: str) -> str:
    """Single-quoted SQL string literal (backslash escapes are on by
    default in Spark SQL, so both quote and backslash are escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def type_sql(dt: T.DataType) -> str:
    """Spark SQL type text for ``CAST(... AS <type>)``.  Nested field names
    are quoted; nested types parse as nullable, as any SQL type does."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {type_sql(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{type_sql(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{type_sql(dt.keyType)}, {type_sql(dt.valueType)}>"
    return dt.simpleString()


def cast_to(field: T.StructField, present: bool) -> str:
    """``field`` cast to its declared type, or a typed NULL when the input
    lacks the column (an old-schema batch or file group)."""
    src = ident(field.name) if present else "NULL"
    return f"CAST({src} AS {type_sql(field.dataType)}) AS {ident(field.name)}"


def project_to(schema: T.StructType, columns) -> list[str]:
    """``selectExpr`` arguments projecting a frame with ``columns`` onto
    ``schema``: the scan-time/merge-time cast to the target schema."""
    have = set(columns)
    return [cast_to(f, f.name in have) for f in schema.fields]
