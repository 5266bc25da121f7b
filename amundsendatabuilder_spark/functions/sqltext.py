"""Rendering Python values into Spark SQL expression text.

The epoch and point-read paths describe their projections, filters and
aggregates as SQL text (``selectExpr`` / ``where`` / ``F.expr``): the JVM
parses each expression once, where the Column API would assemble it node by
node over Py4J. Every value spliced into that text goes through one of these
helpers, so a quote or backslash in a cluster name, tag, regex or column
name cannot change the expression.
"""

from __future__ import annotations

from pyspark.sql import types as T


def sql_str(s: str) -> str:
    """A Spark SQL string literal whose value is ``s`` (``\\`` and ``'``
    escaped with a backslash, the default literal syntax)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A backticked Spark SQL identifier naming the column ``name``."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dt: T.DataType) -> str:
    """DDL text of ``dt`` (struct field names quoted), for ``CAST(... AS t)``."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{sql_ident(f.name)}:{sql_type(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)},{sql_type(dt.valueType)}>"
    return dt.simpleString()
