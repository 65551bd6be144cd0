"""Spelling expressions as Spark SQL text.

A Column-API expression costs one Py4J round-trip per node it builds, so
a function that unrolls ``num_perm`` terms or a tag chain of folds pays
thousands of round-trips before the first job of an action runs. The
wide expressions are therefore spelled as SQL text, which the JVM
parses in one ``F.expr`` call. These helpers keep that text well-formed:

- identifiers are backtick-quoted (``ident``), string literals escaped
  (``string_lit``);
- a double literal needs the ``D`` suffix: a plain ``64.0`` parses as
  DECIMAL and silently changes the result type;
- SQL lambdas name their variables ``x``, ``y``, ``z``, the base names
  PySpark gives Python lambdas, so both spellings print the same plan
  up to PySpark's ``_N`` counter.
"""

from __future__ import annotations

from pyspark.sql import Column


def ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier (the whole name
    is one part: dots are not qualifiers)."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(s: str) -> str:
    """A Python string as a SQL string literal (backslash escapes, as
    the default parser unescapes them)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def column_sql(c: Column | str) -> str:
    """SQL text of a column argument: a name is quoted; a Column (a
    column reference or function call) is rendered by the JVM once."""
    if isinstance(c, str):
        return ident(c)
    return c._jc.node().sql()
