"""Driver-literal relations that broadcast without a Spark job.

``spark.createDataFrame(list_of_rows)`` in PySpark always routes the
data through ``sc.parallelize`` — the relation becomes a Python-RDD
scan with ``defaultParallelism`` partitions, so every BROADCAST of it
launches a build job with one (mostly empty) task per core plus a
Python-worker round trip to re-serialize rows that already live on the
driver. Measured on this engine's serving paths (round-17, local[32],
1M-row probe join): ~680 ms per broadcast for an 8-row relation, vs
~190 ms when the same rows are a constant-folded ``VALUES`` relation —
Catalyst turns that into a ``LocalTableScan`` whose broadcast is built
driver-side with NO job at all. Every ANN/hybrid serving call carries
one to three such tiny relations (probe lists, ADC tables, query-token
sets), so the parallelize tax was a fixed ~0.5-1.5 s on every warm
search.

``local_rel`` renders small driver-side rows as a ``VALUES`` clause
with one explicit CAST per column (types never inferred), covering the
literal shapes the serving paths use: ints, floats (IEEE round-trip
via ``repr``, NaN/Infinity included), strings (backslash and quote
escaped — Spark SQL string literals are backslash-escaped by default),
booleans, None, and (nested) arrays of these.

This is for DRIVER-BOUNDED relations only (the same budget discipline
as every broadcast in this engine): past ``MAX_LOCAL_REL_ROWS`` the
helper falls back to ``createDataFrame`` rather than build a
multi-megabyte SQL text the parser then has to chew through.
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

#: fall back to createDataFrame past this many rows — a VALUES text in
#: the hundreds of thousands of literals stops being a parser win, and
#: anything that size should not be a driver-side relation anyway
MAX_LOCAL_REL_ROWS = 2048


def _split_schema(schema: str) -> "list[tuple[str, str]]":
    """Split a DDL schema string ("a int, b array<array<bigint>>")
    into (name, type) pairs at top-level commas."""
    cols: list[tuple[str, str]] = []
    depth = 0
    cur = ""
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        cols.append(cur.strip())
    out = []
    for c in cols:
        name, typ = c.split(None, 1)
        out.append((name.strip(), typ.strip()))
    return out


def _lit(v) -> str:
    import numbers

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, numbers.Integral):  # int and numpy integer scalars
        return str(int(v))
    if isinstance(v, numbers.Real):
        v = float(v)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # repr is the shortest string that round-trips the exact double
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_lit(x) for x in v) + ")"
    if hasattr(v, "tolist"):  # numpy arrays
        return _lit(v.tolist())
    raise TypeError(f"local_rel cannot render a literal for {type(v)!r}")


def _has_struct(dt: DataType) -> bool:
    if isinstance(dt, StructType):
        return True
    if isinstance(dt, ArrayType):
        return _has_struct(dt.elementType)
    if isinstance(dt, MapType):
        return _has_struct(dt.keyType) or _has_struct(dt.valueType)
    return False


def local_rel(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side relation as a constant-folded VALUES plan
    (LocalTableScan — broadcasts without a build job; see module doc).
    ``rows`` is a sequence of tuples/lists, ``schema`` the same DDL
    string createDataFrame takes (or a StructType, rendered to DDL;
    note VALUES columns are always nullable — don't use this where a
    not-null constraint must survive in the schema). Falls back to
    createDataFrame for row counts past MAX_LOCAL_REL_ROWS and for a
    StructType with a nested struct field (its inner field names would
    render unquoted inside the CAST type)."""
    rows = list(rows)
    if len(rows) > MAX_LOCAL_REL_ROWS:
        return spark.createDataFrame(rows, schema)
    if not isinstance(schema, str) and any(
        _has_struct(f.dataType) for f in schema.fields
    ):
        # a nested struct renders its field names unquoted inside the
        # CAST type (simpleString), and _lit has no struct literal
        return spark.createDataFrame(rows, schema)
    if not isinstance(schema, str):  # StructType
        # build (name, type) pairs directly — a DDL round-trip would
        # mis-split names containing spaces/commas (round-18 hardening)
        cols = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    else:
        cols = _split_schema(schema)
    # backtick-quote the output aliases (round-18 hardening): a column
    # named with a reserved word or special character would otherwise
    # generate invalid SQL; backticks inside the name itself escape by
    # doubling, per Spark's quoted-identifier rules
    proj = ", ".join(
        "CAST(col{i} AS {typ}) AS `{name}`".format(
            i=i + 1, typ=typ, name=name.replace("`", "``")
        )
        for i, (name, typ) in enumerate(cols)
    )
    if not rows:
        nulls = ", ".join("NULL" for _ in cols)
        return spark.sql(
            f"SELECT {proj} FROM (VALUES ({nulls})) WHERE 1 = 0"
        )
    vals = ", ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {vals}")
