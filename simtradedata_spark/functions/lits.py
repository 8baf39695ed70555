"""One-py4j-call construction of large (nested) array literals, and of
small driver-side tables (``local_rows``).

``F.lit(nested_python_list)`` in PySpark 4.1 classic expands RECURSIVELY —
``lit(list)`` becomes ``array(*[lit(x) for x in list])`` — so an
m×k×(d/m) codebook costs ~m·k·(d/m) py4j round trips plus as many Catalyst
nodes before constant folding collapses them. Measured on the 8×16×8 PQ
codebook shape: ~1.0 s of driver time per literal, vs ~1-4 ms for parsing
the equivalent SQL array literal JVM-side (r11 measurement). Both forms
constant-fold to the SAME single Literal in the optimized plan, so the
executed plan, the values and the oracle hashes are untouched — only the
driver-side build cost changes.

Exactness: doubles are rendered with ``repr``, Python's shortest
round-trip decimal form; Java's ``Double.parseDouble`` (what the SQL
parser uses) maps that string back to the identical IEEE double, so the
literal is bit-exact with what ``F.lit`` would have produced."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _render(v) -> str:
    if isinstance(v, (list, tuple)):
        if not v:
            # array() has no element type to infer — callers never build
            # empty tables; fail fast rather than hand Catalyst array<null>
            raise ValueError("fast_lit: empty array has no element type")
        return "array(" + ",".join(_render(x) for x in v) + ")"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"fast_lit: non-finite double {v!r}")
        return repr(v) + "D"
    if isinstance(v, int):
        # BIGINT unconditionally: a mixed int32/int64 array would make the
        # element type depend on the VALUES; callers cast where narrower
        # types matter
        return str(v) + "L"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"fast_lit: unsupported element type {type(v).__name__}")


def fast_lit(values) -> Column:
    """Literal Column for a (possibly nested) list of floats/ints/strs —
    semantically ``F.lit(values)`` (int elements typed bigint), built with
    ONE py4j call instead of one per element."""
    return F.expr(_render(values))


def local_rows(spark, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a handful of driver-side
    rows, built as a JVM-local relation (SQL ``VALUES`` rendered by
    ``_render``, so ints, strings, bools and finite doubles stay exact;
    ``None`` is NULL) and cast to the DDL ``schema``; a column without
    NULLs comes out not nullable. ``createDataFrame`` over a list goes through a Python
    RDD, which in a fresh process starts the pyspark daemon and one worker
    per partition just to hold the rows."""
    fields = StructType.fromDDL(schema).fields
    values = ",".join(
        "(" + ",".join("NULL" if v is None else _render(v) for v in row) + ")"
        for row in rows or [[None] * len(fields)]
    )
    names = ",".join(f"c{i}" for i in range(len(fields)))
    df = spark.sql(f"SELECT * FROM VALUES {values} AS t({names})").select(
        *[F.col(f"c{i}").cast(f.dataType).alias(f.name) for i, f in enumerate(fields)]
    )
    return df if rows else df.limit(0)
