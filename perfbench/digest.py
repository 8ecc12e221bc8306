"""Order-insensitive, float-rounded result digests.

The benchmark materializes every query through Spark's ``noop`` sink with an
``Observation`` attached, so one job both consumes every output column and
computes the digest: a row count plus the sum of a per-row hash. Summing
makes the digest independent of row order; hashing every column makes it
depend on every value. Floats are rounded to single precision (about seven
significant digits) so that summation order (partitioning, AQE coalescing)
cannot change them. Map entries are sorted by key, because map entry order is
not part of a map's value. Array order is kept, because it is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _literal(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def norm(expr: str, dt: T.DataType, depth: int = 0) -> str:
    """SQL for a hashable form of ``expr`` that equal values share."""
    var = f"_v{depth}"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # single precision keeps ~7 significant digits; + 0 turns -0.0
        # into 0.0, which hash() would otherwise tell apart
        return f"(CAST({expr} AS FLOAT) + CAST(0 AS FLOAT))"
    if isinstance(dt, T.ArrayType):
        return f"transform({expr}, {var} -> {norm(var, dt.elementType, depth + 1)})"
    if isinstance(dt, T.MapType):
        entry = (
            f"named_struct('k', {norm(var + '.key', dt.keyType, depth + 1)}, "
            f"'v', {norm(var + '.value', dt.valueType, depth + 1)})"
        )
        return f"array_sort(transform(map_entries({expr}), {var} -> {entry}))"
    if isinstance(dt, T.StructType):
        if not dt.fields:
            return f"isnull({expr})"
        fields = ", ".join(
            f"{_literal(f.name)}, {norm(expr + '.' + _quote(f.name), f.dataType, depth + 1)}"
            for f in dt.fields
        )
        return f"named_struct({fields})"
    if isinstance(dt, (T.VariantType, T.NullType)):
        return f"CAST({expr} AS STRING)"
    # strings (any collation), binary, integers, booleans, dates, and
    # timestamps hash as they are
    return expr


def digest_exprs(schema: T.StructType) -> list[str]:
    """SQL aggregates whose values, taken over all rows, make the digest."""
    fields = sorted(schema.fields, key=lambda f: f.name.lower())
    # hash() skips nulls, so each column also contributes whether it is null
    cols = [
        f"{norm(_quote(f.name), f.dataType)}, isnull({_quote(f.name)})" for f in fields
    ] or ["0"]
    row_hash = f"xxhash64({', '.join(cols)})"
    return ["count(1) AS rows", f"sum(CAST({row_hash} AS DECIMAL(38,0))) AS xxhash64"]


def materialize(df: DataFrame, name: str) -> str:
    """Run ``df`` to completion through the noop sink; return its digest."""
    schema = df.schema
    obs = Observation(name)
    exprs = [F.expr(e) for e in digest_exprs(schema)]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return format_digest(sorted(schema.names, key=str.lower), obs.get)


def format_digest(columns: list[str], values: dict) -> str:
    # sum() over zero rows is null
    xx = int(values["xxhash64"] or 0)
    return f"{','.join(c.lower() for c in columns)}|{int(values['rows'])}|{xx}"
