"""The result digest: order-insensitive, float-rounded, maps by entry."""

from __future__ import annotations

from pyspark.sql import types as T

from perfbench.digest import materialize

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("tags", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("vec", T.ArrayType(T.FloatType())),
    T.StructField("s", T.StringType()),
])
ROWS = [
    (1, 0.1 + 0.2, {"a": 1.0, "b": 2.5}, [0.5, 1.5], "x"),
    (2, -0.0, {"c": 3.0}, [], None),
    (3, 1e12 / 3, {}, None, "z"),
]


def digest(spark, rows, schema=SCHEMA, parts=1):
    return materialize(spark.createDataFrame(rows, schema).repartition(parts), "t")


def test_row_order_and_partitioning_do_not_matter(spark):
    assert digest(spark, ROWS) == digest(spark, list(reversed(ROWS)), parts=3)


def test_column_order_does_not_matter(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    assert materialize(df, "a") == materialize(df.select(*reversed(df.columns)), "b")


def test_floats_are_rounded(spark):
    # last-bits noise, as from another summation order, and the sign of zero
    noisy = [(1, 0.30000000000000004 * (1 + 1e-15), *ROWS[0][2:]), (2, 0.0, *ROWS[1][2:]), ROWS[2]]
    assert digest(spark, noisy) == digest(spark, ROWS)


def test_float_changes_beyond_rounding_are_seen(spark):
    changed = [(1, 0.3001, *ROWS[0][2:]), *ROWS[1:]]
    assert digest(spark, changed) != digest(spark, ROWS)


def test_map_entry_order_does_not_matter_but_values_do(spark):
    reordered = [(1, ROWS[0][1], {"b": 2.5, "a": 1.0}, *ROWS[0][3:]), *ROWS[1:]]
    assert digest(spark, reordered) == digest(spark, ROWS)
    changed = [(1, ROWS[0][1], {"a": 1.0, "b": 2.6}, *ROWS[0][3:]), *ROWS[1:]]
    assert digest(spark, changed) != digest(spark, ROWS)


def test_array_order_matters(spark):
    flipped = [(1, ROWS[0][1], ROWS[0][2], [1.5, 0.5], "x"), *ROWS[1:]]
    assert digest(spark, flipped) != digest(spark, ROWS)


def test_null_position_matters(spark):
    schema = T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.StringType())])
    assert digest(spark, [("v", None)], schema) != digest(spark, [(None, "v")], schema)


def test_duplicate_rows_count(spark):
    assert digest(spark, ROWS + ROWS[:1]) != digest(spark, ROWS)


def test_empty_result_has_a_digest(spark):
    assert digest(spark, []).endswith("|0|0")


def test_digest_names_its_columns(spark):
    assert digest(spark, ROWS).startswith("k,s,tags,vec,x|3|")
