"""localrel.local_df: a LocalRelation that is bit-identical to the
createDataFrame(rows, schema) path (r15 optimization round).

The optimization replaced pickled-RDD local frames (one Python-worker
task per default partition per scan, no size statistics) with
pyarrow-built LocalRelations across the entry file and operators;
these tests pin the two invariants every call site relies on:
identical schema + values, and the LocalTableScan plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from serverless_data_lake_spark.localrel import local_df


CASES = [
    (
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), True),
                T.StructField(
                    "embedding", T.ArrayType(T.FloatType(), True), True
                ),
            ]
        ),
        [(1, [0.5, 0.25]), (2, None), (None, [1.0, -3.5])],
    ),
    (
        T.StructType(
            [
                T.StructField("key", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("__is_quality", T.BooleanType(), True),
            ]
        ),
        [("a", "x y", True), ("b", "", False), ("c", None, None)],
    ),
    (
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("component", T.LongType(), False),
            ]
        ),
        [(5, 1), (1, 1), (9, 5)],
    ),
    # doubles must round-trip bit-exactly (oracle hash compares)
    (
        T.StructType(
            [
                T.StructField("m", T.DoubleType(), True),
            ]
        ),
        [(0.1,), (1.0 / 3.0,), (-0.0,), (1e-308,), (None,)],
    ),
]


@pytest.mark.parametrize("schema,rows", CASES)
def test_local_df_matches_row_path(spark, schema, rows):  # noqa: F811
    a = local_df(spark, schema, rows)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    assert ra == rb


def test_local_df_is_local_relation(spark):  # noqa: F811
    df = local_df(spark, "a long, b double", [(1, 2.0), (2, 4.5)])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    # DDL schema accepted; values exact
    assert [tuple(r) for r in df.collect()] == [(1, 2.0), (2, 4.5)]


def test_local_df_empty(spark):  # noqa: F811
    df = local_df(spark, "a long, b string", [])
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"


def test_local_df_fallback_warns_and_keeps_rows(spark):  # noqa: F811
    """A nested struct given as a list is not Arrow-convertible; the
    plain-Row fallback still returns the right rows but says so, naming
    the non-atomic column types (the relation loses size statistics)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("x", T.LongType(), True),
                        T.StructField("y", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [(1, [7, "a"]), (2, None)]
    with pytest.warns(UserWarning, match=r"s struct<x:bigint,y:string>"):
        df = local_df(spark, schema, rows)
    got = [(r.id, None if r.s is None else tuple(r.s)) for r in df.collect()]
    assert got == [(1, (7, "a")), (2, None)]
