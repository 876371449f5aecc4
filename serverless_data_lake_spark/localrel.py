"""Driver-built rows → a TRUE LocalRelation (r15 optimization round).

``spark.createDataFrame(rows, schema)`` ships the rows as a
defaultParallelism-partition pickled-Python RDD: every scan of the
result runs one Python-worker task PER PARTITION (~32 tasks for a
5-row table on local[32]; measured ~0.6-0.9 s of wall per warm scan,
the per-task worker handoff is serialized), and the relation carries
no size statistics, so the planner picks SortMergeJoin — or
broadcasts the WRONG side — for joins against it.

Routing the same rows through a ``pyarrow.Table`` makes Spark plan a
``LocalTableScan``: zero tasks, driver-local broadcast builds, and a
known size, so a genuinely small side auto-broadcasts. Values are
bit-identical to the Row path (arrow carries the same IEEE doubles
and int64s), and the Spark schema round-trips exactly via
``to_arrow_schema`` — pinned by tests/test_localrel.py.

At production scale the same helper is the right call for every
driver-built side table (probe lists, bucket offset tables, survivor
label maps): these are small by construction — that is why they were
collected to the driver — and a LocalRelation is the cheapest way to
re-enter the plan.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(
    spark: SparkSession, schema, rows, num_partitions: int | None = None
) -> DataFrame:
    """Build a LocalRelation-backed DataFrame from driver-side rows.

    ``schema``: a StructType or DDL string; ``rows``: an iterable of
    tuples/Rows positionally matching the schema. Values must be
    plain Python objects (ints/floats/strings/bools/lists/None) —
    the shapes a ``collect()`` returns.

    ``num_partitions`` coalesces the scan (r15): a ``LocalTableScan``
    parallelizes one slice per row (``numSlices = min(rows, cores)``),
    so an Arrow/pandas UDF applied directly over it pays one Python
    worker roundtrip — and one per-worker heavyweight init — PER ROW.
    Callers that feed a tiny fixed probe set into a UDF should pass
    ``1``; join sides that get broadcast should leave it ``None``
    (the broadcast build reads every slice driver-locally anyway).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    try:
        arrow_schema = to_arrow_schema(schema)
        if rows:
            cols = list(zip(*rows))
        else:
            cols = [[] for _ in arrow_schema]
        tbl = pa.Table.from_arrays(
            [
                pa.array(list(c), type=f.type)
                for c, f in zip(cols, arrow_schema)
            ],
            schema=arrow_schema,
        )
        df = spark.createDataFrame(tbl)
    except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError, TypeError,
            ValueError) as exc:
        # Values ``pa.array(list(col))`` cannot convert (e.g. a nested
        # struct given as a list) fall back to the plain Row path
        # (r16, r15 ADVICE): correct, but a pickled-RDD relation with
        # no size statistics, so joins against it plan blind. Every
        # current call site stays on the arrow path; say so loudly
        # when one does not.
        nested = [
            f"{f.name} {f.dataType.simpleString()}"
            for f in schema.fields
            if not isinstance(f.dataType, T.AtomicType)
        ]
        warnings.warn(
            "local_df: rows not convertible to Arrow "
            f"({type(exc).__name__}: {exc}); falling back to a "
            "pickled-Row relation without size statistics; non-atomic "
            f"column types: {', '.join(nested) or 'none'}",
            stacklevel=2,
        )
        df = spark.createDataFrame(rows, schema)
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    return df
