"""[EXT] The two primitives behind every driver-local fast path.

``connected_components`` and ``pagerank`` (operators/graph.py) and
``hamming_pairs`` (operators/dedup.py) each run a small input on the
driver instead of as a distributed loop or self-join. All three follow
one pattern: collect a bounded relation, compute in-process, hand the
result back to Spark. This module is that pattern's two ends.

- :func:`bounded_collect` is the gate and the collect in one action:
  ``limit(max_rows + 1).collect()``, ``None`` above the ceiling. A
  ``count()`` gate followed by ``collect()`` scans the relation twice.
  Above the ceiling the limit stops at the first ``max_rows + 1`` rows
  it finds, so the gate stays bounded at any corpus size.
- :func:`local_frame` builds the result from a ``pyarrow.Table``, so
  it plans as a ``LocalTableScan``: the rows live in the JVM plan.
  ``createDataFrame(list)`` plans as ``ExistingRDD`` over a Python RDD
  instead, and Python workers re-run that RDD on every scan of the
  result (near-dedup scans its connected-components result twice per
  epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Id types the local paths accept: Python's ordering for these agrees
#: exactly with Spark's ``F.min``/``F.least`` (codepoint order for
#: strings, numeric for integrals). Fractional/decimal ids keep the
#: distributed path rather than risk a float-compare divergence.
LOCAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def bounded_collect(df: DataFrame, max_rows: int) -> list | None:
    """All rows of ``df`` if there are at most ``max_rows``, else
    ``None`` — one ``limit(max_rows + 1).collect()``."""
    rows = df.limit(max_rows + 1).collect()
    return None if len(rows) > max_rows else rows


def local_frame(
    spark: SparkSession, rows: list, schema: StructType
) -> DataFrame:
    """A DataFrame of ``rows`` (tuples in ``schema`` field order) that
    plans as a ``LocalTableScan`` (see the module docstring)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
