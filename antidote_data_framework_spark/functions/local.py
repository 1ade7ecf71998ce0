"""Driver-held rows as a Spark DataFrame, through Arrow.

The antidote step, the loop's antidote block and every small result a
key computes on the driver (counts, trajectories, per-channel effects)
re-enter Spark as a DataFrame.  ``spark.createDataFrame(list, ddl)``
pickles the rows into a Python RDD, so the first action on it forks the
Python worker daemon and one worker per task just to read them back.
An Arrow table instead plans as a JVM ``LocalRelation``
(``LocalTableScan``): no Python worker runs, and the schema is the same.

Rows are checked against the schema exactly as ``createDataFrame``'s
``verifySchema`` does (pyarrow would truncate a float into an INT column
silently), then built column by column.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples or Rows in field order) as a DataFrame of
    ``schema`` (a DDL string or a StructType), planned as a
    ``LocalTableScan``."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
