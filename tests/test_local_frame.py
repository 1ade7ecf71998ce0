"""functions/local.py: driver-held rows become the same DataFrame as
``createDataFrame(list, schema)`` gives (schema string and collected
rows), but planned as a ``LocalTableScan``, not a Python-RDD
``ExistingRDD`` scan, so no Python worker runs to read them back."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from antidote_data_framework_spark.functions.local import local_frame
from antidote_data_framework_spark.plans.inspect import physical_plan


def _assert_same_frame(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.collect() == want.collect()
    plan = physical_plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize(
    "rows, schema",
    [
        pytest.param(
            [(1, 2**40, 0.25, "a", True), (-7, -(2**62), -1.5e300, "ünïcode", False)],
            "i INT, b BIGINT, d DOUBLE, s STRING, f BOOLEAN",
            id="scalars",
        ),
        pytest.param(
            [(None, 3, None), (4, None, 2.5), (None, None, None)],
            "i INT, b BIGINT, d DOUBLE",
            id="null-numerics",
        ),
        # the Bloom filter's dense word array (operators/bloom.py)
        pytest.param(
            [([0, -1, 2**63 - 1, 5], 256)],
            "bloom ARRAY<BIGINT>, m_bits BIGINT",
            id="array-bigint",
        ),
        # an empty fold state (operators/timeseries.py)
        pytest.param(
            [],
            StructType([StructField("key", StringType()), StructField("carry", LongType())]),
            id="zero-rows-struct",
        ),
    ],
)
def test_matches_create_dataframe(spark, rows, schema):
    _assert_same_frame(spark, rows, schema)


def test_row_input_with_frame_schema(spark):
    # re-materializing a collected aggregate under its own schema
    # (ml/glm.py), including a non-nullable count column
    out = spark.range(10).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(0.125).alias("beta0"),
        F.round(F.avg("id"), 4).alias("mean_id"),
    )
    _assert_same_frame(spark, out.collect(), out.schema)


def test_float_for_int_column_raises(spark):
    # pyarrow alone would truncate 1.5 to 1; the schema check rejects it
    # exactly as createDataFrame's verifySchema does
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([(1.5,)], "x INT")
    with pytest.raises(PySparkTypeError):
        local_frame(spark, [(1.5,)], "x INT")
