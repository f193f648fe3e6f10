"""session.local_frame: driver-side row lists as Arrow-backed local
relations. The helper replaces list-backed createDataFrame calls across
the package (ANN trainer frames, static spines), so it must keep values
and types exact and keep Python workers out of the lineage."""

from __future__ import annotations

import math

import pytest
from pyspark.sql.types import StructType

from data_pipeline__s3_to_postgres_s3_spark.session import local_frame

DDL = "cell bigint, centroid array<double>, name string"
EDGE = [-0.0, 1e-06, 5e-324, 1.7976931348623157e308, None, math.inf]
ROWS = [
    (1, EDGE, "a"),
    (2, None, None),
    (-3, [], "ü"),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_round_trips_rows_and_schema(spark, rows):
    df = local_frame(spark, rows, DDL)
    assert df.schema == StructType.fromDDL(DDL)
    got = [tuple(r) for r in df.collect()]
    # repr() tells -0.0 from 0.0 and 5e-324 from 0.0.
    assert repr(got) == repr(rows)


def test_local_frame_plans_as_local_relation_without_python(spark):
    df = local_frame(spark, ROWS, DDL)
    qe = df._jdf.queryExecution()
    assert qe.analyzed().getClass().getSimpleName() == "LocalRelation"
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    # Real size stats: the optimizer can size (and broadcast) it.
    assert qe.optimizedPlan().stats().rowCount().get() == len(ROWS)
