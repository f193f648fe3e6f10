"""SparkSession factory.

Scale posture (SURVEY.md §4): AQE on (runtime partition coalescing, skew-join
splitting, dynamic broadcast), UTC session timezone so timestamp→date casts
are deterministic across engines, Arrow enabled for the few pandas-interop
paths, and shuffle partitions sized to the local core count (on a real
cluster this is set to ~2-3× total cores / target ~128-256 MB per task).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .config import default_cpus


def get_spark(
    app_name: str = "s3pg-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB input splits: sane task granularity for parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Metastore-backed tables (bucketing needs saveAsTable): keep the
        # Derby catalog + warehouse out of the repo working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/spark-graft-derby",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A small driver-side row list (tuples in DDL column order) as a
    DataFrame typed by ``ddl``. The rows travel as one Arrow table, which
    plans as a ``LocalRelation`` with real size stats and keeps Python out
    of the lineage: a plain list-backed ``createDataFrame`` reads through a
    ``PythonRDD``, so every job over it forks/feeds Python workers. The
    Arrow-table path does not consult the Arrow conf, so this also holds
    in a caller-built session."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
