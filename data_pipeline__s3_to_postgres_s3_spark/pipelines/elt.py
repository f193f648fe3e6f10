"""The full E-L-T-E pipeline — the reference's flagship
``scheduled_elt_pipeline`` DAG re-expressed Spark-first.

Reference lifecycle (SURVEY.md §3 E1, extract_load_transform_data_pipeline
.py.py:42-160): S3 CSVs → local disk → pandas → XCom pickle → psycopg2
inserts with max-PK watermark → SQL script in Postgres → pandas → CSV → S3.
Note the shipped DAG wires only extract→load (deps at :174; transform and
export tasks exist but are commented out at :170-171,175) — this engine
implements the full chain the repo's README describes.

Spark shape: every stage is a DataFrame transformation; the only
materialization points are the staging write (watermark idempotence needs
the destination's state) and the final exports. No driver-side data
movement at all — the reference's XCom hand-off (its scalability cliff) has
no equivalent here.

Within each of load, transform and export the three tables are independent,
so ``_concurrently`` runs their per-table work on one thread each, under
``inheritable_thread_target(spark)`` so every job keeps the caller's job
group, local properties and tags. It waits for all three and then re-raises
the first failure in table order. A failed table no longer stops its
siblings: when ``load`` raises, ``reviews`` may already be appended, which is
the same append-only duplication on retry (quirk Q7) that any failure after
``load`` already causes.

Offline-testable: sources/sinks are local paths by default; swap in
s3a://… URLs (sources/s3.py) and JdbcTarget (sources/jdbc.py) for the real
topology. The transform stage runs the same operators the driver contract
exposes, so correctness is covered by the sf0.01 oracle gate.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Callable, Collection
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..config import DEFAULT_CONFIG, EngineConfig
from ..operators.best_product import best_performing_product_from_tables
from ..operators.public_holiday import agg_public_holiday_from_tables
from ..operators.shipments import agg_shipments_from_tables
from ..sources.files import export_csv, read_csv, split_corrupt


@dataclass
class EltPaths:
    raw_dir: str  # CSVs land here (the "bucket")
    staging_dir: str  # parquet staging area (the "warehouse")
    export_dir: str  # analytics CSV exports

    def staging(self, table: str) -> str:
        return os.path.join(self.staging_dir, table)


STAGING_TABLES = ("orders", "shipment_deliveries", "reviews")
WATERMARK_PKS = {"orders": "order_id", "shipment_deliveries": "shipment_id"}


def extract(spark: SparkSession, paths: EltPaths) -> dict[str, DataFrame]:
    """S1/S2: schema-declared CSV reads, corrupt rows quarantined."""
    out = {}
    for table in STAGING_TABLES:
        df = read_csv(
            spark, os.path.join(paths.raw_dir, f"{table}.csv"), schemas.CSV_SCHEMAS[table]
        )
        clean, _bad = split_corrupt(df)
        out[table] = clean
    return out


def _concurrently(spark: SparkSession, fn: Callable, items: Collection[tuple]) -> list:
    """``[fn(*item) for item in items]``, each call on its own thread.

    Waits for every call to finish, then re-raises the first failure in
    ``items`` order; no error is swallowed."""
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        # Wrap per item: each wrapper holds its own copy of the caller's
        # local properties, which SQL execution mutates on the thread.
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), *item) for item in items
        ]
    return [f.result() for f in futures]


def _staged(spark: SparkSession, paths: EltPaths, table: str) -> DataFrame:
    """A staging table read with its declared schema: no inference job, and
    a directory holding only a crashed first write's ``_temporary/`` reads
    as empty instead of failing."""
    return spark.read.schema(schemas.CSV_SCHEMAS[table]).parquet(paths.staging(table))


def _append(spark: SparkSession, paths: EltPaths, table: str, df: DataFrame) -> None:
    pk = WATERMARK_PKS.get(table)
    if pk is not None:
        try:
            wm = (
                _staged(spark, paths, table)
                .agg(F.coalesce(F.max(pk), F.lit(0)).alias("wm"))
                .collect()[0]["wm"]
            )
        except AnalysisException as exc:
            # Only "destination doesn't exist yet" means first run. Any
            # other failure (permissions, corrupt footer, transient store
            # error) must re-raise: falling back to wm=0 would re-append
            # every staged row — the silent-duplication twin of the
            # swallow bug the runner docstring criticizes in the reference.
            condition = exc.getCondition() or ""
            if "PATH_NOT_FOUND" not in condition and "PATH_NOT_FOUND" not in str(exc):
                raise
            wm = 0
        df = df.where(F.col(pk) > F.lit(wm))
    df.write.mode("append").parquet(paths.staging(table))


def load(
    spark: SparkSession, frames: dict[str, DataFrame], paths: EltPaths
) -> None:
    """S3/S4: incremental max-PK watermark append for keyed tables; plain
    append for reviews (duplicates allowed — SURVEY.md Q7). State lives in
    the destination, exactly like the reference (:95-101)."""
    _concurrently(
        spark, _append, [(spark, paths, table, df) for table, df in frames.items()]
    )


def transform(
    spark: SparkSession, paths: EltPaths, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """S5/S9: the three analytics tables computed IN SPARK from staging —
    the reference shipped this SQL to Postgres; here Catalyst runs it."""
    orders, ships, reviews = (_staged(spark, paths, t) for t in STAGING_TABLES)
    builds = {
        "agg_public_holiday": (agg_public_holiday_from_tables, spark, orders, cfg),
        "agg_shipments": (agg_shipments_from_tables, ships, orders, cfg),
        "best_performing_product": (
            best_performing_product_from_tables, spark, orders, ships, reviews, cfg
        ),
    }
    return dict(zip(builds, _concurrently(spark, operator.call, builds.values())))


def export(results: dict[str, DataFrame], paths: EltPaths) -> None:
    """S6: analytics → CSV exports (single-file parity mode)."""
    _concurrently(
        next(iter(results.values())).sparkSession,
        partial(export_csv, single_file=True),
        [(df, os.path.join(paths.export_dir, name)) for name, df in results.items()],
    )


def run(
    spark: SparkSession, paths: EltPaths, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    frames = extract(spark, paths)
    load(spark, frames, paths)
    results = transform(spark, paths, cfg)
    export(results, paths)
    return results
