"""File sources/sinks with production hygiene.

Replaces the reference's local-disk CSV staging hop
(extract_load_transform_data_pipeline.py.py:42-80): Spark reads object
storage or local files directly with a DECLARED schema, in PERMISSIVE mode
with a corrupt-record column, so bad rows are quarantined instead of
crashing the run (or silently coercing, as pandas inference does).

Sinks write parquet partitioned by ingestion_date — the reference's
"raw_files_<date>" folder convention (ibid. :48-50) become a partition
column, which at 100 TB is what enables partition pruning and
overwrite-by-date idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
) -> DataFrame:
    """Schema-declared CSV read; malformed rows land in _corrupt_record."""
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    return (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """Schema-declared JSON-lines read with the same quarantine contract
    as read_csv: malformed lines land in _corrupt_record instead of
    failing the run or silently nulling fields. The declared schema (never
    inference) is what makes the read a single pass at 100 TB — Spark's
    JSON inference is an extra full scan of the data."""
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """ORC read (columnar, self-describing — the warehouse interchange
    format besides parquet; Hive-ecosystem feeds commonly arrive as ORC).
    Schema declaration here is a PROJECTION contract, not a parse recipe:
    ORC files carry their own types, so unlike CSV/JSONL there is no
    malformed-row quarantine — a type mismatch fails loudly at read, which
    is the correct behavior for a self-describing format. Passing a schema
    prunes the scan to the declared columns (column pruning at the reader,
    same as parquet)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink with snappy compression (Spark's default codec choice for
    ORC is zlib; snappy matches the parquet sink's speed/size trade)."""
    df.write.mode(mode).option("compression", "snappy").orc(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantined_rows).

    The quarantine frame keeps every column (not just the raw record):
    Spark disallows queries referencing ONLY the internal corrupt-record
    column of a raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def quarantine(bad: DataFrame, reject_path: str) -> None:
    """Persist quarantined rows to a reject sink for later inspection.

    This is the only supported terminal op for the bad-rows frame straight
    off a raw CSV scan: Spark rejects count()-style queries whose pruned
    schema is just the internal corrupt column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — a write references every column,
    and the persisted parquet carries no such restriction."""
    bad.write.mode("append").parquet(reject_path)


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV export (reference S6: analytics_export/<t>.csv). single_file
    coalesces to 1 for byte-level parity with the reference's one-file
    export — never do that at scale; default leaves parallelism alone."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory into
    ceil(n / target) files; returns the file count written.

    The maintenance job every long-running ingest needs — streaming and
    per-batch appends accrete tiny files whose open/footer overhead
    eventually dominates scans. One count (metadata-cheap), one
    repartition (round-robin, balanced output), one write. Partitioned
    layouts should compact per partition directory instead so partition
    pruning is preserved."""
    import math

    df = spark.read.parquet(in_dir)
    n = df.count()
    files = max(1, math.ceil(n / target_records_per_file))
    df.repartition(files).write.mode("overwrite").parquet(out_dir)
    return files
