"""End-to-end ELT pipeline tests on tiny local CSV fixtures.

Covers the reference's flagship DAG semantics (SURVEY.md §3 E1):
- schema-declared CSV extract with corrupt-row quarantine (S1/S2),
- incremental max-PK watermark load + idempotence (S3, J7) and the
  reviews append-only exception (S4, quirk Q7),
- in-Spark transform producing the three analytics tables (S5/S9),
- CSV export (S6),
- the per-table concurrency contract: failures re-raised after every
  sibling finished, the caller's job group on every job, and no job while
  the transform plans are built.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from data_pipeline__s3_to_postgres_s3_spark import schemas
from data_pipeline__s3_to_postgres_s3_spark.config import EngineConfig
from data_pipeline__s3_to_postgres_s3_spark.pipelines import elt
from data_pipeline__s3_to_postgres_s3_spark.sources.files import (
    quarantine,
    read_csv,
    split_corrupt,
)

CFG = EngineConfig(
    run_date=dt.date(2022, 9, 10),
    as_of_date=dt.date(2022, 9, 5),
    holiday_year=2022,
    calendar_start=dt.date(2022, 1, 1),
    calendar_end=dt.date(2022, 12, 31),
)

ORDERS_CSV = """order_id,customer_id,order_date,product_id,unit_price,quantity,total_price
1,10,2022-01-03,1,100,2,200
2,11,2022-01-03,1,100,1,100
3,12,2022-05-02,2,50,4,200
4,13,2022-07-04,2,50,1,50
5,14,2022-08-01,3,20,3,60
"""

# order 1 shipped late+undelivered-date-null; order 2 never shipped
# (undelivered per Q2: both NULL and as_of >= order+15); order 3 early.
SHIPMENTS_CSV = """shipment_id,order_id,shipment_date,delivery_date
101,1,2022-01-10,
102,2,,
103,3,2022-05-03,2022-05-05
"""

REVIEWS_CSV = """review,product_id
5,1
4,1
3,2
5,3
"""


def _fresh_paths(root):
    raw = root / "raw"
    raw.mkdir()
    (raw / "orders.csv").write_text(ORDERS_CSV)
    (raw / "shipment_deliveries.csv").write_text(SHIPMENTS_CSV)
    (raw / "reviews.csv").write_text(REVIEWS_CSV)
    return elt.EltPaths(
        raw_dir=str(raw),
        staging_dir=str(root / "staging"),
        export_dir=str(root / "export"),
    )


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    return _fresh_paths(tmp_path_factory.mktemp("elt"))


@pytest.fixture(scope="module")
def results(spark, paths):
    return elt.run(spark, paths, CFG)


def test_analytics_shapes(results):
    # Reference full-refresh pattern: each analytics table is tiny
    # (agg_* are single global rows; best_performing_product is LIMIT 1).
    assert results["agg_public_holiday"].count() == 1
    assert results["agg_shipments"].count() == 1
    assert results["best_performing_product"].count() == 1


def test_agg_shipments_values(results):
    row = results["agg_shipments"].collect()[0]
    # order 1: datediff(01-10, 01-03)=7 >= 6, delivery NULL → late.
    assert row["tt_late_shipments"] == 1
    # order 2: both dates NULL, 2022-09-05 >= 2022-01-03+15d → undelivered.
    assert row["tt_undelivered_items"] == 1
    assert row["ingestion_date"] == CFG.run_date


def test_agg_public_holiday_values(results):
    row = results["agg_public_holiday"].collect()[0]
    # 2022-05-02 is a Monday; May 1 2022 is a Sunday — not a weekday holiday.
    # 2022-07-04 (Independence Day, a Monday) is the only weekday-holiday
    # order date → quantity 1 lands in July.
    assert row["tt_order_hol_jul"] == 1
    assert row["tt_order_hol_may"] == 0


def test_best_product_row(results):
    row = results["best_performing_product"].collect()[0]
    # product 3 has a single 5-star review → pct_five = 100, wins the sort.
    assert row["product_name"] == "product_3"
    assert row["pct_five_star_review"] == 100.0


def test_watermark_idempotence(spark, paths, results):
    """Re-running extract+load must not duplicate keyed tables (max-PK
    watermark, reference :95-101) but MUST duplicate reviews (append-only,
    quirk Q7)."""
    before = {
        t: spark.read.parquet(paths.staging(t)).count()
        for t in elt.STAGING_TABLES
    }
    frames = elt.extract(spark, paths)
    elt.load(spark, frames, paths)
    after = {
        t: spark.read.parquet(paths.staging(t)).count()
        for t in elt.STAGING_TABLES
    }
    assert after["orders"] == before["orders"] == 5
    assert after["shipment_deliveries"] == before["shipment_deliveries"] == 3
    assert after["reviews"] == before["reviews"] * 2


def _jobs_started(spark, action, group):
    """Run ``action`` under job group ``group``. Returns the ids of every
    job it started and the ids of the jobs in ``group``. Job ids are
    sequential, so the started ones lie between the ids of a marker job run
    just before and one run just after."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker():
        tag = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        spark.range(1).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return tracker.getJobIdsForGroup(tag)

    try:
        before = max(marker())
        sc.setJobGroup(group, group)
        action()
        after = min(marker())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return set(range(before + 1, after)), set(tracker.getJobIdsForGroup(group))


def test_run_jobs_carry_callers_job_group(spark, tmp_path):
    """Every job of the concurrent per-table work runs under the caller's
    job group (the benchmark fold attributes jobs by it), and the thread
    wrapper gets the session, so PySpark does not warn that tags are lost."""
    p = _fresh_paths(tmp_path)
    group = f"elt-{uuid.uuid4().hex}"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        started, in_group = _jobs_started(spark, lambda: elt.run(spark, p, CFG), group)
    assert started and started == in_group
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_transform_starts_no_job(spark, paths, results):
    """Staging is read with its declared schema: building the three
    analytics plans runs no schema-inference job."""
    started, _ = _jobs_started(
        spark, lambda: elt.transform(spark, paths, CFG), f"t-{uuid.uuid4().hex}"
    )
    assert started == set()


def test_crashed_first_append_does_not_block_load(spark, tmp_path):
    """A first write that died leaves only ``_temporary/`` in the staging
    directory. No row was committed, so the watermark is 0 and the batch
    loads, instead of every later load failing to infer a schema."""
    p = _fresh_paths(tmp_path)
    os.makedirs(os.path.join(p.staging("orders"), "_temporary", "0"))
    elt.load(spark, elt.extract(spark, p), p)
    counts = {t: spark.read.parquet(p.staging(t)).count() for t in elt.STAGING_TABLES}
    assert counts == {"orders": 5, "shipment_deliveries": 3, "reviews": 4}
    # The declared read schema is exactly what the load writes.
    for t in elt.STAGING_TABLES:
        assert elt._staged(spark, p, t).schema == spark.read.parquet(p.staging(t)).schema


def test_load_failure_reraised_after_siblings_finish(spark, tmp_path):
    """One table's failure is re-raised (never taken for a first run), and
    only once every sibling's work has finished."""
    p = _fresh_paths(tmp_path)
    os.makedirs(p.staging("shipment_deliveries"))
    with open(os.path.join(p.staging("shipment_deliveries"), "part-0.parquet"), "w") as fh:
        fh.write("not parquet")
    with pytest.raises(Exception) as exc_info:
        elt.load(spark, elt.extract(spark, p), p)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
    assert "shipment_deliveries" in str(exc_info.value)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    # The siblings ran to the end: both were appended.
    assert spark.read.parquet(p.staging("orders")).count() == 5
    assert spark.read.parquet(p.staging("reviews")).count() == 4


def test_exports_written(paths, results):
    for name in results:
        files = glob.glob(os.path.join(paths.export_dir, name, "*.csv"))
        assert len(files) == 1, f"single-file export expected for {name}"


def test_corrupt_rows_quarantined(spark, tmp_path):
    p = tmp_path / "orders.csv"
    p.write_text(
        "order_id,customer_id,order_date,product_id,unit_price,quantity,total_price\n"
        "1,10,2022-01-03,1,100,2,200\n"
        "oops,not,a,valid,row,at,all\n"
        "2,11,2022-01-04,1,100,1,100\n"
    )
    df = read_csv(spark, str(p), schemas.ORDERS)
    clean, bad = split_corrupt(df)
    assert "_corrupt_record" not in clean.columns
    # Clean rows parse fully (the malformed row is excluded).
    assert sorted(r["order_id"] for r in clean.collect()) == [1, 2]
    # Quarantine goes through the reject sink (raw-scan frames referencing
    # only the corrupt column cannot be counted directly — see files.py).
    reject = str(tmp_path / "reject")
    quarantine(bad, reject)
    quarantined = spark.read.parquet(reject)
    assert quarantined.count() == 1
    assert quarantined.collect()[0]["_corrupt_record"].startswith("oops")


def test_corrupt_jsonl_quarantined(spark, tmp_path):
    from data_pipeline__s3_to_postgres_s3_spark.sources.files import read_jsonl

    p = tmp_path / "orders.jsonl"
    p.write_text(
        '{"order_id": 1, "customer_id": 10, "order_date": "2022-01-03",'
        ' "product_id": 1, "unit_price": 100, "quantity": 2,'
        ' "total_price": 200}\n'
        "this is not json at all\n"
        '{"order_id": 2, "customer_id": 11, "order_date": "2022-01-04",'
        ' "product_id": 1, "unit_price": 100, "quantity": 1,'
        ' "total_price": 100}\n'
    )
    clean, bad = split_corrupt(read_jsonl(spark, str(p), schemas.ORDERS))
    assert "_corrupt_record" not in clean.columns
    assert sorted(r["order_id"] for r in clean.collect()) == [1, 2]
    reject = str(tmp_path / "reject_jsonl")
    quarantine(bad, reject)
    quarantined = spark.read.parquet(reject)
    assert quarantined.count() == 1
    assert quarantined.collect()[0]["_corrupt_record"].startswith("this is")


def test_incremental_slice_is_pushed_predicate(spark, sf_small):
    """The watermark filter must reach the scan as a pushed-down predicate
    (at 100 TB this is the difference between reading the delta and reading
    the world)."""
    from data_pipeline__s3_to_postgres_s3_spark.sources.jdbc import (
        filter_above_watermark,
    )

    src = spark.read.parquet(f"{sf_small}/orders.parquet")
    plan = filter_above_watermark(
        src, "o_orderkey", 1000
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_orderkey,1000" in plan


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from data_pipeline__s3_to_postgres_s3_spark.sources.files import compact_parquet

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(frag)  # 40 tiny files
    assert len(glob.glob(f"{frag}/*.parquet")) == 40
    n_files = compact_parquet(spark, frag, out, target_records_per_file=4000)
    assert n_files == 3
    assert len(glob.glob(f"{out}/*.parquet")) == 3
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_orc_roundtrip_preserves_rows_and_schema(spark, sf_small, tmp_path):
    """ORC source/sink parity: write the documents table to ORC, read it
    back (with and without a declared projection schema) — identical rows,
    identical dtypes. ORC is self-describing, so unlike CSV/JSONL there is
    no quarantine column; the declared schema acts as reader-side column
    pruning only."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_table
    from data_pipeline__s3_to_postgres_s3_spark.sources.files import (
        read_orc,
        write_orc,
    )

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out)

    back = read_orc(spark, out)
    assert dict(back.dtypes) == dict(docs.dtypes)
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b

    proj_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
        ]
    )
    proj = read_orc(spark, out, proj_schema)
    assert proj.columns == ["doc_id", "lang"]
    assert proj.count() == docs.count()
