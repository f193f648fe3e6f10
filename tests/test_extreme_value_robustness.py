"""Non-finite / extreme events.value axis (r12): the differential gate
must stay green when a corrupted feed carries NaN / ±Inf / ±1e300 /
1e-300 values. Replaying the `extreme_values` corpus (tests/mutations.py)
found 17 of 34 events-family queries red in two classes:

- the universal integer-money discipline (cents() = CAST(ROUND(v·100)
  AS BIGINT)) ABORTS under ANSI on NaN/Inf/1e300 — batch and streaming,
  and DuckDB's cast errors identically, so the feed was un-processable
  on both engines;
- where no cast fires, NaN/Inf rank positions and percentile/MAD
  medians diverge engine-arbitrarily.

The contract (the r10 embeddings non-finite precedent): values outside
the representable range go NULL at the load chokepoint
(catalog.gate_feed — NaN, ±Inf, |v| > catalog.MEASURE_ABS_MAX)
while the ROW survives (a broken value must not delete the event from
sessions/funnels/counts); the NULL then flows through the r6 NULL-value
discipline already mirrored in every oracle. Both sides are built from
one declaration, catalog.FEED_GATES: the Spark gate is catalog.gate_feed
and the oracle twin is the registry-level shadow-CTE prelude
(registry._feed_mirror) — one chokepoint per side, no per-query drift.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402

QUERIES_UNDER_TEST = [
    "event_props_extract",
    # r14: the ANALYZE census reads events.value through load_events —
    # planted NaN/Inf/1e300 land in n_nulls on both sides.
    "table_column_stats",
    "events_sessionized",
    "event_type_hourly",
    "events_running_totals",
    "events_rolling_zscore",
    "value_percentiles",
    "funnel_conversion",
    "retention_cohorts",
    "conversion_latency_stats",
    "event_transition_matrix",
    "active_users_rolling",
    "user_value_mad",
    "events_ohlc",
    "events_gapfill_locf",
    "top_session_paths",
    "item_cooccurrence",
    "item_triangles",
    "item_pagerank",
    "value_histogram",
    "purchase_last_view_asof",
    "error_bursts_range",
    "scd2_user_event_history",
    "stream_hourly_rollup",
    "stream_sliding_value",
    "stream_session_stats",
    "stream_dedup_events",
    "stream_user_running_max",
    "stream_view_purchase_join",
    "stream_static_enrich",
    "stream_rolling_zscore",
    "stream_funnel_stage",
    "stream_ohlc",
    "stream_distinct_users",
    "stream_heavy_hitters",
]


@pytest.fixture(scope="module")
def extreme_events_dir(sf_small, tmp_path_factory):
    return build(
        "extreme_values", sf_small, str(tmp_path_factory.mktemp("extreme_events"))
    )


@pytest.mark.parametrize("name", subset(QUERIES_UNDER_TEST, keep=('stream_dedup_events', 'table_column_stats'), k=3))
def test_oracle_gate_green_under_extreme_values(
    spark, extreme_events_dir, name
):
    con = duckdb_connection(extreme_events_dir)
    try:
        report = compare(
            QUERIES[name](spark, extreme_events_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under extreme values: {report}"
    finally:
        con.close()


@pytest.fixture(scope="module")
def dup_extreme_events_dir(sf_small, tmp_path_factory):
    """The combined axis the r12 ADVICE flagged: duplicate event_ids
    whose payloads differ ONLY in non-representable values (NaN vs Inf,
    1e300 vs 2e300). Raw, these are CONFLICT keys (distinct full rows);
    after value normalization both sides become NULL and the conflict
    vanishes — so the census and its oracle must BOTH see the raw feed."""
    d = tmp_path_factory.mktemp("dup_extreme_events")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{sf_small}/{t}.parquet", str(d / f"{t}.parquet"))
    base = dt.datetime(2024, 1, 1)
    rows = []
    # ids 0-9 appear twice. ids 0/1: values differ only as NaN vs +Inf
    # (both -> NULL under normalization). ids 2/3: 1e300 vs 2e300 (same).
    # ids 4/5: exact duplicate rows (dup but NOT conflict). ids 6-9:
    # genuinely distinct finite values (conflict either way).
    for i in range(10):
        if i in (0, 1):
            vals = (float("nan"), float("inf"))
        elif i in (2, 3):
            vals = (1e300, 2e300)
        elif i in (4, 5):
            vals = (float(i), float(i))
        else:
            vals = (float(i), float(i) + 1.0)
        for v in vals:
            rows.append(
                (
                    i,
                    base + dt.timedelta(minutes=7 * i),
                    100 + i % 4,
                    ["view", "purchase", "click", "signup"][i % 4],
                    v,
                    '{"k": %d}' % (i % 9),
                )
            )
    # plus a clean unique tail so the table is not all-duplicate
    for i in range(10, 30):
        rows.append(
            (
                i,
                base + dt.timedelta(minutes=7 * i),
                100 + i % 4,
                ["view", "purchase", "click", "signup"][i % 4],
                float(i),
                '{"k": %d}' % (i % 9),
            )
        )
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_census_sees_raw_feed_under_dup_extreme_values(
    spark, dup_extreme_events_dir
):
    """key_uniqueness_report is exempt from the shadow-CTE oracle
    mirror (registry._RAW_FEED_ORACLES): its Spark side reads
    events RAW via load_table, so a rewritten oracle would under-count
    conflict_keys exactly on the corpus the census exists to detect."""
    con = duckdb_connection(dup_extreme_events_dir)
    try:
        report = compare(
            QUERIES["key_uniqueness_report"](spark, dup_extreme_events_dir),
            con,
            ORACLES["key_uniqueness_report"],
        )
        assert report["ok"], f"census under dup+extreme values: {report}"
    finally:
        con.close()
    # the fixture must actually exercise the raw-vs-normalized split:
    # NaN-vs-Inf and 1e300-vs-2e300 pairs are conflicts ONLY raw
    row = (
        QUERIES["key_uniqueness_report"](spark, dup_extreme_events_dir)
        .where("table_name = 'events'")
        .collect()[0]
    )
    assert row["dup_keys"] == 10
    assert row["conflict_keys"] == 8  # ids 0-3 and 6-9; 4/5 exact dups


def test_census_oracle_is_exempt_from_value_rewrite():
    from data_pipeline__s3_to_postgres_s3_spark.registry import (
        _RAW_FEED_ORACLES,
    )

    assert "key_uniqueness_report" in _RAW_FEED_ORACLES
    assert "main.events" not in ORACLES["key_uniqueness_report"]


def _mirror_con():
    """A tiny in-memory corpus: one sane event, a NaN value, and a
    1e300 value at a year-9999 ts; one lineitem row with a NaN quantity
    and a 1e300 price."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01 00:00:00', 5.0::DOUBLE), "
        "(2, TIMESTAMP '2024-01-02 00:00:00', 'NaN'::DOUBLE), "
        "(3, TIMESTAMP '9999-06-01 00:00:00', 1e300::DOUBLE)"
        ") t(event_id, ts, value)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        "(1, 'NaN'::DOUBLE, 1e300::DOUBLE, 0.1::DOUBLE, 0.2::DOUBLE)"
        ") t(l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax)"
    )
    return con


def test_feed_mirror_covers_every_spelling():
    """One shadow-CTE prelude mirrors catalog.FEED_GATES for every
    reference spelling and letter case: the planted non-representables
    come back NULL."""
    from data_pipeline__s3_to_postgres_s3_spark.registry import _feed_mirror

    con = _mirror_con()
    want = [
        (1, 5.0, dt.datetime(2024, 1, 1)),
        (2, None, dt.datetime(2024, 1, 2)),
        (3, None, None),
    ]
    for sql in (
        "SELECT event_id, value, ts from events ORDER BY 1",
        "SELECT event_id, value, ts FROM\n    events ORDER BY 1",
        "SELECT e.event_id, e.value, e.ts FROM (SELECT 1 AS k) o "
        "JOIN events e ON TRUE ORDER BY 1",
        "SELECT event_id, value, ts From Events ORDER BY 1",
    ):
        assert con.execute(_feed_mirror("q", sql)).fetchall() == want, sql
    sql = "SELECT l_quantity, l_extendedprice, l_tax FROM LineItem"
    assert con.execute(_feed_mirror("q", sql)).fetchall() == [(None, None, 0.2)]


def test_feed_mirror_leaves_raw_feed_oracles_unchanged():
    from data_pipeline__s3_to_postgres_s3_spark.registry import (
        _RAW_FEED_ORACLES,
        _feed_mirror,
    )

    assert _RAW_FEED_ORACLES == {"key_uniqueness_report", "schema_snapshot_report"}
    for name in _RAW_FEED_ORACLES:
        sql = "SELECT * FROM events JOIN lineitem ON TRUE"
        assert _feed_mirror(name, sql) == sql


def test_feed_mirror_guard_rejects_uncoverable_forms():
    """A `main.<gated>` reference escapes every shadow, and an oracle CTE
    named after a gated table collides with one: both fail at assembly."""
    from data_pipeline__s3_to_postgres_s3_spark.registry import _feed_mirror

    for sql in (
        "SELECT * FROM main.events",
        "SELECT * FROM main.lineitem",
        "WITH events AS (SELECT 1 AS x) SELECT * FROM events",
        "WITH orders AS (SELECT 1 AS x) SELECT * FROM orders",
    ):
        with pytest.raises(RuntimeError):
            _feed_mirror("q", sql)


def test_value_normalization_is_noop_on_sane_values(spark, sf_small):
    """The chokepoint must be invisible on a healthy corpus: the gated
    load equals the raw load bit-for-bit."""
    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_events

    ev = load_events(spark, sf_small)
    raw = spark.read.parquet(f"{sf_small}/events.parquet")
    assert ev.count() == raw.count()
    changed = ev.select("event_id", "value").exceptAll(
        spark.read.parquet(f"{sf_small}/events.parquet").select(
            "event_id", F.col("value").cast("double")
        )
    )
    assert changed.count() == 0
