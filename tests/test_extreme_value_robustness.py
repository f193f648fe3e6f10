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
(catalog.normalize_event_value — NaN, ±Inf, |v| > EVENT_VALUE_ABS_MAX)
while the ROW survives (a broken value must not delete the event from
sessions/funnels/counts); the NULL then flows through the r6 NULL-value
discipline already mirrored in every oracle. The oracle twin is the
registry-level rewrite of every `FROM events` reference through
_EVENTS_FEED_NORM — one chokepoint per side, no per-query drift.
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
    """key_uniqueness_report is exempt from the _EVENTS_FEED_NORM
    oracle rewrite (registry._EVENTS_RAW_ORACLES): its Spark side reads
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
        _EVENTS_RAW_ORACLES,
        _EVENTS_FEED_NORM,
    )

    assert "key_uniqueness_report" in _EVENTS_RAW_ORACLES
    assert _EVENTS_FEED_NORM not in ORACLES["key_uniqueness_report"]


def test_events_reference_guard_catches_unwrapped_forms():
    """The assembly-time guard in registry.py must catch every spelling
    the plain-text rewrite cannot see (r12 ADVICE low)."""
    from data_pipeline__s3_to_postgres_s3_spark.registry import (
        _EVENTS_REF_RE,
        _EVENTS_FEED_NORM,
    )

    bad = [
        "SELECT * from events",
        "SELECT * FROM\n    events",
        "SELECT * FROM orders JOIN events USING (event_id)",
        "SELECT * From Events WHERE 1=1",
    ]
    for sql in bad:
        assert _EVENTS_REF_RE.search(sql.replace(_EVENTS_FEED_NORM, "")), sql
    ok = [
        "SELECT * FROM events_per_user",
        "SELECT * FROM my_events",
        f"SELECT * FROM {_EVENTS_FEED_NORM}",
    ]
    for sql in ok:
        assert not _EVENTS_REF_RE.search(
            sql.replace(_EVENTS_FEED_NORM, "")
        ), sql


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
