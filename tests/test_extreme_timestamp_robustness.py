"""Extreme / degenerate / TIED event-timestamp axis (r13, VERDICT r12
ask #5): the differential gate must stay green when a corrupted feed
carries pre-epoch ts, far-future ts (year 9999), sub-second ties, and
MANY events at the IDENTICAL (user, ts).

The probe (the `extreme_timestamps` corpus in tests/mutations.py, 38
events-reading oracles) found two real classes before the fix:

- a single year-9999 timestamp OOM-killed the JVM outright: the
  events_gapfill_locf min-to-max hourly grid spans 8000 years — the
  span-derived-grid explosion class, plus ANSI month-arithmetic
  overflow hazards near year 9999; five streaming queries also red on
  watermark arithmetic over the same values;
- F.window() DROPS NULL-ts rows where a groupBy over date_trunc keeps
  a NULL group — the one oracle (events_sliding_value) that windowed
  without the NULL filter diverged once the gate NULLed extreme ts.

The contract (the events.value pattern): timestamps outside the
representability window [EVENT_TS_MIN, EVENT_TS_MAX) go NULL at the
chokepoint (catalog.gate_feed — batch AND streaming) while the ROW
survives, landing in the ALREADY-PINNED NULL-ts regime (stream readers
drop NULL-ts rows with the mirrored oracle filter; batch windows pin
NULLS FIRST — the r6 events NULL matrix). The oracle twin is the
registry-level shadow-CTE prelude (registry._feed_mirror): an `events`
CTE that gates value and ts, built from the same catalog.FEED_GATES.

The identical-(user, ts) pileups pass WITHOUT new pins: every
rank/path/OHLC/as-of consumer already tiebreaks on event_id (the r12
NULL-event_id axis) — this matrix keeps that true.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402

QUERIES_UNDER_TEST = [
    "event_props_extract",
    "events_sessionized",
    "event_type_hourly",
    "events_running_totals",
    "events_rolling_zscore",
    "events_sliding_value",
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
    "purchases_pit_stage",
    "error_bursts_range",
    "scd2_user_event_history",
    "profile_events",
    "key_uniqueness_report",
    # r14: the ANALYZE census reads events via load_events (value gate
    # engages when the ts probe marks the feed dirty; the FROM-events
    # rewrite mirrors); the schema census is raw-exempt.
    "table_column_stats",
    "schema_snapshot_report",
    "tripdata_monthly_metrics",
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
def extreme_ts_dir(sf_small, tmp_path_factory):
    return build(
        "extreme_timestamps", sf_small, str(tmp_path_factory.mktemp("extreme_ts"))
    )


def test_fixture_fires_every_hazard(extreme_ts_dir):
    """Fire preconditions: pre-epoch rows, far-future rows, sub-second
    ties, and >=6-deep identical (user, ts) pileups all present — the
    matrix is meaningless if the planted classes vanish in a refactor."""
    import collections

    t = pq.read_table(f"{extreme_ts_dir}/events.parquet")
    ts = t.column("ts").to_pylist()
    users = t.column("user_id").to_pylist()
    assert any(x.year < 1970 for x in ts)
    assert any(x.year >= 2100 for x in ts)
    assert any(x.microsecond for x in ts)
    pile = collections.Counter(zip(users, ts))
    assert max(pile.values()) >= 6


def test_gate_nulls_exactly_the_out_of_window_rows(spark, extreme_ts_dir):
    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_events

    raw = pq.read_table(f"{extreme_ts_dir}/events.parquet")
    expect_null = {
        eid
        for eid, ts in zip(
            raw.column("event_id").to_pylist(), raw.column("ts").to_pylist()
        )
        if ts.year < 1970 or ts.year >= 2100
    }
    assert expect_null, "fixture must contain out-of-window rows"
    got = load_events(spark, extreme_ts_dir).select("event_id", "ts").collect()
    assert len(got) == raw.num_rows, "the ROW must survive the gate"
    assert {r["event_id"] for r in got if r["ts"] is None} == expect_null


@pytest.mark.parametrize("name", subset(QUERIES_UNDER_TEST, keep=('events_gapfill_locf', 'stream_sliding_value'), k=3))
def test_oracle_gate_green_under_extreme_timestamps(
    spark, extreme_ts_dir, name
):
    con = duckdb_connection(extreme_ts_dir)
    try:
        report = compare(
            QUERIES[name](spark, extreme_ts_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under extreme timestamps: {report}"
    finally:
        con.close()


def test_ts_gate_is_noop_on_sane_timestamps(spark, sf_small):
    """The chokepoint must be invisible on a healthy corpus: the gated
    load equals the raw load bit-for-bit."""
    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_events

    ev = load_events(spark, sf_small).select("event_id", "ts")
    raw = spark.read.parquet(f"{sf_small}/events.parquet").select(
        "event_id", "ts"
    )
    assert ev.count() == raw.count()
    assert ev.where("ts IS NULL").count() == 0
    assert ev.exceptAll(raw).count() == 0


def test_clean_corpus_keeps_event_time_pushdown(spark, sf_small):
    """The ts/value gates engage only on dirty feeds
    (catalog._events_dirty): on a healthy corpus an event-time range
    predicate must still reach PushedFilters."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_events

    df = (
        load_events(spark, sf_small)
        .where(F.col("ts") >= "2024-01-01")
        .select("event_id")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    pushed = "\n".join(
        line for line in buf.getvalue().splitlines() if "PushedFilters" in line
    )
    assert "GreaterThanOrEqual(ts," in pushed
