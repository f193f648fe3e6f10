"""Events-side NULL axis of the driver robustness matrix (round 6): the
differential gate must stay green when regenerated events carry NULL
ts / user_id / event_type / value rows (the `null_events` corpus in
tests/mutations.py). The probe that built this test caught SEVEN real
hazards:

- Spark windows default NULLS FIRST where DuckDB defaults NULLS LAST —
  every oracle window ordering by event time now pins NULLS FIRST
  (DESC orderings pin NULLS LAST, Spark's desc() default);
- funnel_conversion's step rates were a HARD ANSI divide-by-zero
  whenever a step had zero users (reachable without nulls!);
- item_cooccurrence's N counted the NULL-user basket on one engine
  only — baskets now require owners on both;
- event-time streaming silently drops NULL-ts rows inside Spark (and a
  NULL reaching a Python stateful op aborts the query) — the stream
  reader now drops them explicitly and every streaming oracle filters
  identically; the z-score stream additionally excludes NULL values
  (int(NaN) aborts the ring buffer).

Round-12 extension (r11 ADVICE): the fixture now ALSO nulls event_id on
a stride (and grew 40 → 60 rows). That probe caught two more real
divergences, both fixed and pinned here:

- stream_rolling_zscore aborted on a NULL event_id reaching its per-key
  (ts, id) high-watermark (int(NaN) again) — the stream now drops
  NULL-identity rows at the chokepoint, mirrored in the oracle;
- top_session_paths rendered an all-NULL-event_type session as '' where
  DuckDB string_agg yields NULL (a latent NULL-TYPE bug the larger
  fixture surfaced — the Spark path build now mirrors string_agg
  exactly: skip NULL elements, NULL when all are).

stream_view_purchase_join's admitted-view cap was the motivating
asymmetry: the Spark side caps via a LEFT SEMI join on view_id (NULL
ids never equi-join), so the oracle now qualifies the un-capped view
side with `event_id IN (SELECT ... FROM admitted)` — reproducing both
the NULL-drop and the id-level admission — instead of joining the
capped CTE directly. Oracle windows tie-breaking on event_id pin
NULLS FIRST (Spark's ASC default; DuckDB defaults NULLS LAST).
"""

from __future__ import annotations

import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402

QUERIES_UNDER_TEST = [
    # batch events family
    "event_props_extract",
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
    # r8c: composes item_cooccurrence's basket base — NULL users/props
    # must drop from the graph identically on both engines.
    "item_pagerank",
    "value_histogram",
    "purchase_last_view_asof",
    "error_bursts_range",
    "scd2_user_event_history",
    # streaming family (the reader's event-time chokepoint)
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
    # r10: the multi-stateful dedup→count chain — NULL users must drop
    # via the mirrored no-anonymous-identity filter, NULL ts via the
    # reader chokepoint.
    "stream_distinct_users",
    # r12: CMS heavy hitters under NULL ids/types (sketch path).
    "stream_heavy_hitters",
]


@pytest.fixture(scope="module")
def nullish_events_dir(sf_small, tmp_path_factory):
    return build(
        "null_events", sf_small, str(tmp_path_factory.mktemp("null_events"))
    )


@pytest.mark.parametrize("name", subset(QUERIES_UNDER_TEST, keep=('stream_dedup_events', 'stream_view_purchase_join', 'top_session_paths', 'stream_distinct_users'), k=3))
def test_oracle_gate_green_under_null_events(spark, nullish_events_dir, name):
    con = duckdb_connection(nullish_events_dir)
    try:
        report = compare(
            QUERIES[name](spark, nullish_events_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under NULL event fields: {report}"
    finally:
        con.close()
