"""Extreme RELATIONAL dates axis (r13 second probe, the `extreme_dates`
corpus in tests/mutations.py): pre-epoch (1901/1969) and far-future
(2260/9999) values planted into orders.o_orderdate and
lineitem.l_shipdate on strides, replayed over all 52 orders/lineitem-
reading oracles — ZERO reds. Why the surface holds without a gate (vs
the events ts axis, which needed one): the reference-parity queries
filter to literal year windows (extremes drop out identically on both
engines), the month/date-grain groupings (date_trunc, year()) are
total functions that agree at year 9999, and NOTHING on the relational
side derives a min-to-max grid from the date span (the gapfill
explosion class is events-only). This matrix keeps those properties
true: if a future operator adds unguarded add_months arithmetic or a
span-derived sequence over order dates, it reds here first.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection

# Date-arithmetic-heavy representatives of every family the probe
# cleared (the full 52 ran in the probe; these pin it in the suite).
QUERIES_UNDER_TEST = [
    "agg_public_holiday",          # expr-key join into generated dim_dates
    "best_performing_product",     # cast-both date-key join chain
    "monthly_revenue_growth",      # unfiltered month-grain lag window
    "order_to_ship_lag_stats",     # datediff distribution
    "order_priority_lateness",     # date comparisons
    "supplier_nation_profit",      # year() in the grouping key
    "grouping_sets_orders",        # year-grain grouping sets
    "zorder_manifest",             # date-derived z-order cells
    "returned_item_report",        # date-window filter (Q10 shape)
    "large_order_customers",
    "min_cost_supplier",
    "incremental_load_watermark",  # MAX-date watermark
    "scd2_user_event_history",     # orders-side SCD2 ranges
    "customer_rfm_segments",       # recency from MAX(o_orderdate)
]


@pytest.fixture(scope="module")
def extreme_date_dir(sf_small, tmp_path_factory):
    return build(
        "extreme_dates", sf_small, str(tmp_path_factory.mktemp("extreme_dates"))
    )


def test_fixture_fires_the_extremes(extreme_date_dir):
    o = pq.read_table(f"{extreme_date_dir}/orders.parquet")
    years = {x.year for x in o.column("o_orderdate").to_pylist() if x}
    assert any(y < 1970 for y in years) and any(y >= 9999 for y in years)
    li = pq.read_table(f"{extreme_date_dir}/lineitem.parquet")
    years = {x.year for x in li.column("l_shipdate").to_pylist() if x}
    assert any(y < 1970 for y in years) and any(y >= 9999 for y in years)


@pytest.mark.parametrize("name", QUERIES_UNDER_TEST)
def test_oracle_gate_green_under_extreme_dates(spark, extreme_date_dir, name):
    con = duckdb_connection(extreme_date_dir)
    try:
        report = compare(
            QUERIES[name](spark, extreme_date_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under extreme dates: {report}"
    finally:
        con.close()
