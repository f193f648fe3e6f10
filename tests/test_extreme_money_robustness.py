"""Non-finite / extreme RELATIONAL measures axis (r13 fourth probe, the
`extreme_money` corpus in tests/mutations.py): NaN / ±Inf / ±1e300 /
1e-300 planted into lineitem.l_quantity/l_extendedprice/l_discount/l_tax,
orders.o_totalprice, part.p_retailprice, customer.c_acctbal,
supplier.s_acctbal — 27 of 55 relational oracles red before the fix,
dominated by the ANSI cents CAST_OVERFLOW abort (identical on both
engines: the feed was un-processable) plus engine-arbitrary NaN ranks.

The contract (the r12 events.value pattern): measures outside the
representable range go NULL at the load chokepoint
(catalog.load_table → catalog.gate_feed over catalog.FEED_GATES —
|v| > MEASURE_ABS_MAX = the int64 cents bound, NaN, ±Inf) while the ROW
survives, landing in the r9 NULL-measures regime every oracle already
mirrors. The oracle twin is the registry-level SHADOW-CTE prelude
(registry._feed_mirror, built from the same FEED_GATES — a CTE named
after the table wins name resolution for every reference form, so no
spelling can escape the mirror). The raw-feed census
(key_uniqueness_report) is exempt on BOTH sides: it reads via
load_table(raw=True) and its oracle is in _RAW_FEED_ORACLES.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import MONEY_PLANT, build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402

# The heaviest hit classes from the probe's 27 reds + family reps.
QUERIES_UNDER_TEST = [
    "pricing_summary",
    "top_revenue_customers_per_region",
    "customer_set_ops",
    "rollup_orders",
    "cube_orders",
    "grouping_sets_orders",
    "part_revenue_concentration",
    "large_order_customers",
    "min_cost_supplier",
    "supplier_nation_profit",
    "regional_market_share",
    "shipping_priority",
    "order_status_pivot",
    "monthly_revenue_growth",
    "small_quantity_revenue",
    "customer_revenue_deciles",
    "customer_rfm_segments",
    "promo_revenue_share",
    "brand_band_revenue",
    "customer_nation_value_rank",
    "top_supplier_by_revenue",
    "returned_item_report",
    "salted_brand_revenue",
    "cdc_merge_customers",
    "value_histogram",
    "key_uniqueness_report",  # the raw-feed census, exempt on both sides
    # r14: the ANALYZE census reads every gated measure through
    # load_table — the planted NaN/Inf/1e300 land in n_nulls on BOTH
    # sides (Spark gate vs shadow-CTE mirror); the schema census is
    # raw-exempt like key_uniqueness_report.
    "table_column_stats",
    "schema_snapshot_report",
    # r14 second pair: the rollup folds gated o_totalprice (planted
    # specials land in n_priced's complement on both sides); the skew
    # census reads keys only but rides the gated loaders.
    "partition_stats_rollup",
    "join_skew_report",
]


@pytest.fixture(scope="module")
def extreme_money_dir(sf_small, tmp_path_factory):
    return build(
        "extreme_money", sf_small, str(tmp_path_factory.mktemp("extreme_money"))
    )


def test_fixture_fires_every_special(extreme_money_dir):
    import math

    found = set()
    for t, cols in MONEY_PLANT.items():
        tab = pq.read_table(f"{extreme_money_dir}/{t}.parquet")
        for col, _ in cols:
            for v in tab.column(col).to_pylist():
                if v is None:
                    continue
                if math.isnan(v):
                    found.add("nan")
                elif math.isinf(v):
                    found.add("inf")
                elif abs(v) >= 1e300:
                    found.add("huge")
    assert found == {"nan", "inf", "huge"}


@pytest.mark.parametrize("name", subset(QUERIES_UNDER_TEST, keep=('key_uniqueness_report', 'table_column_stats'), k=3))
def test_oracle_gate_green_under_extreme_measures(
    spark, extreme_money_dir, name
):
    con = duckdb_connection(extreme_money_dir)
    try:
        report = compare(
            QUERIES[name](spark, extreme_money_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under extreme measures: {report}"
    finally:
        con.close()


def test_measure_gate_is_noop_on_sane_values(spark, sf_small):
    """The chokepoint must be invisible on a healthy corpus: the gated
    load equals the raw load bit-for-bit, for every gated table."""
    from data_pipeline__s3_to_postgres_s3_spark.catalog import (
        FEED_GATES,
        load_table,
    )

    for t in sorted(FEED_GATES.keys() - {"events"}):
        gated = load_table(spark, sf_small, t)
        raw = load_table(spark, sf_small, t, raw=True)
        assert gated.count() == raw.count(), t
        assert gated.exceptAll(raw).count() == 0, t


def test_census_reads_raw_measures(spark, extreme_money_dir):
    """key_uniqueness_report counts the raw feed: its row counts on the
    planted corpus must equal the raw parquet counts and its oracle
    (exempt from the shadow prelude) must hash-match."""
    from data_pipeline__s3_to_postgres_s3_spark.registry import (
        _RAW_FEED_ORACLES,
    )

    assert "key_uniqueness_report" in _RAW_FEED_ORACLES
    assert "main.lineitem" not in ORACLES["key_uniqueness_report"]
    rows = {
        r["table_name"]: r["n_rows"]
        for r in QUERIES["key_uniqueness_report"](
            spark, extreme_money_dir
        ).collect()
    }
    for t in MONEY_PLANT:
        assert rows[t] == pq.read_table(
            f"{extreme_money_dir}/{t}.parquet"
        ).num_rows


def _pushed_filters(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return "\n".join(
        line for line in buf.getvalue().splitlines() if "PushedFilters" in line
    )


def test_clean_corpus_keeps_measure_pushdown(spark, sf_small):
    """The gate engages ONLY on dirty feeds (catalog._measures_dirty):
    on a healthy corpus a measure-range predicate must still reach
    PushedFilters — the 100 TB scan-cost property the conditional
    dispatch exists to preserve."""
    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_table

    df = (
        load_table(spark, sf_small, "lineitem")
        .where(F.col("l_quantity") < 24)
        .select("l_orderkey")
    )
    assert "LessThan(l_quantity,24.0)" in _pushed_filters(df)


def test_dirty_corpus_engages_the_gate(spark, extreme_money_dir):
    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.catalog import (
        MEASURE_ABS_MAX,
        load_table,
    )

    li = load_table(spark, extreme_money_dir, "lineitem")
    bad = li.where(
        F.isnan(F.col("l_extendedprice").cast("double"))
        | (F.abs(F.col("l_extendedprice").cast("double")) > MEASURE_ABS_MAX)
    )
    assert bad.count() == 0, "gated load must not expose non-representables"
    raw = load_table(spark, extreme_money_dir, "lineitem", raw=True)
    assert li.count() == raw.count(), "rows survive the gate"
