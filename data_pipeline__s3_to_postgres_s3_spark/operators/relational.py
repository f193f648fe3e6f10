"""Standard relational surface beyond the reference's own inventory.

The reference's SQL never uses set ops, grouping sets, distinct aggregates,
or top-k-per-group (SURVEY.md §2.4/§2.7) — Spark provides them natively and
this engine exposes them as first-class, oracle-checked queries.

Float determinism: all money sums use exact integer cents
(functions/numeric.py) so results are independent of partial-aggregation
order — a correctness requirement for differential testing and the cheap
high-precision choice at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_table
from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.numeric import cents, portable_round


def pricing_summary(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: grouped conditional
    sums/averages with fixed-decimal-exact accumulation. The headline
    full-scan aggregate for the bench: one shuffle (map-side partial agg on
    a 6-ish-key group), whole-stage codegen end-to-end."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-01")
    )
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_price_c = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    charge_c = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        6,
    )
    disc_c = cents(F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / 100.0).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(disc_price_c) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_c) / 1000000.0).alias("sum_charge"),
            portable_round(F.sum(qty_c) / 100.0 / n, 2).alias("avg_qty"),
            portable_round(F.sum(price_c) / 100.0 / n, 2).alias("avg_price"),
            portable_round(F.sum(disc_c) / 100.0 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_revenue_customers_per_region(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Top-3 customers by order revenue per region: dim-chain broadcast
    joins (region→nation are tiny) + one shuffled agg on custkey + a
    top-k window that reuses the aggregation's partitioning."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"))
    )
    enriched = (
        per_cust.join(
            customer.select("c_custkey", "c_name", "c_nationkey"),
            per_cust["o_custkey"] == customer["c_custkey"],
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("r_name").orderBy(
        F.desc("revenue_cents"), F.asc("c_custkey")
    )
    return (
        enriched.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "r_name",
            "rank",
            "c_custkey",
            "c_name",
            (F.col("revenue_cents") / 100.0).alias("revenue"),
        )
    )


def customer_set_ops(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """UNION / INTERSECT / EXCEPT pipeline (SURVEY.md §2.7 — absent from
    the reference, standard engine surface): building-segment ∪ high-value
    customers, restricted to those with orders, minus negative balances."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    building = customer.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    high_value = (
        orders.groupBy("o_custkey")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev"))
        .where(F.col("rev") > 500_000 * 100)
        .select(F.col("o_custkey").alias("custkey"))
    )
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    negative = customer.where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return (
        building.union(high_value)
        .intersect(with_orders)
        .exceptAll(negative)
        .distinct()
    )


def rollup_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """ROLLUP(status, priority) totals — grouping-set labels normalized via
    COALESCE so the oracle hash is engine-agnostic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))) / 100.0).alias("total_revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_revenue",
        )
    )


def cube_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """CUBE(status, priority) counterpart of rollup_orders."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))) / 100.0).alias("total_revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_revenue",
        )
    )


def grouping_sets_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (priority), ()) with
    grouping_id() — the one relational-surface gap a migrating warehouse
    user hits after ROLLUP/CUBE (r8 VERDICT ask #6): arbitrary set lists
    are NOT expressible as either (this one mixes a detail set with a
    cross-dimension marginal), and the gid column is the standard way a
    report disambiguates a subtotal row from a genuine NULL key.

    Physical shape = the same single Expand + one shuffled aggregate
    Spark plans for rollup/cube (each input row expands to one replica
    per grouping set, partial-aggregated map-side) — no per-set re-scan.
    gid bit order (first grouping column = MSB) matches DuckDB's
    GROUPING(a, b); both return BIGINT. Revenue is the cents-exact
    integer sum shared with rollup_orders/cube_orders."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderpriority"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))) / 100.0).alias("total_revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n_orders",
            "total_revenue",
        )
    )


def distinct_aggregates(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """COUNT(DISTINCT …) per nation (Spark expands to a two-phase partial
    distinct aggregate; the oracle is plain SQL)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def value_percentiles(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) + spread per event type.

    Spark's `percentile` matches DuckDB's quantile_cont bit-for-bit (same
    (1-f)·a + f·b interpolation on the sorted run), so this is oracle-
    checkable without rounding. Exact percentiles sort each group — fine
    for bounded groups; the unbounded-cardinality path is the sketch twin
    in approx_aggregates."""
    from ..catalog import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def approx_aggregates(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Sketch-based twins of the exact aggregates — the 100 TB cardinality
    path: HyperLogLog++ distinct counts (constant memory vs a full hash
    set) and t-digest-style percentile_approx. Engine-specific sketches
    have no cross-engine oracle (rows-only check); accuracy vs the exact
    twins is pinned in tests/test_approx.py."""
    from ..catalog import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("approx_p99"),
    )


ORDER_STATUSES = ("F", "O", "P")  # pinned pivot columns (schema stability)


def order_status_pivot(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Monthly order totals pivoted BY STATUS — the relational pivot via the
    DataFrame pivot API (groupBy().pivot(values=...).agg()), vs the
    reference's hand-written 12-way conditional-SUM (agg_public_holiday).
    Passing the value list pins the output schema (no extra distinct scan
    to discover columns) — mandatory at scale AND for a stable driver
    contract. One shuffle on the group key; cents-exact sums."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").cast("date")
    pivoted = (
        orders.select(month.alias("month"), "o_orderstatus",
                      cents(F.col("o_totalprice")).alias("cents"))
        .groupBy("month")
        .pivot("o_orderstatus", list(ORDER_STATUSES))
        .agg(F.sum("cents"))
    )
    out = pivoted.select(
        "month",
        *[
            (F.coalesce(F.col(s), F.lit(0)) / 100.0).alias(f"total_{s}")
            for s in ORDER_STATUSES
        ],
    )
    return out


def order_status_unpivot(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The inverse surface: melt the pivoted frame back to long form via
    DataFrame.unpivot (ids=month, values=total_*) — round-tripping proves
    both directions preserve values. Zero-valued cells are kept (the pivot
    materialized them), so the long form is month × status dense."""
    wide = order_status_pivot(spark, sf_dir, cfg)
    return wide.unpivot(
        ids=["month"],
        values=[f"total_{s}" for s in ORDER_STATUSES],
        variableColumnName="status_col",
        valueColumnName="total",
    ).select(
        "month",
        F.expr("substring(status_col, 7)").alias("o_orderstatus"),
        "total",
    )


def shipping_priority(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: top-10 unshipped orders by
    discounted revenue for one market segment.

    Plan shape at scale: the segment filter prunes customers BEFORE the
    join (pushed to the scan); the customer join carries no hint — AQE
    broadcasts it at harness scale and falls back to a shuffle join when a
    whole segment outgrows the broadcast threshold. The orders⋈lineitem
    join shuffles on orderkey with both date filters pushed down, and the
    top-10 is a TakeOrdered — no global sort materializes. Revenue uses
    1e-4-cents integer accumulation (order-independent across
    partitions)."""
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01")
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(
            orders.join(
                customer.select("c_custkey"),
                orders["o_custkey"] == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            # DATE-typed output (TPC-H Q3's o_orderdate IS a date): raw
            # timestamps here would make the result's type — and under a
            # tz-adjusted re-encode, its VALUE REPRESENTATION — track the
            # parquet encoding; to_date pins it on both engines
            # (tests/test_date_encoding.py).
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg((F.sum(rev_c) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def local_supplier_volume(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q5-shaped local supplier volume: revenue from orders where the
    supplier and customer share a nation, per nation of one region, one
    order-date year.

    The join graph is a star with one extra equality (c_nationkey =
    s_nationkey): region→nation is pinned broadcast (5/25 rows at any
    scale); customer and supplier joins carry NO hint — at harness scale
    AQE broadcasts them, at 100 TB (where a region's customers no longer
    fit) the same plan degrades gracefully to shuffle joins instead of
    OOMing on a forced broadcast. The one unavoidable big shuffle is
    orders⋈lineitem on orderkey."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    customer = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == F.col("c_custkey"))
        .join(
            supplier,
            (li["l_suppkey"] == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(rev_c) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


LARGE_ORDER_QTY = 250  # sum(l_quantity) threshold (p99-ish at any sf)


def large_volume_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: aggregate lineitem quantities
    per order, keep orders above a fixed threshold, join back to orders and
    customer for the descriptive columns.

    The aggregate-filter-join-back pattern: the HAVING on the aggregated
    frame makes the join-back side tiny (p99 tail), so AQE broadcasts it
    against orders/customer at any scale — the plan never shuffles orders
    on a speculative key. Quantities accumulate as integer cents
    (order-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("qty_c"))
        .where(F.col("qty_c") > LARGE_ORDER_QTY * 100)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(
            customer.select("c_custkey", "c_name"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            # DATE-typed for encoding invariance — see shipping_priority.
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.col("o_totalprice").alias("total_price"),
            (F.col("qty_c") / 100.0).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(100)
    )


TRADE_NATION_A = "NATION_1"
TRADE_NATION_B = "NATION_2"


def nation_trade_volume(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between two
    nations (both directions), per supplier-nation / customer-nation pair
    and ship year.

    Join graph: lineitem⋈orders shuffles on orderkey (the one big
    shuffle); supplier and customer carry their nation names in via
    broadcast nation; the nation-pair predicate prunes after both small
    joins, BEFORE the big one, so only the two nations' rows reach the
    orderkey shuffle. year() is a cast-free date part both engines agree
    on."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(TRADE_NATION_A, TRADE_NATION_B)
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    customer = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(supplier, li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg((F.sum(rev_c) / 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


PART_SIZES = (1, 5, 9, 14, 20, 28, 36, 45)  # pinned size buckets


def parts_supplier_stats(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity per part attribute: how many
    distinct suppliers ship each (brand, type, size) bucket, excluding one
    brand and one type family.

    The part-side filters are pushed to the part scan (brand/type/size are
    plain predicates); the join with lineitem shuffles on partkey with no
    broadcast hint — part is ~1/7 of lineitem at every scale, so a forced
    broadcast would OOM at 100 TB while AQE still elects one at harness
    scale. COUNT(DISTINCT) runs as Spark's two-phase partial-distinct
    aggregate."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(*PART_SIZES)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


def small_quantity_revenue(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue: average yearly revenue lost
    if orders below 20% of a part's average quantity were no longer taken.

    The correlated-scalar-subquery shape (per-part AVG threshold)
    decorrelated into aggregate + join-back — the rewrite Catalyst itself
    applies to correlated subqueries, made explicit. The threshold compare
    is INTEGER algebra (5·qty·cnt < sum_qty in cents) — no float division
    anywhere near the filter, so the row set is bit-stable across engines
    and partition orders. One shuffle on partkey for the AVG; the join-back
    reuses that partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("avg_key")).agg(
        F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    price_c = cents(F.col("l_extendedprice"))
    return (
        li.join(per_part, li["l_partkey"] == F.col("avg_key"))
        # l_quantity < 0.2 * avg  ⟺  5·qty_c·cnt < sum_qty_c  (exact ints)
        .where(5 * cents(F.col("l_quantity")) * F.col("cnt") < F.col("sum_qty_c"))
        .agg(
            portable_round(F.sum(price_c) / 100.0 / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


HISTOGRAM_BUCKET_WIDTH = 5.0


def value_histogram(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Fixed-width histogram of event values per event type — the
    distribution profile a quality dashboard reads.

    bucket = floor(value / width): one double division + floor, identical
    IEEE ops in both engines, then a plain integer groupBy — ONE shuffle
    on (event_type, bucket), map-side combined. The alternative (ntile
    over the raw stream) would global-sort the fact table; bucketing by
    value keeps the plan scan→partial-agg→exchange→agg at any scale."""
    from ..catalog import load_events

    ev = load_events(spark, sf_dir)
    bucket = F.floor(F.col("value") / HISTOGRAM_BUCKET_WIDTH)
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * HISTOGRAM_BUCKET_WIDTH).alias("bucket_low"),
            "n",
            "min_value",
            "max_value",
        )
    )


def order_priority_lateness(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q4-shaped priority check: orders in one quarter that had at
    least one lineitem shipped >30 days after the order date, counted per
    priority class. (The synthetic lineitem has no commit/receipt dates, so
    lateness is l_shipdate > o_orderdate + 30 days.)

    The EXISTS subquery is a LEFT SEMI join with a cross-table residual
    predicate — Spark dedupes order keys inside the join, so no DISTINCT
    pass. The quarter filter prunes orders BEFORE the shuffle, and only
    (l_orderkey, l_shipdate) is read from the fact table."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def customer_order_distribution(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: orders per
    customer (urgent orders excluded INSIDE the outer join so zero-order
    customers survive), then the histogram of those counts.

    Two aggregations, each map-side combined: the first shuffles
    |customers| keys, the second shuffles the ~dozens of distinct counts.
    The left join keeps customers with no qualifying orders (c_count=0) —
    the row the inner-join rewrite would silently drop."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(
            orders.select("o_custkey", "o_orderkey"),
            customer["c_custkey"] == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def suppliers_kept_waiting(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q21-shaped blame query: on finished multi-supplier orders,
    the supplier who was the ONLY late one (ship >30 days after order),
    counted per supplier.

    The classic EXISTS/NOT-EXISTS pair over the fact table decorrelates
    into ONE grouped pass per order: distinct-supplier count, distinct-late
    count, and (via the n_late=1 filter) the unique late supplier — three
    correlated subqueries collapsed into one shuffle on l_orderkey. The
    supplier/nation joins run on the tiny filtered tail, dims left to
    AQE's broadcast decision."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_order = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .withColumn("late_supp", F.when(late, F.col("l_suppkey")))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("late_supp").alias("n_late"),
            F.max("late_supp").alias("blame_supp"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per_order.join(supplier, F.col("blame_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def dormant_high_value_customers(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q22-shaped dormancy scan: customers whose balance exceeds the
    global positive-balance average but placed no orders since 2000-06-01,
    rolled up per nation. (The synthetic set has no order-less customers,
    so the classic "no orders ever" becomes a recency cutoff — the shape a
    churn-risk report actually runs.)

    The scalar subquery is a 1-row aggregate CROSS-JOIN-broadcast into the
    filter — no collect(), no driver round-trip, and the compare is exact
    integer algebra (bal_c·n > sum_c). The NOT EXISTS is a LEFT ANTI join
    against the date-pruned orders projection."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    bal_c = cents(F.col("c_acctbal"))
    pos = (
        customer.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal_c).alias("sum_c"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-06-01"))
        .select("o_custkey")
    )
    return (
        customer.crossJoin(F.broadcast(pos))
        .where(bal_c * F.col("n_pos") > F.col("sum_c"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(bal_c) / 100.0).alias("totacctbal"),
        )
    )


def customer_churn_reconciliation(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """FULL OUTER reconciliation of customer activity between two periods:
    every customer active in either year, classified retained / churned /
    new with per-period order counts (zero-filled).

    The outer-join surface the rest of the engine doesn't exercise —
    reconciliation is its canonical production use (which keys exist on
    which side). Both inputs pre-aggregate to one row per customer BEFORE
    the join, so the full-outer shuffles |customers| rows, not |orders|;
    date filters push to the orders scans."""
    orders = load_table(spark, sf_dir, "orders")

    def per_customer(year: int, alias: str) -> DataFrame:
        return (
            orders.where(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01"))
            )
            .groupBy(F.col("o_custkey").alias(f"{alias}_key"))
            .agg(F.count(F.lit(1)).alias(f"n_{alias}"))
        )

    early = per_customer(1996, "early")
    late = per_customer(2000, "late")
    joined = early.join(
        late, early["early_key"] == late["late_key"], "full_outer"
    )
    return joined.select(
        F.coalesce("early_key", "late_key").alias("customer_key"),
        F.coalesce("n_early", F.lit(0)).alias("n_early"),
        F.coalesce("n_late", F.lit(0)).alias("n_late"),
        F.when(F.col("early_key").isNull(), "new")
        .when(F.col("late_key").isNull(), "churned")
        .otherwise("retained")
        .alias("status"),
    )


def promo_revenue_share(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Monthly promo revenue share (TPC-H Q14 generalized from one month
    to the full calendar): per ship month, revenue from PROMO-type parts
    as a percentage of all revenue.

    Float discipline: revenue accumulates as exact 4-decimal integer
    units (the rev_c idiom); the share is double(promo)·100/total with
    the association token-identical in the oracle, and month is
    date_trunc'd to DATE so the output type is encoding-pinned
    (test_date_encoding precedent).

    Scale shape: part is the small dimension → broadcast; the join is
    map-side, the rollup is ONE shuffle on month with partial
    aggregation. The conditional promo sum shares the same aggregate
    pass — no second scan, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    month = F.date_trunc("month", "l_shipdate").cast("date")
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    promo_c = F.sum(
        F.when(F.col("p_type") == "PROMO", rev_c).otherwise(F.lit(0))
    )
    total_c = F.sum(rev_c)
    return joined.groupBy(month.alias("month")).agg(
        (promo_c / 10000.0).alias("promo_revenue"),
        (total_c / 10000.0).alias("total_revenue"),
        (promo_c.cast("double") * 100 / total_c).alias("promo_pct"),
    )


def order_to_ship_lag_stats(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Order-to-ship latency distribution per order month — the
    supply-chain twin of conversion_latency_stats: for every lineitem,
    days from o_orderdate to l_shipdate, rolled up as count/mean/p50/p90
    per month. Complements order_priority_lateness (which counts a
    boolean >30d breach); this shows the whole distribution drifting.

    Floats: lags are EXACT integer days (datediff); mean is one division,
    percentiles interpolate over ints and are portable_round-ed at scale
    6 on both sides (corpus_stats idiom).

    Scale shape: the join is orders⋈lineitem on the natural key — one
    shuffle each side with only (o_orderkey, o_orderdate) projected from
    orders; the rollup groups by the calendar, map-side combined. Exact
    percentiles sort per month group; percentile_approx swaps in at
    production scale (same surface)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_date")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("s_date")
    )
    lag = F.datediff("s_date", "o_date")
    month = F.date_trunc("month", "o_date").cast("date")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        month.alias("month"), lag.alias("lag_days")
    )
    n = F.count(F.lit(1))
    return joined.groupBy("month").agg(
        n.cast("int").alias("n_lineitems"),
        portable_round(F.sum("lag_days").cast("double") / n, 6).alias(
            "mean_lag_days"
        ),
        portable_round(F.percentile("lag_days", F.lit(0.5)), 6).alias(
            "p50_lag_days"
        ),
        portable_round(F.percentile("lag_days", F.lit(0.9)), 6).alias(
            "p90_lag_days"
        ),
    )


# TPC-H Q19-shaped disjunctive branches over the reduced schema (no
# containers/shipmode columns in the synthetic part/lineitem): each branch
# is (brand, size range, quantity band). Kept as data so the oracle renders
# the identical CASE chain.
Q19_BRANCHES = (
    ("small", "Brand#1", 1, 5, 1, 11),
    ("medium", "Brand#2", 1, 10, 10, 20),
    ("large", "Brand#3", 1, 15, 20, 30),
)


def brand_band_revenue(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Discounted revenue per disjunctive (brand, size, quantity) branch —
    TPC-H Q19's shape: a filter that is an OR of three conjunctive
    alternatives, the classic test of whether complex predicates survive
    to the scan instead of materializing the whole join. First matching
    branch labels the row (branches are brand-disjoint, so order cannot
    matter), non-matches are filtered BEFORE the aggregate.

    Scale shape: part is broadcast; the disjunction prunes lineitem rows
    at the join output before any shuffle; the rollup groups on a 3-value
    label with map-side combine. Revenue is the exact 4-decimal integer
    unit idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    label = F.lit(None).cast("string")
    for name, brand, s_lo, s_hi, q_lo, q_hi in reversed(Q19_BRANCHES):
        label = F.when(
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi),
            F.lit(name),
        ).otherwise(label)
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        joined.withColumn("branch", label)
        .where(F.col("branch").isNotNull())
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            (F.sum(rev_c) / 10000.0).alias("revenue"),
        )
    )


def top_supplier_by_revenue(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q15 shape (top supplier view + scalar MAX): each supplier's
    shipped revenue over one quarter, keeping every supplier whose
    revenue EQUALS the global maximum — the aggregate-vs-scalar-subquery
    pattern (Q15 keeps ties by spec, and because revenue accumulates in
    exact integer cents the equality is deterministic, not a float
    near-miss).

    Scale shape: one filtered scan + one map-side-combined
    groupBy(l_suppkey); the supplier frame is vocab-sized, lineage-cut
    for its two consumers (the 1-row MAX and the filter), the MAX
    re-enters by broadcast crossJoin (scalar-injection idiom) and the
    supplier dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-04-01"))
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    per_supp = cut(
        li.groupBy("l_suppkey")
        .agg(F.sum(rev_c).alias("rev_c"))
    )
    mx = per_supp.agg(F.max("rev_c").alias("mx"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .where(F.col("rev_c") == F.col("mx"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c") / 10000.0).alias("total_revenue"),
        )
    )


def returned_item_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the top 20 customers by
    revenue lost to returns in one quarter — the churn-risk list an
    account team works. Revenue accumulates in exact integer cents so
    the DESC cut is deterministic (equal-cents ties break by c_custkey);
    acctbal re-quantizes through cents too, keeping the output immune to
    the money-DECIMAL re-encode axis on both engines.

    Scale shape: returnflag + order-date filters reach both scans
    (pushdown); one shuffled agg on custkey; nation broadcasts; TakeOrdered(20)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-04-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(rev_c).alias("rev_c"))
        .join(
            customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_c") / 10000.0).alias("revenue"),
            (cents(F.col("c_acctbal")) / 100.0).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def part_revenue_concentration(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q11 shape (important-stock scan): parts whose discounted
    revenue exceeds 1.3× the mean per-part share of total revenue — the
    classic HAVING-against-a-scalar-subquery concentration report
    (reference anchor: the warehouse SQL surface in sql/transformation.sql
    is GROUP BY + ratio shapes; this is the missing global-fraction twin).

    Decorrelation: the scalar subquery (total revenue + part count) is a
    1-row aggregate over the SAME per-part frame, broadcast back via
    crossJoin — the per-part groupBy runs ONCE (localCheckpoint'd, two
    consumers) and the threshold compare is exact integer algebra
    (rc·np·10 > 13·t — no float share ever computed before the filter).
    share is then one IEEE division, portable-rounded for output only.

    Scale shape: one shuffled agg on l_partkey (map-side combined), a
    1-row broadcast, and a scan-thin projection; no join with part needed
    until a consumer wants attributes."""
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    per_part = cut(
        li.groupBy("l_partkey")
        .agg(F.sum(rev_c).alias("rc"))
    )
    tot = per_part.agg(
        F.sum("rc").alias("t"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("rc") * F.col("np") * 10 > 13 * F.col("t"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("rc") / 10000.0).alias("part_revenue"),
            portable_round(
                F.col("rc").cast("double") / F.col("t").cast("double"), 8
            ).alias("revenue_share"),
        )
    )


def large_order_customers(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer list): the top 100 orders
    whose total lineitem quantity exceeds 250, with the owning customer —
    the IN-(GROUP BY … HAVING SUM > X) subquery every migrating
    warehouse user writes, decorrelated into one grouped pass + joins.

    Determinism: quantity sums are exact integer centi-units; the top-100
    cut orders by (o_totalprice cents DESC, o_orderkey ASC) — all-integer
    keys, no float rank anywhere.

    Scale shape: one shuffled agg on l_orderkey with map-side combine and
    the HAVING filter applied BEFORE the joins (the qualifying tail is
    tiny, so orders/customer join it broadcast-side via AQE); TakeOrdered
    ships 100 rows per partition at most."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = cents(F.col("l_quantity"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_c).alias("qty_c"))
        .where(F.col("qty_c") > 250 * 100)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            (cents(F.col("o_totalprice")) / 100.0).alias("totalprice"),
            (F.col("qty_c") / 100.0).alias("sum_qty"),
        )
        .orderBy(
            F.desc(cents(F.col("totalprice"))), F.asc("o_orderkey")
        )
        .limit(100)
    )


def min_cost_supplier(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part): for every part seen
    in lineitem, the supplier offering the lowest observed unit price —
    the correlated MIN-subquery (`WHERE cost = (SELECT MIN … WHERE
    same part)`) decorrelated into one grouped pass + a top-1-per-group
    window (the W1 pattern), never a per-part re-scan.

    Determinism: unit price = price_cents / quantity is ONE IEEE division
    of exact integers (bit-identical cross-engine), portable-rounded at
    1e-4 before ranking; ties break by s_suppkey ASC.

    NULL/zero guard (r9c lineitem-NULL probe — the round's one real
    divergence): a line with NULL price, NULL/zero quantity, NULL part,
    or NULL supplier cannot offer a price, so it is filtered BEFORE the
    MIN on BOTH engines (a no-op on the clean corpus). Without the
    filter, a NULL unit/suppkey reaches the rank window whose ASC NULL
    position differs cross-engine (Spark NULLS FIRST vs DuckDB NULLS
    LAST) — the pinned un-mirrorable class from the events matrix. The
    quantity predicate also closes the divide-by-zero class (Spark ANSI
    errors where DuckDB yields inf).

    Scale shape: per-(part,supplier) MIN collapses the fact table first
    (map-side combine), the window ranks the collapsed frame (|parts|·
    |offering suppliers| rows, not lineitems), supplier broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0)
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_partkey").isNotNull()
        & F.col("l_suppkey").isNotNull()
    )
    unit = portable_round(
        cents(F.col("l_extendedprice")).cast("double") / F.col("l_quantity"),
        4,
    )
    per_ps = (
        li.select(
            "l_partkey", "l_suppkey", unit.alias("unit_cents")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cents").alias("min_unit_cents"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("min_unit_cents"), F.asc("l_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per_ps.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            (F.col("min_unit_cents") / 100.0).alias("best_unit_price"),
        )
    )


def supplier_nation_profit(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): discounted
    revenue attributed to the supplier's nation, grouped by
    (nation, ship year) — the date-function-in-the-grouping-key report
    every warehouse runs for seasonality (the synthetic schema has no
    partsupp supplycost, so profit = revenue; the shape — fact →
    dim-chain joins + EXTRACT(year) grouping — is the point).

    Scale shape: one shuffled agg on (nationkey, year) with map-side
    combine; supplier and nation broadcast (10k / 25 rows); only three
    fact columns read. Revenue accumulates in exact integer 4-decimal
    cents; the output division is one IEEE op."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.year("l_shipdate").alias("o_year")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            (F.sum(rev_c) / 10000.0).alias("profit"),
        )
    )


def regional_market_share(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_7's share of each
    region's discounted supplier revenue per ship year — the
    ratio-of-conditional-sums-within-group report, over the full
    fact → supplier → nation → region dim chain with EXTRACT(year).

    Share = double(nation cents)/double(total cents): both sums are exact
    integers from ONE map-side-combined aggregate (the conditional sum
    rides the same groupBy — no second scan, no join of two aggregates),
    portable-rounded at 1e-6. Groups with zero revenue cannot exist (a
    group only materializes from revenue rows), so the division is safe
    under ANSI."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region")
    rev_c = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    nat_c = F.when(F.col("n_name") == "NATION_7", rev_c).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", F.year("l_shipdate").alias("o_year"))
        .agg(
            F.sum(nat_c).alias("nat_c"),
            F.sum(rev_c).alias("tot_c"),
        )
        .select(
            "r_name",
            "o_year",
            (F.col("nat_c") / 10000.0).alias("nation_revenue"),
            (F.col("tot_c") / 10000.0).alias("total_revenue"),
            portable_round(
                F.col("nat_c").cast("double") / F.col("tot_c").cast("double"),
                6,
            ).alias("market_share"),
        )
    )


def ship_priority_counts(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """TPC-H Q12 shape (shipping-class priority split): for lineitems
    shipped in 1998, per return-flag class the count of lines whose
    order is high-priority ('1-URGENT'/'2-HIGH') vs everything else —
    the dual-conditional-count-across-a-join every logistics dashboard
    runs. Adapted to the synthetic schema like brand_band_revenue
    adapted Q19: l_returnflag stands in for the absent l_shipmode, the
    ship-year window for the commit/receipt-date lateness predicate.

    NULL semantics (mirrored token-for-token in the oracle): a NULL
    o_orderpriority counts in NEITHER bucket (IN and NOT IN both yield
    NULL → ELSE 0); NULL l_shipdate rows fail the range filter; NULL
    l_orderkey drops at the join; a NULL l_returnflag groups as its own
    class on both engines.

    Scale shape: the date filter pushes to the lineitem scan (only the
    1998 slice shuffles), two columns read per side, conditional counts
    ride ONE map-side-combined groupBy — no second pass for the second
    bucket. Output is |returnflags| rows.

    Determinism: pure integer counts, no floats anywhere."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("date"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = ("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority").isin(*high), 1).otherwise(0)
            )
            .cast("long")
            .alias("high_line_count"),
            F.sum(
                F.when(~F.col("o_orderpriority").isin(*high), 1).otherwise(0)
            )
            .cast("long")
            .alias("low_line_count"),
        )
    )
