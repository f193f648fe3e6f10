"""Catalog: raw testdata tables + reference-shaped mapped views.

The driver testdata (/root/testdata/sf*/) is a TPC-H-ish star schema. The
reference pipeline's tables (orders / shipment_deliveries / reviews /
dim_dates / dim_products / tripdata — see /root/repo/FIXTURES.md) are derived
from it with DETERMINISTIC, SQL-expressible mappings so every Spark query has
an exactly-equivalent DuckDB oracle. The same mapping expressions live as SQL
in ``oracles/mappings.py`` — keep the two in lockstep.

Reference shapes being reproduced:
- orders / shipment_deliveries / reviews DDL:
  /root/reference/erd_table_creations.sql:1-26
- implied dims dim_dates / dim_products:
  /root/reference/sql/transformation.sql:40-44,90-93,100-108
- tripdata: /root/reference/airflow/dags/tripdata_monthly_metrics.py:63-77

Scale note: every mapped view is a narrow projection over a parquet scan —
column pruning and predicate pushdown reach the scan (verified via
``plans.explain``). dim_dates is generated on the driver-side as a ~3k-row
frame and is always broadcast; dim_products is a broadcast candidate at any
realistic cardinality.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import corpus_id, memo
from .config import DEFAULT_CONFIG, EngineConfig

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_utc(spark: SparkSession) -> None:
    """Timestamp→date casts and epoch math must be timezone-stable even when
    the caller (e.g. the grading driver) built its own SparkSession."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# Feed representability (r12/r13 extreme-value, -timestamp, -money probes)
# ---------------------------------------------------------------------------
# A corrupt feed may carry values no analytics can represent. NaN / ±Inf
# abort the universal integer-money cast (cents() = CAST(ROUND(v·100) AS
# BIGINT)) under ANSI on BOTH engines and rank engine-arbitrarily;
# |v| > 1e12 is corruption, not revenue, and overflows the int64 cents
# grid (≈ 9.2e16) once scaled; pre-epoch / post-2100 event timestamps
# explode span-derived grids (one year-9999 ts OOM-killed the gapfill
# grid) and ANSI month arithmetic. Such a value goes NULL at load and the
# ROW survives, landing in the already-mirrored NULL regimes (the r6
# events NULL matrix, the r9 NULL measures).
#
# FEED_GATES is the one declaration: every gated (table, column) with its
# keep-predicate, written as SQL that both engines evaluate identically.
# The Spark side applies it through ``gate_feed`` (batch loads and the
# streaming readers); the oracle side is registry's shadow-CTE prelude,
# which splices the same text into every oracle.
MEASURE_ABS_MAX = 1000000000000.0
EVENT_TS_MIN = "1970-01-01 00:00:00"
EVENT_TS_MAX = "2100-01-01 00:00:00"
_FINITE = (
    "NOT isnan(CAST({c} AS DOUBLE)) AND "
    f"abs(CAST({{c}} AS DOUBLE)) <= {MEASURE_ABS_MAX!r}"
)
# Half-open [MIN, MAX).
_IN_WINDOW = (
    f"CAST({{c}} AS TIMESTAMP) >= TIMESTAMP '{EVENT_TS_MIN}' AND "
    f"CAST({{c}} AS TIMESTAMP) < TIMESTAMP '{EVENT_TS_MAX}'"
)
FEED_GATES: dict[str, dict[str, str]] = {
    "lineitem": dict.fromkeys(
        ("l_quantity", "l_extendedprice", "l_discount", "l_tax"), _FINITE
    ),
    "orders": {"o_totalprice": _FINITE},
    "part": {"p_retailprice": _FINITE},
    "customer": {"c_acctbal": _FINITE},
    "supplier": {"s_acctbal": _FINITE},
    "events": {"value": _FINITE, "ts": _IN_WINDOW},
}


def _normalize_feed(df: DataFrame, name: str) -> DataFrame:
    """The encoding normalization a gate needs first: events ts."""
    if name == "events" and "ts" in df.columns:
        return normalize_event_ts(df)
    return df


# Per-file-version dirtiness memo: gating wraps columns in CASE, which
# costs parquet predicate pushdown on exactly the columns users filter
# (a measure-range or event-time scan predicate stops reaching
# PushedFilters). A healthy corpus — the overwhelmingly common case —
# must not pay that, so the gates engage ONLY when the feed actually
# holds a non-representable value (zero plan impact on clean data). The
# probe is one column-pruned LIMIT-1 scan per (table, corpus_id) per
# process (cache.py); the oracle mirror is unconditional, and its
# identity on clean data keeps the two sides equal either way. events
# reads through the events* glob the file-stream source uses, so batch
# and streaming agree on the verdict.
def _feed_dirty(spark: SparkSession, sf_dir: str, name: str) -> bool:
    pattern = "events*.parquet" if name == "events" else f"{name}.parquet"

    def build() -> bool:
        files = sorted(glob.glob(os.path.join(sf_dir, pattern)))
        if len(files) > 1:
            df = spark.read.option("pathGlobFilter", pattern).parquet(sf_dir)
        else:
            # A single FILE or a Spark-written DIRECTORY: a direct path
            # read handles both, where pathGlobFilter matches only leaf
            # file names and would see nothing inside the directory.
            df = spark.read.parquet(files[0] if files else f"{sf_dir}/{pattern}")
        df = _normalize_feed(_normalize_decimals(df), name)
        # Partial-schema fixtures (narrow projections of the table) are
        # legal inputs: probe only the gated columns actually present.
        cols = [c for c in FEED_GATES[name] if c in df.columns]
        if not cols:
            return False
        bad = " OR ".join(f"NOT ({FEED_GATES[name][c].format(c=c)})" for c in cols)
        return df.select(*cols).where(bad).limit(1).count() > 0

    kind = "events_dirty" if name == "events" else "measures_dirty"
    return memo(kind, corpus_id(sf_dir, pattern), (), build)


def gate_feed(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame
) -> DataFrame:
    """``df``, read from feed ``name`` of ``sf_dir``, with the events ts
    encoding normalized and ``FEED_GATES[name]`` applied: a
    non-representable value goes NULL, the row survives. The gates
    engage only when the feed holds such a value (``_feed_dirty``); on a
    clean feed the plan is untouched. Batch loads and the streaming
    readers all come through here."""
    df = _normalize_feed(df, name)
    if name not in FEED_GATES or not _feed_dirty(spark, sf_dir, name):
        return df
    for c, keep in FEED_GATES[name].items():
        if c in df.columns:
            df = df.withColumn(c, F.when(F.expr(keep.format(c=c)), F.col(c)))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, raw: bool = False
) -> DataFrame:
    """``raw=True`` skips the representability gates — reserved for the
    corruption DETECTORS (key_uniqueness_report's census must see the
    raw feed; its oracle is exempt from the mirror too). ``events`` is
    read with the nanosAsLong legacy conf, so a TIMESTAMP(NANOS) ``ts``
    arrives as bigint for ``normalize_event_ts``."""
    _ensure_utc(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _normalize_decimals(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return df if raw else gate_feed(spark, sf_dir, name, df)


def scan_spread(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    name: str,
    min_bytes: int = 0,
) -> DataFrame:
    """Round-robin repartition a SMALL single-split scan to the core
    grant — the guide-§2.5 'unsplittable input' remedy, applied only
    where the downstream map work is CPU-heavy (interpreted
    higher-order-function array kernels, wide unpivots): the sf corpora
    are single-row-group parquet files, so a scan is ONE task at any
    core count and map-heavy operators serialize on it (measured r15:
    char_ngram_diversity 3.8 s and the table_column_stats pre-aggregate
    6-8 s in one task at local[32]).

    Scale-adaptive gate, not a local[32] tune: the repartition fires only
    when the file is smaller than one 128 MB input split (i.e. the scan
    CANNOT parallelize) AND the session has more than one core. At
    production scale the file set exceeds the split size, the gate is
    false, and the plan is untouched. Round-robin repartition is
    deterministic under retries (sortBeforeRepartition, SPARK-23207) and
    row-set-preserving, so any aggregation/per-row operator above it is
    unaffected. ``min_bytes`` lets a caller skip feeds too small to be
    worth one-task-per-core scheduling (the census spreads only >=1 MB
    tables); CPU-dense per-row kernels (char-trigram RLE) pass 0."""
    cid = corpus_id(sf_dir, f"{name}.parquet")
    if not cid:
        return df
    bytes_ = sum(size for _p, _m, size in cid)
    cores = spark.sparkContext.defaultParallelism
    if cores > 1 and min_bytes <= bytes_ < 128 * 1024 * 1024:
        return df.repartition(cores)
    return df


def _normalize_decimals(df: DataFrame) -> DataFrame:
    """Cast any DECIMAL column to DOUBLE at load (a no-op on today's
    all-double testdata).

    Same hazard class as ``normalize_event_ts``: the driver regenerates
    testdata between rounds and may change physical encodings, and the
    TPC-H-spec layout for the money columns (l_extendedprice, l_discount,
    o_totalprice, …) is DECIMAL(12,2), not double. Without this cast a
    re-encode would flow DecimalType through every price expression —
    Spark decimal arithmetic widens precision differently from DuckDB,
    and toPandas materializes decimals as object(Decimal) where DuckDB's
    .df() gives float64, so the driver's value hash would split even on
    equal values. Normalizing at the single load chokepoint keeps every
    consumer double-typed under any numeric layout; the cents-based
    oracles stay exact because a DECIMAL(_,2)'s value scaled by 100 is an
    integer both engines recover identically (pinned driver-faithfully in
    tests/test_money_encoding.py)."""
    from pyspark.sql.types import DecimalType

    for f in df.schema.fields:
        if isinstance(f.dataType, DecimalType):
            df = df.withColumn(f.name, F.col(f.name).cast("double"))
    return df


def normalize_event_ts(ev: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-timestamp column to TIMESTAMP (LTZ) regardless of
    the encoding the producer wrote — external data arrives in whatever
    layout the source chose (cf. the reference's S7 ingestion contract,
    tripdata_monthly_metrics.py:54-87):

    - ``bigint``: parquet TIMESTAMP(NANOS) read under the nanosAsLong legacy
      conf. Truncated to micros with integer DIV (int64 nanos exceed the
      double mantissa; matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast).
    - ``timestamp_ntz``: parquet timestamp[us] with isAdjustedToUTC=false.
      Cast to TIMESTAMP — wall-clock-preserving under the UTC session tz
      pinned by ``_ensure_utc``, so results are oracle-identical.
    - ``timestamp``: already LTZ; passthrough.

    Every events consumer (batch AND streaming) goes through this one
    helper so a driver-side re-encode of the testdata can never split the
    engine into per-query behaviors again.
    """
    dt = dict(ev.dtypes)[col]
    if dt == "bigint":
        ev = ev.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    elif dt == "timestamp_ntz":
        ev = ev.withColumn(col, F.col(col).cast("timestamp"))
    return ev


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a proper TIMESTAMP ``ts`` (see ``normalize_event_ts``
    for the encodings accepted) and ``ts``/``value`` gated to the
    representable ranges (``gate_feed``)."""
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Reference-shaped mapped views (FIXTURES.md §C)
# ---------------------------------------------------------------------------


def ref_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """orders(order_id, customer_id, order_date, product_id, unit_price,
    quantity, total_price) — cf. erd_table_creations.sql:8-17."""
    o = load_table(spark, sf_dir, "orders")
    unit_price = (F.col("o_orderkey") % 300 + 100).alias("unit_price")
    quantity = (F.col("o_orderkey") % 10 + 1).alias("quantity")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("order_date"),
        (F.col("o_orderkey") % cfg.product_mod).alias("product_id"),
        unit_price,
        quantity,
        ((F.col("o_orderkey") % 300 + 100) * (F.col("o_orderkey") % 10 + 1)).alias(
            "total_price"
        ),
    )


def ref_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shipment_deliveries(shipment_id, order_id, shipment_date,
    delivery_date) — cf. erd_table_creations.sql:20-26. Null-model mirrors the
    reference data's high null rates (FIXTURES.md: ~68%/~78% null) via
    deterministic key arithmetic: a third of shipments have no shipment_date;
    delivered rows are the even-partkey subset of shipped rows."""
    li = load_table(spark, sf_dir, "lineitem")
    ship = F.when(F.col("l_partkey") % 3 != 0, F.to_date("l_shipdate"))
    deliver = F.when(
        (F.col("l_partkey") % 3 != 0) & (F.col("l_partkey") % 2 == 0),
        F.date_add(F.to_date("l_shipdate"), (F.col("l_suppkey") % 4 + 1).cast("int")),
    )
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("shipment_id"),
        F.col("l_orderkey").alias("order_id"),
        ship.alias("shipment_date"),
        deliver.alias("delivery_date"),
    )


def ref_reviews(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """reviews(review 1..5, product_id) — duplicates allowed (append-only
    load, SURVEY.md Q7)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_partkey") % 5 + 1).alias("review"),
        (F.col("l_partkey") % cfg.product_mod).alias("product_id"),
    )


def dim_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_products(product_id, product_name) — implied warehouse dim
    (transformation.sql:100-108); mapped onto part."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("product_name"),
    )


def dim_dates(spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """dim_dates(calendar_dt, year_num, month_of_the_year_num,
    day_of_the_week_num ISO 1=Mon..7=Sun, working_day 'true'/'false' TEXT) —
    implied warehouse dim (transformation.sql:40-44,90-93; FIXTURES.md §B).

    working_day is 'false' on weekends and on fixed-date holidays (Jan 1,
    May 1, Jul 4, Dec 25, Dec 26) so the reference's "public holiday" quirk
    (weekday AND working_day='false', SURVEY.md Q1) selects non-empty rows.
    Generated with sequence+explode — a few thousand rows, always broadcast.
    """
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(cfg.calendar_start),
                F.lit(cfg.calendar_end),
            )
        ).alias("calendar_dt")
    )
    m = F.month("calendar_dt")
    d = F.dayofmonth("calendar_dt")
    iso_dow = F.weekday("calendar_dt") + 1  # weekday(): 0=Mon..6=Sun
    holiday = (
        ((m == 1) & (d == 1))
        | ((m == 5) & (d == 1))
        | ((m == 7) & (d == 4))
        | ((m == 12) & (d == 25))
        | ((m == 12) & (d == 26))
    )
    return days.select(
        F.col("calendar_dt"),
        F.year("calendar_dt").alias("year_num"),
        m.alias("month_of_the_year_num"),
        iso_dow.alias("day_of_the_week_num"),
        F.when((iso_dow >= 6) | holiday, F.lit("false"))
        .otherwise(F.lit("true"))
        .alias("working_day"),
    )


def tripdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tripdata(pickup_date, pickup_datetime, dropoff_datetime, fare_amount)
    — the NYC-taxi-shaped table the reference queries on ClickHouse
    (tripdata_monthly_metrics.py:63-77), mapped onto events. event timestamps
    cover one month; spreading by ``event_id % 36`` months yields 36 monthly
    groups like the reference's 2014-01..2016-12 golden output."""
    ev = load_events(spark, sf_dir)
    pickup = F.expr("timestampadd(MONTH, CAST(event_id % 36 AS INT), ts)")
    return ev.select(
        pickup.alias("pickup_datetime"),
        F.to_date(pickup).alias("pickup_date"),
        F.expr(
            "timestampadd(MINUTE, CAST(event_id % 60 + 1 AS INT),"
            " timestampadd(MONTH, CAST(event_id % 36 AS INT), ts))"
        ).alias("dropoff_datetime"),
        F.col("value").cast("double").alias("fare_amount"),
    )
