"""Temporal joins Spark lacks as primitives: as-of join and range join.

Both are implemented as compositions of DataFrame operators (no UDFs, no
cross joins), with DuckDB's NATIVE ASOF JOIN / inequality join as the
independent oracles (oracles/temporal.py).

- asof_join: the union-tag trick. Tag the build side 0 and the probe side
  1, union, and take last(ignorenulls) of the build columns over a window
  ordered by (ts, side) per key: each probe row sees exactly the latest
  build row at-or-before its timestamp. ONE shuffle on the key, no join
  node at all — the shape a merge-based asof engine produces, expressed
  declaratively. At 100 TB this scales like any keyed window: skew = a
  hot key, remedied with the usual salting if one user dominates.
- range_join (bounded interval): bucket timestamps by the window width W;
  a pair (a, b) with 0 < b-a ≤ W must land in the same or adjacent
  bucket, so probing buckets {k, k+1} per left row finds every pair
  exactly once (b's bucket matches exactly one probe). The join is a
  plain equi-join on (key, bucket) — candidate volume is bounded by
  bucket occupancy, never |L|×|R|. Width picks the recall window; the
  bucket count scales with the time span, so partitions stay balanced.

Timestamps are compared in exact integer microseconds (unix_micros /
epoch_us) — float epochs would break cross-engine equality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_events
from ..config import DEFAULT_CONFIG, EngineConfig

RANGE_WINDOW_S = 21_600  # 6h burst window for the error range join
RANGE_WINDOW_US = RANGE_WINDOW_S * 1_000_000


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    by: str,
    ts: str,
    build_cols: dict[str, str],
) -> DataFrame:
    """Backward as-of join: for each probe row, attach the build row with
    the greatest `ts` ≤ the probe's `ts` within the same `by` key (LEFT
    semantics — probes with no prior build row keep nulls).

    `build_cols` maps build column → output alias. Output = probe columns
    + aliased build columns."""
    tagged_build = build.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(src).alias(dst) for src, dst in build_cols.items()],
        *[F.lit(None).alias(f"__p_{c}") for c in probe.columns if c != by],
    )
    tagged_probe = probe.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.expr(f"CAST(NULL AS {dict(build.dtypes)[src]}) AS {dst}") for src, dst in build_cols.items()],
        *[F.col(c).alias(f"__p_{c}") for c in probe.columns if c != by],
    )
    w = (
        Window.partitionBy(by)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged_build.unionByName(tagged_probe).select(
        by,
        "__side",
        *[F.col(f"__p_{c}").alias(c) for c in probe.columns if c != by],
        *[
            F.last(dst, ignorenulls=True).over(w).alias(dst)
            for dst in build_cols.values()
        ],
    )
    return carried.where(F.col("__side") == 1).drop("__side")


def purchase_last_view_asof(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Each purchase event joined to the user's latest at-or-before 'view'
    event — the point-in-time attribution query. Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    ev = load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(
        purchases,
        views,
        by="user_id",
        ts="ts",
        build_cols={"ts": "view_ts", "value": "view_value"},
    )


def _bucket(us: Column) -> Column:
    return (us / RANGE_WINDOW_US).cast("bigint")


def error_bursts_range(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Pairs of error events from the same user within RANGE_WINDOW_S of
    each other (strictly ordered) — the bounded-interval self-join,
    bucketed so candidate generation is an equi-join, not a cross join."""
    ev = load_events(spark, sf_dir)
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    left = err.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        F.explode(F.array(_bucket(F.col("us")), _bucket(F.col("us")) + 1)).alias(
            "jb"
        ),
    )
    right = err.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        _bucket(F.col("us")).alias("jb"),
    )
    return (
        left.join(right, ["user_id", "jb"])
        .where(
            (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") - F.col("us_a") <= RANGE_WINDOW_US)
        )
        .select(
            "user_id",
            "event_a",
            "event_b",
            (F.col("us_b") - F.col("us_a")).alias("gap_us"),
        )
    )


def events_gapfill_locf(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Hourly gap-filled rollup with last-observation-carried-forward —
    the hypertable `time_bucket_gapfill(...) + locf(...)` shape
    (TimescaleDB/InfluxDB) the reference's warehouse would need for any
    dashboard over irregular event feeds: one row per (user, hour) across
    each user's own observed span, empty hours materialized with
    n_events = 0 and the bucket value carried forward from the last
    observed hour.

    Output: (user_id, bucket_ts, n_events, value_locf, is_gap).
    bucket_value is SUM(cents)/100 — exact integer summation, one IEEE
    division, same portability contract as the other value rollups; the
    carried-forward value is a passthrough of some bucket's value (no new
    arithmetic), so LOCF introduces no float hazard.

    Scale shape: the hourly rollup shuffles once on (user, hour) with
    map-side combine and is localCheckpoint'd because TWO consumers need
    it (the per-user span aggregate and the scaffold join) — without the
    checkpoint the groupBy subtree re-executes per consumer (the
    dedup_simhash lesson, CLAUDE.md). The scaffold is generated per user
    by exploding a bounded hour sequence (span/1h rows — thousands per
    user at most, never data-proportional), the join is a plain equi-join
    on (user, hour), and the LOCF window partitions by user with rows
    frames only. No per-bucket joins, no driver loops; skew = a hot user,
    salted like any keyed window if one key dominates."""
    from ..functions.numeric import cents

    ev = load_events(spark, sf_dir)
    hourly = cut(
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("bucket_value"),
        )
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    )
    scaffold = spans.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("bucket_ts"),
    )
    joined = scaffold.join(hourly, ["user_id", "bucket_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("bucket_value", ignorenulls=True).over(w).alias("value_locf"),
        F.col("n_events").isNull().alias("is_gap"),
    )


def purchases_pit_stage(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Point-in-time SCD2 lookup — enrich each purchase with the
    dimension VERSION valid at the purchase's own timestamp: the
    canonical warehouse temporal join (`JOIN dim ON key AND ts >=
    valid_from AND ts < valid_to`) against the type-2 history that
    scd2_user_event_history builds. Deliberately interval-containment,
    NOT the as-of trick: half-open [valid_from, valid_to) episodes
    partition the timeline, so every purchase lands in EXACTLY one
    version even when two change points share a timestamp (the earlier
    episode is then empty) — a tie the as-of formulation would leave to
    window ordering.

    Output: (event_id, user_id, ts, value, stage_type, stage_version,
    stage_since).

    Scale shape: equi-join on user_id with the range predicates applied
    as join residuals — candidates per probe row are bounded by that
    user's episode count, never a time-bucketed cross product; both
    sides shuffle once on the key. The history subtree is the SCD2
    operator's own single-shuffle plan."""
    ev = load_events(spark, sf_dir)
    from .windows import scd2_user_event_history

    hist = scd2_user_event_history(spark, sf_dir, cfg)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), "ts", "value"
    )
    cond = (
        (p["p_user"] == hist["user_id"])
        & (p["ts"] >= hist["valid_from"])
        & (hist["valid_to"].isNull() | (p["ts"] < hist["valid_to"]))
    )
    return p.join(hist, cond).select(
        "event_id",
        F.col("p_user").alias("user_id"),
        "ts",
        "value",
        F.col("event_type").alias("stage_type"),
        F.col("version").alias("stage_version"),
        F.col("valid_from").alias("stage_since"),
    )
