"""Product-analytics aggregates over the events stream: first-touch funnel
conversion and daily retention cohorts — the two classic questions an
event warehouse answers (the reference's events are e-commerce telemetry;
cf. extract_load_transform_data_pipeline.py.py's reviews/shipments KPIs for
the batch-side analogues).

Both operators route events through ``catalog.load_events`` →
``normalize_event_ts`` (CLAUDE.md: ALL events consumers; encoding
invariance pinned in tests/test_ts_encoding.py).

Scale notes (100 TB):
- funnel_conversion is two exchanges total: one groupBy(user_id) with
  conditional MINs (map-side combined — 5 first-touch timestamps per user
  partial-aggregate before the shuffle), then a 1-row global aggregate.
  No joins, no windows, no per-step passes over the corpus.
- retention_cohorts shuffles on user_id once for the (user, day) distinct
  + cohort MIN (same key, exchange reused), then once on (cohort_day,
  offset). The (user, day) frame and the per-user cohort frame each feed
  two consumers, so both are localCheckpoint-ed (static exchange reuse
  does not fire across join/aggregate branches — CLAUDE.md,
  dedup_simhash lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_events
from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.numeric import portable_round

# Strict first-touch funnel: a user advances to a step only if their FIRST
# occurrence of that event type came strictly after their FIRST occurrence
# of the previous step — the order-respecting definition that one
# groupBy(user) of conditional MINs computes exactly (no joins, no
# re-scans per step). Steps follow the event lifecycle in the data.
FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def funnel_conversion(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """ONE-row strict first-touch funnel over FUNNEL_STEPS: per-step user
    counts plus step-over-step conversion rates.

    step_k counts users whose first step_k event is strictly later than
    their first step_{k-1} event, chained from the top of the funnel.
    Rates are single int/int IEEE divisions, portable_round-ed at 1e-6 on
    both sides (CLAUDE.md float rule)."""
    ev = load_events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in FUNNEL_STEPS
        ]
    )
    # reached_k: first-touch timestamps strictly increase down the funnel.
    reached = [F.col(f"t_{FUNNEL_STEPS[0]}").isNotNull()]
    for prev, cur in zip(FUNNEL_STEPS, FUNNEL_STEPS[1:]):
        reached.append(reached[-1] & (F.col(f"t_{cur}") > F.col(f"t_{prev}")))
    counts = firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.sum(r.cast("long")).alias(f"n_{s}")
            for s, r in zip(FUNNEL_STEPS, reached)
        ],
    )
    # Zero-denominator guard: an empty funnel step would be a HARD ANSI
    # divide-by-zero (r6 null-robustness probe — reachable whenever the
    # regenerated corpus lacks a step type entirely); an undefined rate
    # is NULL on both engines (the oracle's CASE yields NULL the same
    # way, and portable_round passes NULL through).
    rate_cols = [
        portable_round(
            F.when(
                F.col(f"n_{prev}") > 0,
                F.col(f"n_{cur}").cast("double") / F.col(f"n_{prev}"),
            ),
            6,
        ).alias(f"rate_{cur}")
        for prev, cur in zip(FUNNEL_STEPS, FUNNEL_STEPS[1:])
    ]
    return counts.select(
        "n_users", *[f"n_{s}" for s in FUNNEL_STEPS], *rate_cols
    )


def retention_cohorts(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Daily retention triangle: users cohorted by their first active day;
    for every (cohort_day, day offset) cell, how many cohort members were
    active and what fraction of the cohort that is.

    (user, day) is distinct-ed first, so the per-cell COUNT(*) IS the
    distinct-user count — no COUNT(DISTINCT) in the aggregate. The
    retention rate is a single int/int division, portable_round-ed at
    1e-6 on both sides."""
    ev = load_events(spark, sf_dir)
    days = cut(
        ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    cohort = cut(
        days.groupBy("user_id")
        .agg(F.min("d").alias("cohort_day"))
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        days.join(cohort, "user_id")
        .select("cohort_day", F.datediff("d", F.col("cohort_day")).alias("offset_days"))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(sizes, "cohort_day").select(
        "cohort_day",
        "offset_days",
        "n_active",
        "cohort_size",
        portable_round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention_rate"),
    )


# Market-basket co-occurrence guard: a user interacting with more than
# BASKET_ITEM_CAP distinct items contributes a quadratic pair load; keep
# each such user's CAP smallest item ids (deterministic, oracle-mirrored —
# same lossy-but-audited posture as the dedup DF caps).
BASKET_ITEM_CAP = 64
PROPS_INT_RE = "^[ ]*[+-]?[0-9]+[ ]*$"  # the portable integral contract


def _props_int(path: str) -> F.Column:
    """JSON path → bigint with the strict-integral guard (see the
    item_cooccurrence comment; oracles mirror json_valid + the same
    regex + TRY_CAST)."""
    v = F.get_json_object("props", path)
    return F.when(v.rlike(PROPS_INT_RE), v).try_cast("long")


BASKET_EVENT_TYPES = ("view", "click")


def item_cooccurrence(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Item co-occurrence with lift — the market-basket / item-similarity
    prep (recommender co-click matrices, item2vec pair generation): for
    every pair of items interacted with by the same user, the number of
    co-occurring users and lift = P(a,b)/(P(a)P(b)).

    Items are the props JSON payload key over view/click events; baskets
    are per-user distinct item sets. Output:
    (item_a, item_b, n_users_both, n_users_a, n_users_b, lift).

    Lift arithmetic is EXACT until one division: n_ab·N and n_a·n_b are
    long products (≤2^53 at any plausible item cardinality), so the IEEE
    quotient is cross-engine deterministic — no P(a)·P(b) float product
    whose association could differ.

    Scale shape: (user, item) distinct → one shuffle; per-user baskets →
    one groupBy(user) with the item array sorted in-row; the pair
    expansion explodes each basket's ordered pairs MAP-SIDE (array
    comprehension over the sorted basket — no self-join) and reduces with
    one groupBy(item_a, item_b) whose cardinality is bounded by the item
    vocabulary squared, not by users. Item marginals reduce the same
    distinct frame and BROADCAST back (item vocab ≪ corpus); the basket
    cap bounds the per-user explode exactly like the dedup DF caps bound
    posting lists."""
    ev = load_events(spark, sf_dir)
    items = cut(
        ev.where(F.col("event_type").isin(*BASKET_EVENT_TYPES))
        .select(
            "user_id",
            # Strict-integral regex guard BEFORE the cast: it IS the
            # cross-engine contract for the props re-encode hazard class
            # (r6 probe: Spark try_cast nulls '3.5'/'7e1' where DuckDB
            # TRY_CAST rounds 3.5→4 and parses 7e1→70; a bare cast would
            # THROW under Spark 4 ANSI). Values passing the guard cast
            # identically everywhere; everything else nulls everywhere.
            _props_int("$.k").alias("item"),
        )
        # A basket needs an owner: NULL user_id rows drop on BOTH engines
        # (unfiltered, Spark's distinct().count() N includes the null
        # basket where the oracle's COUNT(DISTINCT user_id) excludes it —
        # r6 null-robustness probe caught the lift skew).
        .where(F.col("item").isNotNull() & F.col("user_id").isNotNull())
        .distinct()
    )  # feeds baskets, marginals, and N
    baskets = items.groupBy("user_id").agg(
        F.slice(F.sort_array(F.collect_list("item")), 1, BASKET_ITEM_CAP).alias(
            "ks"
        )
    )
    # Ordered pairs (a < b) expanded in-row: for basket position i, pair
    # ks[i] with every later element — a flatten of per-position slices.
    pair_expr = (
        "flatten(transform(ks, (x, i) ->"
        " transform(slice(ks, i + 2, size(ks)), y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_users_both"))
    )
    marg = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_users"))
    n_total = items.select("user_id").distinct().count()  # 1-row scalar
    ma = marg.select(
        F.col("item").alias("item_a"), F.col("n_users").alias("n_users_a")
    )
    mb = marg.select(
        F.col("item").alias("item_b"), F.col("n_users").alias("n_users_b")
    )
    lift = (F.col("n_users_both") * F.lit(n_total)).cast("double") / (
        F.col("n_users_a") * F.col("n_users_b")
    )
    return (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_users_both",
            "n_users_a",
            "n_users_b",
            lift.alias("lift"),
        )
    )


def conversion_latency_stats(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Time-to-convert distribution per first-view cohort day: for every
    user whose first 'purchase' follows their first 'view', the latency
    between the two, rolled up by the day of the first view —
    (cohort_day, n_converted, mean_latency_s, p50_latency_s,
    p90_latency_s). The funnel twin of retention_cohorts: retention asks
    WHETHER users come back, this asks HOW FAST they convert.

    Float discipline: latencies are EXACT integer microseconds
    (unix_micros diffs); the mean divides double(Σ)/n once, and the
    interpolated percentiles are portable_round-ed at scale 6 on both
    sides before /1e6 — the corpus_stats idiom, so percentile ulps can
    never flip a hash.

    Scale shape: ONE groupBy(user) of two conditional MINs (the
    funnel_conversion pass shape), then one groupBy(cohort_day) whose
    cardinality is the calendar. Exact percentiles sort per cohort-day
    group; at production scale swap percentile_approx (same surface)."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    conv = per_user.where(
        F.col("first_view").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        F.to_date("first_view").alias("cohort_day"),
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ).alias("lat_us"),
    )
    n = F.count(F.lit(1))
    return conv.groupBy("cohort_day").agg(
        n.alias("n_converted"),
        portable_round(F.sum("lat_us").cast("double") / n / 1e6, 6).alias(
            "mean_latency_s"
        ),
        portable_round(
            F.percentile("lat_us", F.lit(0.5)) / 1e6, 6
        ).alias("p50_latency_s"),
        portable_round(
            F.percentile("lat_us", F.lit(0.9)) / 1e6, 6
        ).alias("p90_latency_s"),
    )


def event_transition_matrix(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    (prev_type, next_type, n_transitions, transition_prob) where the
    probability is row-normalized per prev_type. The general next-step
    view the strict funnel specializes (funnel_conversion fixes ONE path;
    this surfaces every observed path and its mass — the Sankey-diagram
    feed).

    Determinism: transitions follow the (ts, event_id) order — event_id
    unique, so ties on ts cannot reorder. The probability is one IEEE
    division of exact longs, token-identical in the oracle.

    Scale shape: one lag window partitioned by user (high-cardinality,
    bounded partitions), one groupBy on the 5×5 type-pair space, and the
    row totals come from a second window over THAT tiny frame (|types|²
    rows at any corpus size) — never a re-scan of events."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(tot)
        ).alias("transition_prob"),
    )


PATH_TOP_K = 20


def top_session_paths(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Most common within-session event-type sequences — the lightweight
    sequence-mining view (the "what do users actually do" report behind
    funnel design): sessionize with the standard 30-minute gap, render
    each session as its ordered path string (view>click>purchase), count
    identical paths corpus-wide, keep the top PATH_TOP_K.

    Output: (path, n_sessions, n_events_per_session).

    Determinism: the path renders from sort_array over (ts, event_id,
    type) structs — event_id unique, so equal timestamps cannot reorder;
    top-K ties break by path ASC.

    Scale shape: sessionization is the one keyed window (user_id); the
    per-session path build is a groupBy(user, session) whose collect_list
    rows are bounded by session length; path counting is a groupBy on the
    path-string space with map-side combine; the final top-K is
    TakeOrdered (k rows to the driver, no global sort)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    from .windows import SESSION_GAP_MINUTES

    flagged = ev.withColumn(
        "new_session",
        F.when(gap_sec.isNull() | (gap_sec > SESSION_GAP_MINUTES * 60), 1).otherwise(
            0
        ),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # string_agg semantics, mirrored exactly: NULL event_types are skipped
    # from the rendered path, and a session whose EVERY type is NULL
    # renders as NULL — not '' (array_join alone returns '' there; the
    # r12 NULL-event_id probe caught the divergence on an all-NULL-type
    # singleton session). A no-op wherever any non-NULL type exists.
    _types = F.filter(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        lambda t: t.isNotNull(),
    )
    paths = flagged.groupBy("user_id", "session_id").agg(
        F.when(F.size(_types) > 0, F.array_join(_types, ">")).alias("path"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            (F.sum("n_ev").cast("double") / F.count(F.lit(1))).alias(
                "n_events_per_session"
            ),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


WAU_WINDOW_DAYS = 7


def active_users_rolling(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """DAU / trailing-WAU per calendar day — the standard engagement
    series: (day, dau, wau) where wau counts distinct users active in the
    trailing WAU_WINDOW_DAYS-day window ending that day.

    COUNT(DISTINCT) over a sliding window is not a Spark window function;
    the distributed formulation is the CONTRIBUTION EXPLODE: each distinct
    (user, day) pair contributes to the WAU of days day..day+6, expanded
    map-side as a 7-element sequence, then ONE groupBy(day) with
    countDistinct. Days with no activity in the corpus window simply have
    no row (matching the oracle's grouped form); the trailing window only
    reports days that exist in the data.

    Scale shape: the (user, day) distinct frame is one narrow shuffle of
    the events scan; the ×7 explode multiplies that REDUCED frame, not the
    raw events; both rollups are map-side-combined countDistincts. The
    frame feeds the DAU and WAU branches, so it is localCheckpoint'd."""
    ev = load_events(spark, sf_dir)
    user_days = cut(
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    dau = user_days.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, date_add(day, {WAU_WINDOW_DAYS - 1}),"
                f" interval 1 day)"
            )
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    # Inner join: only days with actual activity appear (a trailing window
    # day with contributions but no DAU row is a pure artifact of the
    # explode running past the corpus end — drop it via the DAU side).
    return dau.join(wau, "day")
