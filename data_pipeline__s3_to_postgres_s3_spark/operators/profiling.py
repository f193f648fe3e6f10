"""Data-quality profiling: per-column null and cardinality accounting.

The pre-load validation pass a warehouse pipeline runs before trusting a
feed (the reference trusts pandas inference and loads blind —
extract_load_transform_data_pipeline.py.py:52-63; this is the check that
pipeline lacks): row count, non-null count, and exact distinct count for
every column, as ROWS so downstream rules can join/threshold them.

Scale shape: ONE scan. All per-column aggregates run in a single
aggregation (Spark plans the multi-COUNT(DISTINCT) via EXPAND — one pass
over the data, rows multiplied by #distinct-aggregates map-side, then a
partially-aggregated shuffle); the 1-row result unpivots to per-column
rows with stack() — driver never loops over columns issuing scans. At
production scale swap exact distincts for approx_count_distinct and keep
the same surface.

Exact-distinct note: COUNT(DISTINCT) over doubles compares exact binary
values in both engines, so the oracle (UNION ALL over the same 1-row
aggregate subquery) matches bit-for-bit without any rounding.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import TABLES, load_events, load_table, scan_spread
from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.numeric import cents, portable_round
from ..session import local_frame

# Pinned column list (shared with the oracle builder) — profiling output
# must be stable even if the physical parquet gains columns.
PROFILE_ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def profile_table(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(column_name, n_rows, n_nonnull, n_distinct) per column, one scan."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = df.agg(*aggs)
    stacked = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS (column_name, n_nonnull, n_distinct)"
        ),
        "n_rows",
    ).select("column_name", "n_rows", "n_nonnull", "n_distinct")


PROFILE_DOCUMENTS_COLS = ("doc_id", "text", "lang", "source", "n_chars")
PROFILE_EVENTS_COLS = ("event_id", "ts", "user_id", "event_type", "value")


# Foreign-key relationships of the star schema, audited by
# referential_integrity_report. (label, child, fk, parent, pk) — pinned
# as a module constant so the report's row set is stable across physical
# schema drift, like the PROFILE_*_COLS lists above.
FK_RELATIONSHIPS = (
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
)


def referential_integrity_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Foreign-key orphan audit across the star schema: one row per
    declared relationship with (child_rows, null_fk_rows, orphan_rows,
    orphan_pct). The referential-integrity gate an ELT pipeline runs
    before publishing a load (the reference loads each feed
    independently and never cross-checks keys —
    extract_load_transform_data_pipeline.py.py:52-63 trusts every FK
    blind; this is the missing audit).

    Semantics (SQL EXISTS convention, mirrored in the oracle): a NULL FK
    is reported separately, never as an orphan — NULL equals nothing, so
    it can neither match nor fail a parent lookup. An orphan is a
    non-NULL FK with no parent row whose (non-NULL) PK equals it.

    Scale shape (r15): ALL relationships ride one stacked frame — each
    child scanned ONCE emitting (relationship, fk) rows for every FK it
    declares, one map-side-combined groupBy over (relationship, fk),
    one broadcast join against the unioned parent key spaces, one final
    fold. No anti-join twin, no scalar crossJoin, ~4 exchanges total
    (was ~28 across 7 branches). At 100 TB the stacked child pass is
    k passes over lineitem's FK columns fused into one scan; a parent
    key space too large to broadcast (orders at scale) splits back to
    its own shuffle join without touching the others.

    Determinism: pure integer counts; orphan_pct is one IEEE division of
    exact integers, portable-rounded at 1e-4."""
    # r15 restructure (§2.4 remove shuffles outright): the per-
    # relationship loop planned 7 independent branches — 14 scans
    # (lineitem 3x, nation 2x), ~28 exchanges, 7 joins. All seven
    # relationships now ride ONE stacked frame: each child table is
    # scanned ONCE emitting (relationship, fk) rows for every FK it
    # carries via stack(), each parent ONCE emitting its (relationship,
    # key) space, one groupBy collapses child multiplicity, one
    # BROADCAST join (the union of all parent key spaces is ~190k keys
    # at sf0.1 — index metadata, the §3.1 explicit-hint case since the
    # post-distinct size estimate is unreliable) marks matches, and one
    # final groupBy folds the seven report rows. A literal 7-row spine
    # restores the all-zeros row a 0-row child must still report (the
    # r12 empty-table corner the per-branch COALESCE used to cover).
    by_child: dict[str, list] = {}
    by_parent: dict[str, list] = {}
    for label, child, fk, parent, pk in FK_RELATIONSHIPS:
        by_child.setdefault(child, []).append((label, fk))
        by_parent.setdefault(parent, []).append((label, pk))

    def _stacked(table: str, pairs: list, colname: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        entries = ", ".join(f"'{lbl}', {col}" for lbl, col in pairs)
        return df.select(
            F.expr(
                f"stack({len(pairs)}, {entries}) AS (relationship, {colname})"
            )
        )

    children = reduce(
        DataFrame.unionByName,
        [_stacked(t, pairs, "fk") for t, pairs in by_child.items()],
    )
    parents = reduce(
        DataFrame.unionByName,
        [_stacked(t, pairs, "pk") for t, pairs in by_parent.items()],
    ).where(F.col("pk").isNotNull()).distinct()

    grouped = children.groupBy("relationship", "fk").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    joined = grouped.join(
        F.broadcast(parents.withColumnRenamed("relationship", "rel_p")),
        (F.col("relationship") == F.col("rel_p"))
        & (F.col("fk") == F.col("pk")),
        "left",
    )
    stats = joined.groupBy("relationship").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("child_rows"),
        F.coalesce(
            F.sum(F.when(F.col("fk").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("null_fk_rows"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("fk").isNotNull() & F.col("pk").isNull(),
                    F.col("cnt"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("orphan_rows"),
    )
    spine = local_frame(
        spark, [(label,) for label, *_ in FK_RELATIONSHIPS], "relationship string"
    )
    out = spine.join(stats, ["relationship"], "left")
    return out.select(
        "relationship",
        F.coalesce(F.col("child_rows"), F.lit(0))
        .cast("long")
        .alias("child_rows"),
        F.coalesce(F.col("null_fk_rows"), F.lit(0))
        .cast("long")
        .alias("null_fk_rows"),
        F.coalesce(F.col("orphan_rows"), F.lit(0))
        .cast("long")
        .alias("orphan_rows"),
        F.when(F.coalesce(F.col("child_rows"), F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            portable_round(
                F.col("orphan_rows").cast("double")
                * 100.0
                / F.col("child_rows"),
                4,
            )
        )
        .alias("orphan_pct"),
    )


def profile_orders(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Profile of the orders feed — the registry-exposed instance."""
    o = load_table(spark, sf_dir, "orders").select(*PROFILE_ORDERS_COLS)
    return profile_table(o, PROFILE_ORDERS_COLS)


def profile_documents(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Profile of the documents corpus feed."""
    d = load_table(spark, sf_dir, "documents").select(*PROFILE_DOCUMENTS_COLS)
    return profile_table(d, PROFILE_DOCUMENTS_COLS)


def profile_events(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Profile of the events feed (ts normalized first, so the profile is
    encoding-invariant like every other events consumer)."""
    ev = load_events(spark, sf_dir).select(*PROFILE_EVENTS_COLS)
    return profile_table(ev, PROFILE_EVENTS_COLS)


# Primary-key spec per table: the identity contract every downstream
# query assumes (TPC-H defines these PKs; events/documents/embeddings
# carry the obvious surrogate). Shared with the oracle builder.
# key_uniqueness_report's full-row-distinct dispatch threshold: at or
# below this many rows the exact struct count-distinct ships whole
# payloads through one shuffle (fine — and the branch the driver hashes
# at sf); above it the 128-bit content-fingerprint distinct takes over.
KEY_CENSUS_EXACT_MAX_ROWS = 2_000_000


def _content_fingerprint(df: DataFrame) -> list[F.Column]:
    """A 128-bit per-row content fingerprint (two independent xxhash64
    folds) whose equality classes match Spark's own row-distinct
    EXACTLY, so the dispatched branch is bit-identical to the exact one:

    - floats/doubles (incl. float-array elements) are canonicalized the
      way NormalizeFloatingNumbers does before grouping: -0.0 → 0.0 and
      every NaN → one canonical NaN (xxhash64 hashes BIT patterns, so
      un-canonicalized ±0.0 would split a class the struct distinct
      merges);
    - every column contributes an isNull flag ahead of its value:
      xxhash64 skips NULL inputs entirely, so without the flags
      ('x', NULL) and (NULL, 'x') would fold to the same sequence."""

    def canon(c: F.Column, dt) -> F.Column:
        from pyspark.sql import types as T

        if isinstance(dt, (T.DoubleType, T.FloatType)):
            d = c.cast("double")
            return (
                F.when(F.isnan(d), F.lit(float("nan")))
                .when(d == 0.0, F.lit(0.0))
                .otherwise(d)
            )
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(
                c,
                lambda x: F.when(
                    F.isnan(x.cast("double")), F.lit(float("nan"))
                )
                .when(x.cast("double") == 0.0, F.lit(0.0))
                .otherwise(x.cast("double")),
            )
        return c

    fields: list[F.Column] = []
    for f in df.schema.fields:
        fields.append(F.col(f.name).isNull())
        fields.append(canon(F.col(f.name), f.dataType))
    return [F.xxhash64(*fields), F.xxhash64(F.lit(0x9E3779B9), *fields)]


KEY_SPECS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def join_skew_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Join-key skew census over the star schema's declared FK
    relationships — the input to every skew remediation decision
    (salting, AQE skew-join thresholds, broadcast choices): per
    relationship, the child-side key multiplicity profile (distinct
    keys, max rows under one key, the hottest key itself, mean rows
    per key) and the skew ratio max/avg. The reference pipeline joins
    its feeds blind (sql/transformation.sql:16-38 — no cardinality
    check precedes any join); at 100 TB the hot-key check IS the
    difference between a plan that finishes and one that spills a
    single straggler partition for hours (this repo's own
    salted_brand_revenue / hot-key-capped interval join carry the
    remediations; this report is their trigger).

    Determinism: the hot key is the SMALLEST key among those sharing
    the max multiplicity (min_by over a (-n, fk) struct — a
    distributive aggregate, NOT a global sort; the oracle's ORDER BY
    n DESC, fk LIMIT 1 subquery is the same total order). hot_key is
    reported as DOUBLE so an empty child (NULL hot key) stays
    dtype-stable across both engines' pandas materializations.

    Scale shape: ONE column-pruned scan per child (the NULL-FK rows
    ride the same groupBy as their own key group — no separate totals
    scan), one map-side-combined groupBy, one tiny fold; nothing
    collects, nothing sorts globally. 7 rows."""
    frames = []
    for label, child_t, fk, _parent, _pk in FK_RELATIONSHIPS:
        child = load_table(spark, sf_dir, child_t)
        grouped = child.groupBy(F.col(fk).cast("long").alias("fk")).agg(
            F.count(F.lit(1)).alias("n")
        )
        nn = F.col("fk").isNotNull()
        key_stats = grouped.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.when(~nn, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("null_fk_rows"),
            F.count(F.when(nn, F.lit(1))).cast("long").alias("n_keys"),
            F.coalesce(F.sum(F.when(nn, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("nonnull_rows"),
            F.coalesce(F.max(F.when(nn, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("max_key_rows"),
            F.expr("min_by(fk, struct(-n, fk)) FILTER (WHERE fk IS NOT NULL)")
            .cast("double")
            .alias("hot_key"),
        )
        frames.append(
            key_stats.select(
                F.lit(label).alias("relationship"),
                "n_rows",
                "null_fk_rows",
                "n_keys",
                "max_key_rows",
                "hot_key",
                F.when(
                    F.col("n_keys") > 0,
                    portable_round(
                        F.col("nonnull_rows").cast("double")
                        / F.col("n_keys"),
                        4,
                    ),
                ).alias("avg_key_rows"),
                F.when(
                    F.col("nonnull_rows") > 0,
                    portable_round(
                        F.col("max_key_rows").cast("double")
                        * F.col("n_keys")
                        / F.col("nonnull_rows"),
                        4,
                    ),
                ).alias("skew_ratio"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


def partition_stats_rollup(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Partition-level statistics with an algebraic MERGE to the table
    total — the incremental-maintenance shape of table_column_stats: a
    warehouse maintaining month-partitioned stats re-computes ONLY the
    partitions a load touched and folds the partials (counts/sums ADD,
    mins/maxes fold) instead of rescanning 100 TB; NDV is deliberately
    absent from the rollup surface because plain NDV does not merge
    (that is what sketches are for — see approx_aggregates). The
    reference recomputes its aggregates from scratch on every run
    (sql/transformation.sql full-refresh DDL); this is the incremental
    twin, the same contract as its max-PK incremental loads
    (extract_load_transform_data_pipeline.py.py:95-101).

    Output: one row per o_orderdate month (scope='month') with
    n_rows / n_priced / sum_cents / min-max of o_totalprice on the
    canonical double domain, plus ONE scope='total' row DERIVED FROM
    THE MONTH FRAME by the merge algebra — never from a second table
    scan. The oracle mirrors both levels from the same month CTE, so
    the driver hash proves the merge algebra itself.

    Scale shape: one scan, one map-side-combined groupBy over ~months
    keys, then a dozens-of-rows fold. NULL order dates form their own
    month partition (the r9 NULL-orders regime)."""
    orders = load_table(spark, sf_dir, "orders")
    price = _stat_canon("o_totalprice")
    months = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_totalprice").cast("long").alias("n_priced"),
        F.coalesce(F.sum(cents(F.col("o_totalprice"))), F.lit(0))
        .cast("long")
        .alias("sum_cents"),
        F.min(price).cast("double").alias("min_value"),
        F.max(price).cast("double").alias("max_value"),
    )
    # The month frame feeds TWO consumers (its own rows + the merged
    # total); Spark re-executes the shared subtree per consumer — a
    # second full orders scan, exactly what the merge exists to avoid.
    # Checkpointing the ~months-row partial frame pins the plan to ONE
    # scan (the dedup_simhash localCheckpoint precedent; the
    # materialized frame is dozens of rows at any corpus size).
    months = cut(months)
    total = months.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("n_priced"), F.lit(0)).cast("long").alias("n_priced"),
        F.coalesce(F.sum("sum_cents"), F.lit(0))
        .cast("long")
        .alias("sum_cents"),
        F.min("min_value").cast("double").alias("min_value"),
        F.max("max_value").cast("double").alias("max_value"),
    )
    month_rows = months.select(
        F.lit("month").alias("scope"),
        "month",
        "n_rows",
        "n_priced",
        "sum_cents",
        "min_value",
        "max_value",
    )
    total_row = total.select(
        F.lit("total").alias("scope"),
        F.lit(None).cast("date").alias("month"),
        "n_rows",
        "n_priced",
        "sum_cents",
        "min_value",
        "max_value",
    )
    return month_rows.unionByName(total_row)


# Numeric column spec for the ANALYZE-style stats census (shared with
# the oracle builder — the KEY_SPECS convention). Names only; the census
# is encoding-invariant because every value funnels through one
# CAST-to-double canonicalization on BOTH engines.
TABLE_STATS_SPECS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey", "n_regionkey")),
    ("customer", ("c_custkey", "c_nationkey", "c_acctbal")),
    ("supplier", ("s_suppkey", "s_nationkey", "s_acctbal")),
    ("part", ("p_partkey", "p_size", "p_retailprice")),
    ("orders", ("o_orderkey", "o_custkey", "o_totalprice")),
    (
        "lineitem",
        (
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        ),
    ),
    ("events", ("event_id", "user_id", "value")),
    ("documents", ("doc_id", "n_chars")),
    ("embeddings", ("vec_id", "label")),
)


def _stat_canon(col: str) -> F.Column:
    """CAST(col AS DOUBLE) + 0.0 — one canonical numeric domain for
    ndv/min/max. The +0.0 collapses -0.0 to +0.0 (IEEE: -0.0 + 0.0 =
    +0.0) so a feed carrying a negative zero cannot split the engines:
    Spark's distinct normalizes -0.0 == 0.0 (NormalizeFloatingNumbers)
    and which of the two equal zeros MIN/MAX returns is engine-arbitrary,
    while the canonicalized value hashes identically. Token-identical
    twin in the oracle SQL."""
    return F.col(col).cast("double") + F.lit(0.0)


def table_column_stats(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """ANALYZE-style optimizer-statistics census over every numeric
    column of every table: non-null count, NULL count, exact NDV, and
    min/max on the canonical double domain — the statistics a
    cost-based optimizer (join reordering, broadcast thresholds,
    selectivity estimates) runs on, and the pre-load validation the
    reference pipeline skips entirely (it trusts pandas inference and
    loads blind — extract_load_transform_data_pipeline.py.py:52-63).

    Reads the NORMALIZED feeds (load_table / load_events) so the stats
    describe exactly what every downstream query consumes — a
    non-representable measure that the load gate NULLed is reported
    here as a NULL, which is the actionable number (the raw-feed
    corruption detector is key_uniqueness_report + the dirtiness
    probes, not this census).

    Scale shape (r15, VERDICT r14 #6): UNPIVOT-first. Each table's k
    numeric columns stack() to (table, column, canon_value) rows at the
    scan — the same k-fold map-side multiplication the old
    multi-COUNT(DISTINCT) EXPAND paid, but the hash aggregate now keys
    on (table, column, value) with FOUR aggregate slots total instead
    of evaluating 5·k per-column slots per expanded row, Spark's
    single-distinct rewrite replaces the EXPAND node outright (plan:
    9 Expand → 0; per-table double-Exchange branches → ONE two-exchange
    aggregation over the union), and the first exchange carries only
    per-partition-distinct (table, column, value) triples. A literal
    per-column spine LEFT-joins the aggregate back so a 0-row table still
    reports its columns with zero counts and NULL min/max (the r12
    empty-table probe class — a bare groupBy would drop those rows).
    27 data rows + spine total. At production scale swap the exact NDVs
    for approx_count_distinct and keep the same surface (the
    profile_table convention)."""
    stacks = []
    for name, cols in TABLE_STATS_SPECS:
        df = load_table(spark, sf_dir, name)
        # Single-row-group sf files scan as ONE task; the stacked
        # pre-aggregate is the census's whole cost (6-8 s serialized at
        # local[32], measured r15) — spread the >=1 MB feeds across the
        # core grant before the unpivot (catalog.scan_spread; a no-op
        # at production split counts).
        df = scan_spread(spark, df, sf_dir, name, min_bytes=1 << 20)
        # Token-identical canon twin of _stat_canon, spelled in SQL so
        # it can ride inside stack(): CAST(c AS DOUBLE) + 0.0.
        pairs = ", ".join(
            f"'{c}', (CAST({c} AS DOUBLE) + 0.0)" for c in cols
        )
        stacks.append(
            df.select(
                F.lit(name).alias("table_name"),
                F.expr(
                    f"stack({len(cols)}, {pairs}) AS (column_name, v)"
                ),
            )
        )
    stacked = reduce(DataFrame.unionByName, stacks)
    stats = stacked.groupBy("table_name", "column_name").agg(
        F.count("v").cast("long").alias("nn"),
        # COUNT (never NULL), not SUM: a 0-row table must report 0
        # (the r12 empty-table probe class). The canon cast is total on
        # these numeric columns, so isnull(v) == isnull(c).
        F.count(F.when(F.col("v").isNull(), F.lit(1)))
        .cast("long")
        .alias("nu"),
        F.countDistinct("v").cast("long").alias("nd"),
        F.min("v").cast("double").alias("mn"),
        F.max("v").cast("double").alias("mx"),
    )
    spine = local_frame(
        spark,
        [(t, c) for t, cols in TABLE_STATS_SPECS for c in cols],
        "table_name string, column_name string",
    )
    joined = spine.join(stats, ["table_name", "column_name"], "left")
    return joined.select(
        "table_name",
        "column_name",
        F.coalesce(F.col("nn"), F.lit(0)).cast("long").alias("n_nonnull"),
        F.coalesce(F.col("nu"), F.lit(0)).cast("long").alias("n_nulls"),
        F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_distinct"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
    )


def schema_snapshot_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Physical-schema census per table: column count, the sorted
    column-name list, and the row count — the mechanical DETECTOR for
    the schema-drift class (the driver regenerates the testdata between
    rounds and may add, reorder, or re-type columns; the r13
    partial-schema gotcha was this class's tip). A feed whose snapshot
    row changed since the last run is the signal to re-validate every
    consumer BEFORE trusting query output — the audit the reference
    pipeline lacks (it re-infers the schema from each CSV on every load
    and silently absorbs drift —
    extract_load_transform_data_pipeline.py.py:52-63).

    Reads the RAW feed (load_table(raw=True), the key_uniqueness_report
    convention): the census must describe the file as it landed, before
    any representability gate; its oracle is registry-exempt from the
    mirrors and introspects the same parquet through DuckDB's
    information_schema, so the two engines agree on exactly the
    physical column set. Names (not physical types) are the drift-
    stable identity: the load chokepoints normalize types by DESIGN
    (decimal→double, nanos→timestamp), so a type census would disagree
    across equivalent encodings, but a name/arity/row-count census is
    invariant — and the `_extra` / `_reordered` / widened drift
    variants all reproduce identically on both engines.

    Scale shape: the column list is parquet FOOTER metadata (no scan);
    the row count is one column-pruned COUNT(*) scan per table —
    metadata-only on parquet row-group stats. 10 rows out."""
    parts = []
    for name in TABLES:
        df = load_table(spark, sf_dir, name, raw=True)
        col_list = ",".join(sorted(df.columns))
        parts.append(
            df.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
                F.lit(name).alias("table_name"),
                F.lit(len(df.columns)).cast("long").alias("n_cols"),
                F.lit(col_list).alias("col_list"),
                "n_rows",
            )
        )
    return reduce(DataFrame.unionByName, parts)


def key_uniqueness_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Primary-key uniqueness audit across every table — the detection
    gate for the r11 duplicate-key probe class. A re-ingested or
    corrupted feed that re-claims a key breaks the identity assumption
    ~30 downstream rank/dedup/pair queries rely on, in ways that are
    engine-arbitrary and therefore CANNOT be mirrored per query (each
    engine picks its own row among conflicting duplicates — the probe
    measured 28 of 185 queries diverging on a planted-duplicate corpus,
    0 on a healthy one). The scalable contract is: ENFORCE uniqueness at
    ingest (quarantine/dedup — the reference's S2 quarantine precedent),
    and DETECT violations mechanically with this report before trusting
    query output. The similarity family additionally self-defends at its
    `_embeddings` chokepoint (ambiguous vec_ids drop, mirrored) because
    a duplicated query id CRASHED the PQ map path.

    Per table: row count, NULL-key rows, distinct keys, duplicated keys,
    surplus rows beyond the first per key, and CONFLICT keys (same key,
    >1 distinct full row — the un-remediable class exact-row dedup
    cannot fix). All counts exact int64.

    Scale shape: one groupBy per table (map-side combined; the full-row
    distinct runs as a two-phase count-distinct inside it), 10 rows out;
    at 100 TB this is the nightly audit a warehouse runs per feed. The
    full-row distinct is SIZE-DISPATCHED (the _corr_sums_gramian /
    dedup_jaccard convention, r11 VERDICT #3): at or below
    KEY_CENSUS_EXACT_MAX_ROWS the exact struct count-distinct runs —
    the path the driver hashes on sf corpora; above it the distinct
    runs over a 128-bit content fingerprint (two independent xxhash64
    folds — 16 bytes/row through the shuffle instead of the whole
    payload, collision odds ~n²/2^128). The fingerprint canonicalizes
    exactly what Spark's own distinct normalizes so the two branches
    are BIT-IDENTICAL on any input (pinned on a planted corpus):
    -0.0 → 0.0 and NaN → one canonical NaN per float/double column
    (and inside float arrays), and a per-column null flag interleaved
    into the fold so (x, NULL) can never collide with (NULL, x)
    (xxhash64 skips null inputs, which would otherwise erase the
    position distinction)."""
    from operator import and_

    parts = []
    for name, keys in KEY_SPECS:
        # raw=True: the census is the corruption DETECTOR — it must see
        # the feed before any representability gate (r13 extreme-money
        # probe; its oracle is in registry._RAW_FEED_ORACLES).
        df = load_table(spark, sf_dir, name, raw=True)
        # Dispatch on the parquet FOOTER row count (identical to
        # df.count() on a raw load — no filter precedes it), so the
        # size decision costs a metadata read, not a Spark job per
        # table (r14: the ten dispatch COUNT jobs were ~40% of this
        # query's wall). Falls back to df.count() for any layout
        # pyarrow cannot footer-read.
        n_meta = _parquet_num_rows(f"{sf_dir}/{name}.parquet")
        if n_meta is None:
            n_meta = df.count()
        if n_meta <= KEY_CENSUS_EXACT_MAX_ROWS:
            nd_cols = [F.struct(*[F.col(c) for c in df.columns])]
        else:
            nd_cols = _content_fingerprint(df)
        # ONE scan per table (r14): NULL-key rows ride the same groupBy
        # as their own key groups (the join_skew_report shape) instead
        # of a second totals scan + crossJoin. The aggregate filters
        # reproduce the old two-frame output EXACTLY, including the
        # NULL-vs-0 corners the r12 empty-table probe pinned: n_rows /
        # null_key_rows COALESCE to 0 on a 0-row table (the old COUNT
        # semantics), while dup_keys / dup_rows / conflict_keys stay
        # NULL when no non-NULL-key group exists (the old SUM-over-
        # empty-frame semantics — NULL-skipping sums with no OTHERWISE
        # branch, so null-key groups contribute nothing rather than 0).
        per_key = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(*nd_cols).alias("nd"),
        )
        grp_notnull = reduce(and_, [F.col(k).isNotNull() for k in keys])
        key_stats = per_key.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.when(~grp_notnull, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("null_key_rows"),
            F.count(F.when(grp_notnull, F.lit(1)))
            .cast("long")
            .alias("n_keys"),
            F.sum(
                F.when(
                    grp_notnull,
                    F.when(F.col("n") > 1, 1).otherwise(0),
                )
            )
            .cast("long")
            .alias("dup_keys"),
            F.sum(F.when(grp_notnull, F.col("n") - 1))
            .cast("long")
            .alias("dup_rows"),
            F.sum(
                F.when(
                    grp_notnull,
                    F.when(F.col("nd") > 1, 1).otherwise(0),
                )
            )
            .cast("long")
            .alias("conflict_keys"),
        )
        parts.append(
            key_stats.select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "null_key_rows",
                "n_keys",
                "dup_keys",
                "dup_rows",
                "conflict_keys",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _parquet_num_rows(path: str):
    """Footer-metadata row count of a parquet file or a Spark-written
    parquet directory; None when the layout cannot be footer-read (the
    caller falls back to a Spark COUNT job)."""
    import os

    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            # Walk RECURSIVELY (a partitioned layout nests part files
            # under key=value dirs) and refuse to answer when no leaves
            # are found at all — an unknown layout must fall back to the
            # exact Spark count, never report a silent 0 (r15 ADVICE).
            total = 0
            found = False
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        found = True
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
            return total if found else None
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — fall back to the exact Spark count
        return None
