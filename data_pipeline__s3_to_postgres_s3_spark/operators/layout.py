"""Data-layout optimization: Z-order (Morton) clustering manifest.

At 100 TB the cheapest query is the one that never reads the file: a
scan with a predicate on o_custkey OR o_orderdate skips every file whose
min/max range excludes the value — but only if the layout co-clusters
BOTH dimensions. Linear ordering by one column gives perfect pruning on
it and none on the other; interleaving the bits of both (the Morton /
Z-order curve — the same layout Delta's OPTIMIZE ZORDER BY and
Hudi/Iceberg clustering write) gives near-√ pruning on each.

``zorder_manifest`` computes the layout plan: normalize each dimension
to a 16-bit integer grid (min/max census → two broadcast scalar
literals, the watermark-read precedent), interleave the bits into a
32-bit Morton key with pure integer shift/mask expressions (whole-stage
codegen, zero Python), shard the curve into Z_FILES files by the key's
TOP bits (a fixed-width range split of the curve — zero-shuffle file
assignment), and emit the per-file manifest: row count + min/max of
both dimensions — exactly the footer stats a reader's data-skipping
consults.

``write_zordered`` is the physical step and uses the SAME fixed-width
top-bits cell assignment as the manifest, so every written file is
cell-pure BY CONSTRUCTION and its min/max extents match what the
manifest predicts. (An earlier draft used ``repartitionByRange(n, z)``;
its sample-based boundaries land mid-cell, so files straddled Z-cells
and the non-dominant dimension's extents widened past the manifest —
the r7 red test. Cell-id partitioning removes the sampling entirely.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_table
from ..config import DEFAULT_CONFIG, EngineConfig

Z_BITS = 16  # per-dimension grid resolution
Z_FILES_LOG2 = 4  # 16 files: split the curve on the key's top 4 bits
# Date anchor for day-integer coordinates; any fixed date works (the
# min/max census re-centers), epoch keeps both engines' datediff trivial.
Z_EPOCH = "1970-01-01"

# Perfect-hash token table for the physical write's file split: Spark's
# ``repartition(n, col)`` places rows by murmur3(col) % n, and murmur3 is
# NOT injective over the 17 cell ids {-1, 0..15} at any practical n
# (measured: >=2 collisions even at n=128), so hashing the raw cell id
# would merge non-adjacent Z-cells into one file and destroy the extents
# the manifest promises. The table is SOLVED at import time against a
# pure-Python replica of Spark's Murmur3 int hash (seed 42 — a stable
# public function, so the solution can never drift; replica equality and
# injectivity are pinned by tests/test_layout.py), which generalizes the
# write to ANY cell count: raise Z_FILES_LOG2 and the solver finds a
# fresh table in O(n log n) driver-side microseconds. Mapping cell id
# c -> Z_FID_TOKENS[c + 1] gives every Z-cell its own shuffle partition,
# i.e. exactly one cell per written file.


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the hash behind F.hash /
    HashPartitioning for INT columns), returned as a SIGNED 32-bit int —
    bit-for-bit equal to F.hash(int_col), pinned in test_layout.py."""
    m = 0xFFFFFFFF
    k = (x & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = k * 0x1B873593 & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # fmix with total length 4 bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & m
    h ^= h >> 13
    h = h * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _solve_fid_tokens(n: int) -> tuple[int, ...]:
    """Smallest non-negative ints t_0.. covering every residue of
    pmod(murmur3(t), n) exactly once — the perfect-hash table for an
    n-cell file split. Expected O(n·H(n)) candidates (coupon collector);
    n = 17 solves in ~60 probes."""
    found: dict[int, int] = {}
    t = 0
    while len(found) < n:
        r = _murmur3_int(t) % n  # Python % is already non-negative (pmod)
        if r not in found:
            found[r] = t
        t += 1
    return tuple(found[i] for i in range(n))


Z_FID_TOKENS = _solve_fid_tokens((1 << Z_FILES_LOG2) + 1)


def _morton_sql(x: str, y: str) -> str:
    """32-bit Morton interleave of two Z_BITS-bit ints: x in odd bit
    positions (dominant), y in even — identical token stream in Spark SQL
    and DuckDB (both support >> & << on bigints). Inputs are forced to
    BIGINT inside: an INT operand would make Spark evaluate the shifts in
    32 bits and wrap the top bit (z 0xFFFFFFFF → -1)."""
    xb, yb = f"CAST({x} AS BIGINT)", f"CAST({y} AS BIGINT)"
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({yb} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _orders_z(orders: DataFrame) -> Column:
    """The Morton key for orders on (o_custkey, o_orderdate): min/max
    census → four scalar literals (watermark-read precedent; the grid
    must be corpus-derived so the operator survives driver data
    regeneration and real key ranges alike), then the 16-bit grid
    normalization + interleave as one codegen expression.

    Expects helper columns `_ck` (BIGINT) and `_dy` (BIGINT) on the
    input. Both are explicitly long: the grid product (span · 65535)
    overflows int32 under ANSI for a multi-century date span OR an int32
    custkey above ~32k (sf1's 150k customers) — both coordinates stay in
    bigint regardless of the driver's physical key encoding."""
    mm = orders.agg(
        F.min("_ck").alias("ck_min"),
        F.max("_ck").alias("ck_max"),
        F.min("_dy").alias("dy_min"),
        F.max("_dy").alias("dy_max"),
    ).collect()[0]
    # Bounds are None on a 0-row corpus: zeros keep the (necessarily
    # empty) curve expression well-formed — r12 empty-table probe.
    ck_min, ck_max = int(mm["ck_min"] or 0), int(mm["ck_max"] or 0)
    dy_min, dy_max = int(mm["dy_min"] or 0), int(mm["dy_max"] or 0)
    ck_span = max(ck_max - ck_min, 1)
    dy_span = max(dy_max - dy_min, 1)
    grid = (1 << Z_BITS) - 1
    x = f"((_ck - {ck_min}) * {grid}) div {ck_span}"
    y = f"((_dy - {dy_min}) * {grid}) div {dy_span}"
    return F.expr(_morton_sql(f"({x})", f"({y})"))


def _file_id(z: Column) -> Column:
    """Fixed-width top-bits cell assignment — THE file split, shared by
    the manifest and the physical write. NULL-key rows (orders-NULL
    robustness axis) have no place on the curve: z NULL-propagates and
    they land in sentinel file -1 — the "stats unavailable, never skip"
    file a real reader treats as always-scan."""
    return F.coalesce(
        F.shiftright(z, 2 * Z_BITS - Z_FILES_LOG2).cast("int"), F.lit(-1)
    )


def zorder_manifest(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Z-order layout manifest for orders clustered on
    (o_custkey, o_orderdate): per-file row counts and min/max extents of
    both dimensions after sharding the Morton curve into Z_FILES files.

    The narrow per-file ranges on BOTH columns are the deliverable — they
    are what makes a predicate on either column skip ~(1 - 1/√F) of the
    files, vs. no skipping at all on the non-sort column of a linear
    layout."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").cast("long").alias("_ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit(Z_EPOCH))
        .cast("long")
        .alias("_dy"),
        F.to_date("o_orderdate").alias("od"),
    )
    z = _orders_z(base)
    # Extents mirror-coalesce to sentinels so no engine materializes a
    # NULL aggregate (NaN-hash trap).
    return (
        base.withColumn("z", z)
        .select(
            _file_id(F.col("z")).alias("file_id"),
            F.col("_ck").alias("ck"),
            "od",
            "z",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.min("ck"), F.lit(-1)).alias("min_custkey"),
            F.coalesce(F.max("ck"), F.lit(-1)).alias("max_custkey"),
            F.coalesce(
                F.min("od"), F.to_date(F.lit(Z_EPOCH))
            ).alias("min_orderdate"),
            F.coalesce(
                F.max("od"), F.to_date(F.lit(Z_EPOCH))
            ).alias("max_orderdate"),
            F.coalesce(F.min("z"), F.lit(-1)).alias("min_z"),
            F.coalesce(F.max("z"), F.lit(-1)).alias("max_z"),
        )
    )


def write_zordered(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Physically write orders in Z-order: the layout step itself.

    File assignment is the manifest's own fixed-width top-bits cell id
    (``_file_id``), routed through the Z_FID_TOKENS perfect-hash table so
    ``repartition`` places exactly one Z-cell per shuffle partition —
    one cell per written file, no sample-based range boundaries, no
    cell-straddling files. ``sortWithinPartitions(_z)`` then makes every
    row-group footer's min/max tight within the file, so a reader's
    row-group-level data-skipping gets strictly finer pruning than the
    per-file manifest predicts. Helper columns are dropped from the
    written schema — layout is physical, the table stays the table.

    Scale shape: one full shuffle of the table into |cells| partitions +
    an in-partition sort — the same cost as any clustering OPTIMIZE. At
    a larger Z_FILES_LOG2 the token table generalizes (solve once per
    cell count); per-file row counts stay balanced because the grid
    normalization is equi-RANGE on the census, and a skewed corpus shows
    up in the manifest's n_rows BEFORE the write is attempted."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.withColumn(
        "_ck", F.col("o_custkey").cast("long")
    ).withColumn(
        "_dy",
        F.datediff(F.to_date("o_orderdate"), F.lit(Z_EPOCH)).cast("long"),
    )
    z = _orders_z(keyed)
    tok = F.element_at(
        F.array(*[F.lit(t) for t in Z_FID_TOKENS]),
        _file_id(F.col("_z")) + F.lit(2),  # cell id -1..15 → index 1..17
    )
    (
        keyed.withColumn("_z", z)
        .withColumn("_tok", tok)
        .repartition(len(Z_FID_TOKENS), "_tok")
        .sortWithinPartitions("_z")
        .drop("_ck", "_dy", "_z", "_tok")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def zorder_skip_estimate(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The layout payoff quantified from the manifest itself: for each
    clustered dimension, the EXPECTED number (and fraction) of files a
    uniform random point predicate touches — Σ over files of
    P(point ∈ file extent) = Σ(extent_f) / span. This is the number a
    query planner's cost model reads off footer stats, emitted as a
    first-class query: ~0.25·F per dimension for a healthy 4x4 Z-order
    vs 1.0·F on the non-sort column of a linear layout.

    ZERO extra scan: the per-file census IS zorder_manifest; the
    sentinel file (-1, always-scan) is excluded because it has no
    extents. Everything is integer sums until the two mirrored
    divisions; the 1-row stats frame is lineage-cut for its two
    per-dimension consumers."""
    m = zorder_manifest(spark, sf_dir, cfg).where(F.col("file_id") != -1)
    s = cut(
        m.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(
                F.col("max_custkey") - F.col("min_custkey") + F.lit(1)
            ).cast("long").alias("ck_ext"),
            F.min("min_custkey").alias("ck_lo"),
            F.max("max_custkey").alias("ck_hi"),
            F.sum(
                F.datediff("max_orderdate", "min_orderdate") + F.lit(1)
            ).cast("long").alias("dt_ext"),
            F.min("min_orderdate").alias("d_lo"),
            F.max("max_orderdate").alias("d_hi"),
        )
    )

    def dim_row(name: str, ext: str, span: F.Column) -> DataFrame:
        span_l = span.cast("long")
        exp_files = F.col(ext).cast("double") / span_l.cast("double")
        return s.select(
            F.lit(name).alias("dimension"),
            "n_files",
            F.col(ext).alias("sum_extent"),
            span_l.alias("span"),
            exp_files.alias("expected_files"),
            (exp_files / F.col("n_files").cast("double")).alias(
                "expected_frac"
            ),
        )

    ck = dim_row(
        "custkey", "ck_ext", F.col("ck_hi") - F.col("ck_lo") + F.lit(1)
    )
    dt = dim_row(
        "orderdate", "dt_ext", F.datediff("d_hi", "d_lo") + F.lit(1)
    )
    return ck.unionByName(dt)
