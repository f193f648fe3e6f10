"""Schema-drift axis of the driver robustness matrix (r14, VERDICT r13
ask #3): the driver REGENERATES /root/testdata between rounds and may
change the physical SCHEMA, not just value encodings — the r13
partial-schema gotcha (narrow projections hitting UNRESOLVED_COLUMN at
the dirtiness probes) was this class's tip.

The full-registry probe (the `drift_*` corpora in tests/mutations.py —
22 variants × 195 queries at sf0.001: a never-referenced extra column
spliced at position 0 per table, column order reversed per table, int64 columns
narrowed to int32 where values fit, and every field marked
non-nullable) is the sweep; this matrix pins one representative
variant per drift kind × the heaviest consumers of the drifted table,
exactly the probe's construction.

Why these shapes stay green by design:
- extra/reordered: every consumer selects columns BY NAME through the
  catalog loaders — nothing positional survives the load chokepoint;
  the extra column is pruned at the scan, and both engines see the
  same parquet either way.
- narrow: Spark's parquet reader widens int32→int64 against the
  declared long schema (pinned in test_int_encoding.py); DuckDB
  widens in the same direction at aggregation, and the oracle dtype
  casts (BIGINT / DOUBLE) pin the pandas dtypes.
- required (nullability flip): parquet required fields read as
  non-nullable Spark schemas; no oracle depends on declared
  nullability, only on values.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402


# (variant-table, kind, queries) — the heaviest consumers of each
# drifted table plus the two r14 census detectors, mirroring the
# probe's zero-red classes.
VARIANTS = [
    (
        "events",
        "reordered",
        [
            "stream_distinct_users",
            "events_sessionized",
            "events_ohlc",
            "schema_snapshot_report",
        ],
    ),
    (
        "events",
        "extra",
        ["stream_ohlc", "event_props_extract", "table_column_stats"],
    ),
    (
        "lineitem",
        "narrow",
        [
            "pricing_summary",
            "min_cost_supplier",
            "supplier_nation_profit",
            "table_column_stats",
            "key_uniqueness_report",
        ],
    ),
    (
        "lineitem",
        "extra",
        ["returned_item_report", "salted_brand_revenue"],
    ),
    (
        "documents",
        "extra",
        ["dedup_minhash_lsh", "gopher_quality", "dataset_card"],
    ),
    (
        "embeddings",
        "reordered",
        ["similarity_pq_topk", "ann_index_topk_segments"],
    ),
    (
        "orders",
        "reordered",
        ["agg_public_holiday", "grouping_sets_orders"],
    ),
]

ALL_REQUIRED_REPS = [
    "best_performing_product",
    "pricing_summary",
    "events_sessionized",
    "dedup_minhash_lsh",
    "schema_snapshot_report",
    "table_column_stats",
]


@pytest.fixture(scope="module")
def drift_variant_dirs(sf_small, tmp_path_factory):
    variants = {f"{table}_{kind}" for table, kind, _ in VARIANTS}
    return {
        v: build(
            f"drift_{v}", sf_small, str(tmp_path_factory.mktemp(f"sdrift_{v}"))
        )
        for v in sorted(variants) + ["all_required"]
    }


CASES = [
    (f"{table}_{kind}", name)
    for table, kind, names in VARIANTS
    for name in names
] + [("all_required", name) for name in ALL_REQUIRED_REPS]


@pytest.mark.parametrize("variant,name", subset(CASES, k=2))
def test_oracle_gate_green_under_schema_drift(
    spark, drift_variant_dirs, variant, name
):
    d = drift_variant_dirs[variant]
    con = duckdb_connection(d)
    try:
        rep = compare(QUERIES[name](spark, d), con, ORACLES[name])
        assert rep["ok"], f"{name} under {variant}: {rep}"
    finally:
        con.close()


def test_narrow_fixture_actually_narrows(sf_small, drift_variant_dirs):
    """Fire precondition: the narrow variant really carries int32 keys
    (if a future sf0.001 regeneration outgrows int32 this must fail
    loudly rather than silently pin nothing)."""
    s = pq.read_schema(f"{drift_variant_dirs['lineitem_narrow']}/lineitem.parquet")
    assert pa.types.is_int32(s.field("l_orderkey").type)
    base = pq.read_schema(f"{sf_small}/lineitem.parquet")
    assert pa.types.is_int64(base.field("l_orderkey").type)


def test_reordered_fixture_actually_reorders(sf_small, drift_variant_dirs):
    base = pq.read_schema(f"{sf_small}/events.parquet").names
    drifted = pq.read_schema(
        f"{drift_variant_dirs['events_reordered']}/events.parquet"
    ).names
    assert drifted == list(reversed(base)) and drifted != base
