"""Empty/degenerate-table axis of the driver robustness matrix (r12,
VERDICT r11 #2): the differential gate must stay green when a
regenerated table arrives with ZERO rows (schema intact) or, for
embeddings, with every row invalid (NULL/empty/interior-NULL/NaN — no
valid max-dim row for the chokepoint to anchor on).

The full-registry probe (the `empty_<table>` and
`empty_embeddings_invalid` corpora in tests/mutations.py — 11 variants
× 188 queries) found 22 reds in five classes, all fixed at chokepoints:

- driver-side scalars collected from the corpus go None: BM25's avgdl,
  the three incremental-dedup max-id watermarks, the Z-curve min/max
  bounds, similarity's _corpus_dim (which then crashed dim // PQ_M in
  six PQ-family ops) — each now takes a placeholder that keeps the
  (necessarily empty) plan type-stable, mirrored by the oracles' empty
  CTEs;
- an EMPTY literal centroid index is VOID-typed and fails ANALYSIS on
  struct extraction — _inline_centroids now emits a typed empty array;
- ANSI DIVIDE_BY_ZERO where DuckDB's x/0 is NULL (dataset_card rates,
  jaccard_threshold_sweep's dup_doc_rate) — mirrored when-guards;
- bare SUMs going NULL where the oracle's COUNT/window chain yields 0
  (key census null_key_rows, ann_index_build codes_pq n_rows,
  curation_funnel totals) — count semantics/COALESCE on the Spark side;
- Spark emits NO rows for ROLLUP/CUBE/GROUPING SETS over EMPTY input
  where the SQL standard (and DuckDB) emit the () grand-total row —
  the one un-mirrorable-in-Spark corner, closed with an oracle-side
  HAVING COUNT(*) > 0 (a no-op whenever any row exists).

events/lineitem/customer/supplier/part/nation/region emptied: zero reds
(the NULL-matrix discipline already covered them); reps pinned here as
regression insurance.
"""

from __future__ import annotations

import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection

REPS = {
    "documents": [
        "dataset_card",
        "curation_funnel",
        "bm25_topk",
        "rrf_hybrid_topk",
        "jaccard_threshold_sweep",
        "incremental_dedup_minhash",
        "incremental_dedup_bloom",
        "bloom_vocab_novelty",
        "gopher_quality",
        "dedup_minhash_lsh",
    ],
    "orders": [
        # r14: the rollup's total row must fold to 0s (COALESCE'd sums)
        # and NULL min/max on an empty orders; the skew census guards
        # its ratios with CASE (ANSI x/0 class).
        "partition_stats_rollup",
        "join_skew_report",
        "zorder_manifest",
        "zorder_skip_estimate",
        "grouping_sets_orders",
        "rollup_orders",
        "cube_orders",
        "best_performing_product",
        "agg_public_holiday",
    ],
    "embeddings": [
        "ann_index_build",
        "ann_index_append",
        "ann_index_topk_segments",
        "ann_compact_rebuild",
        "ann_segment_stack_report",
        "ann_compact_if_drifted",
        "embedding_drift_report",
        "ann_index_topk",
        "ivf_pq_topk",
        "similarity_pq_topk",
        "pq_recall_report",
        "similarity_ivf_topk",
        "similarity_recall_report",
        "key_uniqueness_report",
    ],
    "embeddings_invalid": [
        "ann_index_build",
        "ann_index_append",
        "ann_index_topk_segments",
        "ann_compact_rebuild",
        "ann_segment_stack_report",
        "ann_compact_if_drifted",
        "embedding_drift_report",
        "ann_index_topk",
        "ivf_pq_topk",
        "pq_recall_report",
        "similarity_ivf_topk",
        "similarity_recall_report",
    ],
    "events": [
        "stream_hourly_rollup",
        "stream_view_purchase_join",
        "stream_distinct_users",
        "events_sessionized",
    ],
    "lineitem": [
        "min_cost_supplier",
        "supplier_nation_profit",
        # r14: the two census ops scan EVERY table — one emptied-table
        # rep each suffices (COUNT semantics, never SUM, keep the empty
        # rows 0 on both sides; min/max go NULL on both).
        "table_column_stats",
        "schema_snapshot_report",
    ],
}

CASES = [(v, name) for v, names in REPS.items() for name in names]

# Suite budget (r15): the ANN/similarity reps retrain artifact + DuckDB
# oracle per variant (tens of seconds each). Default keeps the lifecycle
# chokepoints (the reps whose fix-classes r12 actually caught) plus a
# stride; SPARK_GRAFT_FULL_MATRIX=1 runs all 53.
from .matrix_budget import subset  # noqa: E402

CASES_RUN = subset(
    CASES,
    k=3,
    keep=[
        ("embeddings", "ann_index_build"),
        ("embeddings_invalid", "ann_index_build"),
        ("lineitem", "table_column_stats"),
        ("orders", "partition_stats_rollup"),
        ("events", "stream_distinct_users"),
    ],
)


@pytest.fixture(scope="module")
def empty_variant_dirs(sf_small, tmp_path_factory):
    return {
        variant: build(
            f"empty_{variant}",
            sf_small,
            str(tmp_path_factory.mktemp(f"empty_{variant}")),
        )
        for variant in REPS
    }


@pytest.mark.parametrize("variant,name", CASES_RUN)
def test_oracle_gate_green_under_empty_tables(
    spark, empty_variant_dirs, variant, name
):
    d = empty_variant_dirs[variant]
    con = duckdb_connection(d)
    try:
        report = compare(QUERIES[name](spark, d), con, ORACLES[name])
        assert report["ok"], f"{name} under empty {variant}: {report}"
    finally:
        con.close()
