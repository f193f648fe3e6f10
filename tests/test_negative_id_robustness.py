"""Negative-id axis (r13 third probe, the `negative_ids` corpus in
tests/mutations.py): a feed that derives ids from a SIGNED hash ships
negative doc_ids / vec_ids / event_ids / user_ids. The full probe (135
doc/emb/event-reading oracles) found 14 reds in three classes, all
fixed at chokepoints:

- the split/sample hash: Spark's two's-complement bitwiseAND of a
  NEGATIVE salted residue disagreed with DuckDB's signed % — fixed by
  forcing the residue non-negative on BOTH sides (`sampling.split_hash`
  pmod / `split_hash_sql` double-% twin; identical for every
  non-negative id, so committed hashes are bit-unchanged). Cleared
  dataset_split, mixture_sample, shard/compact_manifest,
  split_leakage_report, decontaminate_eval_overlap,
  semantic_decontaminate;
- the media synthesizers: `doc_id % k` went negative → element_at
  index <= 0 (Spark abort) and negative duration_ms (backwards frame
  sequence) — fixed with pmod + the ((x % k) + k) % k oracle twin;
- the similarity family: seed/query selection is id-anchored
  (vec_id < PQ_K / < N_QUERIES), so negative ids enrolled EVERY
  negative row as a seed and a query — the PQ codebook exploded past K
  cells per subspace (DUPLICATED_MAP_KEY abort) and |Q| grew unbounded.
  Ids are non-negative by corpus contract; `similarity._embeddings`
  now drops vec_id < 0 (mirrored `vec_id >= 0` in every oracle
  validity site — the r11 duplicate-id precedent), a codegen
  comparison with zero plan change on clean corpora.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection
from .matrix_budget import subset  # noqa: E402

# The 14 probe reds plus one green representative per touched family.
QUERIES_UNDER_TEST = [
    "dataset_split",
    "mixture_sample",
    "stratified_sample",
    "decontaminate_eval_overlap",
    "semantic_decontaminate",
    "shard_manifest",
    "compact_manifest",
    "split_leakage_report",
    "media_catalog",
    "frame_sample",
    "audio_chunks",
    "similarity_pq_topk",
    "ivf_pq_topk",
    "pq_recall_report",
    "ann_index_build",
    "ann_index_topk",
    "ann_index_topk_segments",
    "ann_segment_stack_report",
    "ann_compact_if_drifted",
    "ann_index_append",
    "ann_compact_rebuild",
    "embedding_drift_report",
    "dedup_minhash_lsh",
    "events_sessionized",
    "stream_distinct_users",
    "key_uniqueness_report",
    # r14: the census ops count/aggregate raw ids with no hash or
    # modulus arithmetic — negative ids flow through as plain values
    # (join_skew's hot-key tiebreak orders SIGNED keys identically on
    # both engines).
    "table_column_stats",
    "schema_snapshot_report",
    "join_skew_report",
    "partition_stats_rollup",
]


@pytest.fixture(scope="module")
def negative_id_dir(sf_small, tmp_path_factory):
    return build(
        "negative_ids", sf_small, str(tmp_path_factory.mktemp("negative_ids"))
    )


def test_fixture_fires_negative_ids(negative_id_dir):
    for t, col in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
        ("events", "user_id"),
    ):
        vals = pq.read_table(f"{negative_id_dir}/{t}.parquet").column(
            col
        ).to_pylist()
        assert any(v is not None and v < 0 for v in vals), (t, col)


@pytest.mark.parametrize("name", subset(QUERIES_UNDER_TEST, keep=('table_column_stats',), k=3))
def test_oracle_gate_green_under_negative_ids(spark, negative_id_dir, name):
    con = duckdb_connection(negative_id_dir)
    try:
        report = compare(
            QUERIES[name](spark, negative_id_dir), con, ORACLES[name]
        )
        assert report["ok"], f"{name} under negative ids: {report}"
    finally:
        con.close()


def test_split_hash_agrees_cross_engine_on_negative_ids(spark):
    """Unit pin of the chokepoint itself: split_hash(id) must equal
    split_hash_sql(id) for negative, zero, and wide ids — and equal the
    PRE-FIX formula for every non-negative id (committed driver hashes
    depend on that)."""
    import duckdb

    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
        split_hash,
        split_hash_sql,
    )

    ids = [-(2**62), -9_000_000_007, -1000, -1, 0, 1, 7, 65536,
           9_000_000_007, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", split_hash(F.col("doc_id")).alias("h")
        ).collect()
    }
    con = duckdb.connect()
    for i in ids:
        (oracle,) = con.execute(
            f"SELECT {split_hash_sql(str(i))}"
        ).fetchone()
        assert got[i] == oracle, i
        if i >= 0:
            assert got[i] == (i * HASH_MULT) % HASH_MOD, i
    con.close()


def test_embeddings_chokepoint_drops_negative_vec_ids(spark, negative_id_dir):
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        _embeddings,
    )

    kept = _embeddings(spark, negative_id_dir).select("vec_id").collect()
    assert kept and all(r["vec_id"] >= 0 for r in kept)
