"""End-to-end curation pipeline: ONE call from raw documents to
training-ready chunk shards plus the accounting a launch review reads —
the composed product surface over the standalone operators (the engine's
analogue of the reference's scheduled ELT DAG,
extract_load_transform_data_pipeline.py.py:140-156, which likewise chains
extract → transform → load as one job).

Stages (each reusing the SAME expressions as its standalone operator, so
the pipeline can never drift from the audited queries):

1. quality gate   — operators.curation.quality_gate, keep verdicts only
2. exact dedup    — keep each content hash's canonical (min doc_id) copy
3. split          — the hash-stable train/val/test assignment
4. chunking       — operators.sampling.chunk_frame, split/lang carried
5. shard write    — hive-partitioned (split, lang), repartitioned FIRST
                    so partitionBy cannot fan tasks × partitions files
6. metrics        — one aggregate over the chunk frame (docs, chunks,
                    tokens per split) + the stage-by-stage funnel counts

Scale notes (100 TB): every stage is the standalone operator's plan —
gate and chunking are scan-local, dedup canonical election is one narrow
(hash, doc_id) shuffle, the write is one repartition on the partition
key. The chunk frame feeds both the writer and the metrics aggregate, so
it is localCheckpoint-ed (exchange reuse does not fire across consumers —
CLAUDE.md). Metrics reaching the driver are a handful of per-split rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_table
from ..config import DEFAULT_CONFIG, EngineConfig
from ..operators.curation import gopher_quality, quality_gate
from ..operators.dedup import dedup_exact
from ..operators.sampling import chunk_frame
from .shards import _split_col

CURATION_SHARD_TASKS = 8


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    shard_tasks: int = CURATION_SHARD_TASKS,
    apply_gopher: bool = False,
) -> dict:
    """Run the full curation funnel; write chunk shards under ``out_dir``
    partitioned by (split, lang); return the accounting dict.

    ``apply_gopher=True`` adds the published Gopher rule set
    (operators.curation.gopher_quality) as a second row-local gate ANDed
    with the quality_gate verdicts — both gates are per-row functions of
    the document text, so the incremental pipeline's slice-equals-full
    equivalence argument extends unchanged."""
    docs = load_table(spark, sf_dir, "documents")

    kept_ids = quality_gate(spark, sf_dir).where("keep").select("doc_id")
    if apply_gopher:
        kept_ids = kept_ids.join(
            gopher_quality(spark, sf_dir).where("gopher_pass").select("doc_id"),
            "doc_id",
        )
    canonical_ids = dedup_exact(spark, sf_dir).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    kept = (
        docs.join(kept_ids, "doc_id")
        .join(canonical_ids, "doc_id")
        .withColumn("split", _split_col())
    )
    return _chunk_write_account(
        kept,
        out_dir,
        mode="overwrite",
        shard_tasks=shard_tasks,
        n_docs_total=docs.count(),
        n_docs_gated=kept_ids.count(),
    )


def run_curation_incremental(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    watermark_doc_id: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    shard_tasks: int = CURATION_SHARD_TASKS,
) -> dict:
    """Incremental curation: process ONLY documents above the doc_id
    watermark (the reference's S3 max-PK pattern applied to the corpus
    feed), dedup them against the ENTIRE history, and APPEND their chunk
    shards to ``out_dir``. Provably equivalent to re-running the full
    pipeline (pinned in test_curation_run.py):

    - row gates (lang/repetition/stopword) are row-LOCAL, so verdicts on
      the slice equal the full run's (operators.curation.row_gates);
    - full-run canonical = global min doc_id per content hash. New ids
      are strictly above the watermark, so a new doc is canonical iff
      its hash is UNSEEN below the watermark (anti-join against the
      history's hash projection — a narrow md5 scan, no payloads; a
      production deployment persists this hash index instead of
      re-deriving it) AND it is the min among the new copies.

    Scale: the quadratic-free analogue of incremental_dedup_minhash —
    only NEW×HISTORY hash lookups, never HISTORY×HISTORY."""
    from pyspark.sql import Window

    from ..operators.curation import row_gates

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.where(F.col("doc_id") > watermark_doc_id)
    old_hashes = (
        docs.where(F.col("doc_id") <= watermark_doc_id)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    g = row_gates(new_docs)
    canon = F.min("doc_id").over(Window.partitionBy("content_hash"))
    kept_ids = (
        g.withColumn("is_min_new", F.col("doc_id") == canon)
        .where("lang_ok AND rep_ok AND stop_ok AND is_min_new")
        .join(old_hashes, "content_hash", "left_anti")
        .select("doc_id")
    )
    kept = new_docs.join(kept_ids, "doc_id").withColumn("split", _split_col())
    out = _chunk_write_account(
        kept,
        out_dir,
        mode="append",
        shard_tasks=shard_tasks,
        n_docs_total=new_docs.count(),
        n_docs_gated=kept_ids.count(),
    )
    out["watermark_doc_id"] = watermark_doc_id
    return out


def _chunk_write_account(
    kept: DataFrame,
    out_dir: str,
    mode: str,
    shard_tasks: int,
    n_docs_total: int,
    n_docs_gated: int,
) -> dict:
    chunks = cut(chunk_frame(kept, carry=("split", "lang")))
    (
        chunks.repartition(shard_tasks, "split", "lang")
        .sortWithinPartitions("doc_id", "chunk_idx")
        .write.mode(mode)
        .partitionBy("split", "lang")
        .parquet(out_dir)
    )
    per_split = {
        r["split"]: (r["n_docs"], r["n_chunks"], r["n_tokens"])
        for r in chunks.groupBy("split")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
        )
        .collect()
    }
    return {
        "n_docs_total": n_docs_total,
        "n_docs_gated": n_docs_gated,
        "n_docs_written": sum(v[0] for v in per_split.values()),
        "n_chunks": sum(v[1] for v in per_split.values()),
        "n_tokens": sum(v[2] for v in per_split.values()),
        "per_split": {
            s: {"n_docs": d, "n_chunks": c, "n_tokens": t}
            for s, (d, c, t) in sorted(per_split.items())
        },
        "out_dir": out_dir,
    }
