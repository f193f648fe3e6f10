"""Similarity-search quality tests.

Value-level correctness of each query is oracle-checked by the registry
tests; these pin the QUALITY of the approximate indexes against the exact
brute-force baseline — recall@5 is the number that justifies the 100 TB
scale paths, and a silent index regression (wrong bucket family, dropped
table, broken centroid assembly) shows up here, not in the oracle diff
(which would agree with the equally-broken SQL replica).
"""

from __future__ import annotations

import pytest

from data_pipeline__s3_to_postgres_s3_spark.operators import similarity as sim
from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
    similarity_bruteforce_topk,
    similarity_ivf_topk,
    similarity_lsh_topk,
    similarity_sq_topk,
)
from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

from .oracle_harness import compare, duckdb_connection


@pytest.fixture(scope="module")
def baseline_pairs(spark, sf_dir):
    return {
        (r["query_id"], r["vec_id"])
        for r in similarity_bruteforce_topk(spark, sf_dir).collect()
    }


def _recall(df, baseline):
    got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
    return len(got & baseline) / len(baseline)


def test_lsh_recall(spark, sf_dir, baseline_pairs):
    # Measured 0.775 at sf0.01 with 4 bits x 8 tables; floor leaves head-
    # room for data-dependent variation without tolerating a broken index.
    assert _recall(similarity_lsh_topk(spark, sf_dir), baseline_pairs) >= 0.6


def test_ivf_recall(spark, sf_dir, baseline_pairs):
    # Measured 0.675 at sf0.01 with nprobe=4 of 10 cells.
    assert _recall(similarity_ivf_topk(spark, sf_dir), baseline_pairs) >= 0.5


def test_approx_results_subset_of_exact_scores(spark, sf_dir):
    """Approximate top-k sims can never exceed the exact top-1 sim for the
    same query (candidates are a subset of the corpus)."""
    exact_best = {
        r["query_id"]: r["sim"]
        for r in similarity_bruteforce_topk(spark, sf_dir)
        .where("rank = 1")
        .collect()
    }
    for r in similarity_ivf_topk(spark, sf_dir).collect():
        assert r["sim"] <= exact_best[r["query_id"]]


def test_kmeans_assignment_invariants(spark, sf_dir):
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        KMEANS_K,
        embedding_kmeans,
    )

    rows = embedding_kmeans(spark, sf_dir).collect()
    emb_count = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == emb_count  # every vector assigned exactly once
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(KMEANS_K))
    assert len(clusters) > 1  # the corpus doesn't collapse to one cell
    assert all(r["d2"] >= 0 for r in rows)


def test_kmeans_iterations_do_not_increase_inertia(spark, sf_dir):
    """Lloyd's guarantee: total within-cluster d2 after the iterated
    centroids <= inertia of the raw seed assignment."""
    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_table
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        KMEANS_K,
        _dist_structs,
        _inline_centroids,
        embedding_kmeans,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_rows = (
        emb.where(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").alias("cell"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "centroid"
            ),
        )
        .collect()
    )
    nearest = F.array_min(_dist_structs(_inline_centroids(seed_rows, "bigint")))
    seed_inertia = (
        emb.select(nearest["d2"].alias("d2")).agg(F.sum("d2")).collect()[0][0]
    )
    final_inertia = (
        embedding_kmeans(spark, sf_dir).agg(F.sum("d2")).collect()[0][0]
    )
    assert final_inertia <= seed_inertia


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup keep rule pins: full corpus coverage, the min-id member of
    every cluster always survives, and every dropped vector really has a
    lower-id within-cluster twin above the cosine threshold (cross-checked
    against an exact NumPy recompute)."""
    import numpy as np

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        SEMDEDUP_COSINE,
        semantic_dedup,
    )

    rows = semantic_dedup(spark, sf_dir).collect()
    emb_rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    assert len(rows) == len(emb_rows)

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb_rows}
    cluster_of = {r["vec_id"]: int(r["label"]) for r in emb_rows}
    by_cluster: dict[int, list[int]] = {}
    for v, c in cluster_of.items():
        by_cluster.setdefault(c, []).append(v)

    def rounded_cos(a: int, b: int) -> float:
        x, y = vecs[a], vecs[b]
        sim = float(x @ y) / (np.sqrt(x @ x) * np.sqrt(y @ y))
        return np.floor(sim * 10000 + 0.5) / 10000

    keep = {r["vec_id"]: r["keep"] for r in rows}
    n_dropped = 0
    for r in rows:
        assert cluster_of[r["vec_id"]] == r["cluster"]
        if r["vec_id"] == min(by_cluster[r["cluster"]]):
            assert r["keep"] is True
        expected_drop = any(
            u < r["vec_id"] and rounded_cos(u, r["vec_id"]) >= SEMDEDUP_COSINE
            for u in by_cluster[r["cluster"]]
        )
        assert r["keep"] == (not expected_drop)
        n_dropped += int(not r["keep"])
    # The threshold does real work on this corpus: some but not all drop.
    assert 0 < n_dropped < len(rows)


def test_embedding_quantize_invariants(spark, sf_dir, tmp_path):
    """int8 quantization pins: reconstruction error bounded by scale/2,
    codes in [-127, 127] (so max_abs_err <= scale/2 implies codes are
    in-range), exact NumPy recompute of scale and code hash, and the
    zero-vector edge quantizes to scale 0 / all-zero codes."""
    import hashlib

    import numpy as np

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        embedding_quantize,
    )

    rows = {r["vec_id"]: r for r in embedding_quantize(spark, sf_dir).collect()}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert set(rows) == set(emb)
    for vid, x in emb.items():
        r = rows[vid]
        scale = np.max(np.abs(x)) / 127
        assert r["scale"] == scale
        q = np.floor(x / scale + 0.5).astype(int) if scale > 0 else np.zeros(len(x), int)
        assert np.all(np.abs(q) <= 127)
        assert r["n_nonzero"] == int(np.count_nonzero(q))
        expect_hash = hashlib.md5(",".join(str(v) for v in q).encode()).hexdigest()
        assert r["q_hash"] == expect_hash
        assert r["max_abs_err"] <= scale / 2 + 1e-12

    # Zero-vector edge (not present in the corpus): scale 0, zero codes.
    spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, -2.0, 0.5, 0.0])],
        "vec_id bigint, embedding array<float>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    z = {r["vec_id"]: r for r in embedding_quantize(spark, str(tmp_path)).collect()}
    assert z[0]["scale"] == 0.0 and z[0]["n_nonzero"] == 0
    assert z[0]["max_abs_err"] == 0.0
    assert z[1]["n_nonzero"] == 3


def test_semdedup_cluster_report_audit(spark, sf_dir):
    """The quadratic-stage audit must reconcile with the raw label sizes,
    and the budget must be inactive on this corpus (the guard exists for
    degenerate partitioners, not healthy ones)."""
    from collections import Counter

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        semdedup_cluster_report,
    )

    sizes = Counter(
        r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    )
    r = semdedup_cluster_report(spark, sf_dir).collect()[0]
    assert r["n_clusters"] == len(sizes)
    assert r["max_cluster"] == max(sizes.values())
    assert r["total_pairs"] == sum(n * (n - 1) // 2 for n in sizes.values())
    assert r["over_budget_clusters"] == 0


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization must preserve neighborhood structure, not just
    round-trip: brute-force top-5 by cosine over RECONSTRUCTED (q·scale)
    vectors recalls ≥0.9 of the exact top-5 — the property that makes the
    4× memory cut usable for ANN at all. Pure NumPy check against the
    operator's quantization definition."""
    import numpy as np

    emb_rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.asarray([r["embedding"] for r in emb_rows], dtype=np.float64)
    ids = np.asarray([r["vec_id"] for r in emb_rows])
    scale = np.abs(X).max(axis=1, keepdims=True) / 127
    Q = np.floor(X / np.where(scale == 0, 1, scale) + 0.5) * scale

    def topk(M, qi, k=5):
        sims = (M @ M[qi]) / (
            np.linalg.norm(M, axis=1) * np.linalg.norm(M[qi]) + 1e-30
        )
        sims[qi] = -np.inf
        return set(ids[np.argsort(-sims)[:k]])

    hits = total = 0
    for qi in range(8):  # the fixed query set (vec_id < 8)
        exact = topk(X, qi)
        approx = topk(Q, qi)
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.9


def test_hard_negative_mining_labels_and_ranks(spark, sf_dir):
    """Every mined negative crosses the label boundary, each query gets
    exactly TOP_K negatives ranked by descending similarity, and the
    rank-1 negative is at least as similar as every other returned
    negative for that query."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        TOP_K,
        hard_negative_mining,
    )

    rows = hard_negative_mining(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        rs = sorted(rs, key=lambda r: r["rank"])
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_semantic_decontaminate_split_and_verdicts(spark, sf_dir):
    """Train rows only (same hash split as dataset_split keyed on
    vec_id), both verdict classes present, and the reported nearest-eval
    cosine is genuinely the max over the eval side for that vector."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.sampling import (
        HASH_MOD,
        HASH_MULT,
        SPLIT_BUCKETS,
        TRAIN_UPTO,
        VAL_UPTO,
    )
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        semantic_decontaminate,
    )

    rows = semantic_decontaminate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        b = r["vec_id"] * HASH_MULT % HASH_MOD % SPLIT_BUCKETS
        assert b < TRAIN_UPTO
        eb = r["eval_vec_id"] * HASH_MULT % HASH_MOD % SPLIT_BUCKETS
        assert eb >= VAL_UPTO
        assert -1.0001 <= r["cosine"] <= 1.0001
    assert {r["is_contaminated"] for r in rows} == {True, False}


def test_recall_report_reconciles_with_topk_frames(spark, sf_dir):
    """similarity_recall_report must equal a Python recomputation from
    the top-K frames it composes — per (query, method): hits =
    |approx ∩ exact|, denominator = |exact|, 3·|Q| rows total (r9: the
    sq ADC channel audits in the same frame)."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        N_QUERIES,
        similarity_bruteforce_topk,
        similarity_ivf_topk,
        similarity_lsh_topk,
        similarity_recall_report,
        similarity_sq_topk,
    )

    def pairs(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    bf = pairs(similarity_bruteforce_topk(spark, sf_dir))
    approx = {
        "ivf": pairs(similarity_ivf_topk(spark, sf_dir)),
        "lsh": pairs(similarity_lsh_topk(spark, sf_dir)),
        "sq": pairs(similarity_sq_topk(spark, sf_dir)),
    }
    rows = similarity_recall_report(spark, sf_dir).collect()
    assert len(rows) == 3 * N_QUERIES
    assert {r["method"] for r in rows} == {"ivf", "lsh", "sq"}
    for r in rows:
        truth = bf[r["query_id"]]
        hits = len(truth & approx[r["method"]].get(r["query_id"], set()))
        assert r["n_truth"] == len(truth)
        assert r["n_hits"] == hits, r
        assert r["recall"] == hits / len(truth)
        assert 0.0 <= r["recall"] <= 1.0


def test_centroid_report_reconciles_with_numpy(spark, sf_dir):
    """embedding_centroid_report must equal a numpy recomputation of the
    same definition (per-dim means rounded 1e-6, cosine rounded 1e-4):
    counts exactly, floats to the shared rounding grid."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        embedding_centroid_report,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    emb = t.column("embedding").to_pylist()
    labels = t.column("label").to_pylist()
    dim = max(len(v) for v in emb if v is not None)
    rows = [
        (l, np.asarray(v, dtype=np.float64))
        for l, v in zip(labels, emb)
        if v is not None and len(v) == dim
    ]

    def pr(x, scale):
        return math.floor(x * 10**scale + 0.5) / 10**scale

    by_label: dict = {}
    for l, v in rows:
        by_label.setdefault(l, []).append(v)
    cents = {
        l: np.array([pr(c, 6) for c in np.mean(vs, axis=0)])
        for l, vs in by_label.items()
    }
    g = np.array(
        [pr(c, 6) for c in np.mean([v for _, v in rows], axis=0)]
    )
    got = {r["label"]: r for r in embedding_centroid_report(spark, sf_dir).collect()}
    assert set(got) == set(cents)
    for l, c in cents.items():
        r = got[l]
        assert r["n_vecs"] == len(by_label[l])
        nl = math.sqrt(float(c @ c))
        ng = math.sqrt(float(g @ g))
        assert abs(r["centroid_norm"] - pr(nl, 4)) < 2e-4, l
        assert abs(r["drift_cosine"] - pr(float(c @ g) / (nl * ng), 4)) < 2e-4, l
        assert -1.0 <= r["drift_cosine"] <= 1.0


def test_sq_topk_reconciles_with_bruteforce(spark, sf_dir):
    """The ADC ranking is the reconstructed-vector ranking (scales cancel
    out of the quantized cosine), so the operator must (a) emit exactly
    TOP_K contiguous ranks per query, (b) report sim_exact values that
    EQUAL similarity_bruteforce_topk's sim on every shared pair (same
    cosine, same rounding), and (c) recall ≥0.9 of the exact top-5 —
    the numpy quantization property, now over the operator itself."""
    sq = similarity_sq_topk(spark, sf_dir).collect()
    bf = {
        (r["query_id"], r["vec_id"]): r["sim"]
        for r in similarity_bruteforce_topk(spark, sf_dir).collect()
    }
    per_q: dict[int, list] = {}
    for r in sq:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        assert sorted(x["rank"] for x in rows) == [1, 2, 3, 4, 5]
    overlap = [r for r in sq if (r["query_id"], r["vec_id"]) in bf]
    assert overlap, "SQ top-5 shares nothing with exact top-5"
    for r in overlap:
        assert r["sim_exact"] == bf[(r["query_id"], r["vec_id"])]
    assert len(overlap) / len(bf) >= 0.9


def test_embedding_dim_stats_planted_dead_dimension(spark, tmp_path):
    """r9c synthetic pin: a planted corpus with a DEAD dimension (all
    zeros), a constant dimension, and a dimension of known variance must
    report hand-computed stats — the sf corpus has no degenerate dims, so
    this is the only coverage of the detector actually firing."""
    import math

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        embedding_dim_stats,
    )

    # dim0 dead (all 0), dim1 constant 0.5, dim2 values [-0.2, 0.0, 0.4, 0.6]
    vals = [
        [0.0, 0.5, -0.2],
        [0.0, 0.5, 0.0],
        [0.0, 0.5, 0.4],
        [0.0, 0.5, 0.6],
    ]
    spark.createDataFrame(
        [(i, v, "a") for i, v in enumerate(vals)],
        "vec_id long, embedding array<double>, label string",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows = {
        r["dim"]: r
        for r in embedding_dim_stats(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 3
    d0 = rows[0]
    assert d0["n_vecs"] == 4
    assert d0["zero_pct"] == 100.0
    assert d0["var_val"] == 0.0
    assert d0["mean_val"] == 0.0
    d1 = rows[1]
    assert d1["zero_pct"] == 0.0
    assert d1["var_val"] == 0.0
    assert d1["mean_val"] == 0.5
    assert d1["min_val"] == 0.5 and d1["max_val"] == 0.5
    d2 = rows[2]
    # hand-computed: mean 0.2, E[x²] = (0.04+0+0.16+0.36)/4 = 0.14,
    # var = 0.14 − 0.04 = 0.10; one of four values is grid-zero.
    assert d2["mean_val"] == pytest.approx(0.2, abs=1e-6)
    assert d2["var_val"] == pytest.approx(0.10, abs=1e-8)
    assert d2["zero_pct"] == 25.0
    assert d2["min_val"] == -0.2 and d2["max_val"] == 0.6
    assert math.isfinite(d2["var_val"])


def test_pq_recall_after_rerank(spark, sf_dir):
    """PQ two-stage (ADC shortlist → exact re-rank) recall@5 vs the exact
    L2 baseline. Measured 0.775 at sf0.01 with M=4, K=8, shortlist 50 —
    the LSH level; the floor leaves the standard headroom. ADC-only
    ordering measured 0.275 on this corpus (noise-dominated neighbor
    gaps), which is WHY the op re-ranks — this test pins the pipeline
    property, not the intermediate."""
    import numpy as np

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        _embeddings,
        similarity_pq_topk,
    )

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in _embeddings(spark, sf_dir).collect()
    }
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])
    out = similarity_pq_topk(spark, sf_dir).collect()
    recalls = []
    for q in range(8):
        d2 = ((mat - emb[q]) ** 2).sum(1)
        exact5 = [ids[j] for j in np.argsort(d2, kind="stable") if ids[j] != q][:5]
        got = {r["vec_id"] for r in out if r["query_id"] == q}
        assert len(got) == 5
        recalls.append(len(got & set(exact5)) / 5)
        # d2_exact must reconcile with the numpy fold
        for r in out:
            if r["query_id"] != q:
                continue
            ref = ((emb[q] - emb[r["vec_id"]]) ** 2).sum()
            assert abs(r["d2_exact"] - ref) < 1e-4
            assert r["d2_adc"] >= 0.0
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_pq_recall_matches_pq_at_fraction_of_codes(spark, sf_dir):
    """r10 (VERDICT r9 ask #2 'done' bar): IVF routing over PQ codes must
    hold the PQ-alone recall level while scanning a strict fraction of
    the code table. numpy replica: exact L2 top-5 is the truth set; the
    coarse-router replica (label-mean centroids, portable rounding,
    (d2, cell) tie-break) counts the scanned codes. Measured at sf0.01:
    both channels 0.775 recall@5 with ~70% of codes scanned at
    IVF_PQ_NPROBE=7 of 10 cells (floors leave the standard headroom)."""
    import numpy as np

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        IVF_PQ_NPROBE,
        _embeddings,
        ivf_pq_topk,
        similarity_pq_topk,
    )

    rows = _embeddings(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows
    }
    labels = {r["vec_id"]: r["label"] for r in rows}
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])

    def rnd(x):
        return np.floor(x * 1e6 + 0.5) / 1e6

    cells = sorted({c for c in labels.values() if c is not None})
    cents = {
        c: rnd(np.stack([emb[i] for i in ids if labels[i] == c]).mean(0))
        for c in cells
    }

    def cell_d2(v):
        return sorted((rnd(((v - cents[c]) ** 2).sum()), c) for c in cells)

    assign = {i: cell_d2(emb[i])[0][1] for i in ids}
    probes = {
        q: {c for _, c in cell_d2(emb[q])[:IVF_PQ_NPROBE]} for q in range(8)
    }
    scanned = sum(
        1
        for q in range(8)
        for i in ids
        if i != q and assign[i] in probes[q]
    )
    frac = scanned / (8 * (len(ids) - 1))
    assert frac < 0.85, frac

    def mean_recall(out):
        rec = []
        for q in range(8):
            d2 = ((mat - emb[q]) ** 2).sum(1)
            exact5 = [
                ids[j] for j in np.argsort(d2, kind="stable") if ids[j] != q
            ][:5]
            got = {r["vec_id"] for r in out if r["query_id"] == q}
            assert len(got) == 5
            rec.append(len(got & set(exact5)) / 5)
        return sum(rec) / len(rec)

    r_ivfpq = mean_recall(ivf_pq_topk(spark, sf_dir).collect())
    r_pq = mean_recall(similarity_pq_topk(spark, sf_dir).collect())
    assert r_ivfpq >= 0.6, (r_ivfpq, frac)
    # the routing must not cost recall (±1 hit/40 slack for regenerated
    # corpora): recall >= PQ-alone at < 85% of the scanned codes.
    assert r_ivfpq >= r_pq - 0.05, (r_ivfpq, r_pq, frac)


def test_pq_recall_report_reconciles_with_topk_frames(spark, sf_dir):
    """pq_recall_report must equal a Python recomputation from the
    frames it composes — per (query, method): hits = |approx ∩ exact L2
    top-K|, denominator = |exact|, 2·|Q| rows total."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        N_QUERIES,
        _embeddings,
        _exact_l2_topk,
        ivf_pq_topk,
        pq_recall_report,
        similarity_pq_topk,
    )

    def pairs(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    bf = pairs(_exact_l2_topk(emb))
    approx = {
        "pq": pairs(similarity_pq_topk(spark, sf_dir)),
        "ivf_pq": pairs(ivf_pq_topk(spark, sf_dir)),
    }
    rows = pq_recall_report(spark, sf_dir).collect()
    assert len(rows) == 2 * N_QUERIES
    assert {r["method"] for r in rows} == {"pq", "ivf_pq"}
    for r in rows:
        truth = bf[r["query_id"]]
        hits = len(truth & approx[r["method"]].get(r["query_id"], set()))
        assert r["n_truth"] == len(truth)
        assert r["n_hits"] == hits, r
        assert r["recall"] == hits / len(truth)
        assert 0.0 <= r["recall"] <= 1.0


def test_corr_topk_reconciles_with_numpy(spark, sf_dir):
    """embedding_corr_topk must equal a numpy recomputation on the same
    1e-4 integer grid: exact integer pair sums → covariance/correlation,
    cannot-correlate filter on rounded variances, (|corr| DESC, i, j)
    ranking."""
    import numpy as np

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        COV_TOP_PAIRS,
        _embeddings,
        embedding_corr_topk,
    )

    rows = _embeddings(spark, sf_dir).collect()
    mat = np.stack(
        [np.array(r["embedding"], dtype=np.float64) for r in rows]
    )
    q = np.floor(mat * 10000 + 0.5)  # integer grid (exact in float64)
    n, d = q.shape

    def rnd(x, s):
        return np.floor(x * 10**s + 0.5) / 10**s

    expected = {}
    order = []
    for i in range(d):
        for j in range(i + 1, d):
            qi, qj = q[:, i], q[:, j]
            sp, si, sj = (qi * qj).sum(), qi.sum(), qj.sum()
            ssi, ssj = (qi * qi).sum(), (qj * qj).sum()
            mi, mj = si / 1e4 / n, sj / 1e4 / n
            cov = sp / 1e8 / n - mi * mj
            vi = ssi / 1e8 / n - mi * mi
            vj = ssj / 1e8 / n - mj * mj
            if rnd(vi, 8) <= 0 or rnd(vj, 8) <= 0:
                continue
            corr = cov / np.sqrt(vi * vj)
            expected[(i, j)] = (rnd(cov, 8), rnd(corr, 6))
            order.append((-rnd(abs(corr), 6), i, j))
    order.sort()
    top = [(i, j) for _, i, j in order[:COV_TOP_PAIRS]]

    out = embedding_corr_topk(spark, sf_dir).collect()
    assert len(out) == min(COV_TOP_PAIRS, len(order))
    got = {(r["dim_i"], r["dim_j"]): (r["cov"], r["corr"], r["rank"]) for r in out}
    assert sorted(got) == sorted(top)
    for rank, (i, j) in enumerate(top, start=1):
        cov, corr, spark_rank = got[(i, j)]
        assert spark_rank == rank
        exp_cov, exp_corr = expected[(i, j)]
        assert cov == pytest.approx(exp_cov, abs=2e-8), (i, j)
        assert corr == pytest.approx(exp_corr, abs=2e-6), (i, j)
        assert r_abs_ok(corr)


def r_abs_ok(c):
    return -1.0000001 <= c <= 1.0000001


def test_embedding_corr_topk_planted_matrix(spark, tmp_path):
    """r10 synthetic pin: the sf corpus has no zero-variance dimension,
    so the cannot-correlate gate never fires there — plant one. Corpus:
    dim0 constant (must appear in NO pair), dim1 = x, dim2 = 2x
    (corr exactly +1), dim3 = 0.7 − x (corr exactly −1 with both).
    Ranking ties on |corr| = 1 break by (dim_i, dim_j)."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        embedding_corr_topk,
    )

    x = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6]
    vecs = [[0.5, v, 2 * v, round(0.7 - v, 4)] for v in x]
    spark.createDataFrame(
        [(i, v, "a") for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label string",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows = embedding_corr_topk(spark, str(tmp_path)).collect()
    got = {(r["dim_i"], r["dim_j"]): r for r in rows}
    # the constant dim is excluded from every pair
    assert all(0 not in pair for pair in got), got.keys()
    assert sorted(got) == [(1, 2), (1, 3), (2, 3)]
    # |corr| = 1 ties break by (dim_i, dim_j)
    assert [r["rank"] for r in sorted(rows, key=lambda r: (r["dim_i"], r["dim_j"]))] == [1, 2, 3]
    assert got[(1, 2)]["corr"] == pytest.approx(1.0, abs=2e-6)
    assert got[(1, 3)]["corr"] == pytest.approx(-1.0, abs=2e-6)
    assert got[(2, 3)]["corr"] == pytest.approx(-1.0, abs=2e-6)
    # hand-computed: var(x) = 0.91/6 − 0.35² = 0.0291666…,
    # cov(x, 2x) = 2·var(x) = 0.0583333…
    assert got[(1, 2)]["cov"] == pytest.approx(0.05833333, abs=2e-8)
    assert got[(1, 3)]["cov"] == pytest.approx(-0.02916667, abs=2e-8)
    assert all(r["n_vecs"] == 6 for r in rows)


def test_corr_sums_gramian_equals_explode(spark, tmp_path, monkeypatch):
    """r10: the mapInPandas gramian path must produce BIT-identical
    integer partial sums to the declarative explode path (same 1e-4
    grid, int64 matmul) — and the dispatched operator must return the
    same rows under either threshold."""
    import numpy as np
    from pyspark.sql import functions as F

    import data_pipeline__s3_to_postgres_s3_spark.operators.similarity as S

    rng = np.random.default_rng(42)
    mat = rng.normal(size=(150, 40)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row], "a") for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>, label string",
    )

    def agg(sums):
        grouped = sums.groupBy("di", "dj").agg(
            *[F.sum(c).alias(c) for c in ("n", "sp", "si", "sj", "ssi", "ssj")]
        )
        return {
            (r["di"], r["dj"]): (
                r["n"], r["sp"], r["si"], r["sj"], r["ssi"], r["ssj"]
            )
            for r in grouped.collect()
        }
    g_explode = agg(S._corr_sums_explode(df))
    g_gram = agg(S._corr_sums_gramian(df, 40))
    assert g_explode == g_gram
    assert len(g_explode) == 40 * 39 // 2

    # dispatched operator: same rows under either path
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows_explode = sorted(
        map(tuple, S.embedding_corr_topk(spark, str(tmp_path)).collect())
    )
    monkeypatch.setattr(S, "CORR_GRAMIAN_MIN_DIM", 8)
    rows_gram = sorted(
        map(tuple, S.embedding_corr_topk(spark, str(tmp_path)).collect())
    )
    assert rows_explode == rows_gram


def test_index_meta_cache_evicts_superseded_mtime(tmp_path):
    """r10 ADVICE: a corpus regenerated in-place (new mtime, same path)
    must EVICT the superseded cache entry on insert, not accumulate dead
    codebook/centroid rows for the process lifetime."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark import cache

    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"x")
    abspath = os.path.abspath(str(p))

    def meta(build):
        cid = cache.corpus_id(str(tmp_path), "embeddings.parquet")
        return cache.memo("probe_kind", cid, (), build)

    assert meta(lambda: "v1") == "v1"
    # Cache hit: the build must not run again for the same mtime.
    sentinel = []
    assert meta(lambda: sentinel.append(1) or "v2") == "v1"
    assert not sentinel

    # Regenerate in place: new mtime → rebuild AND the old entry evicted.
    st = os.stat(str(p))
    os.utime(str(p), (st.st_atime + 10, st.st_mtime + 10))
    assert meta(lambda: "v3") == "v3"
    live = [
        k
        for k in cache._MEMO
        if k[0] == "probe_kind" and k[1] == (abspath,)
    ]
    assert len(live) == 1


def test_ann_index_topk_serves_ivf_pq_result_exactly(spark, sf_small):
    """r11 (VERDICT #2): the artifact-served top-K must be row-for-row
    identical to the in-lineage ivf_pq_topk — same constants, same
    tie-breaks, same integer ADC grid, so persisting the index can never
    change a served result."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        ann_index_topk,
        ivf_pq_topk,
    )

    served = sorted(tuple(r) for r in ann_index_topk(spark, sf_small).collect())
    inline = sorted(tuple(r) for r in ivf_pq_topk(spark, sf_small).collect())
    assert served == inline and served


def test_ann_index_topk_reads_artifact_without_retraining(spark, sf_small, monkeypatch):
    """Serving must not retrain: with the artifact present, the training
    entry points are unreachable (monkeypatched to raise), and the
    in-process index memo cleared — the served result comes from disk."""
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    sim._ensure_ann_artifact(spark, sf_small)  # prebuild
    monkeypatch.setattr(
        sim,
        "_pq_train_rows",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("PQ retraining reached during serve")
        ),
    )
    monkeypatch.setattr(
        sim,
        "ivf_centroids",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("IVF retraining reached during serve")
        ),
    )
    # Drop the in-process memo too: the artifact alone must suffice.
    from data_pipeline__s3_to_postgres_s3_spark import cache

    monkeypatch.setattr(cache, "_MEMO", {})
    assert sim.ann_index_topk(spark, sf_small).count() > 0


def test_ann_artifact_staleness_rebuilds_on_corpus_regeneration(
    spark, sf_small, tmp_path
):
    """A corpus regenerated in place (new mtime) must get a NEW artifact
    directory on the next serve, with the superseded sibling evicted —
    staleness is structural (the cache.memo supersede rule, on disk)."""
    import os
    import shutil

    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    for t in TABLES:
        shutil.copy(f"{sf_small}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    d = str(tmp_path)
    art1 = sim._ensure_ann_artifact(spark, d)
    assert os.path.exists(os.path.join(art1, "codes", "_SUCCESS"))

    p = str(tmp_path / "embeddings.parquet")
    st = os.stat(p)
    os.utime(p, (st.st_atime + 5, st.st_mtime + 5))
    art2 = sim._ensure_ann_artifact(spark, d)
    assert art2 != art1
    assert os.path.exists(os.path.join(art2, "codes", "_SUCCESS"))
    assert not os.path.exists(art1)  # superseded sibling evicted


def test_ann_artifact_dir_moves_on_same_second_rewrite(tmp_path):
    """The artifact key derives from the embeddings corpus_id (ns mtime
    plus size): a corpus re-stamped within the same second gets a NEW
    directory — an integer-second mtime key kept serving the old index.
    The new name keeps the layout and the same-key prefix, so the write
    side sweeps the superseded directory as a sibling."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    p = str(tmp_path / "embeddings.parquet")
    with open(p, "wb") as fh:
        fh.write(b"x")
    st = os.stat(p)
    sec = st.st_mtime_ns // 1_000_000_000 * 1_000_000_000
    os.utime(p, ns=(st.st_atime_ns, sec + 100_000_000))
    before = os.path.basename(sim._ann_artifact_dir(str(tmp_path)))
    os.utime(p, ns=(st.st_atime_ns, sec + 200_000_000))
    after = os.path.basename(sim._ann_artifact_dir(str(tmp_path)))
    assert after != before
    assert sim._ANN_DIR_RE.match(before) and sim._ANN_DIR_RE.match(after)
    assert after.split("_", 1)[0] == before.split("_", 1)[0]


def test_ann_artifact_ignored_and_rebuilt_on_trainer_version_bump(
    spark, sf_small, tmp_path, monkeypatch
):
    """r11 VERDICT #1: a trainer edit (modeled by bumping
    _ANN_TRAINER_REV — training-constant changes fold into the same
    token automatically) must structurally invalidate a same-corpus
    artifact: the next serve ignores the old directory, rebuilds under
    the new version token, and evicts the superseded sibling. No manual
    rm -rf discipline."""
    import os
    import shutil

    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    for t in TABLES:
        shutil.copy(f"{sf_small}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    d = str(tmp_path)
    art1 = sim._ensure_ann_artifact(spark, d)
    assert os.path.exists(os.path.join(art1, "codes", "_SUCCESS"))

    monkeypatch.setattr(sim, "_ANN_TRAINER_REV", sim._ANN_TRAINER_REV + 1)
    art2 = sim._ensure_ann_artifact(spark, d)
    assert art2 != art1  # new version token, new directory
    assert os.path.exists(os.path.join(art2, "codes", "_SUCCESS"))
    assert not os.path.exists(art1)  # old-version sibling evicted
    # Same corpus + same trainer version: served from the artifact as-is.
    assert sim._ensure_ann_artifact(spark, d) == art2


def test_ann_index_append_delta_fires_and_is_idempotent(spark, sf_small):
    """The sf corpora put ~10% of vec_ids above the append watermark, so
    the delta segment actually fires; a second run publishes nothing new
    (the max-PK idempotence of the reference's incremental pattern) and
    serves the identical manifest from disk."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    first = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_index_append(spark, sf_small).collect()
    }
    assert set(first) == {
        "pq_codebook",
        "ivf_centroids",
        "codes_pq",
        "codes_ivf",
        "appended_pq",
        "appended_ivf",
    }
    assert first["appended_ivf"][0] > 0  # the delta actually fired
    # base + delta partition the corpus: union counts add up
    assert (
        first["codes_ivf"][0]
        == first["appended_ivf"][0]
        + spark.read.parquet(
            os.path.join(sim._ensure_ann_artifact(spark, sf_small, "base"), "codes")
        ).count()
    )

    art_base = sim._ensure_ann_artifact(spark, sf_small, "base")
    delta_dirs = [
        os.path.join(art_base, name) for name in sim._ANN_DELTA_STACK
    ]

    def stamps():
        return {
            (d, f): os.path.getmtime(os.path.join(d, f))
            for d in delta_dirs
            for f in os.listdir(d)
        }

    stamp = stamps()
    second = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_index_append(spark, sf_small).collect()
    }
    assert second == first
    assert stamp == stamps()  # nothing rewritten


def test_ann_index_append_encodes_without_retraining(
    spark, sf_small, monkeypatch
):
    """The append path's contract: once the base artifact exists, NO
    training is reachable — the delta encode reads codebooks/centroids
    from the artifact (deleting the delta segment forces a re-encode,
    with both trainers monkeypatched to raise)."""
    import os
    import shutil

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    art = sim._ensure_ann_artifact(spark, sf_small, scope="base")
    for name in sim._ANN_DELTA_STACK:
        shutil.rmtree(os.path.join(art, name), True)
    monkeypatch.setattr(
        sim,
        "_pq_train_rows",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("PQ retraining reached during append")
        ),
    )
    monkeypatch.setattr(
        sim,
        "ivf_centroids",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("IVF retraining reached during append")
        ),
    )
    from data_pipeline__s3_to_postgres_s3_spark import cache

    monkeypatch.setattr(cache, "_MEMO", {})
    rows = {
        r["component"]: r["n_rows"]
        for r in sim.ann_index_append(spark, sf_small).collect()
    }
    assert rows["appended_ivf"] > 0


def test_ann_index_append_empty_delta_is_exact(spark, sf_small, tmp_path):
    """A corpus whose every vec_id sits at/below the watermark (single
    vector, id 0 → wm = 0, no id > 0) appends NOTHING: the delta segment
    is empty, appended_* rows are (0, 0) via the mirrored COALESCE, and
    the differential gate stays green."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pytest

    duckdb = pytest.importorskip("duckdb")
    del duckdb

    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    from .oracle_harness import compare, duckdb_connection

    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{sf_small}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    pq_.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array(
                    [[0.5] * 16], pa.list_(pa.float32())
                ),
                "label": pa.array([1], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    d = str(tmp_path)
    rows = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_index_append(spark, d).collect()
    }
    assert rows["appended_ivf"] == (0, 0)
    assert rows["appended_pq"] == (0, 0)
    con = duckdb_connection(d)
    try:
        report = compare(
            sim.ann_index_append(spark, d), con, ORACLES["ann_index_append"]
        )
        assert report["ok"], report
    finally:
        con.close()


def test_ann_serve_scan_is_dynamic_partition_pruned(spark, sf_small):
    """The 1B-vector claim, pinned on the plan: the artifact code table
    is partitioned by ivf_cell and the serve-side probe join compiles to
    a dynamic-partition-pruning filter on that scan — nprobe/nlist of
    the files read, never the whole table."""
    import re

    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        ann_index_topk,
    )

    plan = (
        ann_index_topk(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    filters = set(re.findall(r"PartitionFilters: \[[^\]]*\]", plan))
    assert any(
        "dynamicpruning" in f and "ivf_cell" in f for f in filters
    ), filters


def test_embedding_drift_report_flags_planted_shift(spark, sf_small, tmp_path):
    """Plant a +0.2 shift on dim 0 of every DELTA vector (vec_id above
    the append watermark): dim 0 must flag drifted, the untouched dims
    must not, and the gate stays green; the single-vector corpus (empty
    delta) yields NULL delta moments and drifted = 0 everywhere."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    from .oracle_harness import compare, duckdb_connection

    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{sf_small}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    src = pq_.read_table(f"{sf_small}/embeddings.parquet").to_pylist()
    wm = int(0.9 * max(r["vec_id"] for r in src))
    for r in src:
        if r["vec_id"] > wm and r["embedding"]:
            v = list(r["embedding"])
            v[0] = (v[0] or 0.0) + 0.2
            r["embedding"] = v
    pq_.write_table(
        pa.table(
            {
                "vec_id": pa.array([r["vec_id"] for r in src], pa.int64()),
                "embedding": pa.array(
                    [r["embedding"] for r in src], pa.list_(pa.float32())
                ),
                "label": pa.array([r["label"] for r in src], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    d = str(tmp_path)
    con = duckdb_connection(d)
    try:
        report = compare(
            sim.embedding_drift_report(spark, d),
            con,
            ORACLES["embedding_drift_report"],
        )
        assert report["ok"], report
    finally:
        con.close()
    rows = {
        r["dim"]: r for r in sim.embedding_drift_report(spark, d).collect()
    }
    assert rows[0]["drifted"] == 1 and rows[0]["mean_shift"] > 0.15
    # The planted dim dominates: no natural dim (50-vector delta → real
    # sampling noise can cross the 0.05 flag) comes near the 0.2 plant.
    assert all(
        abs(rows[i]["mean_shift"]) < 0.15 for i in rows if i != 0
    ), "only the planted dim carries a large shift"
    assert all(r["n_delta"] > 0 for r in rows.values())


def test_trainer_source_change_requires_rev_bump():
    """Mechanical _ANN_TRAINER_REV discipline (r12 VERDICT #7): the
    artifact key folds training CONSTANTS in automatically, but a
    pure-LOGIC edit to a trainer function needs a manual rev bump or a
    persisted index trained by the old logic keeps serving. This pin
    hashes the source of every content-producing function
    (similarity._ANN_TRAINER_SURFACE) and fails when it moves at an
    unchanged rev — update BOTH the rev and this table together."""
    import hashlib
    import inspect

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    src = "\n".join(
        inspect.getsource(getattr(sim, n)) for n in sim._ANN_TRAINER_SURFACE
    )
    digest = hashlib.md5(src.encode()).hexdigest()
    PINNED = {
        # rev 3: _embeddings joined the surface + negative-id gate (r13)
        3: "8c9b3d12fea1792c7b1165dd8d09ca1e",
        # rev 4 (r14): stacked delta segments — codes_delta_0001/0002
        # split at the APPEND_WM2_FRAC watermark; bounds helpers join
        # the surface.
        4: "493794b590de7c9fe5f70018033d08cb",
        # rev 5 (r14 optimization): _ensure_ann_delta single-pass stack
        # encode (content-identical refactor; write shape unchanged).
        5: "3d48ffba53693a0f0d17afd6051d4c7c",
        # rev 6 (r15 ADVICE): _stack_union_bounds joins the surface —
        # it selects which rows reach the delta encode (no logic change;
        # membership-only edit, artifacts retrain once on the new key).
        6: "346dda5516bfe6dc86145841e3b4e3c0",
        # rev 7: trainer memos read through cache.memo over the
        # embeddings corpus_id (content-identical).
        7: "34d4cf8b0e5a8aecbad2e197f48890d0",
        # rev 8: Arrow-backed local_frame trainer frames and the
        # one-parse centroid literal; _sql_double joins the surface
        # (content-identical).
        8: "85c6663ffab6c6929ddc730fc8464bad",
        # rev 9: _ensure_ann_delta's shared encode goes through
        # cache.cut (content-identical).
        9: "05ba604489a4dab095840dbd6d37f6bf",
    }
    assert sim._ANN_TRAINER_REV in PINNED and (
        PINNED[sim._ANN_TRAINER_REV] == digest
    ), (
        f"ANN trainer source changed (now {digest}) without a version "
        "bump: increment similarity._ANN_TRAINER_REV AND add the new "
        "(rev, hash) row here, so every persisted artifact trained by "
        "the old logic is structurally invalidated"
    )


def test_legacy_ann_artifact_dirs_are_swept(spark, sf_small, tmp_path):
    """r12 ADVICE: pre-r12 artifact layouts ({md5_32}_{mtime} — no
    trainer token) never match the same-key eviction rule and lingered
    forever. r13 ADVICE narrowed the sweep to exactly that KNOWN legacy
    pattern: an unrecognized (e.g. future-layout) directory must
    SURVIVE, or two code versions coexisting during a rollback would
    destroy each other's live artifacts on every write."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    os.makedirs(sim.ANN_ARTIFACT_ROOT, exist_ok=True)
    legacy = os.path.join(
        sim.ANN_ARTIFACT_ROOT, "0123456789abcdef0123456789abcdef_1700000000"
    )
    os.makedirs(legacy, exist_ok=True)
    foreign_tmp = os.path.join(
        sim.ANN_ARTIFACT_ROOT, "aaaaaaaaaaaa_1700000000_bbbbbbbb.tmp-99999"
    )
    os.makedirs(foreign_tmp, exist_ok=True)
    future = os.path.join(
        sim.ANN_ARTIFACT_ROOT, "v99_some_future_layout_0123"
    )
    os.makedirs(future, exist_ok=True)
    try:
        sim._ann_write_artifact(spark, sf_small)
        assert not os.path.exists(legacy), "legacy dir must be swept"
        assert os.path.exists(foreign_tmp), "in-flight tmp dirs are sacred"
        assert os.path.exists(future), (
            "unrecognized layouts must survive the sweep (r13 ADVICE)"
        )
    finally:
        import shutil

        shutil.rmtree(foreign_tmp, True)
        shutil.rmtree(legacy, True)
        shutil.rmtree(future, True)


def test_ann_segments_topk_matches_oracle(spark, sf_small):
    """Driver-faithful check of the segment-pair serve: the DuckDB
    oracle is the independent base-trained/union-encoded computation
    (watermark training filter + full-coverage assignments + the ivf_pq
    probe/ADC/exact-re-rank tail)."""
    con = duckdb_connection(sf_small)
    try:
        report = compare(
            sim.ann_index_topk_segments(spark, sf_small),
            con,
            ORACLES["ann_index_topk_segments"],
        )
        assert report["ok"], report
    finally:
        con.close()


def test_ann_segments_serve_equals_one_pass_base_encode(spark, sf_small):
    """The LSM equality claim, pinned row-for-row: serving from the
    base segment ∪ delta segment is IDENTICAL to encoding the whole
    corpus against the base-trained tables in one pass — a vector's
    code is a pure function of the trained tables, so the segment
    boundary is invisible to queries."""
    import os

    served = sorted(
        tuple(r)
        for r in sim.ann_index_topk_segments(spark, sf_small).collect()
    )
    art = sim._ensure_ann_artifact(spark, sf_small, scope="base")
    cb = spark.read.schema(sim._PQ_CENTS_SCHEMA).parquet(
        os.path.join(art, "pq_codebook")
    )
    ivf_rows = spark.read.schema(sim._ANN_IVFC_SCHEMA).parquet(
        os.path.join(art, "ivf_centroids")
    ).collect()
    emb = sim._embeddings(spark, sf_small).select("vec_id", "embedding")
    dim = sim._corpus_dim(spark, sf_small) or sim.PQ_M
    one_pass_codes = sim._ann_encode_codes(
        sim._ann_cell_subspaces(emb, ivf_rows, dim // sim.PQ_M), cb
    )
    one_pass = sorted(
        tuple(r)
        for r in sim._ann_serve_topk(
            spark, sf_small, cb, ivf_rows, one_pass_codes
        ).collect()
    )
    assert served == one_pass


def test_ann_segments_recall_floor_vs_exact(spark, sf_small):
    """The segment serve pays the same nprobe routing cost as ivf_pq —
    NOT row-identical to the exact brute-force top-K (measured ~0.70
    recall@5 at sf0.001/sf0.01). The r14 nprobe sweep (r13 VERDICT #4,
    PLANS.md) separated the two candidate causes: segment recall tracks
    the FULL-artifact serve within ±0.075 at every nprobe in 1..10 with
    no systematic deficit, so the 0.70 is routing cost (recall rises
    0.25→0.78 with nprobe on both paths), not base-vs-full codebook
    staleness — compaction buys latency/layout, not recall, at this
    drift level. Floor raised 0.5 → 0.6 per the sweep (observed ≥ 0.70
    on both sf corpora; 0.1 margin for corpus regeneration)."""
    served = {
        (r["query_id"], r["vec_id"])
        for r in sim.ann_index_topk_segments(spark, sf_small).collect()
    }
    emb = sim._embeddings(spark, sf_small).select("vec_id", "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim._exact_l2_topk(emb).collect()
    }
    assert len(served & exact) / len(exact) >= 0.6


def test_ann_compact_matches_oracle_and_retires_pair(spark, sf_small):
    """Compaction contract: manifest hash-matches the full-retrain +
    watermark-split oracle, a PRESENT base+delta segment pair is GONE
    after the run (superseded segments evicted — r12 VERDICT #3), and
    the full-scope artifact serves. The pair is materialized first via
    the append path so the retirement actually fires."""
    import os

    sim.ann_index_append(spark, sf_small).collect()  # publish the pair
    assert os.path.exists(sim._ann_artifact_dir(sf_small, scope="base"))
    out = {r["component"]: r for r in
           sim.ann_compact_rebuild(spark, sf_small).collect()}
    assert set(out) == {
        "pq_codebook", "ivf_centroids", "codes_pq", "codes_ivf",
        "retired_base_codes", "retired_delta_codes",
    }
    base_art = sim._ann_artifact_dir(sf_small, scope="base")
    assert not os.path.exists(base_art), "segment pair must be retired"
    full_art = sim._ann_artifact_dir(sf_small)
    assert all(
        os.path.exists(os.path.join(full_art, c, "_SUCCESS"))
        for c in sim._ANN_COMPONENTS
    )
    # the retired pair covered exactly the corpus: counts add up to the
    # full code table, no vector lost or double-counted at the boundary
    assert (
        out["retired_base_codes"]["n_rows"]
        + out["retired_delta_codes"]["n_rows"]
        == out["codes_ivf"]["n_rows"]
    )
    con = duckdb_connection(sf_small)
    try:
        report = compare(
            sim.ann_compact_rebuild(spark, sf_small),
            con,
            ORACLES["ann_compact_rebuild"],
        )
        assert report["ok"], report
    finally:
        con.close()


def test_ann_compact_component_rows_equal_fresh_full_build(spark, sf_small):
    """Post-merge index ≡ fresh full build, reconciled op-to-op: the
    compaction manifest's four component rows are exactly
    ann_index_build's manifest."""
    compact = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_compact_rebuild(spark, sf_small).collect()
        if not r["component"].startswith("retired_")
    }
    build = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_index_build(spark, sf_small).collect()
    }
    assert compact == build


def test_ann_append_and_segments_serve_after_compaction(spark, sf_small):
    """Registry order-independence: compaction retires the segment pair,
    and a later append / segment serve rebuilds it read-through with
    identical results (trainings are memoized, artifacts re-publish)."""
    sim.ann_compact_rebuild(spark, sf_small).collect()
    con = duckdb_connection(sf_small)
    try:
        for name in ("ann_index_append", "ann_index_topk_segments"):
            report = compare(
                getattr(sim, name)(spark, sf_small), con, ORACLES[name]
            )
            assert report["ok"], (name, report)
    finally:
        con.close()


def test_ann_segment_stack_report_matches_oracle(spark, sf_small):
    """Driver-faithful check of the r14 stacked-segment manifest: the
    DuckDB oracle retrains the base index and splits its full-coverage
    assignments at the stacked watermarks — counts, Σ vec_id, and the
    position-weighted code checksums must all reproduce the on-disk
    segments."""
    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    from .oracle_harness import compare, duckdb_connection

    con = duckdb_connection(sf_small)
    try:
        report = compare(
            sim.ann_segment_stack_report(spark, sf_small),
            con,
            ORACLES["ann_segment_stack_report"],
        )
        assert report["ok"], report
    finally:
        con.close()


def test_ann_stack_segments_partition_corpus(spark, sf_small):
    """The stacked segments must PARTITION the valid corpus at the
    declared bounds: base ≤ wm, 0001 in (wm, wm2], 0002 above wm2, with
    the stack union exactly the pre-r14 single delta (vec_id > wm) —
    the invariant that keeps every pair-level oracle unchanged."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )

    art = sim._ensure_ann_artifact(spark, sf_small, scope="base")
    dirs = sim._ensure_ann_delta(spark, sf_small, art)
    wm = sim._ann_append_watermark(spark, sf_small)
    wm2 = sim._ann_stack_watermark2(spark, sf_small)
    valid_ids = {
        r["vec_id"]
        for r in sim._embeddings(spark, sf_small)
        .select("vec_id")
        .collect()
    }
    base_ids = {
        r["vec_id"]
        for r in spark.read.schema(sim._ANN_CODES_SCHEMA)
        .parquet(os.path.join(art, "codes"))
        .select("vec_id")
        .collect()
    }
    seg_ids = [
        {
            r["vec_id"]
            for r in spark.read.schema(sim._ANN_CODES_SCHEMA)
            .parquet(d)
            .select("vec_id")
            .collect()
        }
        for d in dirs
    ]
    assert all(i <= wm for i in base_ids)
    assert all(wm < i <= wm2 for i in seg_ids[0])
    assert all(i > wm2 for i in seg_ids[1])
    # the second batch actually fired on the sf corpus
    assert seg_ids[0] and seg_ids[1], "both stacked segments non-empty"
    assert not (seg_ids[0] & seg_ids[1])
    assert seg_ids[0] | seg_ids[1] == {i for i in valid_ids if i > wm}
    assert base_ids | seg_ids[0] | seg_ids[1] == valid_ids


def _write_embeddings_variant(sf_small, tmp_path, mutate):
    """Copy the sf corpus, applying ``mutate(rows)`` to the embeddings
    table (the planted-drift fixture recipe)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES

    for t in TABLES:
        if t != "embeddings":
            shutil.copy(
                f"{sf_small}/{t}.parquet", str(tmp_path / f"{t}.parquet")
            )
    src = pq_.read_table(f"{sf_small}/embeddings.parquet").to_pylist()
    mutate(src)
    pq_.write_table(
        pa.table(
            {
                "vec_id": pa.array([r["vec_id"] for r in src], pa.int64()),
                "embedding": pa.array(
                    [r["embedding"] for r in src], pa.list_(pa.float32())
                ),
                "label": pa.array([r["label"] for r in src], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    return str(tmp_path)


def test_ann_compact_if_drifted_compacts_on_planted_drift(
    spark, sf_small, tmp_path
):
    """Planted +0.2 shift on dim 0 of every delta vector → the trigger
    fires: decision row records (n_drifted ≥ 1, compacted = 1), the
    manifest carries ann_compact_rebuild's six rows, the base-scope
    stack is RETIRED from disk, and the count-guarded oracle emits the
    identical branch."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    from .oracle_harness import compare, duckdb_connection

    def plant(rows):
        wm = int(0.9 * max(r["vec_id"] for r in rows))
        for r in rows:
            if r["vec_id"] > wm and r["embedding"]:
                v = list(r["embedding"])
                v[0] = (v[0] or 0.0) + 0.2
                r["embedding"] = v

    d = _write_embeddings_variant(sf_small, tmp_path, plant)
    rows = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_compact_if_drifted(spark, d).collect()
    }
    assert rows["drift_decision"][0] >= 1 and rows["drift_decision"][1] == 1
    assert set(rows) == {
        "drift_decision",
        "pq_codebook",
        "ivf_centroids",
        "codes_pq",
        "codes_ivf",
        "retired_base_codes",
        "retired_delta_codes",
    }
    assert not os.path.exists(
        sim._ann_artifact_dir(d, scope="base")
    ), "drifted: the base-scope stack must be retired"
    con = duckdb_connection(d)
    try:
        report = compare(
            sim.ann_compact_if_drifted(spark, d),
            con,
            ORACLES["ann_compact_if_drifted"],
        )
        assert report["ok"], report
    finally:
        con.close()


def test_ann_compact_if_drifted_keeps_undrifted_stack(
    spark, sf_small, tmp_path
):
    """Zero-drift corpus (every delta vector replaced by a base
    vector's values → all mean shifts 0): the trigger must NOT fire —
    decision (0, 0), the kept-segment audit rows reproduce the
    untouched on-disk stack, the stack SURVIVES on disk, and the
    count-guarded oracle emits the kept branch."""
    import os

    from data_pipeline__s3_to_postgres_s3_spark.operators import (
        similarity as sim,
    )
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    from .oracle_harness import compare, duckdb_connection

    def flatten(rows):
        wm = int(0.9 * max(r["vec_id"] for r in rows))
        base_vecs = [
            r["embedding"]
            for r in rows
            if r["vec_id"] <= wm and r["embedding"]
        ]
        mean_like = base_vecs[0]
        for r in rows:
            if r["embedding"]:
                r["embedding"] = list(mean_like)

    d = _write_embeddings_variant(sf_small, tmp_path, flatten)
    rows = {
        r["component"]: (r["n_rows"], r["checksum"])
        for r in sim.ann_compact_if_drifted(spark, d).collect()
    }
    assert rows["drift_decision"] == (0, 0)
    assert set(rows) == {
        "drift_decision",
        "kept_base_codes",
        "kept_delta_0001",
        "kept_delta_0002",
    }
    art = sim._ann_artifact_dir(d, scope="base")
    assert os.path.exists(os.path.join(art, "codes", "_SUCCESS"))
    for name in sim._ANN_DELTA_STACK:
        assert os.path.exists(os.path.join(art, name, "_SUCCESS")), (
            "undrifted: the stack must survive"
        )
    con = duckdb_connection(d)
    try:
        report = compare(
            sim.ann_compact_if_drifted(spark, d),
            con,
            ORACLES["ann_compact_if_drifted"],
        )
        assert report["ok"], report
    finally:
        con.close()


@pytest.mark.parametrize("cell_type", ["int", "bigint"])
def test_inline_centroids_literal_matches_lit_tree(spark, cell_type):
    """The one-parse SQL literal is value- AND type-equal to the F.lit
    tree it replaced: repr()+"D" round-trips every double exactly (signed
    zero, subnormal, DBL_MAX), NULL and non-finite elements survive, cells
    sort and cast the same way, and nullability flags agree."""
    import math

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    def lit_tree(cent_rows, cell_type):
        return F.array(
            *[
                F.struct(
                    F.lit(r["cell"]).cast(cell_type).alias("cell"),
                    F.array(*[F.lit(c) for c in r["centroid"]]).alias("centroid"),
                )
                for r in sorted(cent_rows, key=lambda r: r["cell"])
            ]
        )

    edge = [-0.0, 1e-06, 5e-324, 1.7976931348623157e308, -2.5e-310]
    rows = [
        Row(cell=3, centroid=edge),
        Row(cell=-1, centroid=[None, math.nan, math.inf, -math.inf, 0.1]),
        Row(cell=0, centroid=[0.1 * i - 0.2 for i in range(5)]),
    ]
    old = spark.range(1).select(lit_tree(rows, cell_type).alias("x"))
    new = spark.range(1).select(sim._inline_centroids(rows, cell_type).alias("x"))
    assert new.schema == old.schema

    def bits(df):
        # repr() tells -0.0 from 0.0 and compares NaN equal to itself.
        return [
            (s["cell"], [repr(v) for v in s["centroid"]])
            for s in df.collect()[0]["x"]
        ]

    assert bits(new) == bits(old)
    assert bits(new)[-1] == (3, [repr(v) for v in edge])
