"""Connected components + near-dup clustering (operators/graph.py).

The oracle-parity check for dedup_clusters runs in test_correctness_oracle
via the registry; these tests pin the CC algorithm itself on adversarial
shapes (long chains exercise pointer jumping, multiple components, self
loops) and the cluster-level invariants a keep-list consumer relies on.
"""

from __future__ import annotations

import pytest

from data_pipeline__s3_to_postgres_s3_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    rows = connected_components(df).collect()
    return {r["node"]: r["comp"] for r in rows}


def test_single_chain_collapses_to_min(spark):
    # Path 0-1-2-…-63: min-propagation alone needs ~64 rounds; pointer
    # jumping must get there within CC_MAX_ITER (=50).
    edges = [(i, i + 1) for i in range(63)]
    comp = _components(spark, edges)
    assert comp == {i: 0 for i in range(64)}


def test_two_components_and_orientation(spark):
    # Edge orientation must not matter (symmetrized internally).
    edges = [(5, 3), (3, 9), (20, 21), (22, 21)]
    comp = _components(spark, edges)
    assert comp == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20}


def test_self_loop_and_duplicate_edges(spark):
    edges = [(7, 7), (1, 2), (2, 1), (1, 2)]
    comp = _components(spark, edges)
    assert comp == {7: 7, 1: 1, 2: 1}


def test_dedup_clusters_invariants(spark, sf_small):
    rows = dedup_clusters(spark, sf_small).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)

    # Every document appears exactly once.
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for cid, members in by_cluster.items():
        ids = {m["doc_id"] for m in members}
        # Cluster id is the smallest member, which is the one canonical.
        assert cid == min(ids)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)

    # The keep-list is smaller than the corpus iff any pair was found,
    # and never larger.
    n_keep = sum(r["is_canonical"] for r in rows)
    assert n_keep == len(by_cluster) <= len(rows)


def test_no_fixpoint_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(20)], ["a", "b"])
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)


def _stored(spark) -> set[int]:
    """Ids of the RDDs that hold cached blocks."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_connected_components_keeps_blocks_only_for_returned_labels(spark):
    """Each round's cut is released once the next round has materialized,
    and the symmetrized edges once the loop ends: only the returned
    labels keep blocks. A run that raises keeps none."""
    from data_pipeline__s3_to_postgres_s3_spark import plans

    df = spark.createDataFrame([(i, i + 1) for i in range(63)], ["a", "b"])
    before = _stored(spark)
    with plans.checkpoint_audit() as ckpts:
        lab = connected_components(df)
    assert len(ckpts) >= 4  # sym, the seed labels and at least 2 rounds
    rdd = lab._jdf.queryExecution().analyzed().rdd().id()
    assert _stored(spark) - before == {rdd}

    before = _stored(spark)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)
    assert _stored(spark) - before == set()


def test_triangle_counts_ordered_wedge_exactness(spark):
    """Hand graph: K4 on {1,2,3,4} (4 triangles, each node in 3) plus a
    pendant edge (5 in no triangle) and an open wedge 6-7, 7-8 (no
    closure). Each triangle must count exactly once — the ordered-wedge
    join has no ±6 symmetry factor to divide away."""
    from data_pipeline__s3_to_postgres_s3_spark.operators.graph import (
        triangle_counts,
    )

    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(4, 5), (6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r["item"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_integer_pagerank_hand_computed(spark):
    """Path graph a-b-c (ids 1-2-3), two exact-integer rounds by hand:
    it1: ends get 150000 + (85·1e6)//200 = 575000, middle
    150000 + 2·(85·1e6)//100... (each end contributes (85·1e6)//(100·1)
    = 850000) = 1850000. it2: ends 150000 + (85·1850000)//200 = 936250,
    middle 150000 + 2·(85·575000)//100 = 1127500. Integer arithmetic ⇒
    these are EXACT on any engine, any combine order."""
    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.operators.graph import (
        integer_pagerank,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "a bigint, b bigint"
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    out = {r["item"]: r for r in integer_pagerank(edges, iters=2).collect()}
    assert {k: v["degree"] for k, v in out.items()} == {1: 1, 2: 2, 3: 1}
    assert out[1]["pr_micro"] == 936250
    assert out[3]["pr_micro"] == 936250
    assert out[2]["pr_micro"] == 1127500
    assert out[2]["pr"] == 1.1275


def test_integer_pagerank_matches_python_replica_on_random_graphs(spark):
    """Independent semantic pin: a pure-Python replica of the integer
    recurrence on three seeded random graphs — this catches a
    formulation bug the DuckDB oracle would share (both sides are
    written from the same derivation)."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline__s3_to_postgres_s3_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERS,
        PR_SCALE,
        PR_TELEPORT,
        integer_pagerank,
    )

    for seed in (7, 21, 42):
        rng = random.Random(seed)
        n = rng.randint(5, 12)
        pairs = sorted(
            {
                (a, b)
                for _ in range(n * 2)
                for a, b in [sorted(rng.sample(range(1, n + 1), 2))]
            }
        )
        # Python replica over the symmetrized adjacency.
        adj: dict[int, list[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        r = {v: PR_SCALE for v in adj}
        for _ in range(PR_ITERS):
            nxt = {v: PR_TELEPORT for v in adj}
            for u, nbrs in adj.items():
                c = (PR_DAMP_NUM * r[u]) // (PR_DAMP_DEN * len(nbrs))
                for v in nbrs:
                    nxt[v] += c
            r = nxt

        pdf = spark.createDataFrame(pairs, "a bigint, b bigint")
        edges = pdf.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(
            pdf.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        got = {
            row["item"]: (row["degree"], row["pr_micro"])
            for row in integer_pagerank(edges).collect()
        }
        assert got == {v: (len(adj[v]), r[v]) for v in adj}, f"seed {seed}"
