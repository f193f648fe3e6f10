"""Graph operators: connected components over candidate-pair edge lists.

Near-dup detection (dedup.py, similarity.py) emits PAIRS; a keep-list
needs CLUSTERS — the transitive closure of "is a near-duplicate of".
`connected_components` computes that closure as an iterative DataFrame
algorithm; `dedup_clusters` applies it to the MinHash-LSH pairs and
labels one canonical document per cluster.

Scale notes (100 TB):
- Min-label propagation alone needs O(diameter) rounds — a chain of
  incremental edits (A~B~C~… with A!~C) makes diameter O(cluster size).
  Each round therefore also POINTER-JUMPS (comp ← comp(comp), a
  self-join), which collapses chains geometrically: a 512-node path
  converges in ~9 rounds, not 512.
- Every round is bounded work: one edges⋈labels join + one groupBy-min
  (both shuffle on node id, map-side combined) + one labels self-join.
  No collect of nodes or edges ever happens on the driver.
- Iterative Spark jobs grow lineage without bound; each round's labels
  are lineage-cut (cache.cut) — without it, round N replays rounds
  1..N-1 and the job goes quadratic. The cut is lazy: the round's
  convergence sum is the job that materializes it, after which the
  superseded round's blocks are released, so only the returned labels
  keep blocks.
- Convergence is detected from a 1-row aggregate: component labels only
  ever decrease, so sum(comp) is strictly monotone until fixpoint —
  an unchanged sum IS convergence (no per-row diff join needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import corpus_id, cut, memo, release
from ..catalog import load_table
from ..config import DEFAULT_CONFIG, EngineConfig

CC_MAX_ITER = 50

# The LSH pair frame and its CC labels, memoized per documents
# corpus_id (cache.py): without it dedup_clusters, dedup_keep_best,
# dedup_cluster_report and the curation consumers each run the FULL
# MinHash pipeline plus the iterative closure (~5-8 s of driver-looped
# rounds each at sf0.1), yet all are pure functions of the same
# documents file — and of nothing else (dedup_minhash_lsh reads no cfg
# field), so the memo takes no params.
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified LSH pair frame, lineage-cut and process-memoized
    (consumers: the cluster family below + cross_source_neardups)."""
    from .dedup import dedup_minhash_lsh

    return memo(
        "minhash_pairs",
        corpus_id(sf_dir, "documents.parquet"),
        (),
        lambda: cut(dedup_minhash_lsh(spark, sf_dir)),
    )


def _minhash_cc(spark: SparkSession, sf_dir: str) -> tuple:
    """(pairs, labels): the verified LSH pair frame (lineage-cut) and
    its connected-components labels, shared by the cluster family."""
    pairs = _minhash_pairs(spark, sf_dir)
    labels = memo(
        "minhash_cc",
        corpus_id(sf_dir, "documents.parquet"),
        (),
        lambda: connected_components(pairs.select("doc_a", "doc_b")),
    )
    return pairs, labels


def connected_components(edges: DataFrame, max_iter: int = CC_MAX_ITER) -> DataFrame:
    """(node, component) for every node in `edges` (first two columns,
    undirected); component = smallest node id in the connected component.

    Invariant: comp(u) is always the id of SOME node in u's component and
    only decreases; the minimum node keeps comp = itself. A round where
    neighbor-min propagation changes nothing is therefore a fixpoint with
    comp constant-and-minimal per component. Pointer jumping preserves
    the invariant (comp(comp(u)) is in the same component) and only
    accelerates the fixpoint.
    """
    u, v = edges.columns[:2]
    # Materialize the symmetrized edge list ONCE. Every round joins against
    # `sym`; without this checkpoint each round would re-execute the whole
    # upstream plan that produced the pairs (for dedup_clusters that is the
    # full MinHash pipeline — shingling, signatures, banding, verification)
    # — turning an O(rounds · |E|) loop into O(rounds · corpus-scan).
    sym = cut(
        edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
        .union(edges.select(F.col(v).alias("src"), F.col(u).alias("dst")))
        .distinct()
    )
    old = lab = cut(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    try:
        prev_sum = lab.agg(F.sum("comp")).collect()[0][0]
        for _ in range(max_iter):
            nbr = (
                sym.join(lab, sym["dst"] == lab["node"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            prop = lab.join(nbr, lab["node"] == nbr["src"], "left").select(
                "node",
                F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            hop = prop.select(
                F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
            )
            old, lab = lab, cut(
                prop.join(hop, prop["comp"] == hop["c_node"])
                .select("node", F.col("c_comp").alias("comp"))
            )
            cur_sum = lab.agg(F.sum("comp")).collect()[0][0]
            release(old)
            if cur_sum == prev_sum:
                return lab
            prev_sum = cur_sum
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    except BaseException:
        release(old)
        release(lab)
        raise
    finally:
        release(sym)


def dedup_clusters(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Near-duplicate clusters over the whole corpus: MinHash-LSH verified
    pairs → connected components → one row per document with its cluster
    id (smallest member doc_id), cluster size, and the canonical flag a
    dedup keep-list filters on (keep WHERE is_canonical).

    Docs in no pair are their own singleton cluster — the left join keeps
    the output total-on-documents, so `WHERE is_canonical` is the full
    deduplicated corpus, not just the untouched docs.
    """
    _pairs, cc = _minhash_cc(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = docs.join(cc, docs["doc_id"] == cc["node"], "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def dedup_keep_best(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Quality-aware cluster collapse: within each near-dup cluster keep
    the BEST document (longest text, doc_id tie-break), not the smallest
    id — the policy real curation uses, since near-dup members differ and
    truncation is the usual defect. Emits the per-document keep decision
    plus the kept doc each loser maps to (the redirect table a corpus
    rewrite needs).

    One window over cluster_id computes rank and winner together — the
    sort is per-cluster (bounded by cluster size), reusing the clusters'
    partitioning; no global sort, no extra shuffle beyond the n_chars
    join-back."""
    from pyspark.sql import Window

    clusters = dedup_clusters(spark, sf_dir, cfg).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        clusters.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("kept_doc_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "n_chars",
            (F.col("rn") == 1).alias("keep"),
            "kept_doc_id",
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    (columns a < b) — the clustering-coefficient numerator used to score
    how clique-like a co-occurrence/near-dup neighborhood is.

    Algorithm: the ordered-wedge join. With every edge stored as a < b,
    a triangle {x < y < z} is counted EXACTLY once as the wedge
    (x,y)+(y,z) closed by (x,z) — no ±6 symmetry factor, no directed
    double-counting. Two equi-joins, both on edge endpoints:
    wedges = E(a,b) ⋈ E(b,c), closed by E(a,c).

    Scale notes: wedge volume is Σ_v deg_out(v)² where deg_out counts
    only HIGHER-numbered neighbors — the classic mitigation is to rank
    nodes by total degree (not id) before orienting edges, bounding
    deg_out by O(√|E|) per node; with id-ordered edges (sufficient for
    bounded-vocabulary graphs like item co-occurrence) the same two-join
    plan stands, so the orientation choice is a pre-processing swap, not
    a plan change. Exploded triangle corners shuffle once to aggregate
    per node."""
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("item")
    )
    return corners.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


COOC_TRIANGLE_MIN_USERS = 2


def item_triangles(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Triangle participation per item over the co-occurrence graph:
    edges are item pairs co-viewed by at least COOC_TRIANGLE_MIN_USERS
    users (the support floor prunes noise edges before the quadratic
    wedge join — same guard posture as the dedup DF caps). Output:
    (item, n_triangles)."""
    from .events_analytics import item_cooccurrence

    edges = cut(
        item_cooccurrence(spark, sf_dir, cfg)
        .where(F.col("n_users_both") >= COOC_TRIANGLE_MIN_USERS)
        .select(F.col("item_a").alias("a"), F.col("item_b").alias("b"))
    )  # three consumers in the wedge join
    return triangle_counts(edges)


def dedup_cluster_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-cluster audit of the near-dup graph: one row per MULTI-member
    cluster with its size, source breadth, verified-pair count and
    similarity profile — the report a dedup reviewer reads to decide
    whether a cluster is template spam (large, many sources, high mean
    jaccard) or a borderline merge (pairs at the threshold floor).

    Composition, not re-implementation: the pair frame IS
    dedup_minhash_lsh and the clustering IS connected_components over it
    (shared with dedup_clusters — same comp = smallest member id), so
    the report can never disagree with the operators it audits. Unlike
    dedup_clusters, the report never touches the documents table for
    singleton labeling: a multi-member cluster is by definition a node
    of the pair graph, so the member frame comes straight from the CC
    output (the full-corpus left join would be pure waste here). Scale
    shape: ONE pair-frame computation (lineage-cut — it feeds both the
    CC rounds and the pair stats), one CC output checkpoint for its
    three tiny consumers (sizes, source stats, pair join), pairs/members
    both dup-mass-sized; every multi-cluster has ≥ size-1 pairs by
    construction, so the final joins are inner.

    Determinism: integer counts + MIN over exact doubles; the one mean
    is portable_round-ed at 1e-6 (distributed-avg class)."""
    from ..functions.numeric import portable_round

    pairs, cc = _minhash_cc(spark, sf_dir)
    members = cc.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mstats = (
        members.join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count_distinct("source").cast("long").alias("n_sources"))
    )
    pstats = (
        pairs.join(
            members.select(F.col("doc_id").alias("doc_a"), "cluster_id"),
            "doc_a",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            portable_round(F.avg("jaccard"), 6).alias("mean_jaccard"),
            F.min("jaccard").alias("min_jaccard"),
        )
    )
    return (
        sizes.join(mstats, "cluster_id")
        .join(pstats, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "n_sources",
            "n_pairs",
            "mean_jaccard",
            "min_jaccard",
        )
    )


# Integer PageRank: damping 85/100 as exact rationals, ranks in
# micro-units. Float PageRank can never hash-match across engines (the
# per-node contribution sum is combine-order-dependent); doing the whole
# recurrence in bigint arithmetic — (85·r) div (100·deg) per edge, integer
# teleport — makes every iteration exact and order-free on both engines.
PR_SCALE = 1_000_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_ITERS = 6
PR_TELEPORT = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN


def item_pagerank(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """PageRank over the item co-occurrence graph — the graph-centrality
    popularity signal a recommender/curation pass weights by (an item
    co-bought with many well-connected items outranks one with the same
    raw degree in a clique of nobodies). Composition, not
    re-implementation: the edge list IS item_cooccurrence's verified pair
    frame (same baskets, cap, and props guard), symmetrized.

    Scale shape: PR_ITERS fixed synchronous iterations; each is one
    vocab²-bounded join of the rank frame against the degree-annotated
    edge list plus one map-side-combined groupBy(dst) — the classic
    distributed PageRank shape (never a driver-side adjacency). The
    edge+degree frame is built once and lineage-cut for its PR_ITERS
    reuses. No global rank window — the driver/reader sorts; a global
    ROW_NUMBER over the vocabulary would be the single-partition class
    ccnet's dispatch exists to avoid.

    Determinism: ranks live in integer micro-units; per-edge contribution
    floor((85·r) div (100·deg)) and teleport (PR_DAMP applied to
    PR_SCALE exactly) keep every iteration in bigint — combine order
    cannot move a bit, so PR_ITERS rounds are reproducible anywhere. The
    'pr' column is the exact integer/1e6 division."""
    from .events_analytics import item_cooccurrence

    pairs = item_cooccurrence(spark, sf_dir, cfg).select("item_a", "item_b")
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    return integer_pagerank(edges)


def integer_pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """The exact-integer PageRank recurrence over a SYMMETRIC (src, dst)
    edge frame — see item_pagerank for the semantics and scale notes.
    Exposed so synthetic graphs can pin the arithmetic by hand."""
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    ed = cut(edges.join(deg, "src"))
    nodes = cut(deg.select(F.col("src").alias("item"), "deg"))
    ranks = nodes.select(
        "item", F.lit(PR_SCALE).cast("long").alias("r")
    )
    contrib_expr = F.expr(
        f"({PR_DAMP_NUM} * r) div ({PR_DAMP_DEN} * deg)"
    ).cast("long")
    for _ in range(iters):
        contrib = (
            ranks.join(ed, ranks["item"] == ed["src"])
            .select(F.col("dst").alias("item"), contrib_expr.alias("c"))
            .groupBy("item")
            .agg(F.sum("c").cast("long").alias("c"))
        )
        ranks = nodes.select("item").join(contrib, "item", "left").select(
            "item",
            (
                F.lit(PR_TELEPORT).cast("long")
                + F.coalesce(F.col("c"), F.lit(0).cast("long"))
            ).alias("r"),
        )
    return nodes.join(ranks, "item").select(
        "item",
        F.col("deg").alias("degree"),
        F.col("r").alias("pr_micro"),
        (F.col("r").cast("double") / F.lit(1000000.0)).alias("pr"),
    )
