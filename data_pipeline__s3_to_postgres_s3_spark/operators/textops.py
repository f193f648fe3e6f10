"""Text-analysis operators over the documents table — the LLM-data-pipeline
extension surface (BASELINE.json north star): quality scoring, language ID,
token counting, fingerprinting.

All pure JVM built-ins (split/filter/regexp/md5) — no Python UDFs — so the
whole surface stays inside whole-stage codegen and scales linearly with the
scan. Every ratio is a single int/int → double division (deterministic
across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_table, scan_spread
from ..config import DEFAULT_CONFIG, EngineConfig
from ..session import local_frame

# Shared with oracles/llmops.py — keep in lockstep.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")
# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny deterministic language profiles (marker stopwords per language).
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
    "es": ("el", "la", "y", "es"),
}


def _tokens():
    return F.split(F.col("text"), " ")


def stopword_ratio_expr() -> F.Column:
    """Fraction of whitespace tokens that are STOPWORDS (same expression in
    text_quality and quality_gate — keep in lockstep with the oracles)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.array_size(
        F.expr(f"filter(split(text, ' '), x -> x IN ({stop_list}))")
    )
    return n_stop.cast("double") / F.array_size(_tokens())


def lang_score_cols() -> list[F.Column]:
    """score_<lang> marker-hit counts (inputs to predicted_lang_expr)."""
    return [
        F.array_size(
            F.expr(
                "filter(split(text, ' '), x -> x IN ({}))".format(
                    ", ".join(f"'{w}'" for w in markers)
                )
            )
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def predicted_lang_expr() -> F.Column:
    """argmax over the score_<lang> columns: greatest + chained when with a
    deterministic tie-break (first lang alphabetically wins), 'und' when no
    marker hits."""
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return pred


def text_quality(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-document quality metrics: token counts (whitespace + BPE-ish
    regex), average token length, stopword/punctuation ratios."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.array_size(toks)
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.array_size(
        F.expr(f"filter(split(text, ' '), x -> x IN ({stop_list}))")
    )
    n_chars = F.length("text")
    n_alpha_chars = F.length(F.regexp_replace("text", r"[^A-Za-z0-9]", ""))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
        n_chars.alias("n_chars"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / n_tokens
        ).alias("avg_token_len"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        # Empty-text guard: n_chars = 0 would be a HARD divide-by-zero
        # under Spark 4 ANSI mode (r6 null-robustness matrix); an empty
        # doc has punct ratio 0.0 on both engines.
        F.when(
            n_chars > 0,
            (n_chars - n_alpha_chars - (n_tokens - 1)).cast("double")
            / n_chars,
        ).otherwise(F.lit(0.0)).alias("punct_ratio"),
    )


def lang_id(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Marker-stopword language ID: score each profile by marker-token hits,
    argmax with deterministic tie-break (score DESC, lang ASC), 'und'
    (undetermined) when no marker hits at all."""
    docs = load_table(spark, sf_dir, "documents")

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *lang_score_cols(),
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    return scored.select(
        "doc_id",
        "actual_lang",
        predicted_lang_expr().alias("predicted_lang"),
        best.alias("best_score"),
    )


WINNOW_K = 3  # k-gram size (words)
WINNOW_W = 4  # winnowing window: one fingerprint per w consecutive grams
# Combined (hash, pos) sort key: hash in the high bits, position below —
# window MIN then implements "minimal hash, leftmost position" in one
# bigint (no struct-min needed, so the DuckDB oracle is symmetric).
WINNOW_POS_SPAN = 1 << 20


def winnow_fingerprints(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003):
    hash every word k-gram, slide a w-gram window, keep each window's
    minimal hash — guarantees any shared substring of length ≥ w+k-1
    yields a shared fingerprint, with density ~2/(w+1) of all grams.

    Execution shape: ZERO shuffles. Winnowing is doc-local (the window
    never crosses a document), so the whole k-gram → hash → sliding-min →
    distinct chain runs as array expressions inside one projection; only
    the final (small, ~2/(w+1)-density) fingerprint set explodes into
    rows. The earlier formulation posexploded every gram and paid an
    exchange + sort for a window min plus a second exchange for distinct —
    pure overhead for a per-doc computation (r02: 34.6 s → see BENCH_r04).
    The fingerprint table is what joins against a corpus index for
    plagiarism/near-dup lookup at scale — selectivity is tuned by w,
    independent of doc length."""
    docs = scan_spread(
        spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_grams = f"greatest(size(t) - {WINNOW_K - 1}, 0)"
    grams = F.expr(
        f"zip_with(zip_with(slice(t, 1, {n_grams}), slice(t, 2, {n_grams}),"
        f" (x, y) -> concat(x, ' ', y)), slice(t, 3, {n_grams}),"
        f" (x, y) -> concat(x, ' ', y))"
    )
    # Packed (hash, pos) sort keys, one per gram, in position order.
    keys = F.transform(
        grams,
        lambda g, i: F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast("long")
        * WINNOW_POS_SPAN
        + i.cast("long"),
    )
    # Sliding min over the next w keys. Trailing positions see truncated
    # (<w) windows — harmless extra fingerprints; the oracle uses the
    # identical ROWS frame semantics.
    with_keys = toks.select("doc_id", keys.alias("keys"))
    mins = F.transform(
        F.col("keys"),
        lambda _, i: F.array_min(F.slice(F.col("keys"), i + 1, WINNOW_W)),
    )
    return with_keys.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp_key")
    ).select(
        "doc_id",
        (F.col("fp_key") / WINNOW_POS_SPAN).cast("long").alias("fingerprint"),
        (F.col("fp_key") % WINNOW_POS_SPAN).cast("long").alias("pos"),
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-document top-k terms by TF·IDF (idf = ln(N/df)).

    Shape at scale: terms explode map-side; ONE shuffle on (doc_id, term)
    for tf, ONE on term for df. The vocabulary table (term → df) is tiny
    relative to the corpus (Heaps' law), so the tf⋈df join is
    AQE-broadcast; N arrives as a literal (1-row count scalar, same
    precedent as the watermark reads). Ranking ties break (score DESC,
    term ASC); scores round to 1e-6 BEFORE ranking so the cross-engine
    order is identical despite last-ulp ln() differences (the proven
    k-means/IVF parity recipe)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    score = F.floor(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6 + 0.5
    ) / 1e6
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .select("doc_id", "term", "tf", "df", score.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


# Shared-fingerprint pair mining over the winnowed index (the MOSS
# pipeline's candidate stage): DF-capped so one boilerplate fingerprint
# can't quadratically explode the self-join — same guard philosophy as
# NGRAM_DF_CAP / SIMHASH_BUCKET_CAP in the dedup ladder.
WINNOW_DUP_MIN_SHARED = 5
WINNOW_DUP_DF_CAP = 64


def winnow_dup_candidates(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Document pairs sharing ≥ WINNOW_DUP_MIN_SHARED winnowing
    fingerprints — the candidate stage a plagiarism / near-dup pipeline
    runs over the fingerprint index winnow_fingerprints builds (Schleimer
    et al. 2003 §5: shared fingerprints ⇒ shared substrings of length
    ≥ w+k-1).

    Scale shape: the only expansion is the equi-join on fingerprint, and
    every fingerprint is DF-capped first (fingerprints appearing in more
    than WINNOW_DUP_DF_CAP docs are boilerplate — dropped, like the
    dedup ladder's guards), so per-key candidate volume is ≤ cap² and
    total work is Σ df² over surviving keys — bucketed, never |D|².
    Distinct (doc, fingerprint) before the join: positions don't matter
    for candidacy, and collapsing them first keeps the join input minimal."""
    fps = (
        winnow_fingerprints(spark, sf_dir)
        .select("doc_id", "fingerprint")
        .distinct()
    )
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") <= WINNOW_DUP_DF_CAP)
        .select("fingerprint")
    )
    kept = fps.join(rare, "fingerprint")
    pairs = kept.select("fingerprint", F.col("doc_id").alias("doc_a")).join(
        kept.select("fingerprint", F.col("doc_id").alias("doc_b")),
        "fingerprint",
    ).where(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_DUP_MIN_SHARED)
    )


# Okapi BM25 (Robertson/Spärck Jones; the Lucene/Elasticsearch default
# ranking function) — standard constants.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# Fixed query workload over the synthetic corpus vocabulary (deterministic,
# oracle-replicable — the same role the vec_id<8 query set plays for the
# similarity operators).
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("hash", "join"),
    1: ("window", "agg", "stream"),
    2: ("vector", "scan"),
    3: ("sort", "merge", "batch"),
}


def bm25_topk(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Top-10 documents per query by Okapi BM25 — the lexical retrieval
    primitive a curation pipeline uses for targeted corpus search and
    nearest-neighbor-free decontamination sweeps.

    Scale shape: the corpus scan filters to QUERY terms immediately after
    the map-side explode (a few dozen terms), so every aggregate downstream
    of the scan is tiny: tf is one shuffle of matched (doc, term) rows, df
    reduces tf, and both the df table and the query map broadcast. Corpus
    size enters only through the initial scan; N and avgdl arrive as
    2-scalar literals (watermark-read precedent).

    Determinism: each per-term score is rounded to integer MICRO-UNITS
    (floor(x·1e6 + 0.5) as bigint) before the per-query SUM, making the
    aggregate integer-exact and order-independent — the cents() recipe —
    and insulating the ranking from cross-engine ln() ulps (the tfidf
    precedent). Ties break (score DESC, doc_id ASC)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.array_size(F.split("text", " "))).alias("avgdl"),
    ).collect()[0]
    # avgdl is None on a 0-row corpus: any positive placeholder keeps
    # the (necessarily empty) plan well-formed — r12 empty-table probe.
    n_docs = float(stats["n"])
    avgdl = float(stats["avgdl"]) if stats["avgdl"] is not None else 1.0

    all_terms = sorted({t for q in BM25_QUERIES.values() for t in q})
    terms = docs.select(
        "doc_id",
        F.array_size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    ).where(F.col("term").isin(all_terms))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )
    micro = F.floor(idf * tf_part * 1e6 + F.lit(0.5)).cast("long")

    qmap = local_frame(
        spark,
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "query_id int, term string",
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(qmap), "term")
        .select("query_id", "doc_id", micro.alias("micro"))
        .groupBy("query_id", "doc_id")
        .agg((F.sum("micro") / 1e6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "rank", "doc_id", "score")
    )


BIGRAM_TOP_K = 10


def top_bigrams_per_lang(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Top-10 word bigrams per language by corpus frequency — the n-gram
    statistics pass a corpus-analysis pipeline runs before mixture design.

    Bigrams are built array-side (zip_with over two slices — no
    self-join), explode map-side, then ONE shuffle on (lang, bigram) and a
    top-k window on the post-aggregate frame (|langs| × |vocab²∩corpus|
    rows, far smaller than the corpus). Pure integer counts — bit-stable
    across engines — with (count DESC, bigram ASC) tie-break."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.split("text", " ").alias("t"))
    n_bi = "greatest(size(t) - 1, 0)"
    bigrams = F.expr(
        f"zip_with(slice(t, 1, {n_bi}), slice(t, 2, {n_bi}),"
        f" (x, y) -> concat(x, ' ', y))"
    )
    counted = (
        toks.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BIGRAM_TOP_K)
        .select("lang", "rank", "bigram", "n")
    )


def normalize_text(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alphanumerics,
    collapse runs of whitespace, trim — the cleanup pass upstream of exact
    dedup (doc_fingerprint's normalized_hash uses the lighter variant).

    Pure regexp_replace chain — whole-stage codegen, no shuffle at all
    (the narrowest possible plan: scan → project). The token recount
    guards the empty-string edge (split('') yields [''], not [])."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""),
            r" +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.when(norm == "", 0)
        .otherwise(F.array_size(F.split(norm, " ")))
        .alias("n_tokens_norm"),
        (norm != F.col("text")).alias("changed"),
    )


def char_ngram_diversity(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Character-trigram diversity per document: total/distinct trigram
    counts, distinct ratio, max-frequency ratio, and the Gini–Simpson
    index 1 − Σ(cᵢ/n)² — the CHAR-level repetition/gibberish signal that
    still works where token-level metrics (doc_repetition's dup-token /
    dup-bigram ratios) see one giant "token": unsegmented scripts like zh.

    Why Simpson and not Shannon entropy: every statistic here is EXACT
    integer arithmetic until one final division — Σcᵢ² is an integer, so
    simpson = (n² − Σcᵢ²)/n² is a single IEEE division of exact ints and
    cross-engine deterministic; entropy needs Σ cᵢ·ln(cᵢ), where libm ln
    ulps scaled by large counts can flip a quantization bucket (the hazard
    BM25's micro-unit trick merely shrinks, this formulation eliminates).

    Physical shape: ZERO shuffle — trigram counting happens inside each
    row with array expressions (sort the trigram array, mark run ends by
    comparing against the shifted-by-one array, run lengths = differences
    of end positions), the winnow_fingerprints lesson applied to
    frequency counting. (A fused single-pass aggregate() RLE with a
    struct accumulator was A/B'd in separate processes, r5: 3.2 s vs
    3.55 s warm at sf0.1 — ~10%, inside the noise band; not worth the
    churn. Both shapes are HOF-interpreted; the array cost dominates.) The oracle replicates semantics with a plain
    unnest + GROUP BY; results agree because the math is count-exact.
    (Char indexing is UTF-16-code-unit on the JVM vs codepoint in DuckDB
    — identical for BMP text, which the corpus is; non-BMP corpora would
    need a codepoint-aware split on the Spark side.)"""
    docs = load_table(spark, sf_dir, "documents")
    # The interpreted HOF trigram/RLE kernel is ~4 s in ONE scan task at
    # sf0.1 (single-row-group file, r15 measurement) — spread it across
    # the core grant (catalog.scan_spread; no-op at production splits).
    docs = scan_spread(spark, docs, sf_dir, "documents")
    nt = "greatest(size(chars) - 2, 0)"
    tris = (
        "zip_with(zip_with("
        f"  slice(chars, 1, {nt}), slice(chars, 2, {nt}),"
        "   (x, y) -> concat(x, y)),"
        f"  slice(chars, 3, {nt}),"
        "   (x, y) -> concat(x, y))"
    )
    base = (
        docs.select("doc_id", "lang", F.split("text", "").alias("chars"))
        .select("doc_id", "lang", F.expr(tris).alias("tris"))
        .where(F.array_size("tris") > 0)
        .select("doc_id", "lang", F.array_sort("tris").alias("s"))
    )
    # Run-length encode the sorted trigram array: position i is a run end
    # iff s[i] != s[i+1] ('' sentinel past the end — never a trigram), run
    # lengths are differences of consecutive end positions.
    ends = (
        "filter(zip_with("
        "  zip_with(s, concat(slice(s, 2, size(s) - 1), array('')),"
        "           (x, y) -> x != y),"
        "  sequence(1, size(s)),"
        "  (f, i) -> if(f, i, -1)),"
        " v -> v >= 0)"
    )
    counts = (
        "zip_with(ends, concat(array(0), slice(ends, 1, size(ends) - 1)),"
        " (e, p) -> cast(e - p AS BIGINT))"
    )
    withc = base.select(
        "doc_id", "lang", F.expr(ends).alias("ends")
    ).select(
        "doc_id",
        "lang",
        F.array_size("ends").cast("long").alias("n_distinct"),
        F.expr(counts).alias("counts"),
    )
    n = F.expr("aggregate(counts, CAST(0 AS BIGINT), (acc, c) -> acc + c)")
    sum_sq = F.expr(
        "aggregate(counts, CAST(0 AS BIGINT), (acc, c) -> acc + c * c)"
    )
    return withc.select(
        "doc_id",
        "lang",
        n.alias("n_trigrams"),
        "n_distinct",
        F.expr("array_max(counts)").alias("max_count"),
        sum_sq.alias("sum_sq"),
    ).select(
        "doc_id",
        "lang",
        "n_trigrams",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_trigrams")).alias(
            "distinct_ratio"
        ),
        (F.col("max_count").cast("double") / F.col("n_trigrams")).alias(
            "max_freq_ratio"
        ),
        (
            (
                F.col("n_trigrams") * F.col("n_trigrams") - F.col("sum_sq")
            ).cast("double")
            / (F.col("n_trigrams") * F.col("n_trigrams")).cast("double")
        ).alias("simpson_index"),
    )


def token_budget_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Token-budget cross-tab per (lang, source): doc count, whitespace and
    BPE-ish token totals, and each cell's share of the global BPE budget —
    the table a mixture spec reads when budgets are counted in TOKENS, not
    documents (corpus_stats is per-lang, per_source_report per-source;
    mixture quotas need the full cross-tab).

    ONE scan + one groupBy(lang, source) with map-side combine; the global
    total is a 1-row aggregate of the cell frame injected back by
    broadcast crossJoin (the scalar-injection idiom, cf. relational.py) —
    no single-partition global window, so a long tail of sources never
    serializes. The cell frame feeds both the total and the output, so it
    is localCheckpoint-ed (exchange reuse does not fire across the two
    consumers — CLAUDE.md, dedup_simhash lesson). share_pct is an
    exact-int / exact-int division, portable_round-ed at 1e-6 on both
    sides (CLAUDE.md float rule); integer SUMs are cast back to BIGINT in
    the oracle (HUGEINT trap, oracles/llmops.py)."""
    from ..functions.numeric import portable_round

    docs = load_table(spark, sf_dir, "documents")
    ws = F.array_size(F.split(F.col("text"), " "))
    bpe = F.regexp_count("text", F.lit(BPE_PATTERN))
    per_cell = cut(
        docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            F.sum(bpe).alias("bpe_tokens"),
        )
    )
    total = per_cell.agg(F.sum("bpe_tokens").alias("t"))
    return per_cell.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        portable_round(
            F.col("bpe_tokens") * F.lit(100).cast("double") / F.col("t"), 6
        ).alias("share_pct"),
    )


def doc_fingerprint(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Content fingerprints: exact md5, normalized md5 (lower + collapsed
    whitespace), and a 4-hex shard key — the partitioning handle for
    dedup-by-fingerprint at scale (hash-partition on shard_key ⇒ each
    partition dedups locally, no global shuffle of payloads)."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace("text", r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_hash"),
        F.md5(normalized).alias("normalized_hash"),
        F.substring(F.md5(F.col("text")), 1, 4).alias("shard_key"),
        F.length("text").alias("n_chars"),
    )


VOCAB_K = 64  # top-K corpus tokens form the reference vocabulary


def vocab_oov_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-VOCAB_K corpus token
    vocabulary (count DESC, token ASC tie-break — deterministic), then
    score every document's out-of-vocabulary ratio against it. The
    standard pre-tokenizer check a training pipeline runs before
    committing a vocab size: high per-doc OOV → the tokenizer will
    fragment that slice of the corpus.

    Output: (doc_id, n_tokens, n_oov, oov_ratio).

    Scale shape: the vocab census is one map-side-combined groupBy(token)
    + TakeOrdered(K) — only K rows reach the driver (the sanctioned
    ≤k-row collect: centroid/seed-frame precedent, similarity.py). The
    vocabulary re-enters the plan as a K-string array LITERAL, so the
    scoring pass is ZERO shuffle: an array_contains filter inside the
    scan projection (the one-shot literal-index trick — wins here exactly
    as it does for IVF, and this is not an iterative loop so the
    plan-compile caveat from CLAUDE.md does not bind). The per-doc pass
    never joins and never shuffles; a 100 TB corpus scores at scan speed.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    vocab_rows = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(VOCAB_K)
        .collect()
    )
    vocab = F.array(*[F.lit(r["tok"]) for r in vocab_rows])
    n_tokens = F.array_size(F.col("t"))
    n_oov = F.array_size(
        F.filter(F.col("t"), lambda x: ~F.array_contains(vocab, x))
    )
    return toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_oov.alias("n_oov"),
        (n_oov.cast("double") / n_tokens).alias("oov_ratio"),
    )


def lang_confusion_matrix(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Language-ID evaluation matrix: labeled lang × predicted lang with
    counts and the per-cell share of the labeled row — the confusion
    matrix that turns lang_id from a scoring function into an evaluated
    classifier (precision/recall read straight off the cells; the 'und'
    column is the abstention rate). Reuses lang_id's exact scoring
    expressions, so the matrix can never drift from the classifier it
    audits.

    Zero extra passes: one scan computes the scores, one groupBy on the
    |langs|² cell space with map-side combine; row totals come from a
    window over THAT tiny frame. row_share is one long division."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("actual_lang"), *lang_score_cols()
    ).select("actual_lang", predicted_lang_expr().alias("predicted_lang"))
    cells = scored.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "predicted_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(tot)).alias(
            "row_share"
        ),
    )


# Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the standard
# hybrid-retrieval combiner: rrf(d) = Σ_channels 1/(RRF_K + rank_c(d)).
# K=60 is the published default. Channel pools are the two retrieval
# operators' own top-k lists (BM25 and cosine), so fusion adds NO new
# corpus scan — it joins two ≤|Q|·k frames.
RRF_K = 60
RRF_TOP_K = 10


def rrf_hybrid_topk(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Hybrid retrieval: fuse the lexical (BM25 over documents) and dense
    (cosine over embeddings, vec_id ≡ doc_id) channels per query with
    reciprocal-rank fusion — the fusion step every RAG/curation retrieval
    stack runs when it has both a keyword index and an ANN index.

    Query workload: BM25_QUERIES ids; query q's dense twin is the
    embedding with vec_id = q (the corpus aligns doc_id and vec_id).

    Scale shape: both channels end in |Q|·k candidate frames (the corpus
    scan cost lives inside the channel operators — broadcast query sets,
    map-side filters); the fusion itself is a full-outer join of two tiny
    frames and one partitioned window. At 100 TB the channels swap to
    their own scale paths (BM25's filtered scan, LSH/IVF ANN) without
    touching the fusion.

    Determinism: each RRF term is one IEEE division of integer-derived
    values — 1.0/(60 + rank) — summed in fixed written order (lex + emb),
    so scores are bit-identical across engines with no rounding step.
    Ties break (rrf DESC, doc_id ASC). Channel ranks surface as 0 (not
    NULL) when a doc missed that channel's pool — a nullable int column
    would widen to float64 in BOTH engines' pandas materialization and
    hash on NaN (r4→r5 dtype lesson)."""
    from .similarity import _cosine, _embeddings, _with_norm
    from ..functions.numeric import portable_round

    lex = bm25_topk(spark, sf_dir, cfg).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )

    emb = _with_norm(_embeddings(spark, sf_dir))
    q_ids = sorted(BM25_QUERIES)
    queries = emb.where(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm").alias("q_norm"),
    )
    sim = portable_round(
        _cosine("q_embedding", "embedding", "q_norm", "norm"), 4
    )
    from pyspark.sql import Window

    cw = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("doc_id")
    )
    dense = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("doc_id"), sim.alias("sim")
        )
        .withColumn("emb_rank", F.row_number().over(cw))
        .where(F.col("emb_rank") <= RRF_TOP_K)
        .select("query_id", "doc_id", "emb_rank")
    )

    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("emb_rank")), F.lit(0.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.select(
            "query_id", "doc_id", rrf.alias("rrf_score"),
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("emb_rank", F.lit(0)).alias("emb_rank"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= RRF_TOP_K)
        .select(
            "query_id", "rank", "doc_id", "rrf_score", "lex_rank", "emb_rank"
        )
    )


# Corpus-saturation timeline: ingest batches of this many docs (by the
# corpus's append order, doc_id — the epoch precedent from the streaming
# dedup). sf0.01's 5k docs → 10 points; scale-invariant semantics.
NOVELTY_BATCH_DOCS = 500


def ngram_novelty_timeline(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Vocabulary-growth / novelty curve over the corpus's append order:
    per ingest batch (NOVELTY_BATCH_DOCS docs by doc_id), how many
    distinct 3-gram shingles appear, how many are NEW (first occurrence
    anywhere in the corpus so far), the cumulative vocabulary, and the
    novelty rate — the saturation signal a data-acquisition loop reads to
    decide whether the next crawl slice still adds information (Heaps'
    law flattening = diminishing returns).

    Scale shape: TWO corpus scans total. Scan 1: per-batch doc +
    occurrence totals fused into one map-side-combined groupBy(batch) —
    occurrences are row-local array_size over the shingle array, no
    explode, 0-shingle docs carried (keep_empty). Scan 2: the vocabulary
    pass — ONE exchange on shingle: groupBy(shingle).agg(
    collect_set(batch)) dedups and captures per-batch presence in the
    same shuffle (the set is bounded by |batches|, not |docs|), then
    explodes back to (batch, is_new) rows — no distinct-pairs frame
    consumed twice, no checkpoint needed. The final cumsum window runs
    over the |batches|-row frame (constant-size, curation_funnel
    precedent).

    Determinism: pure integer counts until the one novelty_rate division;
    shingles are doc-level-distinct (dedup-family definition, shared
    `_shingle_arrays`)."""
    from pyspark.sql import Window

    from .dedup import _shingle_arrays

    docs = load_table(spark, sf_dir, "documents")
    batch = F.expr(
        f"CAST(doc_id AS BIGINT) div {NOVELTY_BATCH_DOCS}"
    ).alias("batch")
    # Scan 1: doc census + occurrence totals in ONE pass. keep_empty so
    # 0-shingle (and NULL-text) docs still count toward n_docs; their
    # shingles array is empty/NULL → ns coalesces to 0.
    per_batch = (
        _shingle_arrays(docs.select("doc_id", "text"), keep_empty=True)
        .select(
            batch,
            F.coalesce(F.array_size("shingles"), F.lit(0))
            .cast("long")
            .alias("ns"),
        )
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ns").cast("long").alias("n_shingle_occurrences"),
        )
    )
    # Scan 2: the vocabulary pass (0-shingle docs contribute nothing).
    sh = _shingle_arrays(docs.select("doc_id", "text")).select(
        batch, "shingles"
    )
    vocab = (
        sh.select("batch", F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.collect_set("batch").alias("batches"))
        .select(
            F.array_min("batches").alias("first_batch"),
            F.explode("batches").alias("batch"),
        )
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_shingles"),
            F.sum(
                F.when(F.col("batch") == F.col("first_batch"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new_shingles"),
        )
    )
    joined = per_batch.join(vocab, "batch", "left").select(
        "batch",
        "n_docs",
        "n_shingle_occurrences",
        F.coalesce("n_distinct_shingles", F.lit(0))
        .cast("long")
        .alias("n_distinct_shingles"),
        F.coalesce("n_new_shingles", F.lit(0))
        .cast("long")
        .alias("n_new_shingles"),
    )
    cum_w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "batch",
        "n_docs",
        "n_shingle_occurrences",
        "n_distinct_shingles",
        "n_new_shingles",
        F.sum("n_new_shingles").over(cum_w).cast("long").alias("cum_vocab"),
        F.when(
            F.col("n_distinct_shingles") > 0,
            F.col("n_new_shingles").cast("double")
            / F.col("n_distinct_shingles").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty_rate"),
    )


# First BPE merge iteration's census: top merge candidates. 50 rows is a
# readable report; the full ranked table is the same plan minus the limit.
BPE_TOPK = 50


def bpe_merge_census(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Tokenizer induction, first iteration: the corpus-wide frequency
    census of adjacent character pairs WITHIN pre-tokens — exactly the
    statistic a BPE trainer computes to pick its next merge. Emits the
    top BPE_TOPK candidate merges: (pair, pair_count, n_distinct_words).

    Scale shape — the trick real BPE trainers use, expressed in Spark:
    reduce the corpus to its WORD VOCABULARY first (one map-side-combined
    groupBy over the pre-token stream), then explode character pairs over
    vocab rows only — the quadratic-ish pair expansion touches |vocab| ·
    word_len rows, never the corpus. Second exchange is on pair (tiny).
    TakeOrdered(K) ends the plan — only K rows reach the driver's sink.

    Determinism: pre-tokens are BPE_PATTERN matches (letter runs / digit
    runs / single punctuation — multibyte chars land as length-1 tokens,
    so substring pair extraction never splits a codepoint); counts are
    exact longs; ordering (count DESC, pair ASC) is total because pair is
    unique."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr(
                    f"regexp_extract_all(coalesce(text, ''),"
                    f" '{BPE_PATTERN}', 0)"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = words.where(F.length("word") >= 2).select(
        "word",
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wc").cast("long").alias("pair_count"),
            F.count_distinct("word").cast("long").alias("n_distinct_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


# Bigram-LM quality scoring (the CCNet recipe's core signal: docs whose
# text the corpus LM finds surprising are junk or out-of-domain).
# Micro-nat quantization scale for per-bigram surprisal — the tfidf/bm25
# ln()-ulp insulation convention.
LM_NLL_SCALE = 1_000_000


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent whitespace-token pair, in
    position order. NULL text = empty doc (mirrored coalesce); docs with
    < 2 tokens contribute nothing (the sequence() guard doubles as the
    empty-split [''] case: array_size 1). Shared by the bigram-LM scorer
    and the PMI collocation census so tokenization can never drift
    between them."""
    toks = docs.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
    )
    return (
        toks.where(F.array_size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, array_size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )


def ngram_lm_perplexity(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-document bigram language-model surprisal — the CCNet-style
    quality signal: train an add-one (Laplace) bigram LM on the corpus
    itself in one pass, then score every document by its mean negative
    log-probability under that LM. High avg_nll = the corpus finds the
    doc surprising (boilerplate soup, foreign text, mojibake); the
    downstream mixture owner buckets or thresholds on it exactly like
    CCNet's wiki-LM perplexity filter.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), c(w1·) = corpus
    count of w1 in bigram-left position, V = |{distinct w2}|. Emits
    doc_id, n_bigrams, the order-independent integer micro-nat sum, the
    mean NLL, and perplexity = exp(mean NLL). Docs with < 2 whitespace
    tokens (incl. NULL text via the mirrored coalesce) have no bigrams
    and carry no row — deterministic and oracle-mirrored.

    Scale shape: ONE tokenize+explode scan feeds a per-doc bigram
    groupBy; that frame is lineage-cut (localCheckpoint — dedup_simhash
    precedent) because FOUR consumers re-execute it otherwise (c2, c1,
    the vocab scalar, the probe side). The count tables are vocab-sized
    (Zipf: bigram types ≪ occurrences), built with map-side partial
    aggregation; the probe joins shuffle on (w1,w2) then (w1) — at
    100 TB the hot-context skew on the w1 join (think "the") is the AQE
    skew-join class, and both count tables usually broadcast outright.
    V is a 1-row scalar read off the checkpointed frame (watermark-read
    precedent).

    Determinism: per-bigram surprisal is quantized to integer micro-nats
    BEFORE the per-doc SUM (floor(-ln(p)·1e6 + 0.5) — libm-ulp
    insulation, tfidf precedent), so the distributed sum is exact
    integer arithmetic in any combine order; the two final divisions and
    exp() run on identical doubles in both engines, portable_round-ed."""
    docs = load_table(spark, sf_dir, "documents")
    bg = _doc_bigrams(docs)
    # Per-doc bigram multiplicities: the ONLY corpus-scale explode, cut
    # once and reused by all four consumers below.
    bgc = cut(
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    c2 = bgc.groupBy("w1", "w2").agg(
        F.sum("m").cast("long").alias("c_bg")
    )
    c1 = bgc.groupBy("w1").agg(F.sum("m").cast("long").alias("c_ctx"))
    vocab = int(
        bgc.agg(F.count_distinct("w2").alias("v")).collect()[0]["v"] or 0
    )
    p = (F.col("c_bg").cast("double") + F.lit(1.0)) / (
        F.col("c_ctx").cast("double") + F.lit(float(vocab))
    )
    scored = (
        bgc.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select(
            "doc_id",
            "m",
            F.floor((-F.log(p)) * F.lit(float(LM_NLL_SCALE)) + F.lit(0.5))
            .cast("long")
            .alias("nll_micro"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("nll_micro"))
        .cast("long")
        .alias("nll_micro_sum"),
    )
    from ..functions.numeric import portable_round

    avg_nll = portable_round(
        (F.col("nll_micro_sum").cast("double") / F.lit(1000000.0))
        / F.col("n_bigrams").cast("double"),
        4,
    )
    return agg.select(
        "doc_id", "n_bigrams", "nll_micro_sum", avg_nll.alias("avg_nll")
    ).select(
        "doc_id",
        "n_bigrams",
        "nll_micro_sum",
        "avg_nll",
        portable_round(F.exp(F.col("avg_nll")), 2).alias("ppl"),
    )


# Collocation census: report size and the hapax guard (PMI alone ranks
# one-off pairs first; any corpus-linguistics run screens by count).
PMI_TOPK = 50
PMI_MIN_PAIR_COUNT = 5


def bigram_pmi_topk(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Collocation mining: the corpus's top-PMI adjacent word pairs —
    pointwise mutual information ln(P(w1,w2) / (P(w1·)·P(·w2))) over the
    bigram table, screened to pairs seen >= PMI_MIN_PAIR_COUNT times.
    This is the classic multi-word-expression detector a tokenizer/vocab
    curation pass runs ("new york", "machine learning" merge before
    random pairs), sibling of bpe_merge_census one level up (words, not
    characters).

    Scale shape: one tokenize+explode scan into a map-side-combined
    groupBy(w1,w2); the pair-type frame (vocab²-bounded, ≪ occurrences)
    is lineage-cut for its FOUR consumers (two marginal groupBys, the
    total scalar, the probe). Marginals are computed from the FULL pair
    table (probabilities stay exact); only the probe side is screened.
    Top-K is TakeOrdered (O(K) per partition, no global sort) over a
    total order: integer pmi_micro DESC, then (w1, w2) — deterministic
    because pmi_micro is quantized BEFORE ranking (tfidf precedent).

    Determinism: all counts integer; one ln() per surviving pair,
    quantized to micro-nats with identical token streams in both
    engines; the reported pmi is the exact integer/1e6 division."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = cut(
        _doc_bigrams(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    )
    left = pairs.groupBy("w1").agg(
        F.sum("pair_count").cast("long").alias("c_left")
    )
    right = pairs.groupBy("w2").agg(
        F.sum("pair_count").cast("long").alias("c_right")
    )
    total = int(
        pairs.agg(F.sum("pair_count").alias("t")).collect()[0]["t"] or 0
    )
    pmi = F.log(
        (F.col("pair_count").cast("double") * F.lit(float(total)))
        / (F.col("c_left").cast("double") * F.col("c_right").cast("double"))
    )
    return (
        pairs.where(F.col("pair_count") >= PMI_MIN_PAIR_COUNT)
        .join(left, ["w1"])
        .join(right, ["w2"])
        .select(
            "w1",
            "w2",
            "pair_count",
            "c_left",
            "c_right",
            F.floor(pmi * F.lit(float(LM_NLL_SCALE)) + F.lit(0.5))
            .cast("long")
            .alias("pmi_micro"),
        )
        .select(
            "*",
            (F.col("pmi_micro").cast("double") / F.lit(1000000.0)).alias(
                "pmi"
            ),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOPK)
    )


# Count-min sketch geometry: 4 independent rows × 1024 buckets = 4096
# cells TOTAL regardless of vocabulary size — the whole point at 100 TB.
# Hash family: (a·h + b) mod PRIME mod WIDTH over the shared first-7-hex
# md5 integer (the minhash permutation idiom, operators/dedup.py).
CMS_ROWS_AB = ((131, 737), (1031, 4349), (7919, 104729), (611953, 7368787))
CMS_WIDTH = 1024
CMS_PRIME = 4294967311  # smallest prime > 2^32 (shared with minhash)
CMS_TOPK = 20


def cms_entries(token_col: str = "token") -> F.Column:
    """array<struct<r,bucket>> — the token's 4 CMS cell coordinates.
    Shared expression between the batch audit (heavy_hitters_cms) and
    the streaming maintainer (streaming.stream_heavy_hitters) so the
    sketch geometry can never drift between them; mirrored in SQL by
    the oracle's params VALUES + the md5-hex7 Horner chain."""
    h = F.conv(
        F.substring(F.md5(F.col(token_col)), 1, 7), 16, 10
    ).cast("long")
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (
                    (F.lit(a) * h + F.lit(b)) % CMS_PRIME % CMS_WIDTH
                ).alias("bucket"),
            )
            for r, (a, b) in enumerate(CMS_ROWS_AB)
        ]
    )


def heavy_hitters_cms(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Count-min-sketch heavy-hitter audit: estimate the corpus's top
    CMS_TOPK token frequencies from a 4×1024-cell CMS and report them
    NEXT TO the exact counts — (token, exact_count, cms_estimate,
    overestimate). The sketch class the dedup/similarity families don't
    cover (HLL counts distincts, MinHash sets, Bloom membership; CMS
    answers point-frequency queries in bounded memory), with the
    estimate-vs-exact audit twin the minhash_estimate_audit precedent
    established. CMS never under-counts, so overestimate ≥ 0 — pinned in
    tests.

    Scale shape: the sketch is a groupBy((row, bucket)) SUM over ≤ 4096
    keys — at 100 TB the cells build directly from the token stream with
    map-side combine (each mapper emits at most 4096 partial cells, the
    shuffle is 4096 rows per mapper regardless of corpus size) and the
    probe set comes from a candidate stream. At sf the exact census is
    affordable and doubles as BOTH the audit's truth side and the cell
    source (summing per-token counts into cells is associative —
    identical to streaming increments). One tokenize scan; the census
    frame is lineage-cut for its two consumers; the probe/cell joins
    move ≤ 4·CMS_TOPK rows.

    Determinism: md5 is the shared cross-engine hash; every bucket and
    count is exact integer arithmetic; the probe set orders by
    (count DESC, token ASC)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("token")
    ).where(F.col("token") != "")
    tc = cut(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    entries = cms_entries()
    cells = (
        tc.select("exact_count", F.explode(entries).alias("e"))
        .groupBy("e.r", "e.bucket")
        .agg(F.sum("exact_count").alias("cell"))
    )
    probe = (
        tc.orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(CMS_TOPK)
        .select("token", "exact_count", F.explode(entries).alias("e"))
        .select("token", "exact_count", "e.r", "e.bucket")
    )
    return (
        F.broadcast(probe)
        .join(cells, ["r", "bucket"])
        .groupBy("token")
        .agg(
            F.max("exact_count").alias("exact_count"),
            F.min("cell").alias("cms_estimate"),
        )
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
    )
