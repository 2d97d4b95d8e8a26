"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting (SURVEY.md §2.11 extensions).

All computed with portable JVM-side expressions (see
functions.portable) so each has an exact DuckDB oracle. No Python UDFs:
at 100 TB these run inside whole-stage codegen alongside the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from streaming_parquet_spark.functions.portable import (
    filter_count_expr,
    round_to_col,
    n_words_expr,
    rolling_hash_expr,
    word_hashes_expr,
    words_expr,
)
from streaming_parquet_spark.staging import stage

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID (deterministic, oracle-reproducible).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no"],
}

PUNCT_CLASS = r"[.,!?;:]"


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count (whitespace) + a BPE-ish subword estimate: ceil of
    chars/4 bounded below by word count — the standard cheap token-count
    proxy when no tokenizer is available."""
    words = words_expr("spark", text_col)
    n_words = F.expr(n_words_expr("spark", text_col))
    n_chars = F.length(text_col)
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_chars_calc", n_chars)
        .withColumn("n_distinct_words", F.expr(f"size({words})"))
        .withColumn(
            "est_tokens",
            F.greatest(F.col("n_words"), F.ceil(n_chars / F.lit(4.0))),
        )
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, punctuation ratio, mean word length,
    stopword ratio, composite score in [0,1]."""
    n_words = F.expr(n_words_expr("spark", text_col))
    n_chars = F.length(text_col)
    punct = n_chars - F.length(F.regexp_replace(text_col, PUNCT_CLASS, ""))
    words = words_expr("spark", text_col)
    stop_hits = F.expr(filter_count_expr("spark", words, STOPWORDS["en"]))
    # NULL for empty/whitespace-only docs (guards 0-divisors; a NULL
    # condition below falls through to the 0.0 branch).
    mean_wlen = F.when(n_words > 0, (n_chars - n_words + 1) / n_words)
    punct_ratio = F.when(n_chars > 0, punct / n_chars)
    score = (
        F.when(n_words >= 5, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("punct_ratio", round_to_col(punct_ratio, 4))
        .withColumn("mean_word_len", round_to_col(mean_wlen, 4))
        .withColumn("stopword_hits", stop_hits)
        .withColumn("quality_score", round_to_col(score, 2))
    )


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: argmax of per-language stopword hit
    counts, 'und' (undetermined) when all are zero. Deterministic
    tie-break = language order en, de, fr, es."""
    words = words_expr("spark", text_col)
    df = df.withColumn("__w", F.expr(words))
    hits = {
        lang: F.expr(filter_count_expr("spark", "__w", sw))
        for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # insertion order = tie-break order
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.withColumn("lang_pred", pred).drop("__w")


# Deliberately simple, oracle-portable masking patterns. NO \b: word
# boundaries are NOT portable — Java's \b treats unicode letters as
# word chars while RE2's is ASCII-only, so 'ü555-123-4567' matched in
# DuckDB but not Spark (found by adversarial corpus). The phone
# boundary is therefore an EXPLICIT ASCII word-char guard — a captured
# (^|[^word]) prefix and ($|[^word]) suffix, re-emitted via group
# references — which both engines evaluate identically on any text.
# (RE2 has no lookarounds, so the guards consume one char: a second
# phone starting immediately after a masked one's single separator is
# missed — the standard consume-guard tradeoff, documented here.)
# Replacement group syntax differs per dialect ($1 vs \1); entries are
# (pattern, replacement-with-{g}-placeholders) rendered per engine.
_W = "0-9a-zA-Z_"
PII_PATTERNS = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (
        rf"(^|[^{_W}])(\d{{3}}[- .]\d{{3,4}}[- .]\d{{4}})($|[^{_W}])",
        "{g1}<PHONE>{g3}",
    ),
)


def render_pii_replacement(template: str, dialect: str) -> str:
    """Render a PII replacement template's group refs for an engine
    (Spark/Java: ``$1``; DuckDB/RE2: ``\\1``)."""
    mark = "$" if dialect == "spark" else "\\"
    return template.replace("{g1}", f"{mark}1").replace("{g3}", f"{mark}3")


def with_pii_scrubbed(
    df: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Mask common PII shapes (emails, URLs, phone-like numbers) — the
    standard pre-training scrub pass. Pure regexp_replace chain: runs
    inside whole-stage codegen next to the scan; no Python."""
    expr = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        expr = F.regexp_replace(expr, pat, render_pii_replacement(repl, "spark"))
    return df.withColumn(out_col, expr)


def ngram_counts(
    df: DataFrame, text_col: str = "text", n: int = 2, min_count: int = 2
) -> DataFrame:
    """Corpus-level n-gram frequencies: explode shingles -> count.
    Scale: one shuffle on the n-gram (map-side partial counts first);
    min_count filters the long tail after the aggregate."""
    from streaming_parquet_spark.functions.portable import (
        ordered_words_expr,
        shingles_expr,
    )

    sh = shingles_expr("spark", ordered_words_expr("spark", text_col), n)
    return (
        df.select(F.explode(F.expr(sh)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    log_score: bool = False,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Ranking key is the RATIONAL score tf * (N+1) / (df+1) — a monotone
    idf in df for fixed tf, computed with one IEEE double division that
    both engines round identically, so ranks are bit-stable cross-engine
    (a log-based key would hang tie-breaks on libm's last ulp). By
    default ``score`` IS that rational key (rounded 4dp) — every output
    cell is then engine-libm-free, so an oracle can hash it exactly.
    ``log_score=True`` emits the familiar smoothed log score
    tf * (ln((N+1)/(df+1)) + 1) instead — same ranks, nicer dynamic
    range for humans, but the last printed digit rides on the engine's
    libm, so don't bit-compare it across engines.

    Output: id, term, tf, df, score, rank (rank <= k, ties by term).
    Shuffle shape at 100 TB: explode -> partial-aggregated (doc, term)
    counts -> term-level document frequencies (vocab-sized, tiny) joined
    back — the DF side is broadcastable; N rides a 1-row broadcast."""
    words = F.expr(
        f"filter(split(trim({text_col}), ' +'), w -> w <> '')"
    )
    # NOT materialized (A/B'd): tf is corpus-sized — a persist+count
    # of it costs more than the one duplicate explode it would save,
    # locally and at scale (the explode is scan-stage work; the
    # persist is a full extra write+read of the exploded form).
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(words).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).alias("__n")
    )
    scored = (
        # vocab-sized by construction (one row per distinct term) —
        # broadcast it so the score join never sort-merges. CAVEAT at
        # extreme vocabulary scale (ADVICE r15): the forced hint builds
        # the broadcast by re-running the explode lineage and is capped
        # at 8 GB — a deployment whose distinct-term count approaches
        # that should staging.stage(dfreq) instead (exact stats, auto
        # broadcast only when it fits). A/B'd here: the eager staging
        # costs +0.4 s per gate at fixture scale, so the hint stays.
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__key",
            F.col("tf") * (F.col("__n") + 1) / (F.col("df") + 1),
        )
        .withColumn(
            "score",
            round_to_col(
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1),
                4,
            )
            if log_score
            else round_to_col(F.col("__key"), 4),
        )
    )
    w = W.partitionBy("id").orderBy(F.col("__key").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "df", "score", "rank")
    )


def chi2_terms(
    df: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 5,
) -> DataFrame:
    """Top-k terms most ASSOCIATED with each class (domain/source) by
    the chi-square statistic over document frequencies — the classic
    feature-selection / corpus-QA question "which terms are
    over-represented in which slice?". For term t and class c with
    2x2 contingency (a = docs in c containing t, b = docs elsewhere
    containing t, c_ = docs in c without t, d = elsewhere without t)::

        chi2 = N * (a*d - b*c_)^2 / ((a+b)(c_+d)(a+c_)(b+d))

    Counting plan at 100 TB: one explode of per-document DISTINCT
    terms -> partial-aggregated (term, class) doc counts (vocab x
    classes rows); term totals derive from those by a vocab-sized
    re-aggregation; class totals and N are broadcast scalars. The
    ``min_df`` guard drops the hapax tail before any join or window,
    and the final top-k is a window over vocab rows per class — never
    corpus rows.

    Determinism: every contingency cell is an exact integer;
    (a*d - b*c_) is computed exactly in int64 (safe while doc counts
    stay under ~3e9 per cell), then the square, products, and one
    division run as IEEE doubles in a FIXED operand order — each
    double op is correctly rounded, so any engine reproduces the
    statistic bit-for-bit from the same integers. Ranking uses the
    un-rounded double, ties by term.

    Output: class_col, term, df_in (a), df_out (b), chi2 (4dp), rank.
    """
    from streaming_parquet_spark.functions.portable import words_expr

    # Materialized once: the (term, class) counts feed the term-total
    # aggregate AND the contingency join — two full corpus explodes
    # otherwise. vocab x classes rows, tiny at any corpus size.
    tc = stage(
        df.select(
            F.col(class_col).alias("cls"),
            F.explode(F.expr(words_expr("spark", text_col))).alias("term"),
        )
        .groupBy("term", "cls")
        .agg(F.count(F.lit(1)).alias("a")),
    )
    tdf = tc.groupBy("term").agg(F.sum("a").alias("tdf"))
    cls_n = df.groupBy(F.col(class_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("nn"))
    full = (
        # vocab-sized (one row per distinct term) — broadcast it
        tc.join(F.broadcast(tdf), "term")
        .filter(F.col("tdf") >= min_df)
        .join(F.broadcast(cls_n), "cls")
        .crossJoin(F.broadcast(n_docs))
        # a term present in EVERY document has (c_+d) = 0 — chi2 is
        # undefined (and the term carries no signal); drop it before
        # the division rather than emitting NaN
        .filter(F.col("tdf") < F.col("nn"))
        # likewise a class containing EVERY document has (b+d) = 0;
        # NULL (Spark 0/0) and NaN (DuckDB) sort oppositely under the
        # DESC ranking window, so the degenerate class must be dropped
        # identically on both sides
        .filter(F.col("nc") < F.col("nn"))
        .withColumn("b", F.col("tdf") - F.col("a"))
        .withColumn("c_", F.col("nc") - F.col("a"))
        .withColumn(
            "d", F.col("nn") - F.col("tdf") - F.col("nc") + F.col("a")
        )
    )
    # exact int64 determinant, then fixed-order IEEE double arithmetic
    chi2 = (
        F.col("nn").cast("double")
        * (F.col("a") * F.col("d") - F.col("b") * F.col("c_"))
        .cast("double")
        * (F.col("a") * F.col("d") - F.col("b") * F.col("c_"))
        .cast("double")
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c_") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c_")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
        )
    )
    w = W.partitionBy("cls").orderBy(F.col("__key").desc(), F.col("term"))
    return (
        full.withColumn("__key", chi2)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("cls").alias(class_col),
            "term",
            F.col("a").alias("df_in"),
            F.col("b").alias("df_out"),
            round_to_col(F.col("__key"), 4).alias("chi2"),
            "rank",
        )
    )


def domain_similarity(
    df: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Pairwise cosine similarity between class (domain) unigram
    COUNT vectors — the corpus-QA companion to chi2_terms: "which
    domains speak the same language?" drives mixing, dedup-block, and
    contamination decisions between slices.

    The quadratic accumulators (dot = sum n_a*n_b, squared norm
    q = sum n^2) run in DOUBLE: a hot term at 100 TB carries a count
    of ~5e11, whose square (~2.5e23) silently wraps a BIGINT
    accumulator under non-ANSI mode — a garbage cosine on exactly the
    corpora this operator targets.  Each product is formed double *
    bigint (never an int64 product first), so no intermediate
    overflows; while the running sums stay under 2^53 every addition
    is exact, making the value order-independent and bit-identical to
    the DuckDB oracle (true at any fixture scale).  Beyond 2^53 the
    sum degrades gracefully to ~1e-16 relative error per op — a
    cosine needs ~15 significant digits, not exact integers.

    Plan at 100 TB: one explode -> partial-aggregated (term, class)
    counts (vocab x classes rows); the pair dot is an inverted-index
    equi-join on term over that aggregate — never over corpus rows —
    and the output is C(classes, 2) rows. ``min_count`` trims hapax
    terms before the join.

    Output: cls_a < cls_b, n_terms (shared vocab), cosine (4dp).
    """
    from streaming_parquet_spark.functions.portable import ordered_words_expr

    # Materialized once: the (class, term) counts feed the norms AND
    # both sides of the pair-dot self-join — three full corpus explodes
    # otherwise. vocab x classes rows, tiny at any corpus size.
    tc = stage(
        df.select(
            F.col(class_col).alias("cls"),
            # ordered (non-distinct) words: these are term-FREQUENCY
            # vectors, so every occurrence counts
            F.explode(
                F.expr(ordered_words_expr("spark", text_col))
            ).alias("term"),
        )
        .groupBy("cls", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count),
    )
    # double * bigint products: no int64 intermediate to wrap (the
    # r8 skew_report overflow class, fixed registry-wide in r9 —
    # tests/test_overflow_guard.py)
    norms = tc.groupBy("cls").agg(
        F.sum(F.col("n").cast("double") * F.col("n")).alias("q")
    )
    a, b = tc.alias("a"), tc.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.cls") < F.col("b.cls")))
        .groupBy(F.col("a.cls").alias("cls_a"), F.col("b.cls").alias("cls_b"))
        .agg(
            F.sum(F.col("a.n").cast("double") * F.col("b.n")).alias("dot"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = F.col("dot") / (
        F.sqrt(F.col("na.q")) * F.sqrt(F.col("nb.q"))
    )
    return (
        dots.join(F.broadcast(na), F.col("cls_a") == F.col("na.cls"))
        .join(F.broadcast(nb), F.col("cls_b") == F.col("nb.cls"))
        .select(
            "cls_a", "cls_b", "n_terms",
            round_to_col(cos, 4).alias("cosine"),
        )
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint over word
    hashes (mod 2^31-1): equal fingerprints => near-certain duplicates,
    robust to trailing whitespace only (it is *exact* on word sequence)."""
    # note: fingerprint uses the words IN ORDER (not distinct)
    ordered = f"split(trim({text_col}), ' +')"
    t = "transform"
    hashes = word_hashes_expr("spark", ordered)
    return df.withColumn("fingerprint", F.expr(rolling_hash_expr("spark", hashes)))


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/diversity signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1, adapted to single-line docs):
    top-word fraction, top-bigram fraction, unique-word fraction and
    mean word length — the filters that catch boilerplate and
    degenerate repetition which plain length/stopword scoring
    (with_quality) misses.

    All per-row JVM expressions over a let-bound word array — the mode
    count is O(distinct*n) per document, which for natural documents
    (hundreds of words) is far cheaper than an explode + per-doc
    groupBy at corpus scale, and keeps the operator shuffle-free."""
    from streaming_parquet_spark.functions.portable import (
        bigrams_all_expr,
        ordered_words_expr,
        top_count_expr,
        word_len_sum_expr,
    )

    words = ordered_words_expr("spark", text_col)
    out = (
        df.withColumn("__ws", F.expr(words))
        .withColumn("n_words", F.expr(n_words_expr("spark", text_col)))
        .withColumn("__bg", F.expr(bigrams_all_expr("spark", "__ws")))
        .withColumn("__top_w", F.expr(top_count_expr("spark", "__ws")))
        .withColumn("__top_b", F.expr(top_count_expr("spark", "__bg")))
    )
    nw = F.col("n_words")
    nb = F.expr("size(__bg)")
    return (
        out.withColumn(
            "top_word_frac",
            F.when(nw > 0, round_to_col(F.col("__top_w") / nw, 4)).otherwise(0.0),
        )
        .withColumn(
            "top_bigram_frac",
            F.when(nb > 0, round_to_col(F.col("__top_b") / nb, 4)).otherwise(0.0),
        )
        .withColumn(
            "frac_unique_words",
            F.when(
                nw > 0, round_to_col(F.expr("size(array_distinct(__ws))") / nw, 4)
            ).otherwise(0.0),
        )
        .withColumn(
            "mean_word_len",
            F.when(
                nw > 0,
                round_to_col(F.expr(word_len_sum_expr("spark", "__ws")) / nw, 4),
            ).otherwise(0.0),
        )
        .drop("__ws", "__bg", "__top_w", "__top_b")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Sliding-window document chunking: word windows of ``size`` tokens
    every ``stride`` tokens (overlap = size - stride) — the retrieval /
    context-window prep step (RAG indexing, long-doc truncation-free
    pretraining). Chunk k covers words [k*stride+1, k*stride+size];
    the last chunk may be short; a doc shorter than ``size`` yields one
    chunk; an empty doc yields none.

    Shape: narrow explode (no shuffle) — each row fans out to
    ceil(max(n-size,0)/stride)+1 chunk rows inside the scan stage; at
    100 TB the output lands ~size/stride x larger than the input and
    flows straight into the next stage (tokenize/embed) with no
    exchange. The word array is let-bound (see shingles_expr note) so
    the split runs once per document, not once per chunk."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    from streaming_parquet_spark.functions.portable import ordered_words_expr

    words = ordered_words_expr("spark", text_col)
    n_chunks = (
        f"1 + CAST((greatest(size(ws) - {size}, 0) + {stride - 1})"
        f" DIV {stride} AS INT)"
    )
    chunks = (
        f"element_at(transform(array({words}), ws -> "
        f"CASE WHEN size(ws) = 0 OR ws = array('') THEN "
        f"CAST(array() AS array<struct<n_tokens: bigint, chunk: string>>) "
        f"ELSE transform(sequence(0, {n_chunks} - 1), k -> "
        f"named_struct("
        f"'n_tokens', CAST(least({size}, size(ws) - k * {stride}) AS BIGINT), "
        f"'chunk', concat_ws(' ', slice(ws, k * {stride} + 1, {size})))) "
        f"END), 1)"
    )
    return df.select(
        F.col(id_col),
        F.posexplode(F.expr(chunks)).alias("chunk_id", "c"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-bigram LM fluency score (the perplexity-proxy quality
    filter of CCNet-style pipelines, with the corpus itself as the LM):
    score(doc) = mean over the doc's bigrams of the add-one-smoothed
    conditional p(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V), with corpus
    counts and unigram vocabulary size V (Laplace smoothing — without
    it a one-off bigram over a one-off unigram scores a perfect 1/1
    and token salad ranks ABOVE formulaic text). Common continuations
    score high, unpredictable ones low; filter tails downstream.

    Numerics: every probability is fixed-pointed as
    ((C2 + 1) * 10^9) DIV (C1 + V) — one exact integer division per
    bigram, summed exactly — so scores are identical under any join
    order, partition layout, or engine; the only FP op is the final
    mean display. Docs with < 2 words have no bigrams and drop out
    (both engines agree).

    Plan: explode bigrams (narrow, in-scan) -> two count aggregates
    (bigram vocab + unigram vocab, both vastly smaller than the
    corpus) -> join counts back on the bigram / first-word keys ->
    one partial-aggregated shuffle per doc. At 100 TB the count tables
    shuffle-join (they no longer broadcast) but stay vocabulary-sized;
    nothing quadratic anywhere."""
    from streaming_parquet_spark.functions.portable import (
        bigrams_all_expr,
        ordered_words_expr,
    )

    bigrams = bigrams_all_expr(
        "spark", ordered_words_expr("spark", text_col)
    )
    # b is NOT materialized (corpus-sized; persisting the exploded
    # form costs more than the duplicate explode it saves). uni IS:
    # it is a vocab-sized aggregate read by the vocab scalar and the
    # unigram join — the persist is tiny and saves a corpus explode.
    b = df.select(
        F.col(id_col).alias("id"), F.explode(F.expr(bigrams)).alias("bg")
    )
    uni = stage(
        df.select(
            F.explode(F.expr(ordered_words_expr("spark", text_col)))
            .alias("w1")
        ).groupBy("w1").agg(F.count(F.lit(1)).alias("c1")),
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = b.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        b.join(big, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_fixed",
            F.expr("CAST((c2 + 1) * 1000000000 DIV (c1 + v) AS BIGINT)"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("p_fixed").alias("__s"),
        )
        .select(
            "id",
            "n_bigrams",
            round_to_col(F.col("__s") / F.col("n_bigrams") / 1e9, 6).alias(
                "lm_score"
            ),
        )
    )


def sparse_cosine_topk(
    df: DataFrame,
    k: int = 5,
    topk_terms: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Document-to-document similarity by TF-IDF cosine over an
    INVERTED-INDEX join — the sparse counterpart of the dense ANN
    family: no embeddings needed, candidates meet only through shared
    terms (docs sharing no term never pair — the index prunes the
    quadratic space the way LSH bands do for shingles).

    Each doc is reduced to its ``topk_terms`` strongest TF-IDF terms
    (tfidf_topk), bounding postings per doc; term weights are the
    RATIONAL tf-idf wf = (tf * 10^4 * (N+1)) DIV (df+1) — exact
    integers (the log-smoothed display score would hang the weights
    on libm's last ulp).  The quadratic accumulators (pair dots,
    squared norms) run in DOUBLE: wf grows with corpus size (N in the
    numerator), so wf^2 wraps a BIGINT accumulator long before 100 TB
    — products are formed double * bigint (no int64 intermediate) and
    per-doc sums are exact (hence order-independent and engine-
    portable) while under 2^53, which topk_terms bounds at 8 terms x
    wf^2: true until N ~ 3e9 docs, graceful ~1e-16 relative error
    beyond.

    Plan: terms explode -> per-term postings self-join (shuffle on the
    term key; hot terms are exactly the low-idf ones the top-k pruning
    already demoted) -> partial-aggregated pair dot -> broadcast norms
    -> WindowGroupLimit top-k per doc. At 100 TB: postings become a
    stored inverted index; everything downstream is the same narrow
    shuffle.

    ``max_df`` is the stop-term guard the index NEEDS on degenerate
    vocabularies: a term in more than max_df docs contributes
    O(postings^2) pairs while carrying ~zero idf signal — drop it from
    the index entirely (its weight was near-minimal anyway). On the
    synthetic fixture every term is corpus-wide, which is exactly that
    pathology; the gate query therefore also samples the corpus."""
    t = tfidf_topk(df, k=topk_terms, text_col=text_col, id_col=id_col)
    if max_df is not None:
        t = t.filter(F.col("df") <= max_df)
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    # Materialized once: the postings feed both self-join sides AND the
    # norms (referenced twice below) — four executions of the whole
    # tfidf pipeline otherwise. This is the local analog of the stored
    # inverted index the docstring prescribes at 100 TB; topk_terms
    # bounds it at a few rows per document.
    v = stage(
        t.crossJoin(F.broadcast(n_docs)).select(
            "id", "term",
            F.expr(
                "CAST(tf * 10000 * (__n + 1) DIV (df + 1) AS BIGINT)"
            ).alias("wf"),
        ),
    )
    norms = v.groupBy("id").agg(
        F.sum(F.col("wf").cast("double") * F.col("wf")).alias("n2")
    )
    a, b = v.alias("a"), v.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id"), F.col("b.id").alias("nbr"))
        .agg(
            F.sum(F.col("a.wf").cast("double") * F.col("b.wf")).alias("dot")
        )
    )
    cos = F.col("dot") / F.sqrt(F.col("n2") * F.col("nbr_n2"))
    w = W.partitionBy("id").orderBy(F.col("cos_raw").desc(), F.col("nbr"))
    return (
        dots.join(norms, "id")
        .join(
            norms.select(
                F.col("id").alias("nbr"), F.col("n2").alias("nbr_n2")
            ),
            "nbr",
        )
        .withColumn("cos_raw", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("id", "nbr", round_to_col("cos_raw", 4).alias("cos"), "rank")
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    """Canonical text normalization — the first stage of every
    pretraining-data pipeline: strip ASCII control characters
    (replaced by a space so word boundaries survive), collapse
    whitespace runs to single spaces, trim. Deliberately ASCII-scoped
    (plain character classes evaluate identically under Java regex and
    RE2, so an oracle reproduces it byte-for-byte; full Unicode NFC
    is locale/library-dependent and NOT portable).

    Adds ``out_col`` plus n_removed = chars dropped by normalization.
    Pure per-row projection — no shuffle at any scale."""
    ctrl = F.regexp_replace(F.col(text_col), "[\\x00-\\x1f\\x7f]", " ")
    norm = F.trim(F.regexp_replace(ctrl, " +", " "))
    return df.withColumn(out_col, norm).withColumn(
        "n_removed",
        (F.length(F.col(text_col)) - F.length(F.col(out_col))).cast("int"),
    )


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a document's distinct
    word n-gram shingles that occur in NO other document (global
    df = 1) — the curation signal that separates template/boilerplate
    documents (novelty ~0) from unique content, used to pick dedup
    survivors and up-weight rare material.

    Plan at 100 TB: explode distinct shingle hashes -> vocab-sized df
    aggregate (partial-aggregated; the exchange carries (hash, count))
    -> join back -> per-doc counts. The join key is the shingle hash —
    the same narrow shuffle as the MinHash band join; no document text
    moves after the first projection. Output: id, n_shingles,
    n_unique, novelty (4dp; exact IEEE division of two ints).
    Documents with zero shingles yield no row (mirrored by oracles)."""
    from streaming_parquet_spark.functions.portable import (
        ordered_words_expr,
        shingles_expr,
    )

    sh = word_hashes_expr(
        "spark", shingles_expr("spark", ordered_words_expr("spark", text_col), n)
    )
    # Materialized once: the exploded shingle hashes feed the df
    # aggregate AND the join-back — two full md5-shingling passes over
    # the corpus otherwise (the hashing IS the expensive part).
    ex = stage(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.expr(sh))).alias("h"),
        ),
    )
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        ex.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .withColumn(
            "novelty",
            round_to_col(
                F.col("n_unique").cast("double") / F.col("n_shingles"), 4
            ),
        )
    )


def quality_deciles(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10,
) -> DataFrame:
    """Quality-score normalization WITHIN each domain: ntile buckets
    over (quality_score, id) — the curation step that makes 'top 30%
    by quality' mean the same thing in every slice regardless of each
    domain's score distribution (absolute thresholds over-prune clean
    domains and under-prune noisy ones).

    ntile follows the SQL-standard remainder rule in both engines, and
    the (score, id) ordering is total, so bucket assignment is
    deterministic and oracle-exact. One shuffle on the group column;
    at 100 TB a domain's documents already co-locate by partition
    layout, and skewed domains split fine because ntile needs only a
    per-partition sort, not a global one.

    Output: id, group, quality_score, decile (1..buckets,
    1 = lowest-scoring)."""
    scored = with_quality(df, text_col)
    w = W.partitionBy(group_col).orderBy(
        F.col("quality_score").asc(), F.col(id_col).asc()
    )
    return scored.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        "quality_score",
        F.ntile(buckets).over(w).cast("int").alias("decile"),
    )


def cooccurrence_topk(
    df: DataFrame,
    k: int = 50,
    min_count: int = 5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k word ASSOCIATIONS by document-level co-occurrence lift:
    lift(a,b) = n_ab * N / (n_a * n_b) — how much more often two terms
    share a document than independence predicts (the rational
    stand-in for PMI: same ranking, monotone transform, and exact
    IEEE arithmetic instead of a libm log, so the score is
    bit-comparable across engines). The corpus-QA question behind it:
    which terms travel together (template phrases, entity pairs,
    topical cliques)?

    Plan at 100 TB: explode per-doc DISTINCT words -> co-partitioned
    self-join on the doc id (pairs per doc are L^2 in DISTINCT doc
    length — bounded by document length, never corpus size; cap long
    docs upstream if L is unbounded) -> partial-aggregated (a, b)
    counts -> vocab-sized frequency joins (broadcastable) -> global
    top-k via TakeOrdered. ``max_df`` drops stop-ish terms from the
    pair space the same way sparse_cosine_topk's index guard does —
    the hottest L^2 contributors carry the least signal.

    Output: wa < wb, n_ab, n_a, n_b, lift (4dp), rank."""
    words = F.expr(
        f"array_distinct(filter(split(trim({text_col}), ' +'),"
        f" w -> w <> ''))"
    )
    # Materialized once: the exploded distinct words feed BOTH sides of
    # the per-doc pair self-join AND the frequency aggregate — three
    # full corpus explodes otherwise.
    ex = stage(
        df.select(F.col(id_col).alias("id"), F.explode(words).alias("w")),
    )
    dfreq = ex.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("n") <= max_df)
        ex = ex.join(F.broadcast(dfreq.select("w")), "w")
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"),
              (F.col("a.id") == F.col("b.id"))
              & (F.col("a.w") < F.col("b.w")))
        .groupBy(F.col("a.w").alias("wa"), F.col("b.w").alias("wb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    fa = dfreq.select(F.col("w").alias("wa"), F.col("n").alias("n_a"))
    fb = dfreq.select(F.col("w").alias("wb"), F.col("n").alias("n_b"))
    # double * bigint products: n_ab/n_a/n_b are doc counts, so both
    # the numerator and denominator int64 products wrap at ~3e9 docs —
    # form them in double (exact under 2^53, same value both engines)
    lift = (
        (F.col("n_ab").cast("double") * F.col("__n"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    scored = (
        pairs.join(F.broadcast(fa), "wa")
        .join(F.broadcast(fb), "wb")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("lift", round_to_col(lift, 4))
    )
    return (
        scored.orderBy(
            F.col("lift").desc(), F.col("wa").asc(), F.col("wb").asc()
        )
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(
                    F.col("lift").desc(), F.col("wa").asc(),
                    F.col("wb").asc(),
                )
            ).cast("int"),
        )
        .select("wa", "wb", "n_ab", "n_a", "n_b", "lift", "rank")
    )


def fit_text_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    scale_bits: int = 20,
    reg: float = 0.01,
    max_iter: int = 50,
) -> DataFrame:
    """Supervised quality classifier, fastText-shaped (Joulin et al.
    2016, "Bag of Tricks for Efficient Text Classification"; the
    GPT-3 / CCNet / palm-family quality-filter recipe): a logistic
    regression over hashed bag-of-words features, fit with
    ``pyspark.ml.classification.LogisticRegression`` on labeled
    positive ("keep-quality") vs negative examples.

    Returns the MODEL RELATION :func:`classifier_score` consumes:
    (bkt BIGINT, w BIGINT) — per-bucket weights in 2^``scale_bits``
    fixed point, plus one ``bkt = -1`` row carrying the intercept.
    Quantizing the weights once at fit time is what makes every later
    scoring pass exact-integer and engine-portable; the quantization
    error is bounded by n_tokens * 2^-scale_bits per logit.

    Contract: ids are unique ACROSS pos ∪ neg — features group by id,
    so a pos id colliding with a neg id would merge two documents'
    bags into one feature row joined to both labels.

    Scale: like :func:`~streaming_parquet_spark.operators.similarity.
    fit_ivf_centroids`, the FIT runs on a labeled sample (labeled data
    is small by construction — the fit cost is O(sample * buckets *
    iters), independent of corpus size) while scoring
    (:func:`classifier_score`) stays a full broadcast pass.  Not
    DuckDB-oracle-able: LBFGS' treeAggregate float reductions are not
    bit-portable — the pytest gate is a held-out accuracy floor plus
    bit-exactness of the SCORING path under a fixed model
    (tests/test_operators.py)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from streaming_parquet_spark.operators.pipeline import dsir_features

    b, s = int(buckets), int(scale_bits)
    labeled = pos.select(
        F.col(id_col), F.col(text_col), F.lit(1.0).alias("label")
    ).unionByName(
        neg.select(F.col(id_col), F.col(text_col), F.lit(0.0).alias("label"))
    )
    feats = dsir_features(labeled, text_col, id_col, buckets=b)
    # MEAN-POOLED features (cnt / n_tokens), matching the fastText form
    # and, critically, classifier_score's  intercept + dot/n_tokens —
    # fitting on raw counts would train a different decision boundary
    # than the one scoring evaluates.
    dense = (
        feats.groupBy(id_col)
        .agg(
            F.map_from_arrays(
                F.collect_list("bkt"),
                F.collect_list(F.col("cnt").cast("double")),
            ).alias("m"),
            F.sum("cnt").cast("double").alias("n"),
        )
        .select(
            F.col(id_col),
            F.expr(
                f"transform(sequence(0, {b - 1}),"
                f" k -> coalesce(element_at(m, CAST(k AS BIGINT)),"
                f" CAST(0 AS DOUBLE)) / n)"
            ).alias("arr"),
        )
    )
    train = dense.join(
        labeled.select(F.col(id_col), "label"), id_col
    ).select(array_to_vector("arr").alias("features"), "label")
    model = LogisticRegression(
        maxIter=int(max_iter), regParam=float(reg), standardization=False,
    ).fit(train)
    spark = pos.sparkSession
    rows = [
        (k, int(round(float(w) * (1 << s))))
        for k, w in enumerate(model.coefficients)
    ]
    rows.append((-1, int(round(float(model.intercept) * (1 << s)))))
    return spark.createDataFrame(rows, "bkt bigint, w bigint")


def classifier_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    scale_bits: int = 20,
) -> DataFrame:
    """Score every document under a :func:`fit_text_classifier` model:
    (id, n_tokens, logit_num, logit) where ``logit_num`` is the EXACT
    BIGINT fixed-point feature dot  Σ_b cnt_b · w_b  and ``logit`` the
    mean-pooled fastText logit

        w0/2^s  +  (Σ_b cnt_b · w_b)/2^s / n_tokens

    evaluated in EXACTLY that order: two divisions by 2^scale_bits
    (exact in binary floating point — no rounding), one
    correctly-rounded division by n_tokens, one correctly-rounded
    addition.  Reproducing the logit bit-for-bit requires this
    evaluation order, not just the algebraic formula — a fused
    (w0 + dot/n)/2^s rounds differently.  Given the model relation
    and this order the scoring pass is engine-portable and
    oracle-able.

    Plan: the model is O(buckets) rows and BROADCASTS; the feature
    explode shuffles (id, bkt) pairs, never documents — the same
    discipline as DSIR scoring.  Documents with zero tokens produce no
    feature rows and are ABSENT from the output (a quality filter
    drops them by construction; pre-filter empties explicitly if they
    must be kept)."""
    from streaming_parquet_spark.operators.pipeline import dsir_features

    b, s = int(buckets), int(scale_bits)
    weights = model.filter(F.col("bkt") >= 0)
    intercept = model.filter(F.col("bkt") == -1).select(
        F.col("w").alias("w0")
    )
    feats = dsir_features(df, text_col, id_col, buckets=b)
    scored = (
        feats.join(F.broadcast(weights), "bkt", "left")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt")
                * F.coalesce(F.col("w"), F.lit(0).cast("bigint"))
            ).alias("logit_num"),
        )
    )
    denom = float(1 << s)
    return scored.crossJoin(F.broadcast(intercept)).select(
        F.col(id_col),
        "n_tokens",
        "logit_num",
        (
            F.col("w0") / F.lit(denom)
            + (F.col("logit_num") / F.lit(denom)) / F.col("n_tokens")
        ).alias("logit"),
    )


def classifier_filter(
    df: DataFrame,
    model: DataFrame,
    min_logit: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    scale_bits: int = 20,
) -> DataFrame:
    """Classifier-based quality filtering: keep the rows whose
    mean-pooled logit reaches ``min_logit`` (0.0 = probability 0.5 —
    thresholding the logit is thresholding the sigmoid).  Returns the
    surviving original rows; zero-token documents are dropped (no
    features ⇒ no score)."""
    keep = (
        classifier_score(
            df, model, text_col, id_col, buckets=buckets,
            scale_bits=scale_bits,
        )
        .filter(F.col("logit") >= float(min_logit))
        .select(F.col(id_col))
    )
    return df.join(keep, id_col, "left_semi")


C4_LINE_BLOCKLIST = ("lorem ipsum", "javascript", "cookie policy",
                     "terms of use", "privacy policy")


def c4_line_filters(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_lines_kept: int = 3,
    blocklist: tuple[str, ...] = C4_LINE_BLOCKLIST,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning" §2.2 — the rules behind the C4
    corpus): keep only lines that end in terminal punctuation, carry at
    least ``min_words_per_line`` words, contain no blocklisted
    boilerplate phrase (case-insensitive) and no curly brace (the
    stray-code signal); a document stays (``keep_doc``) when at least
    ``min_lines_kept`` lines survive.

    Adds: ``text_clean`` (surviving lines rejoined), ``n_lines_kept``,
    ``n_lines_dropped``, ``keep_doc``.  Everything is one JVM
    higher-order-function expression over the scan — no UDF, no
    shuffle, whole-stage-codegen friendly; word counting uses the same
    ASCII-space rule as every other text operator."""
    checks = [
        # rtrim only strips spaces in Spark; also strip \r for CRLF text
        r"""rtrim(regexp_replace(l, '\r$', '')) rlike '[.!?"”]$'""",
        f"size(filter(split(trim(l), ' +'), w -> w != ''))"
        f" >= {int(min_words_per_line)}",
        # either bracket is the stray-code signal: a closing brace
        # whose opener sat on an already-dropped line must not leak
        "NOT contains(l, '{')",
        "NOT contains(l, '}')",
    ]
    for kw in blocklist:
        esc = kw.replace("'", "\\'")
        checks.append(f"NOT contains(lower(l), '{esc}')")
    pred = " AND ".join(f"({c})" for c in checks)
    kept = f"filter(split({text_col}, '\\n'), l -> {pred})"
    return (
        df.withColumn("__kept", F.expr(kept))
        # normalize CRLF on the way out: a retained trailing \r would
        # glue itself onto the last word under the ASCII-space split
        # rule every downstream operator uses
        .withColumn(
            "text_clean",
            F.array_join(
                F.expr(
                    r"transform(__kept, l -> regexp_replace(l, '\r$', ''))"
                ),
                "\n",
            ),
        )
        .withColumn("n_lines_kept", F.size("__kept").cast("bigint"))
        .withColumn(
            "n_lines_dropped",
            (
                F.size(F.expr(f"split({text_col}, '\\n')"))
                - F.size("__kept")
            ).cast("bigint"),
        )
        .withColumn(
            "keep_doc", F.col("n_lines_kept") >= int(min_lines_kept)
        )
        .drop("__kept")
    )


def write_text_classifier(
    model: DataFrame, table: str, buckets: int,
    scale_bits: int = 20,
) -> None:
    """Persist a :func:`fit_text_classifier` model relation with its
    contract pinned as table properties — the same discipline as the
    tokenizer artifacts (``tokenize.write_bpe_merges``): ``buckets``
    and ``scale_bits`` silently change every logit if they drift
    between fit and score (a different hash modulus scatters the same
    words to different weights; Spark raises nothing), so the reader
    hands the pinned values back and
    :func:`classifier_score_table` threads them through.  Keys avoid
    the redacted-substring gotcha (see operators/tokenize.py).

    ``buckets`` is REQUIRED and must repeat the fit call's value — a
    default here would re-create the very drift the pin closes (the
    hash modulus is not recoverable from the weight rows; the one
    checkable direction, weights referencing buckets past the claimed
    modulus, raises)."""
    spark = model.sparkSession
    max_bkt = model.agg(F.max("bkt")).first()[0]
    if max_bkt is not None and max_bkt >= int(buckets):
        raise ValueError(
            f"model references bucket {max_bkt} but buckets={buckets} "
            f"is pinned — the claimed hash modulus cannot be right"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    model.write.format("parquet").saveAsTable(table)
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'maw.textclf.kind' = 'logreg-hashed-bow',"
        f"'maw.textclf.buckets' = '{int(buckets)}',"
        f"'maw.textclf.scale_bits' = '{int(scale_bits)}')"
    )


def read_text_classifier(spark, table: str) -> tuple[DataFrame, int, int]:
    """Load a persisted classifier model; returns (model, buckets,
    scale_bits), failing fast on a table that is not one."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {r["key"]: r["value"] for r in rows}
    if props.get("maw.textclf.kind") != "logreg-hashed-bow":
        raise ValueError(
            f"{table} is not a persisted text classifier "
            f"(maw.textclf.kind = {props.get('maw.textclf.kind')!r})"
        )
    return (
        spark.table(table),
        int(props["maw.textclf.buckets"]),
        int(props["maw.textclf.scale_bits"]),
    )


def classifier_score_table(df: DataFrame, table: str, **kw) -> DataFrame:
    """:func:`classifier_score` under a persisted model, with the
    fit-time ``buckets``/``scale_bits`` threaded through."""
    model, buckets, scale_bits = read_text_classifier(
        df.sparkSession, table
    )
    return classifier_score(
        df, model, buckets=buckets, scale_bits=scale_bits, **kw
    )


def batch_drift(
    df: DataFrame,
    batch_col: str = "ingest_batch",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-batch term-distribution drift for a batch-partitioned
    corpus (the continuous-ingest monitoring companion to
    :func:`domain_similarity`): cosine between each batch's unigram
    COUNT vector and the WHOLE corpus's — a batch whose cosine falls
    below its siblings' is the distribution-shift / poisoned-wave /
    wrong-source signal to investigate before it trains.

    Same DOUBLE quadratic accumulators as ``domain_similarity`` (a
    hot term's corpus count squared wraps BIGINT at the 100 TB scale
    this monitor targets; products are formed double * bigint so no
    int64 intermediate exists, exact — hence engine-portable — while
    sums stay under 2^53, ~1e-16 relative error beyond).  Note the
    corpus vector INCLUDES the batch (each batch is compared against
    the corpus as shipped, not leave-one-out — at many-batch scale
    the difference vanishes; at few-batch scale the inclusion only
    raises every cosine uniformly).

    ``min_count`` trims each BATCH's vector only; corpus totals
    aggregate from the UNFILTERED per-batch counts, so a term that is
    globally frequent but rare inside every individual batch still
    contributes its full weight to the corpus vector the docstring
    promises (it was silently absent before r9).

    Plan at 100 TB: one explode -> partial-aggregated (batch, term)
    count relation (vocab x batches rows); corpus totals aggregate
    FROM that relation (no second corpus scan), and the dot is a
    vocab-sized join — corpus rows are touched exactly once.

    Output: (batch_col, n_terms, cosine) — n_terms the batch's
    surviving vocabulary after ``min_count``."""
    from streaming_parquet_spark.functions.portable import (
        ordered_words_expr,
        round_to_col,
    )

    # Materialized once: the (batch, term) counts feed the filtered
    # batch vectors AND the corpus totals (which are themselves read
    # twice) — three full corpus explodes otherwise. vocab x batches
    # rows, tiny at any corpus size.
    tc_all = stage(
        df.select(
            F.col(batch_col).alias("b"),
            F.explode(
                F.expr(ordered_words_expr("spark", text_col))
            ).alias("term"),
        )
        .groupBy("b", "term")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    # corpus totals BEFORE the min_count filter (docstring); cn (a
    # plain sum of counts) stays BIGINT — total tokens bound it well
    # under 2^63 — while every quadratic accumulator runs double
    tc = tc_all.filter(F.col("n") >= min_count)
    corpus = tc_all.groupBy("term").agg(F.sum("n").alias("cn"))
    corpus_norm = corpus.agg(
        F.sum(F.col("cn").cast("double") * F.col("cn")).alias("cq")
    )
    per_batch = (
        # vocab-sized (one row per distinct term) — broadcast it
        tc.join(F.broadcast(corpus), "term")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(F.col("n").cast("double") * F.col("cn")).alias("dot"),
            F.sum(F.col("n").cast("double") * F.col("n")).alias("q"),
        )
    )
    return per_batch.crossJoin(F.broadcast(corpus_norm)).select(
        F.col("b").alias(batch_col),
        "n_terms",
        round_to_col(
            F.col("dot")
            / (F.sqrt(F.col("q")) * F.sqrt(F.col("cq"))),
            4,
        ).alias("cosine"),
    )
