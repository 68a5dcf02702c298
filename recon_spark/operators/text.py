"""Text-analysis operators over ``documents.text`` (training-data pipeline
surface): tokenization, token/char statistics, stopword & quality scoring,
language-ID heuristic, document fingerprinting.

All pure Column expressions (JVM-side, codegen'd; zero Python UDFs), so a
100 TB corpus runs as one narrow scan -> project stage: no shuffle, no
Python workers, predicate/column pruning reach the parquet scan.

The DuckDB mirrors live in :mod:`recon_spark.oracles.llm_sql` and are
generated from the same constants, so the two renderings cannot drift.

Persisted intermediates go through :mod:`recon_spark.staging`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import staging
from ..functions.checksum import certificate
from ..functions.normalizers import WS, _c

#: word-splitting pattern: runs of non-alphanumerics (BPE-ish baseline)
TOKEN_SPLIT_RE = "[^a-zA-Z0-9]+"

#: tiny function-word tables for the language-ID heuristic. Scoring is
#: (stopword hits / tokens) per language, argmax wins; ties resolve in
#: this declaration order. Deliberately small: the point is the operator
#: shape (set-membership scoring entirely in column algebra), not NLP
#: quality.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "para"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "dans", "pour"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "für"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "中"),
}

#: quality-scoring thresholds (Gopher/C4-style heuristics)
QUALITY_MIN_TOKENS = 5
QUALITY_MAX_MEAN_WORD_LEN = 12.0
QUALITY_MIN_STOPWORD_RATIO = 0.0
QUALITY_MAX_SYMBOL_RATIO = 0.3


def tokens(col: Column | str) -> Column:
    """Whitespace/punctuation tokenization -> array<string> (lowercased)."""
    arr = F.split(F.lower(F.trim(_c(col).cast("string"))), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


#: BPE-ish token pattern: letter runs chunked at 8 chars (long words count
#: as multiple subwords), digit runs chunked at 3 (as GPT-style BPEs do),
#: every other non-space symbol its own token. The whitespace class is
#: EXPLICIT, not ``\s``: Java regex ``\s`` includes vertical tab U+000B
#: but RE2's (DuckDB's) does not, so ``\s`` would make n_tokens_bpe
#: disagree between the graded Spark output and the oracle on text
#: containing a vertical tab (same fix as lines.WS_CLASS, r13 review).
BPE_TOKEN_PATTERN = r"[a-zA-Z]{1,8}|[0-9]{1,3}|[^a-zA-Z0-9 \t\n\x0B\f\r]"


def bpe_token_count(col: Column | str) -> Column:
    """Subword-ish token-count estimate via ``BPE_TOKEN_PATTERN`` — the
    cheap JVM-side stand-in for a real tokenizer when sizing corpora."""
    return F.regexp_count(_c(col).cast("string"), F.lit(BPE_TOKEN_PATTERN)).cast("long")


def char_count(col: Column | str) -> Column:
    return F.length(_c(col).cast("string")).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    s = _c(col).cast("string")
    total = F.length(s)
    clean = F.length(F.regexp_replace(s, "[^a-zA-Z0-9 ]", ""))
    return F.when(total > 0, (total - clean).cast("double") / total)


def stopword_hits(col: Column | str, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words))).cast("long")


def stopword_ratio(col: Column | str, words: tuple[str, ...] | None = None) -> Column:
    words = words or LANG_STOPWORDS["en"]
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, words).cast("double") / n)


def mean_word_len(col: Column | str) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total.cast("double") / n)


def language_guess(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    NULL when no language scores a single hit."""
    toks = tokens(col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit(None).cast("string")
    # declaration order = tie priority (first matching when wins)
    chain = F.when(F.lit(False), F.lit(None).cast("string"))
    for lang in LANG_STOPWORDS:
        chain = chain.when(scores[lang] == best, F.lit(lang))
    return F.when(best > 0, chain).otherwise(out)


def quality_flags(col: Column | str) -> Column:
    """Array of failed quality checks (empty = passes all)."""
    n = token_count(col)
    mwl = mean_word_len(col)
    sw = stopword_ratio(col)
    sym = punct_ratio(col)
    return F.array_compact(
        F.array(
            F.when(n < QUALITY_MIN_TOKENS, F.lit("too_few_tokens")),
            F.when(
                F.coalesce(mwl > QUALITY_MAX_MEAN_WORD_LEN, F.lit(False)),
                F.lit("mean_word_len_too_high"),
            ),
            F.when(
                F.coalesce(sym > QUALITY_MAX_SYMBOL_RATIO, F.lit(False)),
                F.lit("symbol_ratio_too_high"),
            ),
        )
    )


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0, 1]: 1 - failed_checks / total_checks."""
    return (F.lit(3) - F.size(quality_flags(col))).cast("double") / 3.0


def normalize_for_hash(col: Column | str) -> Column:
    """Canonical text form for exact-dup hashing: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(_c(col).cast("string")), WS + "+", " "))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (exact-dup key)."""
    return F.md5(normalize_for_hash(col))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-shingles over an already-materialized token array column.

    PERF: ``toks`` must be a plain column reference (stage it with
    ``withColumn`` first). Passing the ``tokens(...)`` expression inline
    re-tokenizes the whole document once PER SHINGLE inside the transform
    lambda — O(n^2) per row; measured 20x slower at 5k docs."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    make = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )
    return F.when(n > 0, F.array_distinct(make)).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles as strings ("w1 w2 w3"). Documents shorter
    than k tokens produce their full token join as a single shingle.

    Convenience inline form for tiny frames/tests — hot paths must stage
    the token array and use :func:`shingles_from_tokens` (see PERF note)."""
    return shingles_from_tokens(tokens(col), k)


def min_shingle_hash(col: Column | str, k: int = 3) -> Column:
    """Rolling-hash-style content fingerprint: lexicographic min of the
    md5 hashes of the document's k-shingles (a 1-hash MinHash)."""
    return F.array_min(F.transform(shingles(col, k), F.md5))


# --- staged full-stats pipeline ----------------------------------------------


def mean_word_len_from_tokens(toks: Column) -> Column:
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total.cast("double") / n)


def language_guess_from_tokens(toks: Column) -> Column:
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    chain = F.when(F.lit(False), F.lit(None).cast("string"))
    for lang in LANG_STOPWORDS:
        chain = chain.when(scores[lang] == best, F.lit(lang))
    return F.when(best > 0, chain).otherwise(F.lit(None).cast("string"))


def quality_flags_from(n_tokens: Column, mwl: Column, sym: Column) -> Column:
    return F.array_compact(
        F.array(
            F.when(n_tokens < QUALITY_MIN_TOKENS, F.lit("too_few_tokens")),
            F.when(
                F.coalesce(mwl > QUALITY_MAX_MEAN_WORD_LEN, F.lit(False)),
                F.lit("mean_word_len_too_high"),
            ),
            F.when(
                F.coalesce(sym > QUALITY_MAX_SYMBOL_RATIO, F.lit(False)),
                F.lit("symbol_ratio_too_high"),
            ),
        )
    )


def with_text_stats(df, text_col: str = "text", tokens_col: str | None = None):
    """Append the full text-analysis battery as columns, computing the
    token array ONCE per row (staged column, not a re-evaluated
    expression subtree — see shingles_from_tokens PERF note).

    Adds: n_tokens, n_chars, punct_ratio, mean_word_len, stopword_ratio,
    lang_guess, quality_flags (array), quality_score, fingerprint,
    min_shingle_hash, ttr, top_token_share (the Gopher-style repetition
    signals, folded in since round 5 so the whole per-document battery is
    one pass over one staged token array). Narrow (no shuffle); one scan
    -> project chain.

    ``tokens_col``: name of an ALREADY-STAGED token-array column to reuse
    instead of tokenizing here (round 8: lets one tokenize pass feed the
    battery + the LM substrate + SimHash in registry.q_text_stats). The
    column is kept in the output — the caller staged it and may have
    further consumers.
    """
    toks = F.col(tokens_col or "__toks")
    sw_words = LANG_STOPWORDS["en"]
    ttr, top_share = repetition_stats(toks)
    staged = df if tokens_col else df.withColumn("__toks", tokens(text_col))
    out = (
        staged.withColumn("__sh", shingles_from_tokens(toks))
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_tokens_bpe", bpe_token_count(text_col))
        .withColumn("n_chars", char_count(text_col))
        .withColumn("punct_ratio", punct_ratio(text_col))
        .withColumn("mean_word_len", mean_word_len_from_tokens(toks))
        .withColumn(
            "stopword_ratio",
            F.when(
                F.size(toks) > 0,
                F.size(F.filter(toks, lambda t: t.isin(*sw_words))).cast("double")
                / F.size(toks),
            ),
        )
        .withColumn("lang_guess", language_guess_from_tokens(toks))
        .withColumn(
            "quality_flags",
            quality_flags_from(
                F.col("n_tokens"), F.col("mean_word_len"), F.col("punct_ratio")
            ),
        )
        .withColumn(
            "quality_score",
            (F.lit(3) - F.size("quality_flags")).cast("double") / 3.0,
        )
        .withColumn("fingerprint", fingerprint(text_col))
        .withColumn("min_shingle_hash", F.array_min(F.transform(F.col("__sh"), F.md5)))
        .withColumn("ttr", ttr)
        .withColumn("top_token_share", top_share)
    )
    return out.drop("__sh") if tokens_col else out.drop("__toks", "__sh")


def tfidf_top_terms(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
):
    """Per-document top-``k`` terms by smoothed TF-IDF
    (``tf/len * (ln((N+1)/(df+1)) + 1)``, the sklearn smooth-idf form) —
    the corpus-statistics operator of a text pipeline (keyword extraction,
    quality weighting, dedup features).

    Shape: ONE aggregated term-frequency frame drives everything — doc
    lengths, document frequencies, and the corpus size all derive from
    the persisted ``tf`` aggregate, so the corpus is tokenized exactly
    once. The df table is vocab-cardinality (broadcast-size for real
    vocabularies); N is a 1-row broadcast. Final top-k is a per-doc
    window. ``N`` counts docs with >= 1 token (docs absent from ``tf``),
    mirrored by the oracle.
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    tf = staging.stage(toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tc")))
    dl = tf.groupBy("id").agg(F.sum("tc").alias("n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    nd = tf.select("id").distinct().agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "s",
            (F.col("tc").cast("double") / F.col("n"))
            * (
                F.log((F.col("nd") + F.lit(1.0)) / (F.col("dfc") + F.lit(1.0)))
                + F.lit(1.0)
            ),
        )
    )
    # rank on the MICROS-ROUNDED score (the serialized value), not the
    # raw double: ln() can differ by 1 ulp between libm implementations,
    # and ranking on the raw double would let two near-equal (not equal)
    # terms order differently across engines — the rounded key makes
    # "which terms survive rank <= k" identical wherever the serialized
    # scores are identical
    s_micros = F.round(F.col("s") * 1_000_000).cast("long")
    w = Window.partitionBy("id").orderBy(s_micros.desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            "term",
            F.col("rank").cast("int").alias("rank"),
            s_micros.alias("tfidf_micros"),
        )
    )


#: BM25 constants (Robertson/Lucene defaults); k=10 results per query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERY_TERMS = 3


def bm25_topk(
    docs: DataFrame,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 full-text retrieval top-k — the search surface of the engine
    (Robertson et al., Okapi BM25, with Lucene's non-negative
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``): score every document
    against a query and return the k best as ``(doc_id, bm25_micros,
    rank)``.

    The query is DERIVED from the corpus so the graded row needs no
    fixture-specific literals: the ``n_query_terms`` most
    document-frequent terms among those with ``2·df <= N`` (ties ->
    lexicographic) — "the most common terms that still discriminate
    half the corpus". A production caller passes real query strings
    through the same scoring body.

    Oracle discipline (the TF-IDF row's, verbatim): ranking and
    serialization use the MICROS-ROUNDED score (raw ``ln`` can differ
    by 1 ulp across libm implementations); every float expression is
    operation-order-pinned against the DuckDB replay, and the one
    per-document float reduction (the sum over matched query terms) is
    a left fold over the TERM-SORTED pair list on both engines (float
    addition is not associative). Constants are injected from the same
    Python reprs on both sides.

    Scale shape: tf/df/doclen all derive from ONE persisted term-
    frequency aggregate (the corpus is tokenized once); the query-term
    table is ``n_query_terms`` rows (broadcast; derivation is a bounded
    TakeOrdered over the vocab-sized df frame); scoring touches only
    postings of query terms; the global top-k is the bucket-pruned
    distributed bottom-k (ranking.bottomk_rows) on the key
    ``1 / (1 + bm25_micros)`` — ascending key = descending score, and
    the reciprocal SPANS log space (bottomk's quantizer is
    ``floor(log2(key)·scale)``, so an affine key like ``2^40 − micros``
    would land every row in ONE bucket and re-create the single-task
    sort, r13 review). Strictly monotone for distinct micros: adjacent
    reciprocals differ by ~1/m² while a double ulp near 1/m is
    ~2^-52/m — distinct for any m < 4.5e15. Exact micros ties order by
    doc id, matching the oracle's (micros DESC, id ASC).
    """
    from .ranking import bottomk_rows

    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = staging.stage(toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tc")))
    dl = tf.groupBy("id").agg(F.sum("tc").alias("n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    nd = tf.select("id").distinct().agg(F.count(F.lit(1)).alias("nd"))
    totals = dl.agg(F.sum("n").alias("tn"))

    qterms = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(F.col("dfc") * 2 <= F.col("nd"))
        .orderBy(F.col("dfc").desc(), F.col("term").asc())
        .limit(n_query_terms)
        .select("term", "dfc")
    )

    avgdl = F.col("tn").cast("double") / F.col("nd")
    idf = F.log(
        F.lit(1.0)
        + (F.col("nd").cast("double") - F.col("dfc") + F.lit(0.5))
        / (F.col("dfc") + F.lit(0.5))
    )
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("n").cast("double") / avgdl)
    tfpart = (F.col("tc").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tc") + F.lit(k1) * norm
    )
    per_term = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(totals))
        .select("id", "term", (idf * tfpart).alias("s"))
    )
    per_doc = per_term.groupBy("id").agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term").alias("t"), F.col("s").alias("s")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            )
            * 1_000_000
        )
        .cast("long")
        .alias("bm25_micros")
    )
    key = (F.lit(1.0) / (F.lit(1.0) + F.col("bm25_micros"))).alias("__key")
    picked = bottomk_rows(per_doc.select("id", "bm25_micros", key), "__key", "id", k)
    return picked.select(
        F.col("id").alias(id_col),
        "bm25_micros",
        F.col("rank").cast("int").alias("rank"),
    )


def bm25_parity(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """1-row checksum frame over the FULL BM25 top-k result (doc_id,
    bm25_micros, rank) at the graded defaults — rides the
    text_tfidf_top_terms row (zero-slot fold); the oracle rederives the
    query terms, every score and the rank order from scratch."""
    sel = bm25_topk(docs, id_col=id_col, text_col=text_col)
    return certificate(sel, "bm25", id_col, "bm25_micros", "rank")


def repetition_stats(toks: Column) -> tuple[Column, Column]:
    """Gopher-style repetition signals over a STAGED token-array column:
    type-token ratio (distinct/total) and the mode token's frequency
    share. O(tokens x distinct) per row in column algebra — fine for
    document-sized rows (a web corpus); a BOOK-length document makes a
    single row's expression evaluation quadratic. Both signals NULL for
    empty docs.

    PERF: like every array op in this module, ``toks`` must be a plain
    column reference (see shingles_from_tokens).
    """
    n = F.size(toks)
    distinct = F.array_distinct(toks)
    top = F.array_max(
        F.transform(distinct, lambda d: F.size(F.filter(toks, lambda t: t == d)))
    )
    ttr = F.when(n > 0, F.size(distinct).cast("double") / n)
    top_share = F.when(n > 0, top.cast("double") / n)
    return ttr, top_share


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """RAG-style overlapping token-window chunking: one row per
    (document, window) with ``chunk_id``, the token span
    ``[tok_start, tok_end)``, the chunk's token count, and the re-joined
    chunk text. Windows start every ``chunk_tokens - overlap`` tokens,
    so consecutive chunks share exactly ``overlap`` tokens (the standard
    retrieval-index prep; complements ``packing.pack_sequences``, which
    concatenates docs for TRAINING batches rather than splitting them
    for retrieval).

    Scale shape: pure column algebra — one tokenize pass, one
    ``posexplode(sequence(...))`` fan-out of ~n_tokens/stride rows per
    doc, no UDFs, no shuffle (chunking is per-row); the output inherits
    the input's partitioning. Empty/whitespace-only docs produce no
    rows, and a window starting inside the previous chunk's overlap tail
    (which would contain no new tokens) is never emitted — every chunk
    past the first contributes at least one token beyond its overlap.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    with_toks = (
        docs.withColumn("__toks", tokens(text_col))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    # last useful start: the largest k*stride strictly below n - overlap
    # (a later start's window holds only already-covered overlap tokens)
    last_start = F.greatest(F.col("__n") - overlap - 1, F.lit(0))
    exploded = with_toks.select(
        F.col(id_col),
        "__toks",
        "__n",
        F.posexplode(
            F.sequence(F.lit(0), last_start, F.lit(stride))
        ).alias("chunk_id", "tok_start"),
    )
    n_chunk = F.least(F.lit(chunk_tokens), F.col("__n") - F.col("tok_start"))
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("tok_start").cast("long").alias("tok_start"),
        (F.col("tok_start") + n_chunk).cast("long").alias("tok_end"),
        n_chunk.cast("long").alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("tok_start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def fertility_stats(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language tokenizer fertility / compression diagnostics — the
    QC table a multilingual pipeline builds before committing to a
    tokenizer (a language whose chars-per-token is far below the
    corpus mean is being over-segmented; its documents consume more of
    the training budget per visible character).

    One row per ``lang_col`` value (NULL langs form their own group):
    ``lang, n_docs, n_chars, n_bytes, n_words, n_tokens_bpe,
    chars_per_token_micros, tokens_per_word_micros`` — counts are exact
    BIGINTs (null texts contribute no counts), the two ratios are
    ``round(x * 1e6)`` micros of double divisions of those BIGINTs in
    a pinned operation order so the DuckDB oracle replays them
    bit-for-bit (the data_mixing_weights discipline); NULL when the
    denominator is 0. ``n_words`` counts the repo-standard alnum
    tokens; ``n_tokens_bpe`` is the replayable regex-BPE proxy
    (:data:`BPE_TOKEN_PATTERN`) — for TRAINED-BPE fertility join
    ``bpe.bpe_encode`` counts and aggregate the same way (pytest-graded,
    the encode model is driver-side).

    Scale shape (100 TB): one map pass (all four counters ride the
    scan) + one groupBy on the language key — map-side combinable,
    output is |languages| rows. Zero UDF.
    """
    t = _c(text_col).cast("string")
    agg = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(char_count(text_col)), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.sum(F.octet_length(t)), F.lit(0)).cast("long").alias("n_bytes"),
        F.coalesce(F.sum(token_count(text_col)), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(F.sum(bpe_token_count(text_col)), F.lit(0))
        .cast("long")
        .alias("n_tokens_bpe"),
    )
    cpt = F.round(
        F.col("n_chars").cast("double") / F.col("n_tokens_bpe") * 1_000_000.0
    ).cast("long")
    tpw = F.round(
        F.col("n_tokens_bpe").cast("double") / F.col("n_words") * 1_000_000.0
    ).cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_bytes",
        "n_words",
        "n_tokens_bpe",
        F.when(F.col("n_tokens_bpe") > 0, cpt).alias("chars_per_token_micros"),
        F.when(F.col("n_words") > 0, tpw).alias("tokens_per_word_micros"),
    )


def fertility_stats_trained(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language fertility of a TRAINED BPE tokenizer — the
    diagnostic a multilingual pipeline actually ships (r13 advice #6:
    :func:`fertility_stats` grades the replayable regex proxy; the
    trained-encode join was pytest-only). Runs the real distributed
    encoder (``bpe.bpe_encode`` — one Arrow mapInPandas stage, merge
    table in the closure) over the corpus and aggregates per language:

    ``lang, n_docs, n_words, n_word_chars, n_tokens_trained,
    trained_chars_per_token_micros, trained_tokens_per_word_micros``

    — counts are exact BIGINTs, ratios micros of pinned-order double
    divisions (the fertility_stats discipline); NULL when the
    denominator is 0. ``n_word_chars`` sums the alnum token characters
    (the encoder's input chars, excluding the ``</w>`` marker), so
    chars-per-token reads as visible-characters-per-subword.

    Oracle replay (llm_sql.trained_fert_ctes): the merge table is
    trained from a LITERAL seed lexicon (llm_sql.FERTILITY_LEXICON,
    pure-Python ``bpe.train_from_counts`` — no session, deterministic),
    so the DuckDB side can apply the SAME merges as an unrolled
    bracketed-string replace chain and recompute every subword count
    from scratch. Sequential replace-all equals the encoder's
    lowest-rank-first loop only when no later merge can create an
    earlier merge's constituent symbol — asserted at SQL-build time
    (llm_sql._assert_sequentially_safe) and differentially fuzzed over
    the corpus vocabulary (tests/test_fertility.py). The TRAINING loop
    itself stays pytest-graded against the naive reference trainer (the
    r12 substrate-fold split).

    Scale shape (100 TB): one Arrow encode pass (per-partition word
    memo), one narrow token-length projection, an equi-join on the doc
    id, and a map-side-combinable groupBy on the language key — output
    is |languages| rows. The merge table is kilobytes in the closure.
    """
    from . import bpe as B

    enc = B.bpe_encode(docs, merges, id_col=id_col, text_col=text_col)
    chars = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.coalesce(
            F.aggregate(
                tokens(text_col),
                F.lit(0).cast("long"),
                lambda a, x: a + F.length(x).cast("long"),
            ),
            F.lit(0),
        ).alias("__wc"),
    )
    agg = (
        enc.join(chars, id_col)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias("n_words"),
            F.coalesce(F.sum("__wc"), F.lit(0)).cast("long").alias("n_word_chars"),
            F.coalesce(F.sum("n_bpe_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens_trained"),
        )
    )
    cpt = F.round(
        F.col("n_word_chars").cast("double") / F.col("n_tokens_trained") * 1_000_000.0
    ).cast("long")
    tpw = F.round(
        F.col("n_tokens_trained").cast("double") / F.col("n_words") * 1_000_000.0
    ).cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_word_chars",
        "n_tokens_trained",
        F.when(F.col("n_tokens_trained") > 0, cpt).alias(
            "trained_chars_per_token_micros"
        ),
        F.when(F.col("n_words") > 0, tpw).alias("trained_tokens_per_word_micros"),
    )


#: minimum bigram occurrences for a pair to enter the collocation table
#: (the standard low-count cut: PMI of a hapax pair is pure noise and
#: the threshold keeps the output vocabulary-bounded)
PMI_MIN_COUNT = 5


def pmi_collocations(
    docs: DataFrame,
    min_count: int = PMI_MIN_COUNT,
    text_col: str = "text",
) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church & Hanks
    1990) over adjacent token pairs — the corpus-analytics table behind
    "which word pairs belong together" (multi-word expressions,
    tokenizer-merge candidates, domain phrase discovery).

    One row per ordered bigram with ``c_ab >= min_count``:
    ``(term_a, term_b, c_ab, c_a, c_b, n_bigrams, n_unigrams,
    pmi_micros)`` where ``pmi = ln( (c_ab/n_bigrams) /
    ((c_a/n_unigrams) * (c_b/n_unigrams)) )``.

    Float discipline (the TF-IDF/BM25 precedent): every count is an
    exact BIGINT; the probability divisions and the one product happen
    in a PINNED operation order (p_ab first, then p_a * p_b, then the
    ratio, then ln), and the score is shipped as micros — so the DuckDB
    oracle replays the whole table bit-for-bit (llm_sql.pmi_ctes).

    Scale shape (100 TB): the bigram fan-out is a per-row posexplode of
    n_tokens-1 structs riding the scan; both count tables come from
    map-side-combinable groupBys (bigram/unigram keys are uniformly
    vocabulary-distributed — no hot key beyond natural Zipf, which AQE
    skew-split handles on the join back); the two totals are 1-row
    aggregates broadcast to the (vocabulary-bounded, min_count-cut)
    pair table; the c_a/c_b attachments are plain equi-joins against
    the unigram count table. ZERO windows — nothing ranks, so nothing
    funnels; output ordering is the caller's concern.
    """
    # the token-array pass feeds BOTH count tables below — persist it so
    # the scan+tokenize runs once, not once per table (r14; the unigram
    # and bigram explodes still run separately, but off the cached
    # arrays instead of re-reading and re-splitting the corpus)
    toks = staging.stage(
        docs.select(tokens(text_col).alias("__toks")).filter(F.size("__toks") > 0)
    )
    # both count tables are vocabulary-bounded and each is read by
    # multiple consumers (totals + the joins back) — stage them so the
    # corpus tokenize/explode lineage runs once per table, not once per
    # consumer (the tfidf tf-aggregate convention)
    uni = staging.stage(
        toks.select(F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_unigrams"))
    pairs = toks.filter(F.size("__toks") > 1).select(
        F.explode(
            F.arrays_zip(
                F.slice("__toks", 1, F.size("__toks") - 1).alias("a"),
                F.slice("__toks", 2, F.size("__toks") - 1).alias("b"),
            )
        ).alias("p")
    )
    bi = staging.stage(
        pairs.select(F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    n_bi = bi.agg(F.sum("c_ab").cast("long").alias("n_bigrams"))
    out = (
        bi.filter(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a")), "term_a")
        .join(uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b")), "term_b")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    p_ab = F.col("c_ab").cast("double") / F.col("n_bigrams")
    p_a = F.col("c_a").cast("double") / F.col("n_unigrams")
    p_b = F.col("c_b").cast("double") / F.col("n_unigrams")
    pmi = F.log(p_ab / (p_a * p_b))
    return out.select(
        "term_a",
        "term_b",
        "c_ab",
        "c_a",
        "c_b",
        "n_bigrams",
        "n_unigrams",
        F.round(pmi * 1_000_000).cast("long").alias("pmi_micros"),
    )


def pmi_parity(docs: DataFrame, min_count: int = PMI_MIN_COUNT) -> DataFrame:
    """1-row checksum frame over the FULL collocation table — (n_pmi_rows,
    pmi_ck) covering every pair's counts, totals and pmi_micros; the
    DuckDB oracle recomputes the bigram explode, both count tables and
    the pinned-order PMI from scratch (llm_sql.pmi_ctes)."""
    return certificate(
        pmi_collocations(docs, min_count),
        "pmi",
        "term_a",
        "term_b",
        "c_ab",
        "c_a",
        "c_b",
        "n_bigrams",
        "n_unigrams",
        "pmi_micros",
    )


# --- token-entropy quality signals -------------------------------------------
#
# Shannon entropy of a document's unigram token distribution — the
# classic gibberish/diversity signal (low entropy = keyboard mash,
# template spam, single-token floods; entropy near ln(n_types) = evenly
# mixed vocabulary). Complements the Gopher battery (structural rules)
# and the repetition battery (n-gram duplication): this one reads the
# DISTRIBUTION, not the structure.
#
# Float discipline (the TF-IDF/BM25 precedent): H is a left fold of
# (c/n)*ln(c/n) over counts in TERM-ASCENDING order, negated, then
# micros-rounded; the normalized form divides the raw (unrounded) H by
# ln(n_types) before its own rounding. The DuckDB oracle replays the
# identical fold (explicit list_reduce, same order), so both micros
# land in the graded checksum.


def token_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document ``(id_col, n_tokens, n_types, h_micros,
    h_norm_micros)`` — the EXPLODED form (primary): one tokenize ->
    (doc, term) groupBy, then a per-doc sorted fold over the
    types-bounded count list. Scale shape: the groupBy is
    map-side-combinable; the collect_list is bounded by the doc's
    distinct-token count, so book-length docs stay linear. Empty/null
    docs anchor with counts 0 and NULL entropies."""
    tf = (
        docs.select(id_col, F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
    )
    per = tf.groupBy(id_col).agg(
        F.sum("tc").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.array_sort(F.collect_list(F.struct("term", "tc"))).alias("__arr"),
    )
    n = F.col("n_tokens")
    h_raw = -F.aggregate(
        F.col("__arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x["tc"].cast("double") / n) * F.log(x["tc"].cast("double") / n),
    )
    scored = per.select(
        id_col,
        "n_tokens",
        "n_types",
        h_raw.alias("__h_raw"),
    ).select(
        id_col,
        "n_tokens",
        "n_types",
        F.round(F.col("__h_raw") * 1_000_000.0).cast("long").alias("h_micros"),
        F.when(
            F.col("n_types") >= 2,
            F.round(
                F.col("__h_raw") / F.log(F.col("n_types").cast("double"))
                * 1_000_000.0
            ).cast("long"),
        ).alias("h_norm_micros"),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_types"), F.lit(0)).cast("long").alias("n_types"),
            "h_micros",
            "h_norm_micros",
        )
    )


def entropy_norm_micros_from_tokens(toks_col: Column) -> Column:
    """Normalized-entropy micros as a single Column over an existing
    token-array column — the inline form the corpus pipeline filters on
    (zero shuffle; NULL when fewer than 2 types). Same pinned
    term-ascending fold as :func:`token_entropy`'s ``h_norm_micros``."""
    types = F.array_sort(F.array_distinct(toks_col))
    n = F.size(toks_col).cast("long")
    counts = F.transform(
        types,
        lambda t: F.size(F.filter(toks_col, lambda x: x == t)).cast("double"),
    )
    h_raw = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log(c / n),
    )
    n_types = F.size(types).cast("long")
    return F.when(
        n_types >= 2,
        F.round(h_raw / F.log(n_types.cast("double")) * 1_000_000.0).cast(
            "long"
        ),
    )


def entropy_parity(docs: DataFrame) -> DataFrame:
    """1-row checksum frame over the FULL entropy table — ``(n_ent_rows,
    ent_ck)``; the oracle recomputes counts and the pinned fold from its
    own tf substrate (llm_sql entropy CTEs on the tfidf row)."""
    return certificate(
        token_entropy(docs),
        "ent",
        "doc_id",
        "n_tokens",
        "n_types",
        F.coalesce(F.col("h_micros"), F.lit(-1)),
        F.coalesce(F.col("h_norm_micros"), F.lit(-1)),
    )
