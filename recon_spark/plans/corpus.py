"""End-to-end training-corpus construction — the composition the
individual LLM-data operators exist for, as one plan:

    quality filter -> exact dedup -> near-dup cluster drop ->
    [perplexity filter] -> deterministic split -> sequence packing

Every stage is one of the individually-tested operators (text battery,
fingerprint dedup, MinHash-LSH + connected components, bigram-LM
perplexity, md5 split, concat-and-chunk packing), so the composition
inherits their oracles and scale shapes; this module adds only the
wiring and a per-stage audit trail.  At 100 TB the stages are: narrow
scan->project (stats), one shuffle on the fingerprint, the banded LSH
joins over survivors, the LM's word-count groupBys + two scoring
equi-joins, a shuffle-free split projection, and the packing prefix sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import staging
from ..operators import components, dedup, lm, packing, sampling
from ..operators import text as T


def build_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = packing.DEFAULT_BUDGET,
    near_dup_threshold: float = 0.5,
    near_dup_method: str = "auto",
    perplexity_keep: float | None = None,
    perplexity_ref: DataFrame | None = None,
    boilerplate_spans: int | None = None,
    exact_substr_tokens: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    quality_clf_target: DataFrame | None = None,
    quality_clf_keep: float | None = None,
    bpe_merges: int | None = None,
    c4_lines: bool = False,
    dedup_paras: bool = False,
    unicode_form: str | None = None,
    gopher_rules: bool = False,
    blocklist: tuple[str, ...] | None = None,
    entropy_min_norm: float | None = None,
) -> DataFrame:
    """Full corpus-prep pipeline. Returns one row per SURVIVING document:
    ``doc_id, n_tokens, split, bin_id, bin_offset`` (packing within each
    split's stream).  Drop decisions: any quality flag; non-first doc per
    exact fingerprint; non-canonical member of a near-dup cluster; and —
    when ``perplexity_keep`` is set — documents above the corpus's
    ``perplexity_keep`` perplexity quantile against ``perplexity_ref``
    (default: the deduped corpus itself, CCNet-style self-reference).

    ``boilerplate_spans`` (round 9) prepends the C4-style cross-document
    duplicate-span removal (operators/spans.py) at that window width as
    the FIRST stage, so every downstream signal — quality flags,
    fingerprints, shingles, perplexity — sees the boilerplate-free text
    (a repeated license block would otherwise both mask a doc's real
    quality and create spurious near-dup pairs). NOTE: the stage edits
    text, so document fingerprints downstream are fingerprints of the
    CLEANED text by construction.

    ``exact_substr_tokens`` (round 11) prepends ExactSubstr dedup (Lee
    et al. 2021, operators/exactsubstr.py) ahead of everything — the
    paper applies it to raw text before any other signal; when combined
    with ``boilerplate_spans`` the exact any-alignment pass runs first
    and the aligned C4 window sweeps the residual.

    ``quality_clf_target`` + ``quality_clf_keep`` (round 11) insert the
    fastText-style classifier filter (operators/quality_clf.py) after
    the perplexity stage: logistic regression trained
    target-vs-survivors over the DSIR hashed-feature buckets, keeping
    the top ``quality_clf_keep`` fraction by probability.

    ``near_dup_method`` (round 12; DEFAULT since round 13): 'auto' —
    the regime-adaptive dispatcher (operators/dedup.ngram_jaccard_auto):
    one probe aggregate over the staged shingles measures the corpus's
    frequency profile and routes to count-based / PPJoin-prefix exact
    Jaccard (exact recall) or MinHash-LSH (saturated profiles), so an
    organic corpus gets EXACT near-dup recall at comparable cost while
    pathological profiles keep the LSH guardrail. The probe is one
    eager driver action (bounded: a single aggregated row); measured
    overhead on the benched e2e at sf0.1 is ~0.6-1.2s against an 8-9s
    build, and the fixture-corpus output is IDENTICAL to the previous
    'minhash' default at sf0.001/0.01/0.1 (the probe routes to the
    exact 'count' form there — asserted in tests/test_corpus.py).
    Pass 'minhash' to force the banded-LSH path unconditionally.

    ``unicode_form`` (round 12) prepends UAX#15 normalization
    (operators/unicode_norm.py, e.g. ``"NFC"``/``"NFKC"``) ahead of
    every other stage — mixed-encoding spellings of the same text must
    unify before any fingerprint/shingle/token signal is computed.

    ``c4_lines`` / ``dedup_paras`` (round 12) prepend the
    within-document cleaning family (operators/lines.py) ahead of
    everything — C4's structural line filter (including its page-drop
    rules, so documents can be REMOVED here, not just edited) and
    Dolma-style keep-first paragraph dedup. Both are pure column
    algebra: zero shuffle, evaluated inline in the scan stage.

    ``gopher_rules`` (round 14) inserts the full Gopher A1.1
    document-level battery (operators/gopher.py — the MassiveText rule
    set, oracle-graded through the data_sample_stratified fold) after
    the text-editing stages and before the legacy 3-flag quality
    filter; the keep verdict is appended inline to the scan, so the
    stage costs zero shuffles.

    ``blocklist`` (round 14) drops any document containing a listed
    phrase (operators/blocklist.py — C4's bad-words rule), word-boundary
    exact over the standard tokenizer; also an inline scan expression.

    ``entropy_min_norm`` (round 14) drops documents whose normalized
    unigram token entropy falls below the threshold (gibberish/spam
    floods; operators/text.entropy_norm_micros_from_tokens) — evaluated
    on the same staged token array as the quality flags, zero extra
    cost.

    ``bpe_merges`` (round 12) swaps the packing stage's token budget
    from the whitespace proxy to TRAINED-BPE subword counts
    (operators/bpe.py): a merge table is learned from the cleaned
    survivors (vocabulary-sized histogram + bounded driver merge loop)
    and the bins are budgeted by the encoded counts a downstream
    trainer actually consumes.

    ``dsir_target`` + ``dsir_keep`` (round 10) append DSIR importance
    selection (operators/dsir.py) as the LAST filter: of the cleaned
    survivors, keep the ``dsir_keep`` documents whose hashed-n-gram
    importance log-ratio toward the target distribution is highest.
    NOTE: the perplexity stage runs the threshold percentile eagerly
    (one driver action over the scored frame); every other stage stays
    lazy.

    Frames the returned plan still reads go through :mod:`recon_spark.staging`."""
    # Lean staging: the pipeline consumes ONLY the quality flags and the
    # exact-dup fingerprint — computing the full with_text_stats battery
    # here also paid for min_shingle_hash (md5 per shingle per doc),
    # lang-id and the repetition stats, all unused (measured ~25% of the
    # e2e bench entry). Since round 8 the ONE staged token array also
    # rides through the dedup window into the survivors cache and feeds
    # EVERY downstream tokenizing stage (MinHash shingles, LM train +
    # score, packing's token counts) via their tokens_col params —
    # previously each stage re-tokenized its input (5 passes total).
    # Tradeoff made explicit: the survivors cache carries the token
    # arrays (~text-sized again) — the same store-the-derived-form call
    # the LSH signature persist makes. Honest measurement: at sf0.1 the
    # change is NEUTRAL (best-of-5 8.78s vs 8.84s before) because this
    # pipeline is join/shuffle-dominated there; the saved passes are
    # per-core CPU, which is what binds on a real cluster scan, and the
    # text_stats trim (same technique, map-dominated query) measured
    # 8.2 -> 6.1s — so the shape is kept with the cache cost named.
    if unicode_form is not None:
        # Unicode normalization (round 12, operators/unicode_norm.py)
        # runs before EVERYTHING: composed vs decomposed spellings of
        # the same visible text must hash identically or exact dedup
        # under-deletes and every downstream signal sees phantom
        # distinctions. One Arrow-batched map pass, no shuffle.
        from ..operators import unicode_norm as UNORM

        docs = UNORM.normalize_text(
            docs, unicode_form, id_col=id_col, text_col=text_col
        ).select(id_col, F.col("norm_text").alias(text_col))

    if c4_lines or dedup_paras:
        # Within-document cleaning (round 12, operators/lines.py) runs
        # FIRST — both are per-row column algebra (no shuffle, no model),
        # and C4's own order is line-structure rules before any
        # corpus-level signal. Line filter, then within-doc paragraph
        # dedup over the surviving lines.
        from ..operators import lines as LN

        if c4_lines:
            docs = (
                LN.c4_line_filter(docs, id_col=id_col, text_col=text_col)
                .filter(~F.col("dropped"))
                .select(id_col, F.col("clean_text").alias(text_col))
            )
        if dedup_paras:
            docs = LN.dedup_paragraphs(
                docs, id_col=id_col, text_col=text_col
            ).select(id_col, F.col("clean_text").alias(text_col))

    if (unicode_form is not None or c4_lines or dedup_paras) and (
        exact_substr_tokens is not None or boilerplate_spans is not None
    ):
        # r14 (guide §2.4/§5): the span/exactsubstr stages below consume
        # their input TWICE (window-fingerprint aggregate + the verdict
        # join back), so without a cache the text-editing lineage above —
        # including the Arrow-batched NFC map pass, the single most
        # expensive per-row stage — executes once per consumer (the
        # benched full build showed 10 MapInPandas nodes / 7 corpus
        # scans in one plan). Persist the edited corpus once; the
        # downstream pipeline reads the cache. At cluster scale this is
        # the store-the-derived-form tradeoff the survivors cache
        # already makes (disk-backed persist vs re-running a Python
        # boundary pass per consumer).
        docs = staging.stage(docs)

    if exact_substr_tokens is not None:
        # ExactSubstr (round 11, operators/exactsubstr.py): Lee et al.
        # 2021 run it exactly here — edit the raw text before any
        # quality/dedup signal is computed, removing every >= L-token
        # substring that repeats anywhere in the corpus (keep-first).
        # Runs BEFORE the aligned span stage when both are requested:
        # the exact any-alignment pass first, the cheaper aligned C4
        # window as the residual boilerplate sweep.
        from ..operators import exactsubstr as ES

        docs = ES.exact_substr_dedup(
            docs, l_tokens=exact_substr_tokens, id_col=id_col, text_col=text_col
        ).select(
            F.col("doc_id").alias(id_col), F.col("clean_text").alias(text_col)
        )

    if boilerplate_spans is not None:
        from ..operators import spans as SP

        docs = SP.span_dedup(
            docs, k=boilerplate_spans, id_col=id_col, text_col=text_col
        ).select(
            F.col("doc_id").alias(id_col), F.col("clean_text").alias(text_col)
        )

    if blocklist is not None:
        # Phrase-blocklist content filter (round 14,
        # operators/blocklist.py — the C4/Dolma bad-words stage): drop
        # any document containing a listed phrase, word-boundary exact.
        # Inline boolean expression — rides the scan, zero shuffles.
        from ..operators import blocklist as BLK

        docs = docs.filter(~BLK.blocklist_hit_expr(blocklist, text_col))

    if gopher_rules:
        # Gopher A1.1 battery (round 14, operators/gopher.py): the
        # MassiveText document-level rule set as an opt-in filter,
        # applied AFTER the text-editing stages so the rules judge the
        # text that will actually train. Pure column algebra appended
        # inline (with_gopher_battery) — the keep verdict rides the
        # scan, no semi-join back, no shuffle.
        from ..operators import gopher as GOP

        docs = (
            GOP.with_gopher_battery(docs, text_col)
            .filter(F.col("gopher_keep"))
            .select(id_col, text_col)
        )

    toks = F.col("__toks")
    flags = T.quality_flags_from(
        F.size(toks).cast("long"),
        T.mean_word_len_from_tokens(toks),
        T.punct_ratio(text_col),
    )
    clean = (
        docs.withColumn("__toks", T.tokens(text_col))
        .filter(F.size(flags) == 0)
        .withColumn("fingerprint", T.fingerprint(text_col))
    )
    if entropy_min_norm is not None:
        # normalized token-entropy gibberish cut (round 14,
        # operators/text.entropy_norm_micros_from_tokens): drop docs
        # whose unigram distribution is too concentrated (spam floods,
        # keyboard mash). Rides the SAME staged token array as the
        # quality flags — zero extra tokenize, zero shuffle; docs with
        # <2 types (NULL norm) are degenerate by definition and drop.
        thr = round(entropy_min_norm * 1_000_000)
        clean = clean.filter(
            F.coalesce(
                T.entropy_norm_micros_from_tokens(F.col("__toks")) >= thr,
                F.lit(False),
            )
        )

    # survivors feeds the LSH stage, the cluster-drop anti-join, the LM
    # scorer and the packing tail — persist so the staging + dedup
    # window lineage executes once, not once per consumer (measured ~2x
    # on the e2e bench entry)
    survivors = staging.stage(dedup.exact_dedup(clean, F.col("fingerprint"), [id_col]))

    if near_dup_method == "minhash":
        pairs = dedup.minhash_near_dup(
            survivors,
            id_col=id_col,
            text_col=text_col,
            threshold=near_dup_threshold,
            tokens_col="__toks",
        ).select("id_a", "id_b")
    elif near_dup_method == "auto":
        # round 12: the regime-adaptive dispatcher as an opt-in pipeline
        # stage — shingles derive from the SAME staged token pass, the
        # probe measures this corpus's actual frequency profile, and the
        # route (count/prefix/MinHash) is whatever that regime's
        # measured winner is (operators/dedup.ngram_jaccard_auto; the
        # probe is one eager aggregate, same class as the perplexity
        # stage's threshold percentile). The float threshold is carried
        # as an exact fraction so the exact routes keep their
        # integer-arithmetic compare.
        from fractions import Fraction

        fr = Fraction(near_dup_threshold).limit_denominator(10**6)
        sh = staging.stage(
            survivors.select(
                F.col(id_col).alias("id"),
                T.shingles_from_tokens(F.col("__toks"), 3).alias("sh"),
            )
        )
        pairs = dedup.ngram_jaccard_auto(
            None, sh=sh, t_num=fr.numerator, t_den=fr.denominator
        ).select("id_a", "id_b")
    else:
        raise ValueError(
            f"near_dup_method must be 'minhash' or 'auto', got {near_dup_method!r}"
        )
    drops = components.resolve_clusters(pairs).filter(~F.col("keep")).select(
        F.col("doc_id").alias(id_col)
    )
    kept = survivors.join(drops, id_col, "left_anti")

    if perplexity_keep is not None:
        ref = perplexity_ref if perplexity_ref is not None else kept
        ref_tokens = None if perplexity_ref is not None else "__toks"
        model = lm.train_bigram_lm(
            ref, text_col=text_col, id_col=id_col, tokens_col=ref_tokens
        )
        # scored feeds the eager threshold percentile AND the keep filter.
        # Both consumers are drained INSIDE this function: the percentile
        # is an eager action, and keep_ids is localCheckpoint-ed (an
        # id-only frame, so the materialization is tiny and reads straight
        # from the cache) — which truncates the returned plan's lineage
        # off `scored`, so the cache can be released here instead of
        # leaking into the caller's session (ADVICE r7).
        scored = lm.score_perplexity(
            kept, model, id_col=id_col, text_col=text_col, tokens_col="__toks"
        ).persist()
        thr = lm.perplexity_filter_threshold(scored, perplexity_keep)
        keep_ids = (
            scored.filter(F.col("perplexity") <= thr)
            .select(id_col)
            .localCheckpoint()
        )
        scored.unpersist()
        kept = kept.join(keep_ids, id_col, "left_semi")

    if quality_clf_target is not None and quality_clf_keep is not None:
        # fastText-style classifier filter (round 11, operators/
        # quality_clf.py): train target-vs-pool logistic regression over
        # the DSIR hashed-feature buckets (the CCNet shape — curated
        # positives, the corpus itself as negatives), score every
        # survivor, keep the top quality_clf_keep fraction by
        # probability. Threshold is the one eager exact-percentile
        # action (same pattern as the perplexity stage); training's
        # per-iteration collects are bounded at n_buckets rows.
        from ..operators import quality_clf as _qclf

        spark = docs.sparkSession
        sub = _qclf.labeled_substrate(
            quality_clf_target, kept, id_col=id_col, text_col=text_col
        )
        qw, qb = _qclf.train_quality_clf(spark, sub)
        qscored = _qclf.with_quality_prob(
            spark, kept, qw, qb, id_col=id_col, text_col=text_col
        ).persist()
        qthr = _qclf.quality_prob_threshold(qscored, quality_clf_keep)
        q_ids = (
            qscored.filter(F.col("prob") >= qthr)
            .select(F.col("doc_id").alias(id_col))
            .localCheckpoint()
        )
        qscored.unpersist()
        kept = kept.join(q_ids, id_col, "left_semi")

    if dsir_target is not None and dsir_keep is not None:
        # DSIR selection (round 10, operators/dsir.py): keep the
        # dsir_keep survivors whose hashed-n-gram importance under the
        # target distribution is highest — runs AFTER quality/dedup/
        # perplexity so the raw model is fit on the already-cleaned
        # pool (the paper's setup: selection is the last filter).
        from ..operators import dsir as _dsir

        picked = _dsir.dsir_select(
            kept, dsir_target, k=dsir_keep, id_col=id_col, text_col=text_col
        ).select(id_col)
        kept = kept.join(picked, id_col, "left_semi")

    split = sampling.with_split(kept, id_col=id_col)
    if bpe_merges is not None:
        # trained-BPE packing (round 12, operators/bpe.py): budget the
        # bins by the subword counts a downstream trainer actually
        # consumes, not the whitespace proxy. Train = one
        # vocabulary-sized histogram off the shared token pass + the
        # bounded driver merge loop; encode = one Arrow-batched
        # mapInPandas stage over the survivors.
        from ..operators import bpe as _bpe

        merges = _bpe.bpe_train(
            kept, n_merges=bpe_merges, text_col=text_col, tokens_col="__toks"
        )
        counts = _bpe.bpe_encode(kept, merges, id_col=id_col, text_col=text_col)
        split = split.join(
            counts.select(id_col, "n_bpe_tokens"), id_col
        )
        return packing.pack_sequences(
            split,
            budget=budget,
            id_col=id_col,
            text_col=text_col,
            group_cols=("split",),
            count_col="n_bpe_tokens",
        )
    return packing.pack_sequences(
        split,
        budget=budget,
        id_col=id_col,
        text_col=text_col,
        group_cols=("split",),
        tokens_col="__toks",
    )


def corpus_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """Stage-by-stage survivor counts: ``(stage, n)`` — the audit trail a
    data-prep run logs (each count is a cheap aggregate over the same
    lazy plans; nothing is collected driver-side until the caller acts)."""
    stats = T.with_text_stats(docs, text_col)
    clean = stats.filter(F.size("quality_flags") == 0)
    survivors = dedup.exact_dedup(clean, F.col("fingerprint"), [id_col])
    pairs = dedup.minhash_near_dup(
        survivors, id_col=id_col, text_col=text_col, threshold=near_dup_threshold
    ).select("id_a", "id_b")
    drops = components.resolve_clusters(pairs).filter(~F.col("keep"))
    kept = survivors.join(
        drops.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )

    def row(stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n")
        )

    return (
        row("input", docs)
        .unionByName(row("quality_pass", clean))
        .unionByName(row("exact_unique", survivors))
        .unionByName(row("near_dup_dropped", drops))
        .unionByName(row("final", kept))
    )
