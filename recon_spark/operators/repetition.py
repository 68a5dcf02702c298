"""Gopher-style within-document n-gram repetition battery.

Public-literature operator (Rae et al. 2021, *Scaling Language Models:
Methods, Analysis & Insights from Training Gopher*, Table A1): beyond
the unigram signals already in operators/text.py (type-token ratio,
mode-token share), Gopher's quality filter thresholds
- the fraction of characters contained in the single most frequent
  n-gram, for n in {2, 3, 4}, and
- the fraction of characters contained in DUPLICATED n-grams (those
  occurring more than once), for n in {5..10}.

Semantics pinned here (public implementations vary on the margins):

- n-grams are OVERLAPPING windows over the whitespace-normalized token
  array (``len - n + 1`` per doc); the character measure of a gram is
  the length of its single-space-joined text, and the denominator is
  the character length of the whole single-space-joined document —
  whitespace runs in the raw text never skew the ratio.
- ``top_char_frac(n)`` = top-gram occurrences x top-gram chars /
  doc chars. Ties on count resolve to the lexicographically LARGEST
  gram (= max over (count, gram) pairs — one deterministic aggregate,
  no second pass).
- ``dup_char_frac(n)`` = sum over grams with count > 1 of count x
  gram chars / doc chars. Occurrences overlap, so the numerator can
  exceed the denominator (Gopher's own definition has the same
  property); values are reported unclamped — a filter clamps or
  thresholds as it sees fit.

Output is LONG form — one row per (doc, n) with the INTEGER substrate
(counts and char sums) plus the two float ratios. The integers are the
driver-graded surface (they checksum exactly across engines); the float
ratios are a single division over graded integers and stay
pytest-checked, the same split as the bigram-LM fold (operators/lm.py).

Scale shape (100 TB): ONE explode pass builds every n's grams (the
per-n window arrays are concatenated per row before the explode — 9x
fan-out in one stage, no re-tokenization), then two map-side-combining
aggregations: count per (doc, n, gram) and roll-up per (doc, n). No
joins, no windows; the hot key is a (doc, n, gram) triple, which is
bounded by a single document's repetition of one gram — skew therefore
tracks pathological documents, and the aggregation splits fine under
AQE because per-(doc,n,gram) partial counts combine map-side.

PERF: the gram fan-out runs inside the input's partitioning (explode
never redistributes) — a near-single-partition input serializes the
whole battery into a few tasks (measured 23s single-split vs 4.4s at 8
splits, sf0.1). At cluster scale parquet arrives pre-split; on a local
single-file read, ``repartition`` first (the registry fold and the
bench entry both do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as T

#: Gopher Table A1 ranges
TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)
ALL_NS = TOP_NS + DUP_NS


def _ngram_structs(toks: Column, ns: tuple[int, ...]) -> Column:
    """Array of struct(n, gram) over every requested n — overlapping
    windows, built in one expression so one explode covers the battery.
    ``toks`` must be a plain column reference."""
    def _mk(n: int):
        # NB: a one-arg lambda, built by closure — a two-arg lambda with
        # an ``n=n`` default would make F.transform pass (element, INDEX)
        # and silently bind the index column to n
        return lambda i: F.struct(
            F.lit(n).alias("n"),
            F.array_join(F.slice(toks, i + 1, n), " ").alias("gram"),
        )

    per_n = [
        F.transform(
            F.when(
                F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
            ).otherwise(F.array().cast("array<int>")),
            _mk(n),
        )
        for n in ns
    ]
    return F.flatten(F.array(*per_n))


def repetition_ngram_substrate(
    docs: DataFrame,
    ns: tuple[int, ...] = ALL_NS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """(doc_id, n, top_cnt, top_chars, dup_chars, total_chars,
    top_char_frac, dup_char_frac) — one row per (non-empty doc, n).

    ``tokens_col`` reuses an already-staged token array (the registry's
    single tokenize pass); otherwise the text is tokenized here.
    """
    toks = F.col(tokens_col) if tokens_col else T.tokens(text_col)
    staged = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).filter(F.size("__toks") > 0)
    grams = staged.select(
        "doc_id",
        (F.length(F.array_join(F.col("__toks"), " "))).cast("long").alias(
            "total_chars"
        ),
        F.explode(_ngram_structs(F.col("__toks"), ns)).alias("g"),
    ).select(
        "doc_id",
        "total_chars",
        F.col("g.n").alias("n"),
        F.col("g.gram").alias("gram"),
    )
    counts = grams.groupBy("doc_id", "n", "total_chars", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rolled = counts.groupBy("doc_id", "n", "total_chars").agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("__top"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cnt") > 1, F.col("cnt") * F.length(F.col("gram"))
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dup_chars"),
    )
    top_cnt = F.col("__top.cnt").cast("long")
    top_chars = (top_cnt * F.length(F.col("__top.gram"))).cast("long")
    return rolled.select(
        "doc_id",
        F.col("n").cast("int").alias("n"),
        top_cnt.alias("top_cnt"),
        top_chars.alias("top_chars"),
        "dup_chars",
        "total_chars",
        (top_chars.cast("double") / F.col("total_chars")).alias("top_char_frac"),
        (F.col("dup_chars").cast("double") / F.col("total_chars")).alias(
            "dup_char_frac"
        ),
    )


def gopher_repetition_flags(
    substrate: DataFrame,
    top_max: dict[int, float] | None = None,
    dup_max: dict[int, float] | None = None,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document pass/fail against Gopher Table A1's thresholds:
    top {2: .20, 3: .18, 4: .16}, dup {5: .15, 6: .14, 7: .13, 8: .12,
    9: .11, 10: .10}. Returns (doc_id, repetition_ok, n_breaches).

    Documents shorter than min(n) tokens produce NO substrate rows, so
    by default they are ABSENT from the output (a consumer joining on
    repetition_ok would silently drop them — ADVICE r9). Pass the input
    ``docs`` frame to re-anchor the flags on every document id: rows
    with no substrate default to n_breaches=0 / repetition_ok=true (a
    doc too short to form an n-gram cannot breach a repetition
    threshold)."""
    top_max = top_max or {2: 0.20, 3: 0.18, 4: 0.16}
    dup_max = dup_max or {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    breach = F.lit(False)
    for n, lim in top_max.items():
        breach = breach | (
            (F.col("n") == n) & (F.col("top_char_frac") > F.lit(lim))
        )
    for n, lim in dup_max.items():
        breach = breach | (
            (F.col("n") == n) & (F.col("dup_char_frac") > F.lit(lim))
        )
    flags = substrate.groupBy("doc_id").agg(
        F.count_if(breach).cast("long").alias("n_breaches"),
        (F.count_if(breach) == 0).alias("repetition_ok"),
    )
    if docs is None:
        return flags
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_breaches"), F.lit(0)).cast("long").alias("n_breaches"),
            F.coalesce(F.col("repetition_ok"), F.lit(True)).alias("repetition_ok"),
        )
    )
