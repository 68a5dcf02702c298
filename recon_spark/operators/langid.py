"""Rank-order character-n-gram language identification (Cavnar &
Trenkle 1994, "N-Gram-Based Text Categorization" — the classic
profile-distance langid that fastText-era identifiers descend from,
and the trained upgrade of the stopword-hit heuristic
``operators/text.language_guess`` ships).

Method, exactly as the paper's out-of-place measure:

1. **Profiles** — per language, count character n-grams (n = 1..
   ``LANGID_NGRAM_MAX``) over words padded with ``_`` on both sides,
   rank by (count DESC, gram ASC) and keep the top
   ``LANGID_PROFILE_K``. Training docs = the deterministic 'train'
   hash split (operators/sampling.with_split), labels = the corpus
   ``lang`` column.
2. **Doc profile** — the same ranked top-K per document.
3. **Distance** — for every (doc, language): sum over the doc's top-K
   grams of |doc_rank − profile_rank| for grams in the profile, plus
   ``LANGID_PROFILE_K`` (the max out-of-place penalty) per gram absent
   from it.
4. **Verdict** — argmin distance, ties to the lexicographically
   smallest language; docs with no grams (empty/null text) predict
   NULL.

Everything is integer arithmetic over md5-deterministic splits, so the
full verdict table is engine-exact and the DuckDB oracle
(llm_sql.langid_ctes) replays padding, gram explosion, both rankings,
the penalty algebra and the argmin from scratch — graded through the
``data_contamination_check`` fold.

Scale shape (100 TB): the gram fan-out rides the scan (two explodes,
then map-side-combinable groupBys). The two ranking windows are
bounded: the language profile ranks a VOCABULARY-sized (lang, gram)
count table (char 1..3-grams — at most tens of thousands of rows per
language), and the per-document rank partitions by ``doc_id`` (group
size = the doc's distinct grams). The candidate scoring is the doc-top-K
frame joined to a BROADCAST profile (|langs| * K rows) — never a
corpus x corpus join — and the argmin is a hot-safe ``min(struct)``
aggregate, not a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.checksum import certificate
from .text import tokens

LANGID_NGRAM_MAX = 3
LANGID_PROFILE_K = 200

#: checksum-ordered verdict columns (single source for the Spark parity
#: frame and the DuckDB replay)
LANGID_COLUMNS: tuple[str, ...] = (
    "true_lang",
    "split",
    "pred_lang",
    "best_dist",
    "correct",
)


def _gram_rows(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, lang, g) — one row per char-n-gram occurrence, words
    padded '_w_', n = 1..LANGID_NGRAM_MAX."""
    padded = F.concat(F.lit("_"), F.col("__w"), F.lit("_"))
    p = F.col("__p")

    # NB: the lambda must take exactly ONE parameter — F.transform treats
    # a two-parameter callable as (element, index), so a captured-default
    # second arg (lambda i, n=n: ...) silently binds n to the array index
    def _ngrams_of(n: int):
        return F.transform(
            F.sequence(F.lit(1), F.length(p) - n + 1),
            lambda i: p.substr(i, F.lit(n)),
        )

    grams = F.flatten(
        F.array(*[_ngrams_of(n) for n in range(1, LANGID_NGRAM_MAX + 1)])
    )
    return (
        docs.select(
            "doc_id", "lang", F.explode(tokens(text_col)).alias("__w")
        )
        .select("doc_id", "lang", padded.alias("__p"))
        .select("doc_id", "lang", F.explode(grams).alias("g"))
    )


def _top_ranked(counts: DataFrame, part_col: str, k: int) -> DataFrame:
    """rank = row_number over (cnt DESC, g ASC) within part_col, kept
    <= k. Group sizes are bounded (vocabulary per language / distinct
    grams per document), so the window never sees a corpus-sized
    partition."""
    w = Window.partitionBy(part_col).orderBy(
        F.col("cnt").desc(), F.col("g").asc()
    )
    return (
        counts.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def langid_profiles(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = LANGID_PROFILE_K,
) -> DataFrame:
    """Per-language rank profiles ``(lang, g, rank)`` from the labeled
    training corpus — |langs| * k rows, broadcastable."""
    grams = _gram_rows(
        docs.filter(F.col(lang_col).isNotNull()).select(
            "doc_id", F.col(lang_col).alias("lang"), text_col
        ),
        text_col,
    )
    counts = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return _top_ranked(counts, "lang", k).select("lang", "g", "rank")


def langid_classify(
    docs: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    k: int = LANGID_PROFILE_K,
) -> DataFrame:
    """Verdicts ``(doc_id, pred_lang, best_dist)`` for every input doc
    (NULL prediction for gramless docs). ``profiles`` is broadcast; the
    argmin is a ``min(struct(dist, lang))`` aggregate — hot-safe, no
    window over candidates."""
    grams = _gram_rows(
        docs.select("doc_id", F.lit(None).cast("string").alias("lang"), text_col),
        text_col,
    )
    doc_counts = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    doc_top = _top_ranked(doc_counts, "doc_id", k).select(
        "doc_id", "g", F.col("rank").alias("dr")
    )
    doc_n = doc_top.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_top")
    )
    prof = F.broadcast(profiles.select("lang", "g", F.col("rank").alias("pr")))
    matched = (
        doc_top.join(prof, "g")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.abs(F.col("dr") - F.col("pr"))).cast("long").alias("msum"),
            F.count(F.lit(1)).cast("long").alias("mcnt"),
        )
    )
    langs = F.broadcast(profiles.select("lang").distinct())
    cand = (
        doc_n.crossJoin(langs)
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            (
                F.coalesce(F.col("msum"), F.lit(0))
                + (F.col("n_top") - F.coalesce(F.col("mcnt"), F.lit(0)))
                * F.lit(k)
            )
            .cast("long")
            .alias("dist"),
        )
    )
    best = (
        cand.groupBy("doc_id")
        .agg(F.min(F.struct("dist", "lang")).alias("b"))
        .select(
            "doc_id",
            F.col("b.lang").alias("pred_lang"),
            F.col("b.dist").alias("best_dist"),
        )
    )
    return docs.select("doc_id").join(best, "doc_id", "left")


def langid_verdicts(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = LANGID_PROFILE_K,
) -> DataFrame:
    """End-to-end graded table: profiles trained on the deterministic
    'train' hash split, every doc classified, prediction compared to
    the label — ``(doc_id, true_lang, split, pred_lang, best_dist,
    correct)``.

    Spelled as the :func:`langid_profiles` + :func:`langid_classify`
    composition ON PURPOSE (r14, guide §2.4): the duplicated subtrees
    (the profile lineage feeds both the broadcast profile and the
    language list; ``doc_top`` feeds both ``doc_n`` and ``matched``)
    sit directly above exchange boundaries, so Spark's ReusedExchange
    dedups them for free. A fused single-explode spelling that
    persisted one (doc, lang, split, gram) count table was built and
    MEASURED SLOWER at sf0.1 (3.96s vs 2.74s steady, quiet-window
    alternating A/B): it widened every shuffled gram row by the
    lang/split strings and paid cache materialization for sharing the
    exchange reuse already provided."""
    from .sampling import with_split

    labeled = with_split(docs)
    profiles = langid_profiles(
        labeled.filter(F.col("split") == "train"), text_col, lang_col, k
    )
    v = langid_classify(docs, profiles, text_col, k)
    return (
        labeled.select(
            "doc_id", F.col(lang_col).alias("true_lang"), "split"
        )
        .join(v, "doc_id")
        .select(
            "doc_id",
            "true_lang",
            "split",
            "pred_lang",
            "best_dist",
            (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
        )
    )


def langid_accuracy(verdicts: DataFrame) -> DataFrame:
    """Per-split rollup of the verdict table: docs, predictions made,
    correct count, accuracy micros (pinned single division over the
    predicted subset) — the number that says whether the profiles
    generalize off the training split."""
    return verdicts.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("pred_lang").cast("long").alias("n_predicted"),
        F.coalesce(F.sum(F.col("correct").cast("long")), F.lit(0))
        .cast("long")
        .alias("n_correct"),
        F.when(
            F.count("pred_lang") > 0,
            F.round(
                F.coalesce(F.sum(F.col("correct").cast("long")), F.lit(0)).cast(
                    "double"
                )
                / F.count("pred_lang")
                * 1_000_000.0
            ).cast("long"),
        ).alias("accuracy_micros"),
    )


def langid_parity(docs: DataFrame, k: int = LANGID_PROFILE_K) -> DataFrame:
    """1-row checksum frame over the FULL verdict table — ``(n_lid_rows,
    lid_ck)``; the oracle replays split, padding, gram explosion, both
    rankings, penalties and the argmin (llm_sql.langid_ctes)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in LANGID_COLUMNS]
    return certificate(langid_verdicts(docs, k=k), "lid", "doc_id", *parts)
