"""Gopher document-level quality-rule battery (Rae et al. 2021,
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", Appendix A1.1) — the rule set most open-corpus pipelines
(MassiveText, RefinedWeb, Dolma) apply before any model-based filter,
and the document-level complement of the n-gram repetition battery
(operators/repetition.py) that already grades the SAME paper's Table A1
rules.

Seven rules, each a per-document verdict:

1. word count within ``[GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]`` (50..100k)
2. mean word length within [3, 10] characters
3. symbol-to-word ratio <= 0.1 for BOTH the hash symbol and the
   ellipsis (``...`` and the one-char ``…``)
4. <= 90% of (non-blank) lines start with a bullet marker
5. <= 30% of (non-blank) lines end with an ellipsis
6. >= 80% of words contain at least one alphabetic character
7. at least ``GOPHER_MIN_STOP_HITS`` (2) distinct stop words from the
   paper's 8-word list {the, be, to, of, and, that, have, with}

``gopher_keep`` is the conjunction. Everything is pure column algebra
riding the scan — words/lines/counters from one projection, ZERO
shuffles, zero UDFs — so at 100 TB the battery is a free passenger on
whatever pass reads the text anyway (the lines.py/C4-filter shape).

Float discipline (the TF-IDF/BM25 precedent): all counters are exact
BIGINTs; every ratio is a single pinned division shipped as micros; the
rule thresholds compare the MICROS (integer compares), never raw
doubles — so the DuckDB oracle (llm_sql.gopher_ctes) replays every
verdict bit-for-bit and the fold on the ``data_sample_stratified`` row
certifies the whole per-document table.

Definitional pins (the paper leaves these open; both engines implement
exactly this):

- "words" = runs split on the explicit whitespace class
  (functions/normalizers.WS — RE2/Java-identical, the lines.py pin),
  empties dropped; punctuation stays attached (so rule 6 is meaningful).
- "lines" = ``\\n``-split segments whose ``trim`` is non-empty.
- stop-word hits count DISTINCT stop words present among the
  lowercased alphanumeric tokens (operators/text.tokens).
- bullet markers: a line's leading spaces are stripped, then it must
  start with one of ``GOPHER_BULLET_PREFIXES``.

Reference tie-in: generalizes the reference's row-level validation
predicates (V1-V6, src/core/validators.py) from field sanity to
document quality — same shape (boolean column battery + issue rollup),
corpus-scale target.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import certificate
from ..functions.normalizers import _c
from .lines import WS_CLASS
from .text import tokens

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_MICROS = 3_000_000
GOPHER_MAX_MWL_MICROS = 10_000_000
GOPHER_MAX_SYMBOL_RATIO_MICROS = 100_000
GOPHER_MAX_BULLET_RATIO_MICROS = 900_000
GOPHER_MAX_ELLIPSIS_LINE_RATIO_MICROS = 300_000
GOPHER_MIN_ALPHA_RATIO_MICROS = 800_000
GOPHER_MIN_STOP_HITS = 2

#: the paper's stop-word list, verbatim (A1.1 bullet 7)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the",
    "be",
    "to",
    "of",
    "and",
    "that",
    "have",
    "with",
)

#: leading markers that make a line a "bullet point" line (rule 4)
GOPHER_BULLET_PREFIXES: tuple[str, ...] = ("•", "‣", "▪", "-", "*")

#: substrate/verdict columns, in checksum order (single source for the
#: Spark parity frame and the DuckDB replay in llm_sql.gopher_ctes)
GOPHER_COLUMNS: tuple[str, ...] = (
    "n_words",
    "n_word_chars",
    "n_hash",
    "n_ellipsis",
    "n_lines",
    "n_bullet_lines",
    "n_ellipsis_lines",
    "n_alpha_words",
    "n_stop_hits",
    "mwl_micros",
    "hash_ratio_micros",
    "ellipsis_ratio_micros",
    "bullet_ratio_micros",
    "ellipsis_line_ratio_micros",
    "alpha_ratio_micros",
    "rule_word_count",
    "rule_mean_word_len",
    "rule_symbol_ratio",
    "rule_bullet_lines",
    "rule_ellipsis_lines",
    "rule_alpha_words",
    "rule_stop_words",
    "gopher_keep",
)


def _occurrences(s: Column, needle: str) -> Column:
    """Exact non-overlapping occurrence count via length difference —
    left-to-right greedy in both engines, so engine-identical."""
    diff = F.length(s) - F.length(F.replace(s, F.lit(needle), F.lit("")))
    return F.floor(diff / len(needle)).cast("long")


def _ratio_micros(num: Column, den: Column) -> Column:
    """Pinned single-division micros; NULL when the denominator is 0."""
    return F.when(
        den > 0, F.round(num.cast("double") / den * 1_000_000.0).cast("long")
    )


def with_gopher_battery(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the full battery (``GOPHER_COLUMNS``) to the input frame,
    keeping every input column — the zero-shuffle form the corpus
    pipeline filters on inline (no semi-join back). Input columns must
    not collide with the battery names.

    Scale shape: one narrow projection over the scan — the word/line
    arrays live inside a single ``select`` and never shuffle.
    """
    s = F.coalesce(_c(text_col).cast("string"), F.lit(""))
    words = F.filter(F.split(s, WS_CLASS), lambda w: w != "")
    lines = F.filter(
        F.split(s, "\n"), lambda l: F.trim(l) != F.lit("")
    )
    toks = tokens(s)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            lambda sw: F.exists(toks, lambda t: t == sw),
        )
    ).cast("long")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.reduce(
                F.array(*[F.lit(p) for p in GOPHER_BULLET_PREFIXES]),
                F.lit(False),
                lambda acc, p: acc | F.ltrim(l).startswith(p),
            ),
        )
    ).cast("long")
    ell_lines = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("long")
    sub = docs.select(
        "*",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_word_chars"),
        _occurrences(s, "#").alias("n_hash"),
        (_occurrences(s, "...") + _occurrences(s, "…")).alias("n_ellipsis"),
        F.size(lines).cast("long").alias("n_lines"),
        bullet.alias("n_bullet_lines"),
        ell_lines.alias("n_ellipsis_lines"),
        F.size(
            F.filter(words, lambda w: w.rlike("[a-zA-Z]"))
        ).cast("long").alias("n_alpha_words"),
        stop_hits.alias("n_stop_hits"),
    )
    nw = F.col("n_words")
    nl = F.col("n_lines")
    sub = sub.select(
        "*",
        _ratio_micros(F.col("n_word_chars"), nw).alias("mwl_micros"),
        _ratio_micros(F.col("n_hash"), nw).alias("hash_ratio_micros"),
        _ratio_micros(F.col("n_ellipsis"), nw).alias("ellipsis_ratio_micros"),
        _ratio_micros(F.col("n_bullet_lines"), nl).alias("bullet_ratio_micros"),
        _ratio_micros(F.col("n_ellipsis_lines"), nl).alias(
            "ellipsis_line_ratio_micros"
        ),
        _ratio_micros(F.col("n_alpha_words"), nw).alias("alpha_ratio_micros"),
    )
    rules = {
        "rule_word_count": nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS),
        "rule_mean_word_len": (nw > 0)
        & F.col("mwl_micros").between(
            GOPHER_MIN_MWL_MICROS, GOPHER_MAX_MWL_MICROS
        ),
        "rule_symbol_ratio": (nw > 0)
        & (F.col("hash_ratio_micros") <= GOPHER_MAX_SYMBOL_RATIO_MICROS)
        & (F.col("ellipsis_ratio_micros") <= GOPHER_MAX_SYMBOL_RATIO_MICROS),
        "rule_bullet_lines": (nl > 0)
        & (F.col("bullet_ratio_micros") <= GOPHER_MAX_BULLET_RATIO_MICROS),
        "rule_ellipsis_lines": (nl > 0)
        & (
            F.col("ellipsis_line_ratio_micros")
            <= GOPHER_MAX_ELLIPSIS_LINE_RATIO_MICROS
        ),
        "rule_alpha_words": (nw > 0)
        & (F.col("alpha_ratio_micros") >= GOPHER_MIN_ALPHA_RATIO_MICROS),
        "rule_stop_words": F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS,
    }
    out = sub.select(
        "*", *[expr.alias(name) for name, expr in rules.items()]
    )
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return out.select("*", keep.alias("gopher_keep"))


def gopher_quality(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher A1.1 battery: ``id_col`` + the
    ``GOPHER_COLUMNS`` substrate (exact BIGINT counters, micros ratios,
    seven rule verdicts, ``gopher_keep``) — the graded-table shape.
    Compose with ``plans.corpus`` via :func:`with_gopher_battery`
    (``gopher_rules=True``) to drop where ``NOT gopher_keep``."""
    return with_gopher_battery(docs, text_col).select(id_col, *GOPHER_COLUMNS)


def gopher_reject_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus rollup: per rule, how many documents fail it, plus the
    overall keep count — the number a pipeline operator actually reads
    before committing a 100 TB filter pass. One map-side-combinable
    aggregate over the battery."""
    g = gopher_quality(docs, text_col)
    rule_cols = [c for c in GOPHER_COLUMNS if c.startswith("rule_")]
    aggs = [
        F.sum((~F.col(c)).cast("long")).alias(f"n_fail_{c[5:]}")
        for c in rule_cols
    ]
    aggs.append(F.sum(F.col("gopher_keep").cast("long")).alias("n_keep"))
    aggs.append(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return g.agg(*aggs)


def gopher_parity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row checksum frame over the FULL per-document battery —
    ``(n_gq_rows, gq_ck)`` covering every counter, micros ratio and
    verdict; the DuckDB oracle recomputes all of it from the raw text
    (llm_sql.gopher_ctes)."""
    parts = [
        F.coalesce(F.col(c), F.lit(-1)) if c.endswith("_micros") else c
        for c in GOPHER_COLUMNS
    ]
    return certificate(gopher_quality(docs, text_col), "gq", "doc_id", *parts)
