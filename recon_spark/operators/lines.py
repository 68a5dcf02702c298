"""Within-document cleaning — C4-style line filtering (Raffel et al.
2020, *Exploring the Limits of Transfer Learning with a Unified
Text-to-Text Transformer*, §2.2) and Dolma-style within-doc paragraph
dedup (Soldaini et al. 2024) — entirely in column algebra (zero UDF,
zero shuffle: both are per-row ``transform``/``filter`` expressions the
scan stage evaluates inline, so they cost one map pass at any corpus
size and push down/prune like any projection).

These complement the CROSS-document family (spans.span_dedup removes
text repeated across documents; dedup.* drop whole near-dup documents):
here every decision is local to one document — boilerplate lines that
don't parse as prose, and the same paragraph pasted twice into one page.

**C4 line filter** (:func:`c4_line_filter`) — the paper's structural
rules, re-expressed per line: keep a line iff it ends in a terminal
punctuation mark (. ! ? "), has at least ``min_words`` whitespace words,
and does not mention ``javascript``; drop the whole page iff fewer than
``min_lines`` lines survive (the paper's "fewer than 3 sentences",
using kept lines as the sentence proxy) or the page contains ``{`` or
``lorem ipsum``. The word-list obscenity rule is corpus-policy, not
structure, and is left to the quality battery's flag mechanism.

**Within-doc paragraph dedup** (:func:`dedup_paragraphs`) — Dolma's
unit: paragraphs are the newline-delimited spans of a document; exact
repeats after the first occurrence are removed, order preserved,
idempotent. Keep-first is positional: paragraph i survives iff the
first occurrence of its text within the prefix ``paras[0..i]`` is i
itself (``array_position`` over a ``slice`` — O(paragraphs²) per
document, bounded by page size, never by corpus size).

Parity discipline: both operators are driver-graded through checksum
folds on the ``data_sample_stratified`` row (unbenched, so the
certificate costs zero bench wall time); the oracle replays line
splitting, the keep predicate and the keep-first scan verbatim
(oracles/llm_sql.lines_parity_ctes). Differential fuzz over
newline-rich corpora in tests/test_lines.py.

Reference parity: no reference counterpart — beyond-reference
LLM-pipeline surface (within-doc cleaning family, next to the
cross-doc span/CDC/ExactSubstr dedups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import certificate
from ..functions.normalizers import WS, _c

#: C4's terminal punctuation marks: period, exclamation, question,
#: end quotation
TERMINAL_PUNCT = (".", "!", "?", '"')

#: C4 thresholds: >= 5 words per kept line, >= 3 kept lines per page
C4_MIN_WORDS = 5
C4_MIN_LINES = 3


#: explicit ASCII whitespace class for the word split — NOT ``\s``:
#: Java regex ``\s`` includes vertical tab U+000B but RE2's (DuckDB's)
#: does not, so a line with a vertical tab between words would count
#: differently on the two sides of the parity fold (ADVICE r12). The
#: same literal class is used verbatim in the DuckDB replay
#: (oracles/llm_sql.lines_parity_ctes).
WS_CLASS = WS + "+"


def _line_words(line: Column) -> Column:
    """Whitespace word count of one line (C4 counts raw words, not the
    alnum tokens of the quality battery)."""
    return F.size(F.filter(F.split(F.trim(line), WS_CLASS), lambda w: w != ""))


def _line_keep(line: Column, min_words: int) -> Column:
    """C4 per-line keep predicate (structure rules only)."""
    rt = F.rtrim(line)
    punct = F.lit(False)
    for p in TERMINAL_PUNCT:
        punct = punct | F.endswith(rt, F.lit(p))
    return (
        punct
        & (_line_words(line) >= min_words)
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = C4_MIN_WORDS,
    min_lines: int = C4_MIN_LINES,
) -> DataFrame:
    """Per document: ``(id, clean_text, n_lines, n_kept, dropped)``.
    ``clean_text`` is the surviving lines re-joined with newlines;
    ``dropped`` marks pages the C4 page rules reject (caller filters —
    the verdict stays inspectable). Null text → null stats, dropped."""
    text = _c(text_col).cast("string")
    lines = F.split(text, "\n")
    kept = F.filter(lines, lambda l: _line_keep(l, min_words))
    n_kept = F.size(kept)
    page_drop = (
        (n_kept < min_lines)
        | F.contains(text, F.lit("{"))
        | F.contains(F.lower(text), F.lit("lorem ipsum"))
    )
    return docs.select(
        F.col(id_col),
        F.when(text.isNotNull(), F.array_join(kept, "\n")).alias("clean_text"),
        F.when(text.isNotNull(), F.size(lines)).cast("long").alias("n_lines"),
        F.when(text.isNotNull(), n_kept).cast("long").alias("n_kept"),
        F.coalesce(page_drop, F.lit(True)).alias("dropped"),
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Within-document exact paragraph dedup, keep-first, order
    preserved: ``(id, clean_text, n_paras, n_dupes)``. Idempotent
    (running it on its own clean_text is a no-op). Null text → null
    row values. ``sep`` is a LITERAL separator string (escaped before
    the regex-based split so e.g. ``sep='.'`` or ``'||'`` splits on the
    characters themselves, matching the literal re-join)."""
    import re as _re

    text = _c(text_col).cast("string")
    paras = F.split(text, _re.escape(sep))
    kept = F.filter(
        paras,
        lambda p, i: F.array_position(F.slice(paras, 1, i + 1), p) == i + 1,
    )
    return docs.select(
        F.col(id_col),
        F.when(text.isNotNull(), F.array_join(kept, sep)).alias("clean_text"),
        F.when(text.isNotNull(), F.size(paras)).cast("long").alias("n_paras"),
        F.when(text.isNotNull(), F.size(paras) - F.size(kept))
        .cast("long")
        .alias("n_dupes"),
    )

def c4_parity(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """1-row checksum frame over the full C4 line-filter verdict table
    (the data_sample_stratified fold): ``(n_c4_rows, c4_ck)``."""
    return certificate(
        c4_line_filter(docs, id_col, text_col),
        "c4",
        id_col,
        F.md5(F.coalesce(F.col("clean_text"), F.lit("\x00"))),
        F.coalesce(F.col("n_lines"), F.lit(-1)),
        F.coalesce(F.col("n_kept"), F.lit(-1)),
        "dropped",
    )


def para_parity(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """1-row checksum frame over the full within-doc paragraph-dedup
    verdict table: ``(n_para_rows, para_ck)``."""
    return certificate(
        dedup_paragraphs(docs, id_col, text_col),
        "para",
        id_col,
        F.md5(F.coalesce(F.col("clean_text"), F.lit("\x00"))),
        F.coalesce(F.col("n_paras"), F.lit(-1)),
        F.coalesce(F.col("n_dupes"), F.lit(-1)),
    )
