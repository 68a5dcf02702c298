"""Exact-substring deduplication (Lee et al. 2021, *Deduplicating
Training Data Makes Language Models Better*, §4.1 EXACTSUBSTR):
remove every occurrence of any >= L-token substring that appears more
than once in the corpus, keeping only the corpus-wide first occurrence.

Public-literature operator: the paper's single-node implementation
builds a suffix array over the concatenated corpus and scans it for
adjacent entries sharing a >= 50-token prefix. The Spark-native
equivalent here is a SORTED FINGERPRINT INDEX: every stride-1 L-token
window is hashed to a fixed-width md5 fingerprint, the shuffle on the
fingerprint IS the distributed sort (same-key grouping is exactly the
suffix array's "duplicates are adjacent" property), and the
first-occurrence aggregate is the adjacent-run detection. Window
verdicts then feed the existing interval-merged rebuild in
``operators/spans.py`` (``span_dedup(stride=1, verdicts=...)``), whose
kept-duplicated-window protection preserves the one retained copy.

Relation to the rest of the dedup family:

- ``spans.span_dedup(stride=1, k=L)`` computes the IDENTICAL verdicts
  and rebuild, but its index rows carry the L-token window TEXT — the
  "k-times data cost" its module docstring flags (50x shuffle bytes at
  the paper's L=50). Here each index row carries a 32-byte md5 instead,
  so shuffle volume is O(corpus tokens), independent of L; the O(n*L)
  window-join work happens inside whole-stage codegen and never hits
  the wire. Value-identity of the two paths is fuzz-asserted in
  tests/test_exactsubstr.py.
- ``spans.cdc_span_dedup`` approximates the same goal with ~p-token
  content-defined segments (cheap, self-aligning, but quantized to
  segment boundaries); EXACTSUBSTR is the published exact standard next
  to MinHash in the paper's pairing.

Exactness bound: equality is tested on md5-128 fingerprints, not the
token text — two DIFFERENT L-gram texts collide with probability
~2^-128 per pair (~1e-20 even at 10^9 windows, the birthday bound), so
the practical semantics are those of the paper. The DuckDB oracle uses
the same md5, making the parity byte-identical rather than
probabilistic.

Scale shape (100 TB): one shuffle keyed by the 16-byte fingerprint
(count + min-position, both map-side combinable — no per-key ordered
window, so a boilerplate 50-gram occurring millions of times never
serializes into one reducer), one join back on the fingerprint, and a
per-document rebuild keyed by doc_id whose task memory is bounded by
one document's flagged-window list. Hot-key risk and mitigation are
identical to ``span_dedup`` (module docstring there).

Reference parity: no reference counterpart — beyond-reference
LLM-pipeline surface (r10 VERDICT task #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import staging
from . import spans as SP
from . import text as T

#: the paper's window width (50 BPE tokens; whitespace tokens here).
EXACT_SUBSTR_TOKENS = 50

#: graded-row width: the fixture documents run 10-99 tokens (median
#: 56), so L=12 gives most docs multi-window coverage while the
#: shortest docs exercise the no-window edge.
GRADE_TOKENS = 12


def staged_window_fps(
    docs: DataFrame,
    l_tokens: int = EXACT_SUBSTR_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, __fps)`` with every stride-1 L-token window hashed to
    md5 — staged (:mod:`recon_spark.staging`), because the index explode
    must generate from a cached array column, not an in-plan lambda
    expression (the measured Generate-outside-codegen trap in
    dedup.staged_shingles)."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"), T.tokens(text_col).alias("__toks")
    ).filter(F.col("__toks").isNotNull())
    toks = F.col("__toks")
    nwin = F.size(toks) - l_tokens + 1
    idx = F.when(nwin > 0, F.sequence(F.lit(0), nwin - 1)).otherwise(
        F.array().cast("array<int>")
    )
    fps = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, l_tokens), " "))
    )
    return staging.stage(staged.select("doc_id", fps.alias("__fps")))


def exact_substr_index(
    docs: DataFrame,
    l_tokens: int = EXACT_SUBSTR_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    staged: DataFrame | None = None,
) -> DataFrame:
    """The sorted-50-gram index: ``(doc_id, pos, fp)``, one row per
    stride-1 window start, fixed-width payload (no window text).

    When ``staged`` is None the window-fingerprint frame is created
    (and staged) here."""
    if staged is None:
        staged = staged_window_fps(docs, l_tokens, id_col, text_col)
    return staged.select("doc_id", F.posexplode("__fps").alias("pos", "fp"))


def exact_substr_verdicts(
    docs: DataFrame,
    l_tokens: int = EXACT_SUBSTR_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    staged: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, pos, keep, n_occ)``: ``keep`` iff this window is the
    corpus-wide first occurrence (lowest doc_id, then pos) of its
    fingerprint — the adjacent-run detection over the sorted index,
    expressed as the hot-safe grouped min-position aggregate (same
    discipline as span_dedup_verdicts: two map-side-combinable aggs,
    no per-key ordered window)."""
    index = exact_substr_index(docs, l_tokens, id_col, text_col, staged)
    first = index.groupBy("fp").agg(
        F.min_by(F.struct("doc_id", "pos"), F.struct("doc_id", "pos")).alias("__f"),
        F.count(F.lit(1)).alias("__n"),
    )
    return index.join(first, "fp").select(
        "doc_id",
        "pos",
        (
            (F.col("doc_id") == F.col("__f.doc_id"))
            & (F.col("pos") == F.col("__f.pos"))
        ).alias("keep"),
        F.col("__n").alias("n_occ"),
    )


def exact_substr_dedup(
    docs: DataFrame,
    l_tokens: int = EXACT_SUBSTR_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
    staged: DataFrame | None = None,
) -> DataFrame:
    """Cleaned corpus ``(doc_id, n_spans, n_removed, clean_text)``: a
    token survives unless some removed (non-first duplicate) window
    covers it and no kept-duplicated window does — the interval-merged
    stride-1 rebuild reused VERBATIM from ``spans.span_dedup``; this
    operator contributes only the fingerprint verdicts. Docs shorter
    than ``l_tokens`` have no windows and pass through untouched (the
    paper's semantics: they cannot contain a duplicated L-gram).

    ``l_tokens`` must be >= 2: at l_tokens=1, ``stride == k`` would flip
    span_dedup into its ALIGNED rebuild path, which reads a 'span'
    column these fingerprint verdicts do not carry (ADVICE r11) — and
    1-token "substrings" are not the paper's operator anyway."""
    if l_tokens < 2:
        raise ValueError(
            f"exact_substr_dedup: l_tokens must be >= 2 (got {l_tokens}); "
            "at 1 the stride-1 rebuild degenerates into span_dedup's "
            "aligned path, whose verdict contract differs"
        )
    v = exact_substr_verdicts(docs, l_tokens, id_col, text_col, staged)
    return SP.span_dedup(
        docs, k=l_tokens, id_col=id_col, text_col=text_col,
        verdicts=v, stride=1,
    )
