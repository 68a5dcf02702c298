"""Phrase-blocklist content filter — the C4/Dolma "bad words" stage
(Raffel et al. 2020 §2.2 drop any page containing a term from a public
blocklist; Dolma and RefinedWeb ship the same shape with domain-specific
lists). The engine ships the OPERATOR: word-boundary phrase matching
over the standard tokenizer, per-document hit verdicts, and a corpus
rollup; the list itself is caller-supplied (``DEFAULT_BLOCKLIST`` is a
neutral demo list over the fixture vocabulary — production lists are
domain-specific: NSFW, PII-bearing, spam seeds).

Matching semantics (pinned, engine-exact): the document AND each phrase
are tokenized with the same lowercased-alphanumeric tokenizer
(operators/text.tokens), and a k-token phrase matches wherever the
token SLICE equals the phrase's token sequence — so "Hash-Join!"
matches the phrase "hash join", but "hashjoin" does not. Counts are
occurrence counts over all start positions (overlaps included).

:func:`blocklist_verdicts` compiles the per-phrase counts INLINE into
the projection (zero shuffle, rides the scan). Per-row cost is
O(n_tokens x n_phrases) in codegen'd column algebra; right for lists up
to a few hundred phrases (C4's is ~400).

All counters are exact BIGINTs and the verdict table is fully
deterministic, so the whole thing is DuckDB-replayable
(plans_sql.blocklist_parity_ctes) and graded through the
``qa_warning_metrics`` fold.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import certificate
from .text import TOKEN_SPLIT_RE, tokens

#: neutral demo list over the fixture vocabulary (single + multi-token
#: phrases, one deliberately absent) — swap for a real domain list in
#: production. Kept sorted; matching and output order are sorted anyway.
DEFAULT_BLOCKLIST: tuple[str, ...] = (
    "hash join",
    "slow query",
    "spark",
    "table scan",
)

#: verdict columns, in checksum order (single source for the Spark
#: parity frame and the DuckDB replay)
BLOCKLIST_COLUMNS: tuple[str, ...] = (
    "n_hits",
    "n_hit_terms",
    "hit",
    "hit_terms",
)


def phrase_tokens(phrases: tuple[str, ...]) -> list[tuple[str, tuple[str, ...]]]:
    """Tokenize each phrase with the document tokenizer's semantics,
    sorted by phrase; raises on a phrase that tokenizes to nothing (it
    would match everywhere or nowhere depending on convention — refuse
    at build time instead)."""
    out = []
    for p in sorted(phrases):
        toks = tuple(t for t in re.split(TOKEN_SPLIT_RE, p.lower().strip()) if t)
        if not toks:
            raise ValueError(f"blocklist phrase tokenizes to nothing: {p!r}")
        out.append((p, toks))
    return out


def _phrase_count(toks_col, pt: tuple[str, ...]):
    """Occurrences of the k-token phrase in the token array: slice
    equality over all start positions. Guarded for short docs — Spark's
    sequence(1, 0) DESCENDS instead of emitting empty."""
    k = len(pt)
    lit = F.array(*[F.lit(t) for t in pt])
    n = F.size(toks_col)
    cnt = F.size(
        F.filter(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.slice(toks_col, i, k) == lit,
        )
    )
    return F.when(n >= k, cnt).otherwise(F.lit(0)).cast("long")


def _verdict_from_counts(base: DataFrame, plist, id_col: str) -> DataFrame:
    """(id, c_0..c_n) -> the BLOCKLIST_COLUMNS verdict shape."""
    cs = [F.col(f"__c{i}") for i in range(len(plist))]
    n_hits = cs[0]
    for c in cs[1:]:
        n_hits = n_hits + c
    n_hit_terms = F.size(F.filter(F.array(*cs), lambda c: c > 0)).cast("long")
    joined = F.array_join(
        F.array_compact(
            F.array(
                *[
                    F.when(cs[i] > 0, F.lit(p))
                    for i, (p, _) in enumerate(plist)
                ]
            )
        ),
        ",",
    )
    return base.select(
        id_col,
        n_hits.cast("long").alias("n_hits"),
        n_hit_terms.alias("n_hit_terms"),
        (n_hit_terms > 0).alias("hit"),
        F.when(n_hit_terms > 0, joined).alias("hit_terms"),
    )


def blocklist_verdicts(
    docs: DataFrame,
    phrases: tuple[str, ...] = DEFAULT_BLOCKLIST,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document verdicts ``(id_col, n_hits, n_hit_terms, hit,
    hit_terms)`` — hit_terms is the comma-joined sorted list of matched
    phrases (NULL when clean). Inline form: one projection, no shuffle."""
    plist = phrase_tokens(phrases)
    base = docs.select(
        id_col,
        tokens(F.coalesce(F.col(text_col).cast("string"), F.lit(""))).alias(
            "__toks"
        ),
    ).select(
        id_col,
        *[
            _phrase_count(F.col("__toks"), pt).alias(f"__c{i}")
            for i, (_, pt) in enumerate(plist)
        ],
    )
    return _verdict_from_counts(base, plist, id_col)


def blocklist_hit_expr(
    phrases: tuple[str, ...] = DEFAULT_BLOCKLIST, text_col: str = "text"
):
    """Boolean Column — does the document contain ANY blocklist phrase.
    The zero-shuffle form the corpus pipeline filters on inline (the
    with_gopher_battery convention): same tokenizer, same slice
    semantics, short-circuit OR over the phrase counts."""
    plist = phrase_tokens(phrases)
    toks = tokens(F.coalesce(F.col(text_col).cast("string"), F.lit("")))
    hit = F.lit(False)
    for _, pt in plist:
        hit = hit | (_phrase_count(toks, pt) > 0)
    return hit


def blocklist_summary(
    docs: DataFrame,
    phrases: tuple[str, ...] = DEFAULT_BLOCKLIST,
    text_col: str = "text",
) -> DataFrame:
    """Corpus rollup: flagged docs, total occurrences, and the flag
    rate in micros — the go/no-go number before a 100 TB filter pass."""
    v = blocklist_verdicts(docs, phrases, text_col)
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("hit").cast("long")).cast("long").alias("n_flagged"),
        F.sum("n_hits").cast("long").alias("n_occurrences"),
        F.round(
            F.sum(F.col("hit").cast("long")).cast("double")
            / F.count(F.lit(1))
            * 1_000_000.0
        )
        .cast("long")
        .alias("flag_rate_micros"),
    )


def blocklist_parity(
    docs: DataFrame, phrases: tuple[str, ...] = DEFAULT_BLOCKLIST
) -> DataFrame:
    """1-row checksum frame over the FULL verdict table — ``(n_bl_rows,
    bl_ck)``; the oracle recomputes tokenization, every slice-equality
    count and the joined hit-term strings from scratch
    (plans_sql.blocklist_parity_ctes)."""
    return certificate(
        blocklist_verdicts(docs, phrases),
        "bl",
        "doc_id",
        "n_hits",
        "n_hit_terms",
        "hit",
        F.coalesce(F.col("hit_terms"), F.lit("~")),
    )
