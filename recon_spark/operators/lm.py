"""Count-based bigram language model + perplexity scoring — the
CCNet-style quality-filtering signal (Wenzek et al. 2020 filter web text
by LM perplexity; KenLM there, a Laplace-smoothed bigram model here —
same pipeline shape, swappable scorer).

Why it belongs in a training-data engine: length/punctuation heuristics
(operators/text.py quality_score) catch degenerate documents; perplexity
against an in-domain reference corpus catches FLUENT-looking junk
(keyword stuffing, token soup, wrong-domain text) that heuristics pass.
Scoring is relative to a reference corpus the caller chooses (e.g. the
'train' split of a curated seed).

Model: ``p(w2 | w1) = (c(w1 w2) + a) / (c(w1) + a * V)`` with Laplace
``a`` and vocabulary size ``V`` (+1 for the unseen-token class). Every
quantity is a count, so training is two groupBys and scoring is two
LEFT equi-joins — fully distributed, no UDFs, deterministic, and
engine-portable (an independent implementation reproduces the exact
doubles).

Scale shape:

- **Train**: one tokenize pass; bigram and unigram count tables shuffle
  on their (hashable, high-cardinality) token keys — classic word-count.
  Model size is O(observed bigrams), NOT O(V^2): unseen bigrams are
  handled at scoring time by the smoothing arithmetic on the join miss.
- **Score**: explode each document's bigrams (2 tokens per row), LEFT
  JOIN the two count tables, per-document aggregate of log-probs. The
  count tables are corpus-vocabulary-sized; at web scale they may not
  broadcast — both joins are plain equi-joins, so Spark degrades to
  shuffle joins gracefully (AQE decides), and hot function-word keys
  are the standard skew-split case.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import staging
from ..functions.checksum import certificate
from . import text as T

#: sentence-start pseudo-token (cannot collide: real tokens never hold a
#: non-alphanumeric character after tokenize)
BOS = "<s>"

DEFAULT_ALPHA = 0.5


def _bigrams(
    docs: DataFrame, id_col: str, text_col: str, tokens_col: str | None = None
) -> DataFrame:
    """(id, w1, w2) per document bigram, BOS-prefixed, empty docs drop.

    ``tokens_col``: reuse an already-staged token-array column instead of
    tokenizing here (round 8: one tokenize pass feeds the whole
    text_stats fold family)."""
    tok_name = tokens_col or "__toks"
    toks = F.col(tok_name)
    staged = docs if tokens_col else docs.withColumn("__toks", T.tokens(text_col))
    staged = staged.filter(F.size(tok_name) > 0).withColumn(
        "__with_bos", F.concat(F.array(F.lit(BOS)), toks)
    )
    pairs = F.expr(
        f"transform(sequence(1, size({tok_name})), "
        "i -> struct(element_at(__with_bos, i) as w1, element_at(__with_bos, i + 1) as w2))"
    )
    return staged.select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, "p.w1", "p.w2")


def train_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> dict[str, DataFrame]:
    """Count tables for the reference corpus: ``bigrams (w1, w2, c2)``,
    ``unigrams (w1, c1)`` (context counts, BOS included), and ``vocab``
    (1 row: V = distinct next-tokens + 1 unseen class).

    All three derive from ONE bigram-type aggregate (staged, see
    :mod:`recon_spark.staging`): ``c1(w1) =
    Σ_w2 c2`` (every bigram occurrence with context ``w1`` is counted
    exactly once on either side) and ``V = |{w2}| + 1`` are exact
    rollups of the count table, so the corpus tokenize/explode/shuffle
    runs once instead of once per model table per consuming action
    (three full passes before; the scoring join re-executed each)."""
    bg = _bigrams(ref_docs, id_col, text_col, tokens_col)
    big = staging.stage(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    unigrams = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = big.agg((F.count_distinct("w2") + 1).alias("v"))
    return {"bigrams": big, "unigrams": unigrams, "vocab": vocab}


def _scored_join(
    docs: DataFrame,
    lm: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """The scoring join shared by :func:`score_perplexity` and
    :func:`score_count_substrate`: per-document bigrams LEFT-joined to the
    reference count tables (``c2``/``c1`` NULL on a miss) with the 1-row
    vocab broadcast attached."""
    bg = _bigrams(docs, id_col, text_col, tokens_col)
    return (
        bg.join(F.broadcast(lm["vocab"]))
        .join(lm["bigrams"], ["w1", "w2"], "left")
        .join(lm["unigrams"], ["w1"], "left")
    )


def score_count_substrate(
    docs: DataFrame,
    lm: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """INTEGER-exact per-document substrate of the perplexity score —
    every quantity the scorer computes before the ``ln()``: scored-bigram
    count, summed reference bigram/context hit counts, unseen
    bigram/context counts, and the vocabulary size. Runs the exact same
    tokenize/explode/left-join pipeline as :func:`score_perplexity`, so
    a cross-engine match on these columns grades the whole LM data flow;
    only the float log arithmetic (one ``ln`` + division per row, checked
    in tests/test_lm.py) stays outside the oracle compare. Empty
    documents produce no row, same as the scorer."""
    joined = _scored_join(docs, lm, id_col, text_col, tokens_col)
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("lm_n_scored"),
        F.sum(F.coalesce(F.col("c2"), F.lit(0))).cast("long").alias("lm_sum_c2"),
        F.sum(F.when(F.col("c2").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("lm_unseen_bigrams"),
        F.sum(F.coalesce(F.col("c1"), F.lit(0))).cast("long").alias("lm_sum_c1"),
        F.sum(F.when(F.col("c1").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("lm_unseen_contexts"),
        F.max("v").cast("long").alias("lm_vocab_v"),
    )


def score_perplexity(
    docs: DataFrame,
    lm: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = DEFAULT_ALPHA,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document bigram perplexity against the reference model:
    ``(id, n_scored, logprob, perplexity)`` where ``perplexity =
    exp(-logprob / n_scored)``. Lower = more in-domain. Unseen contexts
    (``w1`` absent from the reference) fall back to the maximally
    smoothed ``p = 1/V``; unseen continuations get the Laplace mass.
    Empty documents produce no row (no tokens to score)."""
    joined = _scored_join(docs, lm, id_col, text_col, tokens_col)
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(float(alpha)))
        / (
            F.coalesce(F.col("c1"), F.lit(0)).cast("double")
            + F.lit(float(alpha)) * F.col("v").cast("double")
        )
    )
    return (
        joined.select(F.col(id_col), logp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("__lp").alias("logprob"),
        )
        .withColumn(
            "perplexity", F.exp(-F.col("logprob") / F.col("n_scored"))
        )
    )


def perplexity_filter_threshold(
    scored: DataFrame, keep_fraction: float
) -> float:
    """The CCNet recipe's cut: keep the lowest-perplexity
    ``keep_fraction`` of documents. Returns the perplexity threshold via
    the distributed exact-percentile operator (never buffers the corpus
    in one task)."""
    from .ranking import exact_group_percentiles

    if not (0.0 < keep_fraction <= 1.0):
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    if keep_fraction == 1.0:
        return math.inf
    row = (
        exact_group_percentiles(
            scored.withColumn("__g", F.lit(1)),
            ["__g"],
            "perplexity",
            [keep_fraction],
        )
        .select("value")
        .first()
    )
    return float(row[0])


def train_kn_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> dict[str, DataFrame]:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1999 — the smoothing KenLM defaults to, i.e. what CCNet's
    actual scorer runs) — the upgrade path from :func:`train_bigram_lm`'s
    Laplace smoothing: instead of adding uniform mass, the backoff
    distribution is the CONTINUATION probability ``P_cont(w2) ∝ |{w1 :
    c(w1 w2) > 0}|`` ("how many contexts does w2 complete?"), which stops
    high-count-but-one-context tokens (the "San Francisco" effect —
    'francisco' is frequent yet predicts nothing new) from soaking up
    smoothing mass.

    Every model quantity is a COUNT derived from one bigram-type
    aggregate (persisted; O(observed bigram types), the same
    model-table scale as :func:`train_bigram_lm` and text.py's tf
    aggregate):

    - ``bigrams (w1, w2, c2)`` — bigram token counts;
    - ``contexts (w1, c1, n1f)`` — context totals ``c1 = Σ_w2 c2`` and
      forward continuation types ``n1f = |{w2 : c(w1 w2) > 0}|``;
    - ``cont_back (w2, n1b)`` — backward continuation types
      ``|{w1 : c(w1 w2) > 0}|``, the P_cont numerator;
    - ``totals`` (1 row, broadcastable): ``t_types`` (distinct bigram
      types, the P_cont denominator), ``n1``/``n2`` (types with count
      1/2 — the Ney discount estimate's inputs), ``v`` (distinct
      continuations + 1 unseen class, the Laplace-floor vocabulary).

    Scale shape: train is the classic word-count shuffle on token keys;
    the three rollups and the totals all read the persisted bigram-type
    aggregate, never the corpus again.
    """
    bg = _bigrams(ref_docs, id_col, text_col, tokens_col)
    big = staging.stage(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    contexts = big.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    cont_back = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1b")
    )
    # coalesce: SUM over an empty model (train split with no bigrams)
    # is NULL in Spark, 0 after DuckDB's COALESCE — pin both to 0
    totals = big.agg(
        F.count(F.lit(1)).cast("long").alias("t_types"),
        F.coalesce(F.sum(F.when(F.col("c2") == 1, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n1"),
        F.coalesce(F.sum(F.when(F.col("c2") == 2, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n2"),
        (F.count_distinct("w2") + 1).cast("long").alias("v"),
    )
    return {
        "bigrams": big,
        "contexts": contexts,
        "cont_back": cont_back,
        "totals": totals,
    }


def _kn_scored_join(
    docs: DataFrame,
    kn: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document bigrams LEFT-joined to all three KN count tables with
    the 1-row totals broadcast attached (``c2``/``c1``/``n1f``/``n1b``
    NULL on a miss)."""
    bg = _bigrams(docs, id_col, text_col, tokens_col)
    return (
        bg.join(F.broadcast(kn["totals"]))
        .join(kn["bigrams"], ["w1", "w2"], "left")
        .join(kn["contexts"], ["w1"], "left")
        .join(kn["cont_back"], ["w2"], "left")
    )


def kn_count_substrate(
    docs: DataFrame,
    kn: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """INTEGER-exact per-document substrate of the KN score — every
    quantity :func:`score_kn_perplexity` touches before the float
    arithmetic: the Laplace substrate's five counters plus the
    continuation sums (``kn_sum_n1f``, ``kn_sum_n1b``,
    ``kn_unseen_cont``) and the four model scalars (``kn_t_types``,
    ``kn_n1``, ``kn_n2``, ``kn_v`` — the discount estimate's inputs ride
    along, so the oracle grades them too). Runs the exact
    tokenize/explode/3-way-left-join pipeline of the scorer; only the
    discount/interpolation/log arithmetic (tests/test_lm.py) stays
    outside the oracle compare — the :func:`score_count_substrate`
    split verbatim."""
    joined = _kn_scored_join(docs, kn, id_col, text_col, tokens_col)
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kn_n_scored"),
        F.sum(F.coalesce(F.col("c2"), F.lit(0))).cast("long").alias("kn_sum_c2"),
        F.sum(F.when(F.col("c2").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("kn_unseen_bigrams"),
        F.sum(F.coalesce(F.col("c1"), F.lit(0))).cast("long").alias("kn_sum_c1"),
        F.sum(F.when(F.col("c1").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("kn_unseen_contexts"),
        F.sum(F.coalesce(F.col("n1f"), F.lit(0))).cast("long").alias("kn_sum_n1f"),
        F.sum(F.coalesce(F.col("n1b"), F.lit(0))).cast("long").alias("kn_sum_n1b"),
        F.sum(F.when(F.col("n1b").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("kn_unseen_cont"),
        F.max("t_types").cast("long").alias("kn_t_types"),
        F.max("n1").cast("long").alias("kn_n1"),
        F.max("n2").cast("long").alias("kn_n2"),
        F.max("v").cast("long").alias("kn_v"),
    )


def score_kn_perplexity(
    docs: DataFrame,
    kn: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float | None = None,
    alpha: float = DEFAULT_ALPHA,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document interpolated-KN perplexity: ``(id, n_scored,
    logprob, perplexity)``, lower = more in-domain — a drop-in for
    :func:`score_perplexity` in the CCNet filter recipe.

    ``p(w2|w1) = (max(c2 − d, 0) + d·n1f·P_cont(w2)) / c1`` for a seen
    context, else the backoff ``P_cont(w2)`` alone, where ``P_cont(w2) =
    (n1b + α) / (t_types + α·V)`` (a Laplace floor on the continuation
    distribution keeps unseen continuations strictly positive — the
    module's unseen-class convention). ``discount=None`` uses the Ney
    estimate ``d = n1 / (n1 + 2·n2)`` computed from the model's own
    singleton/doubleton type counts (0.5 if degenerate), clamped to
    [0, 1] by construction.
    """
    joined = _kn_scored_join(docs, kn, id_col, text_col, tokens_col)
    if discount is None:
        d = F.when(
            F.col("n1") + F.lit(2) * F.col("n2") > 0,
            F.col("n1").cast("double")
            / (F.col("n1") + F.lit(2) * F.col("n2")).cast("double"),
        ).otherwise(F.lit(0.5))
    else:
        if not (0.0 <= discount <= 1.0):
            raise ValueError(f"discount must be in [0, 1], got {discount}")
        d = F.lit(float(discount))
    pc = (F.coalesce(F.col("n1b"), F.lit(0)).cast("double") + F.lit(float(alpha))) / (
        F.col("t_types").cast("double") + F.lit(float(alpha)) * F.col("v").cast("double")
    )
    p_seen = (
        F.greatest(F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d, F.lit(0.0))
        + d * F.col("n1f").cast("double") * pc
    ) / F.col("c1").cast("double")
    logp = F.log(F.when(F.col("c1").isNotNull(), p_seen).otherwise(pc))
    return (
        joined.select(F.col(id_col), logp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("__lp").alias("logprob"),
        )
        .withColumn("perplexity", F.exp(-F.col("logprob") / F.col("n_scored")))
    )


def kn_graded_substrate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The exact per-document substrate lineage :func:`kn_parity`
    checksums: train on the 'train' hash split of the BASE corpus,
    score base ∪ plants (scoring-only novel-token rows — see
    :func:`kn_parity`)."""
    from ..oracles import llm_sql as _O
    from . import sampling as S

    split = S.with_split(docs, id_col=id_col)
    kn = train_kn_lm(split.filter(F.col("split") == "train"),
                     text_col=text_col, id_col=id_col)
    base = docs.select(F.col(id_col), F.col(text_col))
    off = base.agg(
        (F.coalesce(F.max(id_col), F.lit(0)) + _O.NEAR_ID_OFFSET + 1)
        .cast("long").alias("__kn_off")
    )
    plants = (
        base.filter(F.col(id_col) % _O.KN_PLANT_MOD == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col(id_col) + F.col("__kn_off")).alias(id_col),
            F.lit(_O.KN_PLANT_TEXT).alias(text_col),
        )
    )
    return kn_count_substrate(
        base.unionByName(plants), kn, id_col=id_col, text_col=text_col
    )


def kn_parity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """1-row checksum frame over the FULL per-document KN substrate —
    (n_kn_rows, kn_ck) covering all twelve counters of every scored
    document, with the model trained on the deterministic 'train' hash
    split of the BASE corpus and every document scored (the text_stats
    LM-fold recipe verbatim). Rides a graded host row at zero slot
    cost; the DuckDB oracle retrains the model and recomputes every
    substrate row from scratch (llm_sql.KN_CTES).

    The fixture vocabulary is closed under the hash split, so the
    scoring corpus is augmented with deterministic novel-token PLANTS
    (every ``llm_sql.KN_PLANT_MOD``-th document contributes one
    scoring-only row of ``llm_sql.KN_PLANT_TEXT`` under a
    corpus-derived offset id — the docs_aug convention): the model
    never trains on plants, so the unseen-bigram / unseen-context /
    unseen-continuation branches all fire at any SF instead of being
    certified vacuously (tests/test_lm.py asserts it)."""
    return certificate(
        kn_graded_substrate(docs, id_col=id_col, text_col=text_col),
        "kn",
        id_col,
        "kn_n_scored",
        "kn_sum_c2",
        "kn_unseen_bigrams",
        "kn_sum_c1",
        "kn_unseen_contexts",
        "kn_sum_n1f",
        "kn_sum_n1b",
        "kn_unseen_cont",
        "kn_t_types",
        "kn_n1",
        "kn_n2",
        "kn_v",
    )
