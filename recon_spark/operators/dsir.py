"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
*Data Selection for Language Models via Importance Resampling*,
NeurIPS). Given a large RAW corpus and a small TARGET corpus (the
distribution you want more of — e.g. curated reference text), score
every raw document by how much more likely its hashed n-gram features
are under the target's bag-of-features model than under the raw
model, and keep the highest-importance documents.

The paper's recipe, re-expressed Spark-first:

1. **Features** — unigrams + bigrams hashed into ``n_buckets`` buckets
   (the paper uses hashed n-grams precisely so the feature space is
   fixed-size and the models are two count vectors, not vocabularies).
   Here the hash is the repo-standard md5-derived
   :func:`~recon_spark.functions.checksum.hash32` so the DuckDB oracle
   replays bucket assignment bit-for-bit.
2. **Models** — unigram bag models over buckets with Laplace smoothing
   ``alpha``: ``p(f) = (count_f + alpha) / (total + alpha * n_buckets)``.
   Each model is at most ``n_buckets`` rows -> broadcast.
3. **Importance** — per raw doc, ``log w = sum_f c_f * (log p_target(f)
   - log p_raw(f))``. Selection = deterministic top-k by
   ``(log_weight desc, doc_id)``. (The paper resamples with Gumbel
   noise; the deterministic rank is the replayable default and the
   paper's own ablation shows top-k ~ resampling at small temperature.
   Seeded Gumbel can be layered on by the caller via an md5 uniform.)

Parity discipline (same split as the Gopher battery): the INTEGER
substrate — bucket assignment, per-doc feature counts, per-model bucket
totals — is differential-fuzzed against a verbatim DuckDB replay
(oracles/llm_sql.dsir_features_sql, tests/test_dsir.py); the float
log-weight layer is pytest-graded against an independent numpy
recomputation (float log across engines is last-ulp territory, the
same reason the LM perplexity floats are pytest-graded).

Scale shape (100 TB): feature extraction is one explode + one
(doc, bucket) groupBy — map-side combinable, partitioned by the doc
key; both models are bounded at ``n_buckets`` rows (broadcast); the
scoring join is raw-features x broadcast(model), one narrow stage; the
final top-k/threshold is the same two-phase distributed rank every
other selection operator here uses. Nothing global except the two
bounded count vectors.

Reference parity: no reference counterpart — beyond-reference
LLM-pipeline surface (data mixing/selection family, next to
data_mixing_weights and the perplexity filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import staging
from ..functions.checksum import hash32
from . import text as T

#: feature-space size: the paper uses 10k hashed buckets; 4096 keeps
#: the broadcast tables trivially small while leaving the fixture
#: corpus's ~31-token vocabulary + bigrams well spread
DSIR_BUCKETS = 4096
DSIR_ALPHA = 1.0


def _bigrams(toks: Column) -> Column:
    """Token bigrams joined with a single space; empty below 2 tokens."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dsir_features(
    docs: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bucket, cnt) — hashed unigram+bigram counts per doc.
    Null-text docs produce no rows (no features, importance 0 — the
    caller's join anchors them)."""
    toks = T.tokens(text_col)
    feats = F.concat(toks, _bigrams(toks))
    exploded = (
        docs.select(F.col(id_col).alias("doc_id"), feats.alias("__f"))
        .filter(F.col("__f").isNotNull())
        .select("doc_id", F.explode("__f").alias("feat"))
    )
    return (
        exploded.withColumn("bucket", (hash32(F.col("feat")) % n_buckets).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def dsir_bucket_counts(features: DataFrame) -> DataFrame:
    """(bucket, cnt) model substrate — at most n_buckets rows."""
    return features.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cnt"))


def dsir_log_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame | None,
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_pred: Column | None = None,
) -> DataFrame:
    """(doc_id, n_feats, log_weight): per raw document, the importance
    log-ratio under the two Laplace-smoothed hashed-feature models.
    Docs with no features (null/empty text) anchor at log_weight 0.0.

    ``target_pred`` (r14, guide §2.4 — remove a full corpus pass): when
    the target corpus is an id-selected SUBSET of ``raw_docs`` with
    identical text (the common "target = my curated split of this same
    corpus" setup — e.g. ``split == 'train'``, a pure ``doc_id``
    expression), pass the boolean predicate over ``doc_id`` instead of
    a ``target_docs`` frame: both models' bucket counts then come out
    of ONE conditional rollup of the raw feature stream — zero second
    tokenize/explode of the target text. Per-doc feature counts are a
    pure function of (doc_id, text), so counting the raw feature rows
    under the id predicate is value-identical to re-extracting features
    from the subset frame (pytest parity:
    tests/test_dsir.py::test_target_pred_matches_subset_frame).
    Exactly one of ``target_docs`` / ``target_pred`` must be given.

    Plan shape (r14 rewrite, guide §2.3/§2.4 — shuffle metadata, not the
    corpus): the former spelling grouped the exploded feature stream by
    ``(doc_id, bucket)`` (a corpus-sized shuffle), persisted that table,
    shuffled it AGAIN by ``doc_id`` for the scoring rollup, and
    left-joined the result back to the id spine (a third corpus-sized
    exchange + sort-merge join). But both models are bounded at
    ``n_buckets`` rows by construction, and the per-doc score is a pure
    left fold over the doc's own feature array — so: (1) ONE pass rolls
    the exploded stream up by ``bucket`` alone (map-side combinable to
    <= n_buckets rows per task; with ``target_pred`` the target count is
    a conditional sum in the same aggregate); (2) the <= n_buckets model
    rows are collected to the driver (the bounded vocab-model collect
    this codebase already allows — one eager action, same class as the
    perplexity threshold) and turned into a dense log-ratio ARRAY
    literal; (3) scoring is a shuffle-free projection of ``raw_docs``:
    ``log_weight = aggregate(feats, 0.0, acc + ratio[bucket(f)])`` — a
    left fold in array order, which also PINS the float summation order
    per document (the sorted-left-fold discipline bm25/temperature
    already use; the old hash-aggregate sum order was shuffle-arrival).
    The per-doc BUCKET int arrays (features hashed inline; transform()
    preserves order, so the fold's float sum is bit-identical to folding
    the strings) are staged once and feed both passes,
    so the corpus is tokenized once, md5-hashed once per feature
    occurrence (not twice), exchanged never, and joined never (sf0.1
    A/B numbers in OPTIMIZATION_r14.md).
    """
    if (target_docs is None) == (target_pred is None):
        raise ValueError("pass exactly one of target_docs / target_pred")
    import math

    toks = T.tokens(text_col)
    feats = F.concat(toks, _bigrams(toks))
    # ONE tokenize pass: the per-doc feature arrays are hashed to BUCKET
    # int arrays inline and THOSE are persisted, feeding both the model
    # rollup (explode -> bucket counts) and the scoring fold — the
    # store-the-derived-form tradeoff the corpus builder's survivors
    # cache already makes (disk-backed persist vs a second tokenize of
    # the whole corpus). Persisting buckets instead of feature STRINGS
    # (r14, guide §2.3 narrower types / §1.2 per-task work) runs the
    # md5 bucket hash ONCE per feature occurrence instead of twice
    # (model explode + scoring fold) and caches a small int array per
    # doc instead of every unigram+bigram string. transform() preserves
    # array order, so the scoring fold visits the identical bucket
    # sequence and the per-doc float sum is bit-identical.
    staged = staging.stage(
        raw_docs.select(
            F.col(id_col).alias("doc_id"),
            F.transform(
                feats, lambda x: (hash32(x) % n_buckets).cast("int")
            ).alias("__b"),
        )
    )
    exploded = (
        staged.filter(F.col("__b").isNotNull())
        .select("doc_id", F.explode("__b").alias("bucket"))
    )
    bucket = F.col("bucket")
    if target_pred is not None:
        rows = (
            exploded.groupBy(bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("r_cnt"),
                F.sum(
                    F.when(target_pred, F.lit(1)).otherwise(F.lit(0))
                ).cast("long").alias("t_cnt"),
            )
            .collect()
        )
        r_cnt = {r["bucket"]: r["r_cnt"] for r in rows}
        t_cnt = {r["bucket"]: r["t_cnt"] for r in rows}
    else:
        r_cnt = {
            r["bucket"]: r["cnt"]
            for r in exploded.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }
        t_feats = F.concat(
            T.tokens(text_col), _bigrams(T.tokens(text_col))
        )
        t_cnt = {
            r["bucket"]: r["cnt"]
            for r in target_docs.select(t_feats.alias("__f"))
            .filter(F.col("__f").isNotNull())
            .select(F.explode("__f").alias("feat"))
            .groupBy(
                (hash32(F.col("feat")) % n_buckets).cast("int").alias("bucket")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }
    tt = float(sum(t_cnt.values()))
    rt = float(sum(r_cnt.values()))
    log_ratio = [
        math.log((t_cnt.get(b, 0) + alpha) / (tt + alpha * n_buckets))
        - math.log((r_cnt.get(b, 0) + alpha) / (rt + alpha * n_buckets))
        for b in range(n_buckets)
    ]
    ratio_arr = F.lit(log_ratio)
    return staged.select(
        "doc_id",
        F.when(F.col("__b").isNull(), F.lit(0))
        .otherwise(F.size("__b"))
        .cast("long")
        .alias("n_feats"),
        F.coalesce(
            F.aggregate(
                F.col("__b"),
                F.lit(0.0),
                lambda acc, x: acc + F.element_at(ratio_arr, x + 1),
            ),
            F.lit(0.0),
        ).alias("log_weight"),
    )


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame | None,
    k: int,
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_scale: float = 1024.0,
    id_block: int = 1 << 20,
    target_pred: Column | None = None,
) -> DataFrame:
    """Deterministic top-k selection by (log_weight desc, doc_id asc):
    (doc_id, n_feats, log_weight, rank). ``target_pred`` as in
    :func:`dsir_log_weights` — when the target is an id-selected subset
    of ``raw_docs``, the predicate form skips the target corpus's whole
    tokenize/explode pass by rolling up the persisted raw features.

    Distributed two-phase rank (the ranking.py shape), NOT a global
    ``Window.orderBy`` — the weights frame is one row per raw document,
    so a single-partition window here would funnel the whole corpus
    through one task at 100 TB. Instead:

    1. quantize ``log_weight`` into coarse buckets
       ``floor(log_weight * bucket_scale)`` — a monotonic coarsening,
       so bucket DESC is a true coarsening of the row order — and
       cumulative-sum the per-bucket counts DESC; the only global step
       runs over the bucket-count frame (bounded by the distinct
       quantized weights, metadata-sized);
    2. PRUNE: a bucket whose offset is already >= k cannot contribute
       any rank <= k, so only the candidate buckets (together holding
       the top ~k rows plus one bucket of slack) reach phase 3;
    3. within candidate buckets, coarsen AGAIN to ``(exact log_weight,
       floor(doc_id / id_block))`` — within one quantum the row order is
       (weight desc, doc_id asc) and within one exact weight it is pure
       doc_id asc, so this second key is a true coarsening too; a
       per-quantum cumulative count gives each sub-bucket its offset,
       sub-buckets whose global offset is already >= k are pruned, and
       the final ``row_number`` window is partitioned by the FULL
       ``(quantum, weight, block)`` key — at most ``id_block`` rows per
       task even when millions of documents tie on one weight (the
       featureless-docs-anchor-at-0.0 flood an earlier draft funneled
       into a single task, r13 review).

    Value-identical to the single-window spelling (asserted in
    tests/test_dsir.py::test_select_matches_global_window_spelling,
    including a massive-tie corpus and string doc_ids). The block
    split needs a key whose blocks coarsen the id ORDER, so it only
    applies when ``doc_id`` is numeric (``floor(id / id_block)`` —
    same contract as ranking.ntile_bins); for any other id type the
    block collapses to a constant, which keeps exact correctness for
    every orderable id (an earlier draft cast string ids to double:
    silently wrong SETS on numeric-looking strings, r13 review) at the
    cost of the tie-flood guarantee — a massive tie on a non-numeric
    id still serializes that one weight group. The weights frame is
    consumed twice (bucket counts + the row join), so the derived
    frame is staged (:mod:`recon_spark.staging`).
    """
    from pyspark.sql.types import NumericType

    w = dsir_log_weights(
        raw_docs, target_docs, n_buckets, alpha, id_col, text_col,
        target_pred=target_pred,
    )
    blk = (
        F.floor(F.col("doc_id") / F.lit(id_block))
        if isinstance(w.schema["doc_id"].dataType, NumericType)
        else F.lit(0).cast("long")
    )
    rows = staging.stage(
        w.select(
            "doc_id",
            "n_feats",
            "log_weight",
            F.floor(F.col("log_weight") * F.lit(bucket_scale)).alias("__bk"),
            blk.alias("__blk"),
        )
    )

    counts = rows.groupBy("__bk").agg(F.count(F.lit(1)).alias("__bn"))
    # the ONLY global step: cumulative counts over the tiny bucket frame
    w_cum = Window.orderBy(F.col("__bk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "__bk", (F.sum("__bn").over(w_cum) - F.col("__bn")).alias("__off")
    )
    cand = offsets.filter(F.col("__off") < k)
    crows = rows.join(F.broadcast(cand), "__bk")

    # phase 3: sub-bucket offsets within each candidate quantum —
    # per-quantum cumulative window over the (weight, block) COUNT frame
    # (metadata-sized: distinct weights x blocks, never rows)
    gcounts = crows.groupBy("__bk", "__off", "log_weight", "__blk").agg(
        F.count(F.lit(1)).alias("__gn")
    )
    w_cum2 = Window.partitionBy("__bk").orderBy(
        F.col("log_weight").desc(), F.col("__blk").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    goff = gcounts.select(
        "__bk",
        "log_weight",
        "__blk",
        (F.col("__off") + F.sum("__gn").over(w_cum2) - F.col("__gn")).alias(
            "__goff"
        ),
    ).filter(F.col("__goff") < k)

    w_in = Window.partitionBy("__bk", "log_weight", "__blk").orderBy(
        F.col("doc_id").asc()
    )
    return (
        crows.join(goff, ["__bk", "log_weight", "__blk"])
        .withColumn("rank", F.col("__goff") + F.row_number().over(w_in))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "n_feats", "log_weight", F.col("rank").cast("int").alias("rank")
        )
    )
