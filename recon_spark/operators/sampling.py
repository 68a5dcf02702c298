"""Deterministic dataset splitting and stratified sampling — the
reproducibility operators of a training-data pipeline (train/val/test
carving, per-class downsampling, mixture construction).

Everything keys off md5 of ``salt || id``, never ``rand()``:

- reproducible across runs, engines, partitionings, and cluster sizes
  (a seeded ``rand()`` is none of these — it is partition-dependent);
- adding documents never moves an existing document to a different
  split (the property that keeps eval sets uncontaminated as the corpus
  grows);
- the DuckDB oracle replays the exact same md5 arithmetic.

Scale shape: the split is a pure narrow projection (no shuffle at all).
The stratified sampler is two window passes over the stratum key — one
count, one rank — i.e. a single shuffle on the stratum; the per-stratum
quota is exact integer ceil arithmetic, not a probabilistic fraction, so
sample sizes are deterministic too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import staging
from ..functions.checksum import certificate, hash32

SPLIT_SALT = "split:v1"

#: uint32 thresholds for the default 90/5/5 split (integer compares only)
TRAIN_NUM, VAL_NUM, DEN = 90, 5, 100
_SCALE = 1 << 32
TRAIN_EDGE = TRAIN_NUM * _SCALE // DEN
VAL_EDGE = (TRAIN_NUM + VAL_NUM) * _SCALE // DEN


def hash_bucket(id_col: Column | str, salt: str = SPLIT_SALT) -> Column:
    """First 8 md5 hex chars of ``salt || id`` as a uint32-ranged long —
    the uniform deterministic coin every operator here flips."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return hash32(F.concat(F.lit(salt), c.cast("string")))


def with_split(
    docs: DataFrame, id_col: str = "doc_id", salt: str = SPLIT_SALT
) -> DataFrame:
    """Attach a ``split`` label (train/val/test, 90/5/5 by uint32 edge
    compare). Pure projection — no shuffle, no state, no rand()."""
    b = hash_bucket(id_col, salt)
    return docs.withColumn(
        "split",
        F.when(b < TRAIN_EDGE, F.lit("train"))
        .when(b < VAL_EDGE, F.lit("val"))
        .otherwise(F.lit("test")),
    )


#: hash_bucket is uint32; keep the top 8 bits -> 256 coarse buckets per
#: stratum, a monotonic coarsening of the (hash, id) selection order
#: (the packing.BUCKET_SHIFT convention)
_STRAT_SHIFT = 24


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    frac_num: int,
    frac_den: int,
    id_col: str = "doc_id",
    salt: str = "sample:v1",
) -> DataFrame:
    """Keep exactly ``ceil(frac * n)`` rows per stratum, chosen by hash
    order (deterministic; ties impossible for unique ids). Quota is
    integer ceil — ``(num*n + den - 1) DIV den`` — so both engines agree
    without float arithmetic.

    Scale shape — the two-phase bucket rank of
    :mod:`recon_spark.operators.ranking`, NOT a per-stratum
    ``row_number`` window: strata are FEW and HUGE by nature (language,
    source, quality bin — a 100 TB corpus that is 40% English would
    funnel 40 TB of rows through the one task ranking the ``en``
    stratum; the r13 perf_weak). Instead:

    1. coarsen the md5 coin into 256 buckets (``hash >> 24`` — a
       monotone coarsening of the ``(hash, id)`` order, so bucket ASC
       truly coarsens the row order); per-``(stratum, bucket)`` counts
       cumulative-sum WITHIN each stratum — the only windows run over
       the bucket-count frame (|strata| x 256 rows, metadata-sized),
       never over rows, and they are stratum-partitioned (no
       SinglePartition exchange anywhere);
    2. the per-stratum total (and hence the exact ceil quota) falls out
       of the same bucket frame; buckets whose offset already meets the
       quota are pruned before any row-level work;
    3. rows rank inside ``Window.partitionBy(stratum, bucket)`` — task
       size is ~1/256 of the stratum regardless of how dominant the
       stratum is; global per-stratum rank = bucket offset +
       within-bucket row_number.

    Value-identical to the per-stratum-window spelling (asserted in
    tests/test_sampling.py, incl. a single-stratum corpus) — the DuckDB
    oracle keeps the plain window SQL. The derived frame is consumed
    twice (bucket counts + the row join), so it is staged
    (:mod:`recon_spark.staging`).
    """
    rows = staging.stage(
        docs.withColumn("__hb", hash_bucket(id_col, salt)).withColumn(
            "__bk", F.shiftright("__hb", _STRAT_SHIFT)
        )
    )

    counts = rows.groupBy(stratum_col, "__bk").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    w_cum = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col("__bk").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(stratum_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        stratum_col,
        "__bk",
        (F.sum("__bn").over(w_cum) - F.col("__bn")).alias("__off"),
        F.sum("__bn").over(w_tot).alias("__cnt"),
    )
    quota = F.expr(f"({frac_num} * __cnt + {frac_den} - 1) DIV {frac_den}")
    cand = offsets.withColumn("__quota", quota).filter(
        F.col("__off") < F.col("__quota")
    )

    w_in = Window.partitionBy(stratum_col, "__bk").orderBy(
        F.col("__hb").asc(), F.col(id_col).asc()
    )
    return (
        rows.join(F.broadcast(cand), [stratum_col, "__bk"])
        .withColumn("__rn", F.col("__off") + F.row_number().over(w_in))
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__hb", "__bk", "__off", "__cnt", "__quota", "__rn")
    )


#: overlap-fraction threshold for the `contaminated` verdict — the
#: GPT-3-appendix-C-style rule applied as a fraction (a test doc whose
#: distinct-shingle overlap with train exceeds this is quarantined)
CONTAM_FRAC = 0.2


def contamination_check(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    salt: str = SPLIT_SALT,
    frac_threshold: float = CONTAM_FRAC,
) -> DataFrame:
    """Eval-contamination scan: which test-split documents share any
    k-token shingle with ANY train-split document — the check a training
    pipeline runs before trusting its held-out metrics.

    Returns, for every test doc with >= 1 shared shingle:
    ``(id, n_shared, n_distinct_shared, n_shingles, overlap_micros,
    contaminated)`` — ``n_shared`` counts shingle POSITIONS whose text
    occurs in train (the pre-r9 column, kept), ``n_distinct_shared`` /
    ``n_shingles`` are the distinct-shingle overlap and the doc's own
    distinct-shingle count, and their ratio (reported in micros) drives
    the GPT-3-style ``contaminated`` verdict at ``frac_threshold`` —
    any-overlap flagging alone quarantines far too much on a
    small-vocabulary corpus, while a fraction cut separates incidental
    collisions from real leakage.

    Shape: one persisted (id, split, shingles) frame; the train side
    collapses to a DISTINCT shingle projection (vocab-bounded) before
    the equi-join, so the join is index-sized, never |train| x |test|.
    Same bucketed-equi-join scale story as the dedup family; the split
    reuses the md5 coin so the whole check is deterministic end-to-end.
    """
    from . import text as T

    base = with_split(docs, id_col, salt).withColumn("__toks", T.tokens(text_col))
    sh = staging.stage(
        base.select(
            F.col(id_col).alias("id"),
            "split",
            T.shingles_from_tokens(F.col("__toks"), k).alias("sh"),
        )
    )
    train_sh = (
        sh.filter(F.col("split") == "train")
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    test_side = sh.filter(F.col("split") == "test")
    totals = test_side.select(
        "id", F.size(F.array_distinct("sh")).cast("long").alias("n_shingles")
    )
    test_idx = test_side.select("id", F.explode("sh").alias("shingle"))
    hits = (
        test_idx.join(train_sh, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.count_distinct("shingle").cast("long").alias("n_distinct_shared"),
        )
    )
    frac = F.col("n_distinct_shared").cast("double") / F.col("n_shingles")
    return hits.join(totals, "id").select(
        "id",
        "n_shared",
        "n_distinct_shared",
        "n_shingles",
        F.round(frac * 1_000_000).cast("long").alias("overlap_micros"),
        (frac >= F.lit(frac_threshold)).alias("contaminated"),
    )


def _tokens(text_col):
    from . import text as T

    return T.tokens(text_col)


def resample_to_mixture(
    docs: DataFrame,
    targets: DataFrame,
    stratum_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_tokens: int | None = None,
    salt: str = "mixture:v1",
) -> DataFrame:
    """Enact a target corpus mixture (the consumer of the
    ``data_mixing_weights`` table): up/down-sample each stratum so its
    expected token share matches ``targets`` (columns ``*stratum_cols,
    weight``; weights are normalized internally, strata absent from
    ``targets`` are dropped).

    Mechanism — the standard per-source EPOCH FACTOR, made deterministic:
    each stratum gets ``ratio = target_tokens / stratum_tokens`` (against
    ``budget_tokens``, default = current corpus total, so the default
    resample is share-shuffling at constant volume). Every document
    receives ``n_copies = floor(ratio) + (md5 coin < frac(ratio))`` — a
    per-document deterministic Bernoulli on the hash coin, so the
    EXPECTED token share is exact, document membership is reproducible
    across runs/engines/partitionings, and growing the corpus never
    flips an existing document's copy count (same md5-coin properties as
    ``with_split``). Output: one row per COPY — ``(*stratum_cols, id,
    n_tokens, copy_idx)`` — ready to feed packing; drop-sampled docs
    (n_copies = 0) emit no rows.

    Scale shape: one narrow tokenize pass, one groupBy on the stratum
    (map-side combining), a broadcast of the stratum-sized ratio table,
    and a ``posexplode`` fan-out of at most ``ceil(ratio)`` per row. No
    global sort, no rand().
    """
    strat = list(stratum_cols)
    rows = docs.select(
        *strat, F.col(id_col), F.size(_tokens(text_col)).cast("long").alias("n_tokens")
    )
    per = rows.groupBy(*strat).agg(F.sum("n_tokens").alias("__stratum_toks"))
    tgt = targets.select(*strat, F.col("weight").cast("double").alias("__w"))
    wsum = tgt.agg(F.sum("__w").alias("__wsum"))
    total = rows.agg(F.sum("n_tokens").alias("__total"))
    budget = (
        F.lit(float(budget_tokens)) if budget_tokens is not None else F.col("__total").cast("double")
    )
    ratios = (
        per.join(tgt, strat)  # strata without a target weight drop here
        .crossJoin(F.broadcast(wsum))
        .crossJoin(F.broadcast(total))
        .select(
            *strat,
            (
                (F.col("__w") / F.col("__wsum")) * budget
                / F.col("__stratum_toks").cast("double")
            ).alias("__ratio"),
        )
    )
    coin = hash_bucket(F.col(id_col), salt).cast("double") / float(1 << 32)
    n_copies = (
        F.floor("__ratio").cast("int")
        + (coin < (F.col("__ratio") - F.floor("__ratio"))).cast("int")
    )
    return (
        rows.join(F.broadcast(ratios), strat)
        .withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select(
            *strat,
            id_col,
            "n_tokens",
            F.posexplode(F.sequence(F.lit(1), F.col("__n"))).alias("copy_idx", "__x"),
        )
        .drop("__x")
    )


def pps_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "pps:v1",
) -> DataFrame:
    """Weighted sampling without replacement, probability-proportional-
    to-size: SEQUENTIAL POISSON SAMPLING (Ohlsson 1998, *Sequential
    Poisson Sampling*, J. Official Statistics 14(2) — the πps design
    behind the Swedish CPI). Each row gets an order key ``ξ = u / w``
    (u uniform, w its weight) and the k SMALLEST keys are the sample:
    P(selected) ≈ k·w/Σw, the fixed-size counterpart of Poisson πps
    sampling. The training-data use: draw a fixed-budget corpus slice
    where a document's chance of inclusion is proportional to its
    token count / quality weight.

    Determinism + oracle replay — why this scheme and not the
    better-known Efraimidis–Vassilvitskii ``u^(1/w)`` reservoir key:
    ``u = (md5_coin + 0.5) / 2^32`` is an exact dyadic rational and
    ``ξ = u / w`` involves ONE IEEE division — correctly rounded, so
    bit-identical on every engine — whereas ``pow``/``log`` keys are
    transcendental (libm-dependent last-ulp drift could flip the k-th
    selection between engines). The DuckDB oracle replays the full
    selected set AND its rank order exactly (llm_sql.pps_parity_ctes).
    Same md5-coin properties as :func:`with_split`: reproducible across
    runs/engines/partitionings, and growing the corpus never changes an
    existing document's key.

    Output: ``(id, weight, rank, p_micros)`` for the k sampled rows —
    ``rank`` is the exact selection order (key asc, id asc), ``p_micros``
    the nominal inclusion probability ``min(1, k·w/Σw)`` in micros.
    Rows with null or non-positive weight are excluded (a weight of 0
    must never be drawn; πps needs w > 0).

    Determinism scope: the SELECTION and its rank are per-row functions
    of (id, weight) — always reproducible. ``p_micros`` additionally
    divides by the float Σw, which is order-exact only for
    INTEGER-VALUED weights summing below 2^53 (the graded fold's token
    counts); fractional weights can wobble its last micro across
    partitionings while leaving the sample itself unchanged.

    Scale shape: the key is a narrow projection riding the scan; the
    top-k is :func:`~.ranking.bottomk_rows` — bucket-pruned two-phase
    rank, no SinglePartition row sort; Σw is one 1-row aggregate off
    the same staged base the bottom-k reads.
    """
    from .ranking import bottomk_rows

    w = F.col(weight_col).cast("double")
    base = staging.stage(
        docs.filter(w.isNotNull() & (w > 0)).select(
            F.col(id_col).alias("id"),
            w.alias("weight"),
            (
                (hash_bucket(id_col, salt).cast("double") + F.lit(0.5))
                / F.lit(float(_SCALE))
                / w
            ).alias("__key"),
        )
    )
    tot = base.agg(F.sum("weight").alias("__wsum"))
    picked = bottomk_rows(base, "__key", "id", k)
    return (
        picked.crossJoin(F.broadcast(tot))
        .select(
            "id",
            "weight",
            F.col("rank").cast("int").alias("rank"),
            F.round(
                F.least(F.lit(1.0), F.lit(float(k)) * F.col("weight") / F.col("__wsum"))
                * 1_000_000
            )
            .cast("long")
            .alias("p_micros"),
        )
    )


def pps_parity(
    docs: DataFrame,
    weight_expr: Column,
    k: int,
    id_col: str = "doc_id",
    salt: str = "pps:v1",
) -> DataFrame:
    """1-row checksum frame over the FULL πps selected set — (n_pps_rows,
    pps_ck) where the checksum covers every sampled row's (id, weight,
    rank, p_micros). Rides a graded host row (zero-slot-cost fold,
    the dsir/qclf/bpe convention); the DuckDB oracle recomputes the
    keys, the selection, the rank order and the inclusion probabilities
    from scratch (llm_sql.pps_parity_ctes)."""
    sel = pps_sample(docs.select(F.col(id_col), weight_expr.alias("__w")), "__w", k,
                     id_col=id_col, salt=salt)
    return certificate(
        sel, "pps", "id", F.col("weight").cast("long"), "rank", "p_micros"
    )


#: mT5's sampling temperature (Xue et al. 2021 §3.1; XLM-R uses 0.7):
#: raises low-resource strata toward parity without flattening entirely
TEMPERATURE_ALPHA = 0.3


def temperature_mixture(
    per: DataFrame,
    alpha: float = TEMPERATURE_ALPHA,
    token_col: str = "n_tokens",
) -> DataFrame:
    """α-temperature sampling weights over a per-stratum token table —
    the mT5/XLM-R recipe for choosing a corpus mixture FROM the
    measured distribution (the complement of ``resample_to_mixture``,
    which ENACTS a given mixture): stratum ``l`` is sampled with
    probability ``w_l ∝ n_tokens_l^α``, which equals the paper's
    ``p_l^α`` normalization because the corpus total cancels.

    Appends to every input row: ``w_alpha_micros`` (the normalized
    sampling weight, micros) and ``upsample_micros`` (``w_l / p_l`` —
    how much more/less often the stratum is drawn than its natural
    share; >1e6 means upsampled). Zero-token strata get NULLs.

    Oracle discipline: the one cross-stratum float reduction (the
    normalizer ``Σ n^α``) is a LEFT FOLD over the SORTED value list on
    both engines (``F.aggregate`` over ``array_sort(collect_list)``
    here, ``list_reduce``/``list_sort`` in DuckDB) — float addition is
    not associative, so an unpinned aggregation order could flip the
    micros rounding at a .5 boundary; ``pow``/division inputs are exact
    BIGINTs (the data_mixing_weights discipline).

    Scale shape: ``per`` is the |strata|-row OUTPUT of a corpus rollup,
    so everything here is metadata-sized; the single collect_list row
    and the broadcast join cost nothing at any corpus size.
    """
    n = F.col(token_col).cast("double")
    z = per.agg(
        F.aggregate(
            F.array_sort(F.collect_list(n)),
            F.lit(0.0),
            lambda acc, x: acc + F.pow(x, F.lit(float(alpha))),
        ).alias("__z"),
        F.sum(token_col).cast("long").alias("__t"),
    )
    w = F.pow(n, F.lit(float(alpha))) / F.col("__z")
    share = n / F.col("__t")
    return (
        per.crossJoin(F.broadcast(z))
        .select(
            *per.columns,
            F.when(
                F.col(token_col) > 0, F.round(w * 1_000_000.0).cast("long")
            ).alias("w_alpha_micros"),
            F.when(
                F.col(token_col) > 0,
                F.round(w / share * 1_000_000.0).cast("long"),
            ).alias("upsample_micros"),
        )
    )


#: UniMax's per-language epoch cap (Chung et al. 2023 use N in {1..6};
#: their headline configs cap repeats at a few epochs)
UNIMAX_EPOCHS = 2


def unimax_mixture(
    per: DataFrame,
    n_epochs: int = UNIMAX_EPOCHS,
    budget: int | None = None,
    token_col: str = "n_tokens",
    key_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """UniMax sampling allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining") over a per-stratum token table — the successor recipe
    to :func:`temperature_mixture`: instead of a power-law compromise,
    spread the training budget ``B`` as UNIFORMLY as possible across
    strata while capping every stratum at ``n_epochs`` repeats of its
    own data (the constraint that stops a 10-million-token language
    being epoch-ed 400× just to hit a temperature share).

    The paper's greedy (ascending by size; give each stratum the equal
    share of the remaining budget unless the epoch cap binds) has a
    closed form because the cap-binding set is a PREFIX of the
    ascending order: if stratum ``k`` is uncapped, the per-stratum
    share of the remaining budget is invariant from there on
    (``B_rem·(m−1)/m ÷ (m−1) = B_rem/m``), and every later stratum is
    at least as large, so it is uncapped too. The prefix test is pure
    BIGINT arithmetic — ``N·n_k·(m−k+1) ≤ B − N·Σ_{j<k} n_j`` — so the
    capped/uncapped verdict is engine-exact; the only float ops are the
    final divisions (micros discipline: ``+ - * /`` only).

    Appends to every input row:

    - ``unimax_budget_micros`` — the stratum's share of ``B`` (micros);
    - ``unimax_epochs_micros`` — allocated epochs over the stratum's
      own data, ``b_l / n_l`` (capped strata read exactly
      ``n_epochs·1e6``);
    - ``unimax_capped`` — 1 if the epoch cap bound, else 0.

    Zero-token strata get NULLs (the :func:`temperature_mixture`
    convention). ``budget`` defaults to the corpus total (Σ tokens), so
    the default question is "one pass over the corpus, how should it be
    mixed?".

    Scale shape: ``per`` is the |strata|-row output of a corpus rollup —
    everything here, including the two global windows (rank + prefix
    sum), runs on a metadata-sized frame; the ranking.py bucket-frame
    precedent applies, a ``WindowExec: No Partition Defined`` over
    |strata| rows is by design, never a corpus funnel.
    """
    n = F.col(token_col).cast("long")
    cap = F.lit(int(n_epochs)).cast("long")
    pos = per.filter(n.isNotNull() & (n > 0)).select(
        *key_cols, n.alias("__n")
    )
    order = [F.col("__n").asc()] + [F.col(c).asc() for c in key_cols]
    w_ord = Window.orderBy(*order)
    ranked = pos.select(
        *key_cols,
        "__n",
        F.row_number().over(w_ord).alias("__rk"),
        F.coalesce(
            F.sum("__n").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("__cum_prev"),
    )
    sizes = pos.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        (F.lit(int(budget)).cast("long") if budget is not None
         else F.sum("__n").cast("long")).alias("__B"),
    )
    flagged = ranked.crossJoin(F.broadcast(sizes)).withColumn(
        "__capped",
        (cap * F.col("__n") * (F.col("__m") - F.col("__rk") + F.lit(1))
         <= F.col("__B") - cap * F.col("__cum_prev")).cast("int"),
    )
    caps = flagged.agg(
        F.coalesce(F.sum(F.when(F.col("__capped") == 1, cap * F.col("__n"))),
                   F.lit(0)).cast("long").alias("__S"),
        F.coalesce(F.sum("__capped"), F.lit(0)).cast("long").alias("__K"),
    )
    b = F.when(
        F.col("__capped") == 1, (cap * F.col("__n")).cast("double")
    ).otherwise(
        (F.col("__B") - F.col("__S")).cast("double")
        / (F.col("__m") - F.col("__K")).cast("double")
    )
    alloc = flagged.crossJoin(F.broadcast(caps)).select(
        *key_cols,
        F.round(b / F.col("__B").cast("double") * 1_000_000.0)
        .cast("long").alias("unimax_budget_micros"),
        F.round(b / F.col("__n").cast("double") * 1_000_000.0)
        .cast("long").alias("unimax_epochs_micros"),
        F.col("__capped").alias("unimax_capped"),
    )
    return per.join(F.broadcast(alloc), on=list(key_cols), how="left")
