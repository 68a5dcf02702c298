"""Deduplication operators for a large-scale document corpus: exact
(hash-groupBy), MinHash + LSH banding, SimHash, and n-gram Jaccard
verification.

Persisted signature/shingle frames go through :mod:`recon_spark.staging`.

Scale design (100 TB):

- **Exact dedup** picks each content key's winner with a map-side
  combining ``min_by`` aggregate + null-safe equi-join (r14 default):
  hash keys are uniformly distributed ACROSS keys, but a single hot
  duplicate cluster (empty docs, boilerplate — 1e6-1e7 copies in web
  corpora) would serialize one task under an ordered per-key window;
  the aggregate form reduces it map-side and leaves only an equi-join
  probe, the shape AQE skew-split handles.
- **MinHash-LSH** never compares all pairs: signatures are computed in a
  narrow map stage, exploded to ``bands`` rows per doc, and candidates
  come from an equi-join on ``(band_idx, band_hash)`` — i.e. only
  within-bucket pairs materialize. Bucket sizes are bounded by the band
  width; a hot bucket (boilerplate docs) is exactly the skew AQE's
  skew-join splitting handles.
- **SimHash** is one map stage to a 32-bit signature; near-dup candidates
  come from banding the signature (two 16-bit halves — Hamming distance
  <= 1 guarantees one identical half), again an equi-join.
- All hashes are md5-derived (bit-identical in any engine — the DuckDB
  oracle mirrors them exactly); no JVM-specific hash functions leak into
  results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import staging
from ..functions.checksum import hash32
from . import text as T

N_MINHASH = 12
N_BANDS = 4  # 4 bands x 3 rows
BAND_ROWS = N_MINHASH // N_BANDS
SIMHASH_BITS = 32


def exact_dedup(
    df: DataFrame,
    key: Column,
    order_cols: list[str],
) -> DataFrame:
    """Keep one row per ``key``; deterministic winner via ``order_cols``
    (which must be a TOTAL order within each key group — the callers
    pass the unique row id — else all tied winners survive).

    Generalization of the cleaners' D1 dedup to arbitrary content keys.

    The winner comes from a ``groupBy(key).agg(min_by(order, order))``
    + equi-join instead of a per-key ordered ``row_number`` window: web
    corpora routinely carry duplicate clusters of 10^6-10^7 copies
    (empty documents, boilerplate pages), and an ordered window
    serializes each cluster through one task, while the aggregate form
    is map-side combining (partial min per input partition) and the
    join back is a plain equi-join — the one shape AQE's skew-join
    splitting handles. Same remedy as spans.span_dedup_verdicts."""
    # BOTH sides of the winner join read this frame (the min_by
    # aggregate and the probe side) and the two exchanges have
    # different children, so the upstream lineage executes twice.
    # Deliberately NOT persisted here: caching a corpus-sized frame
    # with its text columns measured SLOWER than the second codegen'd
    # scan on corpus_build_e2e at sf0.1 (24.7s vs 17.1s steady, r14
    # A/B) — a caller whose upstream is genuinely expensive (not
    # scan + column algebra) should persist its input before calling.
    withk = df.withColumn("__k", key).withColumn(
        "__o", F.struct(*[F.col(c) for c in order_cols])
    )
    # null-safe equi-join (still a plain shuffle-hash join key): a NULL
    # content key forms one group, which `=` would silently drop
    first = (
        withk.groupBy("__k")
        .agg(F.min_by("__o", "__o").alias("__f"))
        .withColumnRenamed("__k", "__k2")
    )
    return (
        withk.join(first, F.col("__k").eqNullSafe(F.col("__k2")))
        .filter(F.col("__o") == F.col("__f"))
        .drop("__k", "__k2", "__o", "__f")
    )


def signature_from_shingles(sh: Column, n_hashes: int = N_MINHASH) -> Column:
    """MinHash signature over an already-materialized shingle array column:
    element i is the lexicographic min over shingles of
    ``md5(shingle || '#i')``.

    Hex-string min is order-isomorphic to integer min on the same hash, so
    string comparison is safe and engine-portable.

    PERF: ``sh`` must be a staged column reference — the expression is
    referenced ``n_hashes + 1`` times, so an inline shingle subtree would
    be recomputed that many times per row (and shingling is itself
    O(n^2) when inlined; see text.shingles_from_tokens).
    """

    # NB: the salt must be captured via a factory, not a default arg — a
    # two-parameter lambda makes F.transform bind the second param to the
    # array-index lambda variable, silently clobbering the closure value.
    def _salted(i: int):
        salt = F.lit(f"#{i}")
        return lambda s: F.md5(F.concat(s, salt))

    sig = F.array(
        *[F.array_min(F.transform(sh, _salted(i))) for i in range(n_hashes)]
    )
    return F.when(F.size(sh) > 0, sig)


def minhash_signature(col: Column | str, n_hashes: int = N_MINHASH, k: int = 3) -> Column:
    """Inline convenience form for tiny frames/tests — hot paths must
    stage tokens + shingles and use :func:`signature_from_shingles`."""
    return signature_from_shingles(T.shingles(col, k), n_hashes)


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    k: int = 3,
    sig_out: str = "sig",
    sh_out: str | None = None,
) -> DataFrame:
    """Staged MinHash pipeline: tokens -> shingles -> signature, each as a
    materialized column so no subtree is re-evaluated (narrow, no shuffle)."""
    keep_sh = sh_out or "__sh"
    out = (
        df.withColumn("__toks", T.tokens(text_col))
        .withColumn(keep_sh, T.shingles_from_tokens(F.col("__toks"), k))
        .withColumn(sig_out, signature_from_shingles(F.col(keep_sh), n_hashes))
        .drop("__toks")
    )
    return out if sh_out else out.drop("__sh")


def band_hashes(sig: Column, n_bands: int = N_BANDS, rows: int = BAND_ROWS) -> Column:
    """LSH banding: array of (band_idx, band_hash) structs, band_hash =
    md5 of the band's joined signature slice."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.array_join(F.slice(sig, b * rows + 1, rows), "|")).alias(
                    "band_hash"
                ),
            )
            for b in range(n_bands)
        ]
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via LSH: explode band hashes, self-join on
    (band_idx, band_hash), keep ``id_a < id_b``, dedupe pairs found in
    multiple bands. Returns (id_a, id_b, est_jaccard) where est_jaccard is
    the signature agreement fraction."""
    rows = n_hashes // n_bands
    with_sig = (
        with_minhash(docs, text_col, n_hashes, k, sig_out="sig")
        .select(F.col(id_col).alias("id"), "sig")
        .filter(F.col("sig").isNotNull())
    )
    # Both sides of the band self-join read this frame; without a persist
    # the whole tokenize->shingle->signature lineage executes twice. At
    # 100 TB this is exactly what you'd materialize anyway: signatures are
    # ~100 bytes/doc vs KBs of text, so MEMORY_AND_DISK is cheap and the
    # join reads the compact form.
    with_sig = staging.stage(with_sig)

    banded = with_sig.select(
        "id", "sig", F.explode(band_hashes(F.col("sig"), n_bands, rows)).alias("b")
    ).select("id", "sig", "b.band_idx", "b.band_hash")

    left = banded.select(
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        "band_idx",
        "band_hash",
    )
    right = banded.select(
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        "band_idx",
        "band_hash",
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    # est_jaccard is computed BEFORE the pair dedup so the dropDuplicates
    # shuffle moves (id_a, id_b, double) instead of two n_hashes-int
    # signature arrays per row — ~50x narrower shuffle rows, identical
    # result (duplicate pairs carry identical signatures, so the score is
    # the same whichever copy survives)
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(n_hashes)).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    k: int = 3,
    threshold: float = 0.5,
    tokens_col: str | None = None,
) -> DataFrame:
    """Full near-dup pipeline (candidates + exact-Jaccard verify) computed
    off ONE persisted shingle frame: the corpus is tokenized and shingled
    exactly once, signatures derive from the persisted shingles, and the
    verify stage joins back to the same frame. Equivalent to
    ``verify_candidates(minhash_lsh_candidates(docs), docs)`` but one
    whole tokenize+shingle pass cheaper.

    ``tokens_col``: shingle an ALREADY-STAGED token-array column instead
    of tokenizing ``text_col`` (round 8: the corpus builder stages one
    token pass for its whole stage chain)."""
    staged = (
        docs if tokens_col else docs.withColumn("__toks", T.tokens(text_col))
    )
    sh = staging.stage(
        staged.select(
            F.col(id_col).alias("id"),
            T.shingles_from_tokens(
                F.col(tokens_col or "__toks"), k
            ).alias("sh"),
        )
    )
    return minhash_near_dup_from_shingles(sh, n_hashes, n_bands, threshold)


def minhash_near_dup_from_shingles(
    sh: DataFrame,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup body over an already-staged (and persisted)
    ``(id, sh)`` shingle frame — shared by :func:`minhash_near_dup` and
    the regime dispatcher :func:`ngram_jaccard_auto`, so a caller that
    has already paid the tokenize+shingle pass (e.g. for the regime
    probe) reuses it for signatures AND the exact-Jaccard verify."""
    rows = n_hashes // n_bands
    with_sig = staging.stage(
        sh.withColumn("sig", signature_from_shingles(F.col("sh"), n_hashes))
        .select("id", "sig")
        .filter(F.col("sig").isNotNull())
    )
    banded = with_sig.select(
        "id", "sig", F.explode(band_hashes(F.col("sig"), n_bands, rows)).alias("b")
    ).select("id", "sig", "b.band_idx", "b.band_hash")
    left = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band_idx", "band_hash"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band_idx", "band_hash"
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    # score before the pair dedup: the dropDuplicates shuffle then moves
    # (id_a, id_b, double) rows, not two signature arrays (see
    # minhash_lsh_candidates)
    candidates = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(n_hashes)).alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        candidates.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", exact_jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "est_jaccard", "jaccard")


#: default n-gram Jaccard threshold as an exact fraction (2/5 = 0.4).
#: Kept integral so BOTH the prefix length and the final filter are pure
#: integer arithmetic — a float literal would round differently as a
#: DuckDB DECIMAL vs a Spark double and shift ceil() at exact multiples.
JACCARD_T_NUM = 2
JACCARD_T_DEN = 5


def staged_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """``(id, sh)`` with the corpus tokenized + shingled ONCE and
    persisted — the shared input of both exact n-gram Jaccard paths, so
    a caller running count-based AND prefix candidate generation over
    the same corpus (e.g. the graded parity fold in
    registry.q_ngram_jaccard) pays one staging pass, not two."""
    return staging.stage(
        docs.withColumn("__toks", T.tokens(text_col)).select(
            F.col(id_col).alias("id"),
            T.shingles_from_tokens(F.col("__toks"), k).alias("sh"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a COUNT-BASED set-similarity
    self-join (the MapReduce-native formulation — Vernica et al.
    SIGMOD'10) — the MinHash-free exact path.

    Shape: explode each doc's distinct shingle set into an inverted index,
    self-join on the shingle, and ``groupBy(pair).count()`` — because
    shingles are distinct per doc, each shared shingle contributes exactly
    one row, so the count IS ``|A ∩ B|`` and ``|A ∪ B| = |A| + |B| − |A ∩
    B|``. No array is carried past the explode, no verify join, and every
    compare is cross-multiplied integers (never a float threshold).

    The classic single-node alternative (PPJoin prefix filtering + an
    ``array_intersect`` verify per candidate) was measured 6x slower here
    at sf0.1 (22.3s vs ~3.5s): this corpus draws from a small vocabulary,
    so prefix indexing barely prunes (~730k candidate pairs survive) and
    per-pair array intersections dominate. The count-based join replaces
    all of that with one shuffle-aggregate over narrow rows — the shape
    that survives 100x. The LENGTH filter (``t·max(|A|,|B|) ≤ min`` — a
    necessary condition for ``J ≥ t``) is pushed into the join to prune
    pairs before the aggregate.

    Scale notes: the index join shuffles on the shingle string; a
    boilerplate-heavy corpus makes hot shingles — bounded by c^2 rows per
    shingle and exactly what AQE skew-split handles. The pair aggregate
    shuffles on (id_a, id_b) — uniform.
    """
    # Two measured traps avoided here (16s -> 0.5s for the index at sf0.1):
    # - no `filter(size(sh) > 0)`: explode() already drops empty arrays,
    #   and PushDownPredicate would inline the whole tokenize+shingle
    #   subtree into the pushed predicate (re-tokenizing inside the
    #   per-shingle slice lambda — O(n^2) per row, 12.3s vs 0.9s);
    # - persist the ARRAY frame and explode from the cache: a Generate
    #   whose generator input is the in-plan shingle expression evaluates
    #   it outside whole-stage codegen (interpreted lambdas, 16.2s); from
    #   the cached arrays the same explode is 0.14s. Both join sides also
    #   reuse the one cached shingling pass.
    return ngram_jaccard_pairs_from_shingles(
        staged_shingles(docs, id_col, text_col, k), t_num, t_den
    )


def shingle_index(sh: DataFrame) -> DataFrame:
    """Inverted index ``(id, n, shingle)`` exploded from a staged shingle
    frame. A caller running BOTH exact paths over one corpus (the graded
    parity fold) should persist this once and pass it to the
    ``*_from_shingles`` twins — one explode materialization then feeds
    the count join's two sides, the prefix path's dfreq aggregate and
    window (measured ~0.6s off the folded query at sf0.1)."""
    return sh.select(
        "id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )


def ngram_jaccard_pairs_from_shingles(
    sh: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    index: DataFrame | None = None,
) -> DataFrame:
    """Count-based join body over an already-staged ``(id, sh)`` frame
    (see :func:`ngram_jaccard_pairs` for semantics and the measured
    staging traps)."""
    index = index if index is not None else shingle_index(sh)
    left = index.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
    right = index.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t needs t*max(na,nb) <= min(na,nb)
            & (F.col("na") * t_den >= F.col("nb") * t_num)
            & (F.col("nb") * t_den >= F.col("na") * t_num)
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    union = F.col("na") + F.col("nb") - F.col("__i")
    return (
        inter.filter(F.col("__i") * t_den >= union * t_num)
        .select(
            "id_a",
            "id_b",
            (F.col("__i").cast("double") / union).alias("jaccard"),
        )
    )


def near_dup_recall_from_shingles(
    sh: DataFrame,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
) -> DataFrame:
    """Near-dup CANDIDATE-quality evaluation — the dedup twin of the ANN
    family's ``similarity_recall``: measure the MinHash-LSH banding's
    candidate set against the EXACT n-gram-Jaccard truth set (pairs with
    J >= t) computed off the SAME staged shingle frame. One row:

    - ``n_nd_truth`` — exact pairs at the threshold (the count-based
      set-similarity join);
    - ``n_nd_cand`` — distinct LSH candidate pairs (any shared band);
    - ``n_nd_hits`` — candidates that are true pairs;
    - ``nd_recall_micros`` — hits/truth (the banding MISS rate's
      complement: every miss is a true near-dup the LSH pipeline will
      never even verify), null when truth is empty;
    - ``nd_precision_micros`` — hits/cand (candidate efficiency: how
      much of the verify stage's work is wasted), null when no
      candidates.

    This is the measurement behind choosing (n_hashes, n_bands) — the
    S-curve position — on a REAL corpus rather than from the formula;
    a production pipeline runs it on a sample before committing a
    banding config to a 100 TB pass. All counts are exact integers and
    the micros divide exact longs, so the DuckDB oracle replays the
    whole verdict (graded as a parity fold on ``dedup_exact_documents``;
    both ingredient pair sets are additionally graded on their own rows).

    Scale shape: reuses the staged shingles; the extra cost over running
    the two (already individually benched) generators is one marker
    full-outer join on the pair key + a 1-row aggregate.
    """
    sigs = (
        sh.select("id", signature_from_shingles(F.col("sh"), n_hashes).alias("sig"))
        .filter(F.col("sig").isNotNull())
    )
    rows = n_hashes // n_bands
    # both sides of the band self-join read this frame: without the
    # persist the 12-md5-per-shingle signature pass runs twice (the
    # minhash_lsh_candidates precedent)
    banded = staging.stage(
        sigs.select(
            "id", F.explode(band_hashes(F.col("sig"), n_bands, rows)).alias("b")
        ).select("id", "b.band_idx", "b.band_hash")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_idx", "band_hash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("__in_c", F.lit(1))
    )
    truth = ngram_jaccard_pairs_from_shingles(sh, t_num, t_den).select(
        "id_a", "id_b", F.lit(1).alias("__in_t")
    )
    j = cand.join(truth, ["id_a", "id_b"], "full")
    h = F.coalesce(
        F.sum(F.col("__in_c") * F.col("__in_t")), F.lit(0)
    ).cast("long")
    c = F.coalesce(F.sum("__in_c"), F.lit(0)).cast("long")
    t = F.coalesce(F.sum("__in_t"), F.lit(0)).cast("long")
    agg = j.agg(
        t.alias("n_nd_truth"), c.alias("n_nd_cand"), h.alias("n_nd_hits")
    )
    micros = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den) * 1_000_000).cast("long"),
    )
    return agg.select(
        "n_nd_truth",
        "n_nd_cand",
        "n_nd_hits",
        micros("n_nd_hits", "n_nd_truth").alias("nd_recall_micros"),
        micros("n_nd_hits", "n_nd_cand").alias("nd_precision_micros"),
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via FREQUENCY-SORTED PREFIX FILTERING
    (the PPJoin/All-Pairs family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — same output as :func:`ngram_jaccard_pairs`, different
    candidate-generation shape for a different data regime.

    Why a second exact path exists: the count-based join's volume is
    ``Σ_s c_s²`` over every shingle ``s`` (``c_s`` = docs containing it),
    and on boilerplate-heavy corpora — shared templates, license headers,
    scraped navigation chrome — the template shingles have ``c_s``
    proportional to the CORPUS, making that term quadratic. Prefix
    filtering bounds exactly that term: each doc joins only on its
    ``p = n − ceil(t·n) + 1`` RAREST shingles (global (df, shingle)
    order), so hot shingles — the c_s² offenders — never enter candidate
    generation, and the PPJoin prefix lemma guarantees every pair with
    ``J ≥ t`` still shares a prefix shingle (α-overlap ≥ ceil(t·|X|) for
    both sides under the length filter, so the ``|X| − α + 1`` joint-
    prefix theorem applies). Candidates are then verified EXACTLY with
    one ``array_intersect`` per distinct pair.

    Regime boundary, MEASURED three ways (identical outputs everywhere;
    local[32], 2 laps):

    - **organic sf0.1 corpus** (modest skew): count-based 4.7s, prefix
      6.0s — count-based wins; candidates barely prune, and the window/
      dfreq/verify overhead buys nothing.
    - **uniform-saturated vocabulary** (tools/scaling_sf1.py synthetic,
      complete 31³ shingle space): count-based 49s, prefix 121s at 50k
      docs — count-based wins AGAIN, a negative result worth keeping:
      with a FLAT frequency profile there are no rare shingles, prefixes
      prune ~nothing, and both methods carry the quadratic term. The
      right tool in that regime is MinHash-LSH (5.1s on the same corpus),
      whose banding bounds candidates by near-dup density instead of
      shingle frequency.
    - **boilerplate/Zipf corpus** (20-token shared template + 40 rare
      tokens per doc, 8 templates): at 20k docs prefix 8.4s vs
      count-based 18.4s and the gap grows with corpus² — template
      shingles (c_s = corpus/8) never reach the prefix join, rare-tail
      shingles have c_s ≤ 2. This is the regime this operator exists
      for, and it is the realistic web-scale one.

    Extra cost vs count-based: one global shingle-frequency aggregate
    and one per-doc top-p window (partition = one doc's ~n shingles).
    """
    # staged once (persisted): feeds the index, the window, and verify
    return ngram_jaccard_pairs_prefix_from_shingles(
        staged_shingles(docs, id_col, text_col, k), t_num, t_den
    )


def ngram_jaccard_pairs_prefix_from_shingles(
    sh: DataFrame,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    index: DataFrame | None = None,
) -> DataFrame:
    """Prefix-filtered join body over an already-staged ``(id, sh)``
    frame (see :func:`ngram_jaccard_pairs_prefix` for the algorithm and
    regime measurements)."""
    index = index if index is not None else shingle_index(sh)
    dfreq = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # ceil(t * n) in exact integer arithmetic
    ceil_tn = (F.col("n") * t_num + t_den - 1).cast("long") / t_den
    p_len = (F.col("n") - F.floor(ceil_tn) + 1).cast("int")
    w_doc = Window.partitionBy("id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    # r14 (guide §2.3 — shuffle fewer bytes): the candidate self-join
    # keys on xxhash64(shingle) instead of the shingle STRING, so the
    # join exchange moves an 8-byte long per prefix row instead of a
    # k-token text. Output-identical BY CONSTRUCTION, not probabilistic:
    # equal shingles always hash equal, so the candidate set under the
    # hash key is a SUPERSET of the string-keyed one, and the exact
    # array_intersect verify below discards any hash-collision extras
    # (the global prefix ORDER stays on the true (df, shingle) key — a
    # collision there could break the prefix lemma, a collision in the
    # join key cannot).
    prefix = (
        index.join(dfreq, "shingle")
        .withColumn("__pos", F.row_number().over(w_doc))
        .filter(F.col("__pos") <= p_len)
        .select("id", "n", F.xxhash64("shingle").alias("__h"))
    )
    cand = (
        prefix.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "__h")
        .join(
            prefix.select(
                F.col("id").alias("id_b"), F.col("n").alias("nb"), "__h"
            ),
            "__h",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t needs t*max(na,nb) <= min(na,nb)
            & (F.col("na") * t_den >= F.col("nb") * t_num)
            & (F.col("nb") * t_den >= F.col("na") * t_num)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a")), "id_a"
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b")), "id_b"
        )
        .withColumn("__i", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "__u", F.size("__sh_a") + F.size("__sh_b") - F.col("__i")
        )
        .filter(F.col("__i") * t_den >= F.col("__u") * t_num)
    )
    return verified.select(
        "id_a",
        "id_b",
        (F.col("__i").cast("double") / F.col("__u")).alias("jaccard"),
    )


#: Regime-dispatch thresholds for :func:`ngram_jaccard_auto`, calibrated
#: against the three measured corpora in ``tools/ngram_regimes.py``
#: (SCALING.md regime table). AMPLIFICATION = Σc²/Σc, the expected number
#: of docs each inverted-index row meets in the count-based self-join
#: (organic sf0.1 measures ~10.7; the saturated synthetic ~90; the
#: boilerplate/Zipf corpus ~750 at 20k docs and grows with the corpus).
#: RARE_MASS = the fraction of index rows whose shingle occurs in ≤2
#: docs — the raw material PPJoin prefixes are built from (boilerplate
#: ~0.69; saturated ~0.0).
AUTO_AMPLIFICATION = 32.0
AUTO_RARE_MASS = 0.3


def ngram_regime_probe(index: DataFrame) -> dict:
    """One-aggregate probe over a shingle inverted index ``(id, n,
    shingle)`` (see :func:`shingle_index`) that MEASURES which n-gram
    near-dup regime a corpus is in, instead of making the caller guess:

    - ``join_rows`` = Σ_s c_s² — the count-based self-join's volume
      (c_s = docs containing shingle s);
    - ``index_rows`` = Σ_s c_s, ``distinct`` = |{s}|;
    - ``amplification`` = join_rows / index_rows — scale-free: how many
      docs each index row joins to;
    - ``rare_mass_frac`` = Σ_{c_s ≤ 2} c_s / index_rows — how much of
      the index is rare-tail shingles (what prefix filtering prunes to).

    Route decision (each boundary measured in tools/ngram_regimes.py —
    the SCALING.md three-regime table):

    1. ``amplification ≤ AUTO_AMPLIFICATION`` → **count**: the
       count-based join's volume is affordable; prefix's dfreq/window/
       verify overhead buys nothing (organic regime).
    2. else if ``rare_mass_frac ≥ AUTO_RARE_MASS`` → **prefix**: the
       quadratic mass sits in hot template shingles while docs carry a
       rare tail to build prefixes from — exactly what PPJoin prunes
       (boilerplate/Zipf regime; identical output to count).
    3. else → **minhash**: a flat/saturated frequency profile — NO
       rare shingles, so NEITHER exact form prunes (measured 45.9s /
       73.8s vs MinHash-LSH 3.7s on the 50k saturated corpus); banding
       bounds candidates by near-dup density instead.

    Cost: one shuffle-aggregate over the index (groupBy shingle →
    global agg) and a single collected row — the decision this buys is
    the difference between 3.7s and 73.8s on the measured saturated
    corpus, and grows quadratically with corpus size.
    """
    by_sh = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    row = by_sh.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("index_rows"),
        F.count(F.lit(1)).cast("long").alias("distinct"),
        F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0))
        .cast("long")
        .alias("join_rows"),
        F.coalesce(F.sum(F.when(F.col("c") <= 2, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("rare_rows"),
    ).first()
    index_rows = int(row["index_rows"])
    join_rows = int(row["join_rows"])
    amplification = (join_rows / index_rows) if index_rows else 0.0
    rare_mass = (int(row["rare_rows"]) / index_rows) if index_rows else 0.0
    if amplification <= AUTO_AMPLIFICATION:
        route = "count"
    elif rare_mass >= AUTO_RARE_MASS:
        route = "prefix"
    else:
        route = "minhash"
    return {
        "index_rows": index_rows,
        "distinct": int(row["distinct"]),
        "join_rows": join_rows,
        "amplification": amplification,
        "rare_mass_frac": rare_mass,
        "route": route,
    }


def ngram_jaccard_auto(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    t_num: int = JACCARD_T_NUM,
    t_den: int = JACCARD_T_DEN,
    sh: DataFrame | None = None,
    index: DataFrame | None = None,
    exact_only: bool = False,
    probe_out: dict | None = None,
) -> DataFrame:
    """Regime-ADAPTIVE n-gram Jaccard near-dup pairs: probe the corpus's
    measured shingle-frequency profile once (:func:`ngram_regime_probe`)
    and route to whichever of the three implementations wins that regime
    — closing the footgun where a caller picks an exact form on a
    saturated corpus and gets the quadratic join with no guardrail
    (the sf1 ×13.2 blowup documented in SCALING.md).

    Routes and their contracts (normalized schema ``(id_a, id_b,
    jaccard)``, jaccard always the EXACT verified value):

    - **count** / **prefix** — exact recall, identical pair sets
      (:func:`ngram_jaccard_pairs_from_shingles` /
      :func:`ngram_jaccard_pairs_prefix_from_shingles`).
    - **minhash** — :func:`minhash_near_dup_from_shingles` at the same
      threshold: every returned pair is exact-verified, but recall is
      bounded by LSH banding (the saturated regime, where exact recall
      is the thing that does not scale). Pass ``exact_only=True`` to
      forbid this route — the dispatcher then falls back to the count
      form (measured faster than prefix when no rare tail exists) and
      the caller knowingly pays the quadratic join.

    ``sh``/``index``: already-staged shingle frame / inverted index to
    reuse (the probe and all three routes run off them — one staging
    pass total). ``probe_out``: a dict the caller may pass to receive
    the probe stats + chosen route (testable, loggable).

    NOTE the probe is an ACTION (one aggregate over the index, one
    collected row) — the plan downstream of this call is route-specific.
    """
    if sh is None:
        if docs is None:
            raise ValueError("ngram_jaccard_auto: pass docs or a staged sh frame")
        sh = staged_shingles(docs, id_col, text_col, k)
    index = index if index is not None else shingle_index(sh)
    probe = ngram_regime_probe(index)
    if probe["route"] == "minhash" and exact_only:
        probe = dict(probe, route="count", exact_only_fallback=True)
    if probe_out is not None:
        probe_out.update(probe)
    if probe["route"] == "prefix":
        return ngram_jaccard_pairs_prefix_from_shingles(sh, t_num, t_den, index=index)
    if probe["route"] == "minhash":
        return minhash_near_dup_from_shingles(
            sh, threshold=t_num / t_den
        ).select("id_a", "id_b", "jaccard")
    return ngram_jaccard_pairs_from_shingles(sh, t_num, t_den, index=index)


def exact_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union)


def verify_candidates(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Second stage: join candidate pairs back to shingle sets and keep
    pairs whose exact n-gram Jaccard clears ``threshold``. Two equi-joins
    on the doc id (no fan-out: candidates << corpus)."""
    # joined once per pair side — avoid re-shingling the corpus
    sh = staging.stage(
        docs.withColumn("__toks", T.tokens(text_col)).select(
            F.col(id_col).alias("id"),
            T.shingles_from_tokens(F.col("__toks"), k).alias("sh"),
        )
    )
    out = (
        candidates.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", exact_jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "est_jaccard", "jaccard")


def simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over an already-materialized token-hash array column: bit j
    of the result is set iff more than half the tokens have bit j set.

    PERF: ``hashes`` is referenced ``bits * 2 + 1`` times — stage it
    (``withColumn``) or the tokenize+md5 subtree re-runs per reference.
    """
    n = F.size(hashes)

    # Single-arg lambda via factory (see signature_from_shingles for why a
    # `j=j` default arg would be clobbered by the array-index variable).
    def _bit_set(j: int):
        return lambda h: F.shiftright(h, j).bitwiseAND(1) == 1

    out = F.lit(0).cast("long")
    for j in range(bits):
        set_cnt = F.size(F.filter(hashes, _bit_set(j)))
        out = out + F.when(set_cnt * 2 > n, F.lit(1 << j).cast("long")).otherwise(0)
    return F.when(n > 0, out)


def simhash(col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Inline convenience form for tiny frames/tests — hot paths must
    stage the hash array and use :func:`simhash_from_hashes`."""
    return simhash_from_hashes(F.transform(T.tokens(col), hash32), bits)


def with_simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash",
    bits: int = SIMHASH_BITS, tokens_col: str | None = None,
) -> DataFrame:
    """Staged SimHash pipeline: token-hash array materialized once, then
    the bit-fold reads the array (narrow, no shuffle).

    ``tokens_col``: hash an ALREADY-STAGED token-array column instead of
    re-tokenizing ``text_col`` (round 8: registry.q_text_stats feeds the
    battery's one tokenize pass into this fold too)."""
    toks = F.col(tokens_col) if tokens_col else T.tokens(text_col)
    return (
        df.withColumn("__th", F.transform(toks, hash32))
        .withColumn(out, simhash_from_hashes(F.col("__th"), bits))
        .drop("__th")
    )


def simhash_bands(sh: Column, bits: int = SIMHASH_BITS, halves: int = 2) -> Column:
    """Split a simhash into ``halves`` equal bit-slices for banded lookup
    (Hamming distance < halves guarantees an identical slice)."""
    width = bits // halves
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(sh, i * width).bitwiseAND(mask).alias("band_val"),
            )
            for i in range(halves)
        ]
    )
