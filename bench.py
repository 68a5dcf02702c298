"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"engine_a_match_planid": sec, ...}, "sf": 0.1}

``value``/``queries`` are the cold-lap (first-execution) numbers; the
steady state (per-query MIN across interleaved full laps — contention-
proofing per VERDICT r9 #2) is reported in ``steady_queries``/
``steady_total_sec`` in the sidecar. Raw-fixture rendering and the
clean-once bucketed layout are untimed setup, reported in
``setup_raw_sec``/``setup_clean_sec``. The printed line is compact
(headline + cold per-query dict); the full artifact — per-lap timings,
loadavg traces, per-query external-CPU traces with the per-query
contended-lap rejection verdicts (steady_accepted_laps), and the
ambient-load gate verdict — is written to the sidecar
(``BENCH_full.json`` at the canonical sf0.1, SF-suffixed otherwise so
smoke runs can't clobber it).

Each query is materialized with the ``noop`` sink (full execution of
every column, no driver-side collect, no disk write) — the honest
distributed-execution cost, not ``count()``'s pruned plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: representative slice of the registry: the four reconciliation engines,
#: the corrections deliverable, analytics rollups, the LLM-pipeline
#: operators (text stats, MinHash-LSH near-dup, ANN recall over all
#: three indexes), and the beyond-reference join/streaming/multimodal
#: surface so every operator family has wall-time accountability.
HEADLINE = [
    "clean_matrix",
    "engine_a_match_planid",
    "engine_b_age_taxcode",
    "engine_c_roth_taxable",
    "engine_d_ira_rollover",
    "corrections_all",
    "corrections_merge_apply",
    "analytics_trends_all",
    "analytics_events_monthly",
    "analytics_event_funnel",
    "analytics_cohort_retention",
    "analytics_value_percentiles",
    "data_quality_bins",
    "text_stats",
    "text_chunk_documents",
    "privacy_masked_export",
    "data_pack_sequences",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # non-registry extra: the PPJoin prefix-filtered exact-Jaccard twin
    # standalone (inside dedup_ngram_jaccard it runs as the graded parity
    # fold; this entry prices the operator on its own, r7 verdict #1)
    "ngram_jaccard_prefix",
    "dedup_cluster_resolution",
    "sessionization_events",
    "asof_click_purchase",
    "range_join_lookback",
    "streaming_click_purchase_join",
    "multimodal_features",
    "similarity_recall",
    # non-registry extras (benched, not oracle-graded): the Arrow/BLAS
    # twin of the graded fold-based brute-force top-k, so both dot-product
    # execution strategies carry a wall-time number
    "similarity_topk_blas",
    # the CCNet-style perplexity filter end-to-end (train on the 'train'
    # hash split, score every document, cut at keep_fraction=0.9) — the
    # integer substrate is oracle-graded through text_stats since round
    # 7; this entry gives the float scoring + threshold path wall-time
    # accountability
    "lm_perplexity_filter",
    # the full corpus-prep composition (quality filter -> exact dedup ->
    # near-dup cluster drop -> perplexity filter -> split -> packing,
    # plans/corpus.py): every stage is an individually graded/benched
    # operator; this entry prices the WIRING — what a user actually runs
    # nightly — as one plan
    "corpus_build_e2e",
    # SemDeDup (operators/semdedup.py, r9): the dominance-rule verdict
    # table over the planted-copy embedding corpus with a scale-honest
    # quantizer (k ~ n/500); graded at sf0.01 as the parity fold inside
    # embedding_near_dup, priced here standalone at the bench SF
    "semdedup_prune",
    # C4-style cross-doc duplicate-span removal incl. the per-document
    # rebuild (operators/spans.py, r9); graded at sf0.01 as the parity
    # fold inside text_chunk_documents
    "span_dedup_rebuild",
    # ExactSubstr dedup (Lee et al. 2021; operators/exactsubstr.py,
    # r11); graded at sf0.01 as the parity fold inside
    # dedup_exact_documents — this entry prices the sorted
    # fingerprint-index formulation standalone
    "exact_substr_dedup",
    # ExactSubstr at the PAPER's settings (L=50) over a long-document
    # corpus (fixture texts folded ~10:1 to ~550-token docs + shifted
    # whole-block plants): shuffle volume is L-independent but the
    # window hashing is O(n*L) codegen work, which the graded L=12
    # entry underprices (VERDICT r11 #4)
    "exact_substr_l50",
    # HLL sketch-partial rollup (operators/sketches.py, r11): the
    # hypertable pattern — daily (day, type) distinct-user partials
    # rolled up to type + total without a raw rescan; pytest-graded
    # (DataSketches estimates aren't DuckDB-replayable; the exact twin
    # is the graded analytics_user_reach row)
    "hll_reach_rollup",
    # theta set algebra (audience overlap without a distinct-key
    # self-join) + KLL mergeable quantile rollup, from daily partials
    # (operators/sketches.py, r11; exact twins = analytics_user_reach /
    # analytics_value_percentiles)
    "sketch_audience_quantiles",
    # Gopher n-gram repetition battery -> per-doc threshold flags
    # (operators/repetition.py, r9); integer substrate graded at sf0.01
    # as the parity fold inside text_tfidf_top_terms
    "gopher_repetition",
    # trained-BPE tokenizer end-to-end (operators/bpe.py, r12): word
    # histogram -> bounded driver merge loop -> Arrow-batched corpus
    # encode -> token-count rollup; the distributed substrate is graded
    # at sf0.01 as the parity fold inside data_mixing_weights
    "tokenizer_bpe_e2e",
    # FULL-STACK corpus composition (r13, VERDICT r12 #3): all round-12
    # stages wired together over a page-shaped derivation of the fixture
    # corpus — prices stage INTERACTIONS the standalone entries can't
    "corpus_build_full",
    # DSIR importance selection end-to-end (operators/dsir.py, r13):
    # hashed-feature models -> broadcast scoring -> the DISTRIBUTED
    # two-phase bucket-rank top-k that replaced the global-window
    # spelling (VERDICT r12 #1); integer substrate graded at sf0.01 as
    # the parity fold inside data_mixing_weights
    "dsir_select_topk",
    # sequential-Poisson πps weighted sampling (operators/sampling.
    # pps_sample, r13): md5-uniform u/w keys + the bucket-pruned
    # distributed bottom-k (ranking.bottomk_rows); the full selected
    # set is graded at sf0.01 as the parity fold inside
    # data_sample_stratified
    "pps_weighted_sample",
    # Misra-Gries frequent-items sketch (operators/sketches.py, r13):
    # corpus token heavy hitters with a <= (k+1)-rows-per-partition
    # shuffle regardless of vocabulary size; pytest-graded band +
    # guarantee (partitioning-dependent by nature, like HLL/KLL — the
    # exact twins of top-item questions are the graded value-count rows)
    "mg_heavy_hitters",
    # exact table profiler (operators/profile.py, r13): one agg pass +
    # one melted (column, value) groupBy over the LARGEST fixture table,
    # every column; graded at sf0.01 as the parity fold inside
    # qa_warning_metrics (documents table)
    "profile_lineitem",
    # BM25 full-text retrieval (operators/text.bm25_topk, r13): one
    # persisted tf substrate -> query-postings scoring -> distributed
    # bottom-k; the full top-k verdict is graded at sf0.01 as the
    # parity fold inside text_tfidf_top_terms
    "bm25_search",
    # PMI collocation mining (operators/text.pmi_collocations, r14):
    # bigram explode -> two map-side-combinable count tables -> pinned-
    # order PMI micros; zero windows. The full thresholded table is
    # graded at sf0.01 as the parity fold inside
    # data_contamination_check
    "pmi_collocations",
    # Gopher A1.1 document-level quality battery (operators/gopher.py,
    # r14): seven rule verdicts + reject rollup, pure column algebra
    # riding the scan (zero exchanges in the per-doc plan); the full
    # verdict table is graded at sf0.01 as the parity fold inside
    # data_sample_stratified
    "gopher_quality",
    # Count-Min sketch (operators/sketches.cm_*, r14): depth x width
    # cell grid + point estimates for the deterministic query sample —
    # the bounded-shuffle point-frequency path (<= depth*width rows per
    # partition regardless of item cardinality); cells + verdicts graded
    # at sf0.01 as the parity fold inside analytics_user_reach
    "cm_sketch_events",
    # rank-order char-n-gram language ID (operators/langid.py, r14,
    # Cavnar & Trenkle 1994): train-split profiles -> broadcast-join
    # scoring -> hot-safe argmin; the full verdict table is graded at
    # sf0.01 as the parity fold inside data_contamination_check
    "langid_rank",
]

#: ambient-load gate: before each lap (the first is the run start), wait up
#: to LOADAVG_WAIT_S for the 1-min loadavg to fall below LOADAVG_GATE
LOADAVG_GATE = 4.0
LOADAVG_WAIT_S = 90.0
#: a lap's sample is dropped from the steady min when external CPU
#: exceeded this many cores during that query
EXT_GATE_CORES = 4.0
#: interleaved full laps (the first is the cold lap)
LAPS = 2


def _q_langid_rank(spark, sf_dir):
    from recon_spark.operators import langid as LID
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the gram
    # explode (registry.docs_aug r12 note)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return LID.langid_verdicts(docs)


def _q_cm_sketch_events(spark, sf_dir):
    from recon_spark.operators import sketches as SK
    from recon_spark.sources.tpch import load

    ev = load(spark, sf_dir, "events")
    return SK.cm_parity(ev, "user_id")


def _q_gopher_quality(spark, sf_dir):
    from recon_spark.operators import gopher as G
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition so the per-doc battery
    # parallelizes (registry.docs_aug r12 note)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return G.gopher_quality(docs)


def _q_pmi_collocations(spark, sf_dir):
    from recon_spark.operators import text as T
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the bigram
    # explode (registry.docs_aug r12 note)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return T.pmi_collocations(docs)


def _q_topk_blas(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import similarity
    from recon_spark.sources.tpch import load

    emb = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_blas(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    )


def _q_lm_perplexity_filter(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark import staging
    from recon_spark.operators import lm, sampling
    from recon_spark.operators import text as _text
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the per-doc
    # tokenize/explode work (registry.docs_aug r12 note)
    # r14 (guide §2.3/§5): project to (doc_id, text) before the persist
    # — the cache is an optimizer barrier, so the staged frame otherwise
    # carries lang/source/n_chars no consumer reads (score_perplexity
    # emits only per-doc LM stats); scan ReadSchema 5 -> 2 columns
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # r14 (guide §2.4): ONE staged tokenize pass feeds both the train
    # split's bigram counts and the scoring explode (the q_text_stats
    # tokens_col pattern) — previously train re-scanned and re-tokenized
    # the 90% train subset on top of the scorer's full pass
    toked = staging.stage(docs.withColumn("__toks", _text.tokens("text")))
    model = lm.train_bigram_lm(
        sampling.with_split(toked).filter(F.col("split") == "train"),
        tokens_col="__toks",
    )
    # scored feeds the threshold percentile AND the final cut — persist so
    # the explode+join scoring lineage runs once (cache dropped by the
    # bench's per-query clearCache)
    scored = lm.score_perplexity(toked, model, tokens_col="__toks").persist()
    cut = lm.perplexity_filter_threshold(scored, keep_fraction=0.9)
    return scored.filter(F.col("perplexity") <= cut)


def _q_corpus_build(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.plans import corpus
    from recon_spark.operators import sampling
    from recon_spark.sources.tpch import load

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    ref = sampling.with_split(docs).filter(F.col("split") == "train")
    # boilerplate_spans=8 (r9): the benched e2e now runs the FULL
    # composition incl. the C4-style span-dedup first stage — the added
    # wall time is the span stage's own price (see span_dedup_rebuild)
    return corpus.build_training_corpus(
        docs, perplexity_keep=0.95, perplexity_ref=ref, boilerplate_spans=8
    )


def _q_corpus_build_full(spark, sf_dir):
    """FULL-STACK corpus build (VERDICT r12 #3): every round-12 stage in
    COMPOSITION over a page-shaped corpus derived from the fixture
    documents — the benchmark's ``corpus_prep`` build
    (``perfbench.run.corpus_full``), priced here next to the standalone
    per-stage entries."""
    from perfbench.run import corpus_full

    return corpus_full(spark, sf_dir)


def _q_dsir_select(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import dsir, sampling
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the feature
    # explode (registry.docs_aug r12 note); target = the 'train' hash
    # split, raw = the full corpus, keep the top 10%
    base = load(spark, sf_dir, "documents")
    docs = base.repartition(spark.sparkContext.defaultParallelism)
    # r14 (guide §5): k counts the PRE-repartition scan — same value
    # (round-robin repartition preserves cardinality), but the eager
    # count no longer shuffles the full text column every lap (the
    # zero-column parquet count is metadata-cheap)
    k = max(base.count() // 10, 1)
    # r14 (guide §2.4): the target is the 'train' hash split of the SAME
    # corpus — a pure doc_id predicate — so the predicate form derives
    # the target model from the persisted raw feature table instead of
    # re-running the tokenize/explode over the target half (output
    # value-identical to the subset-frame form; pytest parity in
    # tests/test_dsir.py)
    train_pred = (
        sampling.hash_bucket(F.col("doc_id")) < sampling.TRAIN_EDGE
    )
    return dsir.dsir_select(docs, None, k=k, target_pred=train_pred)


def _q_ngram_prefix(spark, sf_dir):
    from recon_spark.operators import dedup
    from recon_spark.registry import docs_aug

    return dedup.ngram_jaccard_pairs_prefix(docs_aug(spark, sf_dir))


def _q_span_dedup(spark, sf_dir):
    from recon_spark.operators import spans
    from recon_spark.registry import docs_aug

    return spans.span_dedup(docs_aug(spark, sf_dir))


def _q_hll_rollup(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.plans import analytics as A
    from recon_spark.sources.tpch import load

    # the hypertable pattern end-to-end through the PLANS layer (r12,
    # VERDICT r11 #6 wiring): materialize (day, type) HLL partials once,
    # then answer per-type AND grand-total distinct-user reach from the
    # partials alone (no raw rescan); the exact twin of the same
    # question is the graded analytics_user_reach row
    ev = load(spark, sf_dir, "events")
    _partials, rollups = A.build_reach_hypertable(ev, grains=("type", "total"))
    total = rollups["total"].select(
        F.lit("__total__").alias("event_type"), "n_distinct_est", "n_rows"
    )
    return rollups["type"].unionByName(total)


def _q_sketch_audience_quantiles(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import sketches
    from recon_spark.sources.tpch import load

    # theta set algebra (click∩purchase distinct users) + KLL quantile
    # rollup (per-type p50/p90 from daily partials), composed as one
    # frame: the overlap row broadcast onto the quantile rows — the
    # sketch answers to the graded analytics_user_reach /
    # analytics_value_percentiles questions, from partials alone
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ev = ev.withColumn("day", F.date_trunc("day", "ts").cast("date"))
    tpart = sketches.theta_sketch_partials(ev, ["day", "event_type"], "user_id")
    overlap = sketches.audience_overlap(tpart, "event_type", "click", "purchase")
    kpart = sketches.quantile_sketch_partials(
        ev.filter(F.col("value").isNotNull()), ["day", "event_type"], "value"
    )
    quants = sketches.rollup_quantiles(kpart, ["event_type"])
    return quants.crossJoin(F.broadcast(overlap))


def _q_exact_substr(spark, sf_dir):
    from recon_spark.operators import exactsubstr
    from recon_spark.registry import docs_aug

    # graded at sf0.01 as the parity fold inside dedup_exact_documents
    # (r11); this entry prices the operator standalone at the bench SF,
    # at the graded window width
    aug = docs_aug(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return exactsubstr.exact_substr_dedup(aug, exactsubstr.GRADE_TOKENS)


def _q_exact_substr_l50(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import exactsubstr

    # Long-document corpus from the fixture texts: fold ~10 docs into
    # one (deterministic doc_id-sorted concat) => ~550-token documents,
    # the shape the paper's L=50 window actually targets (the fixture's
    # 10-99-token docs mostly carry zero 50-token windows). Every 10th
    # long doc reappears as an offset-SHIFTED plant (5-token unique
    # prefix) so the dedup has real work, not just index build.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    long_docs = (
        docs.groupBy((F.col("doc_id") % 500).alias("doc_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("doc_id").alias("k"), F.col("text").alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("text")
        )
    )
    did = F.col("doc_id").cast("string")
    plants = long_docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(
            F.lit("lp"), did, F.lit("a lp"), did, F.lit("b lp"), did,
            F.lit("c lp"), did, F.lit("d "), F.col("text"),
        ).alias("text"),
    )
    corpus = long_docs.unionByName(plants).repartition(
        spark.sparkContext.defaultParallelism
    )
    return exactsubstr.exact_substr_dedup(
        corpus, exactsubstr.EXACT_SUBSTR_TOKENS
    )


def _q_gopher_repetition(spark, sf_dir):
    from recon_spark.operators import repetition
    from recon_spark.sources.tpch import load

    docs = load(spark, sf_dir, "documents")
    # the gram fan-out inherits input partitioning; the local single-split
    # parquet would serialize it into one task (23s vs 4.4s measured)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return repetition.gopher_repetition_flags(
        repetition.repetition_ngram_substrate(docs)
    )


def _q_semdedup(spark, sf_dir):
    from recon_spark.operators import semdedup
    from recon_spark.registry import emb_aug

    aug = emb_aug(spark, sf_dir)
    # scale-honest quantizer size: the paper holds CLUSTER SIZE constant
    # (k ~ n / target), which is what bounds the within-cluster pairwise
    # stage; the graded fold keeps k=8 only because the sf0.01 gate
    # corpus is small and the oracle replays a fixed literal
    k = max(semdedup.SEMDEDUP_K, aug.count() // 500)
    # r14 (guide §5, the registry's own staging precedent on the
    # graded row): the ranked assignment feeds three branches (both
    # self-join sides + the verdict join); unpersisted, the centroid
    # derivation and assignment ran once per branch. Blocks are dropped
    # by the bench's per-query clearCache.
    ranked = semdedup.assign_with_rank(aug, k=k).persist()
    return semdedup.semdedup_verdicts(aug, k=k, ranked=ranked)


def _q_tokenizer_bpe(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import bpe
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the per-doc
    # tokenize/encode work (registry.docs_aug r12 note)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # train: one corpus-sized groupBy + a bounded (<= max_words) collect
    # + the driver merge loop; encode: one Arrow-batched mapInPandas
    # stage with the merge table in the closure
    merges = bpe.bpe_train(docs)
    enc = bpe.bpe_encode(docs, merges)
    return enc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
    )


def _q_pps_sample(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import sampling, text
    from recon_spark.sources.tpch import load

    # single-split fixture parquet -> repartition before the tokenize
    # pass (registry.docs_aug r12 note); weight = token count, keep a
    # 10% budget — the key is a narrow projection, the top-k the
    # bucket-pruned two-phase rank
    base = load(spark, sf_dir, "documents")
    docs = base.repartition(spark.sparkContext.defaultParallelism)
    # k from the pre-repartition scan: same value, no full-text shuffle
    # for the eager count (guide §5; see _q_dsir_select)
    k = max(base.count() // 10, 1)
    return sampling.pps_sample(
        docs.select("doc_id", text.token_count("text").alias("w")), "w", k
    )


def _q_mg_heavy_hitters(spark, sf_dir):
    from pyspark.sql import functions as F

    from recon_spark.operators import sketches, text
    from recon_spark.sources.tpch import load

    # token heavy hitters over the corpus: one tokenize+explode pass
    # into the bounded per-partition Misra-Gries summaries
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    return sketches.frequent_items(toks, "tok", k=sketches.MG_K)


def _q_profile_lineitem(spark, sf_dir):
    from recon_spark.operators import profile
    from recon_spark.sources.tpch import load

    li = load(spark, sf_dir, "lineitem")
    return profile.profile_table(li, li.columns)


def _q_bm25_search(spark, sf_dir):
    from recon_spark.operators import text
    from recon_spark.sources.tpch import load

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return text.bm25_topk(docs)


EXTRA_QUERIES = {
    "similarity_topk_blas": _q_topk_blas,
    "pmi_collocations": _q_pmi_collocations,
    "gopher_quality": _q_gopher_quality,
    "cm_sketch_events": _q_cm_sketch_events,
    "langid_rank": _q_langid_rank,
    "pps_weighted_sample": _q_pps_sample,
    "mg_heavy_hitters": _q_mg_heavy_hitters,
    "profile_lineitem": _q_profile_lineitem,
    "bm25_search": _q_bm25_search,
    "lm_perplexity_filter": _q_lm_perplexity_filter,
    "corpus_build_e2e": _q_corpus_build,
    "corpus_build_full": _q_corpus_build_full,
    "dsir_select_topk": _q_dsir_select,
    "ngram_jaccard_prefix": _q_ngram_prefix,
    "semdedup_prune": _q_semdedup,
    "span_dedup_rebuild": _q_span_dedup,
    "exact_substr_dedup": _q_exact_substr,
    "exact_substr_l50": _q_exact_substr_l50,
    "hll_reach_rollup": _q_hll_rollup,
    "sketch_audience_quantiles": _q_sketch_audience_quantiles,
    "gopher_repetition": _q_gopher_repetition,
    "tokenizer_bpe_e2e": _q_tokenizer_bpe,
}


def _git_sha() -> str | None:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # attribution subset (r14): SPARK_GRAFT_BENCH_ONLY=q1,q2,... runs
    # only the named entries — built to test suite-LENGTH effects (the
    # steady min over interleaved laps sees more page-cache/JIT churn
    # between repeats as the suite grows, which uniform per-query
    # ambient attribution cannot explain). Never used for the canonical
    # committed artifact, which always runs the full HEADLINE. An
    # unknown name fails the run rather than shrink the subset unseen.
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }
    unknown = sorted(only - set(HEADLINE))
    if unknown:
        sys.exit(
            f"bench: SPARK_GRAFT_BENCH_ONLY names no bench entry: {', '.join(unknown)}; "
            f"valid names: {', '.join(HEADLINE)}"
        )
    headline = [q for q in HEADLINE if not only or q in only]

    from pyspark.sql import functions as F

    from perfbench.proc import CpuWindow
    from recon_spark import staging
    from recon_spark.registry import QUERIES
    from recon_spark.session import get_spark
    from recon_spark.sources import fixtures

    spark = get_spark("bench")
    # untimed: render the four raw fixture tables to parquet once — in a
    # deployment the raw exports ARE files on disk read once; without this
    # every measured query re-pays the synthetic derivation join
    import tempfile

    t_setup = time.time()
    # kept until the end of the run (queries read it throughout), then
    # removed — mkdtemp dirs otherwise accumulate across bench runs
    # (ADVICE r7)
    raw_dir = tempfile.mkdtemp(prefix="bench_raw_")
    fixtures.materialize_raw(spark, sf_dir, raw_dir)
    setup_raw_sec = round(time.time() - t_setup, 3)
    # untimed: the clean-once layout — run the four cleaners ONCE and
    # persist their output bucketed by (plan_id, ssn), exactly as a
    # deployment would between the cleaning job and the engine runs
    # ("clean once, reconcile many"). The engine/corrections/analytics
    # queries then read the bucketed tables. The cost is reported in
    # setup_clean_sec below, and the cleaning lineage itself stays a
    # TIMED headline query (clean_matrix reads raw, not the bucketed
    # table).
    from recon_spark.registry import clean_tables

    t_setup = time.time()
    clean_tables(spark, sf_dir)
    setup_clean_sec = round(time.time() - t_setup, 3)
    # untimed infrastructure warmup: JIT-compiles the scan/shuffle/join/
    # window/noop-sink machinery once so the first measured query isn't
    # charged for JVM warmup (standard bench hygiene; synthetic data only,
    # touches none of the measured tables)
    from pyspark.sql import Window

    base = spark.range(0, 500_000, 1, 8).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    dim = spark.range(0, 97).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    warm = (
        base.join(dim, "k", "left")
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("s").alias("m"))
    )
    warm.write.format("noop").mode("overwrite").save()
    # untimed: spin up the Arrow/Python worker pool once (the embed /
    # multimodal / blas queries run mapInPandas stages; first-use worker
    # startup is infrastructure, same class as the JVM warmup above)
    def _identity(batches):
        yield from batches

    spark.range(0, 1000, 1, 8).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    # untimed: spin up the Structured Streaming machinery once (micro-batch
    # executor, state store provider, memory sink) — measured ~7s of pure
    # one-time setup charged to whichever streaming query runs first in a
    # session, independent of its data (r7 state-partition audit,
    # streaming/replay.py). Warmed on a 200-row copy of the events layout
    # through the SAME stream-stream join builder, so the machinery —
    # not the measured query's data path — is what gets pre-paid.
    try:
        from recon_spark.streaming import joins as _joins
        from recon_spark.sources.tpch import load as _load

        warm_dir = tempfile.mkdtemp(prefix="bench_stream_warm_")
        try:
            _load(spark, sf_dir, "events").limit(200).write.mode(
                "overwrite"
            ).parquet(f"{warm_dir}/events.parquet")
            _joins.run_to_memory(spark, warm_dir, name="bench_stream_warmup")
        finally:
            # the availableNow warmup query has terminated by now
            # (awaitTermination inside run_to_memory), so the parquet
            # copy has no readers left (ADVICE r7: don't leak /tmp dirs)
            import shutil

            shutil.rmtree(warm_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 — warmup must never kill the bench
        print(f"bench: streaming warmup skipped: {exc}", file=sys.stderr)

    # per-query error isolation: one broken query must not zero the whole
    # bench signal (BENCH_r03 lesson — the run died on query 8 of 11 and
    # reported nothing). Timing discipline (r10, per VERDICT r9 #2): the
    # suite runs as FULL INTERLEAVED LAPS — lap 1 over every query (the
    # cold numbers), then lap 2..N over every query again — and steady =
    # per-query MIN across laps. Back-to-back best-of-2 put both
    # executions of a query inside the same ambient-load window, so a
    # transient spike on this shared VM poisoned both laps at once
    # (r9's artifact read analytics_value_percentiles 3.29s steady vs
    # 1.41s in a quieter same-code sweep). Interleaving separates a
    # query's executions by a full suite pass (~1 min+), so a spike must
    # persist across the whole run to survive the min.

    # Per-QUERY contended-lap rejection (VERDICT r11 #8): the 1-min
    # loadavg cannot attribute a mid-lap spike — on a QUIET run the
    # bench's own local[32] bursts read 3-9 at query starts, the same
    # band the r10/r11 driver contention read — so the per-query signal
    # is EXTERNAL CPU measured directly: Δ(/proc/stat busy jiffies)
    # minus Δ(this process tree's jiffies) over the query's own wall
    # window, in cores. Quiet ambient measures ~0-1 cores regardless of
    # self-load; a concurrent pytest/bench measures 8-30. A lap's
    # sample for a query is rejected from the steady min when external
    # load exceeded the gate DURING THAT QUERY; if every lap was
    # contended the min over all laps is kept and accepted=0 says so.
    lap_times: list[dict[str, float]] = []
    lap_loads: list[dict[str, float]] = []
    lap_exts: list[dict[str, float]] = []
    lap_gates: list[dict[str, float | bool]] = []
    errors: dict[str, str] = {}
    for _lap in range(LAPS):
        # ambient-load gate (VERDICT r9 #2, r10 #6): a lap started while
        # the shared VM is already busy reads 2×+ slow on untouched
        # queries, so before each lap (lap 0's wait is the run-start
        # wait) hold a bounded wait for the 1-min loadavg to fall below
        # the gate, and record the per-lap verdict so diffs can discount
        # what the wait couldn't cure. Decay awareness: right after a
        # heavy lap the 1-min loadavg is dominated by the bench's OWN just-
        # finished work (an sf1 lap leaves it at ~20-30 on local[32]),
        # which drains monotonically and cannot pollute the next lap —
        # so a lap is flagged contended only if the load both stays
        # over the gate after the bounded wait AND is NOT decaying
        # (still >= 70% of where the wait started: external load holds
        # level; self-load roughly halves per minute of idle wait).
        lap_wait = 0.0
        first_load = lap_load = os.getloadavg()[0]
        while lap_load > LOADAVG_GATE and lap_wait < LOADAVG_WAIT_S:
            time.sleep(10)
            lap_wait += 10.0
            lap_load = os.getloadavg()[0]
        lap_contended = lap_load > LOADAVG_GATE and lap_load >= first_load * 0.7
        lap_gates.append(
            {
                "waited_sec": round(lap_wait, 1),
                "loadavg_at_wait_start": round(first_load, 2),
                "loadavg_at_lap_start": round(lap_load, 2),
                "contended": lap_contended,
            }
        )
        if lap_contended:
            print(
                f"bench: lap {_lap} starting contended "
                f"(loadavg {lap_load:.1f} > gate {LOADAVG_GATE} "
                f"after {lap_wait:.0f}s wait, not decaying)",
                file=sys.stderr,
            )
        lt: dict[str, float] = {}
        la: dict[str, float] = {}
        le: dict[str, float] = {}
        for name in headline:
            if name in errors:
                continue
            # ambient-load attribution: recording the 1-min loadavg at
            # each query's start (per lap) makes slow windows
            # attributable from the JSON alone instead of needing a
            # forensic re-run.
            la[name] = round(os.getloadavg()[0], 1)
            ext = CpuWindow()
            t0 = time.time()
            try:
                fn = QUERIES.get(name) or EXTRA_QUERIES[name]
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                lt[name] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — record and keep benching
                msg = str(exc).split("\n", 1)[0][:300]
                errors[name] = f"ERROR {type(exc).__name__}: {msg}"
                print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
            finally:
                # external CPU during THIS query's window, in cores
                # (sampled before clearCache so only the timed window
                # counts)
                le[name] = round(ext.external_cores(), 2)
                # drop what this query cached: the SQL cache plus the
                # staging ledger's handles, so one query's cache neither
                # warms the next lap nor holds executor memory meanwhile
                spark.catalog.clearCache()
                staging.release_staged()
        lap_times.append(lt)
        lap_loads.append(la)
        lap_exts.append(le)
    cold = dict(lap_times[0])
    # steady = per-query min over laps whose external load stayed under
    # the gate during that query (VERDICT r11 #8); all-contended queries
    # fall back to the unfiltered min with accepted=0 recorded
    timings: dict[str, float] = {}
    accepted_laps: dict[str, int] = {}
    for name in cold:
        samples = [
            (lt[name], le.get(name))
            for lt, le in zip(lap_times, lap_exts)
            if name in lt
        ]
        ok = [t for t, e in samples if e is not None and e <= EXT_GATE_CORES]
        timings[name] = min(ok) if ok else min(t for t, _ in samples)
        accepted_laps[name] = len(ok)
    # driver-JVM JIT compile time over the whole run (session start to
    # here): the cost the session factory's C2 thresholds target
    jit_compile_s = round(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        3,
    )
    loadavg = lap_loads[0]
    # Headline accounting (round-7 fix per VERDICT r6 #1): the driver-parsed
    # "value" is the CONSERVATIVE number — the cold-lap sum, i.e. what each
    # query cost the first time it ran in this session, including plan
    # construction and any engine-output write it paid (engines A and C
    # write theirs on their first run, or their first consumer does). The
    # best-of-2 steady-state sum (the "clean once / reconcile once,
    # analyze many" deployment number) is reported as a secondary field,
    # never as the default-parsed headline.
    total_cold = round(sum(cold.values()), 3)
    total_steady = round(sum(timings.values()), 3)
    out = {
        "metric": "total_wall_sec",
        "value": total_cold,
        "unit": "sec",
        # per-query dict matching the headline value: lap-1 wall (includes
        # one-time costs — plan build, the engine A/C output writes,
        # Python worker spin-up the warmup missed)
        "queries": cold,
        "sf": sf,
        "setup_raw_sec": setup_raw_sec,
        "setup_clean_sec": setup_clean_sec,
        "timing": f"cold_lap_plus_min_of_{LAPS}_interleaved",
        # secondary: per-query min across all interleaved laps and its sum
        "steady_queries": timings,
        "steady_total_sec": total_steady,
        # 1-min system loadavg sampled at each query's start, per lap
        # (ambient-load attribution on this shared VM)
        "loadavg_1min": loadavg,
        "loadavg_laps": lap_loads,
        "lap_queries": lap_times,
        # per-query EXTERNAL cpu (cores) during each lap's timed window
        # and how many lap samples survived the per-query gate into the
        # steady min (VERDICT r11 #8)
        "ext_cores_laps": lap_exts,
        "ext_gate_cores": EXT_GATE_CORES,
        "steady_accepted_laps": accepted_laps,
        # a run is contended if any lap gate timed out over threshold
        "ambient_gate": {
            "contended": any(g["contended"] for g in lap_gates),
            "lap_gates": lap_gates,
        },
        # which code and config produced the numbers
        "cpus": spark.sparkContext.defaultParallelism,
        "git_sha": _git_sha(),
        "jit_compile_s": jit_compile_s,
    }
    if errors:
        out["errors"] = errors
    # The printed line is the driver's bounded-tail capture: keep it
    # COMPACT (headline + required per-query dict only) so a 33-query
    # suite can never truncate it again (VERDICT r8 #8 / r9 #2 nit).
    # Full detail — per-lap timings, loadavg traces, gate — lives in the
    # committed sidecar.
    printed = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "timing",
            "steady_total_sec",
        )
    }
    if errors:
        printed["errors"] = errors
    if out["ambient_gate"]["contended"]:
        printed["contended"] = True
    print(json.dumps(printed))
    # the driver records only a bounded tail of stdout, which truncated
    # the r8 artifact's headline dict (VERDICT r8 #8) — the full JSON
    # goes to a committed sidecar so the numbers are never lost.
    # Overridable so tools/bench_sf1.py can direct its run elsewhere.
    # The default name embeds the SF dir unless it is the canonical
    # bench SF (sf0.1), so an ad-hoc smoke run at another SF cannot
    # clobber the committed canonical artifact (ADVICE r9).
    base = os.path.basename(sf_dir.rstrip("/"))
    default_name = (
        "BENCH_full.json" if base == "sf0.1" else f"BENCH_full_{base}.json"
    )
    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), default_name),
    )
    try:
        with open(sidecar, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)
    import shutil

    shutil.rmtree(raw_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
