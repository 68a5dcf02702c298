"""Bigram-LM perplexity scoring (operators/lm.py): hand-computable
probabilities, the discriminative property (in-domain text scores lower
than token soup), determinism, and the CCNet-style keep-fraction cut."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import lm


def test_bigram_probabilities_by_hand(spark):
    """Reference corpus 'a b' 'a b' 'a c' -> exact Laplace arithmetic.
    Bigrams with BOS: (<s>,a)x3, (a,b)x2, (a,c)x1. V = |{a,b,c}| + 1 =
    4; alpha = 0.5."""
    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(ref)
    assert model["vocab"].first().v == 4
    scored = {
        r.doc_id: r
        for r in lm.score_perplexity(
            spark.createDataFrame([(10, "a b"), (11, "a z")], "doc_id long, text string"),
            model,
        ).collect()
    }
    # doc 10: p(a|<s>) = (3+.5)/(3+2) = .7 ; p(b|a) = (2+.5)/(3+2) = .5
    want_10 = math.log(0.7) + math.log(0.5)
    assert scored[10].n_scored == 2
    assert scored[10].logprob == pytest.approx(want_10, rel=1e-12)
    assert scored[10].perplexity == pytest.approx(math.exp(-want_10 / 2), rel=1e-12)
    # doc 11: unseen continuation z: p(z|a) = .5/(3+2) = .1
    want_11 = math.log(0.7) + math.log(0.1)
    assert scored[11].logprob == pytest.approx(want_11, rel=1e-12)


def test_count_substrate_by_hand(spark):
    """The integer substrate driver-graded through text_stats (round 7):
    same tiny corpus as the probability test, every column checked
    against hand-derived counts. Ref bigrams: (<s>,a)x3, (a,b)x2,
    (a,c)x1; contexts <s>:3, a:3; V=4."""
    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(10, "a b"), (11, "a z"), (12, "z q"), (13, "")],
        "doc_id long, text string",
    )
    sub = {r.doc_id: r for r in lm.score_count_substrate(docs, model).collect()}
    # doc 10 'a b': hits (<s>,a)=3 and (a,b)=2; contexts <s>=3, a=3
    assert (
        sub[10].lm_n_scored,
        sub[10].lm_sum_c2,
        sub[10].lm_unseen_bigrams,
        sub[10].lm_sum_c1,
        sub[10].lm_unseen_contexts,
        sub[10].lm_vocab_v,
    ) == (2, 5, 0, 6, 0, 4)
    # doc 11 'a z': (a,z) unseen bigram, but both contexts seen
    assert (
        sub[11].lm_sum_c2,
        sub[11].lm_unseen_bigrams,
        sub[11].lm_sum_c1,
        sub[11].lm_unseen_contexts,
    ) == (3, 1, 6, 0)
    # doc 12 'z q': both bigrams unseen; context z unseen, <s> seen
    assert (
        sub[12].lm_sum_c2,
        sub[12].lm_unseen_bigrams,
        sub[12].lm_sum_c1,
        sub[12].lm_unseen_contexts,
    ) == (0, 2, 3, 1)
    # empty doc: no row, same contract as score_perplexity
    assert 13 not in sub
    # coherence with the float scorer: identical per-doc n_scored
    n_scored = {
        r.doc_id: r.n_scored
        for r in lm.score_perplexity(docs, model).collect()
    }
    assert n_scored == {d: sub[d].lm_n_scored for d in sub}


def test_unseen_context_falls_back_to_uniform(spark):
    ref = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    model = lm.train_bigram_lm(ref)
    # context 'q' never seen: p = alpha / (0 + alpha * V) = 1/V, V = 3
    scored = lm.score_perplexity(
        spark.createDataFrame([(20, "q q")], "doc_id long, text string"), model
    ).first()
    v = model["vocab"].first().v
    want = math.log(1 / v)  # for the (q, q) bigram
    # first bigram is (<s>, q): <s> IS a seen context -> Laplace mass
    assert scored.n_scored == 2
    assert scored.logprob < want  # both terms are low-probability


def test_in_domain_beats_token_soup(spark):
    """The discriminative property: text following the reference's
    bigram structure must score materially lower perplexity than the
    SAME tokens in scrambled order (identical unigram profile, destroyed
    bigram structure). Uses a structured reference corpus — the sf
    testdata documents are themselves near-random token streams, so they
    cannot carry this signal (measured: shuffling them moves perplexity
    ~1%); the hand-checkable phrase corpus isolates the model property."""
    import random

    phrases = [
        "the engine reads the table and writes the result",
        "the worker sorts the batch and merges the result",
        "the engine scans the table and filters the rows",
        "the worker joins the batch and counts the rows",
    ]
    ref = spark.createDataFrame(
        [(i, phrases[i % 4]) for i in range(200)], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(ref)

    held = "the engine sorts the table and counts the result"
    rng = random.Random(7)
    toks = held.split()
    soup_variants = []
    for j in range(5):
        t = toks[:]
        rng.shuffle(t)
        soup_variants.append((1_000 + j, " ".join(t)))
    probe = spark.createDataFrame(
        [(1, held)] + soup_variants, "doc_id long, text string"
    )
    scored = {r.doc_id: r.perplexity for r in lm.score_perplexity(probe, model).collect()}
    avg_soup = sum(scored[k] for k in scored if k >= 1_000) / 5
    assert scored[1] < avg_soup * 0.5, (scored[1], avg_soup)


def test_keep_fraction_threshold(spark):
    scored = spark.createDataFrame(
        [(i, 2, -1.0, float(i)) for i in range(1, 101)],
        "doc_id long, n_scored long, logprob double, perplexity double",
    )
    thr = lm.perplexity_filter_threshold(scored, 0.25)
    kept = scored.filter(F.col("perplexity") <= thr).count()
    assert 25 <= kept <= 26  # interpolated percentile may include the boundary
    assert lm.perplexity_filter_threshold(scored, 1.0) == math.inf
    with pytest.raises(ValueError):
        lm.perplexity_filter_threshold(scored, 0.0)


def test_kn_probabilities_by_hand(spark):
    """Interpolated Kneser-Ney (r14): reference 'a b' 'a b' 'a c' with a
    fixed discount d=0.5 and continuation alpha=0.5 — every probability
    hand-derived from the model tables.

    Bigram types: (<s>,a) c=3, (a,b) c=2, (a,c) c=1 -> t_types=3,
    n1={(a,c)}=1, n2={(a,b)}=1, v=|{a,b,c}|+1=4.
    contexts: <s>: c1=3,n1f=1; a: c1=3,n1f=2.
    cont_back: a:1, b:1, c:1.  P_cont(x)=(n1b+.5)/(3+.5*4)=(1.5 or .5)/5.
    """
    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    kn = lm.train_kn_lm(ref)
    tot = kn["totals"].first()
    assert (tot.t_types, tot.n1, tot.n2, tot.v) == (3, 1, 1, 4)
    scored = {
        r.doc_id: r
        for r in lm.score_kn_perplexity(
            spark.createDataFrame(
                [(10, "a b"), (11, "a z"), (12, "q q")],
                "doc_id long, text string",
            ),
            kn,
            discount=0.5,
        ).collect()
    }
    pc = {"a": 1.5 / 5.0, "b": 1.5 / 5.0, "c": 1.5 / 5.0, "z": 0.5 / 5.0,
          "q": 0.5 / 5.0}
    # doc 10: p(a|<s>) = (max(3-.5,0) + .5*1*pc[a])/3 ; p(b|a) = (max(2-.5,0)+.5*2*pc[b])/3
    want_10 = math.log((2.5 + 0.5 * pc["a"]) / 3) + math.log((1.5 + 1.0 * pc["b"]) / 3)
    assert scored[10].logprob == pytest.approx(want_10, rel=1e-12)
    # doc 11: unseen continuation z in seen context a: max(0-.5,0)=0 -> backoff mass only
    want_11 = math.log((2.5 + 0.5 * pc["a"]) / 3) + math.log(0.5 * 2 * pc["z"] / 3)
    assert scored[11].logprob == pytest.approx(want_11, rel=1e-12)
    # doc 12: q unseen everywhere: p(q|<s>)=(0+.5*1*pc[q])/3, then unseen context q -> pc[q]
    want_12 = math.log(0.5 * 1 * pc["q"] / 3) + math.log(pc["q"])
    assert scored[12].logprob == pytest.approx(want_12, rel=1e-12)
    staging.release_staged()


def test_kn_ney_discount_estimate(spark):
    """discount=None derives d = n1/(n1+2*n2) from the model's own
    singleton/doubleton type counts; verified against an explicit
    fixed-discount run at the same value."""
    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    kn = lm.train_kn_lm(ref)
    docs = spark.createDataFrame([(10, "a b c a")], "doc_id long, text string")
    # n1=1, n2=1 -> d = 1/3
    est = lm.score_kn_perplexity(docs, kn).first()
    fixed = lm.score_kn_perplexity(docs, kn, discount=1.0 / 3.0).first()
    assert est.logprob == pytest.approx(fixed.logprob, rel=1e-12)
    staging.release_staged()


def test_kn_substrate_by_hand(spark):
    """The integer substrate the driver grades: counts for 'a b' and
    'a z' against the 3-doc reference (d/alpha never enter)."""
    ref = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    kn = lm.train_kn_lm(ref)
    sub = {
        r.doc_id: r
        for r in lm.kn_count_substrate(
            spark.createDataFrame(
                [(10, "a b"), (11, "a z")], "doc_id long, text string"
            ),
            kn,
        ).collect()
    }
    r10 = sub[10]
    # bigrams (<s>,a) and (a,b): c2 = 3+2; c1 = 3+3; n1f = 1+2; n1b(a)+n1b(b) = 1+1
    assert (r10.kn_n_scored, r10.kn_sum_c2, r10.kn_unseen_bigrams) == (2, 5, 0)
    assert (r10.kn_sum_c1, r10.kn_unseen_contexts) == (6, 0)
    assert (r10.kn_sum_n1f, r10.kn_sum_n1b, r10.kn_unseen_cont) == (3, 2, 0)
    assert (r10.kn_t_types, r10.kn_n1, r10.kn_n2, r10.kn_v) == (3, 1, 1, 4)
    r11 = sub[11]
    # (a,z) unseen bigram, z unseen continuation; context a seen
    assert (r11.kn_sum_c2, r11.kn_unseen_bigrams) == (3, 1)
    assert (r11.kn_sum_n1b, r11.kn_unseen_cont) == (1, 1)
    staging.release_staged()


def test_kn_in_domain_beats_token_soup(spark):
    """The discriminative property, KN edition: fluent in-domain text
    scores lower perplexity than shuffled junk against the same model."""
    import random

    rnd = random.Random(7)
    base = ("the plan pays the participant a gross amount and the "
            "participant reports the amount on the return").split()
    ref_rows = []
    for i in range(60):
        k = rnd.randrange(6, len(base))
        ref_rows.append((i, " ".join(base[:k])))
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    kn = lm.train_kn_lm(ref)
    soup = " ".join(rnd.sample(base, len(base)))
    probe = spark.createDataFrame(
        [(1000, " ".join(base)), (1001, soup)], "doc_id long, text string"
    )
    got = {r.doc_id: r.perplexity for r in lm.score_kn_perplexity(probe, kn).collect()}
    assert got[1000] < got[1001]
    staging.release_staged()


def test_kn_nonvacuous_on_fixture(spark):
    """The graded fold must exercise all branches on the fixture corpus
    THROUGH THE GRADED LINEAGE (base ∪ scoring-only plants): seen +
    unseen bigrams, unseen contexts and unseen continuations all
    present, and the discount inputs live (n1, n2 > 0). Without the
    plants the fixture vocabulary is closed under the hash split and
    the miss branches would be certified vacuously."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sub = lm.kn_graded_substrate(docs)
    agg = sub.agg(
        F.sum("kn_sum_c2").alias("c2"),
        F.sum("kn_unseen_bigrams").alias("ub"),
        F.sum("kn_unseen_contexts").alias("uc"),
        F.sum("kn_unseen_cont").alias("ucont"),
        F.max("kn_n1").alias("n1"),
        F.max("kn_n2").alias("n2"),
    ).first()
    assert agg.c2 > 0 and agg.ub > 0 and agg.uc > 0 and agg.ucont > 0
    assert agg.n1 > 0 and agg.n2 > 0
    staging.release_staged()
