"""Rank-order langid (operators/langid.py, Cavnar & Trenkle 1994):
hand-computed out-of-place distance, tie determinism, planted
multilingual discrimination (the property the uncorrelated-label fixture
fold cannot show), null/empty anchoring, accuracy rollup, and DuckDB
differential fuzz through the graded CTEs."""

from __future__ import annotations

import random

import duckdb

from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import langid as LID


def test_hand_distance(spark):
    """Doc 'a' against a hand-built 2-gram profile: doc ranks are
    '_'(cnt 2)->1 then cnt-1 grams g-ASC ('_a'->2, '_a_'->3, 'a'->4,
    'a_'->5); profile has _a->1, a_->2; distance = |2-1| + |5-2| +
    3 missing * k(10) = 34."""
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    profiles = spark.createDataFrame(
        [("xx", "_a", 1), ("xx", "a_", 2)], "lang string, g string, rank int"
    )
    r = LID.langid_classify(docs, profiles, k=10).collect()[0]
    assert (r.pred_lang, r.best_dist) == ("xx", 1 + 3 + 3 * 10)


def test_tie_breaks_to_smallest_lang(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    profiles = spark.createDataFrame(
        [("zz", "_a", 1), ("aa", "_a", 1)], "lang string, g string, rank int"
    )
    r = LID.langid_classify(docs, profiles, k=10).collect()[0]
    assert r.pred_lang == "aa"


def test_discriminates_planted_languages(spark):
    """Two synthetic 'languages' with disjoint character distributions:
    train profiles on labeled docs, classify held-out docs — every
    prediction correct, in both directions."""
    rnd = random.Random(0x11D)
    vocab = {
        "aa": ["zor", "zim", "zan", "zul"],
        "bb": ["qep", "qod", "qul", "qik"],
    }

    def doc(lang):
        return " ".join(rnd.choice(vocab[lang]) for _ in range(30))

    train = [(i, lang, doc(lang)) for i, lang in enumerate(["aa"] * 5 + ["bb"] * 5)]
    train_df = spark.createDataFrame(
        train, "doc_id long, lang string, text string"
    )
    profiles = LID.langid_profiles(train_df, k=50)
    held = [(100 + i, lang, doc(lang)) for i, lang in enumerate(["aa", "bb"] * 4)]
    held_df = spark.createDataFrame(
        held, "doc_id long, lang string, text string"
    )
    got = {
        r.doc_id: r.pred_lang
        for r in LID.langid_classify(held_df, profiles, k=50).collect()
    }
    want = {i: lang for i, lang, _ in held}
    assert got == want


def test_empty_and_null_docs_predict_null(spark):
    docs = spark.createDataFrame(
        [(1, "en", "real text here"), (2, "en", None), (3, "en", "")],
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r for r in LID.langid_verdicts(docs).collect()}
    assert len(out) == 3
    assert out[2].pred_lang is None and out[2].best_dist is None
    assert out[3].pred_lang is None
    assert out[2].correct is None


def test_accuracy_rollup(spark):
    docs = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", None)], "doc_id long, lang string, text string"
    )
    profiles = spark.createDataFrame(
        [("en", "_a", 1)], "lang string, g string, rank int"
    )
    v = (
        docs.select("doc_id", F.col("lang").alias("true_lang"), F.lit("test").alias("split"))
        .join(LID.langid_classify(docs, profiles, k=10), "doc_id")
        .select(
            "doc_id", "true_lang", "split", "pred_lang", "best_dist",
            (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
        )
    )
    r = LID.langid_accuracy(v).collect()[0]
    assert (r.n_docs, r.n_predicted, r.n_correct) == (2, 1, 1)
    assert r.accuracy_micros == 1_000_000


def test_verdicts_match_composition(spark):
    """langid_verdicts must stay row-identical to the spelled-out
    langid_profiles + langid_classify composition (r14: a fused
    single-explode spelling was built, measured slower than the
    ReusedExchange-shared composition at sf0.1, and reverted — this
    parity pin keeps any future respelling honest)."""
    from recon_spark.operators.sampling import with_split
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x11D3)
    rows = []
    for i, t in _corpus(rnd, 60):
        rows.append((i, rnd.choice(["en", "es", "zz", None]), t))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).repartition(7)
    k = 25
    labeled = with_split(docs)
    profiles = LID.langid_profiles(
        labeled.filter(F.col("split") == "train"), k=k
    )
    want = {
        r.doc_id: (r.true_lang, r.split, r.pred_lang, r.best_dist, r.correct)
        for r in (
            labeled.select(
                "doc_id", F.col("lang").alias("true_lang"), "split"
            )
            .join(LID.langid_classify(docs, profiles, k=k), "doc_id")
            .select(
                "doc_id", "true_lang", "split", "pred_lang", "best_dist",
                (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
            )
            .collect()
        )
    }
    got = {
        r.doc_id: (r.true_lang, r.split, r.pred_lang, r.best_dist, r.correct)
        for r in LID.langid_verdicts(docs, k=k).collect()
    }
    staging.release_staged()
    assert got == want


def test_differential_fuzz_vs_duckdb(spark):
    """Random ugly corpora with random labels through langid_parity vs
    the verbatim lid_parity replay — small k so the missing-gram
    penalty branch fires constantly."""
    from recon_spark.oracles import llm_sql
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x11D2)
    for trial in range(3):
        rows = []
        for i, t in _corpus(rnd, 40):
            lang = rnd.choice(["en", "es", "zz", None])
            rows.append((i, lang, t))
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        ).repartition(5)
        got = LID.langid_parity(docs, k=20).collect()[0]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        want = con.sql(
            f"WITH {llm_sql.langid_ctes(k=20)} SELECT * FROM lid_parity"
        ).fetchone()
        con.close()
        assert (got.n_lid_rows, got.lid_ck) == want, f"trial {trial}"
