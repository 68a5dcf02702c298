"""Seeded differential fuzz of the bigram-LM count substrate: random
ugly corpora (unicode, punctuation runs, empties, pathological token
repetition) through the Spark pipeline (train on the 'train' hash split,
score everything — exactly the text_stats fold) and through the VERBATIM
grading SQL (oracles/llm_sql.LM_SUBSTRATE_SQL, the same CTE stack inside
TEXT_STATS_SQL), compared value-for-value.

The graded compare already covers fixture corpora; fixture text is
well-formed by construction. This drives the corners: tokens that md5 to
extreme hash values, docs that land entirely in val/test (every bigram
unseen), single-token docs (one BOS bigram), and duplicate texts across
splits."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import lm, sampling
from recon_spark.oracles import llm_sql

_ATOMS = [
    "the quick brown fox", "alpha beta alpha beta alpha", "x",
    "", " ", "\t\n", "a a a a a a a a", "Ünïcödé tökens ünïcödé",
    "punctuation!!! runs??? here...", "MixedCASE Mixedcase MIXEDCASE",
    "1234 5678 1234", "word-with-dash under_score dot.sep",
    "单 词 单 词", "a b c d e f g h i j k l m n o p",
    "same same same different", "zzz yyy zzz yyy xxx",
]


def _corpus(rnd: random.Random, n: int) -> list[tuple[int, str | None]]:
    rows: list[tuple[int, str | None]] = []
    for i in range(n):
        kind = rnd.randrange(5)
        if kind == 0:
            text: str | None = rnd.choice(_ATOMS)
        elif kind == 1:
            text = " ".join(rnd.choice(_ATOMS) for _ in range(rnd.randrange(1, 4)))
        elif kind == 2:
            text = " ".join(
                "tok%d" % rnd.randrange(6) for _ in range(rnd.randrange(0, 12))
            )
        elif kind == 3:
            text = None
        else:
            text = "".join(
                rnd.choice(" aZ9!.€ö\t") for _ in range(rnd.randrange(0, 24))
            )
        rows.append((i, text))
    return rows


def test_lm_substrate_differential_fuzz(spark):
    rnd = random.Random(20260814)
    for trial in range(4):
        rows = _corpus(rnd, 120)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        model = lm.train_bigram_lm(
            sampling.with_split(docs).filter(F.col("split") == "train")
        )
        got = {
            r.doc_id: (
                r.lm_n_scored,
                r.lm_sum_c2,
                r.lm_unseen_bigrams,
                r.lm_sum_c1,
                r.lm_unseen_contexts,
                r.lm_vocab_v,
            )
            for r in lm.score_count_substrate(docs, model).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = {
            r[0]: tuple(r[1:])
            for r in con.execute(llm_sql.LM_SUBSTRATE_SQL).fetchall()
        }
        con.close()
        assert got == want, f"trial {trial}: substrate drift"


def test_kn_substrate_differential_fuzz(spark):
    """KN edition (r14): the same ugly corpora through the GRADED
    lineage (train on the base 'train' split, score base ∪ novel-token
    plants — operators/lm.kn_graded_substrate) and through the VERBATIM
    grading SQL (llm_sql.KN_SUBSTRATE_SQL, the CTE stack inside
    TFIDF_SQL), all twelve counters compared value-for-value."""
    rnd = random.Random(20260816)
    for trial in range(4):
        rows = _corpus(rnd, 120)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (
                r.kn_n_scored, r.kn_sum_c2, r.kn_unseen_bigrams,
                r.kn_sum_c1, r.kn_unseen_contexts, r.kn_sum_n1f,
                r.kn_sum_n1b, r.kn_unseen_cont, r.kn_t_types,
                r.kn_n1, r.kn_n2, r.kn_v,
            )
            for r in lm.kn_graded_substrate(docs).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = {
            r[0]: tuple(r[1:])
            for r in con.execute(llm_sql.KN_SUBSTRATE_SQL).fetchall()
        }
        con.close()
        staging.release_staged()
        assert got == want, f"trial {trial}: KN substrate drift"
