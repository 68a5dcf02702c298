"""Token-entropy quality signal (operators/text.token_entropy, r14):
hand-computed H, uniform/degenerate bounds, null/empty anchoring, the
inline corpus-filter expression, and DuckDB differential fuzz through
the graded CTEs."""

from __future__ import annotations

import math
import random

import duckdb

from recon_spark.operators import text as T


def _rows(df):
    return {
        r.doc_id: (r.n_tokens, r.n_types, r.h_micros, r.h_norm_micros)
        for r in df.collect()
    }


def test_hand_case(spark):
    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    got = _rows(T.token_entropy(docs))[1]
    h = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert got == (
        3,
        2,
        round(h * 1_000_000),
        round(h / math.log(2) * 1_000_000),
    )


def test_uniform_and_degenerate_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = _rows(T.token_entropy(docs))
    # uniform over 4 types: normalized entropy is exactly 1.0
    assert got[1][3] == 1_000_000
    assert got[1][2] == round(math.log(4) * 1_000_000)
    # single type: H = 0, normalized undefined
    assert got[2] == (4, 1, 0, None)
    # empty/null docs anchor with zero counts and NULL entropies
    assert got[3] == (0, 0, None, None)
    assert got[4] == (0, 0, None, None)


def test_gibberish_scores_lower(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam ham"),
            (2, "the quick brown fox jumps over lazy dogs"),
        ],
        "doc_id long, text string",
    )
    got = _rows(T.token_entropy(docs))
    assert got[1][3] < got[2][3]


def test_differential_fuzz_vs_duckdb(spark):
    from recon_spark.oracles import llm_sql
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0xE272)
    for trial in range(3):
        rows = list(_corpus(rnd, 50))
        # five input partitions: a doc's tokens meet across tasks in the
        # (doc, term) groupBy, and the fold must not depend on the split
        docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
        got = T.entropy_parity(docs).collect()[0]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = con.sql(
            f"WITH {llm_sql.TF_SUBSTRATE_CTES}, {llm_sql.ENT_CTES}"
            " SELECT * FROM ent_parity"
        ).fetchone()
        con.close()
        assert (got.n_ent_rows, got.ent_ck) == want, f"trial {trial}"


def test_corpus_entropy_stage(spark):
    """build_training_corpus(entropy_min_norm=...) drops the low-entropy
    flood doc the legacy flags keep, and only that."""
    from recon_spark.plans import corpus
    from tests.test_corpus import _docs

    docs = _docs(spark)
    flood = "alpha " * 120 + "beta gamma delta epsilon"
    docs = docs.unionByName(
        spark.createDataFrame([(940, flood)], "doc_id long, text string")
    )
    base = {r["doc_id"] for r in corpus.build_training_corpus(docs, budget=64).collect()}
    ent = {
        r["doc_id"]
        for r in corpus.build_training_corpus(
            docs, budget=64, entropy_min_norm=0.5
        ).collect()
    }
    assert 940 in base and 940 not in ent
    assert ent <= base


def test_inline_expr_matches_rowlocal(spark):
    """The inline row-local corpus-filter expression equals
    token_entropy's h_norm_micros, NULLs included."""
    from pyspark.sql import functions as F

    from recon_spark.operators import text as T
    from tests.test_dedup_fuzz import _corpus

    import random

    rnd = random.Random(0xE273)
    rows = list(_corpus(rnd, 50))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = T.tokens(F.coalesce(F.col("text").cast("string"), F.lit("")))
    a = {
        r.doc_id: r.m
        for r in docs.select(
            "doc_id", T.entropy_norm_micros_from_tokens(toks).alias("m")
        ).collect()
    }
    b = {
        r.doc_id: r.h_norm_micros
        for r in T.token_entropy(docs).collect()
    }
    assert a == b
