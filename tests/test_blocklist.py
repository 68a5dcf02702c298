"""Phrase-blocklist filter (operators/blocklist.py, r14): word-boundary
semantics, overlap counting, null/empty anchoring, summary rollup,
DuckDB parity through the graded CTEs on an edge-case corpus and on
seeded fuzz corpora, and fixture non-vacuity of the multi-token
branch."""

from __future__ import annotations

import random

import duckdb
import pytest

from pyspark.sql import functions as F  # noqa: F401

from recon_spark.operators import blocklist as BL


def _v(df):
    return {
        r.doc_id: (r.n_hits, r.n_hit_terms, r.hit, r.hit_terms)
        for r in df.collect()
    }


def test_word_boundary_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "a Hash-Join! beats a hashjoin"),
            (2, "HASH  join and hash join again"),
            (3, "join hash"),  # reversed order: no match
        ],
        "doc_id long, text string",
    )
    got = _v(BL.blocklist_verdicts(docs, ("hash join",)))
    assert got[1] == (1, 1, True, "hash join")
    assert got[2] == (2, 1, True, "hash join")
    assert got[3] == (0, 0, False, None)


def test_overlapping_occurrences_counted(spark):
    docs = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    got = _v(BL.blocklist_verdicts(docs, ("a a",)))
    assert got[1] == (2, 1, True, "a a")


def test_hit_terms_sorted_and_multi(spark):
    docs = spark.createDataFrame(
        [(1, "spark runs a table scan then a table scan")],
        "doc_id long, text string",
    )
    got = _v(BL.blocklist_verdicts(docs))
    assert got[1] == (3, 2, True, "spark,table scan")


def test_null_empty_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "hash")], "doc_id long, text string"
    )
    got = _v(BL.blocklist_verdicts(docs, ("hash join",)))
    assert got == {
        1: (0, 0, False, None),
        2: (0, 0, False, None),
        3: (0, 0, False, None),
    }


def test_empty_phrase_rejected(spark):
    with pytest.raises(ValueError):
        BL.phrase_tokens(("ok phrase", "!!!"))


def _duckdb_parity(rows, phrases=None):
    from recon_spark.oracles import plans_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = con.sql(
        f"WITH {plans_sql.blocklist_parity_ctes(phrases)} SELECT * FROM bl_parity"
    ).fetchone()
    con.close()
    return out


def test_join_twin_value_identical(spark):
    """The verdict table equals the DuckDB replay on NULL and empty
    docs, overlapping and repeated-token phrases ("a a"), and a
    four-token phrase over five input partitions."""
    rnd = random.Random(0xB10C)
    vocab = ["a", "b", "c", "hash", "join", "scan"]
    rows = [(999, None), (998, "")]
    for i in range(60):
        rows.append(
            (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 25))))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    phrases = ("a a", "hash join", "scan", "b c a")
    got = BL.blocklist_parity(docs, phrases).collect()[0]
    assert (got.n_bl_rows, got.bl_ck) == _duckdb_parity(rows, phrases)


def test_summary_rollup(spark):
    docs = spark.createDataFrame(
        [(1, "spark"), (2, "clean doc"), (3, "spark spark")],
        "doc_id long, text string",
    )
    r = BL.blocklist_summary(docs, ("spark",)).collect()[0]
    assert (r.n_docs, r.n_flagged, r.n_occurrences) == (3, 2, 3)
    assert r.flag_rate_micros == round(2 / 3 * 1_000_000)


def test_differential_fuzz_vs_duckdb(spark):
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0xB10C2)
    for trial in range(3):
        rows = []
        for i, t in _corpus(rnd, 40):
            if i % 3 == 0 and t:
                t = t + " spark hash join table scan"
            rows.append((i, t))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = BL.blocklist_parity(docs).collect()[0]
        assert (got.n_bl_rows, got.bl_ck) == _duckdb_parity(rows), f"trial {trial}"


def test_fixture_multi_token_branch_non_vacuous():
    """The graded fold must exercise the k>1 slice path on the real
    fixture corpus, not just single-word hits."""
    from recon_spark.oracles import plans_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    n = con.sql(
        f"WITH {plans_sql.blocklist_parity_ctes()} SELECT count(*) FROM bl_rows"
        " WHERE contains(coalesce(hit_terms, ''), ' ')"
    ).fetchone()[0]
    con.close()
    assert n > 0


def test_corpus_blocklist_stage(spark):
    """build_training_corpus(blocklist=...) drops exactly the docs the
    verdict operator flags, and never adds any."""
    from recon_spark.plans import corpus
    from tests.test_corpus import _docs

    docs = _docs(spark)
    docs = docs.unionByName(
        spark.createDataFrame(
            [(930, "alpha beta gamma delta epsilon zeta forbidden phrase here " * 3)],
            "doc_id long, text string",
        )
    )
    base = {r["doc_id"] for r in corpus.build_training_corpus(docs, budget=64).collect()}
    blk = {
        r["doc_id"]
        for r in corpus.build_training_corpus(
            docs, budget=64, blocklist=("forbidden phrase",)
        ).collect()
    }
    assert 930 in base and 930 not in blk
    assert blk == base - {930}
