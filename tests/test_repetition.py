"""Gopher n-gram repetition battery (operators/repetition.py):
hand-computed substrate values, tie-break direction, threshold flags,
and a seeded differential fuzz of the round-9 text_stats parity fold
against the verbatim DuckDB oracle CTEs."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from recon_spark.operators import repetition as R
from recon_spark.oracles import llm_sql


def _sub(spark, rows, ns=R.ALL_NS):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return R.repetition_ngram_substrate(docs, ns=ns)


def test_hand_computed_bigram_case(spark):
    # "a b" x6: 12 tokens, 23 chars joined; 11 bigrams: 'a b' x6, 'b a' x5
    rows = [(1, "a b a b a b a b a b a b")]
    got = {r.n: r for r in _sub(spark, rows, ns=(2,)).collect()}
    r2 = got[2]
    assert (r2.top_cnt, r2.top_chars, r2.dup_chars, r2.total_chars) == (6, 18, 33, 23)
    assert abs(r2.top_char_frac - 18 / 23) < 1e-12
    assert abs(r2.dup_char_frac - 33 / 23) < 1e-12


def test_tie_breaks_to_lexicographically_largest(spark):
    # all bigrams unique -> every cnt 1; top must be the lexicographically
    # largest gram ('z y' beats 'a b' etc.)
    rows = [(1, "a b z y m n")]
    r2 = {r.n: r for r in _sub(spark, rows, ns=(2,)).collect()}[2]
    assert r2.top_cnt == 1
    assert r2.top_chars == len("z y")


def test_short_docs_produce_rows_only_for_feasible_n(spark):
    rows = [(1, "one two three")]  # 3 tokens: rows for n=2,3 only
    ns_seen = sorted(r.n for r in _sub(spark, rows).collect())
    assert ns_seen == [2, 3]


def test_flags_clean_vs_boilerplate(spark):
    clean = " ".join(f"w{i}" for i in range(60))  # all distinct
    spammy = "buy now " * 30
    docs = spark.createDataFrame(
        [(1, clean), (2, spammy)], "doc_id long, text string"
    )
    flags = {
        r.doc_id: (r.repetition_ok, r.n_breaches)
        for r in R.gopher_repetition_flags(
            R.repetition_ngram_substrate(docs)
        ).collect()
    }
    assert flags[1] == (True, 0)
    assert flags[2][0] is False and flags[2][1] >= 5


def test_substrate_matches_duckdb_fuzz(spark):
    """The INTEGER substrate row-set vs a direct DuckDB rendering of the
    fold's rep_sub CTE, over a hand-built edge-case corpus and seeded
    ugly corpora."""
    from tests.test_dedup_fuzz import _corpus

    sql = f"""WITH {llm_sql.REP_CTES}
    SELECT doc_id, n, top_cnt, top_chars, dup_chars, total_chars FROM rep_sub"""
    hand = [
        (1, "a b a b a b a b a b a b"),  # dominant bigram
        (2, "one two three"),            # rows only for n=2,3
        (3, "x"),                        # no rows (no n fits)
        (4, "zz aa zz aa zz bb zz aa"),  # count tie -> largest gram wins
        (5, " ".join(f"w{i}" for i in range(40))),  # all-distinct runs
    ]
    rnd = random.Random(0x5EEDC)
    for rows in [hand] + [_corpus(rnd, 70) for _ in range(3)]:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r.doc_id, r.n, r.top_cnt, r.top_chars, r.dup_chars, r.total_chars)
            for r in R.repetition_ngram_substrate(docs).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = sorted(con.sql(sql).fetchall())
        con.close()
        assert got == want


def test_tfidf_repetition_fold_differential_fuzz(spark):
    """The EXACT graded composition (registry.tfidf_with_repetition_parity)
    vs the VERBATIM grading SQL (llm_sql.TFIDF_SQL) over ugly corpora."""
    from recon_spark import registry, staging
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x5EEDD)
    for _trial in range(2):
        # lang column: the r13 fertility fold rides this row, so the
        # fuzz frame carries the graded table's shape (incl. NULL langs)
        rows = [
            (i, rnd.choice(["en", "de", "zh", None]), t)
            for i, t in _corpus(rnd, 70)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = sorted(
            (r.doc_id, r.term, r.rank, r.tfidf_micros,
             r.n_rep_rows, r.rep_ck, r.n_fert_rows, r.fert_ck,
             r.n_tfert_rows, r.tfert_ck,
             r.n_bm25_rows, r.bm25_ck, r.n_kn_rows, r.kn_ck,
             r.n_ent_rows, r.ent_ck)
            for r in registry.tfidf_with_repetition_parity(docs).collect()
        )
        staging.release_staged()
        spark.catalog.clearCache()
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        want = sorted(con.sql(llm_sql.TFIDF_SQL).fetchall())
        con.close()
        assert got == want


def test_flags_reanchor_includes_short_docs(spark):
    """Docs shorter than min(n) tokens produce no substrate rows and are
    absent from the bare flags output; docs= re-anchors them with the
    pass-by-default verdict (ADVICE r9)."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, " ".join(["x y z w"] * 20))],
        "doc_id long, text string",
    )
    sub = R.repetition_ngram_substrate(docs)
    bare = {r.doc_id for r in R.gopher_repetition_flags(sub).collect()}
    assert 1 not in bare  # the silent-drop footgun, pinned
    full = {
        r.doc_id: r
        for r in R.gopher_repetition_flags(sub, docs=docs).collect()
    }
    assert set(full) == {1, 2, 3}
    assert full[1].repetition_ok is True and full[1].n_breaches == 0
    assert full[2].repetition_ok is True
    assert full[3].repetition_ok is False  # pure repetition breaches
