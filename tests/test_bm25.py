"""BM25 retrieval (operators/text.bm25_topk): ranking sanity on hand
corpora, parity with the naive global-window spelling, and a DuckDB
differential fuzz through the same replay CTEs the graded fold uses."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import text as T
from recon_spark.oracles import llm_sql


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_bm25_ranks_denser_matches_higher(spark):
    """Docs with more query-term mass rank above docs with less, at
    equal length; non-matching docs never appear. Every pad token is
    UNIQUE to its doc (df=1) so the derived query really is
    {'data', 'query'} (df=3 each, the most document-frequent terms with
    2*df <= N=10) — an earlier draft let shared pads (df=4) win the
    derivation and the ranking asserts degenerated to the id tiebreak
    (r13 review)."""
    docs = (
        # heavy match: query terms twice each (8 tokens)
        [(1, "data query data query a1 a2 a3 a4")]
        # light match: once each, same length
        + [(2, "data query b1 b2 b3 b4 b5 b6")]
        + [(3, "data c1 c2 c3 c4 c5 c6 c7")]
        + [(4, "query d1 d2 d3 d4 d5 d6 d7")]
        # fillers: all-unique junk, df=1 everywhere
        + [(10 + i, f"fill{i} alpha{i} beta{i} gamma{i} delta{i} x{i} y{i} z{i}") for i in range(6)]
    )
    got = T.bm25_topk(_df(spark, docs), n_query_terms=2, k=10).collect()
    staging.release_staged()
    by_rank = {r.rank: r.doc_id for r in got}
    micros = {r.doc_id: r.bm25_micros for r in got}
    assert set(micros) == {1, 2, 3, 4}  # only matching docs
    assert by_rank[1] == 1  # densest match first, STRICTLY
    assert micros[1] > micros[2]
    # two-term match beats one-term match at equal length, strictly
    assert by_rank[2] == 2 and micros[2] > micros[3]
    # same df, same tf, same length -> equal scores, id tiebreak
    assert micros[3] == micros[4] and by_rank[3] == 3 and by_rank[4] == 4


def test_bm25_matches_global_window_spelling(spark):
    """The distributed bottom-k path returns exactly the same (doc, rank)
    set as ranking the per-doc scores with one global window."""
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 40))))
        for i in range(300)
    ]
    frame = _df(spark, docs)
    got = {
        (r.doc_id, r.rank): r.bm25_micros
        for r in T.bm25_topk(frame, k=10).collect()
    }
    staging.release_staged()
    # naive: same scoring body, global window on (micros desc, id asc)
    # — recompute scores via bm25_topk with k >= n (every scored doc),
    # then re-rank in one window
    allrows = T.bm25_topk(frame, k=10_000).select("doc_id", "bm25_micros")
    w = Window.orderBy(F.col("bm25_micros").desc(), F.col("doc_id").asc())
    naive = {
        (r.doc_id, r.rank): r.bm25_micros
        for r in allrows.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    }
    staging.release_staged()
    assert got == naive


def test_bm25_duckdb_differential_fuzz(spark):
    """Random corpora through the Spark BM25 vs the verbatim DuckDB
    replay (the graded fold's CTEs): full top-k checksum equality —
    query derivation, ln/idf arithmetic, sorted-fold sum, micros
    rounding and rank order all pinned."""
    for seed in (11, 23):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(40)]
        pdf = pd.DataFrame(
            {
                "doc_id": range(400),
                "text": [
                    " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 60)))
                    for _ in range(400)
                ],
            }
        )
        got = T.bm25_parity(spark.createDataFrame(pdf)).collect()[0]
        staging.release_staged()
        con = duckdb.connect()
        con.register("documents", pdf)
        exp = con.execute(
            f"WITH {llm_sql.TF_SUBSTRATE_CTES},\n{llm_sql.bm25_ctes()} "
            "SELECT n_bm25_rows, bm25_ck FROM bm_parity"
        ).fetchone()
        con.close()
        assert (got.n_bm25_rows, got.bm25_ck) == exp, seed
