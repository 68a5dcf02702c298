"""Feature-hashing text embedder (operators/embed.py): value parity of
the Arrow-batched path against the independent DuckDB replay
(llm_sql.embedding_micros), unit-norm/determinism invariants, and the
end-to-end text -> embedding -> ANN composition."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F

from recon_spark.operators import embed as E
from recon_spark.operators import similarity as SIM
from recon_spark.oracles import llm_sql


def test_arrow_and_expr_paths_match_bitwise(spark):
    """embed_texts at dim=32, serialized as ';'-joined micros exactly as
    the graded text_stats row does, equals the DuckDB SQL replay of the
    same hashing trick on 120 fixture documents (NULL where a doc has
    no tokens)."""
    rows = [
        (r.doc_id, r.text)
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
        .collect()
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    micros = F.array_join(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x * 1_000_000).cast("long").cast("string"),
        ),
        ";",
    )
    a = {
        r.doc_id: r.m
        for r in E.embed_texts(docs, dim=32).select("doc_id", micros.alias("m")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    b = dict(
        con.sql(
            f"WITH t AS (SELECT doc_id, {llm_sql.tokens('text')} AS toks FROM documents)"
            f" SELECT doc_id, {llm_sql.embedding_micros('toks', 32)} FROM t"
        ).fetchall()
    )
    con.close()
    assert a == b and len(a) == 120
    assert sum(v is not None for v in a.values()) > 100  # mostly non-empty


def test_unit_norm_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "   "), (3, None), (4, "alpha")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.embedding for r in E.embed_texts(docs, dim=16).collect()}
    assert rows[2] is None and rows[3] is None
    for k in (1, 4):
        assert abs(math.sqrt(sum(x * x for x in rows[k])) - 1.0) < 1e-12
    # determinism: same token -> same vector regardless of the document
    single = rows[4]
    assert any(abs(x) == 1.0 for x in single)  # one token -> one hot +-1


def test_text_to_ann_composition(spark):
    """End-to-end: raw text -> hashed embeddings -> exact top-k. A near
    duplicate pair (one differing token in twelve) must rank each other
    at #1; unrelated documents must not."""
    base = (
        "retirement distributions reconcile matrix relius engines "
        "taxable basis rollover audit codes"
    )
    near = base.replace("audit", "review")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, near),
            (3, "completely different words about citrus orchards and irrigation"),
            (4, "spark shuffles partitioned columnar batches across executors"),
        ],
        "doc_id long, text string",
    )
    emb = E.embed_texts(docs, dim=64).filter(F.col("embedding").isNotNull())
    topk = SIM.brute_force_topk(emb, emb, k=1, id_col="doc_id", vec_col="embedding")
    best = {r.query_id: (r.neighbor_id, r.score) for r in topk.collect()}
    assert best[1][0] == 2 and best[2][0] == 1
    assert best[1][1] > 0.85  # 11/12 shared tokens -> high cosine
    assert best[3][1] < 0.5  # unrelated docs stay far
