"""Sequential-Poisson πps weighted sampling (operators/sampling.pps_sample,
Ohlsson 1998) and the generic distributed bottom-k it rides on
(operators/ranking.bottomk_rows): value parity with the global-window
spelling, plan hygiene, DuckDB key-arithmetic bit-parity, and the
statistical weight-proportionality the design exists for."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from recon_spark import staging
from recon_spark.operators import ranking, sampling
from recon_spark.oracles import llm_sql


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- bottomk_rows ---------------------------------------------------------------


@pytest.mark.parametrize("n,k", [(1, 5), (7, 3), (100, 10), (500, 500), (50, 200)])
def test_bottomk_matches_global_window(spark, n, k):
    """Exact (row set AND rank) parity with row_number() OVER (ORDER BY
    key, id) <= k across sizes, including k > n."""
    df = spark.range(n).select(
        "id",
        # heavy-tailed positive keys exercising many log2 buckets
        (1.0 / ((F.col("id") * 2654435761) % 9973 + 1)).alias("key"),
    )
    w = Window.orderBy(F.col("key").asc(), F.col("id").asc())
    expected = {
        (r.id, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    }
    got = {(r.id, r.rank) for r in ranking.bottomk_rows(df, "key", "id", k).collect()}
    staging.release_staged()
    assert got == expected


def test_bottomk_all_ties_serialize_one_bucket_only(spark):
    """A pathological all-equal key still returns the exact bottom-k (by
    id tiebreak) — it serializes its one bucket, not the corpus."""
    df = spark.range(200).select("id", F.lit(0.125).alias("key"))
    got = sorted(r.id for r in ranking.bottomk_rows(df, "key", "id", 7).collect())
    staging.release_staged()
    assert got == list(range(7))


def test_bottomk_no_global_row_window(spark):
    """The per-row rank window must be partitioned by the log2 bucket —
    the only unpartitioned window runs over the bucket-COUNT frame."""
    df = spark.range(1000).select(
        "id", (F.col("id").cast("double") + 1.0).alias("key")
    )
    plan = _plan(ranking.bottomk_rows(df, "key", "id", 10))
    staging.release_staged()
    assert "hashpartitioning(__bk" in plan


def test_bottomk_releases_staged(spark):
    df = spark.range(10).select("id", (F.col("id") + 1.0).alias("key"))
    staging.release_staged()
    ranking.bottomk_rows(df, "key", "id", 3).collect()
    assert staging.release_staged() >= 1
    assert staging.release_staged() == 0


# --- pps_sample -----------------------------------------------------------------


def _docs(spark, n=400):
    """Synthetic docs with weights 1..8 (weight = token count)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("tok"), ((F.col("id") % 8) + 1).cast("int"))
        ).alias("text"),
    )


def test_pps_release_staged_contract(spark):
    """pps_sample persists its weighted base internally; the staging
    ledger must drain it (and a second call must be a no-op)."""
    df = spark.range(10).select(F.col("id").alias("doc_id"), F.lit(2.0).alias("w"))
    staging.release_staged()
    sampling.pps_sample(df, "w", 3).collect()
    # the weighted base plus the bottom-k stage's derived frame
    assert staging.release_staged() >= 2
    assert staging.release_staged() == 0


def test_pps_sample_matches_global_window_spelling(spark):
    """Selection set + rank identical to the naive single-window top-k
    over the same key."""
    docs = _docs(spark)
    w = F.size(F.split(F.col("text"), " ")).cast("double")
    naive = (
        docs.select(
            F.col("doc_id").alias("id"),
            w.alias("weight"),
            (
                (sampling.hash_bucket("doc_id", "pps:v1").cast("double") + F.lit(0.5))
                / F.lit(float(1 << 32))
                / w
            ).alias("key"),
        )
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("key").asc(), F.col("id").asc())),
        )
        .filter(F.col("rank") <= 50)
    )
    expected = {(r.id, r.rank) for r in naive.collect()}
    got = {
        (r.id, r.rank)
        for r in sampling.pps_sample(
            docs.select("doc_id", F.size(F.split("text", " ")).alias("w")), "w", 50
        ).collect()
    }
    staging.release_staged()
    assert got == expected


def test_pps_sample_excludes_nonpositive_and_null_weights(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 3.0)],
        "doc_id long, w double",
    )
    got = sorted(r.id for r in sampling.pps_sample(df, "w", 10).collect())
    staging.release_staged()
    assert got == [1, 5]


def test_pps_sample_k_exceeds_n_returns_all(spark):
    df = spark.range(5).select(F.col("id").alias("doc_id"), F.lit(2.0).alias("w"))
    rows = sampling.pps_sample(df, "w", 100).collect()
    staging.release_staged()
    assert len(rows) == 5
    # equal weights, k>n: every inclusion probability clamps to 1
    assert all(r.p_micros == 1_000_000 for r in rows)


def test_pps_inclusion_proportional_to_weight(spark):
    """The design property: across many independent salts, inclusion
    frequency grows ~linearly with weight. Loose band — this is a
    sanity check of proportionality, not an estimator benchmark."""
    docs = _docs(spark, 200).select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("w")
    ).cache()
    k, n_trials = 40, 30
    counts: dict[int, int] = {}
    for t in range(n_trials):
        for r in sampling.pps_sample(docs, "w", k, salt=f"pps:t{t}").collect():
            counts[r.id] = counts.get(r.id, 0) + 1
    staging.release_staged()
    docs.unpersist()
    # group doc inclusion frequency by weight (weights 1..8, 25 docs each)
    by_w = {wt: 0.0 for wt in range(1, 9)}
    for doc_id, c in counts.items():
        by_w[doc_id % 8 + 1] += c
    per_doc = {wt: by_w[wt] / 25 / n_trials for wt in by_w}
    # expected inclusion ≈ k*w/Σw = 40*w/900; check monotone + rough ratio
    assert per_doc[8] > per_doc[1] * 3
    assert all(per_doc[w + 1] >= per_doc[w] * 0.7 for w in range(1, 8))


def test_pps_key_bit_parity_with_duckdb(spark):
    """The whole reason for the u/w key: the md5 uniform, the two IEEE
    divisions and the least/round micros pipeline must agree with DuckDB
    BIT-FOR-BIT, so the graded fold's checksum covers the actual selected
    set. Compared at full double precision (no tolerance)."""
    docs = _docs(spark, 300)
    spark_rows = {
        (r.id, r.weight, r.rank, r.p_micros)
        for r in sampling.pps_sample(
            docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("w")),
            "w",
            llm_sql.PPS_K,
        ).collect()
    }
    staging.release_staged()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    sql = f"WITH {llm_sql.pps_parity_ctes()} SELECT id, w, rank, p_micros FROM pps_rows"
    duck_rows = {
        (r[0], float(r[1]), r[2], r[3]) for r in con.execute(sql).fetchall()
    }
    con.close()
    assert spark_rows == duck_rows
