"""DSIR importance resampling (operators/dsir.py): integer-substrate
differential fuzz vs the verbatim DuckDB replay, float log-weights vs
an independent numpy recomputation, and the planted selection property
the operator exists for (target-like raw docs outrank the rest)."""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from recon_spark import staging
from recon_spark.operators import dsir
from recon_spark.oracles import llm_sql


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _oracle(rows, sql):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = con.sql(sql).fetchall()
    con.close()
    return out


def test_features_differential_fuzz(spark):
    """Random ugly corpora through dsir_features vs the VERBATIM
    dsir_features_sql — tokenization, bigram stream, md5 bucket
    assignment and per-doc counts must all agree."""
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x5EEDE1)
    for _trial in range(3):
        rows = _corpus(rnd, 70)
        docs = _df(spark, rows)
        got = sorted(
            (r.doc_id, r.bucket, r.cnt)
            for r in dsir.dsir_features(docs).collect()
        )
        spark.catalog.clearCache()
        want = sorted(_oracle(rows, llm_sql.dsir_features_sql()))
        assert got == want


def test_log_weights_match_numpy_recompute(spark):
    """The float layer, independently recomputed: Laplace-smoothed bag
    models over the SAME hashed features -> per-doc log ratio."""
    rnd = random.Random(3)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    raw_rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 12))))
        for i in range(40)
    ]
    tgt_rows = [(100 + i, "alpha beta alpha") for i in range(5)]
    raw, tgt = _df(spark, raw_rows), _df(spark, tgt_rows)
    got = {r.doc_id: r.log_weight for r in dsir.dsir_log_weights(raw, tgt).collect()}

    B, a = dsir.DSIR_BUCKETS, dsir.DSIR_ALPHA
    rf = {(r.doc_id, r.bucket): r.cnt for r in dsir.dsir_features(raw).collect()}
    tf = {}
    for r in dsir.dsir_features(tgt).collect():
        tf[r.bucket] = tf.get(r.bucket, 0) + r.cnt
    rc = {}
    for (_d, b), c in rf.items():
        rc[b] = rc.get(b, 0) + c
    T, R = sum(tf.values()), sum(rc.values())
    want = {d: 0.0 for d, _t in raw_rows}
    for (d, b), c in rf.items():
        lr = math.log((tf.get(b, 0) + a) / (T + a * B)) - math.log(
            (rc.get(b, 0) + a) / (R + a * B)
        )
        want[d] = want.get(d, 0.0) + c * lr
    for d, w in want.items():
        assert got[d] == pytest.approx(w, abs=1e-9)


def test_log_weights_match_exploded_join_spelling(spark):
    """r14 rewrite guard: the shuffle-free scoring projection (driver
    model array + per-doc left fold) must reproduce the former
    exploded-(doc,bucket)-groupBy + broadcast-model-join + id-spine
    left-join spelling — same doc set, same n_feats exactly, same
    log_weight to 1e-9 (the two spellings sum the same float terms in
    different orders)."""
    from pyspark.sql import functions as F

    from tests.test_dedup_fuzz import _corpus

    def old_spelling(raw, tgt, n_buckets, alpha, id_col="doc_id"):
        raw_feats = dsir.dsir_features(raw, n_buckets)
        t_counts = dsir.dsir_bucket_counts(dsir.dsir_features(tgt, n_buckets))
        r_counts = dsir.dsir_bucket_counts(raw_feats)
        t_total = t_counts.agg(F.sum("cnt").alias("__tt"))
        r_total = r_counts.agg(F.sum("cnt").alias("__rt"))
        model = (
            r_counts.withColumnRenamed("cnt", "r_cnt")
            .join(t_counts.withColumnRenamed("cnt", "t_cnt"), "bucket", "full")
            .crossJoin(F.broadcast(t_total))
            .crossJoin(F.broadcast(r_total))
            .select(
                "bucket",
                (
                    F.log(
                        (F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(alpha))
                        / (F.col("__tt") + F.lit(alpha * n_buckets))
                    )
                    - F.log(
                        (F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(alpha))
                        / (F.col("__rt") + F.lit(alpha * n_buckets))
                    )
                ).alias("log_ratio"),
            )
        )
        scored = (
            raw_feats.join(F.broadcast(model), "bucket")
            .groupBy("doc_id")
            .agg(
                F.sum("cnt").cast("long").alias("n_feats"),
                F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"),
            )
        )
        base = raw.select(F.col(id_col).alias("doc_id"))
        return base.join(scored, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )

    rnd = random.Random(0x14E1)
    for _trial in range(2):
        rows = _corpus(rnd, 60)
        raw = _df(spark, rows)
        tgt = _df(spark, _corpus(rnd, 10))
        got = {
            r.doc_id: (r.n_feats, r.log_weight)
            for r in dsir.dsir_log_weights(raw, tgt).collect()
        }
        want = {
            r.doc_id: (r.n_feats, r.log_weight)
            for r in old_spelling(
                raw, tgt, dsir.DSIR_BUCKETS, dsir.DSIR_ALPHA
            ).collect()
        }
        assert set(got) == set(want)
        for d, (nf, lw) in want.items():
            assert got[d][0] == nf
            assert got[d][1] == pytest.approx(lw, abs=1e-9)
    spark.catalog.clearCache()


def test_select_prefers_target_like_docs(spark):
    """The operator's reason to exist: raw docs drawn from the target
    distribution outrank off-distribution docs."""
    on = [(i, "alpha beta alpha beta gamma") for i in range(10)]
    off = [(100 + i, "zeta eta theta iota kappa") for i in range(10)]
    raw = _df(spark, on + off)
    tgt = _df(spark, [(900 + i, "alpha beta gamma alpha beta") for i in range(4)])
    top = dsir.dsir_select(raw, tgt, k=10).collect()
    assert {r.doc_id for r in top} == {i for i, _ in on}
    # rank is the deterministic (weight desc, doc_id) order
    assert [r.rank for r in sorted(top, key=lambda r: r.doc_id)] == list(range(1, 11))


def test_select_matches_global_window_spelling(spark):
    """The distributed two-phase rank must be value-identical to the
    obvious single-window spelling — including on TIED weights (duplicate
    texts give identical log_weights, so the doc_id tie-break and the
    bucket coarsening both get exercised) and k past the corpus size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rnd = random.Random(0xD51B)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    texts = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 8)))
        for _ in range(12)
    ]
    # duplicates -> exact weight ties; None/"" anchor at 0.0 — plus a
    # 30-doc FLOOD of empty texts all tied at exactly 0.0, so with
    # id_block=8 the tie group must split across sub-buckets (the
    # massive-tie case the second coarsening level exists for)
    raw_rows = [(i, texts[i % len(texts)]) for i in range(40)]
    raw_rows += [(100, None), (101, ""), (102, "")]
    raw_rows += [(200 + i, "") for i in range(30)]
    raw = _df(spark, raw_rows)
    tgt = _df(spark, [(900, "alpha beta gamma"), (901, "alpha beta")])

    for k in (1, 7, 25, 60, 1000):
        got = sorted(
            (r.doc_id, r.n_feats, r.log_weight, r.rank)
            for r in dsir.dsir_select(raw, tgt, k=k, id_block=8).collect()
        )
        win = Window.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
        want = sorted(
            (r.doc_id, r.n_feats, r.log_weight, r.rank)
            for r in dsir.dsir_log_weights(raw, tgt)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .collect()
        )
        assert got == want
    spark.catalog.clearCache()


def test_select_string_ids_match_global_window(spark):
    """STRING doc_ids (numeric-looking, so a silent cast would produce
    a plausible-but-wrong block order — the r13 review's repro) must
    reproduce the global-window spelling exactly: the block split only
    applies to numeric id types."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ids = [str(i) for i in list(range(5, 13)) + list(range(95, 103))]
    raw = spark.createDataFrame(
        [(i, "") for i in ids], "doc_id string, text string"
    )  # all weights tied at 0.0 -> order is purely doc_id ASC (lexicographic)
    tgt = spark.createDataFrame([("t", "alpha beta")], "doc_id string, text string")
    got = sorted(
        (r.doc_id, r.rank)
        for r in dsir.dsir_select(raw, tgt, k=8, id_block=8).collect()
    )
    win = Window.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
    want = sorted(
        (r.doc_id, r.rank)
        for r in dsir.dsir_log_weights(raw, tgt)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 8)
        .collect()
    )
    assert got == want
    assert [d for d, _ in got] == sorted(ids)[:8]  # lexicographic order
    spark.catalog.clearCache()


def test_target_pred_matches_subset_frame(spark):
    """r14 optimization parity: when the target is an id-selected subset
    of the raw corpus, the target_pred form (target model rolled up from
    the persisted raw feature table — no second tokenize/explode) must be
    row-identical to passing the subset as a target_docs frame."""
    from pyspark.sql import functions as F

    from recon_spark.operators import sampling
    from tests.test_dedup_fuzz import _corpus

    rnd = random.Random(0x14D51B)
    raw = _df(spark, _corpus(rnd, 80)).repartition(5)
    pred = sampling.hash_bucket(F.col("doc_id")) < sampling.TRAIN_EDGE
    tgt = sampling.with_split(raw).filter(F.col("split") == "train").select(
        "doc_id", "text"
    )
    for k in (1, 9, 40):
        want = sorted(
            (r.doc_id, r.n_feats, r.log_weight, r.rank)
            for r in dsir.dsir_select(raw, tgt, k=k).collect()
        )
        got = sorted(
            (r.doc_id, r.n_feats, r.log_weight, r.rank)
            for r in dsir.dsir_select(
                raw, None, k=k, target_pred=pred
            ).collect()
        )
        assert got == want
    with pytest.raises(ValueError):
        dsir.dsir_log_weights(raw, tgt, target_pred=pred)
    with pytest.raises(ValueError):
        dsir.dsir_log_weights(raw, None)
    spark.catalog.clearCache()
    staging.release_staged()


def test_null_empty_docs_anchor_at_zero(spark):
    # doc 4 skews the raw model away from the target so doc 3's ratio
    # is strictly positive (raw == target would be exactly 0)
    raw = _df(spark, [(1, None), (2, ""), (3, "alpha beta"), (4, "zeta eta")])
    tgt = _df(spark, [(9, "alpha beta")])
    got = {r.doc_id: r for r in dsir.dsir_log_weights(raw, tgt).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].n_feats == 0 and got[1].log_weight == 0.0
    assert got[2].n_feats == 0 and got[2].log_weight == 0.0
    assert got[3].log_weight > 0.0  # exactly the target text
    assert got[4].log_weight < 0.0  # off-distribution
