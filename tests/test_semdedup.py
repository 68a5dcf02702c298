"""SemDeDup (operators/semdedup.py): keep-policy semantics, the
dominance-vs-greedy divergence, zero-vector handling, the KMeans-trained
quantizer path, and a seeded differential fuzz of the round-9 grading
fold (embedding_near_dup's semdedup parity columns) against the VERBATIM
DuckDB oracle SQL — the same discipline as tests/test_dedup_fuzz.py."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from recon_spark import registry, staging
from recon_spark.operators import semdedup as SD
from recon_spark.oracles import llm_sql


def _unit(angle_deg: float) -> list[float]:
    a = math.radians(angle_deg)
    return [math.cos(a), math.sin(a)]


def _one_centroid(spark, angle_deg: float):
    return spark.createDataFrame(
        [(0, _unit(angle_deg))], "cell_id long, centroid array<double>"
    )


def test_chain_divergence_greedy_vs_dominance(spark):
    """a~b, b~c, a!~c (angles 0/20/40, tau between cos20 and cos40):
    greedy keeps {a, c} (c is only tested against KEPT a); dominance
    prunes c too (pruned b still dominates it). This pins the documented
    policy divergence and its direction (dominance ⊇ greedy)."""
    emb = spark.createDataFrame(
        [(1, _unit(0.0)), (2, _unit(20.0)), (3, _unit(40.0))],
        "vec_id long, embedding array<double>",
    )
    # centroid at 90°: centroid_sim ascends a < b < c -> keep-order a,b,c
    cents = _one_centroid(spark, 90.0)
    tau = 0.9  # cos(20°)=0.94 >= tau, cos(40°)=0.766 < tau
    dom = {
        r.vec_id: r.keep
        for r in SD.semdedup_verdicts(emb, tau=tau, centroids=cents).collect()
    }
    greedy = {
        r.vec_id: r.keep
        for r in SD.semdedup_greedy(emb, tau=tau, centroids=cents).collect()
    }
    assert greedy == {1: True, 2: False, 3: True}
    assert dom == {1: True, 2: False, 3: False}


def test_keep_order_prefers_low_centroid_sim_then_id(spark):
    """Within a duplicate pair the LOW-centroid-similarity member wins
    (the paper's keep policy); exact ties resolve to the lower id."""
    emb = spark.createDataFrame(
        [(10, _unit(0.0)), (11, _unit(5.0)), (20, _unit(5.0))],
        "vec_id long, embedding array<double>",
    )
    cents = _one_centroid(spark, 0.0)
    # all three within tau of each other; 11 and 20 tie on centroid_sim
    v = {
        r.vec_id: (r.rnk, r.keep)
        for r in SD.semdedup_verdicts(emb, tau=0.99, centroids=cents).collect()
    }
    # keep-order: sim-to-centroid ASC -> the 5° pair (lower sim... no:
    # centroid at 0° means the 0° vector has sim 1.0, the 5° pair ~0.996)
    # -> rank 1/2 are the 5° twins (id tiebreak: 11 before 20), rank 3 is 10
    assert v[11] == (1, True)
    assert v[20] == (2, False)
    assert v[10] == (3, False)


def test_zero_vector_kept_and_ranked_last(spark):
    """A zero vector has NULL centroid_sim (ranked last, nulls-last) and
    NULL pairwise cosine (never >= tau) -> always kept, never a witness."""
    emb = spark.createDataFrame(
        [(1, _unit(0.0)), (2, _unit(0.0)), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = _one_centroid(spark, 0.0)
    v = {
        r.vec_id: (r.rnk, r.keep)
        for r in SD.semdedup_verdicts(emb, tau=0.95, centroids=cents).collect()
    }
    assert v[1] == (1, True)
    assert v[2] == (2, False)
    assert v[3] == (3, True)


def test_semdedup_keep_filters_corpus(spark):
    emb = spark.createDataFrame(
        [(1, _unit(0.0)), (2, _unit(1.0)), (3, _unit(80.0))],
        "vec_id long, embedding array<double>",
    )
    cents = _one_centroid(spark, 90.0)
    kept = SD.semdedup_keep(emb, tau=0.95, centroids=cents)
    # keep-order 1,2,3 (ascending centroid sim); 2 pruned by 1
    assert sorted(r.vec_id for r in kept.collect()) == [1, 3]
    kept_greedy = SD.semdedup_keep(emb, tau=0.95, centroids=cents, greedy=True)
    assert sorted(r.vec_id for r in kept_greedy.collect()) == [1, 3]


def test_greedy_subset_of_dominance_on_fixture(spark):
    """pruned(greedy) ⊆ pruned(dominance) on the planted-copy corpus,
    and on exact-copy cliques the two policies agree exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    aug = registry.plant_embedding_copies(emb)
    dom = {r.vec_id for r in SD.semdedup_verdicts(aug).filter(~F.col("keep")).collect()}
    gre = {r.vec_id for r in SD.semdedup_greedy(aug).filter(~F.col("keep")).collect()}
    assert gre <= dom
    assert dom == gre  # fixture dups are cliques (exact copies)
    # every planted copy lost exactly one of its pair to the prune
    copies = {r.vec_id for r in aug.filter(F.col("vec_id") >= llm_sql.COPY_ID_OFFSET).collect()}
    for c in copies:
        assert (c in dom) or ((c - llm_sql.COPY_ID_OFFSET) in dom)


def test_kmeans_centroid_path(spark):
    """Trained-quantizer plumbing: KMeans centroids drop into the same
    verdict builder (pytest-only, like ivf_centroids_kmeans)."""
    from recon_spark.operators.similarity import ivf_centroids_kmeans

    emb = registry.plant_embedding_copies(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id", "embedding"
        )
    )
    cents = ivf_centroids_kmeans(emb, k=4, seed=11)
    v = SD.semdedup_verdicts(emb, centroids=cents)
    counts = {r["keep"]: r["count"] for r in v.groupBy("keep").count().collect()}
    # planted copies (cos 1.0) must prune regardless of quantizer
    assert counts.get(False, 0) >= 20
    assert counts[True] + counts.get(False, 0) == emb.count()


def _oracle(rows, sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    out = con.sql(sql).fetchall()
    con.close()
    return out


def test_semdedup_parity_fold_differential_fuzz(spark):
    """Random float32-exact embeddings (values k/128) through the EXACT
    graded composition (registry.emb_near_dup_with_semdedup_parity) and
    the VERBATIM grading SQL (llm_sql.EMB_NEAR_DUP_SQL, planting
    included), compared row-for-row — assignment, keep-order, prune set
    and checksum must all agree."""
    rnd = random.Random(0x5EEDA)
    for _trial in range(3):
        # 64-dim like the fixture: sign_bucket probes dims up to 49
        rows = [
            (i, [rnd.randrange(-128, 129) / 128 for _ in range(64)])
            for i in range(60)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        aug = registry.plant_embedding_copies(emb)
        got = sorted(
            (r.id_a, r.id_b, round(r.score, 9), r.n_semdedup_pruned, r.semdedup_ck)
            for r in registry.emb_near_dup_with_semdedup_parity(aug).collect()
        )
        staging.release_staged()
        spark.catalog.clearCache()
        want = sorted(
            (a, b, round(s, 9), n, ck)
            for a, b, s, n, ck in _oracle(rows, llm_sql.EMB_NEAR_DUP_SQL)
        )
        assert got == want
