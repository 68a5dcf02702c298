"""Registry queries that hold no driver grading slot but must stay
value-correct: dedup_simhash_pairs lost its slot in round 6 (the near-dup
family is graded three other ways), so this test replays the driver's
compare — Spark query vs DuckDB oracle SQL on the same parquet — locally.
"""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def test_simhash_pairs_matches_oracle(spark, duck):
    from recon_spark.oracles import llm_sql
    from recon_spark.registry import q_simhash_pairs

    got = sorted(map(tuple, q_simhash_pairs(spark, SF).collect()))
    want = sorted(map(tuple, duck.execute(llm_sql.SIMHASH_PAIRS_SQL).fetchall()))
    assert got == want
    assert len(got) > 0  # planted near-dups must surface


def test_topk_bruteforce_matches_oracle(spark, duck):
    """Score column compared at micro precision: the DuckDB fold mirrors
    Spark's left-to-right accumulation order, but the driver-grade-exact
    check lives in similarity_recall; this guard only needs to catch
    real ranking/score drift."""
    from recon_spark.oracles import llm_sql
    from recon_spark.registry import q_topk_brute

    got = sorted(
        (r.query_id, r.neighbor_id, r["rank"], round(r.score * 1e6))
        for r in q_topk_brute(spark, SF).collect()
    )
    want = sorted(
        (q, n, rk, round(s * 1e6))
        for q, n, rk, s in duck.execute(llm_sql.TOPK_BRUTE_SQL).fetchall()
    )
    assert got == want
    assert len(got) > 0


def test_graded_queries_pin_union_partitioning_off(spark):
    """The grading driver supplies its OWN session (with Spark 4.1
    defaults), so every registered query must pin the wrong-results conf
    off itself — see tools/union_partitioning_repro.py."""
    from recon_spark.registry import QUERIES

    spark.conf.set("spark.sql.unionOutputPartitioning", "true")
    try:
        df = QUERIES["clean_roth_basis"](spark, SF)
        assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.unionOutputPartitioning", "false")


def test_long_session_staged_persist_growth_bounded(spark):
    """Cache contract (recon_spark.staging): builders that persist a
    frame their returned plan still reads (text_stats token pass, the
    shared shingle index, the MinHash signature/shingle frames) stage
    it, and the next query build releases it — so N queries back-to-back
    hold at most one query's staged frames, not N caches."""
    from recon_spark import registry, staging

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    # baseline can be non-zero in a long shared session: localCheckpoint
    # RDDs from earlier tests survive clearCache (they live outside the
    # SQL cache) until the ContextCleaner GCs them — measure GROWTH over
    # the baseline, not absolute counts
    base = jsc.getPersistentRDDs().size()
    persisting = [
        "text_stats",
        "dedup_ngram_jaccard",
        "dedup_exact_documents",
        "dedup_minhash_lsh",
    ]
    high_water = 0
    for _ in range(2):  # two laps = a long session in miniature
        for name in persisting:
            assert registry.QUERIES[name](spark, SF).count() > 0
            high_water = max(high_water, jsc.getPersistentRDDs().size())
    # at most the CURRENT query's staged frames are ever live; a leak
    # would accumulate 2 laps x 4 queries of token/shingle caches.
    # Bound = 4 since round 10: dedup_exact's Bloom-gate replay holds
    # its replay corpus + one micro-batch's fps + verdicts persists
    # concurrently mid-drain (all released before the builder returns —
    # the assertion below is the leak check proper).
    assert high_water - base <= 4
    # one tier: the ledger alone frees everything the queries persisted,
    # so a following clearCache finds nothing left to drop
    assert staging.release_staged() >= 1
    after_release = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    assert after_release == jsc.getPersistentRDDs().size()


def test_engine_outputs_lazy_and_materialized_give_same_rows(spark, monkeypatch):
    """Engines A and C are written once per session by their engine step;
    the reads over the written outputs must equal the same builders over
    the lazy lineage, and an engine step's first call (the write) must
    return the same rows as its second (the lineage)."""
    from recon_spark import registry as R
    from recon_spark import staging
    from recon_spark.plans import analytics

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    monkeypatch.setattr(staging, "_STORE", {})
    clean = {f for t in R.clean_tables(spark, SF).values() for f in t.inputFiles()}

    def written(df):
        # a read-back scans the engine's output files, the lineage the clean tables
        return not clean & set(df.inputFiles())
    for name in ("engine_a_match_planid", "engine_c_roth_taxable"):
        fn = R._REGISTERED[name][0]
        first = fn(spark, SF)
        second = fn(spark, SF)
        assert written(first) and not written(second), name
        assert rows(first) == rows(second), name

    assert rows(R.q_action_mix_c(spark, SF)) == rows(
        analytics.build_action_mix(R._lazy_engine_output(spark, SF, "engine_c"))
    )
    assert rows(R.q_unmatched_a(spark, SF)) == rows(
        analytics.build_unmatched_summary(
            R._lazy_engine_output(spark, SF, "engine_a"), micros=True
        )
    )


def test_read_back_schemas_equal_inference(spark, monkeypatch, tmp_path):
    """The raw exports and the engine outputs are read back with the
    schema of the frame that wrote them, which skips Spark's schema-
    inference job. Each schema passed in must equal what inference gives
    on the written files, nullability included."""
    from recon_spark import registry as R
    from recon_spark import staging
    from recon_spark.sources import fixtures

    monkeypatch.setattr(staging, "_STORE", {})
    tracker = spark.sparkContext.statusTracker()
    builders = {
        "relius": fixtures.relius_raw,
        "matrix": fixtures.matrix_raw,
        "demo": fixtures.relius_demo_raw,
        "basis": fixtures.roth_basis_raw,
    }
    schemas = {name: fixtures.parquet_schema(b(spark, SF).schema) for name, b in builders.items()}
    fixtures.materialize_raw(spark, SF, str(tmp_path))
    for name, schema in schemas.items():
        path = str(tmp_path / f"{name}_raw.parquet")
        assert schema == spark.read.parquet(path).schema, name
        jobs = len(tracker.getJobIdsForGroup(None))
        served = builders[name](spark, SF)
        assert served.schema == schema, name
        assert len(tracker.getJobIdsForGroup(None)) == jobs, name
        assert served.inputFiles() and all(path in f for f in served.inputFiles()), name

    for eng in ("engine_a", "engine_c"):
        lazy = R._lazy_engine_output(spark, SF, eng)
        path = str(tmp_path / eng)
        lazy.write.parquet(path)
        assert fixtures.parquet_schema(lazy.schema) == spark.read.parquet(path).schema, eng
