"""Run manifest (plans/manifest.py): Observation metrics ride the sink
action — values match independently-computed counts, uncollected branches
don't block, and the instrumented run launches no extra counting jobs."""

from pyspark.sql import functions as F

from recon_spark.plans import manifest


def test_stage_metrics_match_recomputation(spark):
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, False), (4, True)], "id long, ok boolean"
    )
    m = manifest.RunManifest("t1")
    out = m.stage(df, "input", n_bad=F.sum((~F.col("ok")).cast("long")))
    out = m.stage(out.filter("ok"), "kept")
    out.write.format("noop").mode("overwrite").save()

    rep = m.report()
    assert rep["run_id"] == "t1"
    assert rep["stages"]["input"] == {"collected": True, "n_rows": 4, "n_bad": 2}
    assert rep["stages"]["kept"] == {"collected": True, "n_rows": 2}


def test_unexecuted_stage_reports_uncollected_without_blocking(spark):
    df = spark.range(5)
    m = manifest.RunManifest("t2")
    executed = m.stage(df, "hot")
    m.stage(df.filter("id > 2"), "cold")  # branch never acted on
    executed.write.format("noop").mode("overwrite").save()

    rep = m.report()
    assert rep["stages"]["hot"]["n_rows"] == 5
    assert rep["stages"]["cold"] == {"collected": False}


def test_duplicate_stage_name_rejected(spark):
    m = manifest.RunManifest("t3")
    m.stage(spark.range(1), "s")
    try:
        m.stage(spark.range(1), "s")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_instrumented_engine_a_manifest(spark):
    sf_dir = "/root/testdata/sf0.001"
    out, m = manifest.instrumented_engine_a(spark, sf_dir)
    out.write.format("noop").mode("overwrite").save()
    rep = m.report()
    stages = rep["stages"]

    assert all(s["collected"] for s in stages.values())
    # the manifest's numbers equal a recomputation of the same frames
    from recon_spark.engines import match_planid
    from recon_spark.operators import cleaning
    from recon_spark.sources import fixtures

    relius = cleaning.clean_relius(fixtures.relius_raw(spark, sf_dir))
    matrix = cleaning.clean_matrix(fixtures.matrix_raw(spark, sf_dir))
    assert stages["relius_clean"]["n_rows"] == relius.count()
    assert stages["matrix_clean"]["n_rows"] == matrix.count()
    matched = match_planid.reconcile_relius_matrix(relius, matrix)
    expect_nc = matched.filter(
        F.col("match_status") == "match_needs_correction"
    ).count()
    assert stages["engine_a"]["n_needs_correction"] == expect_nc
    assert stages["engine_a"]["n_rows"] == matched.count()
    assert (
        stages["corrections"]["n_update_1099"]
        + stages["corrections"]["n_investigate"]
        == stages["corrections"]["n_rows"]
    )


def test_instrumentation_adds_no_jobs(spark):
    """The audited run costs the same as the bare run: job count with a
    fully-instrumented pipeline equals the bare pipeline's."""
    sc = spark.sparkContext
    sf_dir = "/root/testdata/sf0.001"

    from recon_spark.plans import corrections as corr
    from recon_spark.engines import match_planid
    from recon_spark.operators import cleaning
    from recon_spark.sources import fixtures

    def bare():
        relius = cleaning.clean_relius(fixtures.relius_raw(spark, sf_dir))
        matrix = cleaning.clean_matrix(fixtures.matrix_raw(spark, sf_dir))
        return corr.build_correction_df(
            match_planid.reconcile_relius_matrix(relius, matrix), sort=False
        )

    # warm both plans once (fixture parquet listing etc.)
    bare().write.format("noop").mode("overwrite").save()

    # job ids are globally monotonic, so max-id deltas count launched jobs
    # even after the status tracker's retained-jobs eviction kicks in (a
    # long shared session holds only the newest ~1000 ids, so len() deltas
    # can go negative)
    def max_job_id() -> int:
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = max_job_id()
    bare().write.format("noop").mode("overwrite").save()
    bare_jobs = max_job_id() - before

    out, m = manifest.instrumented_engine_a(spark, sf_dir)
    before = max_job_id()
    out.write.format("noop").mode("overwrite").save()
    observed_jobs = max_job_id() - before
    m.report()

    # AQE makes absolute job counts run-dependent; the invariant that
    # matters is that instrumentation launches no ADDITIONAL jobs (a
    # count() per counter would show up here as observed > bare)
    assert observed_jobs <= bare_jobs


def test_key_profile_uniform_vs_hot(spark):
    """key_profile flags a bot-grade key by AQE's 5x-ideal-partition
    convention: the organic events key is not skewed; a corpus where one
    user holds 40% of all rows is."""
    uniform = spark.range(0, 2000).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("ts")
    )
    prof = manifest.key_profile(uniform, "user_id")
    assert prof["rows"] == 2000 and prof["keys"] == 100
    assert prof["top_share"] == 0.01 and not prof["skewed"]

    hot = uniform.union(
        spark.range(0, 1333).select(F.lit(7).alias("user_id"), F.col("id"))
    )
    # at the deployment partition count (32): 1353 hot rows vs an ideal
    # partition of 3333/32 ~ 104 rows -> ratio ~ 13x, clearly bot-grade
    prof = manifest.key_profile(hot, "user_id", partitions=32)
    assert prof["top_key"] == 7 and prof["top_rows"] == 1333 + 20
    assert prof["skewed"] and prof["skew_ratio"] > manifest.SKEW_FACTOR
    assert 12 < prof["skew_ratio"] < 14
    # the threshold is parallelism-relative BY DESIGN: the same corpus
    # on the test session's 4 shuffle partitions is NOT skewed (a 40%
    # key is only ~1.6x a quarter-of-the-data partition)
    assert not manifest.key_profile(hot, "user_id")["skewed"]


def test_manifest_records_key_profiles(spark):
    df = spark.range(100).select((F.col("id") % 10).alias("user_id"))
    m = manifest.RunManifest("kp")
    prof = m.profile_key(df, "user_id", "events_user")
    assert not prof["skewed"]
    rep = m.report()
    assert rep["key_profiles"]["events_user"]["keys"] == 10
    try:
        m.profile_key(df, "user_id", "events_user")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_sessionize_auto_switches_on_measured_skew(spark):
    """The auto form picks the plain plan on the organic corpus and the
    bucketed twin on a forced-hot one — with identical output either
    way (value parity of the twins is pinned in
    test_streaming_sessions; here we pin the SWITCH)."""
    from recon_spark.streaming import sessions

    from recon_spark.sources.tpch import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    out, prof = sessions.sessionize_auto(ev)
    assert not prof["skewed"]

    hot = ev.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, 3).otherwise(F.col("user_id"))
    )
    # profile at the deployment partition count, reused via the
    # profile= fast path (no second probe job)
    prof = manifest.key_profile(hot, "user_id", partitions=32)
    out_hot, prof_hot = sessions.sessionize_auto(hot, profile=prof)
    assert prof_hot["skewed"] and prof_hot["top_key"] == 3
    # the switched plan is the bucketed twin: value-identical to plain
    plain = sessions.sessionize(hot)
    assert out_hot.exceptAll(plain).union(plain.exceptAll(out_hot)).isEmpty()


def test_key_profile_survives_auto_shuffle_partitions(spark):
    """Platforms running AQE-managed partition counts report a
    non-numeric spark.sql.shuffle.partitions (e.g. "auto" on
    Databricks); the probe's partition lookup must fall back to
    defaultParallelism instead of raising ValueError (ADVICE r9). OSS
    Spark refuses to SET a non-numeric value, so the parse path is
    driven through a stub session."""

    class _Conf:
        def get(self, k):
            return "auto"

    class _SC:
        defaultParallelism = 8

    class _Fake:
        conf = _Conf()
        sparkContext = _SC()

    from recon_spark.session import shuffle_partitions

    assert shuffle_partitions(_Fake()) == 8
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
