"""Streaming Misra-Gries heavy-hitter rollup (streaming/heavy_hitters.py):
the store round-trip vs the in-plan replay twin, batch-id replay
idempotence, a REAL availableNow drain, the mergeability band, the
empty-batch sentinel, and the replay staying one lazy plan. The merged
verdict itself is driver-graded as the parity fold on
analytics_user_reach."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from recon_spark.operators import sketches as SK
from recon_spark.streaming import heavy_hitters as HH


def _events(spark, n=3000):
    """Zipf-ish item stream: item j with multiplicity ~ n/j."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % ((F.col("id") % 97) + 1)).alias("user_id"),
    )


def test_store_roundtrip_equals_inplan_replay(spark, tmp_path):
    """Writing per-batch fragments through the foreachBatch writer and
    reading them back must produce EXACTLY the in-plan replay's verdict
    (the graded fold's twin)."""
    ev = _events(spark)
    store = os.path.join(str(tmp_path), "mg_store")
    writer = HH.heavy_hitters_writer(store, "user_id", k=16)
    for b in range(3):
        writer(ev.filter(F.col("event_id") % 3 == b), b)
    via_store = {
        (r.item, r.est, r.n_total, r.err_bound)
        for r in HH.read_heavy_hitters(spark, store, k=16).collect()
    }
    via_replay = {
        (r.item, r.est, r.n_total, r.err_bound)
        for r in HH.replay_heavy_hitters(ev, "user_id", 3, k=16).collect()
    }
    assert via_store == via_replay and via_store


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running one batch must overwrite its own partition and leave
    the merged verdict byte-identical (fragment N is a pure function of
    batch N)."""
    ev = _events(spark)
    store = os.path.join(str(tmp_path), "mg_store")
    writer = HH.heavy_hitters_writer(store, "user_id", k=16)
    for b in range(3):
        writer(ev.filter(F.col("event_id") % 3 == b), b)
    before = sorted(map(tuple, HH.read_heavy_hitters(spark, store, k=16).collect()))
    writer(ev.filter(F.col("event_id") % 3 == 1), 1)  # replay batch 1
    after = sorted(map(tuple, HH.read_heavy_hitters(spark, store, k=16).collect()))
    assert before == after


def test_real_availablenow_stream_drain(spark, tmp_path):
    """The writer behind a REAL readStream/availableNow drain: one
    micro-batch over a parquet source lands one fragment partition and
    the merged verdict matches the single-batch replay."""
    ev = _events(spark, 500)
    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    ev.write.parquet(src)
    stream = spark.readStream.schema("event_id long, user_id long").parquet(src)
    q = (
        stream.writeStream.foreachBatch(HH.heavy_hitters_writer(store, "user_id", k=16))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.item, r.est) for r in HH.read_heavy_hitters(spark, store, k=16).collect()
    }
    want = {
        (r.item, r.est)
        for r in HH.replay_heavy_hitters(ev, "user_id", 1, k=16).collect()
    }
    assert got == want and got


def test_band_and_guarantee_over_batches(spark):
    """Merged MG band over micro-batches: est <= true <= est + n/(k+1),
    and every item above the band is present — for 1, 3 and 7 batch
    splits of the same data (mergeability)."""
    ev = _events(spark)
    exact = {
        str(r.user_id): r.c
        for r in ev.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    k = 16
    bound = n // (k + 1)
    for n_batches in (1, 3, 7):
        got = {
            r.item: r.est
            for r in HH.replay_heavy_hitters(ev, "user_id", n_batches, k=k).collect()
        }
        assert len(got) <= k
        for item, est in got.items():
            assert est <= exact[item] <= est + bound, (n_batches, item)
        for item, true_c in exact.items():
            if true_c > bound:
                assert item in got, (n_batches, item, true_c, bound)


def test_all_null_batch_writes_zero_sentinel(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "event_id long, user_id string")
    rows = HH.mg_batch_fragment(df, "user_id", k=4).collect()
    assert [(r.item, r.c) for r in rows] == [(None, 0)]


def test_replay_and_cm_parity_build_without_spark_jobs(spark):
    """The analytics_user_reach riders are plan-side: building the MG
    replay and the Count-Min certificate submits no Spark job (no driver
    collect, no staged frame), and each batch's (k+1)-th count runs as a
    WindowGroupLimit, so at most k+1 rows per batch are sorted."""
    ev = _events(spark)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    hh = HH.replay_heavy_hitters(ev, "user_id", 3, k=16)
    SK.cm_parity(ev, "user_id")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    hh.collect()
    assert "WindowGroupLimit" in hh._jdf.queryExecution().executedPlan().toString()
