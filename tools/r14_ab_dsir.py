"""Alternating A/B: dsir_log_weights persisting feature STRING arrays
(round-14 mid-round spelling, md5 twice per feature) vs persisting the
hashed BUCKET int arrays (shipped spelling, md5 once). Both arms drive
the full dsir_select top-k with the noop sink at the bench SF.

Usage: python tools/r14_ab_dsir.py [laps]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    laps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from recon_spark import staging
    from recon_spark.operators import dsir, sampling
    from recon_spark.operators import text as T
    from recon_spark.operators.dedup import _hash32
    from recon_spark.session import get_spark
    from recon_spark.sources.tpch import load

    spark = get_spark("r14_ab_dsir")

    def docs():
        return load(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )

    base = load(spark, sf_dir, "documents")
    k = max(base.count() // 10, 1)
    train_pred = sampling.hash_bucket(F.col("doc_id")) < sampling.TRAIN_EDGE

    def weights_strings(raw_docs):
        # the superseded spelling: persist the feature STRING arrays,
        # hash in both the model explode and the scoring fold
        n_buckets, alpha = dsir.DSIR_BUCKETS, dsir.DSIR_ALPHA
        toks = T.tokens("text")
        feats = F.concat(toks, dsir._bigrams(toks))
        staged = staging.stage(raw_docs.select(F.col("doc_id"), feats.alias("__f")))
        exploded = staged.filter(F.col("__f").isNotNull()).select(
            "doc_id", F.explode("__f").alias("feat")
        )
        bucket = (_hash32(F.col("feat")) % n_buckets).cast("int")
        rows = (
            exploded.groupBy(bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("r_cnt"),
                F.sum(F.when(train_pred, F.lit(1)).otherwise(F.lit(0)))
                .cast("long")
                .alias("t_cnt"),
            )
            .collect()
        )
        r_cnt = {r["bucket"]: r["r_cnt"] for r in rows}
        t_cnt = {r["bucket"]: r["t_cnt"] for r in rows}
        tt = float(sum(t_cnt.values()))
        rt = float(sum(r_cnt.values()))
        log_ratio = [
            math.log((t_cnt.get(b, 0) + alpha) / (tt + alpha * n_buckets))
            - math.log((r_cnt.get(b, 0) + alpha) / (rt + alpha * n_buckets))
            for b in range(n_buckets)
        ]
        ratio_arr = F.lit(log_ratio)
        return staged.select(
            "doc_id",
            F.when(F.col("__f").isNull(), F.lit(0))
            .otherwise(F.size("__f"))
            .cast("long")
            .alias("n_feats"),
            F.coalesce(
                F.aggregate(
                    F.col("__f"),
                    F.lit(0.0),
                    lambda acc, x: acc
                    + F.element_at(
                        ratio_arr, (_hash32(x) % n_buckets).cast("int") + 1
                    ),
                ),
                F.lit(0.0),
            ).alias("log_weight"),
        )

    variants = {
        "strings": lambda: dsir.dsir_select(
            None, None, k=k, weights=weights_strings(docs())
        ),
        "buckets": lambda: dsir.dsir_select(
            docs(), None, k=k, target_pred=train_pred
        ),
    }

    mins: dict[str, float] = {}
    for lap in range(laps):
        for name, fn in variants.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            spark.catalog.clearCache()
            staging.release_staged()
            mins[name] = min(mins.get(name, 1e9), dt)
            print(f"lap{lap} {name:8s} {dt:6.2f}s", flush=True)
    print("== min ==")
    for name, v in mins.items():
        print(f"{name:8s} {v:6.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
