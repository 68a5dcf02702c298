"""Round-14 alternating A/B micro-bench: times named variant pairs with
the noop sink, alternating A,B,A,B per lap so ambient drift hits both
arms equally. Prints per-lap walls and the per-arm MIN.

Usage: python tools/r14_ab.py <case> [laps]   (case: gopher|profile|semdedup)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    case = sys.argv[1]
    laps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from recon_spark import staging
    from recon_spark.session import get_spark

    spark = get_spark("r14_ab")

    def release_all():
        spark.catalog.clearCache()
        staging.release_staged()

    if case == "gopher":
        from recon_spark.operators import repetition
        from recon_spark.sources.tpch import load

        def docs():
            return load(spark, sf_dir, "documents").repartition(
                spark.sparkContext.defaultParallelism
            )

        variants = {
            "exploded": lambda: repetition.gopher_repetition_flags(
                repetition.repetition_ngram_substrate(docs())
            ),
            "row_local": lambda: repetition.gopher_repetition_flags(
                repetition.repetition_ngram_substrate_local(docs())
            ),
        }
    elif case == "profile":
        # Shipped form = profile.profile_table (one-shot min_by argmax,
        # SortAggregate); experimental arm = the two-phase HashAggregate
        # + persisted value-count + broadcast tie-resolve form. Measured
        # r14: no consistent win (mins 5.17 vs 4.88 then 4.43 vs 5.42 —
        # noise-dominated), and the persist of the melted distinct frame
        # is memory pressure at scale, so the one-shot form shipped.
        from pyspark import StorageLevel

        from recon_spark.operators import profile
        from recon_spark.sources.tpch import load

        def _profile_two_phase(df, cols):
            cols = list(cols)
            aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
            for c in cols:
                aggs += [
                    F.count(F.col(c)).cast("long").alias(f"__nn_{c}"),
                    F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
                    F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
                ]
            meta = (
                df.agg(*aggs)
                .select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(c).alias("column"),
                                    F.col("__n").alias("n_rows"),
                                    (F.col("__n") - F.col(f"__nn_{c}")).alias("n_null"),
                                    F.col(f"__mn_{c}").alias("min_value"),
                                    F.col(f"__mx_{c}").alias("max_value"),
                                )
                                for c in cols
                            ]
                        )
                    ).alias("m")
                )
                .select("m.*")
            )
            pairs = (
                df.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(c).alias("column"),
                                    F.col(c).cast("string").alias("v"),
                                )
                                for c in cols
                            ]
                        )
                    ).alias("p")
                )
                .select("p.*")
                .filter(F.col("v").isNotNull())
            )
            vc = (
                pairs.groupBy("column", "v")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            head = vc.groupBy("column").agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.max("cnt").cast("long").alias("top_value_n"),
            )
            top = (
                vc.join(F.broadcast(head.select("column", "top_value_n")), "column")
                .filter(F.col("cnt") == F.col("top_value_n"))
                .groupBy("column")
                .agg(F.min("v").alias("top_value"))
            )
            stats = head.join(top, "column", "left")
            return meta.join(F.broadcast(stats), "column", "left").select(
                "column",
                "n_rows",
                "n_null",
                F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
                "min_value",
                "max_value",
                "top_value",
                F.coalesce("top_value_n", F.lit(0)).cast("long").alias("top_value_n"),
            )

        def li():
            return load(spark, sf_dir, "lineitem")

        variants = {
            "sortagg_minby": lambda: profile.profile_table(li(), li().columns),
            "two_phase_hash": lambda: _profile_two_phase(li(), li().columns),
        }
    elif case == "dsir":
        # Shipped form = dsir.dsir_select over the r14 shuffle-free
        # scoring projection (driver-collected bounded model + per-doc
        # left fold); experimental arm = the former exploded
        # (doc,bucket)-groupBy + broadcast-model-join + id-spine
        # left-join weights feeding the same two-phase rank.
        from recon_spark.operators import dsir, sampling
        from recon_spark.sources.tpch import load

        def _old_weights(raw, n_buckets, alpha, target_pred):
            raw_feats = dsir.dsir_features(raw, n_buckets).persist()
            t_counts = dsir.dsir_bucket_counts(raw_feats.filter(target_pred))
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
            base = raw.select("doc_id")
            return base.join(scored, "doc_id", "left").select(
                "doc_id",
                F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
                F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
            )

        def _setup():
            base = load(spark, sf_dir, "documents")
            docs = base.repartition(spark.sparkContext.defaultParallelism)
            k = max(base.count() // 10, 1)
            pred = sampling.hash_bucket(F.col("doc_id")) < sampling.TRAIN_EDGE
            return docs, k, pred

        def new_form():
            docs, k, pred = _setup()
            return dsir.dsir_select(docs, None, k=k, target_pred=pred)

        def old_form():
            # old weights + the SAME two-phase rank (dsir_select's
            # weights= hook), so the A/B isolates the scoring strategy
            docs, k, pred = _setup()
            w = _old_weights(docs, dsir.DSIR_BUCKETS, dsir.DSIR_ALPHA, pred)
            return dsir.dsir_select(docs, None, k=k, weights=w)

        variants = {"old_weights_winrank": old_form, "new_rowlocal": new_form}

    elif case == "semdedup":
        from recon_spark.operators import semdedup
        from recon_spark.registry import emb_aug

        def build(persist):
            aug = emb_aug(spark, sf_dir)
            k = max(semdedup.SEMDEDUP_K, aug.count() // 500)
            if persist:
                ranked = semdedup.assign_with_rank(aug, k=k).persist()
                return semdedup.semdedup_verdicts(aug, k=k, ranked=ranked)
            return semdedup.semdedup_verdicts(aug, k=k)

        variants = {
            "no_persist": lambda: build(False),
            "persist_ranked": lambda: build(True),
        }
    else:
        raise SystemExit(f"unknown case {case}")

    results: dict[str, list[float]] = {}
    for lap in range(laps):
        for name, fn in variants.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            results.setdefault(name, []).append(dt)
            release_all()
            print(f"lap{lap} {name:18s} {dt:6.2f}s", flush=True)
    print("\n== min over laps ==")
    for name, ts in results.items():
        print(f"{name:18s} min {min(ts):6.2f}s  all {[round(t,2) for t in ts]}")


if __name__ == "__main__":
    main()
