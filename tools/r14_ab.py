"""Round-14 alternating A/B micro-bench: times named variant pairs with
the noop sink, alternating A,B,A,B per lap so ambient drift hits both
arms equally. Prints per-lap walls and the per-arm MIN.

Usage: python tools/r14_ab.py <case> [laps]   (case: profile|semdedup)
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

    if case == "profile":
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
