"""Alternating A/B: PPJoin prefix candidate self-join keyed on the
shingle STRING (pre-r14 spelling) vs on xxhash64(shingle) (shipped).
Both arms run the full ngram_jaccard_pairs_prefix output with the noop
sink over the docs_aug corpus at the bench SF. Outputs are identical by
construction (exact verify); this measures the candidate exchange.

Usage: python tools/r14_ab_prefix.py [laps]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    laps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from recon_spark import staging
    from recon_spark.operators import dedup
    from recon_spark.registry import docs_aug
    from recon_spark.session import get_spark

    spark = get_spark("r14_ab_prefix")
    t_num, t_den = dedup.JACCARD_T_NUM, dedup.JACCARD_T_DEN

    def prefix_string_key(sh):
        # the superseded spelling: candidates join on the shingle string
        index = dedup.shingle_index(sh)
        dfreq = index.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        ceil_tn = (F.col("n") * t_num + t_den - 1).cast("long") / t_den
        p_len = (F.col("n") - F.floor(ceil_tn) + 1).cast("int")
        w_doc = Window.partitionBy("id").orderBy(
            F.col("__df").asc(), F.col("shingle").asc()
        )
        prefix = (
            index.join(dfreq, "shingle")
            .withColumn("__pos", F.row_number().over(w_doc))
            .filter(F.col("__pos") <= p_len)
            .select("id", "n", "shingle")
        )
        cand = (
            prefix.select(
                F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle"
            )
            .join(
                prefix.select(
                    F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle"
                ),
                "shingle",
            )
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("na") * t_den >= F.col("nb") * t_num)
                & (F.col("nb") * t_den >= F.col("na") * t_num)
            )
            .select("id_a", "id_b")
            .distinct()
        )
        verified = (
            cand.join(
                sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sh_b")),
                "id_b",
            )
            .withColumn("__i", F.size(F.array_intersect("__sh_a", "__sh_b")))
            .withColumn("__u", F.size("__sh_a") + F.size("__sh_b") - F.col("__i"))
            .filter(F.col("__i") * t_den >= F.col("__u") * t_num)
        )
        return verified.select(
            "id_a",
            "id_b",
            (F.col("__i").cast("double") / F.col("__u")).alias("jaccard"),
        )

    variants = {
        "string": lambda: prefix_string_key(
            dedup.staged_shingles(docs_aug(spark, sf_dir))
        ),
        "hashed": lambda: dedup.ngram_jaccard_pairs_prefix(docs_aug(spark, sf_dir)),
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
