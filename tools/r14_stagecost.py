"""Marginal-cost attribution for the corpus_build_full bench entry:
times progressively larger prefixes of the composition with the noop
sink, so each stage's marginal wall cost at the bench SF is visible.

Usage: python tools/r14_stagecost.py [laps]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def pages_frame(spark, sf_dir):
    from recon_spark.sources.tpch import load

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    pid = F.col("doc_id")
    pages = (
        docs.groupBy(F.floor(F.col("doc_id") / 5).alias("doc_id"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("doc_id").alias("k"), F.col("text").alias("t"))
                    )
                ),
                lambda s: F.concat(s["t"], F.lit(".")),
            ).alias("__ls")
        )
    )
    ls = F.col("__ls")
    ls = F.when(pid % 7 == 0, F.concat(F.slice(ls, 1, 1), ls)).otherwise(ls)
    ls = F.when(pid % 11 == 0, F.concat(ls, F.array(F.lit("no punct tail")))).otherwise(ls)
    ls = F.when(
        pid % 13 == 0,
        F.concat(
            F.array(F.lit("café menu offers plenty of seasonal words here.")),
            ls,
        ),
    ).otherwise(ls)
    return pages.select("doc_id", F.array_join(ls, "\n").alias("text")).repartition(
        spark.sparkContext.defaultParallelism
    )


def main() -> None:
    laps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from recon_spark import staging
    from recon_spark.plans import corpus
    from recon_spark.operators import sampling
    from recon_spark.session import get_spark

    spark = get_spark("r14_stagecost")

    def release_all():
        spark.catalog.clearCache()
        staging.release_staged()

    def build(**kw):
        pages = pages_frame(spark, sf_dir)
        ref = sampling.with_split(pages).filter(F.col("split") == "train")
        defaults = dict(
            perplexity_keep=None,
            perplexity_ref=None,
            unicode_form=None,
            c4_lines=False,
            dedup_paras=False,
            boilerplate_spans=None,
            near_dup_method="minhash",
            bpe_merges=None,
        )
        defaults.update(kw)
        if defaults["perplexity_keep"] is not None and defaults["perplexity_ref"] is None:
            defaults["perplexity_ref"] = ref
        return corpus.build_training_corpus(pages, **defaults)

    FULL = dict(
        perplexity_keep=0.95,
        unicode_form="NFC",
        c4_lines=True,
        dedup_paras=True,
        boilerplate_spans=8,
        near_dup_method="auto",
        bpe_merges=200,
    )

    variants = [
        ("pages_only", lambda: pages_frame(spark, sf_dir)),
        ("base_pipeline(minhash)", lambda: build()),
        ("+nfc", lambda: build(unicode_form="NFC")),
        ("+c4+paras", lambda: build(unicode_form="NFC", c4_lines=True, dedup_paras=True)),
        (
            "+spans8",
            lambda: build(
                unicode_form="NFC", c4_lines=True, dedup_paras=True, boilerplate_spans=8
            ),
        ),
        (
            "+auto_neardup",
            lambda: build(
                unicode_form="NFC",
                c4_lines=True,
                dedup_paras=True,
                boilerplate_spans=8,
                near_dup_method="auto",
            ),
        ),
        (
            "+perplexity",
            lambda: build(
                unicode_form="NFC",
                c4_lines=True,
                dedup_paras=True,
                boilerplate_spans=8,
                near_dup_method="auto",
                perplexity_keep=0.95,
            ),
        ),
        ("full(+bpe200)", lambda: build(**FULL)),
    ]

    results: dict[str, list[float]] = {}
    for lap in range(laps):
        for name, fn in variants:
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            results.setdefault(name, []).append(dt)
            release_all()
            print(f"lap{lap} {name:28s} {dt:6.2f}s", flush=True)
    print("\n== min over laps ==")
    prev = None
    for name, _ in variants:
        m = min(results[name])
        marg = "" if prev is None else f"  (marginal {m - prev:+.2f}s)"
        print(f"{name:28s} {m:6.2f}s{marg}")
        prev = m


if __name__ == "__main__":
    main()
