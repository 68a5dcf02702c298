"""sf1 scaling point for the worst ×10 growers (VERDICT r6 task #5).

The driver ships testdata only up to sf0.1 (5k documents); this tool
deterministically synthesizes an sf1-equivalent ``documents`` table
(50k rows = the same ×10 step again) with the sf0.1 generator's shape —
same 31-token vocabulary, same 10..100 token-length band, same
lang/source cardinalities — then times the dedup/text family that
showed the steepest sf0.01→sf0.1 growth (ngram_jaccard ×5.6,
quality_bins ×3.4, cluster_resolution ×3.2, minhash ×2.8) at both
sf0.1 and the synthetic sf1, printing per-query JSON lines.

The synthetic table is a MEASUREMENT input only (written under
``.scratch/``, git-ignored); graded correctness always runs on the
driver's own parquet. ``docs_aug``'s planted exact/near duplicates are
doc_id-mod rules, so the duplicate density scales with the corpus
exactly as it does between the driver's own SFs.

Usage::

    python tools/scaling_sf1.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from recon_spark.functions.checksum import hash32  # noqa: E402

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "en", "de", "zh", "fr", "es"]  # ~en-heavy mix

FAMILY = [
    "data_quality_bins",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cluster_resolution",
    # r11: the ExactSubstr fingerprint index (bench EXTRA, not registry)
    "exact_substr_dedup",
]


def synthesize_documents(spark, out_dir: str, n_docs: int) -> str:
    """Deterministic 31-token-vocab docs, 10..100 tokens each (md5 draw
    per (doc_id, position) — no rand(), reproducible across runs)."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    langs = F.array(*[F.lit(lang) for lang in LANGS])
    # uint32 md5 coin
    coin = lambda *cols: hash32(F.concat_ws("#", *cols))  # noqa: E731
    docs = (
        spark.range(0, n_docs, 1, 32)
        .select(F.col("id").alias("doc_id"))
        .withColumn("__n", (coin(F.lit("len"), "doc_id") % 91 + 10).cast("int"))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n")),
                    lambda i: F.element_at(
                        vocab,
                        (coin(F.lit("tok"), F.col("doc_id"), i) % len(VOCAB) + 1).cast(
                            "int"
                        ),
                    ),
                ),
                " ",
            ),
        )
        .withColumn(
            "lang",
            F.element_at(langs, (coin(F.lit("lang"), "doc_id") % len(LANGS) + 1).cast("int")),
        )
        .withColumn(
            "source",
            F.concat(F.lit("src"), (coin(F.lit("src"), "doc_id") % 20).cast("string")),
        )
        .withColumn("n_chars", F.length("text"))
        .drop("__n")
    )
    path = os.path.join(out_dir, "documents.parquet")
    docs.write.mode("overwrite").parquet(path)
    return out_dir


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    # optional: restrict to named queries (e.g. a fresh operator's point)
    only = set(sys.argv[2:])
    from bench import EXTRA_QUERIES
    from recon_spark.registry import QUERIES
    from recon_spark.session import get_spark

    spark = get_spark("scaling-sf1")
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    t0 = time.time()
    synthesize_documents(spark, scratch, n_docs)
    print(json.dumps({"case": "synthesize", "n_docs": n_docs, "sec": round(time.time() - t0, 3)}))

    for sf_dir, label in (("/root/testdata/sf0.1", "sf0.1"), (scratch, "sf1_synth")):
        for name in FAMILY:
            if only and name not in only:
                continue
            fn = QUERIES.get(name) or EXTRA_QUERIES[name]
            best, cold = None, None
            for lap in range(2):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                lap_s = time.time() - t0
                cold = lap_s if lap == 0 else cold
                best = lap_s if best is None else min(best, lap_s)
                spark.catalog.clearCache()
            print(
                json.dumps(
                    {
                        "case": label,
                        "query": name,
                        "cold_sec": round(cold, 3),
                        "best_sec": round(best, 3),
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
