"""BPE training at tokenizer-realistic scale (VERDICT r12 #5).

The graded fixture corpora have a 31-word vocabulary, so the benched
``tokenizer_bpe_e2e`` entry exercises the merge loop at toy settings
(a few hundred distinct pairs, 200 merges). The driver-loop claim in
operators/bpe.py — O(merges × affected-words), bounded-model driver
memory — needs a measurement at the settings a real tokenizer run uses:
a ``max_words``-sized vocabulary histogram and tens of thousands of
merges.

This tool deterministically synthesizes an sf1-sized corpus (50k docs,
10..100 words each) over a LARGE Zipf-shaped vocabulary (md5 coin per
(doc, position) mapped through a square-law skew into ~50k distinct
letter-words of 2..12 chars — real corpora are head-heavy, and the
skew exercises the frequency-ordered merge dynamics), then times:

1. the DISTRIBUTED substrate: word_histogram + the top-``max_words``
   collect (the only corpus-touching stages — one explode+groupBy);
2. the DRIVER merge loop at ``n_merges=30000`` over the collected
   histogram, with peak-RSS deltas (ru_maxrss) around the loop.

Prints one JSON line per phase; the Results section of SCALING.md
embeds the output. The corpus is a measurement input only (written
under .scratch/, git-ignored); the graded substrate fold on
data_mixing_weights is untouched.

Usage::

    python tools/bpe_scale.py [n_docs] [n_merges]
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def synthesize_documents(spark, out_dir: str, n_docs: int) -> str:
    """50k docs over a Zipf-shaped large vocabulary, fully deterministic
    (md5 coin per (doc_id, position); no rand()).

    Word construction: the skewed word id (square-law: u² mapped over
    ~52k ids, so id 0 is ~drawn 230× more often than the median id)
    is rendered in base-26 lowercase letters, then padded/extended by
    its own md5 so lengths spread 2..12 chars — enough symbol/pair
    diversity that 30k merges stay meaningful (16-hex-digit words
    would collapse the pair space to 256)."""
    from recon_spark.functions.checksum import hash32

    # repo-standard uint32 md5 coin
    coin = lambda *cols: hash32(F.concat_ws("#", *cols))  # noqa: E731
    docs = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "n_words", (coin(F.col("doc_id"), F.lit("len")) % 91 + 10).cast("int")
        )
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_words")),
                    lambda j: _word_expr(coin(F.col("doc_id"), j)),
                ),
                " ",
            ),
        )
        .select("doc_id", "text")
    )
    path = os.path.join(out_dir, "documents.parquet")
    docs.repartition(32).write.mode("overwrite").parquet(path)
    return path


def _word_expr(u: F.Column) -> F.Column:
    """Deterministic Zipf-ish word from a uint32 coin: square-law skewed
    id -> base-26 letters, length extended by an md5-derived letter tail
    so the vocabulary's word-length distribution spans 2..12 chars."""
    frac = u.cast("double") / F.lit(float(1 << 32))
    wid = F.floor(frac * frac * F.lit(52000)).cast("long")
    # base-26 rendering of wid (up to 4 letters), letter offset 97='a'
    letters = F.concat(
        F.char(wid % 26 + 97),
        F.char((F.floor(wid / 26) % 26) + 97),
        F.when(wid >= 26 * 26, F.char((F.floor(wid / (26 * 26)) % 26) + 97)).otherwise(
            F.lit("")
        ),
        F.when(
            wid >= 26 * 26 * 26, F.char((F.floor(wid / (26 * 26 * 26)) % 26) + 97)
        ).otherwise(F.lit("")),
    )
    # md5-derived lowercase tail, length wid % 9 (0..8): spreads lengths
    tail_src = F.md5(F.concat(F.lit("w#"), wid.cast("string")))
    tail = F.substring(
        F.regexp_replace(tail_src, "[0-9]", ""), 1, (wid % 9).cast("int")
    )
    return F.concat(letters, tail)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000

    from recon_spark.operators import bpe
    from recon_spark.session import get_spark

    spark = get_spark("bpe_scale", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "bpe_scale")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    t0 = time.time()
    path = synthesize_documents(spark, scratch, n_docs)
    docs = spark.read.parquet(path)
    synth_sec = round(time.time() - t0, 2)

    # phase 1: distributed histogram + bounded top-k collect
    t0 = time.time()
    hist = bpe.word_histogram(docs)
    rows = (
        hist.orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(bpe.BPE_MAX_WORDS)
        .collect()
    )
    hist_sec = round(time.time() - t0, 2)
    n_vocab = len(rows)
    total_tokens = sum(r["n"] for r in rows)

    # phase 2: driver merge loop at tokenizer-realistic merges, with
    # RSS accounting (ru_maxrss = peak KB on Linux)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    hist_df = spark.createDataFrame(rows, "word string, n long")
    t0 = time.time()
    merges = bpe.bpe_train(hist=hist_df, n_merges=n_merges, max_words=n_vocab)
    train_sec = round(time.time() - t0, 2)
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    print(
        json.dumps(
            {
                "tool": "bpe_scale",
                "n_docs": n_docs,
                "n_vocab_words": n_vocab,
                "total_tokens_top_vocab": total_tokens,
                "n_merges_requested": n_merges,
                "n_merges_learned": len(merges),
                "synth_sec": synth_sec,
                "histogram_collect_sec": hist_sec,
                "merge_loop_sec": train_sec,
                "driver_peak_rss_mb_before": round(rss0 / 1024, 1),
                "driver_peak_rss_mb_after": round(rss1 / 1024, 1),
            }
        )
    )
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
