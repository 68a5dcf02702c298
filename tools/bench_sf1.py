"""Full-suite sf1 bench (VERDICT r8 task #1).

`tools/scaling_sf1.py` gave the four worst growers one measured decade
above the shipped testdata; every other family's 100 TB story still
extrapolated from sf0.1. This tool synthesizes a COMPLETE sf1 table set
(all ten tables, same schemas/cardinaliy ratios as the driver's
sf0.001→0.01→0.1 ladder) under ``.scratch/full/sf1`` and runs the
unmodified ``bench.py`` — every headline query (33 since round 9), same cold/steady
protocol — against it, writing the full JSON to ``BENCH_sf1.json`` at
the repo root (committed evidence; see SCALING.md's sf1 full-suite
table).

Synthesis strategy, chosen per table for representativeness:

- ``region``/``nation``: fixed dims — copied as-is (TPC-H semantics).
- ``customer``/``supplier``/``part``/``orders``/``lineitem``: the
  sf0.1 tables replicated ×10 with per-copy key offsets applied
  consistently to every PK *and* FK (copy ``i`` adds ``i * keyspan``),
  so join fan-outs, per-key densities, and null/mod-rule-derived
  recon-column distributions all stay at their sf0.1 shape while the
  row counts take the same ×10 step the driver's own ladder takes.
  The offsets rotate the ``key % p`` derivation patterns per copy
  (150000 % 41 ≠ 0 etc.), so copies are not byte-identical through the
  fixture derivations.
- ``events``: replicated ×10 with offset ``event_id``/``user_id`` —
  ×10 users over the same 30-day window, per-user event counts (and
  hence session shapes) unchanged.
- ``documents``: NOT replicated — 10 text-identical copies would plant
  ~45 cross-copy exact duplicates per doc and blow the pair joins into
  a regime no organic corpus has (the saturated-regime pathology,
  SCALING.md). Instead reuses ``tools/scaling_sf1.synthesize_documents``
  (50k docs, the sf0.1 generator's vocabulary/length/lang/source shape).
- ``embeddings``: 20k synthesized unit-norm 64-dim vectors with mild
  per-label cluster structure (center·0.35 + noise, renormalized), all
  md5-coin deterministic — matches the shipped table's unit-norm,
  10-label shape without rand().

Usage::

    python tools/bench_sf1.py [--synth-only]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from recon_spark.functions.checksum import hash32  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, ".scratch", "full", "sf1")
COPIES = 10

#: per-copy key offsets = sf0.1 keyspan, applied to PKs and FKs alike
OFFSETS = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000, "l_partkey": 20_000, "l_suppkey": 1_000},
    "events": {"event_id": 100_000, "user_id": 1_500},
}


def _coin(*cols):
    """uint32 md5 coin (no rand() — reproducible across runs/sessions)."""
    return hash32(F.concat_ws("#", *cols))


def _replicate(spark, table: str) -> None:
    df = spark.read.parquet(f"{SRC}/{table}.parquet")
    copies = spark.range(COPIES).select(F.col("id").alias("__copy"))
    out = df.crossJoin(copies)
    for col, span in OFFSETS[table].items():
        out = out.withColumn(col, F.col(col) + F.col("__copy") * span)
    (
        out.drop("__copy")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{OUT}/{table}.parquet")
    )


def _synthesize_embeddings(spark, n: int = 20_000, dim: int = 64) -> None:
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    label = (_coin(F.lit("lbl"), "vec_id") % 10).cast("int")
    # uniform [-1,1) coin per (vec_id, d) + a per-(label, d) cluster pull
    noise = lambda d: _coin(F.lit("e"), F.col("vec_id"), d) / F.lit(2**31) - 1.0  # noqa: E731
    center = lambda d: _coin(F.lit("c"), F.col("label"), d) / F.lit(2**31) - 1.0  # noqa: E731
    raw = F.transform(idx, lambda d: noise(d) + 0.35 * center(d))
    norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    vec = F.transform(raw, lambda x: (x / norm).cast("float"))
    (
        spark.range(0, n, 1, 8)
        .select(F.col("id").alias("vec_id"))
        .withColumn("label", label)
        .withColumn("embedding", vec)
        .select("vec_id", "embedding", "label")
        .write.mode("overwrite")
        .parquet(f"{OUT}/embeddings.parquet")
    )


def synthesize(spark) -> None:
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    for table in ("region", "nation"):
        spark.read.parquet(f"{SRC}/{table}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{OUT}/{table}.parquet")
    for table in OFFSETS:
        _replicate(spark, table)
    from scaling_sf1 import synthesize_documents

    synthesize_documents(spark, OUT, 50_000)
    _synthesize_embeddings(spark)


def main() -> None:
    from recon_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("sf1-synth", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    synthesize(spark)
    rows = {
        t: spark.read.parquet(f"{OUT}/{t}.parquet").count()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split()
    }
    print(json.dumps({"case": "synthesize", "sec": round(time.time() - t0, 1), "rows": rows}))
    spark.stop()  # bench.py builds its own session; don't hold 32 cores
    if "--synth-only" in sys.argv:
        return

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = OUT
    env["SPARK_GRAFT_BENCH_OUT"] = os.path.join(REPO, "BENCH_sf1.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")], env=env, cwd=REPO
    )
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
