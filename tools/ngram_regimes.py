"""Regenerate the n-gram near-dup REGIME TABLE (VERDICT r7 task #3).

The project's most decision-relevant scale numbers are the three-regime
measurements for exact n-gram Jaccard near-dup — count-based
set-similarity join vs PPJoin frequency-sorted prefix filtering vs
MinHash-LSH — which previously lived only in docstrings/SCALING prose
and regenerated by hand. This tool re-runs the full comparison on the
three canonical corpora and prints (a) one JSON line per measurement and
(b) the markdown table SCALING.md embeds, so the numbers can never
silently rot as the operators evolve.

Corpora (all deterministic):

1. **organic** — the graded sf0.1 corpus via ``registry.docs_aug``
   (planted dup structure, modest shingle skew): the regime where the
   count-based join wins.
2. **boilerplate/Zipf** — 20k docs, each = one of 8 shared 20-token
   templates + 40 doc-unique rare tokens. Template shingles have
   ``c_s ≈ corpus/8`` (the ``Σ c_s²`` offenders); rare-tail shingles
   have ``c_s ≤ 2``. The realistic web-scale hazard (license headers,
   scraped navigation chrome) and the regime the prefix twin exists
   for.
3. **saturated** — the ``tools/scaling_sf1.py`` synthetic (31-token
   vocabulary ⇒ complete 31³ shingle space, FLAT frequency profile):
   the honest negative result where NEITHER exact form prunes and
   MinHash-LSH is the answer.

Exact-path parity is asserted on every corpus (pair count + 32-bit-hash
checksum over the pair set — the same certificate the graded parity
fold carries: on ``dedup_ngram_jaccard`` rounds 8-10, relocated to
``dedup_exact_documents`` in round 11). Since round 12 the tool also
probes each corpus through ``dedup.ngram_jaccard_auto`` and (at the
full documented sizes) ASSERTS the dispatcher picks that regime's
measured winner — the dispatch thresholds can no longer drift from the
table they were calibrated on.

Usage::

    python tools/ngram_regimes.py           # full documented sizes
    python tools/ngram_regimes.py quick     # ~10x smaller, smoke only

Timings are best-of-2 laps (same hygiene as bench.py) with the 1-min
loadavg recorded for ambient-load attribution. Expect several minutes
for the full run — the saturated corpus's exact paths are the measured
pathology (tens of seconds each by design).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _boilerplate_docs(spark, n_docs: int, n_templates: int = 8):
    """doc = 20-token template (doc_id % n_templates) + 40 unique tokens."""
    tmpl = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(20)),
            lambda i: F.concat(
                F.lit("tmpl"), (F.col("doc_id") % n_templates).cast("string"),
                F.lit("w"), i.cast("string"),
            ),
        ),
        " ",
    )
    rare = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda j: F.concat(
                F.lit("r"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
        " ",
    )
    return (
        spark.range(0, n_docs, 1, 32)
        .select(F.col("id").alias("doc_id"))
        .withColumn("text", F.concat(tmpl, F.lit(" "), rare))
    )


def _pair_cert(pairs):
    """(n_pairs, checksum) — the same 32-bit-hash pair-set certificate as
    the graded parity fold (registry.q_ngram_jaccard)."""
    from recon_spark.functions.checksum import row_ck

    ck = row_ck("id_a", "id_b")
    row = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(ck), F.lit(0)).cast("long").alias("ck"),
    ).first()
    return int(row["n"]), int(row["ck"])


def main() -> None:
    quick = len(sys.argv) > 1 and sys.argv[1] == "quick"
    from recon_spark.operators import dedup
    from recon_spark.registry import docs_aug
    from recon_spark.session import get_spark
    from tools.scaling_sf1 import synthesize_documents

    spark = get_spark("ngram-regimes")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scratch = os.path.join(repo, ".scratch", "ngram_regimes")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    n_boiler = 2_000 if quick else 20_000
    n_sat = 5_000 if quick else 50_000
    synthesize_documents(spark, scratch, n_sat)

    def organic(s):
        return docs_aug(s, "/root/testdata/sf0.1")

    def boiler(s):
        return _boilerplate_docs(s, n_boiler)

    def saturated(s):
        return s.read.parquet(os.path.join(scratch, "documents.parquet")).select(
            "doc_id", "text"
        )

    corpora = [
        ("organic sf0.1", organic),
        (f"boilerplate/Zipf {n_boiler // 1000}k", boiler),
        (f"saturated {n_sat // 1000}k", saturated),
    ]
    methods = [
        ("count", lambda d: dedup.ngram_jaccard_pairs(d)),
        ("prefix", lambda d: dedup.ngram_jaccard_pairs_prefix(d)),
        ("minhash_lsh", lambda d: dedup.minhash_near_dup(d, threshold=0.4)),
    ]

    # round-12: the dispatcher must pick each regime's measured winner.
    # Asserted only at the full documented sizes — the quick-mode
    # saturated corpus is genuinely small enough that the count join IS
    # the right answer there (the probe measures density, not labels).
    expected_route = {
        "organic sf0.1": "count",
        f"boilerplate/Zipf {n_boiler // 1000}k": "prefix",
        f"saturated {n_sat // 1000}k": "minhash",
    }

    cells: dict[tuple[str, str], str] = {}
    routes: dict[str, str] = {}
    for c_name, c_fn in corpora:
        probe: dict = {}
        dedup.ngram_jaccard_auto(c_fn(spark), probe_out=probe)
        spark.catalog.clearCache()
        routes[c_name] = probe["route"]
        print(
            json.dumps(
                {
                    "corpus": c_name,
                    "probe": {
                        k: round(v, 3) if isinstance(v, float) else v
                        for k, v in probe.items()
                    },
                }
            ),
            flush=True,
        )
        if not quick:
            assert probe["route"] == expected_route[c_name], (
                f"dispatcher mis-routed {c_name}: "
                f"got {probe['route']}, expected {expected_route[c_name]}"
            )
        certs: dict[str, tuple[int, int]] = {}
        for m_name, m_fn in methods:
            best = None
            for _ in range(2):
                t0 = time.time()
                out = m_fn(c_fn(spark))
                n, ck = _pair_cert(out.select("id_a", "id_b"))
                lap = time.time() - t0
                best = lap if best is None else min(best, lap)
                spark.catalog.clearCache()
            certs[m_name] = (n, ck)
            cells[(c_name, m_name)] = f"{best:.1f}"
            print(
                json.dumps(
                    {
                        "corpus": c_name,
                        "method": m_name,
                        "best_sec": round(best, 2),
                        "n_pairs": n,
                        "pair_ck": ck,
                        "loadavg_1min": round(os.getloadavg()[0], 1),
                    }
                ),
                flush=True,
            )
        # exact-path parity certificate (minhash is approximate-candidate
        # + exact-verify at a possibly different recall, so only the two
        # exact paths must agree)
        assert certs["count"] == certs["prefix"], (
            f"exact-path parity broken on {c_name}: "
            f"count={certs['count']} prefix={certs['prefix']}"
        )
        print(f"# parity OK on {c_name}: {certs['count'][0]} pairs", flush=True)

    print()
    print(
        "| corpus | count-based | PPJoin prefix | MinHash-LSH "
        "| winner | auto route |"
    )
    print("|---|---|---|---|---|---|")
    for c_name, _ in corpora:
        row = {m: float(cells[(c_name, m)]) for m, _ in methods}
        winner = min(row, key=row.get)  # type: ignore[arg-type]
        print(
            f"| {c_name} | {cells[(c_name, 'count')]}s "
            f"| {cells[(c_name, 'prefix')]}s "
            f"| {cells[(c_name, 'minhash_lsh')]}s | {winner} "
            f"| {routes[c_name]} |"
        )
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
