"""Deterministic Bloom-filter membership for corpus-scale dedup state.

Public-literature operator: Dolma (Soldaini et al. 2024, arXiv:
2402.00159) deduplicates paragraphs against a Bloom filter precisely
because at corpus scale the membership STATE must be a fixed-size
bitset (megabytes) rather than a join against billions of keys; CCNet
and RefinedWeb use the same structure for URL/seen-hash dedup. The
trade is a measurable false-positive rate (members always hit; some
non-members hit too) — for dedup that means over-dropping a bounded
fraction, never under-dropping.

Portable determinism: probe ``j`` of key ``x`` is
``hash32(x || '#j') mod n_bits`` with the repo's md5-based
:func:`recon_spark.functions.checksum.hash32` — the identical filter
rebuilds in any engine with md5 (the DuckDB oracle and the
differential fuzz do), unlike library Blooms seeded with
process-local hashes.

Two probe paths:

- :func:`bloom_probe` — the REPLAYABLE distributed form: keys explode
  to their ``n_hashes`` (word, mask) probes and equi-join the bitmap
  frame (``n_bits/64`` rows); a key is "seen" iff every probe's word
  has its bit set. No driver collect, no literals — the form the
  graded fold and the oracle share.
- :func:`bloom_contains_lit` — the production fast path: the bitmap
  (collected once; ``n_bits/64`` longs) rides the plan as a literal
  array and each row tests its bits in pure column algebra — zero
  joins, zero shuffles, exactly how a foreachBatch ingest gate or a
  map-only scrub job wants it.

Scale shape (100 TB): the build is one explode (``n_hashes`` per key)
into a ``bit_or`` aggregation keyed by word index — map-side
combining, output bounded by ``n_bits/64`` rows regardless of corpus
size; that boundedness is the whole point. Probing is either a
broadcast-sized equi-join (the bitmap frame always broadcasts) or the
literal map-only form. Sizing: FP rate ≈ (1 - e^(-kn/m))^k — size
``n_bits`` ~ 10-15 bits/key for sub-1% FP; the graded fold
deliberately undersizes so false positives EXIST and their exact set
is checksummed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import hash32

#: the 64 single-bit long masks (bit 63 is the sign bit -> stored as
#: the negative two's-complement value; bit tests use != 0, never >)
_MASKS = [(1 << b) if b < 63 else -(2**63) for b in range(64)]


def _mask_for(bit: Column) -> Column:
    """Column-valued 1<<bit via a literal lookup — F.shiftleft only
    accepts a Python int for the shift amount."""
    arr = F.array(*[F.lit(m).cast("long") for m in _MASKS])
    return F.element_at(arr, bit.cast("int") + 1)


#: fold defaults: deliberately small so the graded corpus produces
#: false positives to checksum (~4-5% at the gate corpus's key count)
BLOOM_BITS = 2048
BLOOM_HASHES = 3


def _probe_positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    return [
        hash32(F.concat(key.cast("string"), F.lit(f"#{j}"))) % n_bits
        for j in range(n_hashes)
    ]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(word, bits) bitmap frame — ``word`` indexes 64-bit chunks,
    ``bits`` is their OR-accumulated contents. At most ``n_bits/64``
    rows; words no key touches are absent (probe treats missing as 0).
    """
    probes = F.array(
        *[
            F.struct(
                (p / 64).cast("long").alias("word"),
                _mask_for(p % 64).alias("mask"),
            )
            for p in _probe_positions(F.col(key_col), n_bits, n_hashes)
        ]
    )
    return (
        keys.filter(F.col(key_col).isNotNull())
        .select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.word").alias("word"))
        .agg(F.bit_or(F.col("p.mask")).alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bitmap: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    out: str = "bloom_seen",
) -> DataFrame:
    """``df`` + boolean ``out``: true iff EVERY probe position of the
    row's key is set in ``bitmap``. Null keys probe nothing -> false.

    Distributed form: rows explode to ``n_hashes`` probes, equi-join
    the (broadcast-sized) bitmap, and a key is seen iff its hit count
    equals ``n_hashes``. Engine-replayable: no literals, no driver
    state.

    CONTRACT: rows of ``df`` must be unique — the probe restores input
    rows via groupBy over all of ``df``'s columns, so fully-duplicate
    rows collapse into one output row (ADVICE r9). Every caller here
    passes an id-keyed frame; dedupe or add a row id first if yours
    doesn't.
    """
    key = F.col(key_col)
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (p / 64).cast("long").alias("word"),
                _mask_for(p % 64).alias("mask"),
            )
            for j, p in enumerate(_probe_positions(key, n_bits, n_hashes))
        ]
    )
    exploded = df.select("*", F.explode(probes).alias("__p"))
    hits = (
        exploded.join(
            F.broadcast(bitmap), exploded["__p.word"] == bitmap["word"], "left"
        )
        .withColumn(
            "__hit",
            (F.col("__p.mask").bitwiseAND(F.coalesce(F.col("bits"), F.lit(0))) != 0),
        )
        .groupBy(*[F.col(c) for c in df.columns])
        .agg(F.count_if(F.col("__hit")).alias("__nhits"))
    )
    return hits.withColumn(out, F.col("__nhits") == n_hashes).drop("__nhits")


def bloom_bitmap_literal(
    bitmap: DataFrame, n_bits: int = BLOOM_BITS
) -> list[int]:
    """Collect the bitmap frame into a dense ``n_bits/64``-long list
    (the one driver action; bounded by construction)."""
    words = [0] * (n_bits // 64)
    for r in bitmap.collect():
        words[r["word"]] = r["bits"]
    return words


def bloom_contains_lit(
    key: Column,
    words: list[int],
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> Column:
    """Pure column-algebra membership test against a literal bitmap —
    the map-only production path (no join; the words array rides the
    plan). ``words`` from :func:`bloom_bitmap_literal`."""
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    cond = F.lit(True)
    for p in _probe_positions(key, n_bits, n_hashes):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        mask = _mask_for(p % 64)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return F.when(key.isNotNull(), cond).otherwise(F.lit(False))
