"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata structs, with decode / feature-extraction as Arrow-batched
``mapInPandas`` stages.

The Spark-side contract is real and tested — schema, batch shape,
partitioning, null handling. The *decoders* are where a production
deployment plugs in PIL/torchaudio/ffmpeg; those libraries are not in
this container, so :func:`decode_image` / :func:`decode_audio` raise
``NotImplementedError`` and the pipeline ships a deterministic
byte-stripe feature extractor (:func:`fake_features`) so every stage
downstream of decode is still exercised end-to-end.

Scale notes (100 TB): payloads stay opaque bytes until the one
``mapInPandas`` stage that needs them — no JVM<->Python crossing
elsewhere. Arrow moves each partition in columnar batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory);
feature extraction is embarrassingly parallel, so the stage scales with
partition count, and the output is a narrow (id, feature) table that
shuffles cheaply into ANN indexing (operators/similarity.py).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import certificate

FEATURE_DIM = 8

#: output schema of the feature-extraction stage
FEATURE_SCHEMA = "id long, mime string, n_bytes long, feature array<float>"


def attach_binary(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    mime: str = "text/plain",
) -> DataFrame:
    """Wrap a source column as an opaque binary payload + metadata struct
    — the canonical multimodal row shape (payload: binary, meta: struct)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit(mime).alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(F.col(text_col).cast("string")).alias("checksum"),
    )
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def decode_image(payload: bytes) -> object:
    """STUB — real image decode needs PIL/opencv (absent here)."""
    raise NotImplementedError(
        "image decode requires PIL/opencv; plug in here (payload -> HxWxC array)"
    )


def decode_audio(payload: bytes) -> object:
    """STUB — real audio decode needs torchaudio/ffmpeg (absent here)."""
    raise NotImplementedError(
        "audio decode requires torchaudio/ffmpeg; plug in here (payload -> waveform)"
    )


def fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real encoder: mean byte value of
    ``dim`` equal stripes of the payload (0 for empty stripes)."""
    n = len(payload)
    if n == 0:
        return [0.0] * dim
    out = []
    for i in range(dim):
        chunk = payload[i * n // dim : (i + 1) * n // dim]
        out.append(sum(chunk) / len(chunk) if chunk else 0.0)
    return out


FRAME_BYTES = 64
N_SAMPLE_FRAMES = 3

#: output schema of the frame-sampling stage (one row per sampled frame)
FRAME_SCHEMA = "id long, frame_idx int, total_frames int, frame binary"


def sample_frames(
    df: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    n_frames: int = N_SAMPLE_FRAMES,
) -> DataFrame:
    """Frame sampling over opaque payloads — the video-ingestion shape:
    one input row fans out to ``n_frames`` sampled frame rows.

    Deterministic container stub (a real deployment swaps in ffmpeg/pyav
    keyframe extraction here, exactly like the decode_* plug points): the
    payload is treated as fixed-size ``frame_bytes`` frames and sampling
    picks uniform stride indices ``j * (total-1) // (n_frames-1)``
    (first/…/last, de-duplicated for short payloads — all floor division,
    so the DuckDB oracle replays the index math exactly).

    Scale shape: one Arrow-batched ``mapInPandas`` stage, embarrassingly
    parallel, output rows bounded by ``n_frames`` per input — the fan-out
    is a constant factor, not a join. Frames stay opaque binary until a
    downstream decode/feature stage needs them.
    """
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, idxs, totals, frames = [], [], [], []
            for rid, p in zip(pdf["id"], pdf["payload"]):
                b = bytes(p)
                total = max(1, -(-len(b) // frame_bytes))  # ceil, min 1
                if n_frames == 1 or total == 1:
                    picks = [0]
                else:
                    picks = sorted(
                        {j * (total - 1) // (n_frames - 1) for j in range(n_frames)}
                    )
                for idx in picks:
                    ids.append(rid)
                    idxs.append(idx)
                    totals.append(total)
                    frames.append(b[idx * frame_bytes : (idx + 1) * frame_bytes])
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "total_frames": totals, "frame": frames}
            )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


def resize_feature(feat, in_dim: int = FEATURE_DIM, out_dim: int = 4):
    """Column-algebra average-pool of a feature array to ``out_dim`` —
    the "resize" step of an image/feature pipeline, kept JVM-side (no
    Python stage: pooling windows are compile-time slices, the fold is
    ``F.aggregate`` in double)."""
    outs = []
    for j in range(out_dim):
        lo, hi = j * in_dim // out_dim, (j + 1) * in_dim // out_dim
        seg = F.slice(feat, lo + 1, hi - lo)
        total = F.aggregate(
            seg, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        )
        outs.append(total / F.lit(float(hi - lo)))
    return F.array(*outs)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Arrow-batched feature extraction over (id, payload, meta) rows.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame; the
    output iterator yields frames matching FEATURE_SCHEMA. Swap
    ``fake_features`` for a real encoder (batched model inference) without
    touching the Spark plan.
    """
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "feature": [
                        fake_features(bytes(p), dim) for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


# --- perceptual-hash dedup ----------------------------------------------------
#
# The production image-dedup shape: encode each asset to a small
# ORDER-BASED binary signature over its feature vector, then group
# identical signatures (near-identical assets under brightness/scale
# shifts hash equal — the aHash/pHash family; the pairwise-comparison
# form is Yagnik et al. 2011's Winner-Take-All rank hash, which depends
# only on the ORDERING of feature coefficients, not their magnitudes).
# With the container's deterministic 8-stripe fake encoder the
# signature is C(8,2) = 28 comparison bits; a real deployment swaps the
# encoder (decode_* plug points) for an 8x8 DCT and gets the classic
# 64-bit pHash — the operator shape is unchanged.
#
# Scale shape: signature = pure column algebra riding the feature scan;
# dedup = ONE map-side-combinable min aggregate on the signature key +
# an equi-join back (the exact_dedup hot-safe convention — a clique of
# a million identical assets never serializes one task). For
# RADIUS-based matching compose the signature with the banded Hamming
# machinery (dedup.simhash_bands / the banded pair join) — priced there.


def phash_signature(feat: "Column", dim: int = FEATURE_DIM) -> "Column":
    """Order-based perceptual signature: bit b(i,j) set when
    ``feature[i] > feature[j]`` for each ordered pair i < j. Invariant
    to any monotone per-asset transform of the features (brightness,
    contrast, gain) — the property that makes it a PERCEPTUAL hash.
    Engine-exact: float32 comparisons are order-identical to the
    oracle's double-of-float32 comparisons."""
    acc = F.lit(0).cast("long")
    b = 0
    for i in range(dim):
        for j in range(i + 1, dim):
            acc = acc + F.when(
                F.element_at(feat, i + 1) > F.element_at(feat, j + 1),
                F.lit(1 << b),
            ).otherwise(0).cast("long")
            b += 1
    return acc


def phash_dedup(features: DataFrame, id_col: str = "id") -> DataFrame:
    """Perceptual dedup over an extracted-features frame: one row per
    asset — ``(id, ph, keeper_id, is_dup)`` with the smallest id per
    signature kept (deterministic). Hot-safe min-agg + join; no window,
    no pair explosion."""
    sig = features.select(
        F.col(id_col).alias("id"),
        phash_signature(F.col("feature")).alias("ph"),
    )
    keepers = sig.groupBy("ph").agg(F.min("id").alias("keeper_id"))
    return sig.join(keepers, "ph").select(
        "id", "ph", "keeper_id", (F.col("id") != F.col("keeper_id")).alias("is_dup")
    )


def phash_parity(docs: DataFrame) -> DataFrame:
    """1-row checksum frame over the FULL perceptual-dedup verdict table
    for the standard attach_binary -> extract_features lineage —
    ``(n_ph_rows, ph_ck)``; the oracle recomputes stripe features,
    all 28 comparison bits, keeper assignment and the dup flag from raw
    text (llm_sql phash CTEs on the frame-sample row)."""
    v = phash_dedup(extract_features(attach_binary(docs)))
    return certificate(v, "ph", "id", "ph", "keeper_id", "is_dup")
