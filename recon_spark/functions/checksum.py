"""Grading certificates: the one-row checksum a parity fold attaches to a
graded query so the DuckDB oracle can check a whole operator output.

A certificate over a frame is ``(n_<tag>_rows, <tag>_ck)``: the row
count and the sum, as a long, of one 32-bit hash per row (0 on an empty
frame). The row hash is :func:`hash32` of the row's parts, each cast to
string and ``"|"``-joined. :func:`hash32` is the first 8 md5 hex chars
read as an unsigned int; its SQL twin is
:func:`recon_spark.oracles.llm_sql.hash32`, and the oracle's certificate
is ``COALESCE(SUM(hash32(a || '|' || b ...)), 0)``.

The hash is also the repo's portable coin: DSIR buckets, Bloom probe
positions, CDC span breakpoints, sampling and the quality split all draw
from it, so each is replayable on the oracle engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash32(c: Column) -> Column:
    """First 8 md5 hex chars as a 32-bit unsigned int (engine-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def row_ck(*parts: Column | str) -> Column:
    """Per-row hash of ``parts`` (column names or Columns), each cast to
    string and ``"|"``-joined. ``concat_ws`` skips NULL parts, so callers
    coalesce any part that may be NULL to keep the oracle's ``||``
    join value-identical."""
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return hash32(F.concat_ws("|", *[c.cast("string") for c in cols]))


def certificate(df: DataFrame, tag: str, *parts: Column | str) -> DataFrame:
    """One-row ``(n_<tag>_rows, <tag>_ck)`` frame over ``df``:
    the row count and the summed :func:`row_ck` of ``parts``, 0 on an
    empty frame."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias(f"n_{tag}_rows"),
        F.coalesce(F.sum(row_ck(*parts)), F.lit(0)).cast("long").alias(f"{tag}_ck"),
    )


def attach(out: DataFrame, *certs: DataFrame) -> DataFrame:
    """Cross-join one-row certificate frames onto every row of ``out``."""
    for cert in certs:
        out = out.crossJoin(F.broadcast(cert))
    return out
