"""Staging ledger: the one home for persisted frames that outlive the
function that persisted them.

A builder often persists an intermediate that several branches of its
returned lazy plan read (a token pass, a shingle index, a signature
frame). It cannot unpersist before returning, since the plan still reads
the cache, so it calls :func:`stage` instead. :func:`release_staged`
unpersists everything staged so far; the registry calls it before each
query build, so a long session holds at most one query's frames.
Unpersisting a frame an older plan still reads costs recompute, never
correctness. The list is lock-guarded because streaming ``foreachBatch``
bodies stage and release on the stream thread.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_LEDGER: list[DataFrame] = []


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df``, record it for :func:`release_staged`, return it."""
    df.persist()
    with _LOCK:
        _LEDGER.append(df)
    return df


def release_staged() -> int:
    """Unpersist every staged frame; returns how many."""
    with _LOCK:
        frames = _LEDGER[:]
        _LEDGER.clear()
    for df in frames:
        df.unpersist()
    return len(frames)
