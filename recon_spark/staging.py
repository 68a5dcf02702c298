"""Session state: the staging ledger and the session store.

**Staging ledger.** A builder often persists an intermediate that
several branches of its returned lazy plan read (a token pass, a shingle
index, a signature frame). It cannot unpersist before returning, since
the plan still reads the cache, so it calls :func:`stage` instead.
:func:`release_staged` unpersists everything staged so far; the registry
calls it before each query build, so a long session holds at most one
query's frames. Unpersisting a frame an older plan still reads costs
recompute, never correctness. The list is lock-guarded because streaming
``foreachBatch`` bodies stage and release on the stream thread.

**Session store.** Whatever is built once and read many times in one
Spark session lives here, keyed by ``(applicationId, caller key)``:
analyzed plans and local results (:func:`memo`) and the write-once tiers
(:func:`written`): the raw exports, the bucketed clean-once tables and
the Engine A/C outputs. Written files go under one scratch root per
session. Only one SparkContext runs per process, so when a session with
another applicationId first uses the store, the stopped session's
entries are dropped and its root deleted; the last root is deleted at
process exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import sys
import tempfile
import threading
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

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


#: (applicationId, caller key) -> value
_STORE: dict[tuple[str, Hashable], Any] = {}
#: applicationId -> the session's scratch root
_ROOTS: dict[str, str] = {}
#: names the written tiers' directories
_SEQ = itertools.count()


def _session(spark: SparkSession) -> str:
    """The session's applicationId, after dropping every other session's
    entries and scratch root: their SparkContext has stopped."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _STORE if k[0] != app]:
        del _STORE[key]
    for other in [a for a in _ROOTS if a != app]:
        shutil.rmtree(_ROOTS.pop(other), ignore_errors=True)
    return app


def lookup(spark: SparkSession, key: Hashable) -> Any:
    """The value stored under ``key`` in this session, or None."""
    return _STORE.get((_session(spark), key))


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """``build()``, run once per session and ``key``."""
    k = (_session(spark), key)
    if k not in _STORE:
        _STORE[k] = build()
    return _STORE[k]


def _parquet(df: DataFrame, path: str) -> DataFrame:
    from .sources.fixtures import parquet_schema

    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(parquet_schema(df.schema)).parquet(path)


def written(
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], DataFrame],
    *,
    write: Callable[[DataFrame, str], DataFrame] = _parquet,
    path: str | None = None,
) -> DataFrame:
    """``build()``'s frame written once per session and ``key`` by ``write(df,
    path)``, which returns the read-back (parquet read with the written schema
    by default, so no inference job runs), at ``path`` or a new directory under
    the session's root. A failed write keeps the value-identical lazy frame."""

    def once() -> DataFrame:
        df = build()
        try:
            return write(df, path or _new_dir(spark))
        except Exception as exc:  # noqa: BLE001
            print(
                f"staging: writing {key!r} failed ({exc!r}); reading the lazy plan",
                file=sys.stderr,
            )
            return df

    return memo(spark, key, once)


def _new_dir(spark: SparkSession) -> str:
    app = _session(spark)
    if app not in _ROOTS:
        _ROOTS[app] = tempfile.mkdtemp(prefix="recon_store_")
    return os.path.join(_ROOTS[app], f"t{next(_SEQ)}")


@atexit.register
def _remove_roots() -> None:
    for root in _ROOTS.values():
        shutil.rmtree(root, ignore_errors=True)
