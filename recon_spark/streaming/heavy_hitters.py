"""Streaming heavy hitters: a Misra-Gries ingestion rollup with
bounded per-batch state — the frequent-items twin of the HLL "hypertable"
partials (operators/sketches.py) wired into the repo's ``foreachBatch``
batch-id-idempotence recipe (streaming/bloom_gate.py precedent).

Why a stream wants this: "top talkers so far" (users, domains, tokens)
over an unbounded stream cannot keep an exact per-item counter table —
its state is item-cardinality-sized. The mergeable Misra-Gries summary
(Misra & Gries 1982; Agarwal et al. 2013 mergeability) gives the classic
bounded answer: each micro-batch contributes at most ``k`` counter rows
plus one sentinel, ANY prefix of batches merges to a summary with the
``n/(k+1)`` band, and the merge is associative so late/replayed batches
need no ordering coordination.

Design (the bloom_gate store recipe, verbatim):

- **Store**: one fragment per micro-batch under ``__batch_id=<n>``
  partitions: the batch's EXACT item counts reduced to a <= k-row MG
  summary (subtract the (k+1)-th largest, drop non-positives) plus one
  ``item IS NULL`` sentinel carrying the batch's total item count (MG
  decrements destroy totals; the band needs n).
- **Idempotent replay**: fragment N is a pure function of batch N
  alone, so a replayed batch overwrites exactly its own partition
  (``partitionOverwriteMode=dynamic``) and converges byte-identically —
  no prior-state read at ALL on the write path (simpler than the Bloom
  gate, whose verdicts depend on prior batches).
- **Read**: :func:`read_heavy_hitters` merges every fragment with the
  Agarwal combine (sum counters item-wise, subtract the (k+1)-th
  largest combined counter, drop non-positives) — the same combine
  ``operators/sketches.frequent_items`` applies to per-partition
  summaries; here the "partitions" are micro-batches.

Determinism + grading: unlike the batch sketch (whose partition
boundaries are physical-plan-dependent), the micro-batch boundaries are
DATA (whatever arrived), so for a deterministic batch split the whole
store and the merged verdict are engine-replayable. The graded fold
(``analytics_user_reach``) builds every fragment of a deterministic
``event_id % n`` split of the events table IN-PLAN with the same pure
function the writer uses (:func:`mg_fragments`) and checksums the merged
top table against a full DuckDB replay (plans_sql.mgg_parity_ctes); the
side-effectful store/stream machinery (parquet fragments,
dynamic-overwrite idempotence, a real availableNow drain) is
pytest-verified (tests/test_streaming_heavy_hitters.py), the same split
as the exactly-once sinks.

Scale shape (100 TB/day): one map-side-combinable ``(batch, item)``
count aggregate for all batches at once; each batch's MG decrement is
its (k+1)-th count, a ``row_number() = k+1`` filter that Spark plans as
a partial/final ``WindowGroupLimit`` (k+1 rows per batch and task cross
the exchange), and the merge's decrement is a (k+1)-row
``TakeOrderedAndProject``. Both decrements and the total are joined back
as tiny broadcast frames, so building the report runs no Spark job on
the driver; state grows k+1 rows per batch regardless of item
cardinality, and the read merges ``n_batches x (k+1)`` rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: summary size per batch fragment (and per merged report)
MGG_K = 64

FRAGMENT_SCHEMA = "item string, c long, __batch_id long"


def _kth_count(df: DataFrame, count_col: str, k: int, by: list[str]) -> DataFrame:
    """The (k+1)-th largest counter per ``by`` group as ``(*by, __d)``,
    no row for a group with <= k candidates: the MG decrement. The
    ``row_number() = k+1`` filter plans as a WindowGroupLimit (a
    TakeOrderedAndProject when ``by`` is empty), so at most k+1 rows per
    group are sorted."""
    w = Window.partitionBy(*by).orderBy(F.col(count_col).desc(), F.col("item").asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == k + 1)
        .select(*by, F.col(count_col).alias("__d"))
    )


def mg_fragments(
    df: DataFrame, item_col: str, batch: Column, k: int = MGG_K
) -> DataFrame:
    """Every batch's store fragment as ``(item, c, __batch_id)``: the
    batch's exact counts reduced to <= k MG rows, plus one ``item IS
    NULL`` sentinel carrying the batch's total item count. A pure
    function of each batch's rows (the idempotence anchor), computed from
    ONE ``(batch, item)`` count aggregate; shared by the ``foreachBatch``
    writer (``batch = F.lit(batch_id)``) and the graded replay
    (``batch = id % n``). Null items keep their own count group, so a
    batch of null items still yields its zero sentinel."""
    counts = df.groupBy(
        batch.alias("__batch_id"), F.col(item_col).cast("string").alias("item")
    ).agg(F.count(F.lit(1)).alias("c"))
    items = counts.filter(F.col("item").isNotNull())
    d = _kth_count(items, "c", k, ["__batch_id"])
    frag = (
        items.join(F.broadcast(d), "__batch_id", "left")
        .select(
            "item",
            (F.col("c") - F.coalesce(F.col("__d"), F.lit(0))).cast("long").alias("c"),
            "__batch_id",
        )
        .filter(F.col("c") > 0)
    )
    sentinel = counts.groupBy("__batch_id").agg(
        F.lit(None).cast("string").alias("item"),
        F.coalesce(
            F.sum(F.when(F.col("item").isNotNull(), F.col("c"))), F.lit(0)
        ).cast("long").alias("c"),
    )
    return frag.unionByName(sentinel)


def mg_batch_fragment(
    batch_df: DataFrame, item_col: str, k: int = MGG_K
) -> DataFrame:
    """One micro-batch's store fragment as ``(item, c)``: :func:`mg_fragments`
    with the whole frame as one batch."""
    return mg_fragments(batch_df, item_col, F.lit(0), k).select("item", "c")


def heavy_hitters_writer(
    store_dir: str, item_col: str, k: int = MGG_K
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function: write batch N's fragment under its own
    ``__batch_id`` partition (dynamic overwrite -> replay-idempotent)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            mg_fragments(batch_df, item_col, F.lit(batch_id), k)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(store_dir)
        )

    return apply_batch


def merge_fragments(frags: DataFrame, k: int = MGG_K) -> DataFrame:
    """Agarwal combine over fragment rows -> ``(item, est, n_total,
    err_bound)``: est is the lower bound, ``true <= est + err_bound``
    with ``err_bound = n_total DIV (k+1)`` (n_total from the sentinels).
    Works for ANY subset of batches — mergeability is the point."""
    cand = (
        frags.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("c").alias("s"))
    )
    d = _kth_count(cand, "s", k, []).agg(
        F.coalesce(F.max("__d"), F.lit(0)).alias("__d")
    )
    n_total = frags.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_total")
    )
    return (
        cand.crossJoin(F.broadcast(d))
        .filter(F.col("s") > F.col("__d"))
        .crossJoin(F.broadcast(n_total))
        .select(
            "item",
            (F.col("s") - F.col("__d")).cast("long").alias("est"),
            "n_total",
            F.expr(f"n_total DIV {k + 1}").alias("err_bound"),
        )
    )


def read_heavy_hitters(
    spark: SparkSession, store_dir: str, k: int = MGG_K
) -> DataFrame:
    """Merged heavy-hitter report over every committed fragment."""
    frags = spark.read.schema(FRAGMENT_SCHEMA).parquet(store_dir)
    return merge_fragments(frags.select("item", "c"), k)


def replay_heavy_hitters(
    events: DataFrame,
    item_col: str = "user_id",
    n_batches: int = 3,
    k: int = MGG_K,
    id_col: str = "event_id",
) -> DataFrame:
    """The graded fold's IN-PLAN twin of the store pipeline: split the
    frame into ``n_batches`` deterministic micro-batches
    (``id % n_batches`` — the replay convention), build every batch's
    fragment with the same pure function the writer uses, and merge.
    No side effects; byte-equal to writing fragments and reading them
    back (pytest pins that round-trip)."""
    frags = mg_fragments(events, item_col, F.col(id_col) % n_batches, k)
    return merge_fragments(frags.select("item", "c"), k)
