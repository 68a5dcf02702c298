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
(``analytics_user_reach``) composes :func:`mg_batch_fragment` over a
deterministic ``event_id % n`` split of the events table IN-PLAN and
checksums the merged top table against a full DuckDB replay
(plans_sql.mgg_parity_ctes); the side-effectful store/stream machinery
(parquet fragments, dynamic-overwrite idempotence, a real availableNow
drain) is pytest-verified (tests/test_streaming_heavy_hitters.py), the
same split as the exactly-once sinks.

Scale shape (100 TB/day): per batch, one map-side-combinable count
aggregate + a (k+1)-row TakeOrdered (bounded driver action, the
bounded-model convention); state grows k+1 rows per batch regardless of
item cardinality; the read merges ``n_batches x (k+1)`` rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import staging

#: summary size per batch fragment (and per merged report)
MGG_K = 64

FRAGMENT_SCHEMA = "item string, c long, __batch_id long"


def _kth_threshold(cand: DataFrame, count_col: str, k: int) -> int:
    """The (k+1)-th largest counter (0 when <= k candidates): the MG
    decrement. Bounded TakeOrdered collect — k+1 rows."""
    top = (
        cand.orderBy(F.col(count_col).desc(), F.col("item").asc())
        .limit(k + 1)
        .collect()
    )
    return int(top[k][count_col]) if len(top) > k else 0


def mg_batch_fragment(
    batch_df: DataFrame, item_col: str, k: int = MGG_K
) -> DataFrame:
    """One micro-batch's store fragment: the batch's exact counts reduced
    to <= k MG rows, plus the ``item IS NULL`` total sentinel. Pure
    function of the batch (the idempotence anchor); shared by the
    ``foreachBatch`` writer and the graded in-plan replay."""
    spark = batch_df.sparkSession
    # feeds both the eager bounded collects and the returned lazy plan
    counts = staging.stage(
        batch_df.select(F.col(item_col).cast("string").alias("item"))
        .filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = _kth_threshold(counts, "c", k)
    tot = counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n")).collect()[0].n
    frag = counts.filter(F.col("c") > d).select(
        "item", (F.col("c") - F.lit(d)).cast("long").alias("c")
    )
    sentinel = spark.createDataFrame([(None, int(tot))], "item string, c long")
    return frag.unionByName(sentinel)


def heavy_hitters_writer(
    store_dir: str, item_col: str, k: int = MGG_K
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function: write batch N's fragment under its own
    ``__batch_id`` partition (dynamic overwrite -> replay-idempotent)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            mg_batch_fragment(batch_df, item_col, k)
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(store_dir)
        )
        # the write above is this batch's consuming action
        staging.release_staged()

    return apply_batch


def merge_fragments(frags: DataFrame, k: int = MGG_K) -> DataFrame:
    """Agarwal combine over fragment rows -> ``(item, est, n_total,
    err_bound)``: est is the lower bound, ``true <= est + err_bound``
    with ``err_bound = n_total DIV (k+1)`` (n_total from the sentinels).
    Works for ANY subset of batches — mergeability is the point."""
    # feeds both the bounded threshold collect and the returned lazy plan
    cand = staging.stage(
        frags.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("c").alias("s"))
    )
    d = _kth_threshold(cand, "s", k)
    n_total = frags.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_total")
    )
    return (
        cand.filter(F.col("s") > d)
        .crossJoin(F.broadcast(n_total))
        .select(
            "item",
            (F.col("s") - F.lit(d)).cast("long").alias("est"),
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
    (``id % n_batches`` — the replay convention), build each batch's
    fragment with the same pure function the writer uses, and merge.
    No side effects; byte-equal to writing fragments and reading them
    back (pytest pins that round-trip)."""
    frags = None
    for b in range(n_batches):
        f = mg_batch_fragment(
            events.filter(F.col(id_col) % n_batches == b), item_col, k
        )
        frags = f if frags is None else frags.unionByName(f)
    return merge_fragments(frags, k)
