"""Table profiler — the ``ANALYZE TABLE``-style data-quality surface: one
row per profiled column with exact ``(n_rows, n_null, n_distinct,
min_value, max_value, top_value, top_value_n)``. The first thing a data
engineer runs against an unfamiliar 100 TB table, and the nightly
drift-watch a pipeline runs against its own outputs (null-rate spikes,
cardinality collapses, new dominant values).

Everything is EXACT and engine-replayable — the DuckDB oracle recomputes
the whole profile row-for-row (oracles/plans_sql.profile_parity_ctes;
graded as a parity fold on ``qa_warning_metrics``). The sketch twins for
approximate profiling at lower cost are in operators/sketches.py (HLL
for n_distinct, Misra-Gries for top values); this module is the exact
reference the sketches are banded against.

Scale shape (100 TB):

- one AGGREGATE pass over the table computes row count, per-column
  null counts and typed min/max for every column at once — map-side
  combinable, zero shuffle of data rows, one 1-row result reshaped to
  per-column rows with a metadata-sized explode;
- the distinct/top-value stats ride ONE melted ``(column, value)``
  groupBy — a single shuffle whose volume is the sum of per-column
  distinct counts after map-side combine (the same cost any exact
  ``count_distinct`` pays), followed by a per-column ``min_by``
  argmax, never a window over the value frame;
- choose the profiled columns: profiling an open-text column exactly
  is a deliberate decision (its distinct count is corpus-sized) — use
  the sketch twins there.

Determinism: ``top_value`` ties break by smallest value string, so the
profile is a pure function of table content. Values are stringified in
the output for schema uniformity; min/max are computed on the TYPED
column first (so ``9 < 10`` for numerics) and cast after.

Reference parity: no reference counterpart (the reference's closest
surface is the validators' completeness scoring,
``src/core/validators.py``); beyond-reference engine utility, same
family as the quality plans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import certificate


def profile_table(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact per-column profile: ``(column, n_rows, n_null, n_distinct,
    min_value, max_value, top_value, top_value_n)`` — one row per entry
    of ``cols``. ``n_distinct``/``top_*`` count non-null values (the
    ``count_distinct`` convention); a fully-null column profiles with
    ``n_distinct = 0`` and null min/max/top."""
    cols = list(cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    meta = (
        df.agg(*aggs)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col("__n").alias("n_rows"),
                            (F.col("__n") - F.col(f"__nn_{c}")).alias("n_null"),
                            F.col(f"__mn_{c}").alias("min_value"),
                            F.col(f"__mx_{c}").alias("max_value"),
                        )
                        for c in cols
                    ]
                )
            ).alias("m")
        )
        .select("m.*")
    )
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("string").alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("v").isNotNull())
    )
    vc = pairs.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt"))
    # argmax by (cnt DESC, v ASC) spelled as min_by over the inverted
    # struct — one aggregate, no window over the value frame
    stats = vc.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.min_by(
            "v", F.struct((-F.col("cnt")).alias("a"), F.col("v").alias("b"))
        ).alias("top_value"),
        F.max("cnt").cast("long").alias("top_value_n"),
    )
    return meta.join(F.broadcast(stats), "column", "left").select(
        "column",
        "n_rows",
        "n_null",
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
        "top_value",
        F.coalesce("top_value_n", F.lit(0)).cast("long").alias("top_value_n"),
    )


def profile_parity(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """1-row checksum frame over the FULL profile table — (n_prof_rows,
    prof_ck) covering every column's complete stat row. Rides a graded
    host (the zero-slot fold convention); the oracle recomputes the
    whole profile from scratch (plans_sql.profile_parity_ctes)."""
    z = F.lit("\x00")  # null sentinel (chr(0), the folds' convention)
    return certificate(
        profile_table(df, cols),
        "prof",
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        F.coalesce(F.col("min_value"), z),
        F.coalesce(F.col("max_value"), z),
        F.coalesce(F.col("top_value"), z),
        "top_value_n",
    )


# --- equi-depth histograms ----------------------------------------------------
#
# The second half of the ANALYZE surface: per numeric column, k-bucket
# equi-depth histograms (the selectivity-estimation statistic every
# cost-based optimizer keeps — DB2/Postgres "histogram bounds",
# Spark's own ANALYZE ... FOR COLUMNS equiheight histogram). Bucket
# EDGES are the exact interpolated j/k percentiles computed by the
# DISTRIBUTED two-phase rank (operators/ranking.exact_group_percentiles
# — value-identical to quantile_cont, never a per-column sort in one
# task); bucket MEMBERSHIP is "count of edges strictly below the
# value", so ties land deterministically and both engines agree
# bit-for-bit (the edge doubles are identical, so the comparisons are).

#: default bucket count — a power of two so every j/k percentile is an
#: exact dyadic literal (0.125, 0.25, ...) with no decimal-formatting
#: drift between the two engines' SQL renderings
HIST_K = 8


def profile_histogram(
    df: DataFrame, numeric_cols: Sequence[str], k: int = HIST_K
) -> DataFrame:
    """Equi-depth histogram per column: ``(col_name, bucket,
    hi_micros, n)`` — bucket 0..k-1, ``hi_micros`` the micros-rounded
    upper edge (NULL for the top bucket), ``n`` the exact member count.
    Only non-empty buckets emit rows (ties can starve a bucket; both
    engines apply the same rule).

    Scale shape: one melt projection (rows x |cols|), the two-phase
    percentile rank over the melted frame (no corpus-sized window —
    the ranking.py machinery), then ONE groupBy(col, bucket) count with
    the k-1 edge array broadcast. NULL values are excluded (the
    profiler's count_distinct convention)."""
    from .ranking import exact_group_percentiles

    cols = list(numeric_cols)
    ps = [j / k for j in range(1, k)]
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("double").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("m")
    ).select("m.col_name", "m.value").filter(F.col("value").isNotNull())
    edges = (
        exact_group_percentiles(melted, ["col_name"], "value", ps)
        .groupBy("col_name")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "value"))),
                lambda s: s["value"],
            ).alias("__es")
        )
    )
    binned = (
        melted.join(F.broadcast(edges), "col_name")
        .select(
            "col_name",
            F.size(
                F.filter(F.col("__es"), lambda e: F.col("value") > e)
            ).alias("bucket"),
            "__es",
        )
        .groupBy("col_name", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("__es").alias("__es"),
        )
    )
    return binned.select(
        "col_name",
        F.col("bucket").cast("int").alias("bucket"),
        F.when(
            F.col("bucket") < k - 1,
            F.round(
                F.element_at(F.col("__es"), F.col("bucket") + 1) * 1_000_000.0
            ).cast("long"),
        ).alias("hi_micros"),
        "n",
    )


def histogram_parity(
    df: DataFrame, numeric_cols: Sequence[str], k: int = HIST_K
) -> DataFrame:
    """1-row checksum frame over the FULL histogram — ``(n_hist_rows,
    hist_ck)``; the oracle recomputes edges with quantile_cont (proven
    bit-identical to the two-phase rank by the analytics_value_
    percentiles row) and replays membership + counts
    (plans_sql.histogram_parity_ctes)."""
    return certificate(
        profile_histogram(df, numeric_cols, k),
        "hist",
        "col_name",
        "bucket",
        F.coalesce(F.col("hi_micros"), F.lit(-1)),
        "n",
    )
