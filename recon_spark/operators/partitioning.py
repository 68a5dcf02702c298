"""Physical-layout operators for 100 TB operation: bucketed co-located
joins and salted skew joins.

Neither changes query semantics — they change WHERE rows live so the
expensive operators (the (plan_id, ssn) engine joins, the reconciliation
3-key join) stop paying shuffles:

- **Bucketing**: persist both join sides bucketed by the join key into the
  table catalog; Spark's bucketed scan then satisfies the join's
  distribution requirement and the SortMergeJoin runs with NO Exchange on
  either side. This is the "clean once, reconcile many times" deployment
  shape — the cleaners' output is written bucketed by match key, and every
  downstream engine run (daily audits, re-runs with different date
  filters) joins exchange-free.
- **Salting**: when a join key is pathologically hot (one plan with half
  the rows), appending a salt in [0, salt-1] to the big side and
  replicating the small side per salt value splits the hot partition into
  ``salt`` tasks. AQE's skew-join split handles most cases at runtime;
  explicit salting remains the tool for extreme single-key skew where
  even one split partition exceeds executor memory, and for
  non-AQE-eligible plans (e.g. some streaming joins).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int = 64,
    *,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a catalog table bucketed (and optionally sorted)
    by ``keys``. Joins between tables bucketed by the same keys and bucket
    count require no Exchange; sorting additionally removes the Sort under
    a SortMergeJoin. ``path`` makes it an external table (data at ``path``
    instead of the warehouse dir)."""
    writer = df.write.mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", str(path))
    writer.saveAsTable(table)


def bucket_count(input_bytes: int, shuffle_partitions: int, min_partition_bytes: int) -> int:
    """Buckets for a table written from ``input_bytes`` of storage: one
    per ``min_partition_bytes``, at least one, at most
    ``shuffle_partitions``. With ``parallelismFirst`` on, AQE coalesces a
    shuffle toward pieces of ``coalescePartitions.minPartitionSize``, so
    passing that size gives a bucket the size AQE gives a shuffle
    partition."""
    return min(shuffle_partitions, max(1, math.ceil(input_bytes / min_partition_bytes)))


def storage_bytes(df: DataFrame) -> int:
    """Bytes on storage under ``df``'s file scans, each file set counted
    once, from the sizes its file indexes listed when ``df`` was built:
    no job starts. Not the optimizer's estimate for ``df``: a join it
    cannot bound is estimated as the product of its sides' sizes."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sizes = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            sizes[rel.location().rootPaths().toString()] = rel.sizeInBytes()
    return sum(sizes.values())


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys. With
    matching bucket specs the physical plan contains no Exchange (verify
    via ``explain``; see tests/test_partitioning.py)."""
    return spark.table(left_table).join(spark.table(right_table), list(keys), how)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join with key salting for extreme skew: the big side gets a
    random-ish (hash-derived, deterministic) salt in [0, salt); the small
    side is replicated ``salt`` times via an exploded literal range. The
    join key becomes (keys..., __salt), so a hot key's rows spread over
    ``salt`` partitions. Semantics are identical to the plain join as long
    as ``small`` has no duplicate keys (replication is per-salt, and each
    big-side row matches exactly its own salt replica).
    """
    keys = list(keys)
    # deterministic salt: hash of the full row's key tuple + a row-unique
    # component where available is unnecessary — spreading only needs the
    # BIG side rows of one key to scatter, so any per-row varying value
    # works; monotonically_increasing_id is partition-local and cheap.
    big_s = big.withColumn(
        "__salt", (F.abs(F.monotonically_increasing_id()) % salt).cast("int")
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return big_s.join(small_s, keys + ["__salt"], how).drop("__salt")
